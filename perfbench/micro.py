"""In-process microbenchmark of the pure-Python linker kernel.

Runs on a fixed, seeded sample of a workload's traces, without Spark:

- ``linker.us_per_span``: ``DependencyLinker().put_trace(spans).link()`` on
  prebuilt ``Span`` lists, per input span.
- ``operators.link.udf_us_per_span``: ``make_trace_linker(window)`` on one
  pandas frame per trace, per input span. The difference between the two is
  the row-to-``Span`` conversion and the frame round trip.
- ``linker.traces_linked_ratio``: sampled traces that pass the day window.
- ``linker.depth_scaling``: link time of a deep-template trace twice as deep
  (and with twice the leaves) over that of the base trace; 2 if linear.
"""

from __future__ import annotations

import statistics
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc

from zipkin_dependencies_spark.functions.time import day_window_micros
from zipkin_dependencies_spark.linker import DependencyLinker, Span, trace_in_day_window
from zipkin_dependencies_spark.operators.link import make_trace_linker

from . import gen

_KINDS = frozenset({"CLIENT", "SERVER", "PRODUCER", "CONSUMER"})
SAMPLE_SPANS = 8_000
DEPTH_BASE = 1_000          # chain length and leaf count of the base trace
REPEATS = 3


def normalized_frame(table: pa.Table) -> pd.DataFrame:
    """A generated SPAN_SCHEMA table in the linker's input shape, mirroring
    ``functions.normalize_spans`` for the values the generator emits (64-bit
    lowercase trace ids, valid kinds, no empty names)."""
    def service(col: str) -> list:
        return [e["service_name"] if e else None for e in table.column(col).to_pylist()]

    return pd.DataFrame({
        "trace_key": table.column("trace_id").to_pylist(),
        "parent_id": table.column("parent_id").to_pylist(),
        "id": table.column("id").to_pylist(),
        "kind": [k if k in _KINDS else None for k in table.column("kind").to_pylist()],
        "local_service": service("local_endpoint"),
        "remote_service": service("remote_endpoint"),
        "shared": [bool(s) for s in table.column("shared").to_pylist()],
        "is_error": [any(k == "error" for k, _ in t or []) for t in table.column("tags").to_pylist()],
        "timestamp": table.column("timestamp").to_pylist(),
    })


def traces(frame: pd.DataFrame) -> dict[str, list[Span]]:
    """trace key → its spans, sorted by (id, shared) as the job's sort does."""
    frame = frame.sort_values(["trace_key", "id", "shared"], kind="stable")
    out: dict[str, list[Span]] = {}
    for row in frame.itertuples(index=False):
        out.setdefault(row.trace_key, []).append(Span(
            trace_id=row.trace_key, parent_id=row.parent_id, id=row.id, kind=row.kind,
            local_service=row.local_service, remote_service=row.remote_service,
            shared=row.shared, is_error=row.is_error, timestamp=row.timestamp,
        ))
    return out


def link_table(table: pa.Table, day: str) -> list[list]:
    """The pure-Python linker's output for a whole generated table, as sorted
    ``[parent, child, calls, errors]`` rows (the generator's expected form)."""
    window = day_window_micros(day)
    linker = DependencyLinker()
    for spans in traces(normalized_frame(table)).values():
        if trace_in_day_window(spans, *window):
            linker.put_trace(spans)
    return sorted([l["parent"], l["child"], l["call_count"], l["error_count"]]
                  for l in linker.link())


def sample(table: pa.Table, seed: int, max_spans: int = SAMPLE_SPANS) -> pd.DataFrame:
    """A seeded sample of whole traces, at most about ``max_spans`` spans."""
    keys = pd.unique(table.column("trace_id").to_numpy(zero_copy_only=False))
    rng = np.random.default_rng([seed, 17])
    sizes = pd.Series(table.column("trace_id").to_numpy(zero_copy_only=False)).value_counts()
    chosen, total = [], 0
    for k in rng.permutation(keys):
        if total + sizes[k] > max_spans and chosen:
            continue
        chosen.append(k)
        total += sizes[k]
        if total >= max_spans:
            break
    mask = pc.is_in(table.column("trace_id"), value_set=pa.array(chosen))
    return normalized_frame(table.filter(mask))


def _time(fn, repeats: int = REPEATS) -> float:
    samples = []
    for _ in range(repeats):
        t0 = time.perf_counter()
        fn()
        samples.append(time.perf_counter() - t0)
    return statistics.median(samples)


def _deep_trace(chain: int, leaves: int) -> list[Span]:
    table = gen.deep_trace_table(chain, leaves)
    return next(iter(traces(normalized_frame(table)).values()))


def run(table: pa.Table, day: str, seed: int) -> dict[str, float]:
    frame = sample(table, seed)
    window = day_window_micros(day)
    by_trace = traces(frame)
    frames = [g for _, g in frame.groupby("trace_key", sort=True)]
    n_spans = len(frame)

    def link_all() -> None:
        for spans in by_trace.values():
            DependencyLinker().put_trace(spans).link()

    udf = make_trace_linker(window)

    def udf_all() -> None:
        for pdf in frames:
            udf(pdf)

    base = _deep_trace(DEPTH_BASE, DEPTH_BASE)
    double = _deep_trace(2 * DEPTH_BASE, 2 * DEPTH_BASE)
    linked = sum(trace_in_day_window(s, *window) for s in by_trace.values())
    return {
        "linker.us_per_span": _time(link_all) / n_spans * 1e6,
        "operators.link.udf_us_per_span": _time(udf_all) / n_spans * 1e6,
        "linker.traces_linked_ratio": linked / len(by_trace),
        "linker.depth_scaling": (
            _time(lambda: DependencyLinker().put_trace(double).link())
            / _time(lambda: DependencyLinker().put_trace(base).link())
        ),
    }
