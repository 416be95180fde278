"""The per-trace linking operator — the one non-relational kernel (SURVEY §2.6).

Production path (``trace_links_partitioned``): repartition by trace_key →
``sortWithinPartitions`` → one ``mapInPandas`` pass per partition. The
sorted Arrow stream is cut into trace groups (``sorted_groups``, the MySQL
``DependencyLinkSpanIterator`` shape) and fed to one ``DependencyLinker``
per task, which doubles as the map-side combiner; the global A2
aggregation then sums. The per-trace ``groupBy(trace_key).applyInPandas``
mapping (``trace_links``) is kept as the reference cross-check.

Scale notes (100 TB):
- the trace_key repartition is THE big shuffle of the pipeline. Bucketed
  span storage on trace_key removes it entirely (``clustered=True``, G1
  parity — see plans/job.py notes).
- per-trace skew ("Heavy" scenario): one giant trace lands on one task. The
  kernel is O(n) in spans-per-trace with small constants (dict/deque), and
  holds only one trace's 8 narrow columns in memory at once — a 10⁷-span
  trace is ~1 GB of Python objects, survivable. ``isolate_heavy_over``
  places heavy traces alone; ``links_from_spans_two_phase`` splits giant
  traces across tasks.
"""

from __future__ import annotations

from typing import Iterable, Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession

from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..linker import DependencyLinker, Span, spans_from_columns, trace_in_day_window
from ..schemas import TRACE_LINKS_SCHEMA

#: heavy-trace detection scans a seeded sample of this share of the rows
HEAVY_SAMPLE_FRACTION = 0.05
HEAVY_SAMPLE_SEED = 11

_SPAN_COLS = (
    "parent_id", "id", "kind", "local_service", "remote_service", "shared",
    "is_error", "timestamp",
)


def _rows_to_spans(pdf: pd.DataFrame) -> list[Span]:
    return spans_from_columns(*(pdf[c].values for c in _SPAN_COLS))


def sorted_groups(
    batches: Iterable[pd.DataFrame], key_cols: list[str], to_rows
) -> Iterator[tuple[tuple, list]]:
    """Cut a key-sorted batch stream into complete groups ``(key, rows)``.

    ``to_rows(pdf)`` converts each batch once into a list of rows, which is
    sliced per group. A group straddling batch boundaries is carried until
    its key changes, so only one partial group is ever held. ``key`` is the
    tuple of the ``key_cols`` values."""
    import numpy as np

    carry_key: tuple | None = None
    carry: list = []
    for pdf in batches:
        n = len(pdf)
        if n == 0:
            continue
        keys = [pdf[c].to_numpy() for c in key_cols]
        # boundary where ANY key column changes between adjacent rows
        changed = keys[0][1:] != keys[0][:-1]
        for arr in keys[1:]:
            changed = changed | (arr[1:] != arr[:-1])
        rows = to_rows(pdf)
        starts = [0, *(np.flatnonzero(changed) + 1).tolist(), n]
        for s, e in zip(starts, starts[1:]):
            key = tuple(arr[s] for arr in keys)
            # adjacent groups of one batch differ, so only a batch's first
            # group can continue the carried one
            if s == 0 and key == carry_key:
                carry.extend(rows[s:e])
                continue
            if carry:
                yield carry_key, carry
            carry_key, carry = key, rows[s:e]
    if carry:
        yield carry_key, carry


def python_stage_partitions(spark: SparkSession) -> int:
    """Partition count for a repartition feeding a Python stage.

    AQE sizes post-shuffle partitions by BYTES, which under-parallelizes a
    Python-cost-bound stage (spans are narrow; per-byte cost is high). Floor
    at the cluster's core count so every core works."""
    return max(
        spark.sparkContext.defaultParallelism,
        int(spark.conf.get("spark.sql.shuffle.partitions", "200")),
    )


def heavy_keys(df: DataFrame, key_cols: list[str], over: int) -> DataFrame:
    """Group keys holding more than about ``over`` rows, found from a seeded
    sample rather than a span-scale ``groupBy().count()``.

    A key with n rows surfaces ~n·f sampled rows, so thresholding at
    ``over``·f/2 finds every genuinely heavy key with overwhelming
    probability while scanning only f of the table. Callers use the set for
    placement only: a missed heavy key still links correctly, just slower."""
    cutoff = max(1.0, over * HEAVY_SAMPLE_FRACTION / 2.0)
    return (
        df.sample(fraction=HEAVY_SAMPLE_FRACTION, seed=HEAVY_SAMPLE_SEED)
        .groupBy(*key_cols)
        .count()
        .filter(F.col("count") > cutoff)
        .drop("count")
    )


def make_trace_linker(window: tuple[int, int] | None = None):
    """Build the grouped-map function. ``window=(start_us, end_us)`` enables
    the F2 per-trace root-timestamp filter *inside* the kernel — zero extra
    shuffle, exactly where the reference applies it
    (cassandra3/.../SpansToDependencyLinks.java:36-42)."""

    def link_one_trace(pdf: pd.DataFrame) -> pd.DataFrame:
        spans = _rows_to_spans(pdf)
        if window is not None and not trace_in_day_window(spans, *window):
            return pd.DataFrame(columns=["parent", "child", "call_count", "error_count"])
        links = DependencyLinker().put_trace(spans).link()
        if not links:
            return pd.DataFrame(columns=["parent", "child", "call_count", "error_count"])
        return pd.DataFrame(links)[["parent", "child", "call_count", "error_count"]]

    return link_one_trace


def trace_links(normalized_spans: DataFrame, window: tuple[int, int] | None = None) -> DataFrame:
    """LINK_INPUT_SCHEMA rows → per-trace links (pre-aggregation).

    Reference strategy: one applyInPandas group per trace. Semantically the
    cleanest mapping, but each group pays a fixed Arrow/pandas round-trip —
    with millions of small traces that per-group overhead dominates. Kept as
    the cross-check implementation; the production path is
    ``trace_links_partitioned``."""
    return normalized_spans.groupBy("trace_key").applyInPandas(
        make_trace_linker(window), schema=TRACE_LINKS_SCHEMA
    )


def trace_links_partitioned(
    normalized_spans: DataFrame,
    window: tuple[int, int] | None = None,
    day_col: str | None = None,
    isolate_heavy_over: int | None = None,
    clustered: bool = False,
) -> DataFrame:
    """Scale path: repartition by trace_key + sortWithinPartitions, then one
    mapInPandas pass that walks each partition's sorted stream, cutting trace
    groups at key boundaries (the reference's MySQL sorted-iterator shape,
    mysql/.../DependencyLinkSpanIterator.java:25-56, done with a secondary
    sort instead of a peeking iterator).

    Why this wins at 100 TB:
    - ONE shuffle (same exchange the groupBy needs anyway), but the Python
      boundary is crossed once per *partition*, not once per *trace*:
      Arrow batches stream through, and only the partial trace at a batch
      boundary is carried over — O(batch) memory, not O(partition).
    - links are partially aggregated map-side into a dict before emission,
      so the final A2 exchange moves one row per distinct (parent, child)
      per partition — the reference's reduceByKey combiner, done one stage
      earlier than Catalyst's HashAggregate(partial) would.
    - skew: a giant trace still lands on one task (matching applyInPandas),
      but costs only its own O(n) linking, with no per-trace setup tax.

    With ``day_col`` set, the group key becomes (day, trace_key) and the
    output carries ``day`` — one job links every affected day (the streaming
    incremental mode and multi-day backfills use this instead of a per-day
    driver loop).

    ``clustered=True`` declares the input already hash-clustered on the
    group key (a bucketed span table, sources/bucketed.py): the repartition
    is skipped and the pipeline's one span-scale shuffle disappears — the
    G1 ``spanBy`` parity path. The caller owns the guarantee; a mis-declared
    input would split traces across tasks and under-link them.

    ``isolate_heavy_over=N`` adds skew routing (the reference's Heavy IT
    hazard, SURVEY §4: AQE skew splitting can't apply to stateful Python
    stages because one trace MUST stay whole): ``heavy_keys`` finds the
    traces above N spans from a sample, and each gets a dedicated routing
    key so the hash exchange places it alone instead of stacking it on top
    of a normal partition's worth of other traces. Light traces route by
    their own group key, so they spread exactly as without isolation.
    Linking a giant trace is still one task — O(n) with small constants —
    but it no longer makes stragglers of everyone hashed alongside it. The
    RESULT is placement-independent.

    ``isolate_heavy_over`` is incompatible with ``clustered=True``: routing
    requires a repartition, which would silently reintroduce the span-scale
    shuffle the clustered caller explicitly opted out of — that combination
    raises. Heavy traces in bucketed layouts are isolated at write time
    (bucket count / bucketing key choice), not per-job.
    """
    if clustered and isolate_heavy_over:
        raise ValueError(
            "isolate_heavy_over requires a repartition, but clustered=True "
            "declares a shuffle-free pre-bucketed input; re-bucket heavy "
            "traces at write time or drop one of the two options"
        )
    group_cols = ([day_col] if day_col else []) + ["trace_key"]
    # Secondary sort keys make the per-trace span ORDER deterministic. The
    # kernel's root election ("first parentless span", linker.py build_tree)
    # depends on arrival order; without these a multi-root trace could elect
    # a different root per run. Sorting by (id, shared) pins it to the
    # lowest span id — zero extra shuffle, the sort already exists.
    order_cols = [*group_cols, "id", "shared"]
    out_cols = ([day_col] if day_col else []) + [
        "parent", "child", "call_count", "error_count",
    ]
    schema = (
        TRACE_LINKS_SCHEMA
        if not day_col
        else T.StructType(
            [T.StructField(day_col, T.DateType()), *TRACE_LINKS_SCHEMA.fields]
        )
    )

    def link_partition(batches: Iterable[pd.DataFrame]):
        from ..worker_logging import init_worker_logging

        init_worker_logging()  # executor-side ZIPKIN_LOG_LEVEL bootstrap

        # one accumulator per (task, day) = the reference's per-task linker
        # (CassandraRowsToDependencyLinks) doubling as the map-side combiner
        linkers: dict = {}
        for gkey, spans in sorted_groups(batches, group_cols, _rows_to_spans):
            if window is not None and not trace_in_day_window(spans, *window):
                continue
            day = gkey[0] if day_col else None
            linkers.setdefault(day, DependencyLinker()).put_trace(spans)
        rows = [
            (
                (day, link["parent"], link["child"], link["call_count"], link["error_count"])
                if day_col
                else (link["parent"], link["child"], link["call_count"], link["error_count"])
            )
            for day, linker in linkers.items()
            for link in linker.link()
        ]
        yield pd.DataFrame(rows, columns=out_cols)

    if clustered:
        # bucketed input: complete traces per partition by construction;
        # only the in-partition sort (no exchange) remains
        return normalized_spans.sortWithinPartitions(*order_cols).mapInPandas(
            link_partition, schema=schema
        )
    num_partitions = python_stage_partitions(normalized_spans.sparkSession)
    if not isolate_heavy_over:
        return (
            normalized_spans.repartition(num_partitions, *group_cols)
            .sortWithinPartitions(*order_cols)
            .mapInPandas(link_partition, schema=schema)
        )
    # the heavy set is tiny (skew means FEW keys): broadcast it into a
    # routing column. A light trace routes by its group key, a heavy one by
    # "H:" + key, so each heavy trace hashes apart from the light ones.
    gk = F.concat_ws("|", *group_cols)
    heavy = heavy_keys(normalized_spans, group_cols, isolate_heavy_over).select(
        gk.alias("__gk"), F.lit(True).alias("__heavy")
    )
    return (
        normalized_spans.join(F.broadcast(heavy), gk == F.col("__gk"), "left_outer")
        .withColumn(
            "__route",
            F.when(F.col("__heavy"), F.concat(F.lit("H:"), gk)).otherwise(gk),
        )
        .drop("__gk", "__heavy")
        .repartition(num_partitions, "__route")
        .sortWithinPartitions(*order_cols)
        .drop("__route")
        .mapInPandas(link_partition, schema=schema)
    )


def links_from_spans(
    normalized_spans: DataFrame,
    window: tuple[int, int] | None = None,
    clustered: bool = False,
    isolate_heavy_over: int | None = None,
) -> DataFrame:
    """Full core: sorted-stream per-trace linking with map-side combine
    (``trace_links_partitioned``) + global A2 reduction. clustered=True:
    input is a bucketed span table; skip the grouping shuffle (G1 parity).
    isolate_heavy_over=N: route giant traces to dedicated partitions (skew
    isolation — must never change the result, only the placement)."""
    from .aggregate import aggregate_links

    return aggregate_links(
        trace_links_partitioned(
            normalized_spans,
            window,
            clustered=clustered,
            isolate_heavy_over=isolate_heavy_over,
        )
    )


def links_from_spans_two_phase(
    normalized_spans: DataFrame,
    giant_over: int = 100_000,
) -> DataFrame:
    """Two-phase linking for GIANT traces (SURVEY §4's one custom scale
    piece; the reference's Heavy IT hazard taken past what isolation fixes,
    ITCassandraDependenciesHeavy.java:17-31).

    ``isolate_heavy_over`` keeps a giant trace from straggling its
    neighbors, but the trace itself is still ONE task — a 10⁸-span trace is
    hours on one core. This operator splits the giant trace ACROSS tasks:

    - phase 1 (subtree phase): giant traces route to the pure-Catalyst
      relational linker (operators/link_relational.py) whose operations key
      on per-SPAN attributes — candidate explode + parent-resolution join,
      per-span kind matrix — so one trace's spans spread over the whole
      cluster; resolving each span's tree parent IS linking its one-hop
      subtree, and AQE's skew-join splitting absorbs hot parent keys
      (it applies here precisely because nothing is a stateful Python
      group). Giants the relational path can't own (dup span keys, deep or
      cyclic chains — eligibility E1-E4) fall back to the kernel, isolated.
    - phase 2 (merge phase): the per-span link emissions from both routes
      merge in the global (parent, child) aggregate — boundary spans need
      no special casing because every span's emission depends only on its
      resolved parent chain, which phase 1 materialized.

    Results are byte-equal to the kernel path on every input (the hybrid ==
    kernel contract is pinned by randomized cross-checks in
    tests/test_link_relational.py; the giant split by tests/test_skew.py).

    Giant discovery is ``heavy_keys`` (seeded sample; a missed giant still
    links correctly via the kernel, just slower — placement-only)."""
    from .aggregate import aggregate_links
    from .link_relational import links_from_spans_hybrid

    df = normalized_spans
    giants = heavy_keys(df, ["trace_key"], giant_over)

    # key-cardinality driver check (like the reference's isEmpty() actions,
    # F5): on the overwhelmingly common day with NO giant trace, skip the
    # relational branch entirely — its eligibility machinery costs several
    # materialization rounds that would all run on empty input
    if giants.isEmpty():
        return links_from_spans(df)

    tagged = df.join(
        F.broadcast(giants.withColumn("_giant", F.lit(True))),
        "trace_key",
        "left_outer",
    )
    giant_links = links_from_spans_hybrid(tagged.filter(F.col("_giant")).drop("_giant"))
    normal_links = links_from_spans(tagged.filter(F.col("_giant").isNull()).drop("_giant"))
    return aggregate_links(giant_links.unionByName(normal_links))
