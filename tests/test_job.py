"""End-to-end pipeline tests on in-memory fixtures (SURVEY §5 layer 2 analog)."""

from __future__ import annotations

import datetime as dt

import pytest

from tests.conftest import make_span
from zipkin_dependencies_spark.operators.day_filter import DayFilter
from zipkin_dependencies_spark.plans import DependencyLinksJob, JobConfig

DAY = dt.date(2016, 5, 31)
TS = 1_464_710_316_000_000  # within DAY
OTHER_DAY_TS = TS + 86_400_000_000 * 3


def run_links(spark, spans_df, **cfg_kwargs):
    cfg = JobConfig(day="2016-05-31", spans_path="<in-memory>", **cfg_kwargs)
    df = DependencyLinksJob(spark, cfg).links(spans=spans_df)
    return {
        (r.parent, r.child): (r.call_count, r.error_count) for r in df.collect()
    }


def test_end_to_end_instrumented_rpc(spark, spans_df_factory):
    spans = spans_df_factory(
        [
            make_span(id="1", kind="CLIENT", local="frontend",
                      tags={"http.path": "/"}),
            make_span(id="1", kind="SERVER", local="backend", remote="frontend",
                      shared=True, tags={"error": "500"}),
            make_span(id="2", parent_id="1", kind="CLIENT", local="backend",
                      remote="db"),
        ]
    )
    assert run_links(spark, spans) == {
        ("frontend", "backend"): (1, 1),
        ("backend", "db"): (1, 0),
    }


def test_lenient_trace_id_merges_128_and_64_bit(spark, spans_df_factory):
    long_id = "463ac35c9f6413ad" + "48485a3953bb6124"
    spans = spans_df_factory(
        [
            make_span(trace_id=long_id, id="1", kind="CLIENT", local="frontend"),
            make_span(trace_id="48485a3953bb6124", id="1", kind="SERVER",
                      local="backend", shared=True),
        ]
    )
    # lenient (default): one trace, one folded link
    assert run_links(spark, spans) == {("frontend", "backend"): (1, 0)}
    # strict: two separate traces; the client-only one links, the headless
    # shared server has no caller info
    assert run_links(spark, spans, strict_trace_id=True) == {}


def test_f2_trace_root_window_drops_out_of_day_trace(spark, spans_df_factory):
    spans = spans_df_factory(
        [
            make_span(trace_id="a" * 16, id="1", kind="CLIENT", local="a",
                      remote="b", timestamp=TS),
            make_span(trace_id="b" * 16, id="1", kind="CLIENT", local="c",
                      remote="d", timestamp=OTHER_DAY_TS),
            # headless trace passes the window regardless
            make_span(trace_id="c" * 16, id="2", parent_id="9", kind="CLIENT",
                      local="e", remote="f", timestamp=OTHER_DAY_TS),
        ]
    )
    assert run_links(spark, spans, day_filter=DayFilter.TRACE_ROOT) == {
        ("a", "b"): (1, 0),
        ("e", "f"): (1, 0),
    }


def test_f1_span_window_links_partial_traces(spark, spans_df_factory):
    spans = spans_df_factory(
        [
            make_span(trace_id="a" * 16, id="1", kind="CLIENT", local="a",
                      remote="b", timestamp=OTHER_DAY_TS),  # root outside
            make_span(trace_id="a" * 16, id="2", parent_id="1", kind="CLIENT",
                      local="b", remote="c", timestamp=TS),  # child inside
        ]
    )
    # F1: the in-window child still links (partial trace)
    assert run_links(spark, spans, day_filter=DayFilter.SPAN_WINDOW) == {
        ("b", "c"): (1, 0),
    }
    # F2: root out of window kills the whole trace
    assert run_links(spark, spans, day_filter=DayFilter.TRACE_ROOT) == {}


def test_f3_day_partition_pruning(spark, spans_df_factory):
    spans = spans_df_factory(
        [
            make_span(trace_id="a" * 16, id="1", kind="CLIENT", local="a",
                      remote="b", day=DAY),
            make_span(trace_id="b" * 16, id="1", kind="CLIENT", local="c",
                      remote="d", day=DAY + dt.timedelta(days=1)),
        ]
    )
    assert run_links(spark, spans, day_filter=DayFilter.DAY_PARTITION) == {
        ("a", "b"): (1, 0),
    }


def test_duplicate_spans_deduped(spark, spans_df_factory):
    row = make_span(id="1", kind="CLIENT", local="frontend", remote="backend")
    spans = spans_df_factory([row, row, row])
    assert run_links(spark, spans) == {("frontend", "backend"): (1, 0)}


def test_invalid_kind_dropped_not_fatal(spark, spans_df_factory):
    spans = spans_df_factory(
        [make_span(id="1", kind="BOGUS", local="frontend", remote="backend")]
    )
    # invalid kind → kind NULL; both endpoints present → treated as CLIENT
    assert run_links(spark, spans) == {("frontend", "backend"): (1, 0)}


def test_empty_input_yields_empty_output(spark, spans_df_factory):
    assert run_links(spark, spans_df_factory([])) == {}


def test_write_is_idempotent_per_day(spark, spans_df_factory, tmp_path):
    out = str(tmp_path / "links")
    spans = spans_df_factory(
        [make_span(id="1", kind="CLIENT", local="frontend", remote="backend")]
    )
    cfg = JobConfig(day="2016-05-31", spans_path="<mem>", links_path=out)
    job = DependencyLinksJob(spark, cfg)
    job.run(spans=spans)
    first = sorted(spark.read.parquet(out).collect())
    job.run(spans=spans)  # re-run same day: identical state, no duplication
    second = sorted(spark.read.parquet(out).collect())
    assert first == second
    assert [r.call_count for r in first] == [1]
    assert first[0].day == DAY


def test_multi_day_write_keeps_other_partitions(spark, spans_df_factory, tmp_path):
    out = str(tmp_path / "links")
    d1 = spans_df_factory(
        [make_span(id="1", kind="CLIENT", local="a", remote="b")]
    )
    next_day = make_span(id="1", kind="CLIENT", local="c", remote="d",
                         timestamp=TS + 86_400_000_000,
                         day=DAY + dt.timedelta(days=1))
    d2 = spans_df_factory([next_day])
    DependencyLinksJob(
        spark, JobConfig(day="2016-05-31", spans_path="<m>", links_path=out)
    ).run(spans=d1)
    DependencyLinksJob(
        spark, JobConfig(day="2016-06-01", spans_path="<m>", links_path=out)
    ).run(spans=d2)
    rows = {(str(r.day), r.parent, r.child) for r in spark.read.parquet(out).collect()}
    assert rows == {
        ("2016-05-31", "a", "b"),
        ("2016-06-01", "c", "d"),
    }


def test_grouped_and_partitioned_strategies_agree(spark):
    """The applyInPandas-per-trace cross-check path and the production
    sorted-stream path must produce identical links on the full sf0.001
    forest — the two implementations share only the pure-Python kernel."""
    from zipkin_dependencies_spark.functions import normalize_spans
    from zipkin_dependencies_spark.operators.aggregate import aggregate_links
    from zipkin_dependencies_spark.operators.link import links_from_spans, trace_links
    from zipkin_dependencies_spark.testdata import derived_spans

    norm = normalize_spans(derived_spans(spark, "/root/testdata/sf0.001"))
    grouped = {tuple(r) for r in aggregate_links(trace_links(norm)).collect()}
    partitioned = {tuple(r) for r in links_from_spans(norm).collect()}
    assert grouped == partitioned and len(grouped) > 0
