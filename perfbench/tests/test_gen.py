"""The generator is seeded and its expected links are what the linker says."""

from __future__ import annotations

import os

import pyarrow.parquet as pq
import pytest

from perfbench import gen, micro

SCALE = 0.02


@pytest.mark.parametrize("workload", sorted(gen.WORKLOADS))
def test_same_seed_same_data_other_seed_differs(workload):
    table, expected = gen.generate(workload, 5, SCALE)
    again, expected_again = gen.generate(workload, 5, SCALE)
    other, expected_other = gen.generate(workload, 6, SCALE)
    assert table.equals(again)
    assert expected == expected_again
    assert not table.equals(other)
    assert expected["expected"] != expected_other["expected"]


def test_giant_trace_ids_do_not_depend_on_the_seed():
    def giants(seed):
        sizes = gen.generate("skewed_day", seed, SCALE)[0].column("trace_id").value_counts()
        biggest = sorted(sizes.to_pylist(), key=lambda s: -s["counts"])
        return {s["values"] for s in biggest[:gen.WORKLOADS["skewed_day"]["giants"]]}

    assert giants(5) == giants(6)


@pytest.mark.parametrize("workload", sorted(gen.WORKLOADS))
def test_expected_links_equal_the_linker(workload):
    table, expected = gen.generate(workload, 9, SCALE)
    rows = expected["expected"][expected["day"]]
    assert rows, "the job's day must have links"
    assert micro.link_table(table, expected["day"]) == rows


def test_templates_cover_every_link_kind():
    """Errors, duplicates, both RPC styles, messaging and a multi-day store."""
    flat, _ = gen.generate("flat_day", 1, SCALE)
    deep, _ = gen.generate("deep_day", 1, SCALE)
    _, week = gen.generate("week_store", 1, SCALE)
    frame = micro.normalized_frame(flat)
    assert frame["is_error"].any()
    assert frame.duplicated().any()
    assert frame["shared"].any() and (~frame["shared"] & (frame["kind"] == "SERVER")).any()
    kinds = set(micro.normalized_frame(deep)["kind"].dropna())
    assert {"CLIENT", "PRODUCER", "CONSUMER", "SERVER"} <= kinds
    assert len(week["expected"]) == 7 and week["meta"]["traces_in_day"] < week["meta"]["traces"]


def test_write_dataset_caches_and_seeds_week_partitions(tmp_path):
    first = gen.write_dataset("week_store", 2, str(tmp_path), SCALE)
    stamp = os.path.getmtime(os.path.join(first, "expected.json"))
    assert gen.write_dataset("week_store", 2, str(tmp_path), SCALE) == first
    assert os.path.getmtime(os.path.join(first, "expected.json")) == stamp
    days = sorted(os.listdir(os.path.join(first, "links_seed")))
    assert len(days) == 7 and f"day={gen.DAY.isoformat()}" in days
    spans = pq.read_table(os.path.join(first, "spans"))
    assert spans.num_rows == gen.generate("week_store", 2, SCALE)[0].num_rows


def test_depth_probe_trace_is_one_deep_trace():
    table = gen.deep_trace_table(50, 20)
    traces = micro.traces(micro.normalized_frame(table))
    assert len(traces) == 1
    assert len(next(iter(traces.values()))) > 50 + 20
