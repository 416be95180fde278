"""``sorted_groups``: the one batch-boundary carry loop shared by the linker
and the path walker. Pure pandas — no Spark session — with batches far
smaller than Arrow's, so every boundary case is driven directly."""

from __future__ import annotations

import datetime as dt

import pandas as pd

from zipkin_dependencies_spark.operators.link import sorted_groups


def _ids(pdf: pd.DataFrame) -> list:
    return pdf["id"].tolist()


def _batches(keys: list, sizes: list[int], extra: dict | None = None):
    """Split one key-sorted stream (ids 0..n-1) into batches of ``sizes``."""
    frame = pd.DataFrame({"trace_key": keys, "id": list(range(len(keys))), **(extra or {})})
    assert sum(sizes) == len(frame)
    out, at = [], 0
    for n in sizes:
        out.append(frame.iloc[at : at + n].reset_index(drop=True))
        at += n
    return out


def _groups(batches, key_cols=("trace_key",)):
    return list(sorted_groups(batches, list(key_cols), _ids))


def test_group_straddles_three_batches():
    keys = ["a", "b", "b", "b", "b", "b", "c"]
    got = _groups(_batches(keys, [2, 2, 2, 1]))
    assert got == [(("a",), [0]), (("b",), [1, 2, 3, 4, 5]), (("c",), [6])]


def test_empty_batch_in_the_middle():
    keys = ["a", "a", "b", "b"]
    batches = _batches(keys, [1, 0, 1, 0, 2])
    assert _groups(batches) == [(("a",), [0, 1]), (("b",), [2, 3])]


def test_stream_that_is_one_group():
    keys = ["t"] * 5
    assert _groups(_batches(keys, [2, 2, 1])) == [(("t",), [0, 1, 2, 3, 4])]
    assert _groups(_batches(keys, [5])) == [(("t",), [0, 1, 2, 3, 4])]


def test_batch_boundary_on_a_key_change():
    keys = ["a", "a", "b", "b", "c"]
    got = _groups(_batches(keys, [2, 2, 1]))
    assert got == [(("a",), [0, 1]), (("b",), [2, 3]), (("c",), [4])]


def test_day_and_trace_key():
    d1, d2 = dt.date(2016, 5, 31), dt.date(2016, 6, 1)
    # the same trace_key on two days is two groups, whether the day changes
    # inside a batch or on a batch boundary
    keys = ["t1", "t1", "t1", "t2"]
    days = [d1, d1, d2, d2]
    want = [((d1, "t1"), [0, 1]), ((d2, "t1"), [2]), ((d2, "t2"), [3])]
    for sizes in ([4], [2, 1, 1]):
        batches = _batches(keys, sizes, {"day": days})
        assert _groups(batches, key_cols=("day", "trace_key")) == want


def test_no_batches_and_only_empty_batches():
    assert _groups([]) == []
    assert _groups(_batches([], [0, 0])) == []
