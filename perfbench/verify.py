"""Checks of what the daily job wrote, read back with pyarrow (untimed)."""

from __future__ import annotations

import hashlib
import os

import pyarrow.parquet as pq


def partition_rows(links_path: str, day: str) -> list[list]:
    """One day partition as sorted ``[parent, child, calls, errors]`` rows,
    duplicates kept, so a stale file left beside the new one shows."""
    part = os.path.join(links_path, f"day={day}")
    files = sorted(
        os.path.join(part, f) for f in os.listdir(part)
        if f.endswith(".parquet") and not f.startswith((".", "_"))
    )
    rows = []
    for f in files:
        t = pq.read_table(f, columns=["parent", "child", "call_count", "error_count"])
        rows.extend(zip(*(t.column(i).to_pylist() for i in range(4))))
    return sorted(list(r) for r in rows)


def snapshot(links_path: str, skip_day: str) -> dict[str, str]:
    """sha256 of every file outside the ``skip_day`` partition."""
    out = {}
    if not os.path.isdir(links_path):
        return out
    for entry in sorted(os.listdir(links_path)):
        if entry == f"day={skip_day}" or not entry.startswith("day="):
            continue
        for name in sorted(os.listdir(os.path.join(links_path, entry))):
            path = os.path.join(links_path, entry, name)
            with open(path, "rb") as f:
                out[f"{entry}/{name}"] = hashlib.sha256(f.read()).hexdigest()
    return out


def check(links_path: str, day: str, expected: list[list], others: dict[str, str]) -> str | None:
    """None when the day partition equals ``expected`` and every other
    partition is byte-identical to ``others``; else what differs."""
    try:
        got = partition_rows(links_path, day)
    except OSError as e:
        return f"day partition unreadable: {e}"
    if got != expected:
        missing = [r for r in expected if r not in got][:3]
        extra = [r for r in got if r not in expected][:3]
        return f"links differ: {len(got)} rows vs {len(expected)} expected; missing {missing}, extra {extra}"
    if snapshot(links_path, day) != others:
        return "a partition other than the job's day changed"
    return None
