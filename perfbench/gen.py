"""Seeded span-table generator for the daily-job benchmark.

Every workload is built from trace templates whose dependency links are known
by construction under the linker contract (SURVEY §2.6), so the generator
writes the expected ``(parent, child, call_count, error_count)`` table beside
the spans and the benchmark can check the job's output exactly.

Templates (all vectorised with numpy; one process, no Spark):

- ``rpc``: a root SERVER span with CLIENT → SERVER pairs under it (shared-id
  or child-id style, the server's remote name set or left for the linker to
  infer), uninstrumented CLIENT leaves to databases and purely local spans.
  A pair links ``caller → callee``, errored when either half carries the
  ``error`` tag; a leaf links ``service → db``. The root links nothing.
- ``deep``: a root SERVER span over a long chain of purely local spans (no
  kind, no remote) with CLIENT and PRODUCER leaves hanging off the chain and
  a CONSUMER child under each PRODUCER. A CLIENT leaf links
  ``service → remote`` after the linker walks up the whole chain; a PRODUCER
  links ``service → broker``; its CONSUMER links ``broker → consumer``.

Exact duplicate reports of about 2% of the spans are appended; they change
no link. Row order is shuffled so the job's trace shuffle does real work.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: bump when the generated data changes, so cached datasets are rebuilt
GEN_VERSION = 3

#: Giant traces take their ids from this base, not from the seed. Where a
#: giant lands among the trace shuffle's partitions (and whether two share
#: one) sets ``skewed_day``'s wall time, so seed-drawn ids made run-to-run
#: spread a draw of placements; the seed still varies every other trace.
GIANT_ID_BASE = 1 << 62

DAY = dt.date(2024, 3, 13)          # the day the job links
DAY_US = 86_400_000_000
EPOCH = dt.date(1970, 1, 1)

N_SERVICES = 60
SERVICES = [f"svc-{i:02d}" for i in range(N_SERVICES)]
DATABASES = [f"db-{i}" for i in range(8)]
BROKERS = [f"kafka-{i}" for i in range(3)]
CONSUMERS = [f"worker-{i:02d}" for i in range(12)]
NAMES = SERVICES + DATABASES + BROKERS + CONSUMERS
_SVC0, _DB0 = 0, N_SERVICES
_BROKER0 = _DB0 + len(DATABASES)
_CONSUMER0 = _BROKER0 + len(BROKERS)
OP_NAMES = ["get /api", "post /api", "select", "publish", "consume", "local"]

KIND_NAMES = [None, "CLIENT", "SERVER", "PRODUCER", "CONSUMER"]
NONE, CLIENT, SERVER, PRODUCER, CONSUMER = range(5)

ERROR_RATE = 0.03
DUPLICATE_RATE = 0.02
FILES = 8

#: workload → its mix of templates. Sizes are in spans before duplicates;
#: a giant trace has about 2.15 spans per pair.
WORKLOADS = {
    "flat_day": dict(rpc_spans=60_000),
    "deep_day": dict(deep_traces=30, deep_chain=1000, deep_leaves=500),
    "skewed_day": dict(rpc_spans=20_000, zipf=True, giants=3, giant_pairs=14_000),
    "week_store": dict(rpc_spans=63_000, days=7),
}


def day_start_us(day: dt.date) -> int:
    return (day - EPOCH).days * DAY_US


def _splitmix64(x: np.ndarray) -> np.ndarray:
    """Bijective 64-bit mix: distinct inputs give distinct ids."""
    with np.errstate(over="ignore"):
        z = x.astype(np.uint64) + np.uint64(0x9E3779B97F4A7C15)
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return z ^ (z >> np.uint64(31))


_HEX = np.frombuffer(b"0123456789abcdef", dtype=np.uint8)


def hex16(ids: np.ndarray, valid: np.ndarray | None = None) -> pa.Array:
    """uint64 ids → 16-char lowercase hex strings, without a Python loop."""
    n = len(ids)
    raw = ids.astype(">u8").view(np.uint8).reshape(n, 8)
    nib = np.empty((n, 16), dtype=np.uint8)
    nib[:, 0::2] = raw >> 4
    nib[:, 1::2] = raw & 15
    data = _HEX[nib].tobytes()
    offsets = np.arange(0, 16 * (n + 1), 16, dtype=np.int32)
    validity = None
    if valid is not None:
        validity = pa.array(valid, type=pa.bool_()).buffers()[1]
    return pa.StringArray.from_buffers(n, pa.py_buffer(offsets), pa.py_buffer(data), validity)


class _Spans:
    """Column lists one template appends to; concatenated at the end."""

    def __init__(self) -> None:
        self.cols: dict[str, list[np.ndarray]] = {
            k: [] for k in ("trace", "uid", "parent_uid", "kind", "local", "remote",
                            "shared", "error", "ts", "op")
        }
        self.links: list[np.ndarray] = []   # rows of (trace, parent, child, error)

    def add(self, **cols: np.ndarray) -> None:
        n = len(cols["uid"])
        for k, lst in self.cols.items():
            v = cols.get(k)
            if v is None:
                v = np.zeros(n, dtype=bool) if k in ("shared", "error") else np.full(n, -1)
            lst.append(np.asarray(v))

    def link(self, trace, parent, child, error) -> None:
        self.links.append(np.stack([trace, parent, child, error.astype(np.int64)], axis=1))

    def concat(self) -> dict[str, np.ndarray]:
        return {k: np.concatenate(v) for k, v in self.cols.items()}


class _Uids:
    def __init__(self) -> None:
        self.next = 0

    def take(self, n: int) -> np.ndarray:
        out = np.arange(self.next, self.next + n, dtype=np.int64)
        self.next += n
        return out


def _errors(rng: np.random.Generator, n: int) -> np.ndarray:
    return rng.random(n) < ERROR_RATE


def _rpc_traces(
    rng: np.random.Generator, out: _Spans, uids: _Uids, traces: np.ndarray,
    trace_ts: np.ndarray, pairs: np.ndarray, leaves: np.ndarray,
    locals_: np.ndarray, fanout_cap: int,
) -> None:
    """Add one rpc-template trace per entry of ``traces`` (trace numbers),
    rooted at ``trace_ts``, with ``pairs`` RPC pairs, ``leaves`` database
    calls and ``locals_`` local spans each."""
    nt = len(traces)
    # server nodes: root (index 0 within its trace) + one per pair
    n_srv = pairs + 1
    srv_off = np.concatenate([[0], np.cumsum(n_srv)[:-1]])
    n_srv_all = int(n_srv.sum())
    srv_trace = np.repeat(np.arange(nt), n_srv)
    srv_j = np.arange(n_srv_all) - np.repeat(srv_off, n_srv)     # 0 = root
    srv_svc = _SVC0 + rng.integers(0, N_SERVICES, n_srv_all)
    srv_uid = uids.take(n_srv_all)            # server span id (or shared id)
    # pair j (server index j ≥ 1) hangs under server p < j; capping p keeps
    # giant traces wide and shallow
    is_pair = srv_j > 0
    p_local = np.zeros(n_srv_all, dtype=np.int64)
    p_local[is_pair] = np.floor(
        rng.random(int(is_pair.sum())) * np.minimum(srv_j[is_pair], fanout_cap)
    ).astype(np.int64)
    p_glob = np.repeat(srv_off, n_srv) + p_local
    # a server span's children name ``srv_uid`` as parent. Shared style: the
    # client reuses that id. Child style: the client has its own id, which
    # the server names as its parent.
    shared_style = rng.random(n_srv_all) < 0.8
    client_uid = uids.take(n_srv_all)
    ts = trace_ts[srv_trace]

    # root SERVER spans
    r = ~is_pair
    out.add(trace=traces[srv_trace[r]], uid=srv_uid[r], parent_uid=np.full(int(r.sum()), -1),
            kind=np.full(int(r.sum()), SERVER), local=srv_svc[r], ts=ts[r],
            error=_errors(rng, int(r.sum())), op=np.zeros(int(r.sum()), dtype=np.int64))
    # CLIENT halves
    q = is_pair
    nq = int(q.sum())
    caller = srv_svc[p_glob[q]]
    callee = srv_svc[q]
    c_err = _errors(rng, nq)
    s_err = _errors(rng, nq)
    c_uid = np.where(shared_style[q], srv_uid[q], client_uid[q])
    out.add(trace=traces[srv_trace[q]], uid=c_uid, parent_uid=srv_uid[p_glob[q]],
            kind=np.full(nq, CLIENT), local=caller, remote=callee, error=c_err,
            ts=ts[q] + 10, op=np.ones(nq, dtype=np.int64))
    # SERVER halves: shared style repeats the client's id and parent id
    s_parent = np.where(shared_style[q], srv_uid[p_glob[q]], c_uid)
    s_remote = np.where(rng.random(nq) < 0.5, caller, -1)
    out.add(trace=traces[srv_trace[q]], uid=srv_uid[q], parent_uid=s_parent,
            kind=np.full(nq, SERVER), local=callee, remote=s_remote,
            shared=shared_style[q], error=s_err, ts=ts[q] + 20,
            op=np.zeros(nq, dtype=np.int64))
    out.link(traces[srv_trace[q]], caller, callee, c_err | s_err)

    # uninstrumented database leaves and purely local spans under any server
    for count, kind in ((leaves, CLIENT), (locals_, NONE)):
        n = int(count.sum())
        if n == 0:
            continue
        t = np.repeat(np.arange(nt), count)
        host = srv_off[t] + np.floor(rng.random(n) * n_srv[t]).astype(np.int64)
        svc = srv_svc[host]
        err = _errors(rng, n)
        remote = _DB0 + rng.integers(0, len(DATABASES), n) if kind == CLIENT else np.full(n, -1)
        out.add(trace=traces[t], uid=uids.take(n), parent_uid=srv_uid[host],
                kind=np.full(n, kind), local=svc, remote=remote, error=err,
                ts=ts[host] + 30, op=np.full(n, 2 if kind == CLIENT else 5))
        if kind == CLIENT:
            out.link(traces[t], svc, remote, err)


def _deep_traces(
    rng: np.random.Generator, out: _Spans, uids: _Uids, traces: np.ndarray,
    ts: np.ndarray, chain: int, leaves: int,
) -> None:
    """Add one deep-template trace per entry of ``traces``, each of
    ``chain`` local spans and ``leaves`` leaves (a third of the leaves are
    PRODUCER+CONSUMER pairs)."""
    nt = len(traces)
    svc = _SVC0 + rng.integers(0, N_SERVICES, nt)
    # node 0 is the root SERVER, nodes 1..chain the local chain
    node_uid = uids.take(nt * (chain + 1)).reshape(nt, chain + 1)
    out.add(trace=traces, uid=node_uid[:, 0], parent_uid=np.full(nt, -1),
            kind=np.full(nt, SERVER), local=svc, ts=ts, error=_errors(rng, nt),
            op=np.zeros(nt, dtype=np.int64))
    n = nt * chain
    out.add(trace=np.repeat(traces, chain), uid=node_uid[:, 1:].ravel(),
            parent_uid=node_uid[:, :-1].ravel(), kind=np.full(n, NONE),
            local=np.repeat(svc, chain), ts=np.repeat(ts, chain) + 5,
            error=np.zeros(n, dtype=bool), op=np.full(n, 5))
    # leaves hang off a uniformly chosen chain node (or the root)
    n = nt * leaves
    t = np.repeat(np.arange(nt), leaves)
    host = rng.integers(0, chain + 1, n)
    host_uid = node_uid[t, host]
    producer = rng.random(n) < 1 / 3
    kind = np.where(producer, PRODUCER, CLIENT)
    remote = np.where(
        producer,
        _BROKER0 + rng.integers(0, len(BROKERS), n),
        np.where(rng.random(n) < 0.5, _DB0 + rng.integers(0, len(DATABASES), n),
                 _SVC0 + rng.integers(0, N_SERVICES, n)),
    )
    leaf_uid = uids.take(n)
    err = _errors(rng, n)
    out.add(trace=traces[t], uid=leaf_uid, parent_uid=host_uid, kind=kind,
            local=svc[t], remote=remote, error=err, ts=ts[t] + 40,
            op=np.where(producer, 3, 2))
    out.link(traces[t], svc[t], remote, err)
    # one CONSUMER under each PRODUCER leaf
    m = int(producer.sum())
    consumer = _CONSUMER0 + rng.integers(0, len(CONSUMERS), m)
    err = _errors(rng, m)
    out.add(trace=traces[t[producer]], uid=uids.take(m), parent_uid=leaf_uid[producer],
            kind=np.full(m, CONSUMER), local=consumer, remote=remote[producer],
            error=err, ts=ts[t[producer]] + 50, op=np.full(m, 4))
    out.link(traces[t[producer]], remote[producer], consumer, err)


def generate(workload: str, seed: int, scale: float = 1.0) -> tuple[pa.Table, dict]:
    """Build one workload's span table and its expected links.

    ``scale`` shrinks every template's size (tests use a tiny one). Returns
    the SPAN_SCHEMA-shaped table and ``{"day": iso, "expected": {day: rows},
    "meta": {...}}`` where rows are sorted ``[parent, child, calls, errors]``.
    """
    if workload not in WORKLOADS:
        raise ValueError(f"unknown workload {workload!r}; choose from {sorted(WORKLOADS)}")
    spec = WORKLOADS[workload]
    rng = np.random.default_rng([seed, GEN_VERSION, sorted(WORKLOADS).index(workload)])
    out, uids = _Spans(), _Uids()
    days = spec.get("days", 1)
    day0 = DAY - dt.timedelta(days=days // 2)

    # plan trace counts per template first, so timestamps are drawn once
    plans: list[tuple] = []
    n_traces = 0
    if "rpc_spans" in spec:
        target = max(4, int(spec["rpc_spans"] * scale))
        n = target // 2 + 1                     # more traces than can fit
        if spec.get("zipf"):
            pairs = np.minimum(rng.zipf(1.8, size=n), 400) - 1
        else:
            pairs = rng.integers(0, 8, size=n)
        leaves = rng.integers(0, 6, size=n)
        locals_ = rng.integers(0, 4, size=n)
        leaves[(pairs == 0) & (leaves == 0)] = 1        # at least two spans
        keep = max(1, int(np.searchsorted(np.cumsum(1 + 2 * pairs + leaves + locals_), target)))
        pairs, leaves, locals_ = pairs[:keep], leaves[:keep], locals_[:keep]
        plans.append(("rpc", pairs, leaves, locals_, 64))
        n_traces += len(pairs)
    giants = range(0)
    if spec.get("giants"):
        g = spec["giants"]
        giants = range(n_traces, n_traces + g)
        gp = max(2, int(spec["giant_pairs"] * scale))
        plans.append(("rpc", np.full(g, gp), np.full(g, gp // 10),
                      np.full(g, gp // 20), 32))
        n_traces += g
    if "deep_traces" in spec:
        nt = max(2, int(spec["deep_traces"] * scale))
        chain = max(4, int(spec["deep_chain"] * min(1.0, scale * 10)))
        leaves = max(3, int(spec["deep_leaves"] * min(1.0, scale * 10)))
        plans.append(("deep", nt, chain, leaves))
        n_traces += nt

    trace_day = rng.integers(0, days, n_traces)
    trace_ts = (
        day_start_us(day0)
        + trace_day * DAY_US
        + rng.integers(1_000_000, DAY_US - 60_000_000, n_traces)
    )
    t0 = 0
    for template, count, *args in plans:
        nt = count if template == "deep" else len(count)
        traces = np.arange(t0, t0 + nt)
        if template == "rpc":
            _rpc_traces(rng, out, uids, traces, trace_ts[traces], count, *args)
        else:
            _deep_traces(rng, out, uids, traces, trace_ts[traces], *args)
        t0 += nt

    cols = out.concat()
    n = len(cols["uid"])
    dup = np.flatnonzero(rng.random(n) < DUPLICATE_RATE)
    order = rng.permutation(np.concatenate([np.arange(n), dup]))
    cols = {k: v[order] for k, v in cols.items()}
    table = _to_arrow(cols, trace_day, day0, seed, giants)

    links = np.concatenate(out.links)
    expected = {}
    for d in range(days):
        day = day0 + dt.timedelta(days=d)
        rows = links[trace_day[links[:, 0]] == d]
        expected[day.isoformat()] = _sum_links(rows)
    meta = {
        "workload": workload, "seed": seed, "gen_version": GEN_VERSION, "scale": scale,
        "spans": table.num_rows, "duplicates": len(dup), "traces": n_traces,
        "traces_in_day": int((trace_day == days // 2).sum()),
        "links_in_day": len(expected[DAY.isoformat()]),
    }
    return table, {"day": DAY.isoformat(), "expected": expected, "meta": meta}


def deep_trace_table(chain: int, leaves: int, seed: int = 0) -> pa.Table:
    """One deep-template trace rooted in ``DAY`` (the depth-scaling probe)."""
    rng = np.random.default_rng([seed, GEN_VERSION, chain, leaves])
    out, uids = _Spans(), _Uids()
    ts = np.array([day_start_us(DAY) + 3_600_000_000])
    _deep_traces(rng, out, uids, np.arange(1), ts, chain, leaves)
    return _to_arrow(out.concat(), np.zeros(1, dtype=np.int64), DAY, seed)


def _sum_links(rows: np.ndarray) -> list[list]:
    if len(rows) == 0:
        return []
    keys, inv = np.unique(rows[:, 1:3], axis=0, return_inverse=True)
    inv = inv.ravel()
    calls = np.bincount(inv, minlength=len(keys))
    errors = np.bincount(inv, weights=rows[:, 3], minlength=len(keys)).astype(np.int64)
    return sorted(
        [NAMES[p], NAMES[c], int(n), int(e)] for (p, c), n, e in zip(keys, calls, errors)
    )


def _names(codes: np.ndarray) -> pa.Array:
    """Name codes (-1 = absent) → nullable strings via a dictionary."""
    valid = codes >= 0
    idx = pa.array(np.where(valid, codes, 0).astype(np.int32), mask=~valid)
    return pa.DictionaryArray.from_arrays(idx, pa.array(NAMES)).cast(pa.string())


def _endpoint(codes: np.ndarray) -> pa.Array:
    n = len(codes)
    null_s = pa.nulls(n, pa.string())
    return pa.StructArray.from_arrays(
        [_names(codes), null_s, null_s, pa.nulls(n, pa.int32())],
        names=["service_name", "ipv4", "ipv6", "port"],
        mask=pa.array(codes < 0),
    )


def _tags(error: np.ndarray, kind: np.ndarray) -> pa.Array:
    """Every span gets a ``component`` tag; errored spans add ``error``."""
    n = len(error)
    counts = 1 + error.astype(np.int32)
    offsets = np.concatenate([[0], np.cumsum(counts)]).astype(np.int32)
    m = int(offsets[-1])
    first = offsets[:-1]
    keys = np.full(m, "error", dtype=object)
    keys[first] = "component"
    vals = np.full(m, "500", dtype=object)
    vals[first] = np.where(kind == NONE, "local", "http")
    return pa.MapArray.from_arrays(pa.array(offsets), pa.array(keys, pa.string()),
                                   pa.array(vals, pa.string()))


def _to_arrow(cols: dict, trace_day: np.ndarray, day0: dt.date, seed: int,
              giants: range = range(0)) -> pa.Table:
    n = len(cols["uid"])
    salt = np.uint64(_splitmix64(np.array([seed]))[0])
    trace = cols["trace"].astype(np.uint64)
    with np.errstate(over="ignore"):
        keys = np.where((cols["trace"] >= giants.start) & (cols["trace"] < giants.stop),
                        np.uint64(GIANT_ID_BASE) + trace - np.uint64(giants.start),
                        trace ^ salt)
        trace_ids = _splitmix64(keys)
        span_ids = _splitmix64(cols["uid"].astype(np.uint64) + salt)
        parent_ids = _splitmix64(np.maximum(cols["parent_uid"], 0).astype(np.uint64) + salt)
    kind = cols["kind"]
    kind_idx = pa.array(np.maximum(kind - 1, 0).astype(np.int32), mask=kind == NONE)
    days = (np.datetime64(day0) + trace_day[cols["trace"]]).astype("datetime64[D]")
    shared = cols["shared"]
    return pa.table({
        "trace_id": hex16(trace_ids),
        "parent_id": hex16(parent_ids, valid=cols["parent_uid"] >= 0),
        "id": hex16(span_ids),
        "kind": pa.DictionaryArray.from_arrays(kind_idx, pa.array(KIND_NAMES[1:])).cast(pa.string()),
        "name": pa.DictionaryArray.from_arrays(
            pa.array(cols["op"].astype(np.int32)), pa.array(OP_NAMES)).cast(pa.string()),
        "timestamp": pa.array(cols["ts"], pa.int64()),
        "duration": pa.array((cols["uid"] % 997 + 1) * 13, pa.int64()),
        "local_endpoint": _endpoint(cols["local"]),
        "remote_endpoint": _endpoint(cols["remote"]),
        "annotations": pa.nulls(n, pa.list_(pa.struct([("timestamp", pa.int64()),
                                                         ("value", pa.string())]))),
        "tags": _tags(cols["error"], kind),
        "shared": pa.array(shared, mask=~shared),
        "debug": pa.nulls(n, pa.bool_()),
        "day": pa.array(days, pa.date32()),
    })


def write_dataset(workload: str, seed: int, root: str, scale: float = 1.0) -> str:
    """Generate into ``root/<workload>-s<seed>-x<scale>-<version>`` unless
    already there; returns that directory. The version covers
    ``GEN_VERSION`` and the workload's sizes. The directory holds ``spans/``
    (parquet), ``expected.json``, and for multi-day workloads
    ``links_seed/``: every day's links partition before the job runs."""
    spec = json.dumps([GEN_VERSION, WORKLOADS[workload]], sort_keys=True).encode()
    name = f"{workload}-s{seed}-x{scale:g}-{hashlib.sha256(spec).hexdigest()[:10]}"
    final = os.path.join(root, name)
    if os.path.exists(os.path.join(final, "expected.json")):
        return final
    tmp = final + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "spans"))
    table, expected = generate(workload, seed, scale)
    step = -(-table.num_rows // FILES)
    for i in range(FILES):
        part = table.slice(i * step, step)
        if part.num_rows:
            pq.write_table(part, os.path.join(tmp, "spans", f"part-{i:05d}.parquet"))
    if len(expected["expected"]) > 1:
        for day, rows in expected["expected"].items():
            d = os.path.join(tmp, "links_seed", f"day={day}")
            os.makedirs(d)
            pq.write_table(links_table(rows), os.path.join(d, "part-00000.parquet"))
    with open(os.path.join(tmp, "expected.json"), "w") as f:
        json.dump(expected, f)
    shutil.rmtree(final, ignore_errors=True)
    os.rename(tmp, final)
    return final


def links_table(rows: list[list]) -> pa.Table:
    cols = list(zip(*rows)) if rows else [[], [], [], []]
    return pa.table({
        "parent": pa.array(cols[0], pa.string()),
        "child": pa.array(cols[1], pa.string()),
        "call_count": pa.array(cols[2], pa.int64()),
        "error_count": pa.array(cols[3], pa.int64()),
    })
