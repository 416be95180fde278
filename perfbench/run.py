"""Daily-job benchmark: the production ``DependencyLinksJob`` on seeded spans.

    python3 perfbench/run.py --workload flat_day --seed 1 --seconds 10 --trace 0

Run from the repository root. Generates (or reuses) the workload's span table
and expected links under ``perfbench/.work``, then measures in fresh child
processes (``perfbench/session.py``), so every run pays a real JVM launch:

- ``--trace 0``: end-to-end metrics. ``SETUP_PROBES`` sessions only time
  ``get_spark``; one more times ``get_spark``, the cold first ``job.run()``
  and warm ``job.run()`` calls for ``--seconds``, with the process tree's
  CPU and peak RSS read from ``/proc``.
- ``--trace 1``: per-layer metrics. An untraced session as above with one
  warm run, a session with Spark's event log on that also times each
  cumulative layer prefix of the job, and the in-process linker
  microbenchmark.

Every job run's day partition is compared with the expected links (and, for
multi-day stores, the other partitions must stay byte-identical). The last
line of standard output is the JSON result; the line before it is context
(sample counts, machine steal share, data sizes).
"""

from __future__ import annotations

import argparse
import ctypes
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, "perfbench", ".work")
PROGRAM = os.path.join(ROOT, "zipkin_dependencies_spark", "plans", "job.py")

SETUP_PROBES = 2            # plus the measuring session: three set-up samples
MIN_WARM = 1                # warm job runs per end-to-end run, at least
RUN_BUDGET_S = 170          # a run must end within 180 s
KEEP_DATASETS = 6           # generated datasets kept in the cache
MAX_CPUS = 4
REAP_WAIT_S = 30           # SIGKILL ends a process unless it is stuck in the kernel
PR_SET_CHILD_SUBREAPER = 36

#: layer prefix (session.layer_prefixes, in job order) → its self-time metric
SELF_TIME_NAMES = {
    "sources": "sources.scan_s", "functions": "functions.normalize_s",
    "operators.dedup": "operators.dedup.s", "operators.link": "operators.link.s",
    "operators.aggregate": "operators.aggregate.s", "sinks": "sinks.write_s",
}

#: metric → (unit, which direction is better); BENCHMARK.json mirrors these
END_TO_END = {
    "setup_s": ("s", "lower"), "first_job_s": ("s", "lower"), "job_s": ("s", "lower"),
    "spans_per_s": ("spans/s", "higher"), "job_cpu_s": ("core-s", "lower"),
    "peak_rss_mb": ("MB", "lower"), "ok_share": ("ratio", "higher"),
}
PER_LAYER = {
    "sources.scan_s": ("s", "lower"),
    "sources.rows_read": ("count", "lower"),
    "sources.bytes_read": ("bytes", "lower"),
    "functions.normalize_s": ("s", "lower"),
    "operators.dedup.s": ("s", "lower"),
    "operators.dedup.shuffle_bytes": ("bytes", "lower"),
    "operators.dedup.rows_out_ratio": ("ratio", "lower"),
    "operators.link.s": ("s", "lower"),
    "operators.link.shuffle_bytes": ("bytes", "lower"),
    "operators.link.shuffle_records": ("count", "lower"),
    "operators.link.sort_s": ("s", "lower"),
    "operators.link.sort_peak_mb": ("MB", "lower"),
    "operators.link.spill_bytes": ("bytes", "lower"),
    "operators.link.python_s": ("s", "lower"),
    "operators.link.python_init_s": ("s", "lower"),
    "operators.link.bytes_to_python": ("bytes", "lower"),
    "operators.link.rows_out": ("count", "lower"),
    "operators.link.task_max_over_median": ("ratio", "lower"),
    "operators.link.udf_us_per_span": ("us/span", "lower"),
    "linker.us_per_span": ("us/span", "lower"),
    "linker.depth_scaling": ("ratio", "lower"),
    "linker.traces_linked_ratio": ("ratio", "higher"),
    "operators.aggregate.s": ("s", "lower"),
    "operators.aggregate.shuffle_bytes": ("bytes", "lower"),
    "operators.aggregate.rows_in": ("count", "lower"),
    "operators.aggregate.rows_out": ("count", "lower"),
    "sinks.write_s": ("s", "lower"),
    "sinks.files_written": ("count", "lower"),
    "sinks.bytes_written": ("bytes", "lower"),
    "spark.jobs": ("count", "lower"),
    "spark.stages": ("count", "lower"),
    "spark.tasks": ("count", "lower"),
    "spark.exchanges": ("count", "lower"),
    "spark.executor_run_s": ("s", "lower"),
    "spark.executor_cpu_s": ("s", "lower"),
    "spark.gc_s": ("s", "lower"),
    "spark.peak_concurrent_tasks": ("count", "higher"),
    "spark.default_parallelism": ("count", "higher"),
    "spark.core_utilization": ("ratio", "higher"),
    "tracing_overhead_s": ("s", "lower"),
    "layer_gap_s": ("s", "lower"),
}


class RunFailed(Exception):
    pass


def _adopt_orphans() -> None:
    """Make this process the child subreaper (Linux ``prctl``): a killed
    session's JVM, and PySpark's worker daemon (which leaves the session's
    process group for one of its own), then stay below this process, where
    ``_reap`` finds them and waits for them."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER) failed")


def _reap(proc: subprocess.Popen) -> None:
    """Kill what is left of a session (its JVM, the Python daemon and its
    workers) and wait until every process below this one has ended."""
    from perfbench import procstat

    proc.kill()
    proc.wait()
    give_up = time.monotonic() + REAP_WAIT_S
    while (left := procstat.descendants(os.getpid())) and time.monotonic() < give_up:
        for pid in left:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        try:
            while os.waitpid(-1, os.WNOHANG)[0] > 0:
                pass
        except ChildProcessError:  # none of them is a child (yet)
            pass
        time.sleep(0.05)
    if left:
        print(f"warning: processes {left} outlived SIGKILL", file=sys.stderr)


def child(args: list[str], env: dict, run_dir: str, deadline: float) -> dict:
    """Run ``perfbench.session`` with ``args``; return its JSON result."""
    log = os.path.join(run_dir, "session.log")
    out = os.path.join(run_dir, "session.json")
    if os.path.exists(out):
        os.remove(out)
    with open(log, "ab") as sink:
        proc = subprocess.Popen(
            [sys.executable, "-m", "perfbench.session", out, *args], cwd=ROOT, env=env,
            stdout=sink, stderr=sink, start_new_session=True,
        )
        try:
            proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            raise RunFailed(f"session {args[0]} ran past the run budget; see {log}")
        finally:
            _reap(proc)
    if proc.returncode != 0 or not os.path.exists(out):
        with open(log, "rb") as f:
            tail = f.read()[-2000:].decode(errors="replace")
        raise RunFailed(f"session {args[0]} exited {proc.returncode}:\n{tail}")
    with open(out) as f:
        return json.load(f)


def child_env(work: str) -> dict:
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.update({
        "PYTHONPATH": ROOT,                       # the Python workers import the program
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_GRAFT_CPUS": str(min(MAX_CPUS, len(os.sched_getaffinity(0)))),
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": tmp,
        # keep the JVMs' temporary files inside the checkout
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })
    env.pop("SPARK_MASTER", None)
    return env


def _median(samples: list[float], what: str) -> float:
    ok = [s for s in samples if s == s]
    if not ok:
        raise RunFailed(f"no successful {what} sample")
    return statistics.median(ok)


def _evict(data_root: str, keep: str) -> None:
    entries = [os.path.join(data_root, e) for e in os.listdir(data_root)]
    entries = sorted((e for e in entries if e != keep), key=os.path.getmtime, reverse=True)
    for stale in entries[KEEP_DATASETS - 1:]:
        shutil.rmtree(stale, ignore_errors=True)


def end_to_end(data: str, links: str, seconds: float, env: dict, run_dir: str,
               deadline: float, spans: int) -> tuple[dict, dict]:
    setups = [child(["setup"], env, run_dir, deadline)["setup_s"] for _ in range(SETUP_PROBES)]
    main = child(["job", data, links, str(seconds), str(MIN_WARM)], env, run_dir, deadline)
    setups.append(main["setup_s"])
    job_s = _median(main["job_s"], "warm job")
    attempted = main["attempted"]
    metrics = {
        "setup_s": statistics.median(setups),
        "first_job_s": _median([main["first_job_s"]], "first job"),
        "job_s": job_s,
        "spans_per_s": spans / job_s,
        "job_cpu_s": _median(main["job_cpu_s"], "job CPU"),
        "peak_rss_mb": main["peak_rss_mb"],
        "ok_share": (attempted - main["failed"]) / attempted,
    }
    context = {
        "setup_samples": setups, "warm_samples": len(main["job_s"]),
        "job_samples": main["job_s"], "steal_share": main["steal_share"],
        "default_parallelism": main["default_parallelism"], "errors": main["errors"],
    }
    return metrics, {"attempted": attempted, "failed": main["failed"], "context": context}


def per_layer(data: str, links: str, env: dict, run_dir: str, deadline: float,
              day: str, seed: int) -> tuple[dict, dict]:
    import pyarrow.parquet as pq

    from perfbench import micro

    untraced = child(["job", data, links, "0", "1"], env, run_dir, deadline)
    traced = child(["traced", data, links, os.path.join(run_dir, "eventlog")],
                   env, run_dir, deadline)
    metrics: dict[str, float] = {}
    previous = 0.0
    for layer, cumulative in traced["prefix_s"].items():
        metrics[SELF_TIME_NAMES[layer]] = cumulative - previous
        previous = cumulative
    metrics.update(traced["eventlog"])
    metrics.update(micro.run(pq.read_table(os.path.join(data, "spans")), day, seed))
    traced_job_s = _median([traced["traced_job_s"]], "traced job")
    metrics["tracing_overhead_s"] = traced_job_s - _median(untraced["job_s"], "untraced job")
    metrics["layer_gap_s"] = traced_job_s - previous
    attempted = untraced["attempted"] + traced["attempted"]
    failed = untraced["failed"] + traced["failed"]
    context = {"errors": untraced["errors"] + traced["errors"],
               "prefix_s": traced["prefix_s"], "traced_job_s": traced_job_s,
               "untraced_job_s": untraced["job_s"]}
    return metrics, {"attempted": attempted, "failed": failed, "context": context}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=4)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="shrink the workload (smoke tests); 1 is the benchmark size")
    args = ap.parse_args(argv)
    # a terminated run still reaps its sessions (child()'s finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    _adopt_orphans()
    if not os.path.isfile(PROGRAM):
        print(f"the program is missing: {PROGRAM} not found", file=sys.stderr)
        return 2
    started = time.monotonic()
    deadline = started + RUN_BUDGET_S
    sys.path.insert(0, ROOT)
    from perfbench import gen

    if args.workload not in gen.WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(gen.WORKLOADS)}",
              file=sys.stderr)
        return 2
    data_root = os.path.join(WORK, "data")
    os.makedirs(data_root, exist_ok=True)
    data = gen.write_dataset(args.workload, args.seed, data_root, args.scale)
    os.utime(data)
    _evict(data_root, data)
    with open(os.path.join(data, "expected.json")) as f:
        meta = json.load(f)
    run_dir = os.path.join(WORK, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    links = os.path.join(run_dir, "links")
    if os.path.isdir(os.path.join(data, "links_seed")):
        shutil.copytree(os.path.join(data, "links_seed"), links)
    env = child_env(os.path.join(run_dir, "spark"))
    try:
        if args.trace:
            metrics, status = per_layer(data, links, env, run_dir, deadline, meta["day"], args.seed)
        else:
            metrics, status = end_to_end(data, links, args.seconds, env, run_dir, deadline,
                                         meta["meta"]["spans"])
    except RunFailed as e:
        print(f"run failed: {e}", file=sys.stderr)
        return 1
    finally:
        # killed sessions leave their scratch directories behind
        shutil.rmtree(os.path.join(run_dir, "spark"), ignore_errors=True)
    shutil.rmtree(run_dir, ignore_errors=True)
    units = PER_LAYER if args.trace else END_TO_END
    unmeasured = [k for k in units if not math.isfinite(metrics[k])]
    if unmeasured:
        print(f"run failed: no value for {unmeasured}; {status['context']['errors']}",
              file=sys.stderr)
        return 1
    context = {**status.pop("context"), **meta["meta"],
               "elapsed_s": time.monotonic() - started}
    print(json.dumps({"context": context}))
    print(json.dumps({
        "correct": status["failed"] == 0,
        **status,
        "metrics": {k: {"value": metrics[k], "unit": unit} for k, (unit, _) in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
