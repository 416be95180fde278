"""One fresh Spark session of a benchmark run (a child process of ``run.py``).

    python3 -m perfbench.session OUT MODE DATA_DIR LINKS_DIR [SECONDS MIN_WARM | EVENT_LOG_DIR]

MODE is one of

- ``setup``: time ``get_spark`` (JVM launch included).
- ``job``: time ``get_spark``, the cold first ``job.run()``, then warm
  ``job.run()`` calls for SECONDS (at least MIN_WARM), each with the
  process tree's CPU; sample the tree's peak RSS throughout.
- ``traced``: a session with Spark's event log on: the first and one warm
  ``job.run()``, then each cumulative layer prefix of the job, timed; then
  the log is parsed.

Every job run is checked against the generator's expected links. The result
is one JSON object, written to the file OUT.
"""

from __future__ import annotations

import json
import os
import sys
import time

from pyspark.sql import functions as F

from zipkin_dependencies_spark.functions import day_window_micros, normalize_spans, utc_day
from zipkin_dependencies_spark.operators.aggregate import aggregate_links
from zipkin_dependencies_spark.operators.dedup import dedupe_spans
from zipkin_dependencies_spark.operators.link import trace_links_partitioned
from zipkin_dependencies_spark.plans import DependencyLinksJob, JobConfig
from zipkin_dependencies_spark.session import get_spark
from zipkin_dependencies_spark.sinks import write_links
from zipkin_dependencies_spark.sources import read_spans_parquet

from . import eventlog, procstat, verify


#: the span columns ``normalize_spans`` reads, so the ``sources`` prefix
#: scans what the job scans (column pruning) and nothing more
SCANNED_COLUMNS = [
    "trace_id", "parent_id", "id", "kind", "local_endpoint.service_name",
    "remote_endpoint.service_name", "shared", "tags", "timestamp",
]


class _Runner:
    """Runs the job and checks each run's output."""

    def __init__(self, spark, data_dir: str, links_dir: str) -> None:
        with open(os.path.join(data_dir, "expected.json")) as f:
            exp = json.load(f)
        self.spark = spark
        self.day = exp["day"]
        self.expected = exp["expected"][self.day]
        self.config = JobConfig(day=self.day, spans_path=os.path.join(data_dir, "spans"),
                                links_path=links_dir)
        self.others = verify.snapshot(links_dir, self.day)
        self.attempted = 0
        self.errors: list[str] = []

    def tag(self, phase: str) -> None:
        self.spark.sparkContext.setLocalProperty(eventlog.PHASE_PROPERTY, phase)

    def timed(self, action) -> float:
        """Run ``action`` (a job run or the sink prefix), check the written
        partition, and return its wall time (NaN when it failed)."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            action()
        except Exception as e:          # a failed run is counted, not fatal
            self.errors.append(f"{type(e).__name__}: {e}"[:500])
            return float("nan")
        elapsed = time.perf_counter() - t0
        problem = verify.check(self.config.links_path, self.day, self.expected, self.others)
        if problem:
            self.errors.append(problem)
        return elapsed

    def run_job(self) -> float:
        return self.timed(lambda: DependencyLinksJob(self.spark, self.config).run())

    def result(self) -> dict:
        return {"attempted": self.attempted, "failed": len(self.errors), "errors": self.errors[:5]}


def layer_prefixes(spark, config: JobConfig) -> list[tuple[str, object]]:
    """The job's layers as cumulative prefixes, in the order the job calls
    them (``plans/job.py`` with its defaults: TRACE_ROOT window, dedup on,
    not clustered). Each prefix but the last is forced with a ``noop``
    write; the last is the real day-partition write."""
    day = utc_day(config.day)
    window = day_window_micros(day)
    spans = read_spans_parquet(spark, config.spans_path)
    normalized = normalize_spans(spans, strict_trace_id=config.strict_trace_id)
    deduped = dedupe_spans(normalized)
    linked = trace_links_partitioned(deduped, window)
    links = aggregate_links(linked)

    def noop(df):
        return lambda: df.write.format("noop").mode("overwrite").save()

    return [
        ("sources", noop(spans.select(*[F.col(c) for c in SCANNED_COLUMNS]))),
        ("functions", noop(normalized)),
        ("operators.dedup", noop(deduped)),
        ("operators.link", noop(linked)),
        ("operators.aggregate", noop(links)),
        ("sinks", lambda: write_links(links, config.links_path, day)),
    ]


def run_setup() -> dict:
    t0 = time.perf_counter()
    get_spark()
    return {"setup_s": time.perf_counter() - t0}


def run_job(data_dir: str, links_dir: str, seconds: float, min_warm: int) -> dict:
    me = os.getpid()
    with procstat.Steal() as steal, procstat.PeakRss(me) as rss:
        t0 = time.perf_counter()
        spark = get_spark()
        setup_s = time.perf_counter() - t0
        spark.sparkContext.setLogLevel("ERROR")
        runner = _Runner(spark, data_dir, links_dir)
        first_s = runner.run_job()
        warm, cpu = [], []
        started = time.perf_counter()
        while len(warm) < min_warm or time.perf_counter() - started < seconds:
            c0 = procstat.tree_cpu_s(me)
            warm.append(runner.run_job())
            cpu.append(procstat.tree_cpu_s(me) - c0)
        parallelism = spark.sparkContext.defaultParallelism
    return {
        "setup_s": setup_s, "first_job_s": first_s, "job_s": warm, "job_cpu_s": cpu,
        "peak_rss_mb": rss.peak_bytes / 2**20, "steal_share": steal.share,
        "default_parallelism": parallelism, **runner.result(),
    }


def run_traced(data_dir: str, links_dir: str, log_dir: str) -> dict:
    os.makedirs(log_dir, exist_ok=True)
    spark = get_spark(extra_conf={**eventlog.EVENT_LOG_CONF,
                                  "spark.eventLog.dir": "file://" + os.path.abspath(log_dir)})
    spark.sparkContext.setLogLevel("ERROR")
    app_id = spark.sparkContext.applicationId
    parallelism = spark.sparkContext.defaultParallelism
    runner = _Runner(spark, data_dir, links_dir)
    runner.tag("first")
    runner.run_job()
    runner.tag("job")
    job_s = runner.run_job()
    # one pass: each prefix is a new plan, so each pays its codegen once,
    # as a job's first run does
    prefix: dict[str, float] = {}
    for layer, action in layer_prefixes(spark, runner.config):
        runner.tag(f"prefix-{layer}")
        if layer == "sinks":
            prefix[layer] = runner.timed(action)
        else:
            t0 = time.perf_counter()
            action()
            prefix[layer] = time.perf_counter() - t0
    spark.stop()                    # flushes the event log
    events = eventlog.read(os.path.join(log_dir, app_id))
    return {
        "traced_job_s": job_s,
        "prefix_s": prefix,
        "eventlog": eventlog.summarize(events, "job", parallelism),
        **runner.result(),
    }


def main(argv: list[str]) -> None:
    """Write the mode's result, then exit at once: ``run.py`` kills what is
    left of the session (its JVM), so no run pays for an orderly shutdown."""
    out_path, mode, *args = argv
    if mode == "setup":
        out = run_setup()
    elif mode == "job":
        out = run_job(args[0], args[1], float(args[2]), int(args[3]))
    elif mode == "traced":
        out = run_traced(args[0], args[1], args[2])
    else:
        raise SystemExit(f"unknown mode {mode!r}")
    with open(out_path, "w") as f:
        json.dump(out, f)
    sys.stdout.flush()
    sys.stderr.flush()
    os._exit(0)


if __name__ == "__main__":
    main(sys.argv[1:])
