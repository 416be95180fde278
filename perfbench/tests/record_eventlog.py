"""Record the tiny event log that ``test_eventlog.py`` parses.

    python3 -m perfbench.tests.record_eventlog

Runs the daily job twice on a tiny generated ``flat_day`` table in a
two-core session (tagging the second run ``job-0``) and keeps only the
events and fields the parser reads, so the fixture stays small.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile

from zipkin_dependencies_spark.plans import DependencyLinksJob, JobConfig
from zipkin_dependencies_spark.session import get_spark

from perfbench import eventlog, gen

HERE = os.path.dirname(os.path.abspath(__file__))
FIXTURE = os.path.join(HERE, "data", "tiny_eventlog.jsonl")
META = os.path.join(HERE, "data", "tiny_eventlog_meta.json")
SCALE = 0.005
SEED = 3

_KEEP = {
    "SparkListenerJobStart", "SparkListenerStageCompleted", "SparkListenerTaskEnd",
}


def _plan(node: dict) -> dict:
    return {"nodeName": node["nodeName"], "metrics": node["metrics"],
            "children": [_plan(c) for c in node["children"]]}


def _trim(event: dict) -> dict | None:
    kind = event["Event"]
    if kind.startswith("org.apache.spark.sql.execution.ui."):
        for key in ("physicalPlanDescription", "modifiedConfigs", "details"):
            event.pop(key, None)
        if "sparkPlanInfo" in event:
            event["sparkPlanInfo"] = _plan(event["sparkPlanInfo"])
        return event
    if kind not in _KEEP:
        return None
    if kind == "SparkListenerJobStart":
        props = event.get("Properties") or {}
        event["Properties"] = {k: v for k, v in props.items()
                               if k in (eventlog.PHASE_PROPERTY, "spark.sql.execution.id")}
        event["Stage Infos"] = [{"Stage ID": s["Stage ID"]} for s in event["Stage Infos"]]
    if kind == "SparkListenerStageCompleted":
        event["Stage Info"] = {"Stage ID": event["Stage Info"]["Stage ID"]}
    if kind == "SparkListenerTaskEnd":
        info = event["Task Info"]
        event["Task Info"] = {
            "Launch Time": info["Launch Time"], "Finish Time": info["Finish Time"],
            "Accumulables": [a for a in info.get("Accumulables", [])
                             if not str(a.get("Name", "")).startswith("internal.")],
        }
        tm = event["Task Metrics"]
        event["Task Metrics"] = {k: tm[k] for k in (
            "Executor Deserialize Time", "Executor Run Time", "Executor CPU Time", "JVM GC Time")}
    return event


def main() -> None:
    work = tempfile.mkdtemp(prefix="perfbench-evlog-", dir=os.path.join(HERE, "data"))
    try:
        data = gen.write_dataset("flat_day", SEED, work, SCALE)
        logs = os.path.join(work, "logs")
        os.makedirs(logs)
        spark = get_spark(master="local[2]", shuffle_partitions=2, extra_conf={
            **eventlog.EVENT_LOG_CONF, "spark.eventLog.dir": "file://" + logs})
        app = spark.sparkContext.applicationId
        config = JobConfig(day=gen.DAY.isoformat(), spans_path=os.path.join(data, "spans"),
                           links_path=os.path.join(work, "links"))
        for phase in ("first", "job-0"):
            spark.sparkContext.setLocalProperty(eventlog.PHASE_PROPERTY, phase)
            DependencyLinksJob(spark, config).run()
        spark.stop()
        with open(FIXTURE, "w") as out:
            for event in eventlog.read(os.path.join(logs, app)):
                kept = _trim(event)
                if kept is not None:
                    out.write(json.dumps(kept) + "\n")
        with open(os.path.join(data, "expected.json")) as f:
            meta = json.load(f)["meta"]
        with open(META, "w") as f:
            json.dump({k: meta[k] for k in ("scale", "seed", "spans", "duplicates",
                                             "links_in_day")}, f)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
