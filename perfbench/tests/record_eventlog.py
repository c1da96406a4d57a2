"""Record ``data/eventlog_small.jsonl``, the event log the parser test reads.

    python3 perfbench/tests/record_eventlog.py      # from the repository root

Runs two tagged jobs (a 4-partition count, then a 3-partition
group-by into 2 shuffle partitions) and one untagged job on ``local[2]`` with a plain
(uncompressed, unrolled) event log, then keeps only the events and
fields the parser reads, so the recorded file stays small.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import tempfile

from pyspark.sql import SparkSession

HERE = os.path.dirname(os.path.abspath(__file__))
KEEP = {
    "SparkListenerJobStart", "SparkListenerJobEnd",
    "SparkListenerStageCompleted", "SparkListenerTaskEnd",
}
TASK_METRICS = (
    "Executor Run Time", "Executor CPU Time", "JVM GC Time",
    "Memory Bytes Spilled", "Disk Bytes Spilled", "Shuffle Read Metrics",
    "Shuffle Write Metrics", "Input Metrics", "Output Metrics",
)


def _prune(ev: dict) -> dict:
    kind = ev["Event"]
    if kind == "SparkListenerJobStart":
        group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
        return {
            "Event": kind, "Job ID": ev["Job ID"], "Submission Time": ev["Submission Time"],
            "Stage IDs": ev["Stage IDs"],
            "Properties": {"spark.jobGroup.id": group} if group else {},
        }
    if kind == "SparkListenerJobEnd":
        return {"Event": kind, "Job ID": ev["Job ID"], "Completion Time": ev["Completion Time"]}
    if kind == "SparkListenerStageCompleted":
        return {"Event": kind, "Stage Info": {"Stage ID": ev["Stage Info"]["Stage ID"]}}
    m = ev.get("Task Metrics") or {}
    return {"Event": kind, "Stage ID": ev["Stage ID"],
            "Task Metrics": {k: m[k] for k in TASK_METRICS if k in m}}


def main() -> None:
    os.makedirs(".perfbench", exist_ok=True)
    log_dir = tempfile.mkdtemp(prefix="eventlog-", dir=".perfbench")
    try:
        spark = (
            SparkSession.builder.master("local[2]").appName("eventlog-fixture")
            .config("spark.ui.enabled", "false")
            .config("spark.sql.adaptive.enabled", "false")
            .config("spark.sql.shuffle.partitions", "2")
            .config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", log_dir)
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
            .getOrCreate()
        )
        sc = spark.sparkContext
        sc.setJobGroup("op1:build", "count")
        spark.range(0, 1000, numPartitions=4).count()
        sc.setJobGroup("op2:exec", "group by")
        spark.range(0, 1000, numPartitions=3).selectExpr("id % 7 AS k").groupBy("k").count().collect()
        sc.setLocalProperty("spark.jobGroup.id", None)
        spark.range(0, 10, numPartitions=1).collect()
        spark.stop()
        (path,) = glob.glob(os.path.join(log_dir, "*"))
        with open(path) as src, open(os.path.join(HERE, "data", "eventlog_small.jsonl"), "w") as dst:
            for line in src:
                ev = json.loads(line)
                if ev.get("Event") in KEEP:
                    dst.write(json.dumps(_prune(ev)) + "\n")
    finally:
        shutil.rmtree(log_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
