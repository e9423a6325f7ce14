"""Regenerate ``data/small_eventlog.json``, the captured log that
``test_eventlog.py`` rolls up.

    python3 perfbench/tests/capture_eventlog.py

Runs two tagged job groups on ``local[2]`` with an uncompressed event
log, then keeps only the events the roll-up reads, trimmed to the
fields it reads (see ``_trim``), so the fixture carries no host, path
or environment. The expected counts in the test follow from the two
jobs below.
"""

from __future__ import annotations

import json
import tempfile
from pathlib import Path

from pyspark.sql import SparkSession

KEEP = {
    "SparkListenerJobStart",
    "SparkListenerJobEnd",
    "SparkListenerStageSubmitted",
    "SparkListenerStageCompleted",
    "SparkListenerTaskEnd",
}
OUT = Path(__file__).resolve().parent / "data" / "small_eventlog.json"
TASK_INFO_KEYS = {"Task ID", "Launch Time", "Finish Time", "Failed", "Killed"}


def _trim(ev: dict) -> dict:
    """Drop what the roll-up never reads: properties other than the job
    group, accumulables, hosts and executor-level metrics."""
    if "Properties" in ev:
        ev["Properties"] = {k: v for k, v in ev["Properties"].items() if k == "spark.jobGroup.id"}
    if "Stage Info" in ev:
        ev["Stage Info"] = {"Stage ID": ev["Stage Info"]["Stage ID"]}
    ev.pop("Stage Infos", None)
    if "Task Info" in ev:
        ev["Task Info"] = {k: v for k, v in ev["Task Info"].items() if k in TASK_INFO_KEYS}
    ev.pop("Task Executor Metrics", None)
    return ev


def main() -> None:
    with tempfile.TemporaryDirectory() as d:
        spark = (
            SparkSession.builder.master("local[2]")
            .config("spark.ui.enabled", "false")
            .config("spark.sql.adaptive.enabled", "false")
            .config("spark.sql.shuffle.partitions", "2")
            .config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", Path(d).as_uri())
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
            .getOrCreate()
        )
        sc = spark.sparkContext
        # layer:agg -> one job, a 4-task map stage writing shuffle
        # output and a 2-task reduce stage
        sc.setJobGroup("layer:agg", "agg")
        spark.range(0, 4000, numPartitions=4).selectExpr("id % 7 AS k").groupBy("k").count().collect()
        # layer:scan -> one job, one 3-task stage, no shuffle
        sc.setJobGroup("layer:scan", "scan")
        spark.sparkContext.parallelize(range(300), 3).map(lambda x: x * 2).sum()
        spark.stop()
        (log,) = [p for p in Path(d).iterdir() if p.is_file()]
        lines = []
        for line in log.read_text().splitlines():
            ev = json.loads(line)
            if ev.get("Event") not in KEEP:
                continue
            lines.append(json.dumps(_trim(ev), sort_keys=True))
    OUT.parent.mkdir(parents=True, exist_ok=True)
    OUT.write_text("\n".join(lines) + "\n")


if __name__ == "__main__":
    main()
