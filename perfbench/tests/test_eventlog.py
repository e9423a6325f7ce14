"""Tests of the benchmark's own helpers: the event-log roll-up, the tail
percentile, and the metric names BENCHMARK.json declares.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE.parent))

import run  # noqa: E402
from eventlog import find_log, rollup  # noqa: E402

CAPTURED = HERE / "data" / "small_eventlog.json"
BENCHMARK = HERE.parent.parent / "BENCHMARK.json"


def _task(stage, launch, finish, shuffle=0, spill=0, peak=0, written=0):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task Info": {"Launch Time": launch, "Finish Time": finish},
        "Task Metrics": {
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
            "Disk Bytes Spilled": spill,
            "Peak Execution Memory": peak,
            "Output Metrics": {"Records Written": written},
        },
    }


def _job(job, stages, group=None):
    return {
        "Event": "SparkListenerJobStart",
        "Job ID": job,
        "Stage IDs": stages,
        "Properties": {"spark.jobGroup.id": group} if group else {},
    }


def test_synthetic_log_rolls_up_per_group(tmp_path):
    events = [
        _job(0, [0, 1], "layer:a"),
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 0},
         "Properties": {"spark.jobGroup.id": "layer:a"}},
        _task(0, 1000, 1100, shuffle=1000, peak=10),
        _task(0, 1000, 1300, shuffle=3000, spill=512, peak=30),
        _task(0, 1000, 1200, peak=20),
        # stage 1 is only named by its job's start event
        _task(1, 2000, 2050, written=7),
        _job(1, [2], "layer:b"),
        _task(2, 0, 40),
        _job(2, [3]),
        _task(3, 0, 10),
    ]
    log = tmp_path / "app-1"
    log.write_text("\n".join(json.dumps(e) for e in events) + "\n")

    stats = rollup(log)
    a = stats["layer:a"]
    assert (a.jobs, a.tasks, a.task_ms) == (1, 4, 650)
    assert a.shuffle_write_bytes == 4000
    assert a.disk_spill_bytes == 512
    assert a.peak_exec_mem_bytes == 30
    assert a.output_records == 7
    # dominant stage 0 ran 100, 300 and 200 ms: max / median = 1.5
    assert a.task_skew() == pytest.approx(1.5)
    b = stats["layer:b"]
    assert (b.jobs, b.tasks, b.task_ms) == (1, 1, 40)
    assert stats[""].jobs == 1 and stats[""].tasks == 1


def test_captured_spark_log():
    """A real Spark 4.1 log (see capture_eventlog.py): layer:agg ran one
    job of a 4-task map stage and a 2-task reduce stage, layer:scan one
    job of a single 3-task stage."""
    stats = rollup(CAPTURED)
    agg, scan = stats["layer:agg"], stats["layer:scan"]
    assert (agg.jobs, agg.tasks) == (1, 6)
    assert (scan.jobs, scan.tasks) == (1, 3)
    assert sorted(len(t) for t in agg.stage_task_ms.values()) == [2, 4]
    assert agg.shuffle_write_bytes > 0
    assert scan.shuffle_write_bytes == 0
    assert agg.task_ms > 0 and scan.task_ms > 0
    assert agg.task_skew() >= 1.0


def test_find_log_skips_unfinished(tmp_path):
    (tmp_path / "app-1.inprogress").write_text("")
    with pytest.raises(FileNotFoundError):
        find_log(tmp_path)
    (tmp_path / "app-1").write_text("")
    assert find_log(tmp_path).name == "app-1"


def test_tail_needs_ten_samples_beyond():
    assert run.tail([3.0, 1.0, 2.0]) == (3.0, "max of 3")
    samples = [float(i) for i in range(1, 21)]  # 20 samples
    value, label = run.tail(samples)
    assert value == 10.0  # ten samples (11..20) lie above it
    assert label == "p50.0 of 20"


def test_benchmark_json_names_match_the_run():
    spec = json.loads(BENCHMARK.read_text())
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.E2E_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.per_layer_units()
    assert len(spec["per_layer"]) <= 128
    assert [w["name"] for w in spec["workloads"]] == [
        w for w in run.WORKLOAD_NAMES if w in {x["name"] for x in spec["workloads"]}
    ]
