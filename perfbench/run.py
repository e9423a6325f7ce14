"""spinelink benchmark: run one seeded workload and print its metrics.

    python3 perfbench/run.py --workload incremental --seed 1 --seconds 5 --trace 0

Run from the repository root. Everything runs in this one process on
``local[<cores>]``: the input generator, the Spark driver and the
operations under test. The run

1. starts the session, generates the seeded inputs (three times; the
   median counts), and warms up (set-up, reported as ``setup_s``);
2. repeats the workload's operation until the operations have taken
   ``--seconds`` of wall time in total, checking every output;
3. prints human-readable lines, then as its last line one JSON object
   ``{"correct", "attempted", "failed", "metrics"}``.

With ``--trace 0`` the metrics are the end-to-end ones. With
``--trace 1`` the Spark event log and the Python UDF profiler are on,
every layer call is a span with its own job group, and the metrics are
the per-layer table (see README.md). All scratch state lives under
``.bench_work/`` in the repository root and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import threading
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = "spinebasedrecordlinkage_jl_spark"
SETUP_REPEATS = 3  # input generations per run; set-up counts their median
OP_TIMEOUT_S = 120.0  # an operation slower than this counts as failed
MAX_OPS = 500
#: driver heap, both -Xmx (spark.driver.memory) and -Xms. A fixed size
#: spares the timed calls the heap-growth collections (the first calls
#: ran 10-40% slower without it); pages are not pre-touched, so
#: peak_rss_mb still follows what the run touches.
DRIVER_HEAP = "1g"
MB = 1024.0 * 1024.0

WORKLOAD_NAMES = ("bootstrap", "incremental", "dedup")
E2E_UNITS = {
    "records_per_s": "records/s",
    "batch_p50_s": "s",
    "batch_tail_s": "s",
    "pairwise_f1": "ratio",
    "peak_rss_mb": "MB",
    "setup_s": "s",
}
#: layers whose Spark jobs are rolled up from the event log
SPARK_LAYERS = (
    "records", "probe", "relink", "form_entities", "cc", "checkpoint",
    "run_linkage", "lsh_pairs", "simhash_sig", "simhash_pairs",
)
LAYER_FIELDS = (
    "wall_s", "task_s", "core_util", "jobs", "tasks", "shuffle_write_mb",
    "spill_mb", "peak_exec_mem_mb", "task_skew", "rows_out",
)
EXTRA_LAYER_METRICS = {
    "distances.python_s": "s",
    "cc.python_s": "s",
    "probe.link_ratio": "ratio",
    "relink.link_ratio": "ratio",
    "form_entities.entities_per_record": "ratio",
    "lsh_pairs.verify_ratio": "ratio",
    "checkpoint.write_mb": "MB",
    "run_linkage.self_s": "s",
    "trace.op_s": "s",
}
FIELD_UNITS = {
    "wall_s": "s", "task_s": "s", "core_util": "ratio", "jobs": "count",
    "tasks": "count", "shuffle_write_mb": "MB", "spill_mb": "MB",
    "peak_exec_mem_mb": "MB", "task_skew": "ratio", "rows_out": "count",
}


def per_layer_units() -> dict[str, str]:
    units = {f"{layer}.{f}": FIELD_UNITS[f] for layer in SPARK_LAYERS for f in LAYER_FIELDS}
    units.update(EXTRA_LAYER_METRICS)
    return units


# -- process tree ---------------------------------------------------------

def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", encoding="utf-8") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm", encoding="utf-8") as fh:
            return int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, IndexError, ValueError):
        return 0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm", encoding="utf-8") as fh:
            return fh.read().strip()
    except OSError:
        return "?"


class RssSampler:
    """Peak summed RSS of this process's descendants (the driver JVM and
    its Python workers), sampled every 50 ms while running.
    ``peak_parts`` maps each process name to (processes, bytes) at the
    peak."""

    def __init__(self) -> None:
        self.peak = 0
        self.peak_parts: dict[str, tuple[int, int]] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            rss = {p: _rss_bytes(p) for p in _descendants(me)}
            if sum(rss.values()) > self.peak:
                self.peak = sum(rss.values())
                parts: dict[str, tuple[int, int]] = {}
                for p, b in rss.items():
                    n, total = parts.get(_comm(p), (0, 0))
                    parts[_comm(p)] = (n + 1, total + b)
                self.peak_parts = parts
            self._stop.wait(0.05)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def stop_children(timeout: float = 30.0) -> None:
    """Terminate every process this one started and wait for each."""
    pids = _descendants(os.getpid())
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for p in pids:
            try:
                os.kill(p, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + timeout
        while time.monotonic() < deadline:
            try:  # reap direct children
                while os.waitpid(-1, os.WNOHANG)[0] > 0:
                    pass
            except ChildProcessError:
                pass
            pids = [p for p in pids if os.path.exists(f"/proc/{p}")]
            if not pids:
                return
            time.sleep(0.1)


# -- statistics -------------------------------------------------------------

def tail(samples: list[float]) -> tuple[float, str]:
    """The highest percentile with at least ten samples above it, and
    its label; the maximum when there are too few samples for one."""
    s = sorted(samples)
    n = len(s)
    if n < 11:
        return s[-1], f"max of {n}"
    k = n - 10
    return s[k - 1], f"p{100.0 * k / n:.1f} of {n}"


# -- the run ----------------------------------------------------------------

def start_session(work: Path, cores: int, trace: bool):
    from spinebasedrecordlinkage_jl_spark import get_spark

    conf = {
        "spark.driver.extraJavaOptions": (
            f"-Xms{DRIVER_HEAP} -Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData"
        ),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        (work / "eventlog").mkdir()
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": (work / "eventlog").as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.sql.pyspark.udf.profiler": "perf",
        })
    spark = get_spark("perfbench", master=f"local[{cores}]", shuffle_partitions=cores,
                      extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def layer_metrics(tracer, log_dir: Path, op_latencies: list[float], cores: int):
    """The per-layer table, per timed operation, from the spans and the
    event log of a traced run."""
    from eventlog import GroupStats, find_log, rollup

    n_ops = len(op_latencies)
    groups = rollup(find_log(log_dir))
    wall, self_s = tracer.wall_by_layer()
    m: dict[str, float] = {}
    for layer in SPARK_LAYERS:
        g = groups.get(f"layer:{layer}", GroupStats())
        task_s = g.task_ms / 1000.0 / n_ops
        layer_self = self_s.get(layer, 0.0) / n_ops
        rows = tracer.rows_out.get(layer, 0)
        if layer == "checkpoint":
            rows = g.output_records
        m.update({
            f"{layer}.wall_s": wall.get(layer, 0.0) / n_ops,
            f"{layer}.task_s": task_s,
            f"{layer}.core_util": task_s / (layer_self * cores) if layer_self > 0 else 0.0,
            f"{layer}.jobs": g.jobs / n_ops,
            f"{layer}.tasks": g.tasks / n_ops,
            f"{layer}.shuffle_write_mb": g.shuffle_write_bytes / MB / n_ops,
            f"{layer}.spill_mb": g.disk_spill_bytes / MB / n_ops,
            f"{layer}.peak_exec_mem_mb": g.peak_exec_mem_bytes / MB,
            f"{layer}.task_skew": g.task_skew(),
            f"{layer}.rows_out": rows / n_ops,
        })

    def ratio(num: float, den: float) -> float:
        return num / den if den else 0.0

    py = tracer.python_s
    m.update({
        "distances.python_s": (py.get("probe", 0.0) + py.get("relink", 0.0)) / n_ops,
        "cc.python_s": py.get("cc", 0.0) / n_ops,
        "probe.link_ratio": ratio(tracer.rows_out.get("probe", 0), tracer.rows_in.get("probe", 0)),
        "relink.link_ratio": ratio(
            tracer.rows_out.get("relink", 0), tracer.rows_in.get("relink", 0)
        ),
        "form_entities.entities_per_record": ratio(
            tracer.rows_out.get("form_entities", 0), tracer.rows_in.get("form_entities", 0)
        ),
        "lsh_pairs.verify_ratio": ratio(
            tracer.rows_out.get("lsh_pairs", 0), tracer.aux.get("lsh_candidates", 0)
        ),
        "checkpoint.write_mb": tracer.write_bytes / MB / n_ops,
        "run_linkage.self_s": self_s.get("run_linkage", 0.0) / n_ops,
        "trace.op_s": statistics.median(op_latencies),
    })
    return m


def print_layer_table(m: dict[str, float]) -> None:
    print(f"{'layer':<14}" + "".join(f"{f:>17}" for f in LAYER_FIELDS))
    for layer in SPARK_LAYERS:
        if m[f"{layer}.wall_s"] == 0 and m[f"{layer}.jobs"] == 0:
            continue
        print(f"{layer:<14}" + "".join(f"{m[f'{layer}.{f}']:>17.4f}" for f in LAYER_FIELDS))
    for name in EXTRA_LAYER_METRICS:
        print(f"  {name} = {m[name]:.4f}")


def run(args, work: Path) -> dict:
    cores = len(os.sched_getaffinity(0))
    t0 = time.perf_counter()
    spark = start_session(work, cores, args.trace)
    session_s = time.perf_counter() - t0

    from spans import Tracer
    from workloads import WORKLOADS, Check

    tracer = Tracer(spark, bool(args.trace), work)
    wl = WORKLOADS[args.workload](spark, work, args.seed, tracer, ROOT)
    gen_s = []
    for _ in range(SETUP_REPEATS):
        t = time.perf_counter()
        wl.generate()
        gen_s.append(time.perf_counter() - t)
    tracer.phase = "warmup"
    t = time.perf_counter()
    wl.prepare()
    prepare_s = time.perf_counter() - t
    tracer.reset()
    setup_s = session_s + statistics.median(gen_s) + prepare_s
    print(f"setup: session {session_s:.2f}s, generate {[round(x, 2) for x in gen_s]}s "
          f"(median counts), warm-up/prepare {prepare_s:.2f}s", flush=True)

    latencies: list[float] = []  # of operations that returned
    spent = 0.0
    attempted = failed = 0
    f1s: list[float] = []
    with RssSampler() as rss:
        while spent < args.seconds and attempted < MAX_OPS:
            attempted += 1
            t = time.perf_counter()
            try:
                handle = wl.op(attempted)
            except Exception:  # an operation that raised counts as failed
                traceback.print_exc()
                failed += 1
                spent += time.perf_counter() - t
                wl.cleanup(None)
                continue
            dt = time.perf_counter() - t
            spent += dt
            latencies.append(dt)
            t = time.perf_counter()
            try:
                check = wl.check(handle)
            except Exception:  # so does one whose output cannot be checked
                traceback.print_exc()
                check = Check(False, 0.0, "check raised")
            wl.cleanup(handle)
            f1s.append(check.f1)
            status = "ok" if check.ok and dt <= OP_TIMEOUT_S else "FAILED"
            if status != "ok":
                failed += 1
            print(f"op {attempted}: {dt:.3f}s {status} (check {time.perf_counter() - t:.1f}s) "
                  f"f1={check.f1:.5f} {check.detail}", flush=True)
    correct = failed == 0 and bool(latencies)
    print(f"failed_frac = {failed}/{attempted}", flush=True)
    if not latencies:
        return {"correct": False, "attempted": attempted, "failed": failed, "metrics": {}}

    if args.trace:
        spark.stop()
        m = layer_metrics(tracer, work / "eventlog", latencies, cores)
        print_layer_table(m)
        units = per_layer_units()
        metrics = {k: {"value": m[k], "unit": units[k]} for k in units}
    else:
        p50 = statistics.median(latencies)
        tail_s, tail_label = tail(latencies)
        print(f"batch_tail_s is the {tail_label} operations", flush=True)
        values = {
            "records_per_s": wl.n_items * len(latencies) / sum(latencies),
            "batch_p50_s": p50,
            "batch_tail_s": tail_s,
            "pairwise_f1": statistics.median(f1s),
            "peak_rss_mb": rss.peak / MB,
            "setup_s": setup_s,
        }
        metrics = {k: {"value": values[k], "unit": E2E_UNITS[k]} for k in E2E_UNITS}
        for k, v in metrics.items():
            print(f"{k} = {v['value']:.6g} {v['unit']}", flush=True)
        print("peak RSS by process: " + ", ".join(
            f"{name} x{n} {b / MB:.0f} MB" for name, (n, b) in sorted(rss.peak_parts.items())
        ), flush=True)
    return {"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops its children and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not (ROOT / PACKAGE / "__init__.py").is_file() or not (ROOT / "tests" / "oracle.py").is_file():
        print(f"perfbench: {PACKAGE}/ and tests/oracle.py must sit next to perfbench/",
              file=sys.stderr)
        return 2

    work = ROOT / ".bench_work" / f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    for sub in ("tmp", "spark-local"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPINELINK_LOCAL_DIR"] = str(work / "spark-local")
    os.environ["SPINELINK_DRIVER_MEM"] = DRIVER_HEAP
    sys.path.insert(0, str(ROOT))

    try:
        result = run(args, work)
    finally:
        try:
            from pyspark.sql import SparkSession

            active = SparkSession.getActiveSession()
            if active is not None:
                active.stop()
        finally:
            stop_children()
            shutil.rmtree(work, ignore_errors=True)
            try:
                (ROOT / ".bench_work").rmdir()
            except OSError:
                pass
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
