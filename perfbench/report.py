"""Repeat benchmark runs and summarise them.

    python3 perfbench/report.py steady --workloads bootstrap dedup --seeds 10
    python3 perfbench/report.py layers --workloads bootstrap incremental dedup

``steady`` runs each workload once per seed (1..N) with tracing off and
prints, per end-to-end metric, the median, the quartiles (as
``statistics.quantiles(values, n=4)`` gives them) and the spread
(q3 - q1) / median.

``layers`` is the traced-run command: per workload it runs one untraced
and one traced run of the same seed, prints the per-layer table of the
traced run and the tracing overhead, i.e. the traced median operation
time against the untraced one.

Both run ``perfbench/run.py`` one process at a time from the repository
root; ``--out`` also writes the results as JSON.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
RUN = ["python3", "perfbench/run.py"]


def run_once(workload: str, seed: int, seconds: int, trace: int) -> tuple[dict, list[str]]:
    cmd = RUN + ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
                 "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"{' '.join(cmd)} exited with {proc.returncode}")
    return json.loads(lines[-1]), lines[:-1]


def summarise(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (values[0],) * 3
    return {
        "median": med, "q1": q1, "q3": q3,
        "spread": (q3 - q1) / med if med else 0.0, "values": values,
    }


def steady(args) -> dict:
    out = {}
    for w in args.workloads:
        per_metric: dict[str, list[float]] = {}
        units: dict[str, str] = {}
        verdicts = []
        for seed in range(1, args.seeds + 1):
            res, _ = run_once(w, seed, args.seconds, 0)
            verdicts.append((res["correct"], res["attempted"], res["failed"]))
            for k, v in res["metrics"].items():
                per_metric.setdefault(k, []).append(v["value"])
                units[k] = v["unit"]
            print(f"{w} seed {seed}: correct={res['correct']} "
                  + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
                  flush=True)
        out[w] = {
            "runs": [{"correct": c, "attempted": a, "failed": f} for c, a, f in verdicts],
            "metrics": {k: dict(summarise(v), unit=units[k]) for k, v in per_metric.items()},
        }
        print(f"\n{w}: {'metric':<14}{'median':>12}{'q1':>12}{'q3':>12}{'spread':>9}")
        for k, s in out[w]["metrics"].items():
            print(f"{w}: {k:<14}{s['median']:>12.5g}{s['q1']:>12.5g}{s['q3']:>12.5g}"
                  f"{s['spread']:>9.3f}")
        print(flush=True)
    return out


def layers(args) -> dict:
    out = {}
    for w in args.workloads:
        plain, _ = run_once(w, args.seed, args.seconds, 0)
        traced, lines = run_once(w, args.seed, args.seconds, 1)
        table = lines[next(i for i, ln in enumerate(lines) if ln.startswith("layer ")):]
        op_plain = plain["metrics"]["batch_p50_s"]["value"]
        op_traced = traced["metrics"]["trace.op_s"]["value"]
        overhead = op_traced / op_plain - 1.0
        print(f"== {w} (seed {args.seed}) ==")
        print("\n".join(table))
        print(f"tracing overhead: traced op {op_traced:.3f}s vs untraced {op_plain:.3f}s "
              f"= {overhead:+.1%}\n", flush=True)
        out[w] = {
            "seed": args.seed,
            "untraced_op_s": op_plain,
            "traced_op_s": op_traced,
            "tracing_overhead": overhead,
            "layers": {k: v["value"] for k, v in traced["metrics"].items()},
        }
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    s = sub.add_parser("steady")
    s.add_argument("--seeds", type=int, default=10)
    lay = sub.add_parser("layers")
    lay.add_argument("--seed", type=int, default=1)
    for p in (s, lay):
        p.add_argument("--workloads", nargs="+", default=["bootstrap", "dedup"])
        p.add_argument("--seconds", type=int, default=5)
        p.add_argument("--out", type=Path)
    args = ap.parse_args()
    result = steady(args) if args.cmd == "steady" else layers(args)
    if args.out:
        args.out.write_text(json.dumps(result, indent=2) + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
