"""Run the benchmark several times and report its run-to-run spread.

    python3 perfbench/steady.py --workload report_reads --seeds 1-10 [--slots 4]
        [--seconds 12] [--trace 0] [--out perfbench/steadiness/report_reads.json]

Runs ``perfbench/run.py`` once per seed, one process at a time, and
prints for each metric the median and the quartile spread
``(Q3 - Q1) / median`` (``statistics.quantiles(values, n=4)``). With
``--out`` it also writes every run's metrics and its timed-round times
(the round-time curve) to a JSON file.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec: str) -> list[int]:
    out: list[int] = []
    for part in spec.split(","):
        a, _, b = part.partition("-")
        out.extend(range(int(a), int(b or a) + 1))
    return out


def spread(values: list[float]) -> tuple[float, float]:
    med = statistics.median(values)
    if len(values) < 2 or med == 0:
        return med, 0.0
    q1, _q2, q3 = statistics.quantiles(values, n=4)
    return med, (q3 - q1) / med


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--seconds", type=float, default=12)
    p.add_argument("--trace", type=int, default=0)
    p.add_argument("--slots", type=int, default=None)
    p.add_argument("--out", default=None)
    args = p.parse_args()

    runs = []
    for seed in seeds(args.seeds):
        cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
               "--seed", str(seed), "--seconds", str(args.seconds), "--trace", str(args.trace)]
        if args.slots:
            cmd += ["--slots", str(args.slots)]
        proc = subprocess.run(cmd, capture_output=True, text=True)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}", file=sys.stderr)
            return 1
        result = json.loads(lines[-1])
        m = re.search(r"warm rounds \[([^\]]*)\], timed rounds \[([^\]]*)\]", proc.stderr)
        wall = re.search(r"done in ([0-9.]+)s", proc.stderr)
        ops = re.search(r"op medians (\{.*\})", proc.stderr)
        run = {
            "seed": seed,
            "correct": result["correct"],
            "metrics": {k: v["value"] for k, v in result["metrics"].items()},
            "warm_round_s": [float(x) for x in m.group(1).split(",") if x.strip()] if m else [],
            "timed_round_s": [float(x) for x in m.group(2).split(",") if x.strip()] if m else [],
            "process_s": float(wall.group(1)) if wall else None,
            "op_median_s": json.loads(ops.group(1)) if ops else {},
        }
        runs.append(run)
        print(f"seed {seed}: correct={run['correct']} process={run['process_s']}s "
              + " ".join(f"{k}={v:.4g}" for k, v in run["metrics"].items()), flush=True)

    print(f"\n{args.workload}: {len(runs)} runs")
    summary = {}
    for name in runs[0]["metrics"]:
        med, sp = spread([r["metrics"][name] for r in runs])
        summary[name] = {"median": med, "iqr_over_median": sp}
        print(f"  {name:40s} median {med:12.5g}  spread {sp:7.2%}")
    if args.out:
        os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
        with open(args.out, "w") as f:
            json.dump({"workload": args.workload, "seconds": args.seconds,
                       "slots": args.slots, "trace": args.trace, "runs": runs,
                       "summary": summary}, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
