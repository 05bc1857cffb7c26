"""Run the benchmark on several seeds and report each end-to-end metric's
median and quartile spread (Q3 - Q1 over the median), the figure the
benchmark's bounds are checked against.

    python3 perfbench/spread.py --workload query --seeds 1-10 [--seconds 15]

Runs are sequential; each run's result line is appended to
``.perfbench_work/spread-<workload>.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    args = ap.parse_args()
    log = os.path.join(ROOT, ".perfbench_work", f"spread-{args.workload}.jsonl")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    values: dict[str, list[float]] = {}
    for seed in seeds(args.seeds):
        cmd = [*bench["command"], "--workload", args.workload, "--seed", str(seed),
               "--seconds", str(args.seconds), "--trace", "0"]
        out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=180)
        lines = out.stdout.strip().splitlines() or ["{}"]
        last = lines[-1]
        res = json.loads(last)
        record = json.loads(lines[-2]).get("record", {}) if len(lines) > 1 else {}
        with open(log, "a") as f:
            f.write(json.dumps({"seed": seed, "exit": out.returncode, "record": record, **res}) + "\n")
        if out.returncode or not res.get("correct"):
            print(f"seed {seed}: exit {out.returncode}, result {last[:200]}", file=sys.stderr)
            continue
        for name, m in res["metrics"].items():
            values.setdefault(name, []).append(m["value"])
        print(f"seed {seed}: " + " ".join(f"{n}={m['value']:.4g}" for n, m in res["metrics"].items()))
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    for name, vals in values.items():
        if len(vals) < 2:
            continue
        q1, med, q3 = statistics.quantiles(vals, n=4)
        spread = (q3 - q1) / med
        print(f"{name}: median {med:.4g}  spread {spread:.3f}  bound {bounds.get(name)}  n={len(vals)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
