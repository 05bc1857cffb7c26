"""Smoke run: every workload at ``--size tiny``, untraced and traced.

    python3 perfbench/smoke.py [--seconds 5]

Asserts that each run exits 0, that its result line carries every metric
``BENCHMARK.json`` names for that mode with the declared unit, that no
output check failed (``failed_frac`` is 0), and that the record line
carries the workload's own figures. Exits non-zero on the first miss.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RECORD_KEYS = {
    "query": ["latency_p50_ms.search", "latency_p50_ms.exact", "latency_p50_ms.files",
              "latency_p50_ms.graph", "latency_p50_ms.hybrid"],
    "batch": ["files_per_s", "changeset_s", "index_bytes_per_source_byte", "pass_s",
              "family_s.index", "family_s.dedup", "family_s.graph", "family_s.bulk_search"],
}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seconds", default="5")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    for w in bench["workloads"]:
        for trace, declared in (("0", bench["end_to_end"]), ("1", bench["per_layer"])):
            cmd = [*bench["command"], "--workload", w["name"], "--seed", "1", "--seconds",
                   args.seconds, "--trace", trace, "--size", "tiny"]
            out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
            lines = out.stdout.strip().splitlines()
            tag = f"{w['name']} trace={trace}"
            if out.returncode or len(lines) < 2:
                print(f"FAIL {tag}: exit {out.returncode}\n{out.stderr[-2000:]}")
                return 1
            record, res = json.loads(lines[-2])["record"], json.loads(lines[-1])
            wrong = [m["name"] for m in declared
                     if res["metrics"].get(m["name"], {}).get("unit") != m["unit"]]
            missing = [k for k in RECORD_KEYS[w["name"]] if k not in record]
            if wrong or missing or res["failed"] or record["failed_frac"] != 0:
                print(f"FAIL {tag}: metrics {wrong}, record {missing}, failed {res['failed']}")
                return 1
            print(f"ok   {tag}: {len(res['metrics'])} metrics, {res['attempted']} outputs checked")
    return 0


if __name__ == "__main__":
    sys.exit(main())
