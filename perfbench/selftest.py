#!/usr/bin/env python3
"""Self-test of the benchmark: every workload at toy size (6k lineitem rows,
300 documents through the pipeline query), untraced and traced. Each run
must end with no failed op and print every metric BENCHMARK.json names
for it.

    python3 perfbench/selftest.py
"""
import json
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def main():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    problems = []
    for w in spec["workloads"]:
        for trace, declared in ((0, spec["end_to_end"]), (1, spec["per_layer"])):
            cmd = [*spec["command"], "--workload", w["name"], "--seed", "7", "--seconds", "1",
                   "--trace", str(trace), "--size", "toy"]
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
            tag = f"{w['name']} trace={trace}"
            if p.returncode != 0:
                problems.append(f"{tag}: exit {p.returncode}: {p.stderr[-2000:]}")
                continue
            res = json.loads(p.stdout.strip().splitlines()[-1])
            if res["failed"] or not res["correct"] or res["attempted"] < 1:
                problems.append(f"{tag}: {res['failed']} of {res['attempted']} ops failed: {p.stderr[-2000:]}")
            for m in declared:
                got = res["metrics"].get(m["name"])
                if got is None or got["unit"] != m["unit"]:
                    problems.append(f"{tag}: metric {m['name']} missing or not in {m['unit']}")
            extra = set(res["metrics"]) - {m["name"] for m in declared}
            if extra:
                problems.append(f"{tag}: undeclared metrics {sorted(extra)}")
            print(f"ok {tag}: {res['attempted']} ops", flush=True)
    for p in problems:
        print("FAIL", p)
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
