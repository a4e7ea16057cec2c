#!/usr/bin/env python3
"""Smoke test of the benchmark: every workload at the tiny --smoke size, in
both modes. Each run must exit 0, pass every correctness check
(error_rate 0) and print, in its last line, every metric BENCHMARK.json
names with its unit and a finite value.

    python3 perfbench/test_smoke.py      # from the repository root
"""
import json
import math
import subprocess
import sys


def main():
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    expected = {0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
                1: {m["name"]: m["unit"] for m in bench["per_layer"]}}
    problems = []
    sys.path.insert(0, "perfbench")
    from run import SIZES  # every workload, the ones run by name only too
    for w in sorted(SIZES):
        for trace in (0, 1):
            cmd = [sys.executable, "perfbench/run.py", "--workload", w, "--seed", "7",
                   "--seconds", "1", "--trace", str(trace), "--smoke"]
            r = subprocess.run(cmd, capture_output=True, text=True, timeout=900)
            tag = f"{w} trace={trace}"
            lines = r.stdout.strip().splitlines()
            if r.returncode != 0 or not lines:
                problems.append(f"{tag}: exit {r.returncode}\n{r.stderr[-2000:]}")
                continue
            out = json.loads(lines[-1])
            if set(out) != {"correct", "attempted", "failed", "metrics"}:
                problems.append(f"{tag}: keys {sorted(out)}")
            if not out["correct"] or out["failed"] != 0 or out["attempted"] < 1:
                problems.append(f"{tag}: correct={out['correct']} failed={out['failed']}")
            if "# error_rate: 0.0 " not in r.stdout:
                problems.append(f"{tag}: error_rate is not 0")
            metrics = out["metrics"]
            if set(metrics) != set(expected[trace]):
                problems.append(f"{tag}: metrics differ from BENCHMARK.json: "
                                f"{sorted(set(metrics) ^ set(expected[trace]))}")
            for name, unit in expected[trace].items():
                m = metrics.get(name, {})
                v = m.get("value")
                if m.get("unit") != unit or not isinstance(v, (int, float)) or not math.isfinite(v):
                    problems.append(f"{tag}: {name} = {m}")
            print(f"ok {tag}" if not any(p.startswith(tag) for p in problems) else f"FAIL {tag}",
                  flush=True)
    for p in problems:
        print(p)
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
