"""Smoke test of the benchmark itself, at tiny input sizes.

    python3 perfbench/smoke.py

Runs every workload once untraced and once traced with --tiny 1 and
checks that each run exits 0, passes its correctness checks and prints
exactly the metrics BENCHMARK.json declares. About seven minutes on four
cores: tiny inputs do not shrink the fixed cost of each Spark stage.
"""
import json
import subprocess
import sys
from pathlib import Path

def main() -> int:
    spec = json.loads(Path("BENCHMARK.json").read_text())
    bad = 0
    for trace in (0, 1):
        for w in spec["workloads"]:
            cmd = spec["command"] + ["--workload", w["name"], "--seed", "1",
                                     "--seconds", "1", "--trace", str(trace), "--tiny", "1"]
            proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                                  text=True)
            lines = proc.stdout.strip().splitlines()
            res = json.loads(lines[-1]) if lines else {}
            ok = proc.returncode == 0 and res.get("correct") is True
            bad += not ok
            print(f"{w['name']} trace={trace}: {'ok' if ok else 'FAILED'} "
                  f"({len(res.get('metrics', {}))} metrics, exit {proc.returncode})")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
