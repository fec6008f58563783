#!/usr/bin/env python3
"""Alternating A/B of the repository benchmark between two checkouts.

    python3 tools/perf_ab.py <parentDir> <changeDir> --workload ingest_probe --pairs 10

Runs `python3 perfbench/run.py` in each checkout (its own sources, its own
build) for every pair, with the seed advancing per pair and the side that
runs first alternating from pair to pair. For each end-to-end metric it
prints both sides' median and quartiles, the pairs the change won (ties
count for neither side) and a verdict by the rule of a claimed gain: the
change wins at least nine tenths of the pairs and the medians differ by
more than the parent's interquartile range. Every run's result line goes
to <changeDir>/.bench_build/perf_ab/<workload>-<time>.json; the benchmark
itself writes under each checkout's .bench_build/.
"""
import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True


def run(checkout: Path, workload: str, seed: int, seconds: float, trace: int) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.time()
    p = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                       text=True)
    lines = [ln for ln in p.stdout.splitlines() if ln.startswith("{")]
    res = json.loads(lines[-1]) if lines else {"correct": False, "attempted": 1, "failed": 1,
                                               "metrics": {}}
    res["wall_s"] = round(time.time() - t0, 1)
    res["exit"] = p.returncode
    return res


def quartiles(xs: list) -> tuple:
    if len(xs) < 2:
        return (xs[0], xs[0], xs[0]) if xs else (float("nan"),) * 3
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("parent", type=Path)
    ap.add_argument("change", type=Path)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--seed", type=int, default=1, help="seed of the first pair")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    sides = {"parent": a.parent.resolve(), "change": a.change.resolve()}
    spec = json.loads((sides["change"] / "BENCHMARK.json").read_text())
    better = {m["name"]: m["better"] for m in spec["end_to_end"] + spec["per_layer"]}

    log_dir = sides["change"] / ".bench_build" / "perf_ab"
    log_dir.mkdir(parents=True, exist_ok=True)
    log = log_dir / f"{a.workload}-{time.strftime('%Y%m%dT%H%M%S')}.json"
    pairs = []
    for i in range(a.pairs):
        seed = a.seed + i
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        pair = {"seed": seed, "first": order[0]}
        for side in order:
            pair[side] = run(sides[side], a.workload, seed, a.seconds, a.trace)
            r = pair[side]
            print(f"pair {i} seed {seed} {side}: correct={r['correct']} failed={r['failed']} "
                  f"({r['wall_s']} s)", file=sys.stderr, flush=True)
        pairs.append(pair)
        log.write_text(json.dumps(pairs, indent=1) + "\n")

    ok = [p for p in pairs if p["parent"]["correct"] and p["change"]["correct"]]
    names = sorted(set().union(*(p["parent"]["metrics"].keys() for p in ok)) if ok else [])
    print(f"{a.workload}: {len(pairs)} pairs, {len(ok)} with both sides correct; "
          f"failed ops parent {sum(p['parent']['failed'] for p in pairs)}, "
          f"change {sum(p['change']['failed'] for p in pairs)}; log {log}")
    print(f"{'metric':<48} {'parent q1/med/q3':>28} {'change q1/med/q3':>28} "
          f"{'wins':>6} {'gap/med':>8}  verdict")
    for name in names:
        vals = {s: [p[s]["metrics"][name]["value"] for p in ok] for s in sides}
        sign = -1 if better.get(name, "lower") == "lower" else 1
        wins = sum(1 for p, c in zip(vals["parent"], vals["change"]) if sign * (c - p) > 0)
        losses = sum(1 for p, c in zip(vals["parent"], vals["change"]) if sign * (c - p) < 0)
        pq, cq = quartiles(vals["parent"]), quartiles(vals["change"])
        gap = sign * (cq[1] - pq[1])
        iqr = pq[2] - pq[0]
        if wins >= 0.9 * len(ok) and gap > iqr:
            verdict = "GAIN"
        elif losses >= 0.9 * len(ok) and -gap > iqr:
            verdict = "LOSS"
        else:
            verdict = "no resolved change"
        rel = (cq[1] - pq[1]) / pq[1] if pq[1] else float("nan")
        fmt = lambda q: "/".join(f"{v:.4g}" for v in q)  # noqa: E731
        print(f"{name:<48} {fmt(pq):>28} {fmt(cq):>28} {wins:>3}/{len(ok):<2} {rel:>+8.1%}  "
              f"{verdict}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
