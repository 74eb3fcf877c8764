#!/usr/bin/env python3
"""Run workloads over a range of seeds and keep each run's result line.

Usage, from the repository root:

    python3 perfbench/sweep.py --workloads dedup_heavy,sql_session --seeds 1-10 \
        --trace 0 --out .bench_build/perfbench/sets/head

Every run is timed for BENCHMARK.json's run_seconds, so two sets always
compare runs of the same length. Appends one JSON line per run to
<out>/<workload>.jsonl:
{"workload", "seed", "trace", "wall_s", "result"}, where "result" is the
last line run.py printed. perfbench/compare.py reads these sets. To
compare two commits, sweep each in its own checkout, alternating the
commit that runs first from seed to seed.
"""
import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return range(int(lo), int(hi or lo) + 1)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workloads", required=True)
    ap.add_argument("--seeds", required=True, help="N or N-M")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        seconds = json.load(f)["run_seconds"]
    os.makedirs(a.out, exist_ok=True)
    for seed in seeds(a.seeds):
        for w in a.workloads.split(","):
            t0 = time.time()
            p = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                 "--seed", str(seed), "--seconds", str(seconds), "--trace", str(a.trace)],
                cwd=ROOT, capture_output=True, text=True)
            wall = time.time() - t0
            if p.returncode != 0:
                sys.exit(f"{w} seed {seed} failed (exit {p.returncode}):\n{p.stderr[-3000:]}")
            line = p.stdout.strip().splitlines()[-1]
            with open(os.path.join(a.out, f"{w}.jsonl"), "a") as f:
                f.write(json.dumps({"workload": w, "seed": seed, "trace": a.trace,
                                    "wall_s": round(wall, 1),
                                    "result": json.loads(line)}) + "\n")
            print(f"{w} seed={seed} wall={wall:.1f}s {line[:160]}", flush=True)


if __name__ == "__main__":
    main()
