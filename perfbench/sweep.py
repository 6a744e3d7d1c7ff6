#!/usr/bin/env python3
"""Run the benchmark over several seeds and save every run's stdout.

    python3 perfbench/sweep.py --out RUNS_DIR --seeds 1-10 [--trace 0] \\
        [--checkouts PARENT_DIR CHANGE_DIR]

Every workload of BENCHMARK.json runs for its ``run_seconds``. Each run is its own ``run.py`` process, started only after the
previous one exited. With two checkouts the sweep alternates which
one runs first for each seed and writes ``RUNS_DIR/<checkout
name>/<workload>-<seed>.out``; feed the two directories to
``compare.py pair``. Each checkout runs its own copy of the benchmark
(identical when the change under test leaves ``perfbench/`` alone).
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec: str) -> list:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def main(argv=None) -> int:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--out", required=True)
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--checkouts", nargs="+", default=[os.path.dirname(HERE)])
    args = p.parse_args(argv)
    checkouts = [os.path.abspath(c) for c in args.checkouts]
    labels = [os.path.basename(c) for c in checkouts] if len(checkouts) > 1 else [""]
    for i, seed in enumerate(seeds(args.seeds)):
        for wl in (w["name"] for w in bench["workloads"]):
            order = list(zip(checkouts, labels))
            if i % 2:
                order.reverse()
            for root, label in order:
                out_dir = os.path.join(args.out, label)
                os.makedirs(out_dir, exist_ok=True)
                cmd = [sys.executable, "perfbench/run.py", "--workload", wl, "--seed", str(seed),
                       "--seconds", str(bench["run_seconds"]), "--trace", str(args.trace)]
                r = subprocess.run(cmd, cwd=root, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
                path = os.path.join(out_dir, f"{wl}-{seed}{'-t' if args.trace else ''}.out")
                with open(path, "w") as f:
                    f.write(r.stdout)
                last = r.stdout.strip().splitlines()[-1:] or [""]
                print(f"{label or '.'} {wl} seed={seed} rc={r.returncode} {last[0][:160]}", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
