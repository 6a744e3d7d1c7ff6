#!/usr/bin/env python3
"""Compare sets of saved benchmark runs.

A run file is the captured stdout of one ``run.py`` invocation (see
``sweep.py``, which writes one file per run into a directory).

    python3 perfbench/compare.py spread RUNS
        per workload and metric: median, quartiles and the spread
        (Q3 - Q1) / median next to the metric's bound; exits 1 when
        the spread of any metric with a bound exceeds it.

    python3 perfbench/compare.py pair PARENT_RUNS CHANGE_RUNS
        per workload and metric: each side's median and quartiles, the
        pairwise win fraction (runs paired by seed, ties count for
        neither) and a verdict:
          improved   the change wins >= 9/10 of all pairs and the
                     medians differ by more than the parent's
                     quartile distance;
          no worse   the change's median is not worse than the
                     parent's by more than the bound;
          unresolved the parent's spread exceeds the bound and not
                     every change run beats every parent run;
          worse      the median is worse by more than the bound.

    python3 perfbench/compare.py overhead UNTRACED_RUNS TRACED_RUNS
        tracing overhead: the traced runs' end-to-end figures minus
        the untraced runs' medians.

Only untraced runs are compared. Bounds come from the BENCHMARK.json
next to this directory; the per-step figures of the ``perfbench:``
line, which have none there, are judged against ``STEP_BOUND``.
"""

from __future__ import annotations

import argparse
import glob
import json
import math
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")
# per-step figures (validate_rows_per_s, record_ms_p90, ...) are parts
# of the gated end-to-end times, so they get those times' bound
STEP_BOUND = 0.25


def load_runs(path: str) -> list:
    """[(detail, result)] for every run file under ``path``."""
    files = sorted(glob.glob(os.path.join(path, "*.out"))) if os.path.isdir(path) else [path]
    runs = []
    for f in files:
        with open(f) as fh:
            lines = [ln for ln in fh.read().splitlines() if ln.strip()]
        detail = next((json.loads(ln[len("perfbench: "):]) for ln in lines if ln.startswith("perfbench: ")), None)
        try:
            result = json.loads(lines[-1])
        except (IndexError, json.JSONDecodeError):
            print(f"skipping {f}: no result line", file=sys.stderr)
            continue
        if detail is not None:
            runs.append((detail, result))
    return runs


def values(runs: list) -> dict:
    """{workload: {metric: {seed: value}}} over the result and detail
    metrics of the untraced runs."""
    out: dict = {}
    for detail, result in runs:
        if detail["trace"]:
            continue
        per = out.setdefault(detail["workload"], {})
        for name, m in result["metrics"].items():
            per.setdefault(name, {})[detail["seed"]] = m["value"]
        for name, v in detail.items():
            if isinstance(v, (int, float)) and not isinstance(v, bool) and name not in ("seed", "trace", "seconds", "slots", "warm_failed"):
                per.setdefault(name, {})[detail["seed"]] = v
        per.setdefault("correct", {})[detail["seed"]] = 1.0 if result["correct"] else 0.0
    return out


def bench_spec() -> dict:
    with open(BENCH) as f:
        spec = json.load(f)
    return {m["name"]: m for m in spec["end_to_end"]}


def higher_is_better(name: str, spec: dict) -> bool:
    if name in spec:
        return spec[name]["better"] == "higher"
    return name.endswith("_per_s") or name == "correct"


def quartiles(xs: list) -> tuple:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def spread(xs: list) -> float:
    q1, med, q3 = quartiles(xs)
    return (q3 - q1) / med if med else 0.0


def verdict(a: dict, b: dict, hib: bool, bound: float) -> tuple:
    seeds = sorted(a.keys() & b.keys())
    pairs = [(a[s], b[s]) for s in seeds] or list(zip(a.values(), b.values()))
    wins = sum((y > x) if hib else (y < x) for x, y in pairs)
    win_frac = wins / len(pairs) if pairs else 0.0
    qa, qb = quartiles(list(a.values())), quartiles(list(b.values()))
    med_a, med_b = qa[1], qb[1]
    diff = (med_a - med_b) if hib else (med_b - med_a)
    worse_by = diff / med_a if med_a else (math.inf if diff > 0 else 0.0)
    all_better = (min(b.values()) > max(a.values())) if hib else (max(b.values()) < min(a.values()))
    if win_frac >= 0.9 and abs(med_b - med_a) > (qa[2] - qa[0]):
        v = "improved"
    elif spread(list(a.values())) > bound and not all_better:
        v = "unresolved"
    elif worse_by <= bound:
        v = "no worse"
    else:
        v = "worse"
    return qa, qb, win_frac, v


def fmt(x: float) -> str:
    return f"{x:.4g}"


def cmd_spread(args, spec) -> int:
    ok = True
    for wl, metrics in sorted(values(load_runs(args.runs)).items()):
        print(f"== {wl}")
        for name, by_seed in sorted(metrics.items()):
            xs = list(by_seed.values())
            q1, med, q3 = quartiles(xs)
            bound = spec.get(name, {}).get("bound")
            s = spread(xs)
            flag = ""
            if bound is not None:
                flag = "ok" if s < bound / 3 else ("within bound" if s <= bound else "TOO WIDE")
                ok &= s <= bound
            print(f"  {name:28s} n={len(xs):2d} median={fmt(med):>10s} q1={fmt(q1):>10s} q3={fmt(q3):>10s} "
                  f"spread={s:6.3f} bound={bound if bound is not None else '-'} {flag}")
    return 0 if ok else 1


def cmd_pair(args, spec) -> int:
    a_all, b_all = values(load_runs(args.parent)), values(load_runs(args.change))
    for wl in sorted(a_all.keys() & b_all.keys()):
        print(f"== {wl}")
        print(f"  {'metric':28s} {'parent q1/med/q3':>32s} {'change q1/med/q3':>32s} {'wins':>5s}  verdict")
        for name in sorted(a_all[wl].keys() & b_all[wl].keys() - {"host_steal_frac"}):  # the host's, not the program's
            a, b = a_all[wl][name], b_all[wl][name]
            bound = spec.get(name, {}).get("bound", STEP_BOUND)
            qa, qb, wf, v = verdict(a, b, higher_is_better(name, spec), bound)
            print(f"  {name:28s} {'/'.join(fmt(x) for x in qa):>32s} {'/'.join(fmt(x) for x in qb):>32s} "
                  f"{wf:5.2f}  {v}")
    return 0


def cmd_overhead(args, spec) -> int:
    base = values(load_runs(args.untraced))
    traced: dict = {}
    for detail, _ in load_runs(args.traced):
        if detail["trace"] == 1:
            for name, v in detail.get("end_to_end_traced", {}).items():
                traced.setdefault(detail["workload"], {}).setdefault(name, []).append(v)
    for wl in sorted(base.keys() & traced.keys()):
        print(f"== {wl}")
        for name in sorted(spec):
            if name in base[wl] and name in traced[wl]:
                u = statistics.median(base[wl][name].values())
                t = statistics.median(traced[wl][name])
                print(f"  {name:14s} untraced={fmt(u):>10s} traced={fmt(t):>10s} "
                      f"overhead={fmt(t - u):>10s} ({(t - u) / u:+.1%})")
    return 0


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    sub = p.add_subparsers(dest="cmd", required=True)
    s = sub.add_parser("spread")
    s.add_argument("runs")
    s = sub.add_parser("pair")
    s.add_argument("parent")
    s.add_argument("change")
    s = sub.add_parser("overhead")
    s.add_argument("untraced")
    s.add_argument("traced")
    args = p.parse_args(argv)
    spec = bench_spec()
    return {"spread": cmd_spread, "pair": cmd_pair, "overhead": cmd_overhead}[args.cmd](args, spec)


if __name__ == "__main__":
    sys.exit(main())
