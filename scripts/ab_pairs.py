#!/usr/bin/env python3
"""Alternating-pair benchmark comparison of two checkouts.

    python3 scripts/ab_pairs.py <parent_dir> <change_dir> <workload> <seed0> <pairs>
        [--seconds 8] [--trace 0|1] [--out results.json]

Runs `perfbench/run.py` in each checkout, one seed per pair (seed0,
seed0+1, ...), each run a fresh JVM, alternating which side runs first:
parent then change on even pairs, change then parent on odd ones. Then
prints, per end-to-end metric of BENCHMARK.json: the parent's median and
quartiles (linear interpolation, numpy's default), the change's median, and
how many pairs the change won (strictly better in the metric's direction). A claimed gain needs at least 9 wins in 10 pairs and a
median gain larger than the parent's interquartile range; the last column
says whether both hold. A run that fails or reports `correct: false` loses
its pair. Nothing under perfbench/ is read or written except through its
runner; run with nothing else on the machine.
"""
import argparse
import json
import math
import os
import subprocess
import sys


def quantile(xs, q):
    s = sorted(xs)
    if not s:
        return math.nan
    pos = (len(s) - 1) * q
    lo = math.floor(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def run(checkout, workload, seed, seconds, trace):
    cmd = [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", trace]
    p = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    if p.returncode != 0 or not lines:
        return None
    try:
        return json.loads(lines[-1])
    except ValueError:
        return None


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("parent_dir")
    ap.add_argument("change_dir")
    ap.add_argument("workload")
    ap.add_argument("seed0", type=int)
    ap.add_argument("pairs", type=int)
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--trace", choices=("0", "1"), default="0")
    ap.add_argument("--out", help="also write every run's result here as JSON")
    a = ap.parse_args()
    if a.pairs < 1:
        sys.exit("ab_pairs: pairs must be >= 1")
    with open(os.path.join(a.change_dir, "BENCHMARK.json")) as f:
        better = {m["name"]: m["better"] for m in json.load(f)["end_to_end"]}

    runs = []
    for i in range(a.pairs):
        seed = a.seed0 + i
        pair = {"seed": seed}
        sides = (("parent", a.parent_dir), ("change", a.change_dir))
        for side, checkout in (sides if i % 2 == 0 else sides[::-1]):
            r = run(checkout, a.workload, seed, a.seconds, a.trace)
            pair[side] = r
            values = {} if r is None else {k: v["value"] for k, v in r["metrics"].items()}
            ok = r is not None and r.get("correct") is True
            print(f"seed {seed} {side:6s} {'ok ' if ok else 'BAD'} " +
                  " ".join(f"{k}={values[k]:.6g}" for k in better if k in values), flush=True)
        runs.append(pair)

    def value(r, name):
        if r is None or r.get("correct") is not True or name not in r["metrics"]:
            return None
        return r["metrics"][name]["value"]

    need = math.ceil(0.9 * a.pairs)
    print(f"\n{a.workload}, seeds {a.seed0}-{a.seed0 + a.pairs - 1}, {a.pairs} pairs "
          f"(gain rule: >= {need} wins and median gain > parent IQR)")
    print(f"{'metric':14s} {'parent med':>12s} {'q1':>12s} {'q3':>12s} {'IQR':>12s} "
          f"{'change med':>12s} {'wins':>6s}  gain rule")
    for name, direction in better.items():
        ps = [v for v in (value(p["parent"], name) for p in runs) if v is not None]
        cs = [v for v in (value(p["change"], name) for p in runs) if v is not None]
        wins = 0
        for p in runs:
            pv, cv = value(p["parent"], name), value(p["change"], name)
            if cv is None:
                continue
            if pv is None or (cv > pv if direction == "higher" else cv < pv):
                wins += 1
        pm, q1, q3, cm = quantile(ps, 0.5), quantile(ps, 0.25), quantile(ps, 0.75), quantile(cs, 0.5)
        gain = cm - pm if direction == "higher" else pm - cm
        holds = wins >= need and gain > q3 - q1
        print(f"{name:14s} {pm:12.6g} {q1:12.6g} {q3:12.6g} {q3 - q1:12.6g} {cm:12.6g} "
              f"{wins:3d}/{a.pairs:<2d}  {'holds' if holds else 'no'}")
    if a.out:
        with open(a.out, "w") as f:
            json.dump(runs, f, indent=1)


if __name__ == "__main__":
    main()
