#!/usr/bin/env python3
"""Interleaved A/B of two checkouts on one perfbench workload.

  python3 tools/ab_pairs.py PARENT CHANGE --workload W --pairs N --seed-base S --out DIR

Pair i runs `perfbench/run.py --repeat 1 --seed-base S+i` once in each
checkout root (both sides get the same seed), appending to
DIR/parent.jsonl and DIR/change.jsonl; even pairs run the parent first,
odd pairs the change, so drift on the box lands on both sides alike.

Then, for each end-to-end metric of BENCHMARK.json, it prints both
sides' median and quartiles, how many pairs the change won (a tie
counts for neither side), whether a gain holds: the change wins at
least 9 pairs in 10 and the medians differ, in the metric's better
direction, by more than the parent's interquartile range; and the
regression verdict:
  worse       the change's median is worse than the parent's by more
              than the metric's bound (a fraction of the parent median);
  unresolved  not worse, but the parent's interquartile range is wider
              than the bound, so the runs cannot show the bound holds,
              unless every change run beats every parent run;
  ok          otherwise.

The two files are ordinary `run.py --save` output, so
`python3 perfbench/run.py --compare DIR/parent.jsonl DIR/change.jsonl`
applies the bounds to them as well.
"""
import argparse
import json
import math
import pathlib
import statistics
import subprocess
import sys


def run_side(checkout, workload, seed, save):
    r = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--repeat", "1", "--seed-base", str(seed), "--save", str(save)],
                       cwd=checkout, stdout=subprocess.DEVNULL)
    if r.returncode != 0:
        sys.exit(f"{checkout}: run with seed {seed} failed")


def load(path):
    return {r["seed"]: r for r in map(json.loads, path.read_text().splitlines())}


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    return tuple(statistics.quantiles(xs, n=4))


def verdict(pa, ch, sign, bound):
    """The regression verdict for one metric: ok, worse or unresolved."""
    (p1, pm, p3), cm = quartiles(pa), statistics.median(ch)
    if pm and sign * (cm - pm) / pm > bound:
        return "worse"
    beats_all = (max(ch) < min(pa)) if sign > 0 else (min(ch) > max(pa))
    if pm and (p3 - p1) / abs(pm) > bound and not beats_all:
        return "unresolved"
    return "ok"


def summarize(spec, parent, change):
    seeds = sorted(set(parent) & set(change))
    need = math.ceil(0.9 * len(seeds))
    print(f"{len(seeds)} pairs; a gain needs >= {need} wins and a median gap > the parent's IQR")
    for side, runs in (("parent", parent), ("change", change)):
        failed = sum(runs[s]["failed"] for s in seeds)
        attempted = sum(runs[s]["attempted"] for s in seeds)
        print(f"{side}: {failed} of {attempted} operations failed their checks")
    print(f"{'metric':14s} {'parent median [q1, q3]':>36s} {'change median [q1, q3]':>36s} "
          f"{'wins':>6s} {'gap':>10s} {'p_iqr':>10s}  gain  verdict")
    for m in spec["end_to_end"]:
        name, sign = m["name"], (1 if m["better"] == "lower" else -1)
        pairs = [(parent[s]["metrics"][name]["value"], change[s]["metrics"][name]["value"])
                 for s in seeds]
        pa, ch = [p for p, _ in pairs], [c for _, c in pairs]
        (p1, pm, p3), (c1, cm, c3) = quartiles(pa), quartiles(ch)
        wins = sum(1 for p, c in pairs if sign * (p - c) > 0)
        gap = sign * (pm - cm)  # > 0 when the change is better
        holds = wins >= need and gap > p3 - p1
        print(f"{name:14s} {f'{pm:.4f} [{p1:.4f}, {p3:.4f}]':>36s} "
              f"{f'{cm:.4f} [{c1:.4f}, {c3:.4f}]':>36s} {f'{wins}/{len(seeds)}':>6s} "
              f"{gap:10.4f} {p3 - p1:10.4f}  {'yes' if holds else 'no ':4s}  "
              f"{verdict(pa, ch, sign, m['bound'])}")


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("parent")
    p.add_argument("change")
    p.add_argument("--workload", required=True)
    p.add_argument("--pairs", type=int, default=10)
    p.add_argument("--seed-base", type=int, required=True)
    p.add_argument("--out", required=True)
    args = p.parse_args()
    sides = {"parent": pathlib.Path(args.parent).resolve(),
             "change": pathlib.Path(args.change).resolve()}
    out = pathlib.Path(args.out).resolve()
    out.mkdir(parents=True, exist_ok=True)
    saves = {k: out / f"{k}.jsonl" for k in sides}
    if any(f.exists() for f in saves.values()):
        sys.exit(f"{out} already holds parent.jsonl or change.jsonl; pick a new --out")
    for i in range(args.pairs):
        seed = args.seed_base + i
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        for side in order:
            run_side(sides[side], args.workload, seed, saves[side])
        print(f"pair {i + 1}/{args.pairs} (seed {seed}, {order[0]} first) done", file=sys.stderr)
    spec = json.loads((sides["change"] / "BENCHMARK.json").read_text())
    summarize(spec, load(saves["parent"]), load(saves["change"]))


if __name__ == "__main__":
    main()
