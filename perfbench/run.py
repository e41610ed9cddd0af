#!/usr/bin/env python3
"""Benchmark entry point (see perfbench/README.md).

One run:
  python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1
builds the engine and the benchmark program if needed, generates the workload's
inputs from the seed, runs one JVM (perfbench.Main) that sets up the
workload and drives it with one closed-loop client for S seconds, checks
the answers, and prints one JSON line:
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
--trace 0 prints BENCHMARK.json's end_to_end metrics, --trace 1 its
per_layer metrics (0 where a layer is not exercised by the workload).

Steadiness tooling:
  run.py --repeat K --workload W [--trace T] [--seed-base N] [--seconds S] [--save F]
      K runs with seeds N..N+K-1; appends every metric of every run to F
      and prints each metric's median and quartiles.
  run.py --compare A.jsonl B.jsonl
      per workload and metric: both medians, B's change relative to A,
      and whether it stays within the metric's bound in BENCHMARK.json.
"""
import argparse
import json
import os
import pathlib
import shutil
import statistics
import subprocess
import sys
import time

HERE = pathlib.Path(__file__).resolve().parent
ROOT = pathlib.Path.cwd()
OUT = ROOT / ".bench_build"
sys.path.insert(0, str(HERE))
sys.dont_write_bytecode = True  # the checkout stays as git left it

JVM_TIMEOUT_S = 165
CORPUS_DOCS, CORPUS_VECS = 16_000, 6_400
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def spec():
    return json.loads((ROOT / "BENCHMARK.json").read_text())


def gen_inputs(workload, seed, data):
    import gen_inputs
    data.mkdir(parents=True)
    if workload == "corpus_index":
        gen_inputs.corpus(seed, str(data), CORPUS_DOCS, CORPUS_VECS)


def run_once(workload, seed, seconds, trace):
    """Runs one JVM; returns (attempted, failed, errors, metrics) or raises."""
    import build
    cp = build.build()
    t0_us = time.time_ns() // 1000
    work = OUT / f"run-{workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    try:
        data = work / "data"
        gen_inputs(workload, seed, data)
        # half the cores: the rest keep the JIT compiler, the collector and
        # the listener bus from competing with the measured tasks
        cpus = max(1, (os.cpu_count() or 1) // 2)
        env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
        cmd = (["java", "-XX:+UseParallelGC", "-Xms1g", "-Xmx4g", "-XX:-UsePerfData",
                f"-Djava.io.tmpdir={work / 'tmp'}",
                "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
               + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS]
               + ["-cp", ":".join(cp), "perfbench.Main",
                  "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
                  "--trace", str(trace), "--data", str(data), "--work", str(work),
                  "--cpus", str(cpus), "--t0-us", str(t0_us), "--out", str(work / "result.json")])
        with open(work / "jvm.log", "w") as log:
            try:
                code = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT, env=env,
                                      timeout=JVM_TIMEOUT_S).returncode
            except subprocess.TimeoutExpired:
                raise RuntimeError(f"JVM exceeded {JVM_TIMEOUT_S}s")
        if code != 0 or not (work / "result.json").exists():
            tail = (work / "jvm.log").read_text()[-3000:]
            raise RuntimeError(f"JVM exited with {code}:\n{tail}")
        res = json.loads((work / "result.json").read_text())
        if trace:
            shutil.copy(work / "spans.jsonl", OUT / f"spans-{workload}.jsonl")
        return res["attempted"], res["failed"], res["errors"], res["metrics"]
    finally:
        if (work / "jvm.log").exists():
            shutil.copy(work / "jvm.log", OUT / f"jvm-{workload}.log")
        shutil.rmtree(work, ignore_errors=True)


def single(args):
    sp = spec()
    names = {w["name"] for w in sp["workloads"]}
    if args.workload not in names:
        sys.exit(f"unknown workload {args.workload!r}; expected one of {sorted(names)}")
    try:
        attempted, failed, errors, metrics = run_once(args.workload, args.seed, args.seconds, args.trace)
    except Exception as e:
        sys.exit(f"benchmark run failed: {e}")
    for e in errors:
        print(f"check failed: {e}", file=sys.stderr)
    listed = sp["end_to_end"] + sp["per_layer"] if args.all_metrics else \
        sp["per_layer"] if args.trace else sp["end_to_end"]
    out = {m["name"]: {"value": float(metrics.get(m["name"], 0.0)), "unit": m["unit"]} for m in listed}
    missing = [m["name"] for m in sp["end_to_end"] if m["name"] not in metrics]
    print(json.dumps({"correct": failed == 0 and not missing, "attempted": attempted,
                      "failed": failed, "metrics": out}))


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def repeat(args):
    save = pathlib.Path(args.save or OUT / f"repeat-{args.workload}-t{args.trace}.jsonl")
    save.parent.mkdir(parents=True, exist_ok=True)
    runs = []
    for i in range(args.repeat):
        seed = args.seed_base + i
        r = subprocess.run([sys.executable, str(HERE / "run.py"), "--workload", args.workload,
                            "--seed", str(seed), "--seconds", str(args.seconds),
                            "--trace", str(args.trace), "--all-metrics"],
                           stdout=subprocess.PIPE, text=True)
        if r.returncode != 0:
            sys.exit(f"run with seed {seed} failed")
        line = json.loads(r.stdout.strip().splitlines()[-1])
        line.update(workload=args.workload, seed=seed, trace=args.trace)
        runs.append(line)
        with open(save, "a") as f:
            f.write(json.dumps(line) + "\n")
        print(f"seed {seed}: correct={line['correct']} attempted={line['attempted']} "
              f"failed={line['failed']}", file=sys.stderr)
    bounds = {m["name"]: m.get("bound") for m in spec()["end_to_end"]}
    print(f"{'metric':40s} {'median':>12s} {'q1':>12s} {'q3':>12s} {'iqr/med':>8s} {'bound':>6s}")
    for name in runs[0]["metrics"]:
        xs = [r["metrics"][name]["value"] for r in runs]
        if not any(xs):
            continue  # a layer this workload does not exercise
        q1, med, q3 = quartiles(xs)
        spread = (q3 - q1) / med if med else float("nan")
        b = bounds.get(name)
        print(f"{name:40s} {med:12.4f} {q1:12.4f} {q3:12.4f} {spread:8.3f} "
              f"{'' if b is None else b:>6}")


def compare(args):
    sp = spec()
    e2e = {m["name"]: m for m in sp["end_to_end"]}
    per_layer = {m["name"]: m for m in sp["per_layer"]}

    def load(p):
        by = {}
        for line in pathlib.Path(p).read_text().splitlines():
            r = json.loads(line)
            by.setdefault(r["workload"], []).append(r)
        return by

    a, b = load(args.compare[0]), load(args.compare[1])
    ok = True
    for w in sorted(set(a) & set(b)):
        print(f"== {w}: {len(a[w])} vs {len(b[w])} runs")
        for name in [n for n in a[w][0]["metrics"] if n in e2e or n in per_layer]:
            xa = [r["metrics"][name]["value"] for r in a[w]]
            xb = [r["metrics"][name]["value"] for r in b[w]]
            ma, mb = statistics.median(xa), statistics.median(xb)
            change = (mb - ma) / ma if ma else 0.0
            m = e2e.get(name)
            if m is None:
                print(f"  {name:38s} {ma:12.4f} {mb:12.4f} {change:+8.3f}")
                continue
            worse = -change if m["better"] == "higher" else change
            verdict = "worse" if worse > m["bound"] else "ok"
            ok &= verdict == "ok"
            print(f"  {name:38s} {ma:12.4f} {mb:12.4f} {change:+8.3f}  bound {m['bound']}: {verdict}")
    sys.exit(0 if ok else 1)


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload")
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--all-metrics", action="store_true")
    p.add_argument("--repeat", type=int)
    p.add_argument("--seed-base", type=int, default=1)
    p.add_argument("--save")
    p.add_argument("--compare", nargs=2)
    args = p.parse_args()
    if args.compare:
        return compare(args)
    if not (ROOT / "BENCHMARK.json").exists():
        sys.exit("run from the checkout root: BENCHMARK.json not found")
    if args.seconds is None:
        args.seconds = spec()["run_seconds"]
    if not args.workload:
        sys.exit("--workload is required")
    return repeat(args) if args.repeat else single(args)


if __name__ == "__main__":
    main()
