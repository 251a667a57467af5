#!/usr/bin/env python3
"""Paired A/B of the repository benchmark: a base revision against the
current tree, on the same host, in alternating order.

Usage, from the root of the checkout:

    python3 tools/ab_pairs.py BASE_REV --workload cold_pipeline --pairs 10

The base revision's committed files are exported (`git archive`) into a
temporary directory, so the base runs exactly what is committed there, as
the benchmark does, and nothing is registered in the repository. Pair i
runs `perfbench/run.py --seed i` once in each tree, for the run length
BENCHMARK.json sets; the side that runs first alternates from pair to
pair, so drift in the host (thermal, neighbours) falls on both sides
alike. Each tree builds itself on its first run.

For every metric the workload reports (the end-to-end ones of
BENCHMARK.json, or the per-layer ones with --trace 1) it prints each
side's median, quartiles and IQR/median, the change of the median in %,
and how many pairs the current tree won. It then prints, for every timed
call, each side's median over the pairs of the run's own median latency,
read from the run's record (`.bench_build/records/`, its `samples`), so
an untraced A/B still shows which call moved: `query_p90_ms` is a
Harrell-Davis mix of a run's slowest calls. `--json PATH` also writes
every run's metrics and per-call medians. Exits 1 if any run failed or
failed its checks.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def export_rev(rev, dest):
    """The committed files of `rev`, written under `dest`."""
    archive = subprocess.run(["git", "archive", "--format=tar", rev], cwd=ROOT,
                             stdout=subprocess.PIPE, check=True).stdout
    subprocess.run(["tar", "-x", "-C", dest], input=archive, check=True)


def call_medians(tree, workload, seed, trace):
    """Median latency in ms of each timed call of the run just recorded in `tree`."""
    path = os.path.join(tree, ".bench_build", "records",
                        f"{workload}-seed{seed}-trace{trace}.json")
    with open(path) as f:
        samples = json.load(f)["samples"]
    return {name: statistics.median(xs) * 1e3 for name, xs in samples.items() if xs}


def run_once(tree, workload, seed, seconds, trace):
    """One benchmark run in `tree`: (metric values or None, failure or None)."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=tree, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                          text=True)
    lines = proc.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1])
    except (IndexError, ValueError):
        return None, f"exit {proc.returncode}, no result line: {proc.stderr[-2000:]}"
    values = {n: m["value"] for n, m in result["metrics"].items()}
    if proc.returncode != 0 or not result["correct"]:
        failed = [l.strip() for l in lines if l.strip().startswith("FAILED")]
        return values, f"exit {proc.returncode}, {result['failed']} failed: {failed[:5]}"
    return values, None


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("base", help="base revision (commit, tag or branch)")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--json", help="write every run's metrics here")
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    better = {m["name"]: m["better"] for m in spec["end_to_end"] + spec["per_layer"]}
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}

    tmp = tempfile.mkdtemp(prefix="ab_pairs-")
    base_tree = os.path.join(tmp, "base")
    os.makedirs(base_tree)
    runs = {"base": [], "current": []}
    calls = {"base": [], "current": []}
    failures = []
    try:
        export_rev(a.base, base_tree)
        trees = {"base": base_tree, "current": ROOT}
        for seed in range(1, a.pairs + 1):
            order = ("base", "current") if seed % 2 else ("current", "base")
            for side in order:
                t0 = time.time()
                values, failure = run_once(trees[side], a.workload, seed,
                                           spec["run_seconds"], a.trace)
                print(f"[ab] pair {seed} {side}: {time.time() - t0:.0f} s"
                      + (f" FAILED {failure}" if failure else ""), file=sys.stderr, flush=True)
                if failure:
                    failures.append(f"pair {seed} {side}: {failure}")
                runs[side].append(None if failure else values)
                calls[side].append(None if failure else
                                   call_medians(trees[side], a.workload, seed, a.trace))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    pairs = [(b, c) for b, c in zip(runs["base"], runs["current"]) if b and c]
    names = sorted(set().union(*(set(b) & set(c) for b, c in pairs))) if pairs else []
    print(f"{a.workload}, trace {a.trace}: base {a.base} vs current tree, "
          f"{len(pairs)}/{a.pairs} complete pairs")
    print(f"{'metric':44} {'base median [q1, q3] iqr/med':>40} "
          f"{'current median [q1, q3] iqr/med':>40} {'change':>8} {'wins':>6}")
    for name in names:
        b = [p[0][name] for p in pairs]
        c = [p[1][name] for p in pairs]
        bq, cq = quartiles(b), quartiles(c)
        lower = better.get(name, "lower") == "lower"
        wins = sum((y < x) if lower else (y > x) for x, y in zip(b, c))

        def fmt(q):
            rel = (q[2] - q[0]) / q[1] if q[1] else 0.0
            return f"{q[1]:.4g} [{q[0]:.4g}, {q[2]:.4g}] {rel:.3f}"
        change = (cq[1] - bq[1]) / bq[1] * 100 if bq[1] else 0.0
        beyond = " >IQR" if abs(cq[1] - bq[1]) > bq[2] - bq[0] else ""
        print(f"{name + ' (' + units.get(name, '?') + ')':44} {fmt(bq):>40} {fmt(cq):>40} "
              f"{change:+7.1f}% {wins:>3}/{len(pairs)}{beyond}")
    call_pairs = [(b, c) for b, c in zip(calls["base"], calls["current"]) if b and c]
    call_names = sorted(set().union(*(set(b) & set(c) for b, c in call_pairs))) \
        if call_pairs else []
    print(f"\n{'timed call, median of the run medians':44} {'base ms':>10} {'current ms':>10}"
          f" {'change':>8} {'wins':>6}")
    for name in call_names:
        b = statistics.median(p[0][name] for p in call_pairs)
        c = statistics.median(p[1][name] for p in call_pairs)
        wins = sum(p[1][name] < p[0][name] for p in call_pairs)
        change = (c - b) / b * 100 if b else 0.0
        print(f"{name:44} {b:10.1f} {c:10.1f} {change:+7.1f}% {wins:>3}/{len(call_pairs)}")
    for fl in failures:
        print(f"FAILED {fl}")
    if a.json:
        with open(a.json, "w") as f:
            json.dump({"base": a.base, "workload": a.workload, "trace": a.trace,
                       "runs": runs, "calls": calls, "failures": failures}, f,
                      indent=1, sort_keys=True)
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
