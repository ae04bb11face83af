#!/usr/bin/env python3
"""Alternating parent/change benchmark pairs, judged by the repository's bounds.

Usage:

    python3 scripts/ab_pairs.py --parent DIR --change DIR --workload W --seeds A-B \
        [--traced-seed N] [--json FILE]

DIR is the root of a checkout (a copy of the parent commit made with
`git archive <commit> | tar -x -C DIR`, and the working tree of the change).
For each seed from A to B, one pair of runs of `perfbench/run.py` (untraced,
`run_seconds` from BENCHMARK.json), one in each checkout; the side that runs
first alternates from pair to pair. Runs are sequential: nothing else should
run meanwhile.

For each end-to-end metric in BENCHMARK.json it prints each side's median and
quartiles, the pairs the change won (ties count for neither), and two
verdicts:

- claim: `gain` when the change won at least 9/10 of the pairs and the
  medians differ, in the better direction, by more than the parent's
  interquartile range; otherwise `no gain`.
- bound: `worse` when the change's median is worse than the parent's by more
  than the metric's bound; `unresolved` when the parent's own spread (IQR
  over median) is wider than the bound, unless every change run reads better
  than every parent run; otherwise `within`.

It also prints each side's `failed_ratio` (from the `perfbench report`
line). With `--traced-seed N`, it then runs one traced run (`--trace 1`) per
side at seed N and prints every per-layer `engine.*`, `pipeline.*` and `api.*`
counter (a BENCHMARK.json per-layer metric counted in `count` or `bytes`, such
as jobs, stages or tasks per generation, or shuffle, input or output bytes)
whose two values differ. Counters are identical from run to run, so equal
counters show that a change runs the same Spark work. It reads BENCHMARK.json
and perfbench/ and writes neither.
"""
import argparse
import json
import math
import os
import statistics
import subprocess
import sys


COUNTER_UNITS = ("count", "bytes")
COUNTER_LAYERS = ("engine.", "pipeline.", "api.")


def run(root, workload, seed, seconds, trace=0):
    """One run in checkout `root`: its metrics, correctness, failed_ratio and peak RSS, or None on failure."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=root, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                          text=True, stdin=subprocess.DEVNULL)
    lines = proc.stdout.splitlines()
    if proc.returncode != 0 or not lines or not lines[-1].startswith("{"):
        sys.stderr.write(f"  run failed in {root} (exit {proc.returncode}): {proc.stderr[-2000:]}\n")
        return None
    result = json.loads(lines[-1])
    report = next((json.loads(l[len("perfbench report "):]) for l in lines
                   if l.startswith("perfbench report ")), {})
    metrics = {k: v["value"] for k, v in result["metrics"].items()}
    return {"metrics": metrics, "correct": result.get("correct"),
            "failed_ratio": report.get("failed_ratio"), "peak_rss_mb": report.get("peak_rss_mb")}


def quartiles(xs):
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive") if len(xs) > 1 else (xs[0],) * 3
    return q1, q2, q3


def judge(parent, change, better, bound):
    """Claim and bound verdicts for one metric over paired runs."""
    sign = 1.0 if better == "higher" else -1.0
    wins = sum(1 for p, c in zip(parent, change) if sign * (c - p) > 0)
    pq1, pmed, pq3 = quartiles(parent)
    cq1, cmed, cq3 = quartiles(change)
    iqr = pq3 - pq1
    gap = sign * (cmed - pmed)
    claim = "gain" if wins >= math.ceil(0.9 * len(parent)) and gap > iqr else "no gain"
    worse_by = -gap / abs(pmed) if pmed else 0.0
    all_better = min(sign * c for c in change) > max(sign * p for p in parent)
    if worse_by > bound:
        verdict = "worse"
    elif pmed and iqr / abs(pmed) > bound and not all_better:
        verdict = "unresolved"
    else:
        verdict = "within"
    return {"parent": (pq1, pmed, pq3), "change": (cq1, cmed, cq3), "wins": wins,
            "gap": gap, "parent_iqr": iqr, "claim": claim, "bound": verdict}


def seeds(spec):
    a, _, b = spec.partition("-")
    lo, hi = int(a), int(b or a)
    if hi < lo:
        raise argparse.ArgumentTypeError("seeds: A-B with A <= B")
    return list(range(lo, hi + 1))


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--parent", required=True)
    ap.add_argument("--change", required=True)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, type=seeds)
    ap.add_argument("--traced-seed", type=int,
                    help="after the pairs, one traced run per side at this seed; print the counters that differ")
    ap.add_argument("--json", help="also write every run and verdict to this file")
    a = ap.parse_args()
    roots = {"parent": os.path.abspath(a.parent), "change": os.path.abspath(a.change)}
    specs = {}
    for side, root in roots.items():
        with open(os.path.join(root, "BENCHMARK.json")) as fh:
            specs[side] = json.load(fh)
    if specs["parent"] != specs["change"]:
        print("warning: the two checkouts' BENCHMARK.json differ; using the change's", file=sys.stderr)
    bench = specs["change"]
    if a.workload not in [w["name"] for w in bench["workloads"]]:
        ap.error(f"workload {a.workload} is not in BENCHMARK.json")

    runs = {"parent": [], "change": []}
    for k, seed in enumerate(a.seeds):
        order = ("parent", "change") if k % 2 == 0 else ("change", "parent")
        pair = {}
        for side in order:
            pair[side] = run(roots[side], a.workload, seed, bench["run_seconds"])
            got = pair[side]
            print(f"seed {seed} {side}: " + (json.dumps(got["metrics"]) + f" failed_ratio={got['failed_ratio']}"
                                             if got else "FAILED"), file=sys.stderr, flush=True)
        if all(pair.values()):
            for side in runs:
                runs[side].append(pair[side])
    if not runs["parent"]:
        sys.exit("no complete pair")

    n = len(runs["parent"])
    print(f"{a.workload}: {n} complete pairs of {len(a.seeds)}, seeds {a.seeds[0]}-{a.seeds[-1]}")
    print(f"{'metric':<14}{'parent q1/med/q3':>30}{'change q1/med/q3':>30}{'wins':>7}"
          f"{'gap':>10}{'par IQR':>10}  claim    bound")
    verdicts = {}
    for m in bench["end_to_end"]:
        name = m["name"]
        v = judge([r["metrics"][name] for r in runs["parent"]],
                  [r["metrics"][name] for r in runs["change"]], m["better"], m["bound"])
        verdicts[name] = v
        fmt = lambda q: "/".join(f"{x:.3g}" for x in q)
        print(f"{name:<14}{fmt(v['parent']):>30}{fmt(v['change']):>30}{v['wins']:>4}/{n:<2}"
              f"{v['gap']:>10.3g}{v['parent_iqr']:>10.3g}  {v['claim']:<8} {v['bound']}")
    for side in ("parent", "change"):
        fr = [r["failed_ratio"] for r in runs[side]]
        rss = [r["peak_rss_mb"] for r in runs[side] if r["peak_rss_mb"] is not None]
        print(f"{side}: failed_ratio max {max(fr)} mean {statistics.mean(fr):.4f}; all correct "
              f"{all(r['correct'] for r in runs[side])}; peak_rss_mb median "
              f"{statistics.median(rss) if rss else 'n/a'}")
    traced = {}
    if a.traced_seed is not None:
        counters = [m["name"] for m in bench["per_layer"]
                    if m["unit"] in COUNTER_UNITS and m["name"].startswith(COUNTER_LAYERS)]
        for side in ("parent", "change"):
            traced[side] = run(roots[side], a.workload, a.traced_seed, bench["run_seconds"], trace=1)
        if not all(traced.values()):
            sys.exit(f"traced run at seed {a.traced_seed} failed")
        got = {side: {k: t["metrics"][k] for k in counters if k in t["metrics"]} for side, t in traced.items()}
        names = sorted(set(got["parent"]) | set(got["change"]))
        differ = [k for k in names if got["parent"].get(k) != got["change"].get(k)]
        print(f"traced seed {a.traced_seed}: {len(names) - len(differ)} of {len(names)} counters equal")
        for k in differ:
            print(f"  {k:<40}{got['parent'].get(k, 'absent')!s:>20}{got['change'].get(k, 'absent')!s:>20}")
    if a.json:
        with open(a.json, "w") as fh:
            json.dump({"workload": a.workload, "seeds": a.seeds, "runs": runs, "verdicts": verdicts,
                       "traced": traced}, fh, indent=1)


if __name__ == "__main__":
    main()
