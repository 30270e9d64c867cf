#!/usr/bin/env python3
"""Steadiness, tracing-overhead and paired A/B runs of the benchmark.

Run from the repository root.

    # N runs per workload, each with another seed: median, quartiles and
    # spread ((q3 - q1) / median) of every end-to-end metric
    python3 perfbench/ab.py steady --runs 10 [--workload W ...]

    # traced runs next to untraced ones: every per-layer metric, and the
    # tracing overhead (traced unit_s / untraced unit_s - 1)
    python3 perfbench/ab.py overhead --runs 3 [--workload W ...]

    # alternating base/change pairs on the same seeds: per metric, the
    # median of each side and the change/base ratio of the medians. The
    # base tree is `git archive <ref>` plus this checkout's perfbench/.
    python3 perfbench/ab.py pair --base-ref HEAD~1 --pairs 5 [--workload W ...]

Run i uses seed i (from 1) and the run_seconds of BENCHMARK.json. Raw
results are appended as JSON lines to perfbench/.work/ab-<mode>.jsonl.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")


def one(tree, workload, seed, seconds, trace):
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=tree, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-3000:])
        raise SystemExit("run failed: %s seed %d" % (workload, seed))
    return json.loads(p.stdout.strip().splitlines()[-1])


def summary(rows):
    out = {}
    for name in rows[0]["metrics"]:
        v = [r["metrics"][name]["value"] for r in rows]
        med = statistics.median(v)
        q = statistics.quantiles(v, n=4) if len(v) > 1 else [v[0]] * 3
        out[name] = {"median": med, "q1": q[0], "q3": q[2],
                     "spread": (q[2] - q[0]) / med if med else 0.0,
                     "unit": rows[0]["metrics"][name]["unit"]}
    return out


def log_rows(mode, rows):
    os.makedirs(WORK, exist_ok=True)
    with open(os.path.join(WORK, "ab-%s.jsonl" % mode), "a") as fh:
        for r in rows:
            fh.write(json.dumps(r) + "\n")


def steady(a):
    for w in a.workload:
        rows = []
        for i in range(a.runs):
            r = one(ROOT, w, 1 + i, a.seconds, 0)
            r["workload"], r["seed"] = w, 1 + i
            rows.append(r)
            print("%s seed %d: correct=%s" % (w, 1 + i, r["correct"]),
                  file=sys.stderr, flush=True)
        log_rows("steady", rows)
        print("== %s: %d runs, all correct: %s"
              % (w, len(rows), all(r["correct"] for r in rows)))
        for name, s in summary(rows).items():
            print("  %-16s median %12.3f %-5s q1 %12.3f q3 %12.3f spread %.3f"
                  % (name, s["median"], s["unit"], s["q1"], s["q3"], s["spread"]))


def overhead(a):
    for w in a.workload:
        plain, traced = [], []
        for i in range(a.runs):
            plain.append(one(ROOT, w, 1 + i, a.seconds, 0))
            traced.append(one(ROOT, w, 1 + i, a.seconds, 1))
        log_rows("overhead", plain + traced)
        u0 = statistics.median(r["metrics"]["unit_s"]["value"] for r in plain)
        u1 = statistics.median(r["metrics"]["trace.unit_s"]["value"] for r in traced)
        print("== %s: unit_s untraced %.3f s, traced %.3f s, tracing overhead %+.1f%%"
              % (w, u0, u1, 100 * (u1 / u0 - 1)))
        for name, s in summary(traced).items():
            print("  %-44s %14.4f %s" % (name, s["median"], s["unit"]))


def base_tree(ref):
    """`git archive ref` with this checkout's benchmark copied in."""
    tree = os.path.join(WORK, "base")
    shutil.rmtree(tree, ignore_errors=True)
    os.makedirs(tree)
    arc = subprocess.run(["git", "archive", ref], cwd=ROOT, check=True,
                         stdout=subprocess.PIPE).stdout
    subprocess.run(["tar", "-x", "-C", tree], input=arc, check=True)
    shutil.rmtree(os.path.join(tree, "perfbench"), ignore_errors=True)
    shutil.copytree(HERE, os.path.join(tree, "perfbench"),
                    ignore=shutil.ignore_patterns(".work", "target", ".bsp"))
    return tree


def pair(a):
    base = base_tree(a.base_ref)
    for w in a.workload:
        rows = {"base": [], "change": []}
        for i in range(a.pairs):
            seed = 1 + i
            # alternate which side goes first so drift cancels
            order = [("base", base), ("change", ROOT)]
            for side, tree in (order if i % 2 == 0 else order[::-1]):
                r = one(tree, w, seed, a.seconds, 0)
                r["side"], r["workload"], r["seed"] = side, w, seed
                rows[side].append(r)
        log_rows("pair", rows["base"] + rows["change"])
        sb, sc = summary(rows["base"]), summary(rows["change"])
        print("== %s: %d pairs" % (w, a.pairs))
        for name in sb:
            b, c = sb[name]["median"], sc[name]["median"]
            print("  %-16s base %12.3f change %12.3f ratio %.3f %s"
                  % (name, b, c, c / b if b else float("nan"), sb[name]["unit"]))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("mode", choices=["steady", "overhead", "pair"])
    ap.add_argument("--workload", action="append")
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--pairs", type=int, default=5)
    ap.add_argument("--base-ref", default="HEAD~1")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    a.workload = a.workload or [w["name"] for w in spec["workloads"]]
    a.seconds = spec["run_seconds"]
    {"steady": steady, "overhead": overhead, "pair": pair}[a.mode](a)


if __name__ == "__main__":
    main()
