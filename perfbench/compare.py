#!/usr/bin/env python3
"""Parent-vs-change comparison with the benchmark's own bounds.

    python3 perfbench/compare.py --parent ../parent --change . [--pairs 10]
        [--workloads lake_write,stream] [--seconds 5] [--first-seed 1]

Both trees are measured with this directory's benchmark code (it is copied
into the parent tree when the parent's copy differs), the same settings and
the same seeds. Pair i uses seed first_seed + i on both sides and alternates
which side runs first. Each run is a fresh `run.py` process with tracing off.

For every workload and end-to-end metric the report gives each side's
median and quartiles and a verdict:

- better: at least ten pairs ran, the change wins at least nine tenths of
  them (ties count for neither), and the medians differ by more than the
  parent's quartile spread;
- worse: the change's median is worse than the parent's by more than the
  metric's bound;
- unresolved: the parent's quartile spread exceeds the bound, unless every
  change run beats every parent run;
- same: none of the above.

A run that fails or gives a wrong result is counted for its side; the pair
it belongs to is left out of the timings. A workload on which the change
has more failed runs than the parent gets the verdict "failed" on every
metric.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = json.load(open(os.path.join(HERE, "..", "BENCHMARK.json")))


def sync_benchmark(tree):
    """Make `tree` run this benchmark code, whatever copy it holds."""
    dst = os.path.join(tree, "perfbench")
    if os.path.abspath(dst) != HERE:
        ignore = shutil.ignore_patterns("target", "__pycache__")
        shutil.copytree(HERE, dst, ignore=ignore, dirs_exist_ok=True)
        shutil.copy(os.path.join(HERE, "..", "BENCHMARK.json"), tree)


def one_run(tree, workload, seed, seconds):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    try:
        res = subprocess.run(cmd, cwd=tree, stdout=subprocess.PIPE, text=True,
                             timeout=1200)
        doc = json.loads(res.stdout.strip().splitlines()[-1])
        ok = res.returncode == 0 and doc.get("correct")
    except (subprocess.TimeoutExpired, IndexError, ValueError):
        ok = False
    if not ok:
        print(f"  {tree} {workload} seed {seed}: run failed", file=sys.stderr)
        return None
    return {k: v["value"] for k, v in doc["metrics"].items()}


def quart(xs):
    q = statistics.quantiles(xs, n=4) if len(xs) > 1 else [xs[0]] * 3
    return q[0], q[1], q[2]


def verdict(metric, parent, change, pairs):
    lower = metric["better"] == "lower"
    bound = metric["bound"]
    p1, pm, p3 = quart(parent)
    c1, cm, c3 = quart(change)
    wins = sum(1 for p, c in pairs if (c < p if lower else c > p))
    spread = p3 - p1
    worse_by = (cm - pm) / pm if lower else (pm - cm) / pm
    all_better = (max(change) < min(parent)) if lower else (min(change) > max(parent))
    if len(pairs) >= 10 and wins >= 0.9 * len(pairs) and abs(cm - pm) > spread:
        v = "better"
    elif worse_by > bound:
        v = "worse"
    elif spread / pm > bound and not all_better:
        v = "unresolved"
    else:
        v = "same"
    return {"parent": [p1, pm, p3], "change": [c1, cm, c3], "wins": wins,
            "pairs": len(pairs), "parent_spread": spread / pm,
            "change_vs_parent": -worse_by, "verdict": v}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--parent", required=True)
    ap.add_argument("--change", default=".")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in BENCH["workloads"]))
    ap.add_argument("--seconds", type=int, default=BENCH["run_seconds"])
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--out", default=os.path.join(".bench_build", "compare.json"))
    a = ap.parse_args()
    trees = {"parent": os.path.abspath(a.parent), "change": os.path.abspath(a.change)}
    for t in trees.values():
        sync_benchmark(t)
    report = {}
    for w in a.workloads.split(","):
        runs = {"parent": [], "change": []}
        failed = {"parent": 0, "change": 0}
        for i in range(a.pairs):
            seed = a.first_seed + i
            order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
            got = {side: one_run(trees[side], w, seed, a.seconds) for side in order}
            for side in order:
                failed[side] += got[side] is None
            if all(got.values()):
                for side in order:
                    runs[side].append(got[side])
        report[w] = {"failed_runs": failed}
        if not runs["parent"]:
            report[w]["error"] = "no complete pair"
            continue
        for m in BENCH["end_to_end"]:
            n = m["name"]
            p = [r[n] for r in runs["parent"]]
            c = [r[n] for r in runs["change"]]
            report[w][n] = verdict(m, p, c, list(zip(p, c)))
            if failed["change"] > failed["parent"]:
                report[w][n]["verdict"] = "failed"
    os.makedirs(os.path.dirname(os.path.abspath(a.out)), exist_ok=True)
    with open(a.out, "w") as f:
        json.dump(report, f, indent=1)
    print(f"{'workload':<14}{'metric':<14}{'parent median [q1,q3]':<30}"
          f"{'change median [q1,q3]':<30}{'wins':>7}  verdict")
    for w, rows in report.items():
        f = rows["failed_runs"]
        print(f"{w:<14}failed runs: parent {f['parent']}, change {f['change']}")
        for n, r in rows.items():
            if n == "failed_runs":
                continue
            if n == "error":
                print(f"{w:<14}{r}")
                continue
            fmt = lambda q: f"{q[1]:.4g} [{q[0]:.4g},{q[2]:.4g}]"
            print(f"{w:<14}{n:<14}{fmt(r['parent']):<30}{fmt(r['change']):<30}"
                  f"{r['wins']:>3}/{r['pairs']:<3}  {r['verdict']}")


if __name__ == "__main__":
    main()
