#!/usr/bin/env python3
"""Layered benchmark for the graft engine: one workload, one fresh JVM.

    python3 perfbench/run.py --workload lake_write --seed 1 --seconds 30 --trace 0

Run from the repository root. The first run builds the program and the
harness with sbt and caches the runtime classpath; every run after that
starts a plain `java` process, so sbt never shows in the numbers.

A run generates its inputs (fixed tables, and for lake_write a MicMac
corpus from --seed), runs one cold pass, one unmeasured settling pass,
and as many measured warm passes as --seconds holds at the workload's
nominal pass time (at least one), verifies every call's cold-pass output
(DuckDB oracle through tools/oracle_check.py, golden hashes, import row
counts), writes a run record to .bench_build/results/, and prints one
JSON line last. With --trace 1 the line carries the per-layer metrics
instead of the end-to-end ones. A failed call or a wrong output makes
the exit code non-zero.

--update-golden rewrites golden.json from this run's hashes instead of
checking them (for a change that is meant to alter a sketch or ANN result).
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen_micmac  # noqa: E402
import gen_tables  # noqa: E402

CONFIG = json.load(open(os.path.join(HERE, "workloads.json")))
CONFIG_BENCH = json.load(open(os.path.join(HERE, "..", "BENCHMARK.json")))
GOLDEN_PATH = os.path.join(HERE, "golden.json")


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def build_dir():
    return os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")


def source_fingerprint():
    """Content hash of everything the build reads; keys the classpath cache
    and identifies the tree in the run record when git is unavailable."""
    files = sorted(glob.glob("src/main/**/*", recursive=True)
                   + glob.glob(os.path.join(HERE, "src/**/*"), recursive=True)
                   + ["build.sbt", "project/build.properties",
                      os.path.join(HERE, "build.sbt")])
    h = hashlib.sha256()
    for f in files:
        if os.path.isfile(f):
            h.update(f.encode())
            h.update(open(f, "rb").read())
    return h.hexdigest()


def ensure_build(out):
    """Compile the program and the harness once; return the classpath."""
    fp = source_fingerprint()
    cp_file = os.path.join(out, "classpath.txt")
    if os.path.exists(cp_file):
        stamp, cp = open(cp_file).read().split("\n", 1)
        if stamp == fp:
            return cp.strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building program and harness with sbt (first run in this checkout)")
    res = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true",
         "export perfbench/Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=840)
    lines = [l for l in res.stdout.splitlines() if l and not l.startswith("[")]
    if res.returncode != 0 or not lines:
        sys.stderr.write(res.stdout[-4000:])
        raise SystemExit("build failed")
    cp = lines[-1].strip()
    os.makedirs(out, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(fp + "\n" + cp)
    return cp


def git_sha():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def java_cmd(cp, main, args, work):
    return (["java"] + CONFIG["jvm_options"]
            + [f"-Djava.io.tmpdir={work}/tmp", "-cp", cp, main]
            + [str(a) for a in args])


def run_jvm(cmd, logf, timeout):
    with open(logf, "ab") as lf:
        proc = subprocess.Popen(cmd, stdout=lf, stderr=lf)
        try:
            return proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit(f"harness timed out, see {logf}")


def percentile(xs, p):
    xs = sorted(xs)
    k = (len(xs) - 1) * p
    lo, hi = int(k), min(int(k) + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def steal_ticks():
    """CPU time the hypervisor gave to other guests (the `steal` column of
    /proc/stat), in clock ticks; host contention shows here."""
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8])
    except (OSError, IndexError, ValueError):
        return None


def layer_metrics(doc):
    """Per-layer metrics: each counter summed over a traced warm pass, then
    the median over traced warm passes."""
    per_pass = {}
    for c in doc["calls"]:
        if c["pass"] == 0 or not c["traced"]:
            continue
        acc = per_pass.setdefault(c["pass"], {})
        for k, v in c["layers"].items():
            acc[k] = acc.get(k, 0.0) + (v or 0.0)
    names = sorted({k for acc in per_pass.values() for k in acc})
    return {k: statistics.median(acc.get(k, 0.0) for acc in per_pass.values())
            for k in names}


def oracle_check(data, vdir, oracle_sql, names):
    """Compare the dumped results with DuckDB through tools/oracle_check.py,
    the repo's own oracle rules; returns one failure line per bad call."""
    with open(os.path.join(vdir, "oracle_sql.json"), "w") as f:
        json.dump(oracle_sql, f)
    res = subprocess.run([sys.executable, "tools/oracle_check.py", data, vdir] + names,
                         stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                         text=True, timeout=120)
    fails = [l[len("FAIL "):] for l in res.stdout.splitlines() if l.startswith("FAIL")]
    if res.returncode != 0 and not fails:
        fails = [f"oracle check exited {res.returncode}: {res.stdout[-500:]}"]
    return fails


def verify(doc, vdir, data, expected, update_golden):
    """Check every call's output; returns (checked, failures)."""
    golden = json.load(open(GOLDEN_PATH)) if os.path.exists(GOLDEN_PATH) else {}
    failures, checked = [], 0
    oracle_names = []
    for v in doc["verify"]:
        name, mode = v["name"], v["mode"]
        if mode == "error":
            continue        # a failed call, counted from doc["calls"]
        if mode == "oracle":
            oracle_names.append(name)
        elif name == "lake_import":
            # the snapshot's edges: one per camera of the chosen rig
            rows = int(v["hash"].split(":")[0])
            if rows != expected["snapshot_rows"]:
                failures.append(f"lake_import: snapshot has {rows} edges, "
                                f"the rig has {expected['snapshot_rows']} cameras")
            else:
                checked += 1
        elif update_golden:
            golden[name] = v["hash"]
        elif name not in golden:
            failures.append(f"{name}: no golden hash recorded")
        elif golden[name] != v["hash"]:
            failures.append(f"{name}: hash {v['hash']} != golden {golden[name]}")
        else:
            checked += 1
    if update_golden:
        with open(GOLDEN_PATH, "w") as f:
            json.dump(dict(sorted(golden.items())), f, indent=1)
            f.write("\n")
    if oracle_names:
        fails = oracle_check(data, vdir, doc["oracle_sql"], oracle_names)
        failures += fails
        checked += len(oracle_names) - len(fails)
    lake = doc.get("lake")
    if lake and "error" in lake:
        failures.append(f"lake_import check: {lake['error']}")
    elif lake:
        if lake["rows"] != lake["expected_rows"]:
            failures.append(f"lake_import: {lake['rows']} rows, generator "
                            f"expects {lake['expected_rows']}")
        if lake["reimport_added"] != 0:
            failures.append(f"lake_import: re-import added {lake['reimport_added']} rows")
    return checked, failures


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(CONFIG["workloads"]))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--update-golden", action="store_true")
    a = ap.parse_args()

    for need in ("build.sbt", "src/main/scala/graft/SparkEntry.scala",
                 "tools/oracle_check.py", gen_micmac.TEMPLATES):
        if not os.path.exists(need):
            raise SystemExit(f"run from the repository root: {need} is missing")
    cpus = os.cpu_count() or 1
    load_start = os.getloadavg()[0]
    steal_start = steal_ticks()
    out = build_dir()
    cp = ensure_build(out)
    data = gen_tables.ensure(os.path.join(out, "tables"))

    work = os.path.join(out, "run")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    wl = CONFIG["workloads"][a.workload]
    calls = wl["calls"]
    # a fixed pass count, so the number of executions a call has had when
    # it is measured does not depend on the machine's speed
    passes = max(1, int(a.seconds // wl["nominal_pass_s"]))
    corpus = expected = None
    if "lake_import" in calls:
        corpus = os.path.join(work, "corpus")
        expected = gen_micmac.generate(a.seed, corpus)
    logf = os.path.join(work, "jvm.log")
    doc_path = os.path.join(work, "harness.json")
    hargs = ["--seed", a.seed, "--passes", passes,
             "--trace", a.trace, "--cpus", cpus, "--data", data,
             "--calls", ",".join(calls), "--work", work,
             "--verify", os.path.join(work, "verify"), "--out", doc_path]
    if corpus:
        hargs += ["--corpus", corpus, "--lake-rows", expected["rows"],
                  "--lake-tree", expected["snapshot_tree"]]

    rc = run_jvm(java_cmd(cp, "graft.perfbench.Harness", hargs, work), logf, 170)
    if rc != 0 or not os.path.exists(doc_path):
        raise SystemExit(f"harness failed (rc {rc}), see {logf}")
    doc = json.load(open(doc_path))

    # pass 0 is cold and pass 1 settles; neither is measured
    measured = [p for p in doc["passes"] if not p["cold"] and not p["settle"]]
    cold = [c for c in doc["calls"] if c["pass"] == 0]
    warm = [c for c in doc["calls"] if c["pass"] in {p["pass"] for p in measured}]
    warm_untraced = [p["wall_s"] for p in measured if not p["traced"]]
    warm_traced = [p["wall_s"] for p in measured if p["traced"]]
    lat = [c["wall_s"] for c in warm]
    checked, failures = verify(doc, os.path.join(work, "verify"), data, expected,
                               a.update_golden)
    failures = [f"{c['name']} (pass {c['pass']}): {c['error']}"
                for c in doc["calls"] if not c["ok"]] + failures
    attempted = len(doc["calls"]) + len(doc["verify"])
    failed = len(failures)

    end_to_end = {
        "setup_s": (doc["setup_s"], "s"),
        "cold_pass_s": (sum(c["wall_s"] for c in cold), "s"),
        "pass_s": (statistics.median(warm_untraced or warm_traced), "s"),
    }
    layers = layer_metrics(doc) if a.trace else {}
    overhead = (statistics.median(warm_traced) - statistics.median(warm_untraced)
                if warm_traced and warm_untraced else None)
    load_end = os.getloadavg()[0]
    steal_end = steal_ticks()
    record = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "git_sha": git_sha(), "source_fingerprint": source_fingerprint(),
        "nproc": cpus, "loadavg_start": load_start, "loadavg_end": load_end,
        "steal_s": ((steal_end - steal_start) / os.sysconf("SC_CLK_TCK")
                    if steal_start is not None and steal_end is not None else None),
        "java_version": doc["java_version"], "spark_version": doc["spark_version"],
        "jvm_options": CONFIG["jvm_options"], "session_confs": doc["session_confs"],
        "call_list": calls,
        "call_order": {p["pass"]: [c["name"] for c in doc["calls"] if c["pass"] == p["pass"]]
                       for p in doc["passes"]},
        "warm_calls": len(lat), "warm_passes": len(warm_untraced) + len(warm_traced),
        "session_s": doc["session_s"],
        "end_to_end": {k: {"value": v, "unit": u} for k, (v, u) in end_to_end.items()},
        # per-call latency is recorded, not declared: a run has 15 to 45
        # warm calls of 3 to 5 distinct calls, so the median is one call's
        # time and p90 has at most five samples beyond it
        "query_p50_s": statistics.median(lat), "query_p90_s": percentile(lat, 0.9),
        # recorded, not declared: with the heap left to grow, G1 sizes it
        # from its own GC timings, and the quartile spread of VmHWM over
        # ten runs of one tree reached 0.27 of the median, above the
        # largest bound a declared metric may have
        "rss_peak_mb": doc["rss_peak_mb"],
        "error_rate": failed / attempted, "checked_outputs": checked,
        "failures": failures,
        "per_layer": layers, "trace_overhead_s": overhead,
        "per_call": doc["calls"], "passes": doc["passes"], "lake": doc.get("lake"),
    }
    os.makedirs(os.path.join(out, "results"), exist_ok=True)
    rec_path = os.path.join(out, "results",
                            f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
    with open(rec_path, "w") as f:
        json.dump(record, f, indent=1)
    if max(load_start, load_end) > cpus:
        log(f"WARNING: load average {max(load_start, load_end):.2f} exceeds nproc "
            f"{cpus}; the numbers are suspect")
    for k, (v, u) in end_to_end.items():
        log(f"{k:>14} = {v:.4f} {u}")
    log(f"{'rss_peak_mb':>14} = {doc['rss_peak_mb']:.1f} MB")
    log(f"{'query_p50_s':>14} = {record['query_p50_s']:.4f} s, p90 "
        f"{record['query_p90_s']:.4f} s over {len(lat)} warm calls")
    log(f"{'error_rate':>14} = {failed / attempted:.4f} ({failed}/{attempted}); "
        f"record {rec_path}")
    if overhead is not None:
        log(f"tracing overhead per pass: {overhead:+.4f} s")
    for f_ in failures:
        log(f"FAIL {f_}")

    if a.trace:
        metrics = {d["name"]: {"value": layers.get(d["name"], 0.0), "unit": d["unit"]}
                   for d in CONFIG_BENCH["per_layer"]}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in end_to_end.items()}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()
