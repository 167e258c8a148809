#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout of the repository.  The first run builds the
engine and the harness from source (sbt, into the checkout); later runs reuse
the build while the sources are unchanged.  Each run generates its inputs
from the seed, starts one harness JVM (a Spark session with as many task
threads as the process may use cores), measures for the given seconds in a
closed loop (each operation starts when the previous one has completed),
checks the outputs against computations made apart from the engine, and
prints `{"correct", "attempted", "failed", "metrics"}` as its last line.
With `--trace 1` the metrics are the per-layer ones, and the spans and
per-layer metrics are also written to `.bench_build/perfbench/trace-*.json`.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("etl_backfill", "cdc_upsert", "corpus_dedup")

# Input sizes per workload (see README.md for what they make up).
SIZES = {
    "etl_backfill": {"events_per_month": 40_000, "query_groups": 32},
    "cdc_upsert": {"base_keys": 2_000, "rounds": 16, "set_size": 60},
    "corpus_dedup": {"docs": 8_000},
}

# Span name -> span-specific metrics (name in output, key in the harness).
SPANS = {
    "operators.EventsEtl.loadBatch": {"rows_written": "records_written",
                                      "files_written": "files_written"},
    "sources.TableManager.extract": {"files_read": "files_read", "files_total": "files_total"},
    "operators.Wau.wau": {},
    "operators.Wau.wauApprox": {},
    "sources.GraftSqlDml.exec": {"files_rewritten": "files_rewritten",
                                 "occ_retries": "occ_retries"},
    "sources.GraftCatalog.read": {},
    "sources.SnapshotLog.history": {"versions": "versions"},
    "sources.GraftLogSink.trigger": {"add_batch_s": "add_batch_s", "wal_commit_s": "wal_commit_s",
                                     "query_planning_s": "query_planning_s",
                                     "latest_offset_s": "latest_offset_s"},
    "operators.Dedup.exactGroups": {},
    "operators.Dedup.ngramJaccardPairsViaMinhash": {"candidates": "candidates",
                                                    "verified_pairs": "verified_pairs"},
    "operators.Dedup.connectedComponentsWithRounds": {"rounds": "rounds"},
}
SPAN_METRICS = ("wall_s", "calls", "jobs", "tasks", "plan_s", "exec_cpu_s", "gc_s",
                "shuffle_mb", "spill_mb", "gap_s")
E2E_UNITS = {"setup_s": "s", "peak_rss_mb": "MB", "op_s": "s", "work_per_s": "1/s"}

# JDK module opens Spark needs outside spark-submit (as in the root build).
ADD_OPENS = [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for x in ("--add-opens", p + "=ALL-UNNAMED")]
HEAP = "2g"
# a traced run is correct only if every span's jobs lie inside the span, up
# to this much job time outside it (listener event times are whole
# milliseconds, taken on the scheduler's thread)
GAP_TOLERANCE_S = 0.05
JVM_TIMEOUT_S = 150


def unit_of(metric):
    if metric.endswith("_s"):
        return "s"
    if metric.endswith("_mb"):
        return "MB"
    return "count"


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of everything the build reads: engine sources and build files,
    and the harness sources and build files."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(HERE, "harness")]
    files = [os.path.join(ROOT, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x != "target")
            files += [os.path.join(d, n) for n in names
                      if n.endswith((".scala", ".java", ".sbt", ".properties"))]
    for f in sorted(files):
        h.update(f[len(ROOT):].encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the engine and the harness; return the harness classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        die(f"no engine sources next to {os.path.basename(HERE)}/ (run from a repository checkout)")
    os.makedirs(BUILD, exist_ok=True)
    stamp, cp_file = os.path.join(BUILD, "build.stamp"), os.path.join(BUILD, "classpath.txt")
    want = source_stamp()
    if os.path.exists(stamp) and os.path.exists(cp_file) and open(stamp).read() == want:
        return open(cp_file).read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as f:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"],
                           cwd=os.path.join(HERE, "harness"), env=env, stdout=f,
                           stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL, timeout=840)
    lines = open(log).read().strip().splitlines()
    if r.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        die(f"build failed (exit {r.returncode}); see {log}")
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp, "w") as f:
        f.write(want)
    return lines[-1].strip()


def peak_rss_mb(pid):
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return float("nan")


def run_jvm(cp, workload, work, seconds, trace, cores, run_id):
    """Start the harness, time its set-up, read its peak RSS once its
    results are written, then let it stop.  Returns (setup_jvm_s, rss_mb)."""
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # a fixed heap size, so peak RSS follows the pages the run touches and
    # not the collector's resizing decisions
    cmd = [java, f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC", *ADD_OPENS, "-cp", cp, "perfbench.Main",
           "--workload", workload, "--work", work, "--seconds", str(seconds),
           "--trace", str(trace), "--cores", str(cores), "--run", run_id]
    t0 = time.monotonic()
    with open(os.path.join(work, "jvm.log"), "w") as err:
        p = subprocess.Popen(cmd, stdin=subprocess.PIPE, stdout=subprocess.PIPE, stderr=err,
                             text=True, cwd=work)
        timer = threading.Timer(JVM_TIMEOUT_S, p.kill)
        timer.start()
        setup, rss = None, None
        try:
            for line in p.stdout:
                if line.startswith("PERFBENCH_SETUP_DONE"):
                    setup = time.monotonic() - t0
                elif line.startswith("PERFBENCH_DONE"):
                    rss = peak_rss_mb(p.pid)
                    p.stdin.close()
            code = p.wait()
        finally:
            timer.cancel()
            if p.poll() is None:
                p.kill()
                p.wait()
    if code != 0 or setup is None or rss is None:
        die(f"harness failed (exit {code}); see {os.path.join(work, 'jvm.log')}")
    return setup, rss


CDC_DML = ("merge", "update", "delete")
CDC_KINDS = CDC_DML + ("trigger", "latest", "as_of", "history")


def end_to_end(workload, res, setup_s, rss):
    s, tot = res["samples"], res["totals"]
    if workload == "etl_backfill":
        op, work = statistics.median(s["query_s"]), tot["events"] / sum(s["load_s"])
    elif workload == "cdc_upsert":
        # per kind of step the median latency, so that neither figure
        # depends on the kind of step a run happens to end on: the mean of
        # the three DML kinds' medians, and the operations per second of a
        # round that takes each kind's median
        med = {k: statistics.median(s[k + "_s"]) for k in CDC_KINDS}
        op = statistics.fmean(med[k] for k in CDC_DML)
        work = len(CDC_KINDS) / sum(med.values())
    else:
        op, work = statistics.median(s["pass_s"]), tot["docs"] / sum(s["pass_s"])
    return {"setup_s": setup_s, "peak_rss_mb": rss, "op_s": op, "work_per_s": work}


def per_layer(res):
    out = {}
    for span, extra in SPANS.items():
        m = res["layers"].get(span, {})
        for k in SPAN_METRICS:
            out[f"{span}.{k}"] = m.get(k, 0.0)
        for name, key in extra.items():
            out[f"{span}.{name}"] = m.get(key, 0.0)
    return out


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--keep", action="store_true", help="keep the run's directory")
    a = ap.parse_args(argv)

    cp = build()
    run_id = f"{a.workload}-{a.seed}-{a.trace}"
    work = os.path.join(BUILD, "run-" + run_id)
    shutil.rmtree(work, ignore_errors=True)
    t0 = time.monotonic()
    truth = gen.generate(a.workload, a.seed, os.path.join(work, "in"), SIZES[a.workload])
    gen_s = time.monotonic() - t0
    cores = len(os.sched_getaffinity(0))
    jvm_setup_s, rss = run_jvm(cp, a.workload, work, a.seconds, a.trace, cores, run_id)
    with open(os.path.join(work, "out", "result.json")) as f:
        res = json.load(f)
    t1 = time.monotonic()
    problems = checks.check(a.workload, truth, work)
    if a.trace and res["gap_residual_s"] > GAP_TOLERANCE_S:
        problems.append(f"trace: {res['gap_residual_s']:.3f} s of a span's job time lies outside "
                        f"the span (tolerance {GAP_TOLERANCE_S} s)")
    print(f"perfbench: {run_id}: inputs {gen_s:.1f} s, set-up in the JVM {jvm_setup_s:.1f} s, "
          f"loop {res['loop_s']:.1f} s in {res['steps']} steps, checks {time.monotonic() - t1:.1f} s",
          file=sys.stderr)
    for p in problems:
        print(f"perfbench: check failed: {p}", file=sys.stderr)
    e2e = end_to_end(a.workload, res, gen_s + jvm_setup_s, rss)
    if a.trace:
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in per_layer(res).items()}
        with open(os.path.join(BUILD, f"trace-{run_id}.json"), "w") as f:
            json.dump({"workload": a.workload, "seed": a.seed, "end_to_end": e2e,
                       "gap_residual_s": res["gap_residual_s"], "layers": res["layers"],
                       "spans": res["spans"]}, f, indent=1)
    else:
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()}
    if not a.keep:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": not problems, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
