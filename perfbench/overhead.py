#!/usr/bin/env python3
"""Tracing overhead: traced minus untraced end-to-end figures, per workload.

    python3 perfbench/overhead.py

Runs each workload once with tracing off and once with it on, with the same
seed and the run length of `BENCHMARK.json`, and prints (and writes to
`.bench_build/perfbench/overhead.json`) the end-to-end metrics of both runs
and their difference, together with the traced run's gap residual: the
largest job time, over all spans, that lies outside the span its jobs are
attributed to (0 when every span's jobs lie inside it).
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402

SEED = 11


def main():
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        seconds = json.load(f)["run_seconds"]
    report = {}
    for w in run.WORKLOADS:
        res = {}
        for trace in (0, 1):
            r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                                "--seed", str(SEED), "--seconds", str(seconds),
                                "--trace", str(trace)], capture_output=True, text=True)
            if r.returncode != 0:
                sys.exit(f"{w} trace={trace} failed:\n{r.stderr[-2000:]}")
            res[trace] = json.loads(r.stdout.strip().splitlines()[-1])
        with open(os.path.join(run.BUILD, f"trace-{w}-{SEED}-1.json")) as f:
            traced = json.load(f)
        untraced = {k: v["value"] for k, v in res[0]["metrics"].items()}
        report[w] = {
            "untraced": untraced,
            "traced": traced["end_to_end"],
            "traced_minus_untraced": {k: traced["end_to_end"][k] - untraced[k] for k in untraced},
            "gap_residual_s": traced["gap_residual_s"],
            "correct": res[0]["correct"] and res[1]["correct"],
        }
        print(json.dumps({w: report[w]}))
    with open(os.path.join(run.BUILD, "overhead.json"), "w") as f:
        json.dump(report, f, indent=1)


if __name__ == "__main__":
    main()
