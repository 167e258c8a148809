#!/usr/bin/env python3
"""Self-test of the output checks: each workload's real output must pass
its check, and a corrupted copy of it must fail.

    python3 perfbench/selftest.py

Corruptions: `etl_backfill` drops a table row, moves one session boundary by
one event, and drops a row of one WAU query's result; `cdc_upsert` skips
one change; `corpus_dedup` injects one pair below the
Jaccard threshold.  Exits 1 if a check passes a corrupted output or fails
the real one.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402

SEED = 7


def etl_corruptions(ev, work):
    base = checks.table_sql(os.path.join(work, "table"))
    yield "drop a row", f"SELECT * FROM ({base}) WHERE event_id <> {int(ev['event_id'][len(ev['event_id']) // 2])}"
    # the first event of a user's second session joins the first session
    users, starts = ev["user_id"], ev["session_start"]
    order = sorted(range(len(users)), key=lambda i: (users[i], ev["sec"][i], ev["event_id"][i]))
    for a, b in zip(order, order[1:]):
        if users[a] == users[b] and starts[a] != starts[b]:
            sid = f"{users[a]}#{starts[a]}"
            yield ("move a session boundary by one event",
                   f"SELECT * REPLACE (CASE WHEN event_id = {ev['event_id'][b]} THEN '{sid}' "
                   f"ELSE session_id END AS session_id) FROM ({base})")
            return


def wau_corruption(work):
    out = checks.read_wau_results(work)
    i = next(i for i, q in enumerate(out) if q[4])
    kind, key, start, end, weeks = out[i]
    weeks = dict(weeks)
    weeks.pop(sorted(weeks)[0])
    out[i] = (kind, key, start, end, weeks)
    return out


def cdc_corruption(truth, work):
    commits = checks.read_tsv(os.path.join(work, "out", "cdc_commits.tsv"))
    reads = checks.read_tsv(os.path.join(work, "out", "cdc_reads.tsv"))
    first = next(c for c in commits if c[1] == "merge")
    r = int(first[0])
    k = next(truth["merge"]["k"][i] for i, x in enumerate(truth["merge"]["round"]) if x == r)
    skipped, _ = checks.replay(truth, commits, skip=("merge", r, k))
    bad = [x[:3] + [str(v) for v in skipped[int(x[2])]] if x[1] != "history" else x for x in reads]
    return commits, bad


def dedup_corruption(truth, work):
    ids, texts, family = truth
    groups, pairs, comps = checks.read_dedup(work)
    lone = [i for i, f in zip(ids.tolist(), family.tolist()) if f < 0][:2]
    a, b = sorted(lone)
    return groups, pairs + [(a, b, 0.75)], comps


def main():
    ok = True
    for w in run.WORKLOADS:
        r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                            "--seed", str(SEED), "--seconds", "1", "--keep"],
                           capture_output=True, text=True)
        if r.returncode != 0:
            print(f"{w}: run failed\n{r.stderr[-2000:]}")
            ok = False
            continue
        work = os.path.join(run.BUILD, f"run-{w}-{SEED}-0")
        truth = gen.generate(w, SEED, os.path.join(work, "truth"), run.SIZES[w])
        clean = checks.check(w, truth, work)
        cases = []
        if w == "etl_backfill":
            cases = [(name, checks.check_etl(truth, work, rel)) for name, rel in etl_corruptions(truth, work)]
            cases.append(("drop a WAU result row", checks.check_wau(truth, work, wau_corruption(work))))
        elif w == "cdc_upsert":
            cases = [("skip one change", checks.check_cdc(truth, work, cdc_corruption(truth, work)))]
        else:
            cases = [("inject a pair below the threshold",
                      checks.check_dedup(truth, work, dedup_corruption(truth, work)))]
        print(json.dumps({"workload": w, "clean_problems": clean,
                          "corruptions": {n: p[:3] for n, p in cases}}))
        ok &= not clean and all(p for _, p in cases)
    print("selftest:", "ok" if ok else "FAILED")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
