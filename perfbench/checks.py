"""Output checks, made apart from the engine.

Each check compares what the harness wrote against the planted truth from
`gen.py`, against DuckDB over the same files, or against a property the
method must have.  `check(workload, truth, work)` returns a list of problems
(empty when every check passes).  The `out` argument of each check function
is the parsed output, so `selftest.py` can corrupt it and show the check
fails.
"""
import hashlib
import os
import zlib
from collections import defaultdict

import duckdb
import numpy as np
import pyarrow as pa

import gen

KST_S = 9 * 3600
DAY_S = 86400


# ------------------------------------------------------------ etl / wau --

def events_table(ev):
    return pa.table({"event_id": ev["event_id"], "user_id": ev["user_id"],
                     "planted_start": ev["session_start"]})


def table_sql(path):
    return (f"SELECT * REPLACE (CAST(event_date_kst AS DATE) AS event_date_kst) "
            f"FROM read_parquet('{path}/*/*.parquet', hive_partitioning = true)")


def digest(con, rel):
    return con.execute(
        f"SELECT count(*), sum(hash(event_id, user_id, event_type, value, ts, epoch_sec, "
        f"session_id, session_start_sec, event_date_kst)::HUGEINT) FROM ({rel})").fetchone()


def check_etl(ev, work, out=None):
    """`out` is a SQL relation over the loaded table (default: the table)."""
    out = out or table_sql(os.path.join(work, "table"))
    con = duckdb.connect()
    planted = events_table(ev)  # noqa: F841 (scanned by name below)
    con.execute("SET TimeZone = 'UTC'")
    csvs = [os.path.join(work, "in", f) for f in gen.MONTH_FILES]
    con.execute(f"CREATE VIEW src AS SELECT * FROM read_csv({csvs!r}, header = true, "
                "columns = {'event_id': 'BIGINT', 'ts': 'TIMESTAMP', 'user_id': 'BIGINT', "
                "'event_type': 'VARCHAR', 'value': 'DOUBLE'})")
    con.execute(f"CREATE VIEW t AS {out}")
    problems = []
    n_in = con.execute("SELECT count(*) FROM src").fetchone()[0]
    n, n_ids = con.execute("SELECT count(*), count(DISTINCT event_id) FROM t").fetchone()
    if not (n == n_ids == n_in == len(ev["event_id"])):
        problems.append(f"etl: table has {n} rows ({n_ids} distinct ids), input {n_in}")
    bad_sid = con.execute(
        "SELECT count(*) FROM planted p LEFT JOIN t USING (event_id) "
        "WHERE t.session_id IS DISTINCT FROM (p.user_id::VARCHAR || '#' || p.planted_start::VARCHAR)"
    ).fetchone()[0]
    if bad_sid:
        problems.append(f"etl: {bad_sid} events with a session_id other than the planted one")
    bad_kst = con.execute(
        "SELECT count(*) FROM src LEFT JOIN t USING (event_id) "
        "WHERE t.event_date_kst IS DISTINCT FROM CAST(src.ts + INTERVAL 9 HOUR AS DATE) "
        "OR t.ts IS DISTINCT FROM src.ts").fetchone()[0]
    if bad_kst:
        problems.append(f"etl: {bad_kst} events with a wrong ts or event_date_kst")
    before = os.path.join(work, "table_before_reload")
    if digest(con, table_sql(before)) != digest(con, "SELECT * FROM t"):
        problems.append("etl: reloading the months changed the table")
    return problems


def planted_wau(ev):
    """week (ISO date of the Monday) -> (distinct users, distinct sessions),
    from the planted sessions and KST dates computed here."""
    days = (ev["sec"] + KST_S) // DAY_S
    monday = days - (days + 3) % 7  # 1970-01-01 was a Thursday
    users, sessions = defaultdict(set), defaultdict(set)
    for w, u, s in zip(monday.tolist(), ev["user_id"].tolist(), ev["session_start"].tolist()):
        users[w].add(u)
        sessions[w].add((u, s))
    iso = lambda d: str(np.datetime64(d, "D"))  # noqa: E731
    return ({iso(w): len(v) for w, v in users.items()},
            {iso(w): len(v) for w, v in sessions.items()})


def duckdb_wau(work):
    con = duckdb.connect()
    rel = table_sql(os.path.join(work, "table"))
    res = []
    for key in ("user_id", "session_id"):
        rows = con.execute(
            f"SELECT CAST(date_trunc('week', event_date_kst) AS DATE)::VARCHAR, "
            f"count(DISTINCT {key}) FROM ({rel}) GROUP BY 1").fetchall()
        res.append(dict(rows))
    return tuple(res)


def read_wau_results(work):
    out = []
    with open(os.path.join(work, "out", "wau_results.tsv")) as f:
        for line in f:
            parts = line.rstrip("\n").split("\t")
            if len(parts) < 5:
                continue
            weeks = dict(p.split("=") for p in parts[5:])
            out.append((parts[1], parts[2], parts[3], parts[4], {k: int(v) for k, v in weeks.items()}))
    return out


def week_of(iso):
    d = int(np.datetime64(iso, "D").astype(np.int64))
    return str(np.datetime64(d - (d + 3) % 7, "D"))


def check_wau(ev, work, out=None):
    out = read_wau_results(work) if out is None else out
    by_user, by_session = planted_wau(ev)
    problems = []
    if (by_user, by_session) != duckdb_wau(work):
        problems.append("wau: DuckDB's WAU over the loaded table differs from the planted sessions")
    if not out:
        problems.append("wau: no query results")
    for kind, key, start, end, got in out:
        lo, hi = week_of(start), week_of(end)
        truth = by_user if key == "user_id" else by_session
        want = {w: c for w, c in truth.items() if lo <= w <= hi}
        if kind == "approx":
            ok = set(got) == set(want) and all(abs(got[w] - c) <= 0.05 * c for w, c in want.items())
        else:
            ok = got == want
        if not ok:
            problems.append(f"wau: {kind} {key} {start}..{end} returned {got}, expected {want}")
    return problems


# ------------------------------------------------------------------- cdc --

def read_tsv(path):
    with open(path) as f:
        return [line.rstrip("\n").split("\t") for line in f if line.strip()]


def state_digest(state):
    crc = sum(zlib.crc32(f"{k}|{s}|{c}".encode()) for k, (s, c) in state.items())
    return (len(state), sum(state), crc)


def apply_change(state, truth, kind, r, skip=None):
    """Apply change `kind` of round `r` to the key -> (status, cents) model;
    return the (updated, deleted, inserted) counts the statement must report.
    `skip` names one (kind, round, key) change to leave out."""
    up = de = ins = 0
    if kind in ("merge", "trigger"):
        src = truth["merge"] if kind == "merge" else truth["feed"]
        for i in (i for i, x in enumerate(src["round"]) if x == r):
            k = src["k"][i]
            if skip == (kind, r, k):
                continue
            dele = src["status"][i] == gen.DELETED if kind == "merge" else src["_is_delete"][i]
            if k in state:
                if dele:
                    del state[k]; de += 1
                else:
                    state[k] = (src["status"][i], src["cents"][i]); up += 1
            elif not dele:
                state[k] = (src["status"][i], src["cents"][i]); ins += 1
    elif kind == "update":
        p = truth["plan"][r]
        for k in [k for k in state if k % p["mod"] == p["rem"]]:
            if skip == (kind, r, k):
                continue
            s, c = state[k]
            state[k] = (s, c + p["add"]); up += 1
    elif kind == "delete":
        p = truth["plan"][r]
        for k in [k for k in state if p["lo"] <= k <= p["hi"]]:
            if skip == (kind, r, k):
                continue
            del state[k]; de += 1
    return up, de, ins


def replay(truth, commits, skip=None):
    """Model state digests per version, following the committed sequence."""
    b = truth["base"]
    state = {k: (s, c) for k, s, c in zip(b["k"], b["status"], b["cents"])}
    digests, counts = {}, []
    for c in commits:
        r, kind = int(c[0]), c[1]
        counts.append((0, 0, 0) if kind == "base" else apply_change(state, truth, kind, r, skip))
        digests[int(c[3])] = state_digest(state)
    return digests, counts


def check_cdc(truth, work, out=None):
    if out is None:
        out = (read_tsv(os.path.join(work, "out", "cdc_commits.tsv")),
               read_tsv(os.path.join(work, "out", "cdc_reads.tsv")))
    commits, reads = out
    digests, counts = replay(truth, commits)
    problems = []
    last = None
    for c, (up, de, ins) in zip(commits, counts):
        r, kind, before, v = int(c[0]), c[1], int(c[2]), int(c[3])
        if kind == "base":
            last = v
            continue
        # one new version per commit; a statement that changes no row may
        # commit nothing
        noop = kind != "trigger" and (up, de, ins) == (0, 0, 0)
        if before != last or not (v == before + 1 or (noop and v == before)):
            problems.append(f"cdc: {kind} of round {r} went from v{before} to v{v} after v{last}")
        last = v
        if kind == "trigger":
            n = sum(1 for x in truth["feed"]["round"] if x == r)
            if int(c[4]) != n:
                problems.append(f"cdc: trigger of round {r} read {c[4]} rows, fed {n}")
        elif (int(c[4]), int(c[5]), int(c[6])) != (up, de, ins):
            problems.append(f"cdc: {kind} of round {r} reported (updated, deleted, inserted) "
                            f"{tuple(c[4:7])}, model {(up, de, ins)}")
    for r, kind, v, n, a, b in reads:
        v = int(v)
        if kind == "history":
            if (int(n), int(a)) != (v + 1, v * (v + 1) // 2):
                problems.append(f"cdc: history at v{v} lists {n} versions")
        elif (int(n), int(a), int(b)) != digests.get(v):
            problems.append(f"cdc: {kind} read of v{v} in round {r} differs from the model")
    return problems


# ---------------------------------------------------------------- corpus --

def grams(text):
    t = text.split()
    return {" ".join(t[i:i + 3]) for i in range(len(t) - 2)}


def read_dedup(work):
    o = os.path.join(work, "out")
    groups = [(f, int(k), int(n)) for f, k, n in read_tsv(os.path.join(o, "dedup_groups.tsv"))]
    pairs = [(int(a), int(b), float(j)) for a, b, j in read_tsv(os.path.join(o, "dedup_pairs.tsv"))]
    comps = {int(d): int(c) for d, c in read_tsv(os.path.join(o, "dedup_components.tsv"))}
    return groups, pairs, comps


RECALL_FLOOR = 0.9
TRUE_J = 0.8


def check_dedup(truth, work, out=None):
    ids, texts, family = truth
    groups, pairs, comps = read_dedup(work) if out is None else out
    text_of = dict(zip(ids.tolist(), texts))
    problems = []
    # exact groups: grouping by the normalized text, fingerprinted here
    want = defaultdict(list)
    for i, t in text_of.items():
        want[" ".join(t.lower().split())].append(i)
    want_groups = sorted((hashlib.md5(t.encode()).hexdigest(), min(v), len(v)) for t, v in want.items())
    if sorted(groups) != want_groups:
        problems.append(f"dedup: {len(groups)} exact groups, expected {len(want_groups)} (or ids differ)")
    # every reported pair meets the threshold, recomputed here
    g = {i: grams(t) for i, t in text_of.items()}
    thr_num, thr_den = 7, 10  # threshold 0.7 as an exact fraction
    for a, b, j in pairs:
        inter = len(g[a] & g[b])
        union = len(g[a]) + len(g[b]) - inter
        if not (a < b and inter * thr_den >= thr_num * union and abs(j - inter / union) < 1e-6):
            problems.append(f"dedup: pair ({a}, {b}) reported at {j}, true Jaccard {inter}/{union}")
    # recall of planted pairs whose true Jaccard is at least TRUE_J
    found = {(a, b) for a, b, _ in pairs}
    members = defaultdict(list)
    for i, f in zip(ids.tolist(), family.tolist()):
        if f >= 0:
            members[f].append(i)
    planted = []
    for m in members.values():
        for x in range(len(m)):
            for y in range(x + 1, len(m)):
                a, b = sorted((m[x], m[y]))
                inter = len(g[a] & g[b])
                if inter >= TRUE_J * (len(g[a]) + len(g[b]) - inter):
                    planted.append((a, b))
    recall = sum(p in found for p in planted) / max(len(planted), 1)
    if recall < RECALL_FLOOR:
        problems.append(f"dedup: recall {recall:.3f} of {len(planted)} planted pairs < {RECALL_FLOOR}")
    # components equal a union-find over the reported pairs (min id labels)
    parent = {i: i for i in text_of}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    for a, b, _ in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want_comp = {i: find(i) for i in text_of}
    if comps != want_comp:
        bad = sum(comps.get(i) != c for i, c in want_comp.items())
        problems.append(f"dedup: {bad} docs with a component other than the union-find's")
    return problems


def check(workload, truth, work):
    if workload == "etl_backfill":
        return check_etl(truth, work) + check_wau(truth, work)
    if workload == "cdc_upsert":
        return check_cdc(truth, work)
    return check_dedup(truth, work)
