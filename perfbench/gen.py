"""Seeded input generator for the benchmark workloads.

Everything the engine reads is written here as files; the engine never sees
the seed.  The generator also returns the planted ground truth (sessions,
change sets, duplicate families) that ``checks.py`` compares the engine's
outputs against.  The same seed always gives byte-identical files.
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------- events --

MONTH_FILES = ("2024-Jan.csv", "2024-Feb.csv")
EPOCH = np.datetime64("1970-01-01T00:00:00", "s")
WINDOW_START = int((np.datetime64("2024-01-01T00:00:00", "s") - EPOCH).astype(int))
BOUNDARY = int((np.datetime64("2024-02-01T00:00:00", "s") - EPOCH).astype(int))
WINDOW_END = int((np.datetime64("2024-03-01T00:00:00", "s") - EPOCH).astype(int))
GAP = 300
EVENT_TYPES = np.array(["view", "click", "cart", "purchase"])


def _sessions(rng, n_sessions, n_users, start, end, mean_events):
    """Planted sessions on [start, end): per user, sessions follow each other
    with inter-session gaps of at least GAP whole seconds (some exactly GAP)
    and intra-session gaps below GAP (some exactly GAP - 1, some 0)."""
    ranks = np.arange(1, n_users + 1)
    p = ranks ** -0.8
    users = np.sort(rng.choice(n_users, size=n_sessions, p=p / p.sum()) + 1)
    k = rng.geometric(1.0 / mean_events, size=n_sessions)
    # intra-session gaps: one per non-first event
    n_gaps = int(k.sum() - n_sessions)
    code = rng.random(n_gaps)
    gaps = np.where(code < 0.10, GAP - 1,
                    np.where(code < 0.15, 0, rng.integers(1, 241, n_gaps)))
    sess_of_gap = np.repeat(np.arange(n_sessions), k - 1)
    # no two same-second steps in a row, so a 0-gap event's fraction can be
    # drawn above its predecessor's without a chain
    prev_zero = np.concatenate(([False], gaps[:-1] == 0)) & \
        np.concatenate(([False], sess_of_gap[1:] == sess_of_gap[:-1]))
    gaps = np.where(prev_zero & (gaps == 0), 1, gaps)
    dur = np.bincount(sess_of_gap, weights=gaps, minlength=n_sessions).astype(np.int64)
    # inter-session gaps per user; the first session of a user gets an offset
    first = np.concatenate(([True], users[1:] != users[:-1]))
    n_per_user = np.bincount(users, minlength=n_users + 1)[users]
    dur_per_user = np.bincount(users, weights=dur, minlength=n_users + 1)[users]
    room = np.maximum((end - start - dur_per_user) / n_per_user - GAP, 60.0)
    inter = np.where(rng.random(n_sessions) < 0.15, GAP,
                     GAP + rng.exponential(room).astype(np.int64))
    offset = (rng.random(n_sessions) * room).astype(np.int64)
    step = np.where(first, offset, inter)
    prev_dur = np.concatenate(([0], dur[:-1]))
    step = step + np.where(first, 0, prev_dur)
    cum = np.cumsum(step)
    base = np.maximum.accumulate(np.where(first, cum - offset, 0))
    sess_start = start + cum - base
    # event seconds: session start + running intra-session offset
    ev_sess = np.repeat(np.arange(n_sessions), k)
    steps = np.zeros(int(k.sum()), dtype=np.int64)
    firsts = np.concatenate(([0], np.cumsum(k)[:-1]))
    mask = np.ones(len(steps), dtype=bool)
    mask[firsts] = False
    steps[mask] = gaps
    run = np.cumsum(steps)
    run = run - np.repeat(run[firsts], k)
    sec = sess_start[ev_sess] + run
    zero_step = mask & (steps == 0)
    keep = sec < end
    return users[ev_sess][keep], sec[keep], sess_start[ev_sess][keep], zero_step[keep]


def _planted_edges(rng, n, first_user, boundary):
    """Dedicated users with one session each, placed across `boundary`: the
    step over the boundary is exactly GAP - 1 (continues) or exactly GAP
    (starts a new session).  Returns the same arrays as _sessions."""
    users, secs, starts = [], [], []
    for i in range(n):
        u = first_user + i
        last_before = boundary - int(rng.integers(1, 200))
        lead = int(rng.integers(0, 3))
        s0 = last_before - 40 * lead
        seq = [s0 + 40 * j for j in range(lead)] + [last_before]
        cross = GAP - 1 if i % 2 == 0 else GAP
        after = [last_before + cross + 30 * j for j in range(int(rng.integers(1, 4)))]
        for s in seq:
            users.append(u); secs.append(s); starts.append(s0)
        new_start = s0 if cross < GAP else after[0]
        for s in after:
            users.append(u); secs.append(s); starts.append(new_start)
    z = np.zeros(len(users), dtype=bool)
    return np.array(users), np.array(secs), np.array(starts), z


def gen_events(rng, out_dir, events_per_month):
    """Two event months as `yyyy-LLL.csv`.

    Returns a dict of numpy arrays: event_id, user_id, sec (whole epoch
    seconds), micros (fractional part), session_start (planted), for the
    two measured months."""
    n_users = 3000
    mean_events = 5.0
    n_sessions = int(2 * events_per_month / mean_events)
    parts = [_sessions(rng, n_sessions, n_users, WINDOW_START, WINDOW_END, mean_events)]
    # sessions across the batch boundary and across KST midnight (15:00 UTC)
    parts.append(_planted_edges(rng, 120, n_users + 1, BOUNDARY))
    kst_midnight = WINDOW_START + 86400 * 10 + 15 * 3600
    parts.append(_planted_edges(rng, 60, n_users + 1001, kst_midnight))
    users = np.concatenate([p[0] for p in parts])
    sec = np.concatenate([p[1] for p in parts])
    start = np.concatenate([p[2] for p in parts])
    zero = np.concatenate([p[3] for p in parts])
    micros = rng.integers(0, 1_000_000, len(sec))
    # a same-second step keeps its order: draw its fraction above the
    # predecessor's (events are still grouped by user and in time order)
    idx = np.nonzero(zero)[0]
    micros[idx] = micros[idx - 1] + ((999_999 - micros[idx - 1]) * rng.random(len(idx))).astype(np.int64)
    seq = np.arange(len(sec))
    order = np.lexsort((seq, users, micros, sec))
    ev = {
        "event_id": np.arange(1, len(sec) + 1, dtype=np.int64),
        "user_id": users[order].astype(np.int64),
        "sec": sec[order].astype(np.int64),
        "micros": micros[order].astype(np.int64),
        "session_start": start[order].astype(np.int64),
        "event_type": EVENT_TYPES[rng.integers(0, 4, len(sec))],
        "value": np.round(rng.random(len(sec)) * 100, 2),
    }
    before = ev["sec"] < BOUNDARY
    _write_csv(os.path.join(out_dir, MONTH_FILES[0]), ev, before)
    _write_csv(os.path.join(out_dir, MONTH_FILES[1]), ev, ~before)
    return ev


def ts_strings(sec, micros):
    t = (sec * 1_000_000 + micros).astype("datetime64[us]")
    return np.char.replace(np.datetime_as_string(t, unit="us"), "T", " ")


def _write_csv(path, ev, mask):
    ts = ts_strings(ev["sec"][mask], ev["micros"][mask])
    cols = [ev["event_id"][mask].astype(str), ts, ev["user_id"][mask].astype(str),
            ev["event_type"][mask], np.char.mod("%.2f", ev["value"][mask])]
    with open(path, "w") as f:
        f.write("event_id,ts,user_id,event_type,value\n")
        f.write("\n".join(",".join(r) for r in zip(*cols)))
        f.write("\n")


def _write_tsv(path, rows):
    with open(path, "w") as f:
        f.write("".join("\t".join(str(c) for c in r) + "\n" for r in rows))


FULL_KINDS = (("extract", "user_id"), ("wau", "session_id"), ("approx", "user_id"),
              ("extract", "session_id"), ("wau", "user_id"), ("approx", "session_id"))


SHORT = (("extract", "user_id", 7), ("wau", "session_id", 14),
         ("extract", "session_id", 14), ("wau", "user_id", 7))


def gen_queries(rng, out_dir, groups):
    """WAU query groups, one per step, as (group, kind, key, start, end).  A
    group is the same four queries over one or two whole weeks (templated
    SQL and exact, by user and by session) twice, and then, in turn, an
    approximate one over two weeks (its HLL++ sketches make it the slowest)
    or one over the whole table.  Only the weeks are drawn, so every group
    does about the same work."""
    day0 = dt.date(2024, 1, 1)  # a Monday
    rows = []

    def short(g, kind, key, days):
        a = day0 + dt.timedelta(weeks=int(rng.integers(0, 7)))
        rows.append([g, kind, key, a.isoformat(), (a + dt.timedelta(days=days - 1)).isoformat()])
    for g in range(groups):
        for kind, key, days in SHORT * 2:
            short(g, kind, key, days)
        if g % 2 == 0:
            short(g, "approx", ("user_id", "session_id")[g // 2 % 2], 14)
        else:
            kind, key = FULL_KINDS[g // 2 % len(FULL_KINDS)]
            rows.append([g, kind, key, "2024-01-01", "2024-03-10"])
    _write_tsv(os.path.join(out_dir, "queries.tsv"), rows)


# ------------------------------------------------------------------- cdc --

STATUSES = ("new", "paid", "shipped", "returned")
DELETED = "deleted"  # status value that marks a delete in a MERGE change set


def _change_set(rng, n, key_hi):
    keys = np.sort(rng.choice(np.arange(1, key_hi + 1), size=n, replace=False))
    dele = rng.random(n) < 0.2
    status = np.array(STATUSES)[rng.integers(0, len(STATUSES), n)]
    cents = rng.integers(100, 100_000, n)
    return keys, dele, status, cents


def gen_cdc(rng, out_dir, base_keys, rounds, set_size):
    """Base table rows plus `rounds` rounds of changes: a MERGE change set
    (upserts and deletes), an UPDATE and a DELETE statement, and an upsert-
    sink feed (upserts and deletes).  Keys overlap between the sets and
    reach past the base key range, so changes insert as well as update."""
    k = np.arange(1, base_keys + 1, dtype=np.int64)
    base = pa.table({
        "k": k,
        "status": np.array(STATUSES)[rng.integers(0, len(STATUSES), base_keys)],
        "cents": rng.integers(100, 100_000, base_keys).astype(np.int64)})
    pq.write_table(base, os.path.join(out_dir, "base.parquet"))
    key_hi = int(base_keys * 1.5)
    merge_cols = {"round": [], "k": [], "status": [], "cents": []}
    feed_cols = {"round": [], "k": [], "status": [], "cents": [], "_is_delete": []}
    plan = []
    for r in range(rounds):
        keys, dele, status, cents = _change_set(rng, set_size, key_hi)
        merge_cols["round"] += [r] * set_size
        merge_cols["k"] += keys.tolist()
        merge_cols["status"] += np.where(dele, DELETED, status).tolist()
        merge_cols["cents"] += cents.tolist()
        keys, dele, status, cents = _change_set(rng, set_size, key_hi)
        feed_cols["round"] += [r] * set_size
        feed_cols["k"] += keys.tolist()
        feed_cols["status"] += status.tolist()
        feed_cols["cents"] += cents.tolist()
        feed_cols["_is_delete"] += dele.tolist()
        # inside the base key range, so that the range always holds keys
        lo = int(rng.integers(1, base_keys - 20))
        plan.append({"round": r, "mod": 50, "rem": int(rng.integers(0, 50)),
                     "add": int(rng.integers(1, 1000)),
                     "lo": lo, "hi": lo + int(rng.integers(5, 20))})
    schema_m = pa.schema([("round", pa.int32()), ("k", pa.int64()),
                          ("status", pa.string()), ("cents", pa.int64())])
    pq.write_table(pa.table(merge_cols, schema=schema_m), os.path.join(out_dir, "merge.parquet"))
    schema_f = schema_m.append(pa.field("_is_delete", pa.bool_()))
    pq.write_table(pa.table(feed_cols, schema=schema_f), os.path.join(out_dir, "feed.parquet"))
    _write_tsv(os.path.join(out_dir, "plan.tsv"),
               [[p[c] for c in ("round", "mod", "rem", "add", "lo", "hi")] for p in plan])
    return {"base": base.to_pydict(), "merge": merge_cols, "feed": feed_cols, "plan": plan}


# ---------------------------------------------------------------- corpus --

EDIT_RATES = (0.02, 0.05, 0.10, 0.20)


def _vocab(rng, n):
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words = set()
    while len(words) < n:
        words.add("".join(letters[rng.integers(0, 26, int(rng.integers(3, 9)))]))
    return np.array(sorted(words))


def gen_corpus(rng, path, n_docs):
    """Lower-case word documents.  About a quarter of the docs belong to
    near-duplicate families: a base doc plus variants with a share of words
    replaced at one of EDIT_RATES, or exact copies.  Doc ids are shuffled.
    Returns (ids, texts, family) with family -1 for unrelated docs."""
    vocab = _vocab(rng, 4000)
    cdf = np.cumsum(np.arange(1, len(vocab) + 1) ** -1.05)
    cdf /= cdf[-1]

    def draw(n):
        return vocab[np.minimum(np.searchsorted(cdf, rng.random(n)), len(vocab) - 1)]
    texts, family = [], []
    fam = 0
    while len(texts) < n_docs:
        words = draw(int(rng.integers(30, 90)))
        if rng.random() < 0.12:
            texts.append(" ".join(words)); family.append(fam)
            for _ in range(int(rng.integers(1, 4))):
                if rng.random() < 0.25:
                    texts.append(texts[-1])
                else:
                    rate = EDIT_RATES[int(rng.integers(0, len(EDIT_RATES)))]
                    w = words.copy()
                    hit = rng.random(len(w)) < rate
                    w[hit] = draw(int(hit.sum()))
                    texts.append(" ".join(w))
                family.append(fam)
            fam += 1
        else:
            texts.append(" ".join(words)); family.append(-1)
    texts, family = texts[:n_docs], family[:n_docs]
    ids = rng.permutation(n_docs).astype(np.int64) + 1
    pq.write_table(pa.table({"doc_id": ids, "text": texts}), path)
    return ids, texts, np.array(family)


# ------------------------------------------------------------------ entry --

def generate(workload, seed, in_dir, size):
    """Write the inputs of `workload` for `seed` into `in_dir`; return the
    planted truth the checks need."""
    rng = np.random.default_rng([seed, {"etl_backfill": 1, "cdc_upsert": 3,
                                        "corpus_dedup": 4}[workload]])
    os.makedirs(in_dir, exist_ok=True)
    if workload == "etl_backfill":
        ev = gen_events(rng, in_dir, size["events_per_month"])
        gen_queries(rng, in_dir, size["query_groups"])
        return ev
    if workload == "cdc_upsert":
        return gen_cdc(rng, in_dir, size["base_keys"], size["rounds"], size["set_size"])
    return gen_corpus(rng, os.path.join(in_dir, "docs.parquet"), size["docs"])
