"""Seeded input generator for the lakehouse benchmark.

Everything the program reads is written here, from ``--seed`` alone: the
daily CSV drops and WAP batches of `daily_cycle`, and the
documents/embeddings/events corpus of the operator workload. Sizes are fixed
per workload; the seed changes only values, so every seed costs the same work.
"""
import csv
import datetime as dt
import json
import os

import numpy as np

COLUMNS = ["account", "txn_date", "txn_id", "merchant", "amount", "category",
           "last_updated"]
ACCOUNTS = [f"acct{i:03d}" for i in range(40)]
MERCHANTS = [f"merchant{i:02d}" for i in range(30)]
CATEGORIES = ["grocery", "fuel", "travel", "dining", "utilities", "health",
              "retail", "services"]
DAY0 = dt.date(2024, 3, 1)

# daily_cycle: days of CSV drops, rows per drop, share of each drop that
# updates an earlier txn_id (and moves its txn_date), rows per WAP batch, and
# day-1 txn_ids looked up as of every branch and latest.
TABLE_SHAPE = {"days": 3, "rows": 500, "update_share": 0.2, "wap_rows": 50, "lookups": 2}


def null_batch_days(days):
    """WAP batches that carry nulls, and so must be rejected: every third
    day from day 2. Fixed, so each seed does the same publish/discard mix."""
    return [d for d in range(1, days + 1) if d % 3 == 2]


def _day_date(d):
    return DAY0 + dt.timedelta(days=d - 1)


def _row(rng, txn_id, txn_date, day):
    cents = int(rng.integers(100, 500_000))
    secs = int(rng.integers(0, 86_400))
    ts = dt.datetime.combine(_day_date(day), dt.time()) + dt.timedelta(seconds=secs)
    return [ACCOUNTS[int(rng.integers(len(ACCOUNTS)))], txn_date.isoformat(), txn_id,
            MERCHANTS[int(rng.integers(len(MERCHANTS)))], f"{cents // 100}.{cents % 100:02d}",
            CATEGORIES[int(rng.integers(len(CATEGORIES)))], ts.strftime("%Y-%m-%d %H:%M:%S")]


def _write_csv(path, rows):
    with open(path, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(COLUMNS)
        w.writerows(rows)


def gen_tables(out, workload, seed):
    """Writes the daily drops and WAP batches and returns their spec."""
    shape = TABLE_SHAPE
    rng = np.random.default_rng(seed)
    days, n = shape["days"], shape["rows"]
    n_upd = int(n * shape["update_share"])
    os.makedirs(f"{out}/days", exist_ok=True)
    os.makedirs(f"{out}/wap", exist_ok=True)
    inserted = []  # txn_ids inserted by earlier MERGE drops, in order
    nulls = null_batch_days(days)
    for d in range(1, days + 1):
        rows = []
        if d > 1:
            picks = rng.choice(len(inserted), size=n_upd, replace=False)
            for i in sorted(int(p) for p in picks):
                rows.append(_row(rng, inserted[i], _day_date(d), d))
        n_new = n if d == 1 else n - n_upd
        for i in range(n_new):
            back = int(rng.integers(0, 3))
            date = _day_date(max(1, d - back))
            tid = f"txn{d:02d}{i:05d}"
            rows.append(_row(rng, tid, date, d))
            inserted.append(tid)
        order = rng.permutation(len(rows))
        _write_csv(f"{out}/days/day{d}.csv", [rows[int(i)] for i in order])
        wap = [_row(rng, f"wap{d:02d}{i:05d}", _day_date(d), d)
               for i in range(shape["wap_rows"])]
        if d in nulls:
            for i in rng.choice(len(wap), size=3, replace=False):
                wap[int(i)][3] = ""  # merchant NULL: the audit must reject
        _write_csv(f"{out}/wap/day{d}.csv", wap)
    day1 = [t for t in inserted if t.startswith("txn01")]
    lookups = [day1[int(i)] for i in rng.choice(len(day1), size=shape["lookups"], replace=False)]
    spec = {"workload": workload, "seed": seed, "days": days, "rows_per_day": n,
            "updates_per_day": n_upd, "wap_rows": shape["wap_rows"],
            "null_batch_days": nulls, "lookups": lookups}
    with open(f"{out}/spec.json", "w") as f:
        json.dump(spec, f, indent=1)
    return spec


WORDS = ["spark", "table", "query", "scan", "filter", "join", "sort", "hash",
         "batch", "stream", "column", "row", "value", "key", "group", "order",
         "agg", "line", "part", "customer", "fast", "slow", "small", "large",
         "vector", "index", "merge", "branch", "commit", "snapshot"]
LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]


N_DOCS, N_VECS, N_EVENTS = 2000, 800, 50_000


def gen_corpus(out, seed):
    """documents / embeddings / events with the column types of the repo's
    sf0.1 test data; a few exact-duplicate and near-duplicate documents so the
    dedup operators have work."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    rng = np.random.default_rng(seed + 7919)
    os.makedirs(out, exist_ok=True)
    zipf = 1.0 / np.arange(1, len(WORDS) + 1)
    zipf /= zipf.sum()
    texts = []
    for i in range(N_DOCS):
        if i >= 100 and i % 250 == 0:
            texts.append(texts[i - 100])  # exact duplicate
        elif i >= 50 and i % 125 == 0:
            base = texts[i - 50].split()
            base[int(rng.integers(len(base)))] = WORDS[int(rng.integers(len(WORDS)))]
            texts.append(" ".join(base))  # one-word near duplicate
        else:
            k = int(rng.integers(8, 90))
            texts.append(" ".join(WORDS[int(j)] for j in rng.choice(len(WORDS), size=k, p=zipf)))
    docs = pa.table({
        "doc_id": pa.array(np.arange(N_DOCS), pa.int64()),
        "text": texts,
        "lang": [LANGS[int(j)] for j in rng.integers(0, len(LANGS), N_DOCS)],
        "source": [f"src{int(j)}" for j in rng.integers(0, 20, N_DOCS)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    pq.write_table(docs, f"{out}/documents.parquet")
    centers = rng.normal(0, 1, (10, 64))
    labels = rng.integers(0, 10, N_VECS)
    vecs = centers[labels] + rng.normal(0, 0.6, (N_VECS, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.table({
        "vec_id": pa.array(np.arange(N_VECS), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    pq.write_table(emb, f"{out}/embeddings.parquet")
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86_400_000_000, N_EVENTS))
    ev = pa.table({
        "event_id": pa.array(np.arange(N_EVENTS), pa.int64()),
        "ts": pa.array(t0 + offs.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1500, N_EVENTS), pa.int64()),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, N_EVENTS)],
        "value": pa.array(np.round(rng.gamma(2.0, 25.0, N_EVENTS), 2), pa.float64()),
        "props": np.char.add(np.char.add('{"k": ', rng.integers(0, 100, N_EVENTS).astype(str)), "}"),
    })
    pq.write_table(ev, f"{out}/events.parquet")
