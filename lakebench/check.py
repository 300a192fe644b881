"""Output checks: `daily_cycle` against a DuckDB last-write-wins replay
of the same CSV drops, the operator workload against DuckDB running each
query's oracle SQL on the same parquet files, plus the property checks.
Each function returns a list of failure strings; empty means correct."""
import json
import math
import os

import duckdb

CSV_COLUMNS = ("{'account': 'VARCHAR', 'txn_date': 'DATE', 'txn_id': 'VARCHAR', "
               "'merchant': 'VARCHAR', 'amount': 'DOUBLE', 'category': 'VARCHAR', "
               "'last_updated': 'TIMESTAMP'}")
CENTS = ("cast(sum(cast(cast(cast(amount AS decimal(18,2)) * 100 AS bigint) "
         "AS decimal(38,0))) AS bigint)")


def _csv(path):
    return f"read_csv('{path}', header = true, columns = {CSV_COLUMNS})"


def replay(inp, spec):
    """State of main after each day's MERGE (the dayN branches) and at the
    end, replayed independently: matched rows take the new amount, category,
    last_updated and txn_date; unmatched rows are inserted; WAP batches
    without nulls are appended after the day's branch is pinned."""
    con = duckdb.connect()
    con.execute(f"CREATE TABLE state AS SELECT * FROM {_csv(inp + '/days/day1.csv')} LIMIT 0")
    states = {}
    for d in range(1, spec["days"] + 1):
        con.execute(f"CREATE OR REPLACE TABLE batch AS SELECT * FROM {_csv(f'{inp}/days/day{d}.csv')}")
        con.execute("""UPDATE state SET amount = b.amount, category = b.category,
                         last_updated = b.last_updated, txn_date = b.txn_date
                       FROM batch b WHERE state.txn_id = b.txn_id""")
        con.execute("""INSERT INTO state SELECT * FROM batch
                       WHERE txn_id NOT IN (SELECT txn_id FROM state)""")
        states[f"day{d}"] = _summary(con, spec)
        if d not in spec["null_batch_days"]:
            con.execute(f"INSERT INTO state SELECT * FROM {_csv(f'{inp}/wap/day{d}.csv')}")
    states["main"] = _summary(con, spec)
    return states


def _summary(con, spec):
    n, cents = con.execute(f"SELECT count(*), {CENTS} FROM state").fetchone()
    accounts = dict(con.execute("SELECT account, count(*) FROM state GROUP BY 1").fetchall())
    look = []
    for tid in spec["lookups"]:
        for r in con.execute("""SELECT account, txn_date, txn_id, merchant, amount, category,
                                  last_updated FROM state WHERE txn_id = ?""", [tid]).fetchall():
            look.append([r[0], str(r[1]), r[2], r[3], f"{r[4]:.2f}", r[5],
                         r[6].strftime("%Y-%m-%d %H:%M:%S")])
    dates = con.execute(f"""SELECT txn_date, count(*), {CENTS} FROM state
                            GROUP BY 1 ORDER BY 1""").fetchall()
    return {"count": n, "cents": cents or 0, "accounts": accounts, "lookups": sorted(look),
            "dates": [[str(a), b, c] for a, b, c in dates]}


def _compare_states(observed, expected, fails):
    for ref, got in observed.items():
        exp = expected[ref]
        for k in ("count", "cents", "accounts"):
            if got[k] != exp[k]:
                fails.append(f"{ref}.{k}: got {str(got[k])[:200]} want {str(exp[k])[:200]}")
        if not got["accounts_sum_ok"]:
            fails.append(f"{ref}: per-account counts or hashes do not sum to the total row")


def check_daily_cycle(inp, spec, checks):
    fails = []
    expected = replay(inp, spec)
    obs = checks["observed"]
    if sorted(obs) != sorted(expected):
        fails.append(f"observed refs {sorted(obs)} want {sorted(expected)}")
    _compare_states(obs, expected, fails)
    # the timed read queries' own outputs
    for b, n in checks["timed_counts"].items():
        if n != expected[b]["count"]:
            fails.append(f"VERSION AS OF {b}: count {n} want {expected[b]['count']}")
    acct = checks["timed_accounts"]
    if acct != expected["main"]["accounts"]:
        fails.append("GROUP BY account differs from the replay")
    if sum(acct.values()) != expected["main"]["count"]:
        fails.append("per-account counts do not sum to the total")
    recent = expected["main"]["dates"][-3:]
    if checks["timed_recent_dates"] != recent:
        fails.append(f"partition aggregate {checks['timed_recent_dates']} want {recent}")
    if sorted(checks["timed_lookups"]) != sorted(expected):
        fails.append(f"lookups ran as of {sorted(checks['timed_lookups'])}")
    for ref, rows in checks["timed_lookups"].items():
        if sorted(rows) != expected[ref]["lookups"]:
            fails.append(f"lookups as of {ref}: {sorted(rows)} want {expected[ref]['lookups']}")
    # properties: WAP publishes exactly its batch or leaves main unchanged
    for d in range(1, spec["days"] + 1):
        w = checks[f"wap_day{d}"]
        before = [obs[f"day{d}"]["count"], obs[f"day{d}"]["hash"]]
        after, batch = w["main_after"], w["batch"]
        if w["published"] == (d in spec["null_batch_days"]):
            fails.append(f"WAP day {d}: published={w['published']} with nulls="
                         f"{d in spec['null_batch_days']}")
        if w["published"]:
            ok = (after[0] == before[0] + batch[0]
                  and int(after[1]) == int(before[1]) + int(batch[1]))
        else:
            ok = after == before
        if not ok:
            fails.append(f"WAP day {d}: main {before} -> {after}, batch {batch}")
    # compaction and the rest of maintenance keep every ref's rows
    want = {ref: [o["count"], o["hash"]] for ref, o in obs.items()}
    if checks["post_rewrite"]["main"] != want["main"]:
        fails.append(f"rewrite_data_files changed main: {want['main']} -> "
                     f"{checks['post_rewrite']['main']}")
    post = checks["post_maintenance"]
    want_refs = sorted(set(want) - {"day1"})
    if sorted(post) != want_refs:
        fails.append(f"refs after maintenance {sorted(post)}, want {want_refs}")
    for ref, h in post.items():
        if want.get(ref) != h:
            fails.append(f"maintenance changed {ref}: {want.get(ref)} -> {h}")
    return fails


def _normalize(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = sorted((tuple(r[i] for i in order) for r in rows),
                 key=lambda t: tuple((x is None, str(x)) for x in t))
    return [cols[i] for i in order], out


def _cell_eq(a, b):
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, float) or isinstance(b, float):
        fa, fb = float(a), float(b)
        return (math.isnan(fa) and math.isnan(fb)) or fa == fb
    if type(a) is not type(b):
        return str(a) == str(b)
    return a == b


def check_corpus(work, corpus, names):
    fails = []
    oracle = json.load(open(f"{work}/oracle_sql.json"))
    con = duckdb.connect()
    for t in ("documents", "embeddings", "events"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{corpus}/{t}.parquet')")
    for n in names:
        if not os.path.isdir(f"{work}/out/{n}"):
            fails.append(f"{n}: no output")
            continue
        got = con.sql(f"SELECT * FROM read_parquet('{work}/out/{n}/*.parquet')")
        want = con.sql(oracle[n])
        gc, gr = _normalize(got.fetchall(), list(got.columns))
        wc, wr = _normalize(want.fetchall(), list(want.columns))
        if gc != wc:
            fails.append(f"{n}: columns {gc} want {wc}")
        elif len(gr) != len(wr):
            fails.append(f"{n}: {len(gr)} rows want {len(wr)}")
        elif not all(_cell_eq(x, y) for a, b in zip(gr, wr) for x, y in zip(a, b)):
            bad = next(i for i, (a, b) in enumerate(zip(gr, wr))
                       if not all(_cell_eq(x, y) for x, y in zip(a, b)))
            fails.append(f"{n}: row {bad} {gr[bad]} want {wr[bad]}")
        elif not gr:
            fails.append(f"{n}: empty result, nothing checked")
    return fails
