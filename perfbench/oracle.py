"""Result checks against DuckDB, outside every timed window.

Query results: each query's output (written by the engine as parquet) is
compared with its DuckDB oracle SQL over the same input tables, columns
sorted by name, rows in order, values exact. A query without an oracle
must return at least one row.

Ingest: every row of every 204-answered envelope must be in the raw tables
exactly once, and no other row may be there.
"""
import glob
import os

import duckdb
import pandas as pd


def _same(g, e):
    """Column equality as the repository's tools/compare.py decides it."""
    try:
        gn, en = g.isna(), e.isna()
        return bool((gn == en).all()) and (g.equals(e) or bool((g[~gn] == e[~en]).all()))
    except (TypeError, ValueError):
        return bool((g.astype(str) == e.astype(str)).all())


def check_queries(data_dir, results_dir, oracle_sql, names):
    """Returns {query: failure message} for every query that fails."""
    con = duckdb.connect()
    for path in glob.glob(os.path.join(data_dir, "*.parquet")):
        t = os.path.basename(path)[: -len(".parquet")]
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    failures = {}
    for name in names:
        d = os.path.join(results_dir, name)
        if not os.path.isdir(d):
            failures[name] = "no result written"
            continue
        got = pd.read_parquet(d)
        got = got[sorted(got.columns)].reset_index(drop=True)
        if name not in oracle_sql:
            if len(got) == 0:
                failures[name] = "no oracle and no rows"
            continue
        try:
            exp = con.sql(oracle_sql[name]).df()
        except duckdb.Error as err:
            failures[name] = f"oracle failed: {err}"
            continue
        exp = exp[sorted(exp.columns)].reset_index(drop=True)
        if list(got.columns) != list(exp.columns):
            failures[name] = f"columns {list(got.columns)} vs {list(exp.columns)}"
        elif len(got) != len(exp):
            failures[name] = f"rows {len(got)} vs {len(exp)}"
        else:
            bad = [c for c in got.columns if not _same(got[c], exp[c])]
            if bad:
                failures[name] = f"values differ in {bad}"
    return failures


def check_ingest(raw_metrics, raw_logs, accepted):
    """`accepted`: dicts with host, t_us, metrics and logs row counts, one
    per 204-answered envelope. Returns (envelopes with a missing or
    duplicated row, rows that belong to no accepted envelope)."""
    con = duckdb.connect()
    want = {(e["host"], e["t_us"]): e for e in accepted}
    bad, extra = set(), 0
    for path, kind, distinct in ((raw_metrics, "metrics", "name || CAST(tags AS VARCHAR)"),
                                 (raw_logs, "logs", "data")):
        rows = con.sql(
            f"SELECT host, epoch_us(time) AS t, count(*) AS n, count(DISTINCT {distinct}) AS d "
            f"FROM read_parquet('{path}/**/*.parquet', hive_partitioning = true) "
            "GROUP BY ALL").fetchall()
        seen = set()
        for host, t, n, d in rows:
            e = want.get((host, t))
            if e is None:
                extra += n
                continue
            seen.add((host, t))
            if n != d or d != e[kind]:
                bad.add((host, t))
        bad.update(k for k, e in want.items() if k not in seen and e[kind] > 0)
    return sorted(bad), extra
