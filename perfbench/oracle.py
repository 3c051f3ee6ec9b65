"""Checks of the engine's outputs against computations made apart from it.

* ``check_queries``: each query's Spark result against its DuckDB twin
  (``SparkEntry.oracleSql``) over the same generated tables, compared by the
  canonical row hash of the repository's oracle comparator: columns sorted
  by name, rows sorted by every column, each cell rendered canonically,
  SHA-256 over the rendered rows.
* ``check_ingest``: the ingest workload's store, quarantine, Snapshot and
  Derby target against DuckDB ground truth computed from the generated CSV
  files and the arrival plan alone.
"""
import datetime
import decimal
import hashlib
import math
import os

import duckdb
import numpy as np
import pandas as pd

TABLES = ("region nation customer supplier part orders lineitem "
          "events documents embeddings").split()


def canon(v):
    if v is None or v is pd.NaT:
        return "NULL"
    if isinstance(v, (float, np.floating)):
        return "NULL" if math.isnan(v) else repr(float(v))
    if isinstance(v, decimal.Decimal):
        return f"DEC:{v}"
    if isinstance(v, (bool, np.bool_)):
        return f"bool:{bool(v)}"
    if isinstance(v, (int, np.integer)):
        return f"int:{int(v)}"
    if isinstance(v, (pd.Timestamp, datetime.datetime)):
        return v.isoformat()
    if isinstance(v, datetime.date):
        return datetime.datetime(v.year, v.month, v.day).isoformat()
    if isinstance(v, (list, tuple, np.ndarray)):
        return "ARRAY[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, str):
        return f"str:{v}"
    return f"{type(v).__name__}:{v}"


def frame_hash(df):
    """(sorted column names, row count, canonical hash) of a frame."""
    cols = sorted(df.columns)
    df = df[cols].sort_values(by=cols, kind="mergesort").reset_index(drop=True)
    h = hashlib.sha256()
    for row in df.itertuples(index=False, name=None):
        h.update(("|".join(canon(v) for v in row) + "\n").encode())
    return cols, len(df), h.hexdigest()


def check_queries(data_dir, out_dir, oracle_sql, names):
    """Return {query: problem} for every query whose result disagrees."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    problems = {}
    for name in names:
        if name not in oracle_sql:
            problems[name] = "no DuckDB twin"
            continue
        try:
            spark = frame_hash(pd.read_parquet(os.path.join(out_dir, name)))
        except Exception as e:  # missing or unreadable output
            problems[name] = f"spark output unreadable: {e}"[:300]
            continue
        try:
            duck = frame_hash(con.execute(oracle_sql[name]).df())
        except Exception as e:
            problems[name] = f"duckdb error: {e}"[:300]
            continue
        if spark != duck:
            problems[name] = (f"spark cols={spark[0]} rows={spark[1]} vs "
                              f"duckdb cols={duck[0]} rows={duck[1]}; hash mismatch")
    return problems


def _load_csv(con, table, paths):
    """Parse CSV files into a DuckDB table with the partner schema. Lines that
    do not fit the schema are skipped; the table is materialized so every
    column is parsed (a bare count over ``read_csv`` may skip the parse of
    columns it does not project, and with it the rejection of a bad line)."""
    lst = ", ".join(f"'{p}'" for p in paths)
    con.execute(f"CREATE OR REPLACE TABLE {table} AS SELECT * FROM read_csv([{lst}], "
                "header=true, ignore_errors=true, columns={'id': 'BIGINT', 'name': 'VARCHAR', "
                "'qty': 'INTEGER', 'price': 'DOUBLE', 'ship_date': 'DATE'})")


def check_ingest(plan, arrived, cycles, out_dir, released):
    """Return a list of problems (empty when every invariant holds)."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for n in ("store", "q_clean", "q_bad", "snapshot", "target"):
        con.execute(f"CREATE VIEW got_{n} AS SELECT * FROM read_parquet('{out_dir}/{n}/*.parquet')")
    files = [plan[i] for i in arrived]
    clean = [f["path"] for f in files if not f["dirty"]]
    dirty = [f for f in files if f["dirty"]]
    problems = []

    def same(label, a_sql, b_sql):
        diff = con.execute(f"SELECT (SELECT count(*) FROM (({a_sql}) EXCEPT ALL ({b_sql}))) + "
                           f"(SELECT count(*) FROM (({b_sql}) EXCEPT ALL ({a_sql})))").fetchone()[0]
        if diff:
            problems.append(f"{label}: {diff} rows differ from ground truth")

    cols = "id, name, qty, price, ship_date"
    _load_csv(con, "clean_rows", clean)
    # Every arrived clean file's rows land in the store exactly once, however
    # often the file was announced; compaction must have kept exactly that.
    same("store", f"SELECT {cols} FROM got_store", f"SELECT {cols} FROM clean_rows")
    if dirty:
        dpaths = [f["path"] for f in dirty]
        _load_csv(con, "dirty_rows", dpaths)
        same("quarantine clean rows", f"SELECT {cols} FROM got_q_clean",
             f"SELECT {cols} FROM dirty_rows")
        bad = [b for f in dirty for b in f["bad"]]
        got_bad = sorted(r[0].rstrip("\r\n") for r in
                         con.execute("SELECT _corrupt_record FROM got_q_bad").fetchall())
        if got_bad != sorted(bad):
            problems.append(f"quarantine holds {len(got_bad)} lines, {len(bad)} were injected")
        # DuckDB's own parse of the dirty files must reject exactly the
        # injected lines, or the clean-row truth above is not independent.
        lines = sum(sum(1 for _ in open(p)) - 1 for p in dpaths)
        parsed = con.execute("SELECT count(*) FROM dirty_rows").fetchone()[0]
        if parsed + len(bad) != lines:
            problems.append(f"DuckDB parsed {parsed} of {lines} lines with {len(bad)} injected bad")
    else:
        con.execute("CREATE TABLE dirty_rows AS SELECT * FROM clean_rows LIMIT 0")
    same("snapshot aggregate",
         "SELECT qty, ship_year, n, price_sum FROM got_snapshot",
         "SELECT qty, year(ship_date) AS ship_year, count(*) AS n, "
         "CAST(CAST(sum(CAST(price AS DECIMAL(38,4))) AS DECIMAL(38,4)) AS VARCHAR) AS price_sum "
         "FROM (SELECT * FROM clean_rows UNION ALL SELECT * FROM dirty_rows) GROUP BY ALL")
    # Derby holds the latest row per key over the upserted deltas: a key's
    # row comes from the last cycle whose files carried it.
    deltas = []
    for c in cycles:
        paths = sorted({p for i in c["files"] if not plan[i]["dirty"] for p in plan[i]["notify"]})
        if paths:
            _load_csv(con, f"delta_{c['round']}", paths)
            deltas.append(f"SELECT {c['round']} AS cyc, {cols} FROM delta_{c['round']}")
    if deltas:
        same("jdbc target",
             f"SELECT {cols} FROM got_target",
             f"SELECT {cols} FROM (SELECT *, row_number() OVER (PARTITION BY id ORDER BY cyc DESC) rn "
             f"FROM ({' UNION ALL '.join(deltas)})) WHERE rn = 1")
    if released != len(cycles):
        problems.append(f"gate released {released} of {len(cycles)} clean cycles")
    return problems
