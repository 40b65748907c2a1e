"""Compare the ops_suite answers with each operator's oracle SQL in DuckDB.

The JVM writes every operator's collected rows to <out>/<name>/ as
parquet and the oracle SQL map to <out>/oracle_sql.json; here each SQL
runs over the same seeded tables and the two row sets must be equal
(columns by name, rows as sorted multisets, floats by repr).
"""
import json
import os

import duckdb

TABLES = ("documents", "embeddings", "events")


def _norm(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(repr(r[i]) if isinstance(r[i], float) else r[i] for i in order) for r in rows]
    out.sort(key=lambda t: tuple(repr(x) for x in t))
    return [cols[i] for i in order], out


def compare(con, sql, got_dir):
    """None if the parquet answer in got_dir equals the SQL's, else why not."""
    got = con.execute(f"SELECT * FROM read_parquet('{got_dir}/*.parquet')")
    gc, gr = _norm([d[0] for d in got.description], got.fetchall())
    want = con.execute(sql)
    wc, wr = _norm([d[0] for d in want.description], want.fetchall())
    if gc != wc:
        return f"columns {gc} != {wc}"
    if gr != wr:
        bad = next((i for i, (a, b) in enumerate(zip(gr, wr)) if a != b), min(len(gr), len(wr)))
        return f"{len(gr)} rows vs {len(wr)}; first difference at sorted row {bad}"
    return None


def check(tables, out):
    """Returns (operators checked, list of mismatch messages)."""
    sql_file = os.path.join(out, "oracle_sql.json")
    if not os.path.exists(sql_file):
        return 1, ["no oracle_sql.json: the suite did not finish"]
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tables}/{t}.parquet/*.parquet')")
    bad = []
    with open(sql_file) as fh:
        sqls = json.load(fh)
    for name, sql in sorted(sqls.items()):
        got_dir = os.path.join(out, name)
        try:
            why = compare(con, sql, got_dir) if os.path.isdir(got_dir) else "no answer written"
        except Exception as e:  # noqa: BLE001 - any SQL/IO error is a failed check
            why = f"{type(e).__name__}: {e}"
        if why:
            bad.append(f"op {name} vs DuckDB oracle: {why}")
    return len(sqls), bad
