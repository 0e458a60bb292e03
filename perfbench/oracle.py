"""Correctness of the query workloads: an order-independent digest of each
query's Spark output against the digest of its DuckDB oracle SQL
(graft.SparkEntry.oracleSql) run over the same generated corpus.

Values are canonicalised before hashing so that the two engines' physical
types compare by value: integers and integral floats print as integers,
other floats print as their exact hex form (so results must agree
bit-for-bit, as the engine's oracle gate requires), NaN equals null, and a
midnight timestamp equals its date.
"""
import datetime as dt
import decimal
import glob
import hashlib
import json
import math
import os

import duckdb
import pyarrow.parquet as pq

TABLES = ("lineitem", "orders", "part", "documents", "embeddings")


def canon(v):
    if v is None:
        return "null"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, (float, decimal.Decimal)):
        f = float(v)
        if math.isnan(f):
            return "null"
        if f.is_integer() and abs(f) < 2.0 ** 63:
            return str(int(f))
        return f.hex()
    if isinstance(v, dt.datetime):
        if v.time() == dt.time(0):
            return v.date().isoformat()
        return v.replace(tzinfo=None).isoformat(sep=" ")
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{canon(x)}" for k, x in sorted(v.items())) + "}"
    return str(v)


def rows(table):
    """Canonical row strings of a pyarrow table, columns in name order."""
    cols = sorted(table.column_names)
    data = [table.column(c).to_pylist() for c in cols]
    return cols, sorted("\x1f".join(canon(col[i]) for col in data)
                        for i in range(table.num_rows))


def digest(lines):
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()


def check(corpus_dir, out_dir, sql_path):
    """Return {query: None if it matches its oracle, else a reason}."""
    con = duckdb.connect()
    con.execute("SET threads TO 1")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{corpus_dir}/{t}.parquet')")
    with open(sql_path) as f:
        oracle = json.load(f)
    verdict = {}
    for name, sql in sorted(oracle.items()):
        parts = sorted(glob.glob(os.path.join(out_dir, name, "part-*.parquet")))
        if not parts:
            verdict[name] = "no Spark output"
            continue
        s_cols, s_rows = rows(pq.read_table(parts))
        try:
            d_cols, d_rows = rows(con.execute(sql).fetch_arrow_table())
        except duckdb.Error as e:
            verdict[name] = f"oracle SQL error: {e}"
            continue
        if s_cols != d_cols:
            verdict[name] = f"columns differ: spark={s_cols} duckdb={d_cols}"
        elif digest(s_rows) != digest(d_rows):
            first = next((a, b) for a, b in zip(s_rows + [""], d_rows + [""]) if a != b)
            verdict[name] = (f"digest differs ({len(s_rows)} vs {len(d_rows)} rows); "
                             f"first difference spark={first[0]!r} duckdb={first[1]!r}")
        else:
            verdict[name] = None
    con.close()
    return verdict
