#!/usr/bin/env python3
"""Dev-only mimic of the driver's correctness gate (NOT part of the library).

Usage: python3 scripts/selfcheck.py <sfDir> <verifyOutDir>

Loads each SparkEntry query result (parquet written by graft.Verify), runs the
corresponding oracle SQL in DuckDB over the same testdata tables, and compares
schema/rowcount/values. Floats compare with 1e-9 tolerance (results are already
rounded to 6 decimals on both sides); NaN/null compare equal.
"""
import glob
import json
import math
import os
import sys

import duckdb
import numpy as np
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def load_spark_result(out_dir, name):
    files = sorted(glob.glob(os.path.join(out_dir, name, "part-*.parquet")))
    if not files:
        return None
    return pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)


def norm_col(s):
    """Normalize a column for comparison: dates/timestamps -> ISO strings."""
    if pd.api.types.is_datetime64_any_dtype(s):
        # dates surface as midnight timestamps from duckdb.df(); align with
        # pyarrow's datetime.date isoformat
        if (s.dropna().dt.normalize() == s.dropna()).all():
            return s.dt.strftime("%Y-%m-%d").astype(object)
        return s.dt.strftime("%Y-%m-%d %H:%M:%S").astype(object)
    if s.dtype == object:
        return s.map(lambda v: v.isoformat() if hasattr(v, "isoformat") else v)
    return s


def compare(name, sdf, ddf):
    sc, dc = sorted(sdf.columns), sorted(ddf.columns)
    if sc != dc:
        return f"COLUMNS spark={sc} duck={dc}"
    if len(sdf) != len(ddf):
        return f"ROWCOUNT spark={len(sdf)} duck={len(ddf)}"
    for c in sc:
        a, b = sdf[c], ddf[c]
        if pd.api.types.is_float_dtype(a) or pd.api.types.is_float_dtype(b):
            # BIT-EXACT, like the driver's value hash: a 1-ulp or signed-zero
            # difference that np.isclose would forgive still breaks the hash.
            av = pd.to_numeric(a, errors="coerce").to_numpy(dtype=float)
            bv = pd.to_numeric(b, errors="coerce").to_numpy(dtype=float)
            bad = av.view(np.uint64) != bv.view(np.uint64)  # NaN==NaN, -0!=+0
            if bad.any():
                i = int(np.argmax(bad))
                return f"VALUES col={c} row={i} spark={av[i]!r} duck={bv[i]!r} ({int(bad.sum())} diffs)"
        else:
            av, bv = norm_col(a), norm_col(b)
            neq = ~((av == bv) | (av.isna() & bv.isna()))
            if neq.any():
                i = int(np.argmax(neq.to_numpy()))
                return f"VALUES col={c} row={i} spark={av.iloc[i]!r} duck={bv.iloc[i]!r} ({int(neq.sum())} diffs)"
    return None


def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.isdir(p):
            # Spark-written table (directory of part files), e.g. a
            # corpus generated by graft.ScaleCorpus
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}/*.parquet')")
        elif os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)

    n_pass = n_fail = 0
    for name in sorted(oracle):
        sdf = load_spark_result(out_dir, name)
        if sdf is None:
            print(f"FAIL {name}: no spark result written")
            n_fail += 1
            continue
        try:
            ddf = con.execute(oracle[name]).df()
        except Exception as e:
            print(f"FAIL {name}: oracle SQL error: {e}")
            n_fail += 1
            continue
        err = compare(name, sdf, ddf)
        if err:
            print(f"FAIL {name}: {err}")
            n_fail += 1
        else:
            print(f"PASS {name} ({len(sdf)} rows)")
            n_pass += 1

    # queries with no oracle -> rows-only check
    for d in sorted(glob.glob(os.path.join(out_dir, "*/"))):
        name = os.path.basename(d.rstrip("/"))
        if name not in oracle:
            sdf = load_spark_result(out_dir, name)
            n = 0 if sdf is None else len(sdf)
            print(f"INFO {name}: no oracle, rows={n}")

    print(f"\n{n_pass} passed, {n_fail} failed")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
