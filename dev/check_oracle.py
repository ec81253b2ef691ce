#!/usr/bin/env python3
"""Local replica of the driver's correctness gate (dev tool only — the
engine itself is pure Scala/Spark).

Usage: python3 dev/check_oracle.py <sfDir> <verifyOutDir>

Exits 1 when a query fails, and also when the oracle json names no query:
a run that compared nothing proves nothing.

Reads each <verifyOutDir>/<name>/ parquet (Spark result) and runs
<verifyOutDir>/oracle_sql.json[name] in DuckDB against the parquet tables
in <sfDir>, then compares: column-name sets, row counts, and PANDAS-LEVEL
cell representations with columns sorted by name and rows sorted.

Why pandas-level: the driver's hash is computed over pandas dataframes, so
it is dtype-sensitive — DuckDB SUM(BIGINT) widens to HUGEINT which pandas
renders as float64 ("3.0"), while Spark writes int64 ("3"). Round-1's
checker compared raw Python values (where 3 == 3.0) and wrongly passed
q9/q33/q36/q38. This version stringifies each cell AFTER the pandas
conversion, so any dtype divergence the driver would flag fails here too.
"""
import glob
import json
import math
import sys

import duckdb
import numpy as np
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def cell(v):
    """Dtype-sensitive string form of one pandas cell."""
    if v is None:
        return "<null>"
    if isinstance(v, float):
        if math.isnan(v):
            return "<null>"
        return repr(v)          # 3.0 -> '3.0' (differs from int 3 -> '3')
    if isinstance(v, (np.floating,)):
        f = float(v)
        return "<null>" if math.isnan(f) else repr(f)
    if isinstance(v, (np.integer,)):
        return repr(int(v))
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(cell(x) for x in v) + "]"
    if isinstance(v, pd.Timestamp):
        # Spark writes DATE as date32 (pandas datetime.date) while DuckDB's
        # DATE arrives as a midnight datetime64; the driver's round-1 result
        # (q18 green) shows its hash tolerates this, so fold midnight
        # timestamps down to their date form.
        if v.hour == v.minute == v.second == v.microsecond == v.nanosecond == 0:
            return v.date().isoformat()
        return v.isoformat()
    try:
        if pd.isna(v):
            return "<null>"
    except (TypeError, ValueError):
        pass
    return str(v)


def canon(df):
    df = df[sorted(df.columns)]
    rows = [tuple(cell(v) for v in r)
            for r in df.itertuples(index=False, name=None)]
    rows.sort()
    return list(df.columns), rows


def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    if not oracle:
        print(f"FAIL: {out_dir}/oracle_sql.json names no query; nothing compared")
        sys.exit(1)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    n_pass = n_fail = 0
    for name in sorted(oracle):
        sql = oracle[name]
        files = glob.glob(f"{out_dir}/{name}/*.parquet")
        if not files:
            print(f"FAIL {name}: no spark output")
            n_fail += 1
            continue
        spark_df = pd.concat([pd.read_parquet(f) for f in sorted(files)],
                             ignore_index=True)
        try:
            duck_df = con.execute(sql).df()
        except Exception as e:
            print(f"FAIL {name}: oracle SQL error: {e}")
            n_fail += 1
            continue
        gn, gr = canon(spark_df)
        en, er = canon(duck_df)
        if gn != en:
            print(f"FAIL {name}: columns differ spark={gn} oracle={en}")
            n_fail += 1
            continue
        if len(gr) != len(er):
            print(f"FAIL {name}: rows spark={len(gr)} oracle={len(er)}")
            n_fail += 1
            continue
        bad = [(i, a, b) for i, (a, b) in enumerate(zip(gr, er)) if a != b]
        if bad:
            i, a, b = bad[0]
            cols = [c for c, x, y in zip(gn, a, b) if x != y]
            print(f"FAIL {name}: {len(bad)}/{len(gr)} rows differ; "
                  f"first at {i} in cols {cols}:")
            print(f"   cols : {gn}")
            print(f"   spark: {a}")
            print(f"   duck : {b}")
            n_fail += 1
        else:
            print(f"PASS {name} ({len(gr)} rows)")
            n_pass += 1
    print(f"== {n_pass} pass, {n_fail} fail ==")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
