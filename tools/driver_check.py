#!/usr/bin/env python3
"""Strict replica of the EXTERNAL driver's correctness compare (the one
that produced CORRECTNESS_r02.json), which differs from tools/check.py:
it goes through pandas, so

  - array-valued cells crash DataFrame.sort_values ("unhashable type:
    numpy.ndarray") -> catalog outputs must be scalars only;
  - DuckDB SUM(BIGINT) / list_sum / wide DECIMAL surface as
    float64/object while Spark writes int64 -> values like 6.0 vs 6
    hash-mismatch even though check.py's str() canonicalization passes.

This script reproduces both failure modes: reads the Spark parquet with
pandas, runs the oracle via duckdb .df(), sorts columns by name, sorts
rows by all columns, and compares the stringified frames AND dtypes.

Usage: python3 tools/driver_check.py [sfDir] [outDir] [--no-verify]
"""
import json, os, subprocess, sys
from pathlib import Path

import duckdb
import pandas as pd

REPO = Path(__file__).resolve().parent.parent  # the checkout this script sits in

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
OUT = Path(sys.argv[2] if len(sys.argv) > 2 else "/tmp/graft_verify")

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def frame_sig(df):
    cols = sorted(df.columns)
    df = df[cols]
    df = df.sort_values(by=cols).reset_index(drop=True)  # crashes on ndarray cells like the driver
    return df


def main():
    if "--no-verify" not in sys.argv:
        r = subprocess.run(
            ["sbt", "-batch", f"runMain graft.Verify {SF} {OUT}"],
            capture_output=True, text=True, cwd=REPO)
        if r.returncode != 0:
            print(r.stdout[-3000:])
            print(r.stderr[-3000:])
            sys.exit(1)

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")

    oracle = json.loads((OUT / "oracle_sql.json").read_text())
    # as tools/check.py: an oracled entry without output is a failure
    only = {n.strip() for n in os.environ.get("SPARK_GRAFT_ONLY", "").split(",") if n.strip()}
    expected = only or set(oracle) | {d.name for d in OUT.iterdir() if d.is_dir()}
    bad = 0
    for name in sorted(expected):
        files = list((OUT / name).glob("*.parquet"))
        if not files:
            print(f"{name}: NO_OUTPUT")
            bad += 1
            continue
        try:
            spark_df = frame_sig(pd.read_parquet(files[0]))
        except Exception as e:
            print(f"{name}: SPARK_PANDAS_ERROR {type(e).__name__}: {e}")
            bad += 1
            continue
        if name not in oracle:
            print(f"{name}: ROWS_ONLY rows={len(spark_df)}" + (" EMPTY!" if not len(spark_df) else ""))
            continue
        try:
            duck_df = frame_sig(con.execute(oracle[name]).df())
        except Exception as e:
            print(f"{name}: ORACLE_ERROR {type(e).__name__}: {e}")
            bad += 1
            continue
        if list(spark_df.columns) != list(duck_df.columns):
            print(f"{name}: SCHEMA spark={list(spark_df.columns)} duck={list(duck_df.columns)}")
            bad += 1
            continue
        if len(spark_df) != len(duck_df):
            print(f"{name}: ROWCOUNT spark={len(spark_df)} duck={len(duck_df)}")
            bad += 1
            continue
        dt_diff = [(c, str(spark_df[c].dtype), str(duck_df[c].dtype))
                   for c in spark_df.columns if str(spark_df[c].dtype) != str(duck_df[c].dtype)]
        s_str = spark_df.astype(str)
        d_str = duck_df.astype(str)
        if not s_str.equals(d_str):
            neq = (s_str != d_str)
            cols_bad = [c for c in s_str.columns if neq[c].any()]
            row = neq.any(axis=1).idxmax()
            print(f"{name}: VALUE_MISMATCH cols={cols_bad}")
            print(f"  spark row {row}: {spark_df.iloc[row].to_dict()}")
            print(f"  duck  row {row}: {duck_df.iloc[row].to_dict()}")
            bad += 1
        elif dt_diff:
            print(f"{name}: DTYPE_MISMATCH {dt_diff}")
            bad += 1
        else:
            print(f"{name}: OK rows={len(spark_df)}")
    print(f"\n{'ALL GREEN' if bad == 0 else f'{bad} FAILURES'}")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
