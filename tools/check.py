#!/usr/bin/env python3
"""Local replica of the driver's correctness gate: run graft.Verify,
then execute each oracle SQL in DuckDB over the same parquet tables
and hash-compare (columns sorted by name, rows sorted, values
stringified). An oracled entry with no output reads NO_OUTPUT; the
exit status is 1 unless every entry is OK or ROWS_ONLY.
Usage: python3 tools/check.py [sfDir] [outDir] [--no-verify]
"""
import json, os, subprocess, sys, hashlib
from pathlib import Path

import duckdb
import pyarrow.parquet as pq

REPO = Path(__file__).resolve().parent.parent  # the checkout this script sits in

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
OUT = Path(sys.argv[2] if len(sys.argv) > 2 else "/tmp/graft_verify")

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def canon_cell(v):
    if isinstance(v, float):
        return f"{v!r}"
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, list):
        return "[" + ",".join(canon_cell(x) for x in v) + "]"
    return str(v)


def table_hash(tbl):
    cols = sorted(tbl.column_names)
    data = tbl.select(cols).to_pylist()
    rows = sorted("|".join(canon_cell(r[c]) for c in cols) for r in data)
    h = hashlib.sha256()
    for r in rows:
        h.update(r.encode())
        h.update(b"\n")
    return h.hexdigest(), len(rows), cols


def main():
    if "--no-verify" not in sys.argv:
        r = subprocess.run(
            ["sbt", "-batch", f'runMain graft.Verify {SF} {OUT}'],
            capture_output=True, text=True, cwd=REPO)
        if r.returncode != 0:
            print(r.stdout[-3000:])
            print(r.stderr[-3000:])
            sys.exit(1)

    con = duckdb.connect()
    for t in TABLES:
        # ScaleUp corpora write each table as a DIRECTORY of part files
        src = f"{SF}/{t}.parquet"
        if (Path(src) / "_SUCCESS").exists() or Path(src).is_dir():
            src = f"{src}/*.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{src}'")

    oracle = json.loads((OUT / "oracle_sql.json").read_text())
    # every oracled entry must have written output (Verify deletes an
    # entry's directory before running it), unless SPARK_GRAFT_ONLY
    # narrowed the Verify run to named entries
    only = {n.strip() for n in os.environ.get("SPARK_GRAFT_ONLY", "").split(",") if n.strip()}
    expected = only or set(oracle) | {d.name for d in OUT.iterdir() if d.is_dir()}
    results = {}
    for name in sorted(expected):
        files = list((OUT / name).glob("*.parquet"))
        if not files:
            results[name] = "NO_OUTPUT"
            continue
        spark_tbl = pq.read_table(files[0])
        sh, sn, scols = table_hash(spark_tbl)
        if name not in oracle:
            results[name] = f"ROWS_ONLY rows={sn}" + (" EMPTY!" if sn == 0 else "")
            continue
        try:
            duck_tbl = con.execute(oracle[name]).arrow()
        except Exception as e:
            results[name] = f"ORACLE_SQL_ERROR {e}"
            continue
        dh, dn, dcols = table_hash(duck_tbl)
        if scols != dcols:
            results[name] = f"SCHEMA_MISMATCH spark={scols} duck={dcols}"
        elif sn != dn:
            results[name] = f"ROWCOUNT spark={sn} duck={dn}"
        elif sh != dh:
            # find first differing row for debugging
            srows = sorted("|".join(canon_cell(r[c]) for c in scols)
                           for r in spark_tbl.select(scols).to_pylist())
            drows = sorted("|".join(canon_cell(r[c]) for c in dcols)
                           for r in duck_tbl.select(dcols).to_pylist())
            diff = next((i for i, (a, b) in enumerate(zip(srows, drows)) if a != b), -1)
            results[name] = (f"HASH_MISMATCH rows={sn} first_diff_row#{diff}\n"
                             f"    spark: {srows[diff][:300]}\n"
                             f"    duck : {drows[diff][:300]}")
        else:
            results[name] = f"OK rows={sn}"

    n_ok = sum(1 for v in results.values() if v.startswith("OK"))
    n_rows_only = sum(1 for v in results.values() if v.startswith("ROWS_ONLY"))
    for k, v in results.items():
        mark = "✓" if v.startswith(("OK", "ROWS_ONLY")) else "✗"
        print(f"{mark} {k}: {v}")
    n_failing = len(results) - n_ok - n_rows_only
    print(f"\n{n_ok} OK, {n_rows_only} rows-only, "
          f"{n_failing} failing, {len(results)} total")
    sys.exit(1 if n_failing else 0)


if __name__ == "__main__":
    main()
