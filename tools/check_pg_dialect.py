#!/usr/bin/env python3
"""Execute the sink's EXACT rendered Postgres-dialect upsert statements
against DuckDB's Postgres-compatible INSERT .. ON CONFLICT engine and
assert the conflict semantics (DO NOTHING keeps the first row, DO
UPDATE overwrites every non-key column).

No Postgres server or pgjdbc driver exists in this offline sandbox;
this is the strongest available execution of the dialect strings
(Derby MERGE is executed live in SinkSpec; the Postgres strings were
previously only string-asserted).

Usage: python3 tools/check_pg_dialect.py [dump.json]
       (runs `sbt runMain graft.PgDialectDump` first if no dump given)
"""
import json, subprocess, sys
from pathlib import Path

import duckdb

REPO = Path(__file__).resolve().parent.parent  # the checkout this script sits in

dump = sys.argv[1] if len(sys.argv) > 1 else None
if dump is None:
    dump = "/tmp/pg_dialect.json"
    subprocess.run(
        ["sbt", "-batch", f"runMain graft.PgDialectDump {dump}"],
        check=True, cwd=REPO, stdout=subprocess.DEVNULL)

specs = [json.loads(l) for l in open(dump) if l.strip()]
assert {s["table"] for s in specs} == {"transactions", "contracts", "blocks"}

con = duckdb.connect()
failures = 0
for s in specs:
    cols = s["param_cols"]
    keys = s["conflict_keys"]
    # all-VARCHAR columns: the semantics under test are conflict
    # handling, not type mapping (type mapping is exercised by the
    # live Derby leg in SinkSpec)
    col_defs = ", ".join(f'"{c}" VARCHAR' for c in cols)
    pk = ", ".join(f'"{k}"' for k in keys)
    con.execute(f'CREATE TABLE {s["table"]} ({col_defs}, PRIMARY KEY ({pk}))')

    row1 = [f"v1_{i}" for i in range(len(cols))]
    row2 = [f"v2_{i}" for i in range(len(cols))]
    # same conflict key for both rows
    for r in (row1, row2):
        for k in keys:
            r[cols.index(k)] = f"key_{k}"

    con.execute(s["sql"], row1)   # initial insert
    con.execute(s["sql"], row2)   # conflicting insert
    got = con.execute(f'SELECT * FROM {s["table"]}').fetchall()
    if len(got) != 1:
        print(f'FAIL {s["table"]}: expected 1 row, got {len(got)}')
        failures += 1
        continue
    got_row = list(got[0])
    expected = row1 if s["policy"] == "DoNothing" else row2
    if got_row == expected:
        print(f'OK {s["table"]}: {s["policy"]} semantics verified '
              f'({s["sql"][:60]}...)')
    else:
        print(f'FAIL {s["table"]}: {s["policy"]} expected {expected[:3]}..., '
              f'got {got_row[:3]}...')
        failures += 1

    # redelivery idempotence: re-running the whole batch changes nothing
    for r in (row1, row2):
        con.execute(s["sql"], r)
    again = con.execute(f'SELECT count(*) FROM {s["table"]}').fetchone()[0]
    if again != 1:
        print(f'FAIL {s["table"]}: redelivery produced {again} rows')
        failures += 1

sys.exit(1 if failures else 0)
