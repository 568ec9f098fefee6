#!/usr/bin/env python3
"""Local replica of the driver's correctness gate (SURVEY §5.4).

Usage: python3 tools/check.py <sfDir> <outDir> [query ...]

Assumes `sbt "runMain graft.Verify <sfDir> <outDir>"` has been run: reads each
<outDir>/<name> result parquet and <outDir>/oracle_sql.json, executes the
oracle in DuckDB with views named after the sf tables, and compares the way
the driver does: load BOTH sides into pandas (pyarrow for the Spark parquet,
DuckDB .df() for the oracle), sort columns by name, sort_values over all
columns, then compare the per-cell stringified frames. No value normalization:
Decimal.normalize() would hide the driver's hash failures on decimal
representation, and an arrow-side compare would hide its pandas sort crashes
on array cells — both failure classes must surface locally.
"""
import json
import sys
from pathlib import Path

import duckdb
import pandas as pd

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def canon(df):
    """Driver-style canonical form: alphabetical columns, full-row sort
    (raises on unhashable cells exactly like the driver), then pandas
    COLUMN-level stringification (to_csv). Per-cell str() is wrong here:
    to_csv prints all-midnight datetime64 columns as bare dates (making
    spark date32-object vs duck datetime64 equal, as the driver does)
    and prints None/NaN both as empty — while still distinguishing
    Decimal('1.500000') from float 1.5, as the driver does."""
    cols = sorted(df.columns)
    df = df[cols].sort_values(cols).reset_index(drop=True)
    return cols, df.to_csv(index=False).splitlines()[1:]


def main():
    # optional: --json <path> writes a driver-style CORRECTNESS artifact
    # (per-query rows/schema/hash booleans) alongside the console report —
    # used for the committed second-scale-factor correctness record.
    args = sys.argv[1:]
    json_out = None
    if "--json" in args:
        i = args.index("--json")
        json_out = args[i + 1]
        args = args[:i] + args[i + 2:]
    sf_dir, out_dir = args[0], args[1]
    only = set(args[2:])
    record = {}
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if Path(p).exists():
            # a Spark-written table (graft.GenScale) is a dir of part files
            glob = f"{p}/*.parquet" if Path(p).is_dir() else p
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{glob}')")
    oracle = json.loads(Path(f"{out_dir}/oracle_sql.json").read_text())
    # oracle-less keys still get their Spark output sorted by the driver —
    # replicate that so array-typed outputs crash here too
    for d in Path(out_dir).iterdir():
        if d.is_dir() and d.name not in oracle:
            oracle[d.name] = None
    n_pass = n_fail = 0
    for name, sql in sorted(oracle.items()):
        if only and name not in only:
            continue
        def rec(rows=None, schema=None, hsh=None, s_rows=None, d_rows=None, err=None):
            record[name] = {"rows_match": rows, "schema_match": schema,
                            "hash_match": hsh, "spark_rows": s_rows,
                            "oracle_rows": d_rows, "err": err}
        res_dir = Path(out_dir) / name
        if not res_dir.exists():
            print(f"FAIL {name}: no spark result written")
            rec(err="no_result")
            n_fail += 1
            continue
        try:
            s_df = pd.read_parquet(res_dir)
            sc, sr = canon(s_df)
        except Exception as e:
            print(f"FAIL {name}: spark-side {type(e).__name__}: {e}")
            rec(err=f"spark:{type(e).__name__}")
            n_fail += 1
            continue
        if sql is None:
            print(f"PASS {name} (no oracle; {len(sr)} rows sortable)")
            rec(s_rows=len(sr), err="no_oracle")
            n_pass += 1
            continue
        try:
            d_df = con.execute(sql).df()
            dc, dr = canon(d_df)
        except Exception as e:
            print(f"FAIL {name}: oracle-side {type(e).__name__}: {e}")
            rec(s_rows=len(sr), err=f"oracle:{type(e).__name__}")
            n_fail += 1
            continue
        if sc != dc:
            print(f"FAIL {name}: columns spark={sc} duck={dc}")
            rec(rows=len(sr) == len(dr), schema=False, hsh=False,
                s_rows=len(sr), d_rows=len(dr))
            n_fail += 1
            continue
        if len(sr) != len(dr):
            print(f"FAIL {name}: rows spark={len(sr)} duck={len(dr)}")
            rec(rows=False, schema=True, hsh=False, s_rows=len(sr), d_rows=len(dr))
            n_fail += 1
            continue
        bad = [(i, a, b) for i, (a, b) in enumerate(zip(sr, dr)) if a != b]
        if bad:
            i, a, b = bad[0]
            print(f"FAIL {name}: {len(bad)}/{len(sr)} rows differ; first at {i}:")
            print(f"  cols  {sc}")
            print(f"  spark {a}")
            print(f"  duck  {b}")
            rec(rows=True, schema=True, hsh=False, s_rows=len(sr), d_rows=len(dr))
            n_fail += 1
        else:
            print(f"PASS {name} ({len(sr)} rows)")
            rec(rows=True, schema=True, hsh=True, s_rows=len(sr), d_rows=len(dr))
            n_pass += 1
    print(f"== {n_pass} pass, {n_fail} fail ==")
    if json_out:
        Path(json_out).write_text(json.dumps(record, indent=1))
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
