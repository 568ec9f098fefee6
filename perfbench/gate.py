"""Correctness gate: compares each key's output, written by the harness's
warm-up pass, with its DuckDB oracle over the same inputs.

The comparison is the one tools/check.py makes: both sides loaded into
pandas, columns sorted by name, rows sorted over all columns, and the CSV
text of every row compared.
"""
import os
import re

import duckdb
import pandas as pd

STAR_TABLES = ("region nation customer supplier part orders lineitem events "
               "documents embeddings").split()


def canon(df):
    cols = sorted(df.columns)
    df = df[cols].sort_values(cols).reset_index(drop=True)
    return cols, df.to_csv(index=False).splitlines()[1:]


def check(results_dir, oracles, keys, star_dir=None, golden_dir=None, fhir_dir=None):
    """Returns {key: None if the output matches its oracle, else the reason}.

    For the FHIR keys the oracle's fixed golden-file directory is replaced
    by the directory the benchmark ingested its generated resources into.
    """
    con = duckdb.connect()
    if golden_dir and fhir_dir:
        # DuckDB 1.0's expression rewriter turns CAST(<varchar> AS TIMESTAMP)
        # >= TIMESTAMP '1990-01-01' into the string comparison
        # <varchar> >= '1990-01-01 00:00:00', which drops a birthDate of
        # exactly '1990-01-01'. The FHIR oracles cast string dates this way,
        # so they run without that rewriter.
        con.execute("SET disabled_optimizers = 'expression_rewriter'")
    if star_dir:
        for t in STAR_TABLES:
            p = os.path.join(star_dir, f"{t}.parquet")
            if os.path.exists(p):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    out = {}
    for k in keys:
        sql = oracles.get(k)
        res = os.path.join(results_dir, k)
        if sql is None:
            out[k] = "no oracle"
            continue
        if not os.path.isdir(res):
            out[k] = "no output"
            continue
        if golden_dir and fhir_dir:
            # the ingested tables are Spark-written directories of part files
            sql = re.sub(re.escape(golden_dir) + r"/(\w+)\.parquet",
                         lambda m: f"{fhir_dir}/{m.group(1)}.parquet/*.parquet", sql)
        try:
            sc, sr = canon(pd.read_parquet(res))
            dc, dr = canon(con.execute(sql).df())
        except Exception as e:  # a failing side is a failed check
            out[k] = f"{type(e).__name__}: {e}"[:300]
            continue
        if sc != dc:
            out[k] = f"columns differ: {sc} vs {dc}"
        elif len(sr) != len(dr):
            out[k] = f"rows differ: {len(sr)} vs {len(dr)}"
        else:
            bad = sum(1 for a, b in zip(sr, dr) if a != b)
            out[k] = f"{bad}/{len(sr)} rows differ" if bad else None
    con.close()
    return out
