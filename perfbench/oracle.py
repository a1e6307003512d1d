"""DuckDB check of the batch workload: every query's Spark result (dumped
as parquet by the JVM) against `SparkEntry.oracleSql` over the same tables,
canonicalized exactly as `tools/check_oracle.py` does (sorted columns and
rows, floats rounded to 6 places)."""
import json
import os
import sys

import duckdb
import pandas as pd


def check(root, w, work, raw):
    """Returns {query: None when it matches, else the reason}."""
    sys.path.insert(0, os.path.join(root, "tools"))
    from check_oracle import TABLES, canon
    dump = os.path.join(work, "dump")
    with open(os.path.join(dump, "oracle_sql.json")) as f:
        sql = json.load(f)
    con = duckdb.connect()
    con.execute("SET threads TO 1")
    sf = os.path.join(root, w["sf_dir"])
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
    out = {}
    for d in raw["dump"]:
        q = d["query"]
        if d["error"]:
            out[q] = f"Spark run failed: {d['error']}"
        elif q not in sql:
            out[q] = "no oracleSql entry"
        else:
            out[q] = _compare(canon(pd.read_parquet(os.path.join(dump, q))),
                              canon(con.sql(sql[q]).df()))
    return out


def _compare(got, exp):
    if list(got.columns) != list(exp.columns):
        return f"columns {list(got.columns)} vs {list(exp.columns)}"
    if got.shape != exp.shape:
        return f"shape {got.shape} vs {exp.shape}"
    if got.equals(exp):
        return None
    neq = (got != exp) & ~(got.isna() & exp.isna())
    return f"{int(neq.any(axis=1).sum())} differing rows in {[c for c in got.columns if neq[c].any()]}"
