#!/usr/bin/env python3
"""Local replica of the driver's DuckDB-oracle correctness gate, plus the
per-query DuckDB baseline timer that makes the Spark-vs-DuckDB ratio
table reproducible per round instead of a prose claim.

Dev tool only (not part of the shipped library). Usage:
  sbt "runMain graft.Verify /root/testdata/sf0.01 /tmp/verify_out"
  python3 tools/check_oracle.py /tmp/verify_out /root/testdata/sf0.01

Timing mode (skips the correctness compare):
  python3 tools/check_oracle.py /tmp/verify_out /root/testdata/sf0.1 \
      --time 2 [--bench BENCH_r07.json]
  --time N   run each oracle SQL N times in DuckDB, record the min
             seconds per query; writes <outdir>/duck_times.json
  --bench F  also read a graft.Bench record and print a markdown
             Spark/DuckDB ratio table (sorted by DuckDB time desc)
             ready to paste into BENCH_NOTES.md
DuckDB timings on these VMs swing with page-cache warmth and thread
detection (see BENCH_NOTES): record mins, read them as a range.
"""
import argparse
import json
import sys
import time

import duckdb
import numpy as np
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        dt = str(df[c].dtype)
        if dt.startswith("float"):
            df[c] = df[c].astype("float64").round(6)
        elif "datetime" in dt:
            df[c] = df[c].astype("datetime64[us]")
        elif dt == "object":
            df[c] = df[c].astype(str)
        elif dt.startswith("int") or dt.startswith("uint"):
            df[c] = df[c].astype("int64")
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def time_queries(con, oracle, outdir, runs, bench_path):
    times = {}
    for name in sorted(oracle):
        try:
            best = min(
                _timed(lambda: con.sql(oracle[name]).df()) for _ in range(runs))
            times[name] = round(best, 3)
            print(f"TIME {name:28s} {best:8.3f} s")
        except Exception as ex:
            print(f"ERROR {name}: {type(ex).__name__}: {ex}")
            times[name] = None
    ok = {k: v for k, v in times.items() if v is not None}
    # machine-day calibration (round-16): a FIXED DuckDB scan probe
    # (full lineitem aggregate — IO + page-cache + thread detection)
    # recorded with every timing run; pairs with Bench's
    # calib_spark_floor so cross-round ratios normalize arithmetically.
    calib = round(min(_timed(lambda: con.sql(
        "SELECT count(*), sum(l_extendedprice), sum(l_quantity) "
        "FROM lineitem").df()) for _ in range(max(3, runs))), 4)
    print(f"CALIB duck_scan {calib:.4f} s")
    with open(f"{outdir}/duck_times.json", "w") as f:
        json.dump({"runs": runs, "total_sec": round(sum(ok.values()), 3),
                   "calib_duck_scan": calib,
                   "queries": times}, f, indent=1, sort_keys=True)
    print(f"== duckdb total {sum(ok.values()):.1f} s over {len(ok)} queries "
          f"(min of {runs}) -> {outdir}/duck_times.json ==")
    if bench_path:
        spark = json.load(open(bench_path)).get("queries", {})
        both = [(n, spark[n], ok[n]) for n in ok if n in spark]
        both.sort(key=lambda t: -t[2])
        print("\n| query | spark s | duckdb s | spark/duck |")
        print("|---|---|---|---|")
        for n, s, d in both:
            ratio = "inf" if d == 0 else f"{s / d:.2f}"
            print(f"| {n} | {s:.2f} | {d:.2f} | {ratio} |")
        ts, td = sum(s for _, s, _ in both), sum(d for _, _, d in both)
        print(f"| TOTAL ({len(both)} matched) | {ts:.1f} | {td:.1f} | {ts / td:.2f} |")


def _timed(f):
    t0 = time.perf_counter()
    f()
    return time.perf_counter() - t0


def main():
    p = argparse.ArgumentParser(description=__doc__,
                                formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("outdir", nargs="?", default="/tmp/verify_out")
    p.add_argument("sfdir", nargs="?", default="/root/testdata/sf0.01")
    p.add_argument("--time", type=int, default=None, metavar="N",
                   help="timing mode: run each oracle SQL N times, record mins")
    p.add_argument("--bench", default=None, metavar="F",
                   help="graft.Bench JSON to print a Spark/DuckDB ratio table")
    p.add_argument("--only", nargs="*", default=None, metavar="Q",
                   help="restrict the compare/timing to these query names")
    a = p.parse_args()
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{a.sfdir}/{t}.parquet'")
    oracle = json.load(open(f"{a.outdir}/oracle_sql.json"))
    if a.only:
        missing = sorted(set(a.only) - set(oracle))
        if missing:
            sys.exit(f"unknown queries (not in oracle_sql.json): {' '.join(missing)}")
        oracle = {k: v for k, v in oracle.items() if k in a.only}
    if a.time is not None:
        time_queries(con, oracle, a.outdir, a.time, a.bench)
        return
    outdir = a.outdir
    n_ok = n_fail = 0
    for name in sorted(oracle):
        try:
            got = canon(pd.read_parquet(f"{outdir}/{name}"))
            exp = canon(con.sql(oracle[name]).df())
            if list(got.columns) != list(exp.columns):
                print(f"FAIL {name}: columns {list(got.columns)} vs {list(exp.columns)}")
                n_fail += 1
                continue
            if got.shape != exp.shape:
                print(f"FAIL {name}: shape {got.shape} vs {exp.shape}")
                n_fail += 1
                continue
            if got.equals(exp):
                print(f"OK   {name} rows={len(got)}")
                n_ok += 1
            else:
                neq = (got != exp) & ~(got.isna() & exp.isna())
                bad_cols = [c for c in got.columns if neq[c].any()]
                print(f"FAIL {name}: {int(neq.any(axis=1).sum())} differing rows, cols={bad_cols}")
                for c in bad_cols[:3]:
                    i = neq[c].idxmax()
                    print(f"     {c}[{i}]: got={got[c][i]!r} exp={exp[c][i]!r}")
                n_fail += 1
        except Exception as ex:
            print(f"ERROR {name}: {type(ex).__name__}: {ex}")
            n_fail += 1
    print(f"== {n_ok} ok, {n_fail} fail ==")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
