#!/usr/bin/env python3
"""One-off DuckDB cross-check of the board expectations.

After `python3 perfbench/run.py --calibrate` has dumped every catalog
query's Spark output under .bench_out/calibrate/, this runs the
`SparkEntry.oracleSql` of every dumped query (`--dump-pool` dumps only
the queries that can enter the board_sample pool) in DuckDB over the same
sf0.1 tables, compares row count and
order-insensitive content (floats at 10 significant digits, the precision
the benchmark's hash uses), and records the verdict per query in
perfbench/board_expect.json as "oracle": "match" | "mismatch: ..." |
"none" (no oracle) | "error: ...".

Usage (from the repository root): python3 perfbench/oracle_xcheck.py
"""
import glob
import json
import math
import os
import re
import sys

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
EXPECT = os.path.join("perfbench", "board_expect.json")
DUMPS = os.path.join(".bench_out", "calibrate")


def cell(v):
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "null"
    if isinstance(v, float):
        return f"{v:.9e}"
    if hasattr(v, "isoformat"):
        # a DATE on one engine may arrive as a midnight TIMESTAMP on the other
        return v.isoformat().removesuffix("T00:00:00")
    if hasattr(v, "tolist"):
        return str([cell(x) for x in v.tolist()])
    if isinstance(v, (list, tuple)):
        return str([cell(x) for x in v])
    if isinstance(v, dict):
        return str({k: cell(x) for k, x in sorted(v.items())})
    return str(v)


def canon(df):
    cols = sorted(df.columns)
    rows = [tuple(cell(v) for v in r) for r in df[cols].itertuples(index=False)]
    return cols, sorted(rows)


def main():
    expect = json.load(open(EXPECT))
    oracle = json.load(open(os.path.join(DUMPS, "oracle_sql.json")))
    # the sf0.1 catalog tables, as the repository's TESTDATA.md lists them
    sf = next(m.group(1) for m in map(re.compile(r"\|\s*0\.1\s*\|\s*`([^`]+)`").search,
                                       open("TESTDATA.md")) if m).rstrip("/")
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
    tally = {}
    for name, q in expect["queries"].items():
        if not os.path.isdir(os.path.join(DUMPS, name)):
            continue
        if name not in oracle:
            verdict = "none"
        else:
            try:
                files = sorted(glob.glob(os.path.join(DUMPS, name, "*.parquet")))
                spark_cols, spark_rows = canon(pd.concat([pd.read_parquet(f) for f in files]))
                duck_cols, duck_rows = canon(con.sql(oracle[name]).df())
                if spark_cols != duck_cols:
                    verdict = f"mismatch: columns {spark_cols} vs {duck_cols}"
                elif len(spark_rows) != len(duck_rows):
                    verdict = f"mismatch: rows {len(spark_rows)} vs {len(duck_rows)}"
                elif spark_rows != duck_rows:
                    n = sum(a != b for a, b in zip(spark_rows, duck_rows))
                    verdict = f"mismatch: {n} rows differ"
                else:
                    verdict = "match"
            except Exception as e:  # noqa: BLE001 — recorded, not fatal
                verdict = f"error: {str(e)[:120]}"
        q["oracle"] = verdict
        key = verdict.split(":")[0]
        tally[key] = tally.get(key, 0) + 1
        if key not in ("match", "none"):
            print(f"{name}: {verdict}", file=sys.stderr)
    with open(EXPECT, "w") as f:
        f.write("{" + f'"cores":{expect["cores"]},"queries":{{')
        f.write(",".join(f"\n  {json.dumps(k)}:{json.dumps(v, separators=(',', ':'))}"
                         for k, v in expect["queries"].items()))
        f.write("\n}}\n")
    print(json.dumps(tally))


if __name__ == "__main__":
    main()
