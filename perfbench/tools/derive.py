#!/usr/bin/env python3
"""Derive the suite's expected set on the current tree, and cross-check it.

Usage (from the repository root):
    python3 perfbench/tools/derive.py <outDir>

Runs the harness's derive mode twice (local[4] and local[2]) over
perfbench/data/sf0.01. A query's content hash is kept only when all four
digests (two per session) agree; otherwise only its row count is checked.
Then every query that has oracle SQL is compared against DuckDB, the way the
graded parity check compares (columns and rows sorted, values rendered as
strings), and the merged set is written to perfbench/expected/.
"""
import glob
import json
import os
import sys

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import run  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def derive(cp, out, cpus):
    d = os.path.join(out, f"c{cpus}")
    work = os.path.join(out, f"work{cpus}")
    os.makedirs(work, exist_ok=True)
    run.run_jvm(cp, work, ["derive", str(cpus), run.BENCH, work, d], 3000)
    rows = {}
    with open(os.path.join(d, "suite.tsv")) as f:
        for line in f:
            name, module, n, h = line.rstrip("\n").split("\t")
            rows[name] = (module, n, h)
    return d, rows


def norm(v):
    import pandas as pd
    if v is None:
        return "NULL"
    try:
        if pd.isna(v):
            return "NULL"
    except (TypeError, ValueError):
        pass
    return v.hex() if isinstance(v, bytes) else str(v)


def canon(df):
    df = df[sorted(df.columns)]
    if len(df.columns):
        df = df.sort_values(by=list(df.columns), kind="mergesort")
    return [tuple(norm(v) for v in r) for r in df.itertuples(index=False, name=None)]


def crosscheck(dump):
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    data = os.path.join(run.BENCH, "data", "sf0.01")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    oracles = json.load(open(os.path.join(dump, "oracle_sql.json")))
    res = {}
    for name, sql in sorted(oracles.items()):
        files = sorted(glob.glob(os.path.join(dump, name, "*.parquet")))
        spark = pa.concat_tables([pq.read_table(f) for f in files]).to_pandas()
        try:
            duck = con.execute(sql).df()
            res[name] = "OK" if (sorted(spark.columns) == sorted(duck.columns)
                                 and canon(spark) == canon(duck)) else "MISMATCH"
        except Exception as e:  # unsortable columns or an oracle error
            res[name] = f"ERROR {type(e).__name__}"
    return res


def main(out):
    cp = run.build()
    d4, a = derive(cp, out, 4)
    _, b = derive(cp, out, 2)
    merged = []
    for name in sorted(a):
        module, n, h = a[name]
        if b[name][1] != n:
            sys.exit(f"{name}: row count differs between sessions ({n}, {b[name][1]})")
        merged.append(f"{name}\t{module}\t{n}\t{h if h == b[name][2] else '-'}")
    cc = crosscheck(d4)
    with open(os.path.join(run.BENCH, "expected", "suite-sf0.01.tsv"), "w") as f:
        f.write("# query\tmodule\trows\tcontent hash ('-': unstable, rows only)\n")
        f.write("\n".join(merged) + "\n")
    with open(os.path.join(run.BENCH, "expected", "crosscheck-sf0.01.json"), "w") as f:
        json.dump(cc, f, indent=1, sort_keys=True)
    bad = {k: v for k, v in cc.items() if v != "OK"}
    print(f"{len(merged)} queries, {sum(1 for m in merged if m.endswith('-'))} rows-only; "
          f"DuckDB cross-check: {len(cc) - len(bad)}/{len(cc)} OK {bad}")


if __name__ == "__main__":
    main(sys.argv[1])
