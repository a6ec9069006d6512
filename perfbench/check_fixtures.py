#!/usr/bin/env python3
"""Regenerates the llm_pipeline result fixtures and checks them against DuckDB.

    python3 perfbench/check_fixtures.py        # from the root of a checkout

Runs every llm_pipeline query once through the harness (`run.py
--make-fixtures`), then runs each query's DuckDB twin
(`SparkEntry.oracleSql`) over the same generated tables and compares the
two results the way scripts/oracle_check.py does: columns sorted by name,
row multisets of stringified values. Only when every query agrees does it
write the Spark digests to perfbench/src/main/resources/perfbench/
llm_pipeline.tsv. Needs the `duckdb` Python package.
"""
import json
import os
import subprocess
import sys

import duckdb

ROOT = os.getcwd()
OUT = os.path.join(ROOT, ".bench_out", "fixtures")
DEST = os.path.join(ROOT, "perfbench", "src", "main", "resources", "perfbench", "llm_pipeline.tsv")


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    return list(df.columns), sorted(tuple(repr(v) for v in row) for row in df.itertuples(index=False))


def main():
    subprocess.run([sys.executable, os.path.join("perfbench", "run.py"), "--make-fixtures", OUT],
                   check=True)
    con = duckdb.connect()
    for t in ("documents", "events"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{OUT}/tables/{t}.parquet/*.parquet')")
    oracle = json.load(open(os.path.join(OUT, "oracle_sql.json")))
    bad = 0
    for name, sql in sorted(oracle.items()):
        exp = canon(con.execute(sql).fetchdf())
        got = canon(duckdb.connect().execute(
            f"SELECT * FROM read_parquet('{OUT}/{name}/*.parquet')").fetchdf())
        ok = exp == got
        bad += not ok
        print(f"{'OK  ' if ok else 'FAIL'} {name} ({len(got[1])} rows)")
    if bad:
        sys.exit(f"{bad} queries disagree with DuckDB; fixtures not written")
    os.makedirs(os.path.dirname(DEST), exist_ok=True)
    with open(os.path.join(OUT, "llm_pipeline.tsv")) as f, open(DEST, "w") as g:
        g.write("# query\trows\tsha256 of the sorted rendered rows (LlmPipeline.digest)\n")
        g.write(f.read())
    print(f"wrote {DEST}")


if __name__ == "__main__":
    main()
