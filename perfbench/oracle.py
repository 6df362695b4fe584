#!/usr/bin/env python3
"""DuckDB oracle for the llm_dedup workload.

Usage: python3 oracle.py <sfDir> <queries.json> <outDir>

Creates a view per table directory under <sfDir> (Spark-written
`<table>.parquet/` directories), runs each {name: sql} entry of
<queries.json> and writes its result to <outDir>/<name>.parquet.
"""
import json
import os
import sys

import duckdb


def main():
    sf_dir, queries, out_dir = sys.argv[1:4]
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for entry in sorted(os.listdir(sf_dir)):
        if entry.endswith(".parquet"):
            table = entry[: -len(".parquet")]
            con.execute(f"CREATE VIEW {table} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(sf_dir, entry)}/*.parquet')")
    os.makedirs(out_dir, exist_ok=True)
    with open(queries) as f:
        sqls = json.load(f)
    for name, sql in sqls.items():
        con.execute(f"COPY ({sql}) TO '{os.path.join(out_dir, name)}.parquet' (FORMAT PARQUET)")


if __name__ == "__main__":
    main()
