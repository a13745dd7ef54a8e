#!/usr/bin/env python3
"""Regenerates perfbench/expected/sf0.01.json from the DuckDB oracle.

    python3 perfbench/make_digests.py

Builds the harness if needed, dumps `graft.SparkEntry.oracleSql`, runs
each oracle query in DuckDB over perfbench/data/sf0.01 and stores the
digest of its normalized result (perfbench/digest.py). Spark's own output
is never used. Queries whose Spark side reads files outside the data
directory (the fixture readers) are left out: a benchmark checkout cannot
supply those files.
"""
import json
import os
import sys
import time

import duckdb

import digest
import run

FIXTURE_READERS = {"q285_csv_read", "q286_ndjson_read", "q287_geojson_read",
                   "q288_fastq_scan"}


def main():
    run.build(time.time() + 850)
    work = os.path.join(run.OUT, "oracle")
    os.makedirs(work, exist_ok=True)
    dump = os.path.join(work, "oracle_sql.json")
    run.run_process(
        ["java", "-cp", f"{run.CLASSES}:{run.spark_home()}/jars/*",
         "perfbench.Main",
         "--dump-oracle", dump], sys.stderr, time.time() + 120)
    with open(dump) as f:
        oracle = json.load(f)
    con = duckdb.connect()
    for t in sorted(os.listdir(run.DATA)):
        name = t.removesuffix(".parquet")
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(run.DATA, t)}')")
    out = {}
    for name in sorted(oracle):
        if name in FIXTURE_READERS:
            continue
        out[name] = digest.of_frame(con.execute(oracle[name]).fetchdf())
    os.makedirs(os.path.dirname(run.EXPECTED), exist_ok=True)
    with open(run.EXPECTED, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"{len(out)} digests -> {run.EXPECTED}")


if __name__ == "__main__":
    main()
