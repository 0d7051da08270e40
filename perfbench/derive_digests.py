#!/usr/bin/env python3
"""Derive perfbench/expected_digests.json from the DuckDB oracle.

    python3 perfbench/derive_digests.py

For every query of the two batch workloads, SparkEntry.oracleSql runs on
DuckDB over perfbench/data/sf0.01; each result is written to parquet and
digested by the benchmark's own canonical digest (graftbench.Digest), so a
benchmark run compares Spark's result with DuckDB's in one text form.
Run it again only when the data, a mix or an oracle changes.
"""
import json
import os
import shutil
import sys

import duckdb

import run

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def main():
    cp, _ = run.build()
    work = os.path.join(run.WORK, "derive")
    shutil.rmtree(work, ignore_errors=True)
    oracle_dir = os.path.join(work, "oracle")
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(oracle_dir)
    sql_file = os.path.join(work, "oracle_sql.json")
    if run.run_jvm(run.java_cmd(cp, work, ["oracle-sql", sql_file]), 120, print) != 0:
        sys.exit("oracle-sql failed")
    with open(sql_file) as f:
        oracle = json.load(f)

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{run.DATA}/{t}.parquet'")
    errors = {}
    for name, sql in oracle.items():
        try:
            con.execute(f"COPY ({sql}) TO '{oracle_dir}/{name}.parquet' (FORMAT PARQUET)")
        except duckdb.Error as e:
            errors[name] = str(e)[:300]
            print(f"oracle failed: {name}: {e}", file=sys.stderr)

    digests_file = os.path.join(work, "digests.json")
    if run.run_jvm(run.java_cmd(cp, work, ["digest", oracle_dir, digests_file]), 170, print) != 0:
        sys.exit("digest failed")
    with open(digests_file) as f:
        digests = json.load(f)
    out = {
        "sf": "0.01",
        "derived_from": f"SparkEntry.oracleSql on DuckDB {duckdb.__version__} over perfbench/data/sf0.01",
        "oracle_errors": errors,
        "queries": {n: digests[n] for n in oracle if n in digests},
    }
    with open(os.path.join(run.HERE, "expected_digests.json"), "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    shutil.rmtree(work, ignore_errors=True)
    print(f"{len(out['queries'])} digests, {len(errors)} oracle errors")


if __name__ == "__main__":
    main()
