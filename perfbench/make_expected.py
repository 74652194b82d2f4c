#!/usr/bin/env python3
"""Compute the oracle fingerprints the benchmark checks results against.

    python3 perfbench/make_expected.py

Run from the root of a checkout. Dumps `SparkEntry.oracleSql` through the
benchmark harness, runs every oracle query in DuckDB over the bench-scale
fixture, and writes perfbench/expected_sf0.1.json. The file is committed:
runs only read it. Re-run this only when an oracle query or the fixture
changes.
"""
import json
import os
import shutil
import sys

import duckdb

import fp
import run

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def main() -> int:
    cp = run.build()
    sf = run.fixture_dir()
    out = os.path.join(run.BUILD, "oracle")
    shutil.rmtree(out, ignore_errors=True)
    run.run_jvm(cp, ["--mode", "oracle"], out, deadline=float("inf"))
    with open(os.path.join(out, "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')")
    prints = {}
    for name in sorted(oracle):
        prints[name] = fp.fingerprint_relation(con.sql(oracle[name]))
        print(f"{name}: {prints[name]}", file=sys.stderr, flush=True)
    doc = {"fixture": os.path.basename(sf.rstrip("/")), "duckdb": duckdb.__version__,
           "fingerprints": prints}
    with open(os.path.join(run.HERE, "expected_sf0.1.json"), "w") as fh:
        json.dump(doc, fh, indent=0, sort_keys=True)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
