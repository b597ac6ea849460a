#!/usr/bin/env python3
"""Measure the DuckDB reference baseline for the bench headline queries.

Usage: python3 tools/duckdb_baseline.py <sfDir> <oracleSqlJson> [reps]

Runs each query from <oracleSqlJson> (a {name: sql} map, the same oracle
SQL that graft.Verify dumps) against DuckDB views over the raw testdata
parquet, with the identical methodology graft.Bench uses for Spark:
threads=32, PREPARE each query once, one untimed warm-up pass, then
min-of-<reps> wall times of EXECUTE + fetchall (the prepared-statement
model on both engines: planner latency excluded, full execution and
result materialization included).

Prints ONE JSON line: {"total": sec, "queries": {name: sec, ...},
"duckdb": version}. graft.Bench invokes this (when python3+duckdb are
available, i.e. on the driver host) and embeds the result in its bench
JSON so the Spark-vs-reference ratio is auditable — both sides measured
in the same time window on the same host.
"""
import json
import os
import sys
import time

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def main():
    sf_dir, sql_json = sys.argv[1], sys.argv[2]
    reps = int(sys.argv[3]) if len(sys.argv) > 3 else 5
    oracle = json.load(open(sql_json))
    con = duckdb.connect()
    # same CPU count as the Spark side (graft.Bench reads SPARK_GRAFT_CPUS)
    threads = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count())
    con.execute(f"PRAGMA threads={threads}")
    for t in TABLES:
        # scale-up dirs hold multi-file tables (<t>.parquet/ directory of
        # part files) — glob them; raw testdata stays single-file
        p = f"{sf_dir}/{t}.parquet"
        src = f"'{p}/*.parquet'" if os.path.isdir(p) else f"'{p}'"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM {src}")
    prepared = {}
    for i, (name, sql) in enumerate(oracle.items()):
        stmt = f"q{i}"
        con.execute(f"PREPARE {stmt} AS {sql}")
        prepared[name] = f"EXECUTE {stmt}"
    for ex in prepared.values():         # warm-up (OS page cache, catalog)
        con.execute(ex).fetchall()
    # reps interleaved round-robin across queries (same as graft.Bench):
    # a transient host slowdown inflates one rep of every query, not
    # every rep of one query, keeping per-query mins robust
    samples = {name: [] for name in prepared}
    for _ in range(reps):
        for name, ex in prepared.items():
            samples[name].append(_timed(con, ex))
    times = {name: round(min(ts), 4) for name, ts in samples.items()}
    out = {"total": round(sum(times.values()), 4), "queries": times,
           "duckdb": duckdb.__version__}
    print(json.dumps(out))


def _timed(con, sql):
    t0 = time.perf_counter()
    con.execute(sql).fetchall()
    return time.perf_counter() - t0


if __name__ == "__main__":
    main()
