#!/usr/bin/env python3
"""Record the reference fingerprints the benchmark checks results against.

Usage (from the root of a checkout): python3 perfbench/reference.py

For each set of staged tables (the base tables, and the 16x replicated
`rel_scale` tables) this runs the workloads' queries through `graft.Verify`,
compares Spark's results with the DuckDB oracle through `tools/compare.py`,
and records the fingerprint of the oracle's result. DuckDB writes each
oracle result to parquet and `perfbench.Reference` fingerprints it, with
the code the benchmark checks results with. A query whose Spark result is
not oracle-exact therefore fails the benchmark's check until the engine is
fixed. Writes perfbench/reference/fingerprints.json.
"""
import glob
import json
import os
import re
import shutil
import subprocess
import sys
import time

import duckdb
import pyarrow.parquet as pq

import gen
import run

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
OUT = os.path.join(run.HERE, "reference", "fingerprints.json")


def workloads(classpath):
    """[(workload, data key, [queries])] from the harness's workload table."""
    out = subprocess.run(["java", "-cp", classpath, "perfbench.Workloads"],
                         capture_output=True, text=True, check=True).stdout
    return [(n, k, qs.split(",")) for n, k, qs in
            (line.split() for line in out.splitlines() if line.strip())]


def single_files(staged, dst):
    """Rewrite each staged table directory as one parquet file."""
    os.makedirs(dst, exist_ok=True)
    for d in glob.glob(os.path.join(staged, "*.parquet")):
        pq.write_table(pq.read_table(d), os.path.join(dst, os.path.basename(d)))
    return dst


def java(classpath, main, *args):
    return ["java"] + [x for p in run.ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")] + [
        "-Xmx" + run.HEAP, "-Duser.timezone=UTC",
        f"-Djava.io.tmpdir={os.path.join(run.WORK, 'tmp')}",
        "-cp", classpath, main] + list(args)


# DuckDB types that parquet or Spark would not read back as the value
# DuckDB computed; written as text, the form the fingerprint gives integers
AS_TEXT = ("HUGEINT", "UHUGEINT", "UBIGINT", "UUID")


def write_oracle(con, sql, path):
    """Write the result of the oracle query `sql` to the parquet file `path`."""
    con.execute(f"CREATE OR REPLACE TEMP TABLE oracle_result AS {sql}")
    cols = con.execute("SELECT column_name, data_type FROM information_schema.columns "
                       "WHERE table_name = 'oracle_result' ORDER BY ordinal_position").fetchall()
    def sel(c, t):
        q = '"' + c.replace('"', '""') + '"'
        if t in AS_TEXT:
            return f"CAST({q} AS VARCHAR) AS {q}"
        if t == "TIMESTAMP_NS":
            return f"CAST({q} AS TIMESTAMP) AS {q}"
        return q
    select = ", ".join(sel(c, t) for c, t in cols)
    con.execute(f"COPY (SELECT {select} FROM oracle_result) TO '{path}' (FORMAT PARQUET)")


def fingerprints(classpath, paths):
    """{path: fingerprint} of parquet results, from `perfbench.Reference`."""
    with open(os.path.join(run.WORK, "logs", "reference-fingerprints.log"), "w") as log:
        out = subprocess.run(java(classpath, "perfbench.Reference", *paths),
                             stdout=subprocess.PIPE, stderr=log, text=True, check=True).stdout
    return dict(line.rsplit(" ", 1) for line in out.splitlines() if line.strip())


def check(key, tables_dir, queries, classpath):
    out = os.path.join(run.WORK, "reference", key + "-verify")
    shutil.rmtree(out, ignore_errors=True)
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(os.cpu_count() or 1))
    cmd = java(classpath, "graft.Verify", tables_dir, out, ",".join(queries))
    with open(os.path.join(run.WORK, "logs", f"verify-{key}.log"), "w") as log:
        run.run_bounded(cmd, run.ROOT, env, log, time.time() + 1800, stderr=log)
    res = subprocess.run([sys.executable, os.path.join(run.ROOT, "tools", "compare.py"),
                          tables_dir, out], capture_output=True, text=True)
    status = {}
    for line in res.stdout.splitlines():
        m = re.match(r"(OK|CLOSE|FAIL)\s+(\w+)", line)
        if m and m.group(2) in queries:
            status[m.group(2)] = line.strip()
    oracle = json.load(open(os.path.join(out, "oracle_sql.json")))
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(tables_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    oracle_dir = os.path.join(out, "oracle")
    os.makedirs(oracle_dir, exist_ok=True)
    for q in queries:
        write_oracle(con, oracle[q], os.path.join(oracle_dir, f"{q}.parquet"))
    mine = {q: os.path.join(oracle_dir, f"{q}.parquet") for q in queries}
    spark = {q: os.path.join(out, q) for q in queries}
    fps = fingerprints(classpath, list(mine.values()) + list(spark.values()))
    prints = {}
    for q in queries:
        want, got = fps[mine[q]], fps[spark[q]]
        prints[q] = want
        print(f"{key:6} {q:28} {status.get(q, 'MISSING')[:60]:60} "
              f"{'same' if got == want else 'DIFFERENT'} {want}")
    return prints, status


def main():
    classpath, _ = run.build(time.time() + 900)
    for d in ("tmp", "logs"):
        os.makedirs(os.path.join(run.WORK, d), exist_ok=True)
    base = os.path.join(run.WORK, "data", f"base-sf{run.BASE_SF}")
    gen.generate(base, run.BASE_SF)
    by_key = {}
    for name, key, queries in workloads(classpath):
        by_key.setdefault(key, (name, []))[1].extend(queries)
    result, statuses = {}, {}
    for key, (name, queries) in sorted(by_key.items()):
        tables_dir = base
        if key != "base":
            # stage the replicated tables with a short run, then read them
            subprocess.run([sys.executable, os.path.join(run.HERE, "run.py"),
                            "--workload", name, "--seed", "0", "--seconds", "0",
                            "--trace", "0"], check=True, stdout=subprocess.DEVNULL)
            staged = max(glob.glob(os.path.join(run.WORK, "stage", name + "-*")))
            tables_dir = single_files(staged, os.path.join(run.WORK, "reference", key))
        result[key], statuses[key] = check(key, tables_dir, queries, classpath)
    result["oracle"] = statuses
    with open(OUT, "w") as f:
        json.dump(result, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"wrote {OUT}")


if __name__ == "__main__":
    main()
