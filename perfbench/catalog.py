#!/usr/bin/env python3
"""Rebuilds perfbench/queries.json, the query_suite catalog.

For every SparkEntry query it records the owning module (from
SparkEntry.scala), its warm cost at the catalog's scale factor, and the
expected result: the DuckDB-oracle hash for queries with oracle SQL, the row
count for rows-only queries. A query is eligible for sampling when it runs,
matches its oracle (rows-only: gives the same row count in two runs) and its
warm and first-run costs are at most --max-cost and --max-cold seconds.

Usage (from the repository root, takes several minutes):
    python3 perfbench/catalog.py [--max-cost 2.5] [--max-cold 6.0]
"""
import argparse
import json
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import run  # noqa: E402

SF = "sf0.001"
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def modules():
    src = open("src/main/scala/graft/SparkEntry.scala").read()
    body = src.split("def oracleSql")[0]
    return {m.group(1): m.group(2).split(".")[-2]
            for m in re.finditer(r'"(q\w+)"\s*->\s*t\(([\w.]+)', body)}


def harness_pass(classes, names, owner, work):
    inputs = os.path.join(work, "inputs")
    os.makedirs(inputs, exist_ok=True)
    with open(os.path.join(inputs, "sample.txt"), "w") as f:
        f.write("".join(f"{n}\t{owner.get(n, 'other')}\n" for n in names))
    with open(os.path.join(inputs, "sf.txt"), "w") as f:
        f.write(os.path.abspath(os.path.join(run.DATA, SF)) + "\n")
    with open(os.path.join(inputs, "cycles.txt"), "w") as f:
        f.write("1\n")
    return run.run_harness(classes, "query_suite", inputs, work, 0, 0,
                           run.cores(), float("inf"))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--max-cost", type=float, default=2.5,
                    help="largest warm cost (s) of an eligible query")
    ap.add_argument("--max-cold", type=float, default=6.0,
                    help="largest first-run cost (s) of an eligible query")
    args = ap.parse_args()
    classes = build.build()
    work = os.path.join(build.BUILD, "catalog")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    dump = os.path.join(work, "catalog_dump.json")
    subprocess.run(build.java_cmd("2g", "-cp", f"{classes}:{build.classpath()}",
                                  "graft.perfbench.Catalog", dump), check=True)
    info = json.load(open(dump))
    names, oracle = info["names"], info["oracle"]
    owner = modules()
    # the second pass only re-runs rows-only queries, to see their row count repeat
    rows_only = [n for n in names if n not in oracle]
    passes = [harness_pass(classes, names, owner, os.path.join(work, "pass1")),
              harness_pass(classes, rows_only, owner, os.path.join(work, "pass2"))]

    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(run.DATA, SF, t)}.parquet'")
    queries = {}
    for name in names:
        timed = passes[0]["items"][names.index(name)]
        failed = name in passes[0]["warm_failed"] or not timed["ok"]
        q = {"module": owner.get(name, "other"),
             "cost_s": round(timed["wall_s"], 4),
             "cold_s": round(passes[0]["warm_s"][name], 4)}
        got = None if failed else run.read_result(con, os.path.join(work, "pass1"), name)
        ok = got is not None
        if ok and name in oracle:
            q["hash"] = run.frame_hash(con.execute(oracle[name]).fetchdf())
            ok = run.frame_hash(got) == q["hash"]
        elif ok:
            again = run.read_result(con, os.path.join(work, "pass2"), name)
            q["rows"] = len(got)
            ok = again is not None and len(again) == q["rows"]
        q["eligible"] = ok and q["cost_s"] <= args.max_cost and q["cold_s"] <= args.max_cold
        queries[name] = q
        if not ok:
            print(f"not eligible: {name}", file=sys.stderr)
    out = {"sf": SF, "max_cost_s": args.max_cost, "max_cold_s": args.max_cold,
           "queries": queries}
    with open(os.path.join(HERE, "queries.json"), "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    n_ok = sum(q["eligible"] for q in queries.values())
    print(f"{n_ok} of {len(queries)} queries eligible", file=sys.stderr)


if __name__ == "__main__":
    main()
