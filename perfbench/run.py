#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the library and the harness (once per
source change), generates the workload's inputs from the seed, runs the
Scala harness in one JVM, checks the outputs, and prints one JSON object as
the last line of stdout. With --trace 0 it reports the end-to-end metrics,
with --trace 1 the per-layer metrics (the listener records spans only then).

Workloads (see BENCHMARK.json):
  search_serving  seeded requests through ServerFlow.searchPipeline, open loop
  query_suite     a module-stratified sample of SparkEntry.queries
"""
import argparse
import glob
import hashlib
import json
import math
import os
import random
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("search_serving", "query_suite")
DEADLINE_S = 170.0
CATALOG = os.path.join(HERE, "queries.json")
DATA = os.path.join(HERE, "data")

END_TO_END = {
    "setup_s": "s",
    "items_per_s": "1/s",
    "latency_p50_s": "s",
    "rss_peak_mb": "MB",
}
MODULES = ["Tables", "Relational", "TextAnalysis", "Dedup", "Similarity",
           "Clustering", "Summarize", "Pipeline", "ServerFlow",
           "EventAnalytics", "Events", "other"]
SHARED = ["simhash_bands", "fuzzy_pairs", "fuzzy_labels", "logit_features",
          "logit_weights", "quality_score", "unigram_counts", "bigram_counts",
          "srcterm_counts", "bpe_merges", "dawid_skene", "ivf_index", "pq_index",
          "exact_topk", "cosine_pairs", "kmeans_assign", "suffix_chain"]
PER_LAYER = {
    "failed_frac": "fraction",
    "latency_samples": "count",
    "traced.latency_p50_s": "s",
    "traced.items_per_s": "1/s",
    "item.construct_s": "s/item",
    "item.action_s": "s/item",
    "item.construct_jobs": "count/item",
    "item.action_jobs": "count/item",
    "Tables.schema_jobs": "count/item",
    "Layout.prepare_s": "s",
    "warm_pass_s": "s",
    **{f"shared.{n}.build_s": "s" for n in SHARED},
    "shared.cached_bytes": "bytes",
    **{k: v for m in MODULES for k, v in ((f"{m}.jobs", "count/item"),
                                          (f"{m}.job_s", "s/item"),
                                          (f"{m}.task_s", "s/item"))},
    "spark.jobs": "count/item",
    "spark.tasks": "count/item",
    "spark.task_s": "s/item",
    "spark.busy_frac": "fraction",
    "spark.task_wait_s": "s/item",
    "spark.shuffle_read_bytes": "bytes/item",
    "spark.shuffle_write_bytes": "bytes/item",
    "spark.spill_bytes": "bytes/item",
    "spark.gc_s": "s/item",
    "spark.failed_tasks": "count",
    "Dedup.greedy_s": "s/item",
    "Dedup.greedy_pairs": "count/item",
    "search.queue_wait_s": "s/item",
    "search.gen_lag_s": "s/item",
    "probe_s": "s",
    "host.steal_frac": "fraction",
}

JVM_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs",
             "java.base/sun.security.action", "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def cores():
    return max(1, min(os.cpu_count() or 1, len(os.sched_getaffinity(0))))


# ------------------------------------------------------ oracle check

def canon(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    return str(v)


def frame_hash(df):
    """Canonical result hash: columns sorted by name, values stringified,
    rows hashed in order (the repository's DuckDB-oracle hash)."""
    cols = sorted(df.columns)
    h = hashlib.sha256()
    for row in df[cols].itertuples(index=False):
        h.update(("|".join(canon(v) for v in row) + "\n").encode())
    return h.hexdigest()


def read_result(con, out_dir, name):
    files = sorted(glob.glob(os.path.join(out_dir, "warm", name, "*.parquet")))
    if not files:
        return None
    return con.execute(f"SELECT * FROM read_parquet({files!r})").fetchdf()


def check_queries(out_dir, names, catalog):
    """Names of sampled queries whose warm-pass output is wrong."""
    import duckdb
    con = duckdb.connect()
    wrong = set()
    for name in sorted(set(names)):
        want = catalog[name]
        got = read_result(con, out_dir, name)
        if got is None:
            wrong.add(name)
        elif want.get("hash") is not None:
            if frame_hash(got) != want["hash"]:
                wrong.add(name)
        elif len(got) != want["rows"]:
            wrong.add(name)
    return wrong


# -------------------------------------------------------------- run

def generate(workload, seed, seconds, inputs, tiny=False):
    rng = random.Random(f"{workload}:{seed}")
    os.makedirs(inputs, exist_ok=True)
    if workload == "search_serving":
        return gen.search_serving(rng, inputs, seconds, tiny)
    with open(CATALOG) as f:
        sf = json.load(f)["sf"]
    return gen.query_suite(rng, inputs, seconds, CATALOG, os.path.join(DATA, sf), tiny)


def cpu_ticks():
    """(steal, total) jiffies of all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields[:8])


def run_harness(classes, workload, inputs, out_dir, seconds, trace, n_cores, deadline):
    work = os.path.abspath(out_dir)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # a fixed-size heap under the parallel collector keeps peak RSS and GC
    # pauses from following G1's run-to-run heap resizing
    cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:+UseParallelGC", "-Xss8m",
           *[a for p in JVM_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")],
           f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false",
           "-cp", f"{os.path.abspath(classes)}:{build.classpath()}",
           "graft.perfbench.Harness", workload, os.path.abspath(inputs), work,
           str(seconds), str(trace), str(n_cores)]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "local"))
    env.pop("SPARK_HOME", None)
    steal0, total0 = cpu_ticks()
    with open(os.path.join(work, "harness.log"), "w") as logf:
        proc = subprocess.Popen(cmd, stdout=logf, stderr=logf, env=env)
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit("harness timed out")
    if code != 0:
        with open(os.path.join(work, "harness.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"harness exited with {code}")
    steal1, total1 = cpu_ticks()
    with open(os.path.join(work, "result.json")) as f:
        res = json.load(f)
    # CPU time the hypervisor gave to other guests while this run waited:
    # ambient load, not the program
    res["steal_frac"] = (steal1 - steal0) / max(1, total1 - total0)
    log(f"steal {res['steal_frac']:.3f}")
    return res


def summarize(workload, res, wrong_queries, trace):
    items = res["items"]
    if workload == "query_suite":
        sample = res["sample"]
        for i, it in enumerate(items):
            if sample[i % len(sample)] in wrong_queries and it["ok"]:
                it["ok"] = False
                it["err"] = "result differs from the oracle"
    done = [it for it in items if it["ok"]]
    attempted = len(items)
    failed = attempted - len(done)
    window = res["window_s"]
    if workload == "query_suite":
        # the timed unit is one pass over the sample: a query's own latency
        # swings too much between runs for the median of ten to be steady
        n = len(res["sample"])
        lat = [sum(it["wall_s"] for it in items[k:k + n]) for k in range(0, len(items), n)]
        rate = len(done) / sum(it["wall_s"] for it in items)
    else:
        lat = [it["latency_s"] for it in done]
        rate = len(done) / window
    lat = lat or [float("nan")]
    e2e = {
        "setup_s": res["setup_s"],
        "items_per_s": rate,
        "latency_p50_s": statistics.median(lat),
        "rss_peak_mb": res["rss_peak_mb"],
    }
    if trace:
        values = {k: 0.0 for k in PER_LAYER}
        values.update({k: v for k, v in res["layers"].items() if k in PER_LAYER})
        values["failed_frac"] = failed / max(1, attempted)
        values["latency_samples"] = len(done)
        values["host.steal_frac"] = res["steal_frac"]
        values["traced.latency_p50_s"] = e2e["latency_p50_s"]
        values["traced.items_per_s"] = e2e["items_per_s"]
        metrics = {k: {"value": values[k], "unit": PER_LAYER[k]} for k in PER_LAYER}
    else:
        metrics = {k: {"value": e2e[k], "unit": END_TO_END[k]} for k in END_TO_END}
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": metrics}, [it["err"] for it in items if not it["ok"]]


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="tiny inputs, for the harness self-test")
    ap.add_argument("--keep", action="store_true",
                    help="keep the run directory (inputs, outputs, spans)")
    args = ap.parse_args(argv)
    deadline = time.monotonic() + DEADLINE_S
    classes = build.build()
    run_dir = os.path.join(build.BUILD, "runs",
                           f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    inputs = os.path.join(run_dir, "inputs")
    try:
        generate(args.workload, args.seed, args.seconds, inputs, args.tiny)
        res = run_harness(classes, args.workload, inputs, run_dir, args.seconds,
                          args.trace, cores(), deadline)
        wrong = set()
        if args.workload == "query_suite":
            with open(CATALOG) as f:
                catalog = json.load(f)["queries"]
            wrong = check_queries(run_dir, res["sample"], catalog) | set(res["warm_failed"])
        out, errors = summarize(args.workload, res, wrong, args.trace)
        for e in sorted(set(errors))[:10]:
            log(f"failed item: {e}")
        if args.keep:
            log(f"run directory kept: {run_dir}")
    finally:
        if not args.keep:
            shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
