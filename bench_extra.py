#!/usr/bin/env python3
"""Extra measurement harness for optimization work (guide §1).

NOT part of the driver contract — bench.py is the frozen measurement
surface.  This file exists to isolate per-query cost (noop sink),
capture plans, and profile the index build per phase, so optimization
claims in OPTIMIZATION_r07.md are backed by numbers.

Modes:
  python bench_extra.py queries [names...]   time headline queries (2 reps,
                                             toPandas like bench.py) + write
                                             plans/r07/<name>_<tag>.txt
  python bench_extra.py build CORES [DOCS]   one build_once at CORES over the
                                             .bench corpus, phases printed
  python bench_extra.py stages NAME          run one query with UI on and dump
                                             per-stage metrics from the REST API
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
TAG = os.environ.get("HAYOO_PLAN_TAG", "before")
PLAN_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        "plans", "r07")

HEADLINE = [
    "q_bm25_term", "q_bm25_and", "q_bm25_or", "q_bm25_prefix", "q_phrase",
    "q_topk_paging", "q_events_sessionize", "d_ngram_jaccard",
    "d_minhash_lsh", "d_dedup_clusters", "t_clean_corpus",
    "sim_cosine_topk", "t_fingerprint", "t_quality",
    "d_substring_spans", "t_pack_sequences",
    "t_lm_perplexity", "t_bpe_pairs", "t_domain_mixture",
    "t_quality_classifier",
]


def _session(ui: bool = False):
    from hayoo_spark.session import get_spark
    if ui:
        # replicate get_spark but with the UI on for stage metrics
        os.environ.setdefault("HAYOO_UI", "1")
    spark = get_spark(app_name="hayoo-bench-extra", cores=CPUS,
                      shuffle_partitions=CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _warm(spark):
    import __spark_entry__ as entrymod
    spark.read.parquet(f"{SF_DIR}/documents.parquet").count()
    entrymod._tf(spark, SF_DIR).count()
    entrymod._shingles(spark, SF_DIR).count()
    return entrymod


def cmd_queries(names):
    spark = _session()
    entrymod = _warm(spark)
    qs = entrymod.queries()
    os.makedirs(PLAN_DIR, exist_ok=True)
    out = {}
    for name in names:
        df = qs[name](spark, SF_DIR)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode
            .fromString("formatted"))
        with open(os.path.join(PLAN_DIR, f"{name}_{TAG}.txt"), "w") as f:
            f.write(plan)
        reps = []
        for _ in range(2):
            spark.sparkContext.setJobDescription(name)
            t0 = time.monotonic()
            qs[name](spark, SF_DIR).toPandas()
            reps.append(round(time.monotonic() - t0, 3))
            spark.sparkContext.setJobDescription(None)
        out[name] = reps
        print(name, reps, flush=True)
    print("EXTRAJSON " + json.dumps(out))


def cmd_build(cores: int, docs: int = 150000):
    import bench
    pages = bench._materialize_corpus(docs, shm=True)
    import tempfile
    tmp_root = bench.SHM_ROOT
    with tempfile.TemporaryDirectory(dir=tmp_root) as d:
        r = bench.build_once(pages, cores, os.path.join(d, "ix"))
    print("EXTRAJSON " + json.dumps(r))


def cmd_stages(name: str):
    import urllib.request

    from pyspark.sql import SparkSession
    from hayoo_spark import session as S
    # patch the builder: UI on
    orig = S.get_spark

    def patched(app_name="x", cores=None, shuffle_partitions=None):
        sp = orig(app_name, cores, shuffle_partitions)
        return sp
    spark = (SparkSession.builder.appName("stages")
             .master(f"local[{CPUS}]")
             .config("spark.sql.shuffle.partitions", str(CPUS))
             .config("spark.default.parallelism", str(CPUS))
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
             .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m")
             .config("spark.sql.execution.arrow.pyspark.enabled", "true")
             .config("spark.sql.session.timeZone", "UTC")
             .config("spark.driver.memory", S.default_driver_memory())
             .config("spark.ui.enabled", "true")
             .config("spark.ui.showConsoleProgress", "false")
             .config("spark.sql.autoBroadcastJoinThreshold",
                     str(32 * 1024 * 1024))
             .config("spark.sql.files.maxPartitionBytes", str(8 * 1024 * 1024))
             .config("spark.local.dir", "/dev/shm")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    import __spark_entry__ as entrymod
    spark.read.parquet(f"{SF_DIR}/documents.parquet").count()
    entrymod._tf(spark, SF_DIR).count()
    entrymod._shingles(spark, SF_DIR).count()
    qs = entrymod.queries()
    # one warm rep, then the measured rep
    qs[name](spark, SF_DIR).toPandas()
    t0 = time.monotonic()
    qs[name](spark, SF_DIR).toPandas()
    wall = time.monotonic() - t0
    ui = spark.sparkContext.uiWebUrl
    app_id = spark.sparkContext.applicationId
    with urllib.request.urlopen(f"{ui}/api/v1/applications/{app_id}/stages"
                                "?status=complete") as r:
        stages = json.loads(r.read())
    rows = []
    for st in stages:
        rows.append({
            "stageId": st["stageId"],
            "name": st["name"].split("\n")[0][:70],
            "tasks": st["numCompleteTasks"],
            "executorRunTime_ms": st["executorRunTime"],
            "shuffleRead_mb": round(st.get("shuffleReadBytes", 0) / 1e6, 2),
            "shuffleWrite_mb": round(st.get("shuffleWriteBytes", 0) / 1e6, 2),
            "submitted": st.get("submissionTime", ""),
        })
    rows.sort(key=lambda x: -x["executorRunTime_ms"])
    print(json.dumps({"query": name, "wall_s": round(wall, 3),
                      "stages": rows[:25]}, indent=1))


if __name__ == "__main__":
    mode = sys.argv[1] if len(sys.argv) > 1 else "queries"
    if mode == "queries":
        cmd_queries(sys.argv[2:] or HEADLINE)
    elif mode == "build":
        cmd_build(int(sys.argv[2]), int(sys.argv[3]) if len(sys.argv) > 3
                  else 150000)
    elif mode == "stages":
        cmd_stages(sys.argv[2])
    else:
        raise SystemExit(f"unknown mode {mode}")
