#!/usr/bin/env python3
"""sf10 (100x the bench corpus, 3M docs) scale proof — VERDICT r4
next-round item 4: "one more scale decade".

sf1 (300k) used 24.2 GB of the 128 GiB box, so a monolithic 3M-doc
build would flirt with the ceiling; this run exercises the builder's
OWN memory-bounding lever instead — ``segments_per_batch`` (the
reference's save-interval analogue) — proving the 100 TB posture:
bounded peak RSS per batch, not linear headroom.

Records build throughput + phases, peak process-tree RSS, per-segment
skew from the manifest lineage, and warm/cold/distributed query
latency on the 3M index, extending the 30k -> 300k -> 3M latency
growth curve.  Scaling pairs are NOT re-run at this size (a 1-core leg
alone would take ~an hour); the north-rule evidence lives at 150k/300k
(BENCH/sf1.json, bench.py).

Writes BENCH/sf10.json and prints it.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bench import ENGINE_QUERIES, SHM_ROOT, _materialize_corpus  # noqa: E402
from scripts.sf1_proof import RssSampler  # noqa: E402

DOCS = int(os.environ.get("SF10_DOCS", "3000000"))
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
N_SEGMENTS = int(os.environ.get("SF10_SEGMENTS", "64"))
PER_BATCH = int(os.environ.get("SF10_SEGMENTS_PER_BATCH", "16"))
# persistent index dir (tmpfs): lets the build run once and the query
# phases re-run after query-side changes; empty -> temp dir as before
IX_DIR = os.environ.get("SF10_IX_DIR", "")
PHASE = os.environ.get("SF10_PHASE", "all")  # build | query | all
# query sub-phase: local | spark | both.  At 10M docs the local leg's
# driver-side caches (all-segment docs + decoded postings) and the
# spark leg's 32 per-worker caches cannot share one 125 GiB box —
# running them in one process OOM-killed the Python workers.  Run the
# legs as separate processes; the spark leg additionally wants
# HAYOO_DOCS_CACHE_SEGMENTS bounded (workers inherit the env).
QUERY_MODE = os.environ.get("SF10_QUERY_MODE", "both")


def pctl(xs, p):
    xs = sorted(xs)
    return round(1000 * xs[min(len(xs) - 1, int(p * len(xs)))], 1)


def main() -> None:
    from hayoo_spark.index.builder import build_index
    from hayoo_spark.query.engine import SearchEngine
    from hayoo_spark.session import get_spark

    out = os.environ.get("SF10_OUT",
                         os.path.join(REPO, "BENCH", "sf10.json"))
    report: dict = {"docs_target": DOCS, "cpus": CPUS,
                    "n_segments": N_SEGMENTS,
                    "segments_per_batch": PER_BATCH}
    if PHASE == "query" and os.path.exists(out):
        with open(out) as fh:  # keep the build numbers from the build run
            report = json.load(fh)
    if PHASE != "query":  # the query phase touches only the built index
        t0 = time.monotonic()
        pages = _materialize_corpus(DOCS, shm=True)
        report["corpus_materialize_sec"] = round(time.monotonic() - t0, 1)

    spark = get_spark(app_name="sf10-proof", cores=CPUS,
                      shuffle_partitions=3 * CPUS)
    spark.sparkContext.setLogLevel("ERROR")

    ctx = tempfile.TemporaryDirectory(dir=SHM_ROOT) if not IX_DIR else None
    try:
        ix = os.path.join(ctx.name, "ix") if ctx else IX_DIR
        if PHASE != "query":
            sampler = RssSampler()
            sampler.start()
            t0 = time.monotonic()
            bm = build_index(spark, pages, ix, n_segments=N_SEGMENTS,
                             salt_df_threshold=4096, n_salts=8,
                             segments_per_batch=PER_BATCH)
            build_sec = time.monotonic() - t0
            report["build"] = {**bm, "wall_sec": round(build_sec, 1),
                               "docs_per_sec": round(DOCS / build_sec, 1)}
            report["build_peak_rss_gb"] = round(sampler.stop() / 1048576, 2)

            import pandas as pd
            man = pd.read_parquet(os.path.join(ix, "manifest"))
            for col in ("docs", "postings"):
                v = man[col].astype(float)
                report[f"seg_{col}"] = {
                    "min": int(v.min()), "median": int(v.median()),
                    "max": int(v.max()),
                    "max_over_median": round(float(v.max() / v.median()), 3),
                }

        if PHASE != "build":
            eng = SearchEngine(spark, ix)
            per_q = report.get("per_query", {})
            qstats = report.get("query", {})
            if QUERY_MODE != "spark":
                cold, warm = [], []
                for q in ENGINE_QUERIES:
                    t0 = time.monotonic()
                    eng.search(q, k=20)
                    cold.append(time.monotonic() - t0)
                    reps = []
                    for _ in range(3):
                        t0 = time.monotonic()
                        eng.search(q, k=20)
                        reps.append(time.monotonic() - t0)
                    warm.append(sorted(reps)[1])
                    per_q.setdefault(q, {}).update(
                        cold_ms=round(1000 * cold[-1], 1),
                        warm_ms=round(1000 * warm[-1], 1))
                qstats.update({
                    "p50_ms": pctl(warm, 0.5), "p99_ms": pctl(warm, 0.99),
                    "cold_p50_ms": pctl(cold, 0.5),
                    "cold_p99_ms": pctl(cold, 0.99),
                })
            if QUERY_MODE != "local":
                dist = []
                for q in ENGINE_QUERIES:
                    eng.search(q, k=20, mode="spark")
                    t0 = time.monotonic()
                    eng.search(q, k=20, mode="spark")
                    dist.append(time.monotonic() - t0)
                    per_q.setdefault(q, {})["spark_ms"] = round(
                        1000 * dist[-1], 1)
                qstats.update({
                    "spark_p50_ms": pctl(dist, 0.5),
                    "spark_p99_ms": pctl(dist, 0.99),
                })
            report["query"] = qstats
            report["per_query"] = per_q
    finally:
        if ctx:
            ctx.cleanup()

    with open(out, "w") as fh:
        json.dump(report, fh, indent=2)
    print(json.dumps(report))


if __name__ == "__main__":
    main()
