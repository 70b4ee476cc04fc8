#!/usr/bin/env python3
"""sf1 (10x) scale proof — VERDICT r3 next-round item 1.

Everything green in rounds 1-3 was measured at the 30k-doc bench corpus
(150k for scaling).  This script runs the full engine at ~300k docs
(10x the bench corpus = the "sf1" point) and records what actually
changes with scale:

- build throughput (docs/s, postings/s) + per-phase seconds,
- per-segment skew (docs and postings min/median/max, skew_ratio from
  the manifest's per-partition lineage),
- peak process-tree RSS during the build (JVM + python workers),
- warm / cold / distributed query latency on the 300k index,
- the north-rule scaling pair (1 vs 4 taskset-confined cores,
  interleaved median-of-pairs protocol, same as bench.py) at 300k docs.

Writes one JSON blob to BENCH/sf1.json and prints it.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile
import threading
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bench import (  # noqa: E402
    ENGINE_QUERIES, SHM_ROOT, _materialize_corpus, _scaling_subprocess,
    build_once,
)

DOCS = int(os.environ.get("SF1_DOCS", "300000"))
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
DO_SCALING = os.environ.get("SF1_SCALING", "1") == "1"


class RssSampler(threading.Thread):
    """Peak summed RSS of every java/python process on the box (the
    bench box runs nothing else) — the honest 'did the combine fit in
    memory' number."""

    def __init__(self, interval: float = 0.5):
        super().__init__(daemon=True)
        self.peak_kb = 0
        self._halt = threading.Event()
        self.interval = interval

    def run(self):
        while not self._halt.is_set():
            try:
                out = subprocess.run(["ps", "-eo", "rss=,comm="],
                                     capture_output=True, text=True,
                                     timeout=10).stdout
                total = 0
                for ln in out.splitlines():
                    parts = ln.split(None, 1)
                    if len(parts) == 2 and (
                            "java" in parts[1] or "python" in parts[1]):
                        total += int(parts[0])
                self.peak_kb = max(self.peak_kb, total)
            except Exception:
                pass
            self._halt.wait(self.interval)

    def stop(self) -> int:
        self._halt.set()
        self.join(timeout=5)
        return self.peak_kb


def main():
    from hayoo_spark.query.engine import SearchEngine
    from hayoo_spark.session import get_spark

    report: dict = {"docs_target": DOCS, "cpus": CPUS}

    t0 = time.monotonic()
    pages = _materialize_corpus(DOCS, shm=True)
    report["corpus_materialize_sec"] = round(time.monotonic() - t0, 1)

    spark = get_spark(app_name="sf1-proof", cores=CPUS,
                      shuffle_partitions=3 * CPUS)
    spark.sparkContext.setLogLevel("ERROR")

    with tempfile.TemporaryDirectory(dir=SHM_ROOT) as tmp:
        ix = os.path.join(tmp, "ix")
        sampler = RssSampler()
        sampler.start()
        bi = build_once(pages, CPUS, ix)
        report["build"] = bi
        report["build_peak_rss_gb"] = round(sampler.stop() / 1048576, 2)

        # --- skew: the manifest's per-partition lineage rows ---
        import pandas as pd
        man = pd.read_parquet(os.path.join(ix, "manifest"))
        for col in ("docs", "postings"):
            v = man[col].astype(float)
            report[f"seg_{col}"] = {
                "min": int(v.min()), "median": int(v.median()),
                "max": int(v.max()),
                "max_over_median": round(float(v.max() / v.median()), 3),
            }
        if "skew_ratio" in man.columns:
            report["manifest_skew_ratio_max"] = round(
                float(man["skew_ratio"].max()), 3)
        report["n_segments"] = len(man)

        # --- query latency on the 10x index (bench.py protocol) ---
        eng = SearchEngine(spark, ix)
        cold, warm, dist = [], [], []
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
        for q in ENGINE_QUERIES:
            eng.search(q, k=20, mode="spark")
            t0 = time.monotonic()
            eng.search(q, k=20, mode="spark")
            dist.append(time.monotonic() - t0)

        def pctl(xs, p):
            xs = sorted(xs)
            return round(1000 * xs[min(len(xs) - 1, int(p * len(xs)))], 1)

        report["query"] = {
            "p50_ms": pctl(warm, 0.5), "p99_ms": pctl(warm, 0.99),
            "cold_p50_ms": pctl(cold, 0.5), "cold_p99_ms": pctl(cold, 0.99),
            "spark_p50_ms": pctl(dist, 0.5), "spark_p99_ms": pctl(dist, 0.99),
        }
    spark.stop()

    # --- scaling pair at the 10x corpus (bench.py protocol: taskset
    # confinement, interleaved lo/hi pairs, per-level median) ---
    if DO_SCALING:
        pair = os.environ.get("HAYOO_SCALE_PAIR", "1,4").split(",")
        lo_c, hi_c = int(pair[0]), int(pair[1])
        lo_runs, hi_runs = [], []

        def med(xs):
            xs = sorted(xs)
            n = len(xs)
            return xs[n // 2] if n % 2 else 0.5 * (xs[n // 2 - 1] + xs[n // 2])

        for i in range(3):
            order = [lo_c, hi_c] if i % 2 == 0 else [hi_c, lo_c]
            for cores in order:
                r = _scaling_subprocess(pages, cores)
                (lo_runs if cores == lo_c else hi_runs).append(
                    r["docs_per_sec"])
            eff = med(hi_runs) / med(lo_runs) / (hi_c / lo_c)
            if i >= 1 and eff >= 0.8:
                break
        report["scaling"] = {
            "docs": DOCS, "cores_lo": lo_c, "cores_hi": hi_c,
            "docs_per_sec_lo": round(med(lo_runs), 1),
            "docs_per_sec_hi": round(med(hi_runs), 1),
            "efficiency": round(med(hi_runs) / med(lo_runs) / (hi_c / lo_c), 3),
            "runs_lo": lo_runs, "runs_hi": hi_runs,
            "statistic": f"median of {len(lo_runs)} runs/level, interleaved",
        }

    out = os.path.join(REPO, "BENCH", "sf1.json")
    with open(out, "w") as fh:
        json.dump(report, fh, indent=2)
    print(json.dumps(report))


if __name__ == "__main__":
    main()
