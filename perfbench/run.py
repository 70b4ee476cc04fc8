#!/usr/bin/env python3
"""Run one workload of the hayoo-spark benchmark in one process.

    python3 perfbench/run.py --workload {serve_hot,serve_wide}
                             --seed N --seconds S --trace {0,1}

Run from the root of a checkout that holds ``hayoo_spark/``.  The
benchmark builds every index it serves from pages generated from
``--seed`` under Spark ``local[nproc]``, checks every answer and every
index statistic against a DuckDB recomputation (reference.py), and
prints as its last line one JSON object:

    {"correct": bool, "attempted": int, "failed": int,
     "metrics": {name: {"value": float, "unit": str}, ...}}

``correct`` is false when any checked operation disagreed with the
reference (``failed`` counts them).  A run that printed its result
exits 0, also when ``correct`` is false.

With ``--trace 0`` the metrics are the end-to-end ones, with
``--trace 1`` the per-layer ones (see README.md).  Lines before it
start with ``#`` and describe the run.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from contextlib import contextmanager, nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = ("serve_hot", "serve_wide")
#: query CPU seconds between two yardstick samples in the timed part
YARD_EVERY_S = 0.025
#: latency percentile reported as query_tail_ref_ms: the highest with at
#: least ten samples beyond it at the sample counts every workload
#: reaches (>= 100 queries per run)
TAIL_PCT = 90.0
SHM = "/dev/shm"
MB = float(1 << 20)


def log(msg: str) -> None:
    print(f"# {msg}", flush=True)


def shm_cache_dir() -> str:
    return os.path.join(SHM, f"hayoo_decode_cache.{os.getuid()}")


def listing(path: str) -> set[str]:
    try:
        return set(os.listdir(path))
    except OSError:
        return set()


def tree_bytes(path: str) -> int:
    total = 0
    for dirpath, _d, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(dirpath, f))
            except OSError:
                pass
    return total


def rss_mb() -> float:
    with open("/proc/self/status") as fh:
        for line in fh:
            if line.startswith("VmRSS:"):
                return int(line.split()[1]) / 1024.0
    return float("nan")


def machine_cpu_s() -> float:
    """CPU seconds this machine's processes have run so far: user,
    nice, system, irq and softirq time.  The time the hypervisor gave
    to other guests (steal) is not in it."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:8]]
    return (f[0] + f[1] + f[2] + f[5] + f[6]) / os.sysconf("SC_CLK_TCK")


def cpu_ticks() -> tuple[int, int]:
    """(steal, busy) jiffies of this machine's CPUs so far; busy is all
    but idle and iowait, steal included."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:9]]
    return f[7], sum(f) - f[3] - f[4]


def nproc() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


class Run:
    def __init__(self, args):
        import workloads as W
        import yardstick as Y
        from reference import Reference, compare
        from hayoo_spark.index import snapshot
        from hayoo_spark.query.engine import SearchEngine
        from hayoo_spark.session import get_spark

        self.W, self.Y, self.Reference, self.compare = W, Y, Reference, compare
        self.snapshot, self.SearchEngine = snapshot, SearchEngine
        self.get_spark = get_spark
        self.args = args
        self.seed = args.seed
        self.cores = nproc()
        self.tr = None
        self.undo = []
        self.phases: list[tuple[str, float, float]] = []
        self.spark = None
        self.tmp = os.path.join(ROOT, ".perfbench_tmp", f"run-{os.getpid()}")
        self.attempted = 0
        self.failed = 0
        self.mismatches: list[str] = []
        self.layer: dict = {}
        self.yard: list[float] = []  # yardstick CPU ms (yardstick.py)

    # ---- bookkeeping ---------------------------------------------------

    @contextmanager
    def phase(self, name: str):
        """Time a top-level phase; in traced runs it is also a span."""
        t0 = time.perf_counter()
        with self.tr.span(name) if self.tr else nullcontext():
            try:
                yield
            finally:
                self.phases.append((name, t0, time.perf_counter()))

    def note(self, what: str) -> None:
        if len(self.mismatches) < 10:
            self.mismatches.append(what)

    # ---- environment ---------------------------------------------------

    def start(self) -> None:
        st = os.statvfs(SHM)
        cache = shm_cache_dir()
        names = listing(cache)
        size = sum(os.path.getsize(os.path.join(cache, n)) for n in names
                   if os.path.isfile(os.path.join(cache, n)))
        log(f"tmpfs {SHM}: {st.f_bavail * st.f_frsize / MB:.0f} MB free; "
            f"decode cache {cache}: {len(names)} files, {size / MB:.1f} MB")
        self.shm_before = listing(SHM)
        self.cache_existed = os.path.isdir(cache)
        self.cache_before = names
        os.makedirs(self.tmp)
        if self.args.trace:
            import spans as T
            self.tr = T.Tracer()
            self.undo = T.install(self.tr)
            # event-log settings must reach the JVM at launch
            os.makedirs(os.path.join(self.tmp, "eventlog"))
            os.environ["PYSPARK_SUBMIT_ARGS"] = (
                "--conf spark.eventLog.enabled=true "
                f"--conf spark.eventLog.dir=file://{self.tmp}/eventlog "
                "--conf spark.eventLog.compress=false "
                "pyspark-shell")

    def session(self) -> None:
        with self.phase("setup.session"):
            self.spark = self.get_spark(app_name="perfbench",
                                        cores=self.cores)
            self.spark.sparkContext.setLogLevel("ERROR")

    def write_pages(self, pages, name: str) -> str:
        path = os.path.join(self.tmp, name)
        pages.to_parquet(path, index=False, row_group_size=4096)
        return path

    def stop_spark(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
            # the gateway JVM (and the Python workers it forked) exits
            # when its stdin closes; wait for it
            from pyspark import SparkContext
            gw = SparkContext._gateway
            proc = getattr(gw, "proc", None)
            if gw is not None:
                gw.shutdown()
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None

    def cleanup(self) -> float:
        """Remove everything this run put on disk and in tmpfs.  Returns
        MB the run added to the decode cache."""
        self.stop_spark()
        if self.undo:
            import spans as T
            T.uninstall(self.undo)
            self.undo = []
        cache = shm_cache_dir()
        added = listing(cache) - self.cache_before
        added_bytes = 0
        for n in added:
            p = os.path.join(cache, n)
            try:
                added_bytes += os.path.getsize(p)
                os.unlink(p)
            except OSError:
                pass
        if not self.cache_existed:
            try:
                os.rmdir(cache)
            except OSError:
                pass
        # Spark's local dirs live on tmpfs (session.py); stop() removes
        # them; this catches what a run cut short by an error leaves
        for n in listing(SHM) - self.shm_before:
            if n.startswith(("blockmgr-", "spark-")):
                shutil.rmtree(os.path.join(SHM, n), ignore_errors=True)
        shutil.rmtree(self.tmp, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(self.tmp))
        except OSError:
            pass
        return added_bytes / MB

    # ---- program calls ---------------------------------------------------

    def ask(self, eng, spec: dict, lat: list, answers: dict,
            tag: str) -> None:
        """One query through ``eng``: appends (wall seconds, CPU seconds
        of this process) to ``lat`` and records, under (tag, query),
        [spec, first answer, executions, repeats that answered
        differently]."""
        q = self.W.render(spec)
        if self.tr:
            self.tr.set_query(q)
        c = time.process_time()
        t = time.perf_counter()
        with self.tr.span("query") if self.tr else nullcontext():
            try:
                res = eng.search(q, k=spec["k"], page=spec["page"])
            except Exception as e:  # counted as failed, the run goes on
                res = e
        lat.append((time.perf_counter() - t, time.process_time() - c))
        k = (tag,) + self.W.key(spec)
        ent = answers.get(k)
        if ent is None:
            answers[k] = [spec, res, 1, 0]
        else:
            ent[2] += 1
            ent[3] += not same(ent[1], res)

    # ---- checks ---------------------------------------------------------

    def check_answers(self, ref, answers: dict, tag: str) -> None:
        """Every distinct query of ``tag`` against the reference; a
        mismatch fails every execution of that query."""
        items = [v for k, v in answers.items() if k[0] == tag]
        ranked = ref.rank([v[0] for v in items])
        for (spec, res, n, bad), r in zip(items, ranked):
            self.attempted += n
            if isinstance(res, Exception):
                why = f"raised {res!r}"
            else:
                why = self.compare(res, r, spec["k"], spec["page"])
            if why is None and bad:
                self.failed += bad
                self.note(f"{self.W.render(spec)!r}: {bad} of {n} repeats "
                          "answered differently")
            elif why is not None:
                self.failed += n
                self.note(f"{self.W.render(spec)!r} page {spec['page']}: {why}")

    def check_index(self, ref, index_dir: str, what: str) -> None:
        """n_docs, avgdl, total postings and every term's df of one
        index version (its stats/ and terms/ files), against the
        reference."""
        import duckdb
        self.attempted += 1
        exp = ref.stats()
        n_docs, avgdl = duckdb.sql(
            "SELECT n_docs, avgdl FROM read_parquet("
            f"'{index_dir}/stats/*.parquet') WHERE field = 'text'").fetchone()
        got_df = dict(duckdb.sql(
            f"SELECT term, df FROM read_parquet('{index_dir}/terms/*.parquet')"
            " WHERE field = 'text'").fetchall())
        errs = []
        if n_docs != exp["n_docs"]:
            errs.append(f"n_docs {n_docs} != {exp['n_docs']}")
        if not abs(avgdl - exp["avgdl"]) <= 1e-9 * exp["avgdl"]:
            errs.append(f"avgdl {avgdl!r} != {exp['avgdl']!r}")
        if sum(got_df.values()) != exp["postings"]:
            errs.append(f"postings {sum(got_df.values())} != {exp['postings']}")
        if got_df != exp["df"]:
            diff = sum(1 for t in set(got_df) | set(exp["df"])
                       if got_df.get(t) != exp["df"].get(t))
            errs.append(f"df differs on {diff} terms")
        if errs:
            self.failed += 1
            self.note(f"{what} index: " + "; ".join(errs))

    # ---- the workload ----------------------------------------------------

    def serve(self, zipf: bool) -> dict:
        """Build an index, open an engine on it (serve_wide first applies
        one small update), then serve the seeded mix closed-loop for
        ``--seconds`` (README.md)."""
        W = self.W
        update = not zipf
        with self.phase("setup.inputs"):
            pages = served = W.make_pages(self.seed)
            pages_path = self.write_pages(pages, "pages1.parquet")
            probe_specs = W.QueryMix(W.PROBE_SEED, zipf=True).take(W.PROBES)
            if update:
                served, changed, fresh = W.updated_pages(pages, self.seed)
                pages2_path = self.write_pages(served, "pages2.parquet")
                probe_specs.insert(0, {"kind": "term", "terms": [fresh],
                                       "k": W.PAGE_SIZE, "page": 0})
            stream = W.QueryMix(self.seed, zipf=zipf).take(8000)
            warm_specs = W.QueryMix(self.seed + 1, zipf=zipf).take(32)
        self.session()
        root = os.path.join(self.tmp, "index")
        with self.phase("setup.build"):
            c = machine_cpu_s()
            self.snapshot.init_root(self.spark, pages_path, root,
                                    n_segments=W.SEGMENTS)
            build_cpu = machine_cpu_s() - c
        v1 = self.snapshot.resolve(root)
        answers: dict = {}
        if update:
            urls = self.spark.createDataFrame([(u,) for u in changed],
                                              "url string")
        # the build's trailing JVM work (garbage collection, compilation)
        # ends within a quarter second; keep it out of the refresh's CPU
        with self.phase("settle"):
            time.sleep(0.5)
        # refresh: (serve_wide) a few changed pages become a new snapshot
        # version; a new engine on the live version answers the probe set.
        # The window takes in the JVM's compilation that the engine open
        # sets off, which ends while the probes run
        with self.phase("refresh"):
            c = machine_cpu_s()
            if update:
                self.snapshot.snapshot_update(self.spark, pages2_path, root,
                                              changed_urls=urls)
            eng = self.SearchEngine(self.spark, root)
            plat: list[tuple[float, float]] = []
            for s in probe_specs:
                self.ask(eng, s, plat, answers, "q")
            refresh_cpu = machine_cpu_s() - c
        with self.phase("setup.warm"):
            # serve_hot preloads every dictionary term's posting rows, so
            # its timed part runs with the whole index in the rows cache;
            # serve_wide keeps the default (the 256 highest-df terms)
            eng.warm(top_terms=1 << 20) if zipf else eng.warm()
            for s in warm_specs:
                self.ask(eng, s, [], answers, "q")

        # one closed-loop client, in this thread: a query's CPU time is
        # then the process's CPU time while it ran (README "Why reference time")
        lat: list[tuple[float, float]] = []
        with self.phase("timed"):
            c0 = self.tr.counts.copy() if self.tr else None
            steal0 = cpu_ticks()
            t0 = time.perf_counter()
            stop_at = t0 + self.args.seconds
            j = 0
            since = 0.0  # query CPU seconds since the last yardstick
            while time.perf_counter() < stop_at:
                self.ask(eng, stream[j % len(stream)], lat, answers, "q")
                j += 1
                since += lat[-1][1]
                if since >= YARD_EVERY_S:
                    self.yard.append(self.Y.cpu_ms())
                    since = 0.0
            t1 = time.perf_counter()
            rss = rss_mb()
            steal1 = cpu_ticks()
            c1 = self.tr.counts.copy() if self.tr else None
        n_q = len(lat)
        with self.phase("check"):
            ref = self.Reference(pages, threads=self.cores)
            self.check_index(ref, v1, "built")
            if update:
                ref.close()
                ref = self.Reference(served, threads=self.cores)
                self.check_index(ref, eng.index_dir, "updated")
            self.check_answers(ref, answers, "q")
            ref.close()
        log(f"{n_q} queries from one closed-loop client in {t1 - t0:.2f} s; "
            f"{len(answers)} distinct queries checked")
        # CPU time the hypervisor gave to other guests: a busy host
        steal = (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1])
        log(f"steal in the timed part: {100 * steal:.1f}% of the busy CPU time")
        wall = [w for w, _c in lat]
        cpu = [c for _w, c in lat]
        log(f"wall clock (not metrics): query p50 "
            f"{1000 * statistics.median(wall):.2f} ms, "
            f"p{TAIL_PCT:g} {1000 * percentile(wall, TAIL_PCT):.2f} ms, "
            f"{n_q / (t1 - t0):.1f} queries/s; probes p50 "
            f"{1000 * statistics.median(w for w, _c in plat):.2f} ms")
        # CPU seconds -> reference ms: the yardstick's CPU time in this
        # run stands for self.Y.REF_MS
        yard_ms = statistics.median(self.yard)
        ref_ms = 1000.0 * self.Y.REF_MS / yard_ms
        log(f"yardstick: median {yard_ms:.4f} CPU ms over {len(self.yard)} "
            f"calls; one CPU ms is {ref_ms / 1000:.4f} reference ms")
        thirds = [cpu[i * n_q // 3:(i + 1) * n_q // 3] for i in range(3)]
        log("CPU p50 ms by third of the timed part: " + ", ".join(
            f"{1000 * statistics.median(x):.2f}" for x in thirds if x))
        if self.tr:
            self.layer = self.layers(eng, t0, t1, n_q, c0, c1)
        return {
            "build_docs_per_ref_s": (
                int(pages["url"].nunique()) / (build_cpu * ref_ms / 1000),
                "docs/ref_s"),
            "index_bytes_per_doc": (tree_bytes(eng.index_dir)
                                    / int(served["url"].nunique()), "B/doc"),
            "refresh_ref_s": (refresh_cpu * ref_ms / 1000, "ref_s"),
            "post_update_query_ref_ms": (
                statistics.median(c for _w, c in plat) * ref_ms, "ref_ms"),
            "query_p50_ref_ms": (statistics.median(cpu) * ref_ms, "ref_ms"),
            "query_tail_ref_ms": (percentile(cpu, TAIL_PCT) * ref_ms,
                                  "ref_ms"),
            "queries_per_ref_s": (n_q / (sum(cpu) * ref_ms / 1000),
                                  "1/ref_s"),
            "serve_rss_mb": (rss, "MB"),
        }

    # ---- per-layer metrics (traced runs) ---------------------------------

    def _spans(self, name: str, t0: float, t1: float) -> list:
        return [sp for sp in self.tr.spans
                if sp[2] == name and t0 <= sp[3] <= t1]

    def _build_layers(self, phase: str) -> dict:
        """Layers of the build_index span inside ``phase`` (the cold
        build); ``fold_stages`` adds the Spark stage metrics later."""
        (_n, p0, p1), = [ph for ph in self.phases if ph[0] == phase]
        sid, _p, _n, b0, b1, _q = min(
            self._spans("build.build_index", p0, p1), key=lambda sp: sp[3])
        kids = [sp for sp in self.tr.spans if sp[1] == sid]

        def dur(name):
            return sum(sp[4] - sp[3] for sp in kids if sp[2] == name)

        writes = [sp[3] for sp in kids
                  if sp[2] in ("build.write_postings", "build.write_docs")]
        self.build_window = (b0, b1)
        return {
            "build.combine_s": ((min(writes) if writes else b1) - b0, "s"),
            "build.write_postings_s": (dur("build.write_postings"), "s"),
            "build.write_docs_s": (dur("build.write_docs"), "s"),
            "build.finalize_s": (dur("build.finalize"), "s"),
            "build.manifest_s": (dur("build.manifest"), "s"),
        }

    def fold_stages(self) -> None:
        """Spark stage metrics of the build, from the event log (read
        after the session stopped, so the log is complete)."""
        import spans as T
        d = os.path.join(self.tmp, "eventlog")
        files = [os.path.join(dp, f) for dp, _d, fs in os.walk(d)
                 for f in sorted(fs) if not f.startswith("appstatus")]
        ev = T.fold_event_log(files, self.tr, [self.build_window])
        self.layer.update({
            "build.executor_cpu_s": (ev["cpu_ns"] / 1e9, "s"),
            "build.shuffle_write_mb": (ev["shuffle_write_b"] / MB, "MB"),
            "build.spill_mb": (ev["disk_spill_b"] / MB, "MB"),
            "build.gc_s": (ev["gc_ms"] / 1000.0, "s"),
        })
        log(f"event log: {ev['stages']} stages of the build folded")

    def _query_layers(self, eng, t0, t1, n_q, c0, c1) -> dict:
        """Serving layers over the queries asked in [t0, t1], per query."""
        import spans as T
        c = {k: c1.get(k, 0) - c0.get(k, 0) for k in set(c0) | set(c1)}
        n = max(1, n_q)
        win = [sp for sp in self.tr.spans if t0 <= sp[3] <= t1]
        selft = T.self_times(win)

        def per_q(name, self_time=False):
            tot = sum(selft[sp[0]] if self_time else sp[4] - sp[3]
                      for sp in win if sp[2] == name)
            return 1000.0 * tot / n

        def ratio(a, b):
            return a / b if b else 0.0

        reach = c.get("wand.postings_calls", 0) - c.get("wand.postings_memo", 0)
        shm_look = (c.get("wand.postings_shm_hit", 0)
                    + c.get("wand.postings_shm_miss", 0))
        return {
            "query.parse_ms": (per_q("query.parse"), "ms"),
            "engine.expand_ms": (per_q("engine.expand"), "ms"),
            "engine.fetch_ms": (per_q("engine.fetch"), "ms"),
            "engine.read_ms": (per_q("engine.read"), "ms"),
            "engine.pairs_read": (c.get("engine.pairs_read", 0) / n, "count"),
            "engine.rows_hit_ratio": (
                1.0 - ratio(c.get("engine.pairs_read", 0),
                            c.get("engine.pairs_requested", 0)), "ratio"),
            "engine.gate_wait_ms": (per_q("engine.gate_wait"), "ms"),
            "engine.merge_ms": (per_q("engine.search_local", True), "ms"),
            "engine.rows_cache_mb": (eng._rows_mem_bytes / MB, "MB"),
            "wand.docs_load_ms": (per_q("wand.docs_load"), "ms"),
            "wand.docs_hit_ratio": (ratio(c.get("wand.docs_hits", 0),
                                          c.get("wand.docs_calls", 0)),
                                    "ratio"),
            "wand.postings_calls": (c.get("wand.postings_calls", 0) / n,
                                    "count"),
            "wand.decoded_hit_ratio": (
                ratio(c.get("wand.postings_decoded_hit", 0), reach), "ratio"),
            "wand.shm_hit_ratio": (
                ratio(c.get("wand.postings_shm_hit", 0), shm_look), "ratio"),
            "wand.decode_ms": (per_q("wand.decode"), "ms"),
            "wand.postings_decoded": (c.get("wand.postings_decoded", 0) / n,
                                      "count"),
            "wand.positions_decode_ms": (per_q("wand.positions_decode"),
                                         "ms"),
            "wand.eval_ms": (per_q("wand.eval", True), "ms"),
        }

    def _update_layers(self, t0, t1) -> dict:
        """The refresh step: at most one update, one engine open."""
        def dur(name):
            return sum(sp[4] - sp[3] for sp in self._spans(name, t0, t1))

        return {
            "update.hardlink_s": (dur("update.hardlink"), "s"),
            "update.rebuild_s": (dur("update.update_index"), "s"),
            "update.segments_rebuilt": (
                self.tr.counts.get("update.segments_rebuilt", 0), "count"),
            "engine.open_s": (dur("engine.open"), "s"),
        }

    def layers(self, eng, t0, t1, n_q, c0, c1) -> dict:
        """Every per-layer metric; layers the workload never reaches
        (the update, on serve_hot) read 0."""
        (_n, r0, r1), = [ph for ph in self.phases if ph[0] == "refresh"]
        out = self._build_layers("setup.build")
        out.update(self._update_layers(r0, r1))
        out.update(self._query_layers(eng, t0, t1, n_q, c0, c1))
        return out


def same(a, b) -> bool:
    return not isinstance(a, Exception) and not isinstance(b, Exception) \
        and a == b


def percentile(xs: list[float], pct: float) -> float:
    import numpy as np
    return float(np.percentile(np.asarray(xs), pct))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # a terminated run still stops Spark and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.path[:0] = [ROOT, HERE]
    # a run leaves no files behind, bytecode caches included (the
    # variable reaches the Spark Python workers too)
    sys.dont_write_bytecode = True
    os.environ["PYTHONDONTWRITEBYTECODE"] = "1"
    run = Run(args)  # imports the program: fails without a checkout
    t_start = time.perf_counter()
    run.start()
    try:
        metrics = run.serve(zipf=args.workload == "serve_hot")
        setup_s = sum(t1 - t0 for n, t0, t1 in run.phases
                      if n.startswith("setup."))
        metrics["setup_s"] = (setup_s, "s")
        if run.tr:
            import spans as T
            log("traced e2e " + json.dumps({k: v for k, (v, _u)
                                            in metrics.items()}))
            t_end = time.perf_counter()
            for line in T.report(run.tr.spans):
                log(line)
            log(f"top-level spans cover "
                f"{100 * T.coverage(run.tr.spans, t_start, t_end):.1f}% "
                f"of the run's {t_end - t_start:.1f} s")
            log(f"distinct (segment, term) postings lookups: "
                f"{len(run.tr.seen_pairs)}")
        run.stop_spark()
        if run.tr:
            run.fold_stages()
    finally:
        shm_mb = run.cleanup()
    log("phases: " + ", ".join(f"{n} {t1 - t0:.2f}s" for n, t0, t1 in run.phases
                               if "." not in n or n.startswith("setup.")))
    for what in run.mismatches:
        log(f"MISMATCH {what}")
    if run.tr:
        out = dict(run.layer)
        out["wand.shm_mb_written"] = (shm_mb, "MB")
    else:
        out = metrics
    print(json.dumps({
        # every attempted operation was checked and agreed
        "correct": run.attempted > 0 and run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": float(v), "unit": u}
                    for k, (v, u) in out.items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
