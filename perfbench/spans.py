"""Span and counter recorder for traced runs, and the wrappers that put
it around the program's layer entry points from outside.

Nothing here edits the program: ``install`` replaces module and class
attributes of the imported ``hayoo_spark`` modules with timing
wrappers for the life of the process.  Spans live in memory (one tuple
each) and are reported when the run ends.

A span is ``(id, parent, name, start, end, query_id)`` with times from
``time.perf_counter``.  Its parent is the innermost open span on the
same thread; work the program hands to a thread pool has no open span
on its own thread, so it is parented to the innermost open span of the
main thread (the call that is waiting for the pool).
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from collections import Counter, defaultdict


class Tracer:
    def __init__(self) -> None:
        self.spans: list[tuple] = []
        self.counts: Counter = Counter()
        self._ids = itertools.count(1)
        self._tls = threading.local()
        self._main_stack: list[int] = []
        self._count_lock = threading.Lock()
        self.perf0 = time.perf_counter()
        self.wall0 = time.time()

    # ---- stacks -------------------------------------------------------

    def _stack(self) -> list:
        st = getattr(self._tls, "stack", None)
        if st is None:
            st = (self._main_stack
                  if threading.current_thread() is threading.main_thread()
                  else [])
            self._tls.stack = st
        return st

    def set_query(self, qid) -> None:
        self._tls.qid = qid

    # ---- spans --------------------------------------------------------

    def begin(self, name: str):
        st = self._stack()
        if st:
            parent = st[-1]
        elif self._main_stack:
            parent = self._main_stack[-1]
        else:
            parent = 0
        sid = next(self._ids)
        st.append(sid)
        return sid, parent, name, time.perf_counter()

    def end(self, tok) -> None:
        t1 = time.perf_counter()
        sid, parent, name, t0 = tok
        st = self._stack()
        if st and st[-1] == sid:
            st.pop()
        self.spans.append((sid, parent, name, t0, t1,
                           getattr(self._tls, "qid", None)))

    def span(self, name: str):
        return _SpanCtx(self, name)

    def count(self, name: str, n: float = 1) -> None:
        with self._count_lock:
            self.counts[name] += n

    def wall_ms(self, t: float) -> float:
        """perf_counter time -> epoch milliseconds (Spark event log)."""
        return (self.wall0 + (t - self.perf0)) * 1000.0


class _SpanCtx:
    __slots__ = ("tr", "name", "tok")

    def __init__(self, tr: Tracer, name: str):
        self.tr, self.name = tr, name

    def __enter__(self):
        self.tok = self.tr.begin(self.name)
        return self

    def __exit__(self, *exc):
        self.tr.end(self.tok)
        return False


def _wrap(tr: Tracer, name: str, fn, after=None):
    """Time ``fn`` as span ``name``.  Calls made while a span of the
    same name is already open on this thread (recursion, or an outer
    wrapper of the same layer) pass straight through, so a layer is
    counted once per outermost call.  ``after(result, args, kwargs)``
    records counts from the call."""

    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        depth = getattr(tr._tls, "depth", None)
        if depth is None:
            depth = tr._tls.depth = defaultdict(int)
        if depth[name]:
            return fn(*args, **kwargs)
        depth[name] += 1
        tok = tr.begin(name)
        try:
            out = fn(*args, **kwargs)
        finally:
            tr.end(tok)
            depth[name] -= 1
        if after is not None:
            after(out, args, kwargs)
        return out

    return wrapper


class _TimedLock:
    """Stand-in for the engine's evaluation gate: the wait for each
    acquire is an ``engine.gate_wait`` span."""

    def __init__(self, lock, tr: Tracer):
        self._lock, self._tr = lock, tr

    def __enter__(self):
        tok = self._tr.begin("engine.gate_wait")
        self._lock.acquire()
        self._tr.end(tok)
        return self

    def __exit__(self, *exc):
        self._lock.release()
        return False


def install(tr: Tracer) -> list:
    """Wrap the program's layer entry points; returns the list of
    (owner, attribute, original) needed to undo it."""
    from hayoo_spark.index import builder, codec, snapshot, update
    from hayoo_spark.query import engine, parser, wand

    undo = []

    def patch(owner, attr, new):
        undo.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    # ---- build and update -------------------------------------------
    bi = _wrap(tr, "build.build_index", builder.build_index)
    patch(builder, "build_index", bi)
    patch(update, "build_index", bi)
    patch(builder, "_write_postings",
          _wrap(tr, "build.write_postings", builder._write_postings))
    patch(builder, "_write_docs",
          _wrap(tr, "build.write_docs", builder._write_docs))
    patch(builder, "finalize", _wrap(tr, "build.finalize", builder.finalize))
    patch(builder, "_commit_manifest",
          _wrap(tr, "build.manifest", builder._commit_manifest))
    patch(snapshot, "_hardlink_tree",
          _wrap(tr, "update.hardlink", snapshot._hardlink_tree))

    def _rebuilt(out, args, kwargs):
        tr.count("update.segments_rebuilt", int(out.get("segments_rebuilt", 0)))

    patch(update, "update_index",
          _wrap(tr, "update.update_index", update.update_index, _rebuilt))

    # ---- engine -----------------------------------------------------
    SE = engine.SearchEngine
    orig_init = SE.__init__

    def init_then_gate(self, *args, **kwargs):
        orig_init(self, *args, **kwargs)
        self._eval_gate = _TimedLock(self._eval_gate, tr)

    patch(SE, "__init__", _wrap(tr, "engine.open", init_then_gate))
    wparse = _wrap(tr, "query.parse", parser.parse)
    patch(engine, "parse", wparse)
    patch(parser, "parse", wparse)
    patch(SE, "_rewrite_prefixes",
          _wrap(tr, "engine.expand", SE._rewrite_prefixes))
    patch(SE, "_fetch_rows",
          _wrap(tr, "engine.fetch", SE._fetch_rows,
                lambda out, a, k: tr.count("engine.pairs_requested",
                                           len(a[1]))))
    patch(SE, "_read_pairs",
          _wrap(tr, "engine.read", SE._read_pairs,
                lambda out, a, k: tr.count("engine.pairs_read", len(a[1]))))
    patch(SE, "_search_local",
          _wrap(tr, "engine.search_local", SE._search_local))

    # ---- wand: docs, postings tiers, decode, evaluation --------------
    docs_loaded = wand.docs_loaded
    load_docs = wand.load_segment_docs

    def load_docs_counted(docs_root, segment):
        tr.count("wand.docs_calls")
        if docs_loaded(docs_root, segment):
            tr.count("wand.docs_hits")
        return load_docs(docs_root, segment)

    wdocs = _wrap(tr, "wand.docs_load", load_docs_counted)
    patch(wand, "load_segment_docs", wdocs)
    patch(engine, "load_segment_docs", wdocs)

    SD = wand.SegmentData
    orig_postings = SD.postings
    seen_pairs: set = set()

    def postings_classified(self, field, term):
        # tiers in the order SegmentData.postings consults them:
        # per-query memo, process-wide decoded LRU, tmpfs files, decode
        tr.count("wand.postings_calls")
        if (field, term) in self._decoded:
            tr.count("wand.postings_memo")
            return orig_postings(self, field, term)
        if self._cache_key is not None:
            seen_pairs.add((self._cache_key[:2], field, term))
        tls = tr._tls
        tls.shm, tls.decoded_here, tls.in_postings = None, False, True
        try:
            out = orig_postings(self, field, term)
        finally:
            tls.in_postings = False
        if tls.shm is None and not tls.decoded_here:
            tr.count("wand.postings_decoded_hit")
        elif tls.shm:
            tr.count("wand.postings_shm_hit")
        else:
            # a tmpfs miss, decoded (or an empty list, nothing to decode)
            tr.count("wand.postings_shm_miss")
        return out

    patch(SD, "postings", _wrap(tr, "wand.postings", postings_classified))
    tr.seen_pairs = seen_pairs

    shm_get = wand._shm_get

    def shm_get_counted(gkey):
        out = shm_get(gkey)
        if getattr(tr._tls, "in_postings", False):
            tr._tls.shm = out is not None
        return out

    patch(wand, "_shm_get", shm_get_counted)

    dec = codec.decode_postings

    def decode_counted(ids_vb, tfs_vb):
        tr._tls.in_decode = True
        try:
            ids, tfs = dec(ids_vb, tfs_vb)
        finally:
            tr._tls.in_decode = False
        if getattr(tr._tls, "in_postings", False):
            tr._tls.decoded_here = True
        tr.count("wand.postings_decoded", len(ids))
        tr.count("wand.decode_calls")
        return ids, tfs

    patch(codec, "decode_postings", _wrap(tr, "wand.decode", decode_counted))

    # position streams are decoded with codec.varbyte_decode straight
    # from wand (codec.decode_positions has no serving caller); calls
    # made inside decode_postings are postings, not positions
    vdec = codec.varbyte_decode
    vdec_pos = _wrap(tr, "wand.positions_decode", vdec)

    def varbyte_split(buf):
        if getattr(tr._tls, "in_decode", False):
            return vdec(buf)
        return vdec_pos(buf)

    patch(codec, "varbyte_decode", varbyte_split)

    SEv = wand.SegmentEvaluator
    for meth in ("top_m_pruned", "top_m_phrase", "evaluate"):
        patch(SEv, meth, _wrap(tr, "wand.eval", getattr(SEv, meth)))
    return undo


def uninstall(undo: list) -> None:
    for owner, attr, orig in reversed(undo):
        setattr(owner, attr, orig)


# ---- analysis ---------------------------------------------------------


def _union_len(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        elif e > cur_e:
            cur_e = e
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[tuple]) -> dict[int, float]:
    """Span id -> its duration minus the part of its interval that its
    child spans cover (children running in parallel count once)."""
    kids: dict[int, list] = defaultdict(list)
    for sid, parent, _n, t0, t1, _q in spans:
        kids[parent].append((t0, t1))
    out = {}
    for sid, _p, _n, t0, t1, _q in spans:
        cov = [(max(a, t0), min(b, t1)) for a, b in kids.get(sid, ())
               if b > t0 and a < t1]
        out[sid] = (t1 - t0) - _union_len(cov)
    return out


def report(spans: list[tuple], top: int = 30) -> list[str]:
    """Per-layer totals: calls, inclusive seconds, self seconds."""
    st = self_times(spans)
    agg: dict[str, list] = defaultdict(lambda: [0, 0.0, 0.0])
    for sid, _p, name, t0, t1, _q in spans:
        a = agg[name]
        a[0] += 1
        a[1] += t1 - t0
        a[2] += st[sid]
    rows = sorted(agg.items(), key=lambda kv: -kv[1][2])[:top]
    lines = [f"{'layer':34s} {'calls':>8s} {'incl_s':>9s} {'self_s':>9s}"]
    for name, (n, inc, slf) in rows:
        lines.append(f"{name:34s} {n:8d} {inc:9.3f} {slf:9.3f}")
    return lines


def coverage(spans: list[tuple], t0: float, t1: float) -> float:
    """Share of [t0, t1] covered by top-level (parent 0) spans."""
    top = [(max(a, t0), min(b, t1)) for _s, p, _n, a, b, _q in spans
           if p == 0 and b > t0 and a < t1]
    return _union_len(top) / max(1e-9, t1 - t0)


def fold_event_log(paths: list[str], tr: Tracer,
                   windows: list[tuple[float, float]]) -> dict[str, float]:
    """Sum Spark stage metrics of the stages submitted inside any of
    ``windows`` (perf_counter intervals of build spans)."""
    names = {
        "internal.metrics.executorCpuTime": "cpu_ns",
        "internal.metrics.jvmGCTime": "gc_ms",
        "internal.metrics.shuffle.write.bytesWritten": "shuffle_write_b",
        "internal.metrics.diskBytesSpilled": "disk_spill_b",
        "internal.metrics.memoryBytesSpilled": "mem_spill_b",
    }
    wins = [(tr.wall_ms(a), tr.wall_ms(b)) for a, b in windows]
    out = {v: 0.0 for v in names.values()}
    out["stages"] = 0
    for path in paths:
        with open(path) as fh:
            for line in fh:
                if '"SparkListenerStageCompleted"' not in line:
                    continue
                info = json.loads(line).get("Stage Info", {})
                sub = info.get("Submission Time")
                if sub is None or not any(a <= sub <= b for a, b in wins):
                    continue
                out["stages"] += 1
                for acc in info.get("Accumulables", []):
                    key = names.get(acc.get("Name"))
                    if key:
                        try:
                            out[key] += float(acc.get("Value", 0))
                        except (TypeError, ValueError):
                            pass
    return out
