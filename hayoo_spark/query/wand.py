"""Per-segment DAAT evaluator with block-max pruning — the query core.

Runs once per index segment, through ``engine.evaluate_segment``: on
the driver in local mode, or inside a fanned-out Spark task in spark
mode (SURVEY.md §3.1 Spark equivalent).  Either way the caller holds
the query AST, the per-term idf map (global stats) and the top-m
budget; the evaluator decodes the segment's posting lists, evaluates
document-at-a-time, and emits the segment-local top-m, which is then
merged globally.

Decoded posting lists and prepared doc tables are cached in process
memory only (``_POSTINGS_CACHE``, ``_DOCS_CACHE``), as Hunt serves from
indexes held in its own memory: each process, spark-mode python workers
included, decodes into its own LRU and shares nothing with the others.

Block-max pruning (the north rule's WAND requirement, vectorized):
posting blocks carry exact per-block upper bounds ``idf * max_tf_norm``
(index/codec.py).  For a flat OR/term query the doc-id space is cut at
the union of all block boundaries into elementary intervals; each
interval's bound is the sum of covering blocks' bounds.  Intervals are
scored best-bound-first and scoring stops as soon as the next bound is
below the current k-th score (θ) — provably exact, verified ≡
exhaustive scoring in tests.  This trades the classic pointer-chasing
WAND loop for batch pruning, which is the right shape for Python
(numpy batches, no per-posting Python).

All scoring is float64; ties broken by url ascending (FIXTURES.md §3).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from ..index import codec
from . import plan as P


import os as _os
import threading

_DOCS_CACHE: dict[str, "SegmentDocs"] = {}
_DOCS_CACHE_MAX = int(_os.environ.get("HAYOO_DOCS_CACHE_SEGMENTS", "64"))
_DOCS_CACHE_LOCK = threading.Lock()


def ensure_docs_cache_capacity(n_segments: int) -> None:
    """Grow the per-process docs cache so one engine's full segment set
    fits.  A cap below the segment count makes EVERY warm query a full
    parquet re-read of the evicted segments (measured at 10M/128
    segments: warm p50 7.4 s vs ~0.1 s expected — the 64-entry default
    fit the 64-segment layouts by luck).  Grows only, never shrinks; an
    explicit HAYOO_DOCS_CACHE_SEGMENTS override wins."""
    global _DOCS_CACHE_MAX
    if "HAYOO_DOCS_CACHE_SEGMENTS" in _os.environ:
        return
    with _DOCS_CACHE_LOCK:
        _DOCS_CACHE_MAX = max(_DOCS_CACHE_MAX, int(n_segments) + 8)

# decoded posting lists survive across queries (hot query terms), in
# this process only: key = SegmentData cache key + (field, term) or
# ("posflat", field, term) -> tuple of read-only arrays.  LRU over the
# insertion-ordered dict: a hit moves its key to the back, eviction
# pops the front.
_POSTINGS_CACHE: dict[tuple, tuple] = {}
_POSTINGS_CACHE_MAX = 8192
_POSTINGS_CACHE_LOCK = threading.Lock()


def _decoded_get(gkey: tuple) -> tuple | None:
    """The cached decode for ``gkey`` (touched as most recent), or None."""
    with _POSTINGS_CACHE_LOCK:
        hit = _POSTINGS_CACHE.pop(gkey, None)
        if hit is not None:
            _POSTINGS_CACHE[gkey] = hit
    return hit


def _decoded_put(gkey: tuple, out: tuple) -> None:
    """Cache a decode, evicting the least recently used entry at the cap."""
    with _POSTINGS_CACHE_LOCK:
        if len(_POSTINGS_CACHE) >= _POSTINGS_CACHE_MAX:
            _POSTINGS_CACHE.pop(next(iter(_POSTINGS_CACHE)))
        _POSTINGS_CACHE[gkey] = out


def _shm_get(gkey: tuple) -> None:
    """Always None; nothing in the program calls it.  Decoded postings
    live only in this process's ``_POSTINGS_CACHE``.  Kept only because
    the benchmark's tracer (perfbench/spans.py) wraps this name to
    classify postings lookups, until that tracer reads in-program
    counters instead (ROADMAP direction 4)."""
    return None


#: cost-based router floor (r5): below this many candidate postings in
#: a segment, one vectorized exhaustive pass + partial-select cut beats
#: the interval bound loop outright — the loop's per-batch numpy-call
#: overhead only amortizes on big lists (measured: at ~19k postings/
#: segment the loop is ~1.5x slower; the crossover sits around 64k).
#: Cluster-scale segments (millions of docs) sail past this and prune.
EXHAUSTIVE_POSTINGS = 1 << 16


def _isect_sorted(a: np.ndarray, b: np.ndarray,
                  indices: bool = False):
    """Intersection of two SORTED-UNIQUE int arrays via searchsorted —
    no argsort of the concatenation (np.intersect1d's plan), which
    dominated the heavy-phrase profile at 3M docs.  With
    ``indices=True`` returns (common, idx_a, idx_b) like
    np.intersect1d(..., return_indices=True)."""
    if len(a) > len(b):
        if indices:
            common, ib, ia = _isect_sorted(b, a, indices=True)
            return common, ia, ib
        return _isect_sorted(b, a)
    idx = np.searchsorted(b, a)
    ok = idx < len(b)
    ok[ok] = b[idx[ok]] == a[ok]
    if indices:
        ia = np.flatnonzero(ok)
        return a[ok], ia, idx[ia]
    return a[ok]


class SegmentDocs:
    """Prepared (doc_id-ordered) view of one segment's doc table,
    backed by Arrow columns.

    ``dls`` holds one float64 document-length array per index field
    (docs store one ``dl_<field>`` column per field — BM25F norms are
    per field).  A plain ``dl`` column is accepted as field "text".

    String columns stay Arrow until a consumer actually needs python
    objects: the 10M grouped-map profile showed 79% of worker time in
    docs loads, and most of each load was `to_pandas` + object-dtype
    conversion of 78k urls whose only per-query use is a 20-row take
    for the result projection.  Numerics are zero-copy views."""

    __slots__ = ("n_docs", "urls_monotone", "_url_arr", "_lang_arr",
                 "_urls", "_langs", "_langs_lc", "_urls_lc",
                 "_url_arr_lc", "_lang_arr_lc",
                 "warc_ts", "dls", "boost", "max_boost", "extra")

    _KNOWN = ("doc_id", "url", "lang", "warc_ts", "boost", "dl")

    def __init__(self, src):
        import pyarrow as pa

        if isinstance(src, pd.DataFrame):
            tb = pa.Table.from_pandas(src, preserve_index=False)
        else:
            tb = src
        # builder invariant: rows are written doc_id-ascending per
        # segment — VERIFY (one int pass) instead of paying an
        # unconditional sort copy of every column
        did = tb.column("doc_id").to_numpy()
        if len(did) > 1 and (np.diff(did) < 0).any():
            tb = tb.take(pa.array(np.argsort(did, kind="stable")))
        self.n_docs = tb.num_rows
        cols = tb.column_names
        # declared date contexts (and any future stored fields) ride as
        # extra doc columns, exposed for range filtering by field name
        self.extra = {c: tb.column(c).to_numpy(zero_copy_only=False)
                      for c in cols
                      if c not in self._KNOWN and not c.startswith("dl_")}
        self._url_arr = tb.column("url").combine_chunks()
        self._lang_arr = tb.column("lang").combine_chunks()
        self._urls = None
        self._langs = None
        # builder invariant: doc_id is assigned url-ascending within a
        # segment (prepare_docs w_seg), so url tie-breaks can use the
        # INTEGER doc_id order instead of object-dtype url sorts.
        # Verified per segment at load (indexes from other writers may
        # not hold it) — one Arrow C++ pass, no python strings.
        if self.n_docs <= 1:
            self.urls_monotone = True
        else:
            import pyarrow.compute as pc
            a = self._url_arr
            mono = pc.all(pc.greater_equal(a.slice(1),
                                           a.slice(0, len(a) - 1)))
            self.urls_monotone = bool(mono.as_py())
        # filter comparisons are case-insensitive on BOTH sides (the
        # oracle and the docs-scan path lowercase the stored value;
        # mixed-case data must match identically here — ADVICE r1).
        # Lowercased LAZILY on first filter query (then cached with the
        # SegmentDocs): eager str.lower over every url was ~40% of the
        # per-segment docs-load cost that gates cold queries at 3M.
        self._langs_lc = None
        self._urls_lc = None
        self._url_arr_lc = None
        self._lang_arr_lc = None
        self.warc_ts = tb.column("warc_ts").to_numpy(
            zero_copy_only=False)
        self.dls = {c[3:]: tb.column(c).to_numpy(
                        zero_copy_only=False).astype(np.float64,
                                                     copy=False)
                    for c in cols if c.startswith("dl_")}
        if not self.dls and "dl" in cols:
            self.dls = {"text": tb.column("dl").to_numpy(
                zero_copy_only=False).astype(np.float64, copy=False)}
        # per-document static weight (adWght analogue); absent on
        # indexes built before the column existed -> 1.0
        if "boost" in cols:
            self.boost = tb.column("boost").to_numpy(
                zero_copy_only=False).astype(np.float64, copy=False)
        else:
            self.boost = np.ones(self.n_docs, np.float64)
        self.max_boost = float(self.boost.max()) if self.n_docs else 1.0

    @property
    def urls(self) -> np.ndarray:
        if self._urls is None:
            self._urls = self._url_arr.to_numpy(zero_copy_only=False)
        return self._urls

    @property
    def langs(self) -> np.ndarray:
        if self._langs is None:
            self._langs = self._lang_arr.to_numpy(zero_copy_only=False)
        return self._langs

    def url_take(self, ids) -> np.ndarray:
        """urls[ids] without materializing the full object array —
        the per-query result projection touches ≤ m rows."""
        if self._urls is not None:
            return self._urls[ids]
        import pyarrow as pa
        return self._url_arr.take(
            pa.array(np.asarray(ids, np.int64))).to_numpy(
                zero_copy_only=False)

    def filter_eq_lc(self, kind: str, term: str) -> np.ndarray:
        """Case-insensitive equality mask (lang:/url: filters) computed
        ARROW-SIDE — no python string materialization.  The object-array
        variant poisoned long-lived workers: each cached 78k-element
        object array is a gc-tracked container, so every gen-2
        collection walked O(cached segments × n_docs) pointers and
        per-eval latency grew linearly with worker cache occupancy
        (measured 18 ms → 830 ms over 5 reps at 10M/128 segments).
        The LOWERED Arrow array is memoized per column (ADVICE r6): it
        stays gc-invisible (Arrow buffer, not object array) while hot
        lang:/url: filters skip the repeated full-column lower pass."""
        import pyarrow.compute as pc
        if kind == "url":
            if self._url_arr_lc is None:
                self._url_arr_lc = pc.utf8_lower(self._url_arr)
            low = self._url_arr_lc
        else:
            if self._lang_arr_lc is None:
                self._lang_arr_lc = pc.utf8_lower(self._lang_arr)
            low = self._lang_arr_lc
        mask = pc.fill_null(pc.equal(low, term.lower()), False)
        return mask.to_numpy(zero_copy_only=False)

    @property
    def langs_lc(self) -> np.ndarray:
        if self._langs_lc is None:
            self._langs_lc = pd.Series(self.langs).str.lower(
                ).to_numpy(object)
        return self._langs_lc

    @property
    def urls_lc(self) -> np.ndarray:
        if self._urls_lc is None:
            self._urls_lc = pd.Series(self.urls).str.lower(
                ).to_numpy(object)
        return self._urls_lc


def docs_loaded(docs_root: str, segment: int) -> bool:
    """True if the segment's doc table is already in the process cache
    (lets callers split I/O prefetch from GIL-bound evaluation)."""
    path = f"{docs_root}/segment={segment}"
    try:
        key = (path, _os.path.getmtime(path))
    except OSError:
        return False
    with _DOCS_CACHE_LOCK:
        return key in _DOCS_CACHE


def load_segment_docs(docs_root: str, segment: int) -> SegmentDocs:
    """Read one segment's doc table (norms + metadata) via pyarrow,
    prepared and cached in this process's ``_DOCS_CACHE`` LRU — python
    workers are reused across queries, so repeated searches skip both
    read and sort."""
    import pyarrow.parquet as pq

    path = f"{docs_root}/segment={segment}"
    # mtime in the key invalidates the cache when an incremental update
    # rebuilds the segment
    key = (path, _os.path.getmtime(path))
    with _DOCS_CACHE_LOCK:
        hit = _DOCS_CACHE.get(key)
        if hit is not None:
            # LRU touch: eviction pops the front of the insertion-ordered
            # dict, so a hit must move its key to the back
            _DOCS_CACHE[key] = _DOCS_CACHE.pop(key)
    if hit is not None:
        return hit
    # read every stored column: dl_* norms, boost, and any declared
    # date-context columns all live in the doc table
    tb = pq.read_table(path)
    sd = SegmentDocs(tb)
    with _DOCS_CACHE_LOCK:
        if len(_DOCS_CACHE) >= _DOCS_CACHE_MAX:
            _DOCS_CACHE.pop(next(iter(_DOCS_CACHE)))
        _DOCS_CACHE[key] = sd
    return sd


class SegmentData:
    """Decoded view of one segment: postings per term + doc metadata.

    ``cache_key`` (postings root, segment, postings-dir mtime, avgdl
    items; SearchEngine._load builds it) enables the cross-query
    decoded postings cache — hot terms skip varbyte decode + salt
    merge."""

    def __init__(self, docs, cache_key: tuple | None = None,
                 raw: dict[tuple[str, str], list] | None = None):
        if isinstance(docs, pd.DataFrame):
            docs = SegmentDocs(docs)
        self.n_docs = docs.n_docs
        self.urls_monotone = getattr(docs, "urls_monotone", False)
        self._docs = docs  # string views resolved lazily (see below)
        self.warc_ts = docs.warc_ts
        self.dls = docs.dls
        self.boost = docs.boost
        self.max_boost = docs.max_boost
        self.extra = getattr(docs, "extra", {})
        self._cache_key = cache_key
        # raw posting rows (engine.read_postings), keyed (field, term)
        self._raw: dict[tuple[str, str], list] = dict(raw) if raw else {}
        self._decoded: dict[tuple, tuple] = {}

    @property
    def urls(self) -> np.ndarray:
        return self._docs.urls

    @property
    def langs(self) -> np.ndarray:
        return self._docs.langs

    def url_take(self, ids) -> np.ndarray:
        return self._docs.url_take(ids)

    def filter_eq_lc(self, kind: str, term: str) -> np.ndarray:
        return self._docs.filter_eq_lc(kind, term)

    @property
    def langs_lc(self) -> np.ndarray:
        return self._docs.langs_lc

    @property
    def urls_lc(self) -> np.ndarray:
        return self._docs.urls_lc

    def postings(self, field: str, term: str):
        """(doc_ids int64 sorted, tfs int64, block_last, block_ub) —
        salted sub-lists merged (disjoint doc sets -> concat + sort).

        Returned arrays are READ-ONLY: they are frozen before caching
        and shared by every later query through ``_POSTINGS_CACHE``, so
        an in-place mutation raises instead of corrupting a hit."""
        tkey = (field, term)
        if tkey in self._decoded:
            return self._decoded[tkey]
        gkey = self._cache_key + tkey if self._cache_key else None
        hit = _decoded_get(gkey) if gkey else None
        if hit is not None:
            self._decoded[tkey] = hit
            return hit
        rows = self._raw.get(tkey)
        if not rows:
            out = (np.zeros(0, np.int64), np.zeros(0, np.int64),
                   np.zeros(0, np.int64), np.zeros(0, np.float64))
        elif len(rows) == 1:
            r = rows[0]
            ids, tfs = codec.decode_postings(r.ids_vb, r.tfs_vb)
            out = (ids.astype(np.int64), tfs.astype(np.int64),
                   np.asarray(r.block_last, np.int64),
                   np.asarray(r.block_ub, np.float64))
        else:
            # salted heavy term: sub-lists hold disjoint doc sets; merge
            # them and REBUILD block metadata (concatenating per-salt
            # blocks would interleave doc-id ranges and break the
            # searchsorted interval bounds in top_m_pruned)
            ids_l, tfs_l = [], []
            for r in rows:
                ids, tfs = codec.decode_postings(r.ids_vb, r.tfs_vb)
                ids_l.append(ids.astype(np.int64))
                tfs_l.append(tfs.astype(np.int64))
            ids = np.concatenate(ids_l)
            tfs = np.concatenate(tfs_l)
            order = np.argsort(ids, kind="stable")
            ids, tfs = ids[order], tfs[order]
            blast, bub = codec.block_maxes(ids, tfs, self.dls[field][ids],
                                           self._avgdl[field])
            out = (ids, tfs, blast, bub)
        for a in out:
            a.flags.writeable = False  # shared across queries (ADVICE r6)
        self._decoded[tkey] = out
        if gkey:
            _decoded_put(gkey, out)
        return out

    def _pos_index(self, field: str, term: str):
        """Per-sub-list position storage: (ids, flat_positions, offsets).
        The flat varbyte buffer is decoded ONCE (vectorized); per-doc
        slices are cut on demand — no per-doc Python decode loop."""
        key = ("pos", field, term)
        if key in self._decoded:
            return self._decoded[key]
        subs = []
        for r in self._raw.get((field, term), []):
            ids, tfs = codec.decode_postings(r.ids_vb, r.tfs_vb)
            flat = codec.varbyte_decode(r.pos_vb)
            offs = np.concatenate(([0], np.cumsum(tfs.astype(np.int64))))
            subs.append((ids.astype(np.int64), flat, offs))
        self._decoded[key] = subs
        return subs

    def positions_flat(self, field: str, term: str,
                       ) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        """Run-length position store: ``(ids, offs, pos)`` — doc ids
        (one per run, concatenated sub-lists), run boundaries into
        ``pos`` (len(ids)+1), and every absolute position.  Segmented
        delta->absolute decode is a single global cumsum with per-doc
        base correction: zero per-doc Python.  Run-length (not a
        repeated doc column) keeps the heavy-term decode to TWO
        stream-sized passes — the 3M cold-phrase profile showed the
        occurrence-granularity doc_rep repeat dominating."""
        key = ("posflat", field, term)
        if key in self._decoded:
            return self._decoded[key]
        gkey = self._cache_key + key if self._cache_key else None
        hit = _decoded_get(gkey) if gkey else None
        if hit is not None:
            self._decoded[key] = hit
            return hit
        id_parts, tf_parts, pos_parts = [], [], []
        for ids, flat, offs in self._pos_index(field, term):
            if len(flat) == 0:
                continue
            g = np.cumsum(flat, dtype=np.int64)
            tfs = np.diff(offs)
            # per-doc base = running total just before the doc's first
            # occurrence; offs[0] is always 0, every later offset is
            # positive, so only the first slot needs the zero special
            # case (no where/maximum passes over the full array)
            prev = np.empty(len(tfs), np.int64)
            prev[0] = 0
            prev[1:] = g[offs[1:-1] - 1]
            abs_pos = g - np.repeat(prev, tfs)
            id_parts.append(ids)
            tf_parts.append(tfs)
            pos_parts.append(abs_pos)
        if id_parts:
            tfs_all = np.concatenate(tf_parts)
            out = (np.concatenate(id_parts),
                   np.concatenate(([0], np.cumsum(tfs_all))),
                   np.concatenate(pos_parts))
        else:
            out = (np.zeros(0, np.int64), np.zeros(1, np.int64),
                   np.zeros(0, np.int64))
        for a in out:
            a.flags.writeable = False  # shared across queries (ADVICE r6)
        self._decoded[key] = out
        if gkey:
            _decoded_put(gkey, out)
        return out

    def _raw_postings(self, field: str, term: str):
        """Per-sub-list decoded (ids, tfs, row) — memoized so repeated
        selective position reads (chunked phrase verify) decode the
        posting arrays once per SegmentData."""
        key = ("rawpt", field, term)
        hit = self._decoded.get(key)
        if hit is None:
            hit = []
            for r in self._raw.get((field, term), []):
                ids, tfs = codec.decode_postings(r.ids_vb, r.tfs_vb)
                hit.append((ids.astype(np.int64), tfs.astype(np.int64), r))
            self._decoded[key] = hit
        return hit

    @staticmethod
    def _member_mask(ids: np.ndarray, cand: np.ndarray) -> np.ndarray:
        """Boolean mask over sorted `ids` marking members of sorted
        `cand` — O(|cand| log |ids|) searchsorted, not isin."""
        idx = np.searchsorted(ids, cand)
        ok = idx < len(ids)
        ok[ok] = ids[idx[ok]] == cand[ok]
        mask = np.zeros(len(ids), dtype=bool)
        mask[idx[ok]] = True
        return mask

    def positions_for(self, field: str, term: str, cand: np.ndarray):
        """(doc_rep, abs_pos) restricted to candidate doc ids (sorted).

        Decodes ONLY the position blocks containing candidates using the
        stored per-block byte offsets (``block_pos_off``) — a phrase
        over selective terms touches a handful of blocks instead of the
        term's whole position stream.  When candidates span most of the
        blocks (heavy phrases), the cross-query-cached full decode
        (positions_flat) is cheaper than block slicing and is used
        instead.  Rows lacking offsets (legacy layout) full-decode."""
        if cand.size == 0:
            return np.zeros(0, np.int64), np.zeros(0, np.int64)
        rows = self._raw_postings(field, term)
        if not rows:
            return np.zeros(0, np.int64), np.zeros(0, np.int64)
        # an already-decoded position stream (this query's earlier
        # chunks, a previous query, or warm(positions_top=...)) makes
        # the filtered full stream strictly cheaper than re-slicing
        # blocks — never decode twice what is already in cache
        fkey = ("posflat", field, term)
        if fkey in self._decoded or (
                self._cache_key
                and _decoded_get(self._cache_key + fkey) is not None):
            return self._filter_flat(field, term, cand)
        # strategy choice: selective block slicing pays off only when
        # candidates touch a minority of blocks in every sub-list;
        # otherwise the cross-query-cached full decode + filter wins
        plan = []
        dense = False
        for ids, tfs, r in rows:
            present = self._member_mask(ids, cand)
            off = getattr(r, "block_pos_off", None)
            blast = np.asarray(r.block_last, np.int64)
            if not present.any():
                continue
            if off is None or len(off) != len(blast):
                dense = True
                break
            blocks = np.unique(
                np.searchsorted(blast, ids[present], side="left"))
            if len(blocks) * 3 > len(blast):
                dense = True
                break
            plan.append((ids, tfs, r, np.asarray(off, np.int64), blast, blocks))
        if dense:
            return self._filter_flat(field, term, cand)
        doc_parts, pos_parts = [], []
        for ids, tfs, r, off, blast, blocks in plan:
            buf = bytes(r.pos_vb)
            ends = np.concatenate((off[1:], [len(buf)]))
            # block index boundaries in posting order
            bstarts = np.concatenate(
                ([0], np.searchsorted(ids, blast, side="right")))
            sel = b"".join(buf[off[b]:ends[b]] for b in blocks)
            sel_idx = np.concatenate(
                [np.arange(bstarts[b], bstarts[b + 1]) for b in blocks])
            s_ids, s_tfs = ids[sel_idx], tfs[sel_idx]
            flat = codec.varbyte_decode(sel)
            # segmented delta->absolute: global cumsum minus the running
            # base at each doc start (spans are independent per doc)
            offs = np.concatenate(([0], np.cumsum(s_tfs)))
            g = np.cumsum(flat.astype(np.int64))
            prev = np.where(offs[:-1] > 0, g[np.maximum(offs[:-1] - 1, 0)], 0)
            abs_pos = g - np.repeat(prev, s_tfs)
            keep = self._member_mask(s_ids, cand)
            doc_parts.append(np.repeat(s_ids[keep], s_tfs[keep]))
            pos_parts.append(abs_pos[np.repeat(keep, s_tfs)])
        if doc_parts:
            return np.concatenate(doc_parts), np.concatenate(pos_parts)
        return np.zeros(0, np.int64), np.zeros(0, np.int64)

    def _member_mask_rep(self, docs_r: np.ndarray, cand: np.ndarray):
        """Membership mask for a (possibly unsorted) repeated doc-id
        vector against sorted `cand`."""
        idx = np.searchsorted(cand, docs_r)
        ok = idx < len(cand)
        ok[ok] = cand[idx[ok]] == docs_r[ok]
        return ok

    def _filter_flat(self, field: str, term: str, cand: np.ndarray):
        """Occurrence stream restricted to `cand` docs, cut from the
        run-length posflat store.  Membership runs at DOC granularity
        (df-sized), and every materialized array is sized to the
        FILTERED subset — a chunked phrase verify over a heavy term no
        longer pays a Σtf-sized pass per chunk."""
        ids_all, offs, pos = self.positions_flat(field, term)
        if len(ids_all) == 0:
            return np.zeros(0, np.int64), np.zeros(0, np.int64)
        keep = self._member_mask_rep(ids_all, cand)
        starts = offs[:-1][keep]
        lens = offs[1:][keep] - starts
        total = int(lens.sum())
        if total == 0:
            return np.zeros(0, np.int64), np.zeros(0, np.int64)
        # vectorized multi-range gather: arange over the output with a
        # per-run base shift
        shift = np.concatenate(([0], np.cumsum(lens[:-1])))
        idx = np.arange(total, dtype=np.int64) + np.repeat(starts - shift,
                                                           lens)
        return np.repeat(ids_all[keep], lens), pos[idx]

    def term_scores(self, field: str, term: str, idf: float):
        """Per-posting scores incl. the per-document static boost
        (score = query_boost x field_weight x idf x tf_norm x doc_boost,
        SURVEY §2.6 / BM25F) — field weight applied by the caller."""
        ids, tfs, _, _ = self.postings(field, term)
        norms = codec.tf_norm(tfs, self.dls[field][ids], self._avgdl[field])
        return ids, idf * norms * self.boost[ids]

    _avgdl: dict = {"text": 1.0}  # set by evaluator (field -> avgdl)


def _leaf_class(node: P.Node, weights: dict):
    """Classify one AST node for the pruned planner:

    - ``('score', (field|None, term, boost))`` — a BM25-scoring leaf
      (field None = unscoped, expands over the default field set);
    - ``('filter', node)`` — a zero-score match restriction: lang:/url:
      metadata, a range filter, a weight-0 context (the reference's
      filter contexts, IndexSchema.hs:119), or an unknown field (whose
      match set is empty — annihilates an AND exactly like evaluate());
    - ``('phrase', node)`` — a positional leaf;
    - None — not a leaf (nested boolean etc.)."""
    if isinstance(node, P.Term):
        if node.field == P.DEFAULT_FIELD:
            return "score", (None, node.term, node.boost)
        w = weights.get(node.field)
        if w is not None and w > 0:
            return "score", (node.field, node.term, node.boost)
        return "filter", node
    if isinstance(node, P.RangeFilter):
        return "filter", node
    if isinstance(node, P.Phrase):
        return "phrase", node
    return None


def _flat_terms(node: P.Node, weights: dict):
    """Plan shape for the block-max pruned path.

    -> ``(kind, leaves, filters, phrases)`` or None:

    - ``('or', [(field|None, term, boost), ...], (), ())`` — a single
      scoring term or a flat OR of scoring terms (field-scoped leaves
      included — the per-field block-max metadata makes their bounds
      admissible);
    - ``('and', groups, filters, phrases)`` — a flat AND whose children
      are scoring leaves, flat OR-of-scoring-leaves groups, pure
      filters (inclusion sets) and/or phrases.  ``groups`` is a list of
      leaf lists: doc set = union within a group, intersect across
      groups (the evaluate() semantics).

    Previously only unscoped text-term trees qualified; field-scoped
    terms (``name:mapM``), filter-combined queries (``mapM AND
    lang:en``), the canned drill-downs (``package:base AND
    type:module``) and phrases under booleans all fell back to
    exhaustive evaluation — linear in posting length, the one
    scale-killer left in the query engine (VERDICT r4 #1)."""
    c = _leaf_class(node, weights)
    if c is not None:
        if c[0] == "score":
            return "or", [c[1]], (), ()
        return None  # bare filter / bare phrase: other paths own these
    if isinstance(node, P.Or) and node.children:
        leaves = []
        for ch in node.children:
            cc = _leaf_class(ch, weights)
            if cc is None or cc[0] != "score":
                return None
            leaves.append(cc[1])
        return "or", leaves, (), ()
    if isinstance(node, P.And) and node.children:
        groups, filters, phrases = [], [], []
        for ch in node.children:
            cc = _leaf_class(ch, weights)
            if cc is None:
                if isinstance(ch, P.Or) and ch.children:
                    sub = []
                    for g in ch.children:
                        gc = _leaf_class(g, weights)
                        if gc is None or gc[0] != "score":
                            return None
                        sub.append(gc[1])
                    groups.append(sub)
                    continue
                return None
            if cc[0] == "score":
                groups.append([cc[1]])
            elif cc[0] == "filter":
                filters.append(cc[1])
            else:
                phrases.append(cc[1])
        if not groups and not phrases:
            return None  # pure-filter AND: needs the sentinel path
        return "and", groups, tuple(filters), tuple(phrases)
    return None


def _flat_with_not(node: P.Node, weights: dict):
    """-> (flat, exclude_node): a flat query, or AndNot whose LEFT is
    flat — the right side becomes the pruned path's exclusion set (an
    exhaustive evaluation of the heavy left side just to subtract a
    usually-small match set was the last unpruned query shape)."""
    flat = _flat_terms(node, weights)
    if flat is not None:
        return flat, None
    if isinstance(node, P.AndNot):
        inner = _flat_terms(node.left, weights)
        if inner is not None:
            return inner, node.right
    return None, None


def _norm3(leaf):
    """Accept legacy 2-tuple ``(term, boost)`` leaves (tests, older
    callers) as unscoped 3-tuples."""
    return (None, leaf[0], leaf[1]) if len(leaf) == 2 else tuple(leaf)


def _union_sum(all_ids: list, all_sc: list):
    """Union doc-id lists, summing scores (vectorized OR combine)."""
    cat = np.concatenate(all_ids) if all_ids else np.zeros(0, np.int64)
    if cat.size == 0:
        return np.zeros(0, np.int64), np.zeros(0)
    uniq, inv = np.unique(cat, return_inverse=True)
    acc = np.zeros(len(uniq))
    np.add.at(acc, inv, np.concatenate(all_sc))
    return uniq.astype(np.int64), acc


class SegmentEvaluator:
    """Field-aware DAAT evaluation (BM25F): an unscoped term scores the
    union of default fields, ``field:term`` scores one field, and every
    contribution is scaled by the field's schema weight (weight 0 =
    match-only, the reference's filter contexts)."""

    def __init__(self, seg: SegmentData, idf: dict, avgdl,
                 ub_scale=1.0, weights: dict | None = None,
                 default_fields: tuple[str, ...] = ("text",),
                 date_fields: tuple[str, ...] = ()):
        self.date_fields = date_fields
        self.seg = seg
        # single-field back-compat: scalar avgdl / str-keyed idf maps
        if not isinstance(avgdl, dict):
            avgdl = {f: avgdl for f in (seg.dls or {"text": None})}
        if idf and not isinstance(next(iter(idf)), tuple):
            idf = {("text", t): v for t, v in idf.items()}
        self.idf = idf
        seg._avgdl = avgdl
        self.avgdl = avgdl
        self.weights = weights if weights is not None else \
            {f: 1.0 for f in avgdl}
        self.default_fields = tuple(
            f for f in default_fields if f in self.weights)
        # PER-FIELD admissibility factors for stored block bounds when
        # corpus stats moved since encode (incremental updates); all 1.0
        # for fresh builds.  A scalar is broadcast (back-compat).
        if not isinstance(ub_scale, dict):
            ub_scale = {f: float(ub_scale) for f in avgdl}
        self.ub_scale = ub_scale

    # ---------- generic exhaustive evaluation (full query surface) ----------

    def _default_term(self, term: str, boost: float):
        parts_ids, parts_sc = [], []
        for f in self.default_fields:
            ids, sc = self.seg.term_scores(f, term,
                                           self.idf.get((f, term), 0.0))
            if ids.size:
                parts_ids.append(ids)
                parts_sc.append(boost * self.weights[f] * sc)
        if len(parts_ids) == 1:
            # single contributing field (every single-field index):
            # posting ids are already unique + sorted — the union's
            # unique/argsort over them was ~40% of heavy-term time at 3M
            return parts_ids[0], parts_sc[0]
        return _union_sum(parts_ids, parts_sc)

    def evaluate(self, node: P.Node):
        """-> (doc_ids int64 sorted asc, scores float64)."""
        s = self.seg
        if isinstance(node, P.Term):
            if node.field == P.DEFAULT_FIELD:
                return self._default_term(node.term, node.boost)
            if node.field in self.weights:
                ids, sc = s.term_scores(
                    node.field, node.term,
                    self.idf.get((node.field, node.term), 0.0))
                return ids, node.boost * self.weights[node.field] * sc
            if node.field == "lang":
                ids = np.flatnonzero(
                    s.filter_eq_lc("lang", node.term)).astype(np.int64)
                return ids, np.zeros(len(ids))
            if node.field == "url":
                ids = np.flatnonzero(
                    s.filter_eq_lc("url", node.term)).astype(np.int64)
                return ids, np.zeros(len(ids))
            return np.zeros(0, np.int64), np.zeros(0)
        if isinstance(node, P.RangeFilter):
            if node.field in self.date_fields:
                # declared date context: truncatable ISO-prefix endpoints
                # each cover their whole period (IndexSchema.hs:133-137)
                plo, phi = P.iso_prefix_bounds(node.lo, node.hi)
                lo, hi = np.datetime64(plo), np.datetime64(phi)
                arr = s.extra.get(node.field)
                if arr is None and node.field == "warc_ts":
                    # a date context SOURCED from the known warc_ts doc
                    # column keeps its own name out of `extra` (the
                    # column is already materialized) — serve it from
                    # the typed array instead of silently matching
                    # nothing (ADVICE r3)
                    arr = s.warc_ts
                if arr is None:
                    return np.zeros(0, np.int64), np.zeros(0)
            elif node.field in P.RANGE_FIELDS:
                # legacy warc_ts range: raw [lo, hi) instants
                lo = np.datetime64(pd.Timestamp(node.lo))
                hi = np.datetime64(pd.Timestamp(node.hi))
                arr = s.warc_ts
            else:
                return np.zeros(0, np.int64), np.zeros(0)
            mask = (arr >= lo) & (arr < hi)
            ids = np.flatnonzero(mask).astype(np.int64)
            return ids, np.zeros(len(ids))
        if isinstance(node, P.Phrase):
            return self._eval_phrase(node)
        if isinstance(node, P.And):
            if not node.children:
                return np.zeros(0, np.int64), np.zeros(0)
            ids, sc = self.evaluate(node.children[0])
            for c in node.children[1:]:
                cids, csc = self.evaluate(c)
                ids, ia, ib = np.intersect1d(ids, cids, assume_unique=True,
                                             return_indices=True)
                sc = sc[ia] + csc[ib]
            return ids, sc
        if isinstance(node, P.Or):
            if len(node.children) == 1:
                return self.evaluate(node.children[0])
            all_ids, all_sc = [], []
            for c in node.children:
                cids, csc = self.evaluate(c)
                all_ids.append(cids)
                all_sc.append(csc)
            return _union_sum(all_ids, all_sc)
        if isinstance(node, P.AndNot):
            lids, lsc = self.evaluate(node.left)
            rids, _ = self.evaluate(node.right)
            keep = ~np.isin(lids, rids, assume_unique=True)
            return lids[keep], lsc[keep]
        raise TypeError(f"unknown node {node!r}")

    def _eval_phrase(self, node: P.Phrase):
        """Phrase over its field set (default fields when unscoped, the
        named field when scoped): adjacency is evaluated WITHIN each
        field (a phrase cannot span fields); a doc's score sums the
        weighted contributions of every field it matched in."""
        parts_ids, parts_sc = [], []
        fields = (self.default_fields if node.field == P.DEFAULT_FIELD
                  else (node.field,) if node.field in self.weights else ())
        for f in fields:
            ids, sc = self._eval_phrase_field(node, f)
            if ids.size:
                parts_ids.append(ids)
                parts_sc.append(sc)
        return _union_sum(parts_ids, parts_sc)

    def _phrase_cand(self, terms: tuple[str, ...], field: str) -> np.ndarray:
        """Docs containing every phrase term in `field` (posting-list
        intersection — no position decode)."""
        cand = None
        for t in terms:
            tids, _, _, _ = self.seg.postings(field, t)
            cand = tids if cand is None else _isect_sorted(cand, tids)
            if cand.size == 0:
                break
        return cand if cand is not None else np.zeros(0, np.int64)

    def _phrase_match_docs(self, terms: tuple[str, ...], field: str,
                           cand: np.ndarray) -> np.ndarray:
        """Subset of `cand` where the terms are ADJACENT in `field`.

        Fully vectorized: encode each occurrence of term i as key =
        doc * 2^32 + (pos - i); a phrase start survives iff its key
        appears for every member term.  Position decode is selective —
        only blocks containing `cand` docs are touched."""
        if cand.size == 0:
            return np.zeros(0, np.int64)
        keys = None
        streams: dict[str, tuple[np.ndarray, np.ndarray]] = {}
        for i, t in enumerate(terms):
            got = streams.get(t)  # self-phrases decode each term ONCE
            if got is None:
                got = streams[t] = self.seg.positions_for(field, t, cand)
            docs_r, pos_r = got
            if i > 0:
                mask = pos_r >= i
                docs_r, pos_r = docs_r[mask], pos_r[mask]
            k = np.unique(docs_r * np.int64(1 << 32) + (pos_r - i))
            keys = k if keys is None else _isect_sorted(keys, k)
            if keys.size == 0:
                return np.zeros(0, np.int64)
        return np.unique(keys >> np.int64(32)).astype(np.int64)

    def _eval_phrase_field(self, node: P.Phrase, field: str):
        s = self.seg
        if not node.terms:
            return np.zeros(0, np.int64), np.zeros(0)
        cand = self._phrase_cand(node.terms, field)
        ids = self._phrase_match_docs(node.terms, field, cand)
        if ids.size == 0:
            return np.zeros(0, np.int64), np.zeros(0)
        sc = np.zeros(len(ids))
        w = self.weights[field]
        for t in node.terms:
            tids, tsc = s.term_scores(field, t, self.idf.get((field, t), 0.0))
            _, ia, ib = _isect_sorted(ids, tids, indices=True)
            add = np.zeros(len(ids))
            add[ia] = tsc[ib]
            sc = sc + node.boost * w * add
        return ids, sc

    def top_m_phrase(self, node: P.Phrase, m: int):
        """Exact top-m for a pure phrase query, bound-ordered chunked
        verification: the per-term BM25 sum over the candidate
        intersection is an upper bound that is EXACT when adjacency
        holds (a phrase match scores precisely that sum), so verifying
        candidates in bound-descending order can stop once m docs are
        verified and the m-th verified score strictly beats the best
        unverified bound.  Heavy phrases verify ~4m docs instead of the
        whole candidate set."""
        s = self.seg
        if node.field == P.DEFAULT_FIELD:
            fields = self.default_fields
        elif node.field in self.weights:
            fields = (node.field,)
        else:
            fields = ()
        per_field = []
        for f in fields:
            cand = self._phrase_cand(node.terms, f)
            if cand.size == 0:
                continue
            sc = np.zeros(len(cand))
            for t in node.terms:
                tids, tsc = s.term_scores(f, t, self.idf.get((f, t), 0.0))
                _, ia, ib = _isect_sorted(cand, tids, indices=True)
                sc[ia] += node.boost * self.weights[f] * tsc[ib]
            per_field.append((f, cand, sc))
        if not per_field:
            return np.zeros(0, np.int64), np.zeros(0)
        all_ids = np.unique(np.concatenate([c for _, c, _ in per_field]))
        total = np.zeros(len(all_ids))
        for _, c, sc in per_field:
            total[np.searchsorted(all_ids, c)] += sc
        order = np.argsort(-total, kind="stable")

        out_ids, out_sc = [], []
        n_done = 0
        chunk = max(4 * m, 256)
        pos = 0
        while pos < len(order):
            take = order[pos : pos + chunk]
            pos += chunk
            # geometric growth: a phrase whose candidates rarely verify
            # (ubiquitous terms, scarce adjacency) must not pay the
            # per-chunk filtered-stream pass |cand|/chunk times — with
            # doubling, the exhaust-everything worst case costs
            # O(log |cand|) passes for at most 2x over-verification
            chunk = min(2 * chunk, 1 << 16)
            docs_chunk = np.sort(all_ids[take])
            chunk_sc = np.zeros(len(docs_chunk))
            chunk_hit = np.zeros(len(docs_chunk), dtype=bool)
            for f, c, sc in per_field:
                sub = _isect_sorted(docs_chunk, c)
                matched = self._phrase_match_docs(node.terms, f, sub)
                if matched.size == 0:
                    continue
                ia = np.searchsorted(docs_chunk, matched)
                ib = np.searchsorted(c, matched)
                chunk_sc[ia] += sc[ib]
                chunk_hit[ia] = True
            out_ids.append(docs_chunk[chunk_hit])
            out_sc.append(chunk_sc[chunk_hit])
            n_done += int(chunk_hit.sum())
            if n_done >= m and pos < len(order):
                allsc = np.concatenate(out_sc)
                theta = np.partition(allsc, -m)[-m]
                # strict: equal-bound docs later in the order could
                # still win an url tie-break, so only a strictly lower
                # bound is safely prunable
                if theta > total[order[pos]]:
                    break
        if not out_ids:
            return np.zeros(0, np.int64), np.zeros(0)
        ids = np.concatenate(out_ids)
        sc = np.concatenate(out_sc)
        return self._cut(ids, sc, m)

    # ---------- block-max pruned top-m (flat term queries) ----------

    @staticmethod
    def _member_of(vals: np.ndarray, sorted_ref: np.ndarray) -> np.ndarray:
        """Boolean membership of ``vals`` in sorted ``sorted_ref``."""
        idx = np.searchsorted(sorted_ref, vals)
        ok = idx < len(sorted_ref)
        ok[ok] = sorted_ref[idx[ok]] == vals[ok]
        return ok

    def _leaf_fields(self, field: str | None) -> tuple[str, ...]:
        """Fields one scoring leaf touches (None = default set)."""
        if field is None:
            return self.default_fields
        return (field,) if field in self.weights else ()

    def top_m_pruned(self, kind: str, leaves, m: int,
                     exclude: "P.Node | None" = None,
                     filters: tuple = (), phrases: tuple = ()):
        """Exact top-m for flat term queries using block upper bounds.
        Leaves are ``(field|None, term, boost)`` (legacy ``(term,
        boost)`` accepted); None expands over the default field set
        (BM25F), a named field scores that one field with its own
        block-max metadata and avgdl.

        OR: elementary-interval pruning best-bound-first (block-max WAND
        semantics, batch form).  AND: ``leaves`` is a list of GROUPS
        (doc set = union within a group, intersect across groups);
        posting-id intersection first — no scoring, no position decode —
        then exact scoring of the surviving intersection only.  Pure
        filter branches (lang:/url:/range/weight-0 contexts) become an
        INCLUSION set intersected before scoring; phrases verify
        adjacency only on the already-intersected candidate set.

        ``exclude``: an optional AST whose MATCH SET is subtracted
        while pruning (the AND NOT right side): excluded docs never
        enter the accumulator or the theta count, so the bound logic
        stays admissible and the heavy left side still prunes —
        previously any AndNot fell back to exhaustive evaluation.
        """
        s = self.seg
        empty = (np.zeros(0, np.int64), np.zeros(0))
        if kind == "and":
            groups = [[_norm3(g)] if isinstance(g, tuple)
                      else [_norm3(x) for x in g] for g in leaves]
            # cost-based route (no positions involved): on small
            # segments the evaluate() pass is cheaper than the
            # intersect-first machinery; intersection-first only pays
            # when the posting lists dwarf their intersection.  Decided
            # BEFORE touching filters/exclude — the fallback node
            # re-evaluates those itself, and paying them twice showed
            # up as a 1.5x regression on filtered scoped ANDs in the
            # 3M drill-down A/B.
            if not phrases:
                total_df = sum(
                    len(s.postings(ff, t)[0])
                    for g in groups for f, t, _ in g
                    for ff in self._leaf_fields(f))
                if total_df <= EXHAUSTIVE_POSTINGS:
                    node: P.Node = P.And(tuple(
                        [P.Term(t, field=(f if f is not None
                                          else P.DEFAULT_FIELD), boost=b)
                         for f, t, b in g][0] if len(g) == 1 else
                        P.Or(tuple(
                            P.Term(t, field=(f if f is not None
                                             else P.DEFAULT_FIELD),
                                   boost=b) for f, t, b in g))
                        for g in groups) + tuple(filters))
                    if exclude is not None:
                        node = P.AndNot(node, exclude)
                    e_ids, e_sc = self.evaluate(node)
                    return self._cut(e_ids, e_sc, m)
        ex_ids = None
        if exclude is not None:
            ex_ids, _ = self.evaluate(exclude)
            if ex_ids.size == 0:
                ex_ids = None
        # inclusion set: filters match cheaply (doc-column masks or
        # posting ids) and restrict everything downstream
        inc = None
        for fnode in filters:
            fids, _ = self.evaluate(fnode)
            inc = fids if inc is None else np.intersect1d(
                inc, fids, assume_unique=True)
            if inc.size == 0:
                return empty
        if kind == "and":
            ids = inc
            for g in groups:
                parts = []
                for f, t, _ in g:
                    for ff in self._leaf_fields(f):
                        p = s.postings(ff, t)[0]
                        if p.size:
                            parts.append(p)
                if not parts:
                    return empty
                gids = (parts[0] if len(parts) == 1
                        else np.unique(np.concatenate(parts)))
                ids = gids if ids is None else _isect_sorted(ids, gids)
                if ids.size == 0:
                    return empty
            # phrases: adjacency verified ONLY on the intersected
            # candidate set (selective position decode), matching
            # evaluate()'s per-field union semantics
            ph_matched: list[tuple] = []
            for ph in phrases:
                per_field = []
                for f in self._leaf_fields(
                        None if ph.field == P.DEFAULT_FIELD else ph.field):
                    cand = self._phrase_cand(ph.terms, f)
                    if ids is not None and cand.size:
                        cand = _isect_sorted(cand, ids)
                    matched = self._phrase_match_docs(ph.terms, f, cand)
                    if matched.size:
                        per_field.append((f, matched))
                if not per_field:
                    return empty
                u = (per_field[0][1] if len(per_field) == 1
                     else np.unique(np.concatenate(
                         [mm for _, mm in per_field])))
                ids = u if ids is None else _isect_sorted(ids, u)
                if ids.size == 0:
                    return empty
                ph_matched.append((ph, per_field))
            if ids is None or ids.size == 0:
                return empty
            if ex_ids is not None:
                ids = np.setdiff1d(ids, ex_ids, assume_unique=True)
                if ids.size == 0:
                    return empty
            sc = np.zeros(len(ids))
            for g in groups:
                for f, t, boost in g:
                    for ff in self._leaf_fields(f):
                        tids, tsc = s.term_scores(
                            ff, t, self.idf.get((ff, t), 0.0))
                        _, ia, ib = _isect_sorted(ids, tids, indices=True)
                        sc[ia] += boost * self.weights[ff] * tsc[ib]
            for ph, per_field in ph_matched:
                for f, matched in per_field:
                    mm = _isect_sorted(ids, matched)
                    if mm.size == 0:
                        continue
                    pos = np.searchsorted(ids, mm)
                    for t in ph.terms:
                        tids, tsc = s.term_scores(
                            f, t, self.idf.get((f, t), 0.0))
                        _, ia, ib = _isect_sorted(mm, tids, indices=True)
                        sc[pos[ia]] += ph.boost * self.weights[f] * tsc[ib]
            return self._cut(ids, sc, m)

        # fielded leaves: (field, term, effective boost)
        leaves3 = [_norm3(l) for l in leaves]
        fl = [(ff, t, b * self.weights[ff])
              for f, t, b in leaves3 for ff in self._leaf_fields(f)]

        # cost-based route: many-list ORs (prefix expansions — loose
        # summed bounds) and small segments (below the postings floor)
        # take the one-pass vectorized union; the bound loop only pays
        # on big discriminating lists
        total_df = sum(len(self.seg.postings(f, t)[0]) for f, t, _ in fl)
        if len(fl) > 8 or total_df <= EXHAUSTIVE_POSTINGS:
            ts = tuple(
                P.Term(t, field=(f if f is not None else P.DEFAULT_FIELD),
                       boost=b) for f, t, b in leaves3)
            node = ts[0] if len(ts) == 1 else P.Or(ts)
            ids, sc = self.evaluate(node)
            if ex_ids is not None and ids.size:
                keep = ~self._member_of(ids, ex_ids)
                ids, sc = ids[keep], sc[keep]
            return self._cut(ids, sc, m)

        # OR: build elementary intervals from the union of block boundaries
        terms = [(f, t, b, *s.postings(f, t)) for f, t, b in fl]
        terms = [t for t in terms if t[3].size > 0]
        if not terms:
            return np.zeros(0, np.int64), np.zeros(0)
        bounds = np.unique(np.concatenate([t[5] for t in terms]))  # block_last unions
        # per interval upper bound = sum over lists of covering block ub
        iv_ub = np.zeros(len(bounds))
        for f, t, boost, ids, tfs, blast, bub in terms:
            idf = self.idf.get((f, t), 0.0)
            # bounds scaled by the OWNING FIELD's stats-drift factor and
            # the segment's max doc boost so pruning stays admissible
            # under drifted stats and boosted scores
            bscale = self.ub_scale.get(f, 1.0) * s.max_boost
            cover = np.searchsorted(blast, bounds, side="left")
            valid = cover < len(blast)
            iv_ub[valid] += boost * idf * bscale * bub[cover[valid]]
        order = np.argsort(-iv_ub, kind="stable")

        # BATCHED bound-descending scan (r5): the per-interval python
        # loop cost ~30 µs × intervals × lists and, on multi-field
        # default sets where the summed cross-list bound is loose, ran
        # SLOWER than one vectorized exhaustive pass (measured 2-4x on
        # the 2-field 30k index).  Intervals are now consumed in
        # doubling batches; within a batch each list gathers ALL its
        # covered postings with one vectorized multi-slice (cumsum
        # arange trick), so the numpy call count is
        # O(lists × log intervals) instead of O(lists × intervals).
        # The stopping rule is unchanged and still exact: a batch
        # starts only while the best unscored bound >= theta, and
        # once m docs are held, intervals with ub < theta are dropped
        # before gathering (strictly-lower only — equal-bound docs can
        # still win a url tie-break).
        los = np.concatenate(([0], bounds[:-1] + 1))
        his = bounds
        per_list = []
        for f, t, boost, ids, tfs, blast, bub in terms:
            a = np.searchsorted(ids, los, side="left")
            b = np.searchsorted(ids, his, side="right")
            coef = boost * self.idf.get((f, t), 0.0)
            per_list.append((f, ids, tfs, a, b, coef))

        top_ids: list[np.ndarray] = []
        top_sc: list[np.ndarray] = []
        theta = -np.inf
        count = 0
        pos = 0
        # the first batch exists to establish theta: make it as small
        # as the budget allows (one ~64-doc interval usually holds m),
        # so the flat-bounds case degenerates to tiny-probe + one
        # vectorized mega-batch ~= the exhaustive pass
        batch = max(1, (m + codec.BLOCK_SIZE - 1) // codec.BLOCK_SIZE)
        n_iv = len(order)
        while pos < n_iv:
            if count >= m and iv_ub[order[pos]] < theta:
                break  # no remaining interval can reach the top-m
            take = order[pos:pos + batch]
            pos += batch
            batch *= 2
            if count >= m:
                take = take[iv_ub[take] >= theta]
                if take.size == 0:
                    continue
            iv_cat_ids, iv_cat_sc = [], []
            for f, ids, tfs, a, b, coef in per_list:
                ta, tb = a[take], b[take]
                ln = tb - ta
                nz = ln > 0
                if not nz.any():
                    continue
                ta, ln = ta[nz], ln[nz]
                total = int(ln.sum())
                offs = np.cumsum(ln) - ln
                idx = (np.arange(total)
                       + np.repeat(ta - offs, ln))
                sl_ids = ids[idx]
                norms = codec.tf_norm(tfs[idx], s.dls[f][sl_ids],
                                      self.avgdl[f])
                iv_cat_ids.append(sl_ids)
                iv_cat_sc.append(coef * norms * s.boost[sl_ids])
            if not iv_cat_ids:
                continue
            if len(iv_cat_ids) == 1:
                uniq, acc = iv_cat_ids[0], iv_cat_sc[0]
            else:
                uniq, acc = _union_sum(iv_cat_ids, iv_cat_sc)
            if ex_ids is not None and uniq.size:
                keep = ~self._member_of(uniq, ex_ids)
                if not keep.all():
                    uniq, acc = uniq[keep], acc[keep]
                if uniq.size == 0:
                    continue
            top_ids.append(uniq)
            top_sc.append(acc)
            count += len(uniq)
            if count >= m:
                allsc = np.concatenate(top_sc)
                theta = np.partition(allsc, -m)[-m]
                # bail-out: when theta excludes under half of what's
                # left (flat bound distributions — ubiquitous terms,
                # saturated tf plateaus), the loop would pay batch
                # overhead for zero pruning; finish in ONE vectorized
                # mega-batch instead.  Exactness unchanged — the final
                # batch still drops only strictly-below-theta intervals.
                rest = order[pos:]
                if rest.size and (iv_ub[rest] >= theta).mean() > 0.5:
                    batch = n_iv
        if not top_ids:
            return np.zeros(0, np.int64), np.zeros(0)
        ids = np.concatenate(top_ids)
        sc = np.concatenate(top_sc)
        return self._cut(ids, sc, m)

    def _cut(self, ids: np.ndarray, sc: np.ndarray, m: int):
        """Exact top-m by (score desc, url asc).

        Two fast paths (r5, measured 40% of heavy-term latency):
        - partial selection first — only docs scoring >= the m-th score
          can place, so the tie-break sort runs over the score plateau
          + better, not every match;
        - when the segment holds the builder's url-ascending doc_id
          invariant, the url tie-break is an int64 lexsort on doc_id
          instead of an object-dtype sort over url strings."""
        if len(ids) > 4 * m and len(ids):
            k = min(m, len(sc))
            kth = np.partition(sc, -k)[-k]
            keep = sc >= kth
            ids, sc = ids[keep], sc[keep]
        if self.seg.urls_monotone:
            order = np.lexsort((ids, -sc))[:m]
        else:
            order = np.lexsort((self.seg.urls[ids], -sc))[:m]
        return ids[order], sc[order]
