"""Unit tests for the segment evaluator: block-max pruned == exhaustive
(the WAND ≡ un-pruned invariant, SURVEY.md §5.3), no Spark needed."""

from types import SimpleNamespace

import numpy as np
import pandas as pd

from hayoo_spark.index import codec
from hayoo_spark.query import plan as P
from hayoo_spark.query.wand import SegmentData, SegmentEvaluator


def make_segment(seed=7, n_docs=5000, terms=("alpha", "beta", "gamma", "delta")):
    rng = np.random.RandomState(seed)
    dls = rng.randint(20, 400, size=n_docs)
    docs_pdf = pd.DataFrame({
        "doc_id": np.arange(n_docs),
        "url": [f"u/{i:06d}" for i in range(n_docs)],
        "lang": rng.choice(["en", "de"], size=n_docs),
        "warc_ts": pd.to_datetime("2024-01-01"),
        "dl": dls,
    })
    avgdl = float(dls.mean())
    raw = {}
    for ti, t in enumerate(terms):
        df = int(n_docs * (0.5 ** (ti + 1)))
        ids = np.sort(rng.choice(n_docs, size=df, replace=False)).astype(np.int64)
        tfs = rng.randint(1, 12, size=df).astype(np.int64)
        # split into 2 salted sub-lists for one term to exercise the merge
        n_salts = 2 if ti == 0 else 1
        for s in range(n_salts):
            m = ids % n_salts == s
            sids, stfs = ids[m], tfs[m]
            ids_vb = codec.varbyte_encode(codec.delta_encode(sids.astype(np.uint64)))
            tfs_vb = codec.varbyte_encode(stfs.astype(np.uint64))
            # stagger positions by term index so cross-term phrases
            # ("alpha beta") actually match adjacency in some docs
            pos_vb = codec.encode_positions(
                [np.arange(tf, dtype=np.uint64) * 3 + (ti % 3)
                 for tf in stfs])
            blast, bub = codec.block_maxes(sids, stfs, dls[sids], avgdl, 64)
            raw.setdefault(("text", t), []).append(SimpleNamespace(
                segment=0, field="text", term=t, salt=s, df=len(sids),
                cf=int(stfs.sum()), ids_vb=ids_vb, tfs_vb=tfs_vb,
                pos_vb=pos_vb, block_last=blast.tolist(),
                block_ub=bub.tolist(), max_ub=float(bub.max()),
            ))
    idf = {t: 1.5 - 0.3 * i for i, t in enumerate(terms)}
    sd = SegmentData(docs_pdf, raw=raw)
    return SegmentEvaluator(sd, idf, avgdl), terms


def _topm_exhaustive(ev, node, m):
    ids, sc = ev.evaluate(node)
    order = np.lexsort((ev.seg.urls[ids], -sc))[:m]
    return ids[order], sc[order]


def test_pruned_or_equals_exhaustive():
    ev, terms = make_segment()
    for m in (1, 10, 100, 10_000):
        leaves = [(t, 1.0) for t in terms]
        pi, ps = ev.top_m_pruned("or", leaves, m)
        ei, es = _topm_exhaustive(ev, P.Or(tuple(P.Term(t) for t in terms)), m)
        assert np.array_equal(pi, ei), f"m={m}"
        assert np.allclose(ps, es)


def test_pruned_and_equals_exhaustive():
    ev, terms = make_segment()
    node = P.And(tuple(P.Term(t) for t in terms[:2]))
    pi, ps = ev.top_m_pruned("and", [(t, 1.0) for t in terms[:2]], 50)
    ei, es = _topm_exhaustive(ev, node, 50)
    assert np.array_equal(pi, ei)
    assert np.allclose(ps, es)


def test_pruned_with_boosts():
    ev, terms = make_segment()
    leaves = [(terms[0], 2.0), (terms[1], 0.5)]
    node = P.Or((P.Term(terms[0], boost=2.0), P.Term(terms[1], boost=0.5)))
    pi, ps = ev.top_m_pruned("or", leaves, 25)
    ei, es = _topm_exhaustive(ev, node, 25)
    assert np.array_equal(pi, ei)
    assert np.allclose(ps, es)


def test_salted_merge_matches_single_list():
    """Term 'alpha' is stored as 2 salted sub-lists; decoded postings must
    be one sorted list with rebuilt block metadata."""
    ev, terms = make_segment()
    ids, tfs, blast, bub = ev.seg.postings("text", "alpha")
    assert np.all(np.diff(ids) > 0)
    assert np.all(np.diff(blast) > 0)
    bs = codec.BLOCK_SIZE  # merged lists are re-blocked at the default size
    assert len(bub) == (len(ids) + bs - 1) // bs
    norms = codec.tf_norm(tfs, ev.seg.dls["text"][ids], ev.avgdl["text"])
    for b in range(len(bub)):
        s, e = b * bs, min((b + 1) * bs, len(ids))
        assert np.isclose(bub[b], norms[s:e].max())

# ---- r5: scoped / filter-combined / phrase-under-boolean shapes ----
# (VERDICT r4 #1: these previously fell back to exhaustive evaluation)

def test_pruned_scoped_term_equals_exhaustive():
    ev, terms = make_segment()
    for m in (1, 10, 5000):
        pi, ps = ev.top_m_pruned("or", [("text", terms[0], 1.0)], m)
        ei, es = _topm_exhaustive(ev, P.Term(terms[0], field="text"), m)
        assert np.array_equal(pi, ei)
        assert np.allclose(ps, es)


def test_pruned_and_with_lang_filter():
    ev, terms = make_segment()
    node = P.And((P.Term(terms[0]), P.Term("en", field="lang")))
    pi, ps = ev.top_m_pruned(
        "and", [(terms[0], 1.0)], 50,
        filters=(P.Term("en", field="lang"),))
    ei, es = _topm_exhaustive(ev, node, 50)
    assert np.array_equal(pi, ei)
    assert np.allclose(ps, es)
    assert len(pi) > 0


def test_pruned_and_with_phrase():
    ev, terms = make_segment()
    ph = P.Phrase((terms[0], terms[1]))  # staggered positions -> matches
    node = P.And((P.Term(terms[2]), ph))
    pi, ps = ev.top_m_pruned("and", [(terms[2], 1.0)], 50, phrases=(ph,))
    ei, es = _topm_exhaustive(ev, node, 50)
    assert np.array_equal(pi, ei)
    assert np.allclose(ps, es)
    assert len(pi) > 0, "fixture should produce phrase-AND matches"


def test_pruned_and_with_or_group():
    ev, terms = make_segment()
    node = P.And((P.Or((P.Term(terms[0]), P.Term(terms[1]))),
                  P.Term(terms[2])))
    groups = [[(None, terms[0], 1.0), (None, terms[1], 1.0)],
              [(None, terms[2], 1.0)]]
    pi, ps = ev.top_m_pruned("and", groups, 50)
    ei, es = _topm_exhaustive(ev, node, 50)
    assert np.array_equal(pi, ei)
    assert np.allclose(ps, es)


def test_pruned_and_filter_phrase_exclude():
    """All the new machinery at once: filter inclusion + phrase
    verification + AndNot exclusion on one AND."""
    ev, terms = make_segment()
    ph = P.Phrase((terms[0], terms[1]))
    inner = P.And((P.Term(terms[0]), P.Term("en", field="lang"), ph))
    node = P.AndNot(inner, P.Term(terms[3]))
    pi, ps = ev.top_m_pruned(
        "and", [(terms[0], 1.0)], 50,
        exclude=P.Term(terms[3]),
        filters=(P.Term("en", field="lang"),), phrases=(ph,))
    ei, es = _topm_exhaustive(ev, node, 50)
    assert np.array_equal(pi, ei)
    assert np.allclose(ps, es)


def test_flat_detector_shapes():
    from hayoo_spark.query.wand import _flat_terms, _flat_with_not
    W = {"text": 1.0, "title": 2.0, "tag": 0.0}
    # scoped scoring term qualifies now
    k, l, f, p = _flat_terms(P.Term("x", field="title"), W)
    assert k == "or" and l == [("title", "x", 1.0)]
    # weight-0 / lang / unknown-field terms are filters inside AND
    k, l, f, p = _flat_terms(
        P.And((P.Term("x"), P.Term("a", field="tag"),
               P.Term("en", field="lang"),
               P.RangeFilter("warc_ts", "2024-01", "2024-02"))), W)
    assert k == "and" and len(l) == 1 and len(f) == 3 and p == ()
    # pure-filter AND stays on the sentinel/exhaustive path
    assert _flat_terms(P.And((P.Term("en", field="lang"),)), W) is None
    # phrase under AND is flat; bare phrase is not (top_m_phrase owns it)
    k, l, f, p = _flat_terms(P.And((P.Term("x"), P.Phrase(("a", "b")))), W)
    assert k == "and" and len(p) == 1
    assert _flat_terms(P.Phrase(("a", "b")), W) is None
    # nested OR of scoring leaves becomes one AND group
    k, l, f, p = _flat_terms(
        P.And((P.Or((P.Term("a"), P.Term("b", field="title"))),
               P.Term("c"))), W)
    assert k == "and" and len(l) == 2 and len(l[0]) == 2
    # OR with a filter child is NOT flat (zero-score union semantics)
    assert _flat_terms(P.Or((P.Term("a"), P.Term("en", field="lang"))), W) is None
    # AndNot: flat left + exclusion right
    flat, ex = _flat_with_not(
        P.AndNot(P.And((P.Term("a"), P.Term("en", field="lang"))),
                 P.Term("b")), W)
    assert flat is not None and ex == P.Term("b")


def test_bound_loop_forced_equals_exhaustive(monkeypatch):
    """The cost router sends small segments to the vectorized pass, so
    ALSO pin the floor to 0 and re-verify the batched interval bound
    loop itself (the cluster-scale route) against exhaustive scoring —
    otherwise no small-corpus test would execute it."""
    from hayoo_spark.query import wand as W

    monkeypatch.setattr(W, "EXHAUSTIVE_POSTINGS", 0)
    ev, terms = make_segment()
    for m in (1, 10, 100, 10_000):
        leaves = [(t, 1.0) for t in terms]
        pi, ps = ev.top_m_pruned("or", leaves, m)
        ei, es = _topm_exhaustive(ev, P.Or(tuple(P.Term(t) for t in terms)), m)
        assert np.array_equal(pi, ei), f"m={m}"
        assert np.allclose(ps, es)
    # scoped single term through the loop
    pi, ps = ev.top_m_pruned("or", [("text", terms[0], 1.0)], 25)
    ei, es = _topm_exhaustive(ev, P.Term(terms[0], field="text"), 25)
    assert np.array_equal(pi, ei)
    assert np.allclose(ps, es)
    # AndNot exclusion through the loop
    node = P.AndNot(P.Term(terms[0]), P.Term(terms[1]))
    pi, ps = ev.top_m_pruned("or", [(terms[0], 1.0)], 50,
                             exclude=P.Term(terms[1]))
    ei, es = _topm_exhaustive(ev, node, 50)
    assert np.array_equal(pi, ei)
    assert np.allclose(ps, es)
    # AND group path (intersect-first machinery, not the evaluate route)
    pi, ps = ev.top_m_pruned(
        "and", [[(None, terms[0], 1.0), (None, terms[1], 1.0)],
                [(None, terms[2], 1.0)]], 50,
        filters=(P.Term("en", field="lang"),))
    ei, es = _topm_exhaustive(ev, P.And((
        P.Or((P.Term(terms[0]), P.Term(terms[1]))), P.Term(terms[2]),
        P.Term("en", field="lang"))), 50)
    assert np.array_equal(pi, ei)
    assert np.allclose(ps, es)


def test_cut_partial_select_and_int_tiebreak():
    """_cut's two fast paths: partial selection keeps exactly the
    score-plateau + better, and the int tie-break (urls_monotone) is
    identical to the url-string sort when doc_id order == url order."""
    ev, terms = make_segment()
    ids, sc = ev.evaluate(P.Term(terms[0]))
    assert ev.seg.urls_monotone  # fixture urls are u/%06d == id order
    fast_i, fast_s = ev._cut(ids, sc, 20)
    order = np.lexsort((ev.seg.urls[ids], -sc))[:20]
    assert np.array_equal(fast_i, ids[order])
    assert np.allclose(fast_s, sc[order])
    # non-monotone segments must fall back to the string sort
    ev.seg.urls_monotone = False
    slow_i, slow_s = ev._cut(ids, sc, 20)
    assert np.array_equal(slow_i, fast_i)
    ev.seg.urls_monotone = True


def test_docs_cache_capacity_scales_with_segments(tmp_path, monkeypatch):
    """A docs cache smaller than the engine's segment count makes every
    warm query a full parquet re-read (measured at 10M/128 segments:
    warm p50 7.4 s vs ~0.1 s).  The engine must grow the cap to its
    layout, hits must LRU-touch, and an explicit env override wins."""
    from hayoo_spark.query import wand as W

    monkeypatch.delenv("HAYOO_DOCS_CACHE_SEGMENTS", raising=False)
    monkeypatch.setattr(W, "_DOCS_CACHE_MAX", 4)
    W.ensure_docs_cache_capacity(128)
    assert W._DOCS_CACHE_MAX >= 128
    W.ensure_docs_cache_capacity(2)  # never shrinks
    assert W._DOCS_CACHE_MAX >= 128
    monkeypatch.setenv("HAYOO_DOCS_CACHE_SEGMENTS", "16")
    monkeypatch.setattr(W, "_DOCS_CACHE_MAX", 16)
    W.ensure_docs_cache_capacity(512)  # explicit override wins
    assert W._DOCS_CACHE_MAX == 16

    # LRU, not FIFO: with capacity 2, touching the oldest entry then
    # inserting a third must evict the UNtouched one
    monkeypatch.delenv("HAYOO_DOCS_CACHE_SEGMENTS", raising=False)
    monkeypatch.setattr(W, "_DOCS_CACHE_MAX", 2)
    monkeypatch.setattr(W, "_DOCS_CACHE", {})
    pdf = pd.DataFrame({"doc_id": [0], "url": ["u"], "lang": ["en"],
                        "warc_ts": pd.to_datetime(["2024-01-01"]),
                        "dl_text": [3], "boost": [1.0]})
    for s in range(3):
        d = tmp_path / f"segment={s}"
        d.mkdir()
        pdf.to_parquet(d / "part-0.parquet", index=False)
    W.load_segment_docs(str(tmp_path), 0)
    W.load_segment_docs(str(tmp_path), 1)
    W.load_segment_docs(str(tmp_path), 0)  # touch 0 -> 1 is now LRU
    W.load_segment_docs(str(tmp_path), 2)
    assert W.docs_loaded(str(tmp_path), 0)
    assert not W.docs_loaded(str(tmp_path), 1)
    assert W.docs_loaded(str(tmp_path), 2)


def test_decoded_postings_cache_is_lru_and_read_only(monkeypatch):
    """Decoded postings live in the process-wide LRU: a later
    SegmentData with the same cache key and NO raw rows is served the
    same read-only arrays, and at the cap a hit protects its entry."""
    from hayoo_spark.query import wand as W

    monkeypatch.setattr(W, "_POSTINGS_CACHE", {})
    monkeypatch.setattr(W, "_POSTINGS_CACHE_MAX", 2)
    ev, terms = make_segment()
    sd1 = ev.seg
    key = ("postroot", 0, 123, (("text", 100.0),))
    sd1._cache_key = key
    want = sd1.postings("text", terms[1])
    assert len(want[0]) > 0
    got = SegmentData(sd1._docs, cache_key=key).postings(
        "text", terms[1])
    assert all(a is b for a, b in zip(want, got))
    assert not any(a.flags.writeable for a in got)

    sd1.postings("text", terms[2])
    # a new view touches terms[1] -> terms[2] is now least recent
    SegmentData(sd1._docs, cache_key=key).postings("text", terms[1])
    sd1.postings("text", terms[3])
    assert set(W._POSTINGS_CACHE) == {key + ("text", terms[1]),
                                      key + ("text", terms[3])}
