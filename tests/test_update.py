"""Incremental update: delete-before-insert per segment must stay
rank-identical to a full rebuild (A9 analogue, SURVEY.md §2.7)."""

import shutil

import pandas as pd
import pytest

from hayoo_spark import fixtures, oracle
from hayoo_spark.index.builder import build_index
from hayoo_spark.index.update import streaming_ingest, update_index
from hayoo_spark.query.engine import SearchEngine

UPDATE_QUERIES = [
    "baba", "bibaba OR nibaba", "baba AND bibaba", "freshterm",
    "bib*", '"baba baba"', "lang:de AND baba",
]


def _updated_corpus(n=150):
    base = fixtures.make_pages(n)
    changed = base.iloc[5:10].copy()
    changed["text"] = "freshterm " + changed["text"]
    changed["html"] = [
        f"<html><head><title>t</title></head><body><p>{t}</p></body></html>".encode()
        for t in changed["text"]]
    changed["warc_ts"] = pd.Timestamp("2025-06-01").to_datetime64()
    new = base.iloc[:3].copy()
    new["url"] = [f"https://new.org/p/{i}" for i in range(3)]
    new["text"] = "freshterm brand new document " + new["text"]
    new["html"] = [
        f"<html><head><title>t</title></head><body><p>{t}</p></body></html>".encode()
        for t in new["text"]]
    new["warc_ts"] = pd.Timestamp("2025-06-02").to_datetime64()
    delta = pd.concat([changed, new]).reset_index(drop=True)
    delta["warc_ts"] = delta["warc_ts"].astype("datetime64[us]")
    full = pd.concat([base[~base["url"].isin(delta["url"])], delta]) \
        .reset_index(drop=True)
    return base, delta, full


def test_incremental_update_rank_identical(spark, tmp_path):
    base, delta, full = _updated_corpus()
    p0 = tmp_path / "pages_v0.parquet"
    p1 = tmp_path / "pages_v1.parquet"
    base.to_parquet(p0, index=False)
    full.to_parquet(p1, index=False)

    inc = str(tmp_path / "inc")
    build_index(spark, str(p0), inc, n_segments=4, salt_df_threshold=64)
    res = update_index(spark, str(p1), inc, since_ts="2025-01-01",
                       salt_df_threshold=64)
    assert 0 < res["segments_rebuilt"] <= 4

    ix = oracle.build_oracle_index(full, from_html=True)
    eng = SearchEngine(spark, inc)
    assert eng.n_docs == ix.n_docs
    for q in UPDATE_QUERIES:
        got = eng.search(q, k=20)
        want = oracle.search(ix, q, k=20)
        assert [u for u, _ in got] == [u for u, _ in want], q
        assert all(abs(g[1] - w[1]) < 1e-6 for g, w in zip(got, want)), q


def test_distributed_relation_invalidated_on_update(spark, tmp_path):
    """Spark mode reads the postings afresh in every task, so an engine
    kept open across an in-place update serves the new rows there too,
    equal to local mode."""
    base, delta, full = _updated_corpus(80)
    p0 = tmp_path / "pages_v0.parquet"
    p1 = tmp_path / "pages_v1.parquet"
    base.to_parquet(p0, index=False)
    full.to_parquet(p1, index=False)
    inc = str(tmp_path / "inc")
    build_index(spark, str(p0), inc, n_segments=4, salt_df_threshold=64)
    eng = SearchEngine(spark, inc)
    eng.warm()
    assert eng.search("freshterm", k=20, mode="spark") == []
    update_index(spark, str(p1), inc, since_ts="2025-01-01",
                 salt_df_threshold=64)
    after = eng.search("freshterm", k=20, mode="spark")
    assert any("new.org" in u for u, _ in after)
    assert after == eng.search("freshterm", k=20, mode="local")


def test_open_engine_reloads_after_in_place_update(spark, tmp_path):
    """An engine kept open across an in-place update must serve the
    updated index: n_docs, idf, the dictionary and its fuzzy deletion
    maps all come from the new files, as in a freshly opened engine."""
    base, delta, full = _updated_corpus(80)
    p0 = tmp_path / "pages_v0.parquet"
    p1 = tmp_path / "pages_v1.parquet"
    base.to_parquet(p0, index=False)
    full.to_parquet(p1, index=False)
    inc = str(tmp_path / "inc")
    build_index(spark, str(p0), inc, n_segments=4, salt_df_threshold=64)
    eng = SearchEngine(spark, inc)
    n0 = eng.n_docs
    queries = ["freshterm", "baba", "freshtern~", "bib*"]
    before = {q: eng.search(q, k=20) for q in queries}  # fills the caches
    assert before["freshterm"] == [] and before["freshtern~"] == []
    update_index(spark, str(p1), inc, since_ts="2025-01-01",
                 salt_df_threshold=64)
    fresh = SearchEngine(spark, inc)
    assert fresh.n_docs > n0  # three new pages
    for q in queries:
        assert eng.search(q, k=20) == fresh.search(q, k=20), q
    assert eng.n_docs == fresh.n_docs
    assert eng.search("freshtern~", k=20)
    assert eng.autocomplete("fresh") == fresh.autocomplete("fresh")


def test_streaming_ingest(spark, tmp_path):
    base, delta, full = _updated_corpus()
    pages_dir = str(tmp_path / "pages")
    base_df = spark.createDataFrame(base)
    base_df.write.parquet(pages_dir)

    ixd = str(tmp_path / "ix")
    build_index(spark, pages_dir, ixd, n_segments=4, salt_df_threshold=64)

    stream_dir = tmp_path / "stream_in"
    stream_dir.mkdir()
    delta.to_parquet(stream_dir / "batch0.parquet", index=False)

    q = streaming_ingest(spark, str(stream_dir), pages_dir, ixd,
                         str(tmp_path / "ckpt"), salt_df_threshold=64)
    q.awaitTermination(120)

    ix = oracle.build_oracle_index(full, from_html=True)
    eng = SearchEngine(spark, ixd)
    assert eng.n_docs == ix.n_docs
    got = eng.search("freshterm", k=20)
    want = oracle.search(ix, "freshterm", k=20)
    assert [u for u, _ in got] == [u for u, _ in want]


def test_snapshot_atomic_update(spark, tmp_path_factory):
    """Snapshot shim: updates publish as new versions behind an
    atomically-flipped CURRENT pointer; engines opened on the old
    version keep working on untouched files (snapshot isolation) and a
    fresh engine sees results identical to a full rebuild."""
    import pandas as pd

    from hayoo_spark import fixtures
    from hayoo_spark.index import snapshot
    from hayoo_spark.index.builder import build_index
    from hayoo_spark.query.engine import SearchEngine

    d = tmp_path_factory.mktemp("snap")
    pages = fixtures.make_pages(120)
    p_path = str(d / "pages.parquet")
    pages.to_parquet(p_path, index=False)
    root = str(d / "root")
    m1 = snapshot.init_root(spark, p_path, root, n_segments=4)
    assert m1["version"] == "v000001"

    old_engine = SearchEngine(spark, root)
    before = old_engine.search("baba", k=10)
    assert before

    pages2 = pages.copy()
    i = pages2.index[pages2["url"] == "https://edge.org/single"][0]
    pages2.loc[i, "text"] = "solitaryword mutated"
    pages2.loc[i, "html"] = (b"<html><head><title>x</title></head>"
                             b"<body><p>solitaryword mutated</p></body></html>")
    pages2.loc[i, "warc_ts"] = pd.Timestamp("2025-06-01")
    pages2.to_parquet(p_path, index=False)
    m2 = snapshot.snapshot_update(spark, p_path, root,
                                  since_ts="2025-01-01", n_segments=4)
    assert m2["version"] == "v000002"
    assert snapshot.resolve(root).endswith("v000002")

    # the engine opened before the flip still serves its version
    assert old_engine.search("baba", k=10) == before
    assert old_engine.search("mutated", k=5) == []

    # a fresh engine sees the update, identical to a full rebuild
    full = str(d / "full")
    build_index(spark, p_path, full, n_segments=4)
    new_engine = SearchEngine(spark, root)
    e_full = SearchEngine(spark, full)
    for q in ["baba", "mutated", "solitaryword"]:
        assert new_engine.search(q, k=10) == e_full.search(q, k=10), q

    # prune keeps the live version
    removed = snapshot.prune(root, keep=1)
    assert removed == ["v000001"]
    assert SearchEngine(spark, root).search("mutated", k=5)


def test_delete_docs_removes_and_matches_fresh_build(spark, tmp_path):
    """Explicit deletion: victims vanish, survivors stay rank-identical
    to the exact oracle over the reduced corpus, stats shrink."""
    from hayoo_spark.index.update import delete_docs

    base = fixtures.make_pages(150)
    uniq = base["url"].value_counts()
    victims = [u for u in base["url"] if uniq[u] == 1][:3]
    reduced = base[~base["url"].isin(victims)].reset_index(drop=True)
    p0 = tmp_path / "pages_v0.parquet"
    p1 = tmp_path / "pages_v1.parquet"
    base.to_parquet(p0, index=False)
    reduced.to_parquet(p1, index=False)

    ixdir = str(tmp_path / "ix")
    build_index(spark, str(p0), ixdir, n_segments=4, salt_df_threshold=64)
    res = delete_docs(spark, str(p1), ixdir,
                      spark.createDataFrame([(u,) for u in victims],
                                            "url string"),
                      salt_df_threshold=64)
    assert 0 < res["segments_rebuilt"] <= 4

    ix = oracle.build_oracle_index(reduced, from_html=True)
    eng = SearchEngine(spark, ixdir)
    assert eng.n_docs == ix.n_docs
    for u in victims:
        assert eng.search(f"url:{u}", k=1) == [], u
    for q in UPDATE_QUERIES[:5]:
        got = eng.search(q, k=20)
        want = oracle.search(ix, q, k=20)
        assert [u for u, _ in got] == [u for u, _ in want], q
        for (_, gs), (_, ws) in zip(got, want):
            assert abs(gs - ws) < 1e-9


def test_update_preserves_store_cols(spark, tmp_path):
    """An index built with store_cols must keep those doc-store columns
    through an incremental update: store_cols is persisted in stats/
    and recovered by update_index, so rebuilt segments carry the same
    schema as untouched ones (ADVICE r5: mixed schemas crashed
    _project_row)."""
    base, delta, full = _updated_corpus(120)
    p0 = tmp_path / "pages_v0.parquet"
    p1 = tmp_path / "pages_v1.parquet"
    base.to_parquet(p0, index=False)
    full.to_parquet(p1, index=False)
    inc = str(tmp_path / "inc")
    build_index(spark, str(p0), inc, n_segments=4, salt_df_threshold=64,
                store_cols=("tag",))
    res = update_index(spark, str(p1), inc, since_ts="2025-01-01",
                       salt_df_threshold=64)
    assert 0 < res["segments_rebuilt"] <= 4
    docs = spark.read.parquet(str(tmp_path / "inc" / "docs"))
    assert "tag" in docs.columns
    # every row (rebuilt segments included) carries the stored column
    assert docs.filter(docs["tag"].isNull()).count() == 0


def test_update_split_sections_removes_stale_virtual_docs(spark, tmp_path):
    """With split_sections, indexed docs are keyed url#anchor — an
    update that DROPS a section must purge that section's virtual doc
    even though hash(page_url) points at a different segment
    (ADVICE r5)."""
    pages = fixtures.make_sectioned_pages(60)
    p0 = tmp_path / "pages_v0.parquet"
    p1 = tmp_path / "pages_v1.parquet"
    pages.to_parquet(p0, index=False)
    victim = pages["url"].iloc[0]  # page 0 has sections incl. only0x0
    pages2 = pages.copy()
    i = pages2.index[pages2["url"] == victim][0]
    pages2.loc[i, "html"] = (
        b"<html><head><title>flat</title></head>"
        b"<body><p>flattened page no sections anymore</p></body></html>")
    from hayoo_spark.analysis import extract_text_py
    pages2.loc[i, "text"] = extract_text_py(pages2.loc[i, "html"])
    pages2.to_parquet(p1, index=False)

    inc = str(tmp_path / "inc")
    build_index(spark, str(p0), inc, n_segments=4, split_sections=True,
                salt_df_threshold=64)
    eng0 = SearchEngine(spark, inc)
    assert eng0.search("only0x0", k=5)  # the section doc exists pre-update

    res = update_index(
        spark, str(p1), inc,
        changed_urls=spark.createDataFrame([(victim,)], "url string"),
        salt_df_threshold=64)
    assert res["segments_rebuilt"] > 0

    full_ix = str(tmp_path / "full")
    build_index(spark, str(p1), full_ix, n_segments=4, split_sections=True,
                salt_df_threshold=64)
    eng = SearchEngine(spark, inc)
    ref = SearchEngine(spark, full_ix)
    assert eng.n_docs == ref.n_docs
    assert eng.search("only0x0", k=5) == []  # stale virtual doc purged
    for q in ["flattened", "baba", "only3x0"]:
        assert eng.search(q, k=20) == ref.search(q, k=20), q


def test_update_stats_merge_idempotent_after_crash(spark, tmp_path,
                                                   monkeypatch):
    """Crash-and-retry safety (at-least-once foreachBatch): a retry
    after the stats write + segment deletion but before the rebuild
    must converge to the same stats as a fresh build — the merge
    derives totals from surviving state, not old-stats deltas
    (ADVICE r5: the delta form double-counted on replay)."""
    from hayoo_spark.index import update as upd

    base, delta, full = _updated_corpus(120)
    p0 = tmp_path / "pages_v0.parquet"
    p1 = tmp_path / "pages_v1.parquet"
    base.to_parquet(p0, index=False)
    full.to_parquet(p1, index=False)
    inc = str(tmp_path / "inc")
    build_index(spark, str(p0), inc, n_segments=4, salt_df_threshold=64)

    class Boom(RuntimeError):
        pass

    def crash(*a, **k):
        raise Boom("simulated crash before segment rebuild")

    monkeypatch.setattr(upd, "build_index", crash)
    with pytest.raises(Boom):
        update_index(spark, str(p1), inc, since_ts="2025-01-01",
                     salt_df_threshold=64)
    monkeypatch.undo()

    # retry runs the whole update again (stats merge re-applied)
    res = update_index(spark, str(p1), inc, since_ts="2025-01-01",
                       salt_df_threshold=64)
    assert res["segments_rebuilt"] > 0

    full_ix = str(tmp_path / "full")
    build_index(spark, str(p1), full_ix, n_segments=4, salt_df_threshold=64)
    got = {r["field"]: r for r in
           spark.read.parquet(inc + "/stats").collect()}
    want = {r["field"]: r for r in
            spark.read.parquet(full_ix + "/stats").collect()}
    assert set(got) == set(want)
    for f in want:
        assert got[f]["n_docs"] == want[f]["n_docs"], f
        assert got[f]["total_tokens"] == want[f]["total_tokens"], f
        assert abs(got[f]["avgdl"] - want[f]["avgdl"]) < 1e-9, f
    eng = SearchEngine(spark, inc)
    ref = SearchEngine(spark, full_ix)
    for q in UPDATE_QUERIES[:4]:
        assert eng.search(q, k=20) == ref.search(q, k=20), q


def test_engine_warm_preloads_rows_cache(spark, tmp_path):
    """warm() loads the df-head pairs into the raw-rows cache; warmed
    searches serve from memory and stay correct."""
    pages = fixtures.make_pages(200)
    src = tmp_path / "pages.parquet"
    pages.to_parquet(src, index=False)
    ixdir = str(tmp_path / "ix")
    build_index(spark, str(src), ixdir, n_segments=4, salt_df_threshold=64)

    eng = SearchEngine(spark, ixdir)
    n = eng.warm(top_terms=32)
    assert n > 0
    # the heavy fixture term must be in the warmed head
    assert any(t == "baba" for _f, t in eng._rows_mem)
    before = len(eng._rows_mem)
    ix = oracle.build_oracle_index(pages, from_html=True)
    got = eng.search("baba", k=10)
    want = oracle.search(ix, "baba", k=10)
    assert [u for u, _ in got] == [u for u, _ in want]
    # a fully-warmed query adds no new cache entries
    assert len(eng._rows_mem) == before


def test_snapshot_concurrent_reader_isolation(spark, tmp_path_factory):
    """Race readers against snapshot_update: every result set observed
    while the update runs must be rank-identical to EITHER the old OR
    the new snapshot — never a torn mix (the Iceberg isolation property
    the parquet+manifest shim must match, SURVEY §7 Phase 2 item 8).

    Readers re-open the engine each probe (re-resolving CURRENT), so
    they exercise the flip window as well as the mutation window."""
    import threading

    from hayoo_spark.index import snapshot

    d = tmp_path_factory.mktemp("snapiso")
    pages = fixtures.make_pages(100)
    p_path = str(d / "pages.parquet")
    pages.to_parquet(p_path, index=False)
    root = str(d / "root")
    snapshot.init_root(spark, p_path, root, n_segments=4,
                       salt_df_threshold=64)

    queries = ["baba", "bibaba OR nibaba", "changedword OR baba"]
    before = {q: SearchEngine(spark, root).search(q, k=15)
              for q in queries}

    pages2 = pages.copy()
    idx = pages2.index[:4]
    for i in idx:
        pages2.loc[i, "text"] = "changedword " + pages2.loc[i, "text"]
        pages2.loc[i, "html"] = (
            "<html><head><title>t</title></head><body><p>%s</p></body>"
            "</html>" % pages2.loc[i, "text"]).encode()
        pages2.loc[i, "warc_ts"] = pd.Timestamp("2025-06-01")
    pages2.to_parquet(p_path, index=False)

    observed: list[tuple[str, list]] = []
    errors: list[BaseException] = []
    stop = threading.Event()

    def reader():
        try:
            while not stop.is_set():
                for q in queries:
                    eng = SearchEngine(spark, root)  # re-resolve CURRENT
                    observed.append((q, eng.search(q, k=15)))
        except BaseException as e:  # surface crashes as test failures
            errors.append(e)

    t = threading.Thread(target=reader)
    t.start()
    try:
        snapshot.snapshot_update(spark, p_path, root,
                                 since_ts="2025-01-01",
                                 salt_df_threshold=64)
    finally:
        stop.set()
        t.join(60)
    assert not errors, errors

    after = {q: SearchEngine(spark, root).search(q, k=15) for q in queries}
    assert after["changedword OR baba"] != before["changedword OR baba"]
    assert len(observed) >= 3  # the race actually sampled the window
    for q, res in observed:
        assert res == before[q] or res == after[q], (
            q, res[:3], before[q][:3], after[q][:3])


def test_engine_warm_positions_prewarms_phrase_decode(spark, tmp_path):
    """warm(positions_top=N) decodes the Zipf head's position streams
    into the cross-query cache: the FIRST phrase query after warm must
    add no posflat entries for warmed terms and stay rank-identical."""
    import hayoo_spark.query.wand as W

    pages = fixtures.make_pages(200)
    src = tmp_path / "pages.parquet"
    pages.to_parquet(src, index=False)
    ixdir = str(tmp_path / "ix")
    build_index(spark, str(src), ixdir, n_segments=4, salt_df_threshold=64)

    eng0 = SearchEngine(spark, ixdir)
    want = eng0.search('"baba baba"', k=10)

    W._POSTINGS_CACHE.clear()
    eng = SearchEngine(spark, ixdir)
    eng.warm(top_terms=32, positions_top=8)
    warmed = {k for k in W._POSTINGS_CACHE if "posflat" in k}
    assert any("baba" in str(k) for k in warmed)  # the head term is in
    n_before = len(warmed)
    got = eng.search('"baba baba"', k=10)
    assert got == want
    after = {k for k in W._POSTINGS_CACHE if "posflat" in k}
    # the phrase terms' streams were already decoded — no new entries
    # for the warmed (field, term) pairs
    assert {k for k in after if "baba" in str(k)} == \
        {k for k in warmed if "baba" in str(k)}
    assert len(after) >= n_before


def test_update_split_sections_crash_retry_no_data_loss(spark, tmp_path,
                                                       monkeypatch):
    """Crash window that the doc-store-based affected-segment lookup
    cannot see: a first attempt deletes the affected segment dirs +
    manifest rows, then dies before the rebuild.  On retry the changed
    page's virtual docs are invisible in the doc store, so without the
    half-deleted-segment union the retry would rebuild those segments
    from zero rows and silently drop every unrelated doc they held."""
    from hayoo_spark.index import update as upd

    pages = fixtures.make_sectioned_pages(60)
    p0 = tmp_path / "pages_v0.parquet"
    pages.to_parquet(p0, index=False)
    victim = pages["url"].iloc[0]
    pages2 = pages.copy()
    i = pages2.index[pages2["url"] == victim][0]
    pages2.loc[i, "html"] = (
        b"<html><head><title>flat</title></head>"
        b"<body><p>flattened page no sections anymore</p></body></html>")
    from hayoo_spark.analysis import extract_text_py
    pages2.loc[i, "text"] = extract_text_py(pages2.loc[i, "html"])
    p1 = tmp_path / "pages_v1.parquet"
    pages2.to_parquet(p1, index=False)

    inc = str(tmp_path / "inc")
    build_index(spark, str(p0), inc, n_segments=4, split_sections=True,
                salt_df_threshold=64)

    class Boom(RuntimeError):
        pass

    def crash(*a, **k):
        raise Boom("simulated crash after segment deletion")

    ch = spark.createDataFrame([(victim,)], "url string")
    monkeypatch.setattr(upd, "build_index", crash)
    with pytest.raises(Boom):
        update_index(spark, str(p1), inc, changed_urls=ch,
                     salt_df_threshold=64)
    monkeypatch.undo()

    res = update_index(spark, str(p1), inc, changed_urls=ch,
                       salt_df_threshold=64)
    assert res["segments_rebuilt"] > 0

    full_ix = str(tmp_path / "full")
    build_index(spark, str(p1), full_ix, n_segments=4, split_sections=True,
                salt_df_threshold=64)
    eng = SearchEngine(spark, inc)
    ref = SearchEngine(spark, full_ix)
    assert eng.n_docs == ref.n_docs  # nothing silently dropped
    assert eng.search("only0x0", k=5) == []  # stale virtual doc purged
    for q in ["flattened", "baba", "only3x0"]:
        assert eng.search(q, k=20) == ref.search(q, k=20), q


def test_update_empty_segments_are_not_half_deleted(spark, tmp_path):
    """A legitimately empty segment (manifest row with docs=0, no
    Hive partition dir) must not be mistaken for a half-deleted one:
    an empty change set stays a no-op, and a small change set must
    not escalate to a full cold rebuild."""
    pages = fixtures.make_pages(10)
    p0 = tmp_path / "pages.parquet"
    pages.to_parquet(p0, index=False)
    inc = str(tmp_path / "inc")
    n_seg = 64
    build_index(spark, str(p0), inc, n_segments=n_seg, salt_df_threshold=64)
    import glob as _glob
    import os as _os
    present = _glob.glob(_os.path.join(inc, "docs", "segment=*"))
    assert len(present) < n_seg  # precondition: some segments empty
    man = spark.read.parquet(_os.path.join(inc, "manifest"))
    assert man.count() == n_seg  # ... but every segment has lineage

    # empty change set -> no-op
    ch = spark.createDataFrame([], "url string")
    res = update_index(spark, str(p0), inc, changed_urls=ch,
                       salt_df_threshold=64)
    assert res == {"segments_rebuilt": 0}

    # single-url change set -> partial rebuild, never full_rebuild
    pages2 = pages.copy()
    pages2.loc[0, "text"] = "freshterm " + pages2.loc[0, "text"]
    pages2.loc[0, "html"] = (
        "<html><head><title>t</title></head><body><p>%s</p></body></html>"
        % pages2.loc[0, "text"]).encode()
    p1 = tmp_path / "pages_v1.parquet"
    pages2.to_parquet(p1, index=False)
    ch1 = spark.createDataFrame([(pages2.loc[0, "url"],)], "url string")
    res = update_index(spark, str(p1), inc, changed_urls=ch1,
                       salt_df_threshold=64)
    assert 0 < res["segments_rebuilt"] < n_seg
    assert not res.get("full_rebuild")
    eng = SearchEngine(spark, inc)
    assert eng.search("freshterm", k=5)
