"""Pipeline operators: dedup, similarity, textstats, multimodal.

Correctness anchored on planted structure: duplicated / near-duplicated
docs and clustered embeddings that the operators must find.
"""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from hayoo_spark.ops import dedup, multimodal, similarity, textstats


@pytest.fixture(scope="module")
def docs_df(spark):
    rows = []
    base = ("the quick brown fox jumps over the lazy dog and runs far away "
            "into the deep green forest tonight").split()
    rng = np.random.RandomState(7)
    for i in range(40):
        words = [base[j] for j in rng.randint(0, len(base), size=30)]
        rows.append((i, " ".join(words), "en", f"s{i}", 0))
    # exact duplicate pair
    rows.append((100, rows[0][1], "en", "dup", 0))
    # near duplicate of doc 1 (one word changed)
    w = rows[1][1].split()
    w[5] = "changed"
    rows.append((101, " ".join(w), "en", "near", 0))
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "text", "lang", "source", "n_chars"]))


@pytest.fixture(scope="module")
def emb_df(spark):
    rng = np.random.RandomState(3)
    centers = rng.normal(size=(4, 16))
    rows = []
    for i in range(120):
        c = i % 4
        v = centers[c] + 0.05 * rng.normal(size=16)
        rows.append((i, [float(x) for x in v], c))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")


def test_exact_duplicates(spark, docs_df):
    d = dedup.exact_duplicates(docs_df).collect()
    assert len(d) == 1
    assert sorted(d[0]["members"]) == [0, 100]
    assert d[0]["keeper"] == 0


def test_ngram_jaccard_finds_near_dup(spark, docs_df):
    pairs = {(r["id_a"], r["id_b"]): r["jaccard_x1e4"]
             for r in dedup.ngram_jaccard_pairs(docs_df, threshold=0.5).collect()}
    assert (0, 100) in pairs and pairs[(0, 100)] == 10000  # identical
    assert (1, 101) in pairs and pairs[(1, 101)] >= 5000


def test_minhash_lsh_recall(spark, docs_df):
    exact = {(r["id_a"], r["id_b"])
             for r in dedup.ngram_jaccard_pairs(docs_df, threshold=0.5).collect()}
    lsh = {(r["id_a"], r["id_b"])
           for r in dedup.minhash_lsh_pairs(docs_df, threshold=0.5).collect()}
    # LSH verifies candidates exactly, so precision is 1; at 0.5 jaccard
    # with 8 bands x 4 rows recall of true near-dups is ~1
    assert lsh <= exact
    assert (0, 100) in lsh and (1, 101) in lsh


def test_simhash_near_dup(spark, docs_df):
    pairs = {(r["id_a"], r["id_b"]): r["hamming"]
             for r in dedup.simhash_pairs(docs_df, max_hamming=8).collect()}
    assert pairs.get((0, 100)) == 0  # identical text -> identical simhash
    assert (1, 101) in pairs


def test_embedding_neardup_clusters(spark, emb_df):
    pairs = dedup.embedding_neardup_pairs(emb_df, threshold=0.98).collect()
    same = sum(1 for r in pairs if r["id_a"] % 4 == r["id_b"] % 4)
    assert len(pairs) > 100
    assert same == len(pairs)  # only same-cluster pairs at 0.98


def test_cosine_topk_exact(spark, emb_df):
    q = emb_df.filter(F.col("vec_id") == 0).collect()[0]["embedding"]
    top = similarity.cosine_topk(emb_df, list(q), k=10).collect()
    assert top[0]["vec_id"] == 0
    # all top-10 from the query's cluster (label 0 == vec_id % 4 == 0)
    assert all(r["vec_id"] % 4 == 0 for r in top)
    # verify against numpy
    emb = emb_df.orderBy("vec_id").collect()
    m = np.array([r["embedding"] for r in emb], dtype=np.float64)
    sims = m @ np.asarray(q, np.float64) / (
        np.linalg.norm(m, axis=1) * np.linalg.norm(q))
    want = np.lexsort((np.arange(len(sims)), -sims))[:10]
    assert [r["vec_id"] for r in top] == [int(i) for i in want]


def test_lsh_topk_recall(spark, emb_df):
    q = emb_df.filter(F.col("vec_id") == 0).collect()[0]["embedding"]
    exact = [r["vec_id"] for r in similarity.cosine_topk(emb_df, list(q), k=10).collect()]
    approx = [r["vec_id"] for r in similarity.lsh_cosine_topk(
        emb_df, list(q), k=10, bits=6, multiprobe=3).collect()]
    # clustered data: the query bucket holds its cluster -> high recall
    recall = len(set(exact) & set(approx)) / 10
    assert recall >= 0.7, (exact, approx)


def test_ivf_topk_recall(spark, emb_df):
    q = emb_df.filter(F.col("vec_id") == 0).collect()[0]["embedding"]
    exact = [r["vec_id"] for r in similarity.cosine_topk(emb_df, list(q), k=10).collect()]
    approx = [r["vec_id"] for r in similarity.ivf_cosine_topk(
        emb_df, list(q), k=10, n_cells=8, n_probe=3).collect()]
    recall = len(set(exact) & set(approx)) / 10
    assert recall >= 0.7, (exact, approx)
    # every vector lands in exactly one cell, cells cover the corpus
    C, cids = similarity.ivf_centroids(emb_df, 8)
    assigned = similarity.ivf_assign(emb_df, C, cids)
    n = emb_df.count()
    assert assigned.count() == n
    assert assigned.select("vec_id").distinct().count() == n
    assert set(r["cell"] for r in assigned.select("cell").distinct().collect()) \
        <= set(int(c) for c in cids)


def test_batch_cosine_topk(spark, emb_df):
    rows = emb_df.filter(F.col("vec_id").isin([0, 1])).orderBy("vec_id").collect()
    qm = np.array([rows[0]["embedding"], rows[1]["embedding"]])
    out = similarity.batch_cosine_topk(emb_df, qm, k=5).collect()
    assert len(out) == 10
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(r)
    top0 = max(by_q[0], key=lambda r: r["cos"])
    top1 = max(by_q[1], key=lambda r: r["cos"])
    assert top0["vec_id"] == 0 and top1["vec_id"] == 1


def test_token_count_and_quality(spark, docs_df):
    tc = {r["doc_id"]: r["n_tokens"] for r in textstats.token_count(docs_df).collect()}
    assert tc[0] == 30
    q = {r["doc_id"]: r for r in textstats.quality_score(docs_df).collect()}
    assert 0 < q[0]["quality_x1e4"] <= 10000
    assert q[0]["stop_ratio"] > 0  # 'the' present


def test_lang_id(spark):
    df = spark.createDataFrame(
        [(0, "the cat is on the mat and it is warm"),
         (1, "der hund ist nicht auf der matte und das ist gut"),
         (2, "el perro que corre por la casa con los gatos"),
         (3, "zz yy xx ww vv")],
        "doc_id long, text string")
    out = {r["doc_id"]: r["pred_lang"] for r in textstats.lang_id(df).collect()}
    assert out == {0: "en", 1: "de", 2: "es", 3: "und"}


def test_fingerprint_order_sensitive(spark):
    df = spark.createDataFrame(
        [(0, "alpha beta gamma"), (1, "gamma beta alpha"), (2, "alpha beta gamma")],
        "doc_id long, text string")
    fps = {r["doc_id"]: r["fp"] for r in textstats.fingerprint(df).collect()}
    assert fps[0] == fps[2]
    assert fps[0] != fps[1]


def test_multimodal_features_deterministic(spark):
    media = multimodal.make_fake_media(spark, 12)
    a = {r["url"]: r["feature"] for r in multimodal.extract_features(media).collect()}
    b = {r["url"]: r["feature"] for r in multimodal.extract_features(media).collect()}
    assert a == b
    assert all(len(v) == 8 for v in a.values())
    meta = multimodal.attach_metadata(media).collect()
    assert all(r["n_bytes"] > 0 and r["digest"] for r in meta)


def test_multimodal_frame_plan(spark):
    media = multimodal.make_fake_media(spark, 9)
    frames = multimodal.frame_sample_plan(media, every_ms=1000).collect()
    vids = [r for r in media.collect() if r["kind"] == "video"]
    expect = sum(r["meta"]["duration_ms"] // 1000 + 1 for r in vids)
    assert len(frames) == expect


def test_real_decode_stub_raises():
    with pytest.raises(NotImplementedError):
        multimodal.real_decode_image(b"xx")

def test_transitive_closure_small(spark):
    """Closure of a 6-node chain-with-branch equals the python-computed
    reachability set."""
    from hayoo_spark.ops import graph

    e = [(1, 0), (2, 0), (3, 1), (4, 1), (5, 3)]
    edges = spark.createDataFrame(e, "src long, dst long")
    got = {(r["src"], r["dst"])
           for r in graph.transitive_closure(edges).collect()}
    adj = {}
    for s, d in e:
        adj.setdefault(s, set()).add(d)
    want = set()
    def reach(n):
        out = set()
        for d in adj.get(n, ()):  # DFS
            out |= {d} | reach(d)
        return out
    for n in range(6):
        want |= {(n, d) for d in reach(n)}
    assert got == want


def test_dependents_rank_satisfies_recursion(spark):
    """rank(p) == 1 + 0.5 * sum over edges q->p of rank(q) — the
    reference's defining equation (PackageRank.hs:248-261)."""
    from hayoo_spark.ops import graph

    e = [(1, 0), (2, 0), (3, 1), (4, 1), (5, 3)]
    nodes = spark.createDataFrame([(i,) for i in range(6)], "node long")
    edges = spark.createDataFrame(e, "src long, dst long")
    ranks = {r["node"]: r["rank"]
             for r in graph.dependents_rank(nodes, edges).collect()}
    for p in range(6):
        inc = sum(ranks[q] for q, d in e if d == p)
        assert abs(ranks[p] - (1.0 + 0.5 * inc)) < 1e-12, (p, ranks)


def test_cycle_edges_identifies_cyclic_subset(spark):
    """R4: exactly the edges lying on a directed cycle survive —
    2-cycle, 3-cycle, self-loop in; tree/tail edges out."""
    from hayoo_spark.ops import graph

    e = [(1, 2), (2, 1),            # 2-cycle
         (3, 4), (4, 5), (5, 3),    # 3-cycle
         (6, 6),                    # self-loop
         (7, 1), (5, 8), (9, 10)]   # acyclic in/out/tree edges
    edges = spark.createDataFrame(e, "src long, dst long")
    got = {(r["src"], r["dst"]) for r in graph.cycle_edges(edges).collect()}
    assert got == {(1, 2), (2, 1), (3, 4), (4, 5), (5, 3), (6, 6)}


def test_url_frontier_filter_and_rewrite(spark):
    """S6/S7: frontier predicate + canonical rewrite semantics."""
    from hayoo_spark.ops import urls

    rows = [
        ("https://GoOd.Org/Path/Page#frag",),        # kept, host lowered,
                                                     # fragment stripped
        ("https://good.org/a/?utm_source=x",),       # tracking + slash
        ("https://good.org/img/pic.JPG",),           # denied extension
        ("ftp://good.org/p",),                       # bad scheme
        ("https://other.net/p",),                    # host not allowed
        ("https://good.org/",),                      # root -> no slash
        ("https://good.org/dup", ), ("https://good.org/dup#x",),  # dedup
    ]
    df = spark.createDataFrame(rows, "url string")
    got = sorted(r["url"] for r in
                 urls.frontier(df, allow_host_re=r"\.org$").collect())
    assert got == [
        "https://good.org",
        "https://good.org/Path/Page",
        "https://good.org/a",
        "https://good.org/dup",
    ]


def test_crawl_frontier_bfs_filters_and_min_depth(spark):
    """S5 loop: BFS min-depth semantics, denied links never scheduled,
    fragments normalized into the visited set."""
    from hayoo_spark.ops import crawl

    links = spark.createDataFrame([
        ("https://a.org/s", "https://a.org/x"),
        ("https://a.org/s", "https://a.org/y#frag"),   # normalizes to /y
        ("https://a.org/x", "https://a.org/z"),
        ("https://a.org/z", "https://a.org/x"),        # back edge: seen
        ("https://a.org/x", "https://a.org/pic.jpg"),  # denied ext
        ("https://a.org/x", "https://evil.net/p"),     # denied host
        ("https://a.org/z", "https://a.org/deep"),
        ("https://a.org/deep", "https://a.org/deeper"),  # beyond rounds
    ], "src string, href string")
    seeds = spark.createDataFrame([("https://a.org/s",)], "url string")
    got = {(r["url"], r["depth"]) for r in
           crawl.expand_frontier(links, seeds, rounds=3).collect()}
    assert got == {("https://a.org/s", 0),
                   ("https://a.org/x", 1), ("https://a.org/y", 1),
                   ("https://a.org/z", 2),
                   ("https://a.org/deep", 3)}


def test_dedup_clusters_transitive(spark):
    """a~b and b~c collapse to ONE cluster even though a~c was never
    emitted; keeper = min id; disjoint pairs stay separate."""
    from hayoo_spark.ops import dedup

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 9), (9, 8), (20, 21)],
        "id_a long, id_b long")
    got = {r["doc_id"]: (r["cluster_id"], r["is_keeper"])
           for r in dedup.dedup_clusters(pairs).collect()}
    assert got == {1: (1, 1), 2: (1, 0), 3: (1, 0),
                   7: (7, 1), 8: (7, 0), 9: (7, 0),
                   20: (20, 1), 21: (20, 0)}


def test_clean_corpus_composition(spark):
    """quality + lang + keeper-only filters compose; near-dup
    non-keepers drop, keepers survive."""
    import pandas as pd

    from hayoo_spark.ops import textstats

    good = ("the quick brown fox and the lazy dog with many common "
            "words of the language and more of the same here ") * 3
    pdf = pd.DataFrame({
        "doc_id": [1, 2, 3, 4],
        "text": [good, good + " tail", "zzz qqq xxp", good],
    })
    docs = spark.createDataFrame(pdf)
    pairs = spark.createDataFrame([(1, 2), (1, 4)], "id_a long, id_b long")
    out = textstats.clean_corpus(docs, min_quality_x1e4=4000,
                                 langs=("en",), dedup_pairs=pairs)
    kept = sorted(r["doc_id"] for r in out.collect())
    # 3 fails quality/lang; 2 and 4 are non-keepers of cluster {1,2,4}
    assert kept == [1]


def test_crawl_frontier_respects_robots(spark):
    """With a robots relation, disallowed urls never enter the visited
    set NOR get expanded (blocked at scheduling, like a real crawler)."""
    from hayoo_spark.ops import crawl

    links = spark.createDataFrame([
        ("https://a.org/s", "https://a.org/x"),
        ("https://a.org/s", "https://a.org/private/y"),
        ("https://a.org/private/y", "https://a.org/deep"),  # unreachable
    ], "src string, href string")
    seeds = spark.createDataFrame([("https://a.org/s",)], "url string")
    robots = spark.createDataFrame(
        [("a.org", "User-agent: *\nDisallow: /private/\n")],
        "host string, robots_txt string")
    got = {r["url"] for r in crawl.expand_frontier(
        links, seeds, rounds=3, robots=robots).collect()}
    assert got == {"https://a.org/s", "https://a.org/x"}


def test_crawl_frontier_broadcasts_in_plan(spark):
    """The frontier side of each round's join must be an explicit
    broadcast (VERDICT r3 #3): a derived relation carries no stats, so
    without the hint Catalyst may shuffle the whole links table."""
    from hayoo_spark.ops import crawl

    links = spark.createDataFrame(
        [("https://a.org/s", "https://a.org/x")], "src string, href string")
    seeds = spark.createDataFrame([("https://a.org/s",)], "url string")
    out = crawl.expand_frontier(links, seeds, rounds=1)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoop" in plan


def test_scrub_pii(spark):
    from hayoo_spark.ops import textstats

    docs = spark.createDataFrame([
        (1, "mail me at bob@example.com or +4915512345678 ok"),
        (2, "server 192.168.0.1 and 10.0.0.255 up"),
        (3, "nothing personal here"),
        (4, "a.b-c_d%e+f@sub.domain.co end"),
    ], "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           textstats.scrub_pii(docs).collect()}
    assert out[1]["n_pii"] == 2
    assert "[EMAIL]" in out[1]["text_scrubbed"]
    assert "[PHONE]" in out[1]["text_scrubbed"]
    assert "bob@" not in out[1]["text_scrubbed"]
    assert out[2]["n_pii"] == 2
    assert out[2]["text_scrubbed"] == "server [IP] and [IP] up"
    assert out[3]["n_pii"] == 0
    assert out[3]["text_scrubbed"] == "nothing personal here"
    assert out[4]["n_pii"] == 1
    assert out[4]["text_scrubbed"] == "[EMAIL] end"


def test_scrub_pii_null_text(spark):
    """NULL text must scrub to '' with n_pii = 0 — a NULL-propagating
    size() would silently drop the doc from n_pii aggregations
    (ADVICE r5)."""
    from hayoo_spark.ops import textstats

    docs = spark.createDataFrame(
        [(1, None), (2, "ping 10.0.0.1")], "doc_id long, text string")
    out = {r["doc_id"]: r for r in textstats.scrub_pii(docs).collect()}
    assert out[1]["n_pii"] == 0
    assert out[1]["text_scrubbed"] == ""
    assert out[2]["n_pii"] == 1
    agg = textstats.scrub_pii(docs).groupBy().sum("n_pii").collect()[0][0]
    assert agg == 1


def test_contamination(spark):
    from hayoo_spark.ops import dedup as D

    train = spark.createDataFrame([
        (1, "the quick brown fox jumps over lazy dogs"),
        (2, "completely unrelated material about spark joins"),
        (3, "quick brown fox appears here too somehow"),
    ], "doc_id long, text string")
    bench = spark.createDataFrame([
        (100, "benchmark asks about the quick brown fox")],
        "doc_id long, text string")
    got = {r["doc_id"]: r["n_shared"]
           for r in D.contamination(train, bench).collect()}
    # docs 1 and 3 share the 'quick brown fox' shingle; doc 2 is clean
    assert set(got) == {1, 3}
    assert all(v >= 1 for v in got.values())


def test_contamination_plan_broadcasts_benchmark(spark):
    """The benchmark side must broadcast — shuffling the training
    shingle relation against a tiny eval set is the anti-pattern."""
    from hayoo_spark.ops import dedup as D

    train = spark.createDataFrame(
        [(i, "alpha beta gamma delta") for i in range(8)],
        "doc_id long, text string")
    bench = spark.createDataFrame([(0, "alpha beta gamma")],
                                  "doc_id long, text string")
    plan = (D.contamination(train, bench)
            ._jdf.queryExecution().optimizedPlan().toString())
    assert "broadcast" in plan.lower()


def test_repetition_signals(spark):
    """Gopher-style repetition: duplicate-line counts and top-bigram
    coverage, all-integer, verified on planted structure."""
    from hayoo_spark.ops import textstats

    docs = spark.createDataFrame([
        (1, "aa bb\naa bb\ncc dd\n\naa bb"),   # 4 non-empty, 2 dups
        (2, "xx yy zz xx yy"),                 # top bigram "xx yy" x2
        (3, None),                             # NULL text
        (4, "solo"),                           # 1 token: no bigrams
    ], "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           textstats.repetition_signals(docs).collect()}
    assert out[1]["n_lines"] == 4 and out[1]["dup_lines"] == 2
    assert out[2]["n_lines"] == 1 and out[2]["dup_lines"] == 0
    # "xx yy zz xx yy" bigrams: xx-yy, yy-zz, zz-xx, xx-yy
    assert out[2]["top_bigram_n"] == 2 and out[2]["n_bigrams"] == 4
    assert out[3]["n_lines"] == 0 and out[3]["top_bigram_n"] == 0
    assert out[4]["n_bigrams"] == 0 and out[4]["top_bigram_n"] == 0
    # dup_line_frac derives exactly: doc 1 -> 2/4
    assert out[1]["dup_lines"] / out[1]["n_lines"] == 0.5


def test_repetition_twin_counts_are_int64():
    """The DuckDB twin of t_repetition returns integer columns: a bare
    sum() is HUGEINT there, which pandas reads as float64 and so hashes
    differently from Spark's bigint."""
    import duckdb
    import pandas as pd

    import __spark_entry__ as em

    documents = pd.DataFrame({  # noqa: F841 (read by the SQL below)
        "doc_id": pd.Series([1, 2, 3], dtype="int64"),
        "text": ["aa bb data aa bb", "xx yy zz xx yy", None]})
    out = duckdb.connect().execute(em.oracle_sql()["t_repetition"]).df()
    assert len(out) == 3
    for c in ("n_lines", "dup_lines", "top_bigram_n", "n_bigrams"):
        assert out[c].dtype == "int64", (c, out[c].dtype)
    assert out.set_index("doc_id")["n_bigrams"].to_dict() == \
        {1: 3, 2: 4, 3: 0}


def test_url_quality_filter(spark):
    """C4-style typed URL verdicts with first-failure precedence."""
    from hayoo_spark.ops.urls import url_quality_filter

    docs = spark.createDataFrame([
        (1, "https://good.com/article/1"),
        (2, "https://ads.example.com/b/2"),
        (3, "ftp://ads.example.com/3"),          # scheme beats host
        (4, "https://ok.org/a?sessionid=42"),
        (5, "https://deep.org" + "/p" * 12),
        (6, "https://ok.org/" + "x" * 2100),
    ], "doc_id long, url string")
    out = {r["doc_id"]: r for r in url_quality_filter(
        docs, blocked_hosts=("ads.example.com",),
        blocked_patterns=(r"[?&]sessionid=",)).collect()}
    assert out[1]["reason"] == "keep" and out[1]["kept"] == 1
    assert out[2]["reason"] == "host" and out[2]["host"] == "ads.example.com"
    assert out[3]["reason"] == "scheme"
    assert out[4]["reason"] == "pattern0"
    assert out[5]["reason"] == "too_deep"
    assert out[6]["reason"] == "too_long"
    assert all(out[i]["kept"] == 0 for i in (2, 3, 4, 5, 6))


def test_url_quality_filter_no_shuffle(spark):
    """The URL gate is one codegen'd projection — no Exchange in the
    plan (the 100 TB posture: a per-row verdict must not shuffle)."""
    from hayoo_spark.ops.urls import url_quality_filter

    docs = spark.createDataFrame(
        [(1, "https://good.com/a")], "doc_id long, url string")
    plan = url_quality_filter(docs)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Exchange" not in plan


def test_substring_dup_spans_planted(spark):
    # doc 0 and 1 share an exact 10-token run; doc 2 is unrelated
    shared = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (0, "unique start here then " + shared + " tail zero"),
        (1, "other head words now " + shared + " different ending text"),
        (2, "completely independent body with no common run at all ok"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           dedup.substring_dup_spans(df, w=8).collect()}
    # the shared run has 10 tokens -> 3 duplicated 8-windows per doc,
    # interval union = 10 tokens covered
    for d in (0, 1):
        assert out[d]["n_dup_windows"] == 3
        assert out[d]["dup_cov_tokens"] == 10
        assert out[d]["dup_frac_x1e4"] > 0
    assert out[2]["n_dup_windows"] == 0
    assert out[2]["dup_cov_tokens"] == 0
    # docs shorter than w produce no windows but still one output row
    short = spark.createDataFrame([(9, "tiny text")],
                                  "doc_id long, text string")
    r = dedup.substring_dup_spans(short, w=8).collect()[0]
    assert r["n_windows"] == 0 and r["dup_frac_x1e4"] == 0


def test_substring_dup_spans_within_doc_repeat_not_counted(spark):
    # the SAME window twice in ONE doc is self-repetition, not a
    # cross-doc duplicate
    run = "one two three four five six seven eight"
    df = spark.createDataFrame(
        [(0, run + " filler words " + run), (1, "nothing shared here at all "
                                                "with the other document")],
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           dedup.substring_dup_spans(df, w=8).collect()}
    assert out[0]["n_dup_windows"] == 0


def test_stratified_sample_deterministic_and_stratified(spark):
    from hayoo_spark.ops import corpus
    rows = [(i, f"text {i}", "en" if i % 2 == 0 else "de")
            for i in range(400)]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    kept = corpus.stratified_sample(df, {"en": 1.0, "de": 0.0}).collect()
    assert {r["lang"] for r in kept} == {"en"}
    assert len(kept) == 200
    # determinism: same rows at different parallelism
    a = sorted(r["doc_id"] for r in
               corpus.stratified_sample(df, {"en": 0.5, "de": 0.25}).collect())
    b = sorted(r["doc_id"] for r in
               corpus.stratified_sample(df.repartition(13),
                                        {"en": 0.5, "de": 0.25}).collect())
    assert a == b and 0 < len(a) < 400
    # growing the corpus never flips earlier decisions
    df2 = spark.createDataFrame(
        rows + [(1000 + i, "x", "en") for i in range(50)],
        "doc_id long, text string, lang string")
    c = sorted(r["doc_id"] for r in
               corpus.stratified_sample(df2, {"en": 0.5, "de": 0.25}).collect()
               if r["doc_id"] < 1000)
    assert c == a


def test_hash_split_partitions_completely(spark):
    from hayoo_spark.ops import corpus
    df = spark.createDataFrame([(i, "t") for i in range(1000)],
                               "doc_id long, text string")
    out = corpus.hash_split(df, {"train": 0.8, "val": 0.1, "test": 0.1})
    rows = out.collect()
    assert len(rows) == 1000  # no row dropped
    frac = pd.Series([r["split"] for r in rows]).value_counts(normalize=True)
    assert 0.74 < frac["train"] < 0.86
    assert 0.06 < frac["val"] < 0.14
    assert 0.06 < frac["test"] < 0.14
    # split assignment is a pure function of (key, salt)
    again = {r["doc_id"]: r["split"]
             for r in corpus.hash_split(df.repartition(7),
                                        {"train": 0.8, "val": 0.1,
                                         "test": 0.1}).collect()}
    assert all(again[r["doc_id"]] == r["split"] for r in rows)


def test_pack_sequences_offsets(spark):
    from hayoo_spark.ops import corpus
    # ten 100-token docs in one shard, budget 256: starts 0,100,...,900
    txt = " ".join(f"tok{i:03d}" for i in range(100))
    df = spark.createDataFrame(
        [(i, txt, "shardA") for i in range(10)]
        + [(100, " ".join(f"w{j}" for j in range(30)), "shardB")],
        "doc_id long, text string, source string")
    out = {r["doc_id"]: r for r in
           corpus.pack_sequences(df, budget=256, shard="source").collect()}
    for i in range(10):
        start = i * 100
        assert out[i]["bin_id"] == start // 256
        assert out[i]["bin_offset"] == start % 256
        assert out[i]["n_tokens"] == 100
    # shards are independent: shardB restarts at offset 0
    assert out[100]["bin_id"] == 0 and out[100]["bin_offset"] == 0


def test_pack_sequences_null_text_counts_zero(spark):
    from hayoo_spark.ops import corpus, dedup
    # NULL text must count 0 tokens, not NULL — a NULL n_tokens NULLs
    # the window cumsum and silently drops the doc from sum() accounting
    df = spark.createDataFrame(
        [(1, None, "s"), (2, "a b real words here", "s")],
        "doc_id long, text string, source string")
    out = {r["doc_id"]: r for r in
           corpus.pack_sequences(df, budget=64, shard="source").collect()}
    assert out[1]["n_tokens"] == 0
    assert out[2]["bin_offset"] is not None
    spans = {r["doc_id"]: r for r in
             dedup.substring_dup_spans(df, w=3).collect()}
    assert spans[1]["n_tokens"] == 0 and spans[1]["dup_frac_x1e4"] == 0


def test_pack_sequences_no_global_sort_in_plan(spark):
    from hayoo_spark.ops import corpus
    df = spark.createDataFrame([(i, "a b c", f"s{i % 4}")
                                for i in range(40)],
                               "doc_id long, text string, source string")
    plan = corpus.pack_sequences(df, budget=64, shard="source") \
        ._jdf.queryExecution().executedPlan().toString()
    # the cumsum must be a partitioned window (hashpartitioning on the
    # shard), never a global Sort/single partition
    assert "hashpartitioning(source" in plan
    assert "SinglePartition" not in plan


def test_domain_mixture_exact_proportions(spark):
    from hayoo_spark.ops import corpus
    # skewed domains: 600 a, 300 b, 60 c; targets 50/30/20 -> the
    # binding domain is c (60 / 0.2 = 300), so expected keeps are
    # a 150, b 90, c 60 (c keeps EVERYTHING, rate exactly 1)
    rows = ([(i, "t", "a") for i in range(600)]
            + [(1000 + i, "t", "b") for i in range(300)]
            + [(2000 + i, "t", "c") for i in range(60)]
            + [(3000 + i, "t", "junk") for i in range(40)])
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = corpus.domain_mixture(
        df, targets={"a": 0.5, "b": 0.3, "c": 0.2}).collect()
    by = pd.Series([r["source"] for r in out]).value_counts()
    assert "junk" not in by  # unlisted domains drop
    assert by["c"] == 60  # binding domain keeps all rows
    # the others keep ~rate_d * n_d in expectation (within hash noise)
    assert 120 <= by["a"] <= 180 and 70 <= by["b"] <= 110
    # determinism: the same rows survive at any parallelism
    again = sorted(r["doc_id"] for r in corpus.domain_mixture(
        df.repartition(13), targets={"a": 0.5, "b": 0.3, "c": 0.2}).collect())
    assert again == sorted(r["doc_id"] for r in out)


def test_domain_mixture_broadcasts_rates(spark):
    from hayoo_spark.ops import corpus
    df = spark.createDataFrame([(i, "t", f"s{i % 3}") for i in range(60)],
                               "doc_id long, text string, source string")
    plan = corpus.domain_mixture(
        df, targets={"s0": 0.5, "s1": 0.3, "s2": 0.2}) \
        ._jdf.queryExecution().executedPlan().toString()
    # the tiny rate table broadcasts back onto the scan — the corpus
    # side must never shuffle on the domain key
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_domain_mixture_rejects_bad_targets(spark):
    from hayoo_spark.ops import corpus
    df = spark.createDataFrame([(1, "t", "a")],
                               "doc_id long, text string, source string")
    with pytest.raises(ValueError):
        corpus.domain_mixture(df, targets={})
    with pytest.raises(ValueError):
        corpus.domain_mixture(df, targets={"a": -0.5})


def test_quality_classifier_matches_python(spark, docs_df):
    import math

    from hayoo_spark.analysis import tokenize_py
    from hayoo_spark.ops.textstats import (CLASSIFIER_BIAS,
                                           CLASSIFIER_WEIGHTS, STOPWORDS)
    out = {r["doc_id"]: r for r in
           textstats.quality_classifier(docs_df).collect()}
    for row in docs_df.collect():
        text = row["text"] or ""
        toks = tokenize_py(text)
        lines = [ln for ln in text.split("\n") if ln]
        bigrams = [f"{a} {b}" for a, b in zip(toks, toks[1:])]
        top = max([bigrams.count(x) for x in set(bigrams)], default=0)
        nonspace = len("".join(text.split()))
        alpha = sum(1 for ch in text if ch.isascii() and ch.isalpha())
        feats = {
            "f_len": min(len(toks) / 100.0, 1.0),
            "f_alpha": alpha / nonspace if nonspace else 0.0,
            "f_stop": min(
                sum(1 for t in toks if t in STOPWORDS["en"]) / len(toks) * 5.0,
                1.0) if toks else 0.0,
            "f_top_bigram": top / len(bigrams) if bigrams else 0.0,
            "f_dup_line": ((len(lines) - len(set(lines))) / len(lines)
                           if lines else 0.0),
        }
        logit = CLASSIFIER_BIAS
        for name, w in CLASSIFIER_WEIGHTS:
            logit += w * feats[name]
        got = out[row["doc_id"]]
        assert abs(got["logit_x1e4"] - logit * 10000) <= 1, row["doc_id"]
        assert got["keep"] == (1 if logit >= 0 else 0)
        assert not math.isnan(logit)


def test_quality_classifier_empty_text(spark):
    df = spark.createDataFrame([(1, ""), (2, None)],
                               "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           textstats.quality_classifier(df).collect()}
    # all features 0 -> logit == bias for both degenerate docs
    from hayoo_spark.ops.textstats import CLASSIFIER_BIAS
    want = round(CLASSIFIER_BIAS * 10000)
    assert out[1]["logit_x1e4"] == want and out[2]["logit_x1e4"] == want
    assert out[1]["keep"] == 0


def test_apply_bpe_matches_bruteforce(spark, docs_df):
    from hayoo_spark.analysis import tokenize_py
    from hayoo_spark.ops import bpe
    hist = bpe.word_histogram(docs_df, max_words=256)
    merges = bpe.train_bpe(hist, n_merges=48)
    rank = {p: i for i, p in enumerate(merges)}
    out = {r["doc_id"]: r for r in bpe.apply_bpe(docs_df, merges).collect()}
    for row in docs_df.collect():
        toks = tokenize_py(row["text"])
        n_pieces = sum(len(bpe.encode_word(w, rank)) for w in toks)
        got = out[row["doc_id"]]
        assert got["n_tokens"] == len(toks)
        assert got["n_pieces"] == n_pieces
        if toks:
            assert got["pieces_per_token"] == pytest.approx(
                n_pieces / len(toks))


def test_line_dedup_first_occurrence_global(spark):
    df = spark.createDataFrame(
        [(1, "alpha\nshared line\nbeta"),
         (2, "shared line\ngamma\nshared line"),
         (3, "delta"),
         (4, ""),
         (5, None)],
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in dedup.line_dedup(df).collect()}
    # doc 1 saw 'shared line' first (doc_id order) and keeps everything
    assert out[1]["text_dedup"] == "alpha\nshared line\nbeta"
    assert out[1]["n_lines"] == 3 and out[1]["n_kept"] == 3
    # doc 2 loses BOTH its copies (global + within-doc dedup)
    assert out[2]["text_dedup"] == "gamma"
    assert out[2]["n_lines"] == 3 and out[2]["n_kept"] == 1
    assert out[3]["text_dedup"] == "delta"
    # degenerate docs survive with empty reassembly
    assert out[4]["n_lines"] == 0 and out[4]["text_dedup"] == ""
    assert out[5]["n_lines"] == 0 and out[5]["n_kept"] == 0


def test_line_dedup_within_doc_repeat(spark):
    df = spark.createDataFrame([(7, "x\ny\nx\nx\nz")],
                               "doc_id long, text string")
    row = dedup.line_dedup(df).collect()[0]
    assert row["text_dedup"] == "x\ny\nz"
    assert row["n_lines"] == 5 and row["n_kept"] == 3


def test_line_dedup_no_skewed_window_in_plan(spark):
    # the winner-per-line step must be a partial-aggregable groupBy,
    # never a row_number window partitioned by the line hash (one
    # boilerplate line = one unboundable sort task at web scale)
    df = spark.createDataFrame([(i, "a\nb") for i in range(20)],
                               "doc_id long, text string")
    plan = dedup.line_dedup(df) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert "partial_min" in plan or "partial min" in plan.lower()


def test_chunk_documents_layout(spark):
    from hayoo_spark.ops import corpus
    pdf = pd.DataFrame({"doc_id": [1, 2, 3],
                        "text": ["one two three four five six seven",
                                 "", "aa bb"]})
    out = corpus.chunk_documents(spark.createDataFrame(pdf), size=3,
                                 stride=2).orderBy("doc_id", "chunk_id")
    rows = [tuple(r) for r in out.collect()]
    assert rows == [
        (1, 0, 0, 3, "one", "three"), (1, 1, 2, 3, "three", "five"),
        (1, 2, 4, 3, "five", "seven"), (1, 3, 6, 1, "seven", "seven"),
        (3, 0, 0, 2, "aa", "bb")]  # empty doc -> no chunks
    # every token position is covered by at least one chunk
    cover = set()
    for _, _, start, n, _, _ in rows[:4]:
        cover |= set(range(start, start + n))
    assert cover == set(range(7))


def test_chunk_documents_no_shuffle_plan(spark):
    """Chunking must stay narrow: no Exchange in the plan (chunk rows
    inherit the doc's partition)."""
    from hayoo_spark.ops import corpus
    pdf = pd.DataFrame({"doc_id": [1], "text": ["a b c d e"]})
    plan = corpus.chunk_documents(spark.createDataFrame(pdf)) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_tfidf_keywords_ranking(spark, docs_df):
    out = textstats.tfidf_keywords(docs_df, k=3)
    rows = out.collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for d, rs in by_doc.items():
        assert len(rs) <= 3
        rs = sorted(rs, key=lambda r: r["rank"])
        scores = [r["score_q"] for r in rs]
        assert scores == sorted(scores, reverse=True)
    assert by_doc  # sanity: non-empty


def test_semantic_dedup_within_cell_only(spark, emb_df):
    pairs = dedup.semantic_dedup_pairs(emb_df, n_cells=4,
                                       threshold=0.90).collect()
    assert pairs, "planted clusters must produce pairs"
    # the planted structure: 4 gaussian clusters; within-cell pairs at
    # 0.90 must connect same-label vectors only
    same = sum(1 for r in pairs if r["id_a"] % 4 == r["id_b"] % 4)
    assert same == len(pairs)
    # subset property: every semantic pair is also a global near-dup
    # pair at the same threshold (cells only PRUNE comparisons)
    glob = {(r["id_a"], r["id_b"])
            for r in dedup.embedding_neardup_pairs(
                emb_df, threshold=0.90).collect()}
    assert {(r["id_a"], r["id_b"]) for r in pairs} <= glob


def test_dedup_clusters_empty_pairs(spark):
    """No near-duplicate pairs: no clusters, on the driver path."""
    pairs = spark.createDataFrame([], "id_a long, id_b long")
    assert dedup.dedup_clusters(pairs).collect() == []


def test_dedup_clusters_string_keys(spark):
    """String ids (urls) cluster like integer ids: a few pairs, well
    under the driver path's edge bound, which holds ids as int64."""
    pairs = spark.createDataFrame(
        [("u/b", "u/a"), ("u/b", "u/c"), ("u/x", "u/y")],
        "id_a string, id_b string")
    got = {r["doc_id"]: (r["cluster_id"], r["is_keeper"])
           for r in dedup.dedup_clusters(pairs).collect()}
    assert got == {"u/a": ("u/a", 1), "u/b": ("u/a", 0),
                   "u/c": ("u/a", 0),
                   "u/x": ("u/x", 1), "u/y": ("u/x", 0)}


def test_dedup_clusters_driver_vs_distributed_identical(spark):
    """The size-gated driver union-find (r7) and the distributed
    min-label fixpoint must produce the identical clustering: chains,
    ties, reversed pair order, singleton components."""
    from hayoo_spark.ops import dedup

    rows = [(1, 2), (2, 3), (3, 4), (4, 5),     # 4-deep chain
            (10, 11), (12, 11),                 # reversed order
            (30, 31)]
    pairs = spark.createDataFrame(rows, "id_a long, id_b long")
    via_driver = {r["doc_id"]: (r["cluster_id"], r["is_keeper"])
                  for r in dedup.dedup_clusters(pairs).collect()}
    old = dedup.DEDUP_CC_DRIVER_MAX_EDGES
    dedup.DEDUP_CC_DRIVER_MAX_EDGES = 0   # force the distributed path
    try:
        via_dist = {r["doc_id"]: (r["cluster_id"], r["is_keeper"])
                    for r in dedup.dedup_clusters(pairs).collect()}
    finally:
        dedup.DEDUP_CC_DRIVER_MAX_EDGES = old
    assert via_driver == via_dist
    assert via_driver[5] == (1, 0) and via_driver[1] == (1, 1)
    assert via_driver[12] == (10, 0) and via_driver[30] == (30, 1)
