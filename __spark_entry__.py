"""Driver contract for the hayoo-spark engine.

``queries()`` exposes one entry per implemented operator family from
SURVEY.md §2 over the driver's testdata tables (documents / embeddings /
events / orders ...); ``oracle_sql()`` gives the DuckDB-equivalent SQL.
Column names and integer-rounded scores (``*_x1e4``) match on both
sides so the driver's order-insensitive value-hash compares cleanly.

The segment/WAND index engine itself (posting lists, block-max pruning,
resume) is exercised by `python -m pytest -x -q` against the exact
Python oracle (rank-identical top-k BM25 — the BASELINE.json gate);
the entries here are the SQL-expressible operator surface.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hayoo_spark.analysis import (MIN_TOKEN_LEN, TOKEN_RE, TOKEN_RE_CS,
                                  tokens_col)
from hayoo_spark.ops import dedup, graph, similarity, textstats
from hayoo_spark.query import relational

K1, B = relational.K1, relational.B


def _docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


# the tf relation and its corpus stats are shared by every q_bm25_*
# entry; memoized per sf_dir (persisted DataFrame + collected scalars)
# so a batch of contract queries tokenizes the corpus ONCE instead of
# ~3 jobs per query (full-scan-per-query is the 100x-scale anti-pattern
# flagged in VERDICT r1)
_TF_CACHE: dict[str, tuple[DataFrame, tuple[int, float]]] = {}


def _tf(spark, sf_dir):
    hit = _TF_CACHE.get(sf_dir)
    if hit is None:
        tf = relational.corpus_tokens(_docs(spark, sf_dir)).persist()
        hit = (tf, relational.corpus_stats(tf))
        _TF_CACHE[sf_dir] = hit
    return hit[0]


def _tf_stats(spark, sf_dir) -> tuple[int, float]:
    _tf(spark, sf_dir)
    return _TF_CACHE[sf_dir][1]


# the hashed-shingle relation is shared by the whole dedup family
# (exact Jaccard, MinHash-LSH, clustering, cleaning): memoized +
# persisted per sf_dir so a batch of dedup passes tokenizes the corpus
# ONCE — same rationale as the _tf memo above
_SH_CACHE: dict[str, DataFrame] = {}


def _shingles(spark, sf_dir):
    hit = _SH_CACHE.get(sf_dir)
    if hit is None:
        hit = dedup.hashed_shingles(_docs(spark, sf_dir)).persist()
        _SH_CACHE[sf_dir] = hit
    return hit


def _score_out(scored: DataFrame) -> DataFrame:
    return scored.select("doc_id", "score_x1e4", "n_terms")


# ---------------------------------------------------------------- queries

def _score(spark, sf_dir, terms, **kw):
    return relational.score_terms(_tf(spark, sf_dir), terms,
                                  stats=_tf_stats(spark, sf_dir), **kw)


def q_bm25_term(spark, sf_dir):
    """Q2/Q3 single-term scoring (full-word, no-case) — SURVEY §2.5."""
    return _score_out(_score(spark, sf_dir, ["spark"]))


def q_bm25_and(spark, sf_dir):
    """Q6 AND: posting intersection with score sum."""
    return _score_out(_score(spark, sf_dir, ["spark", "join", "window"],
                             mode="and"))


def q_bm25_or(spark, sf_dir):
    """Q6 OR: union with score sum."""
    return _score_out(_score(spark, sf_dir, ["hash", "merge"]))


def q_bm25_andnot(spark, sf_dir):
    """Q6 AND NOT: left anti join on the exclusion term's doc set."""
    tf = _tf(spark, sf_dir)
    scored = _score(spark, sf_dir, ["scan"])
    excl = tf.filter(F.col("term") == "stream").select("doc_id").distinct()
    return _score_out(scored.join(excl, "doc_id", "left_anti"))


def q_bm25_prefix(spark, sf_dir):
    """Q1 prefix match: term-dictionary range scan -> OR of expansions."""
    return _score_out(_score(spark, sf_dir, None, prefix="s"))


def q_phrase(spark, sf_dir):
    """Q4 phrase: adjacent positions via self-join on pos+1."""
    docs = _docs(spark, sf_dir)
    toks = docs.select("doc_id", F.posexplode(tokens_col("text")).alias("pos", "term"))
    a = toks.filter(F.col("term") == "fast").select("doc_id", F.col("pos").alias("p0"))
    b = toks.filter(F.col("term") == "join").select("doc_id", F.col("pos").alias("p1"))
    return (
        a.join(b, "doc_id")
        .filter(F.col("p1") == F.col("p0") + 1)
        .groupBy("doc_id").agg(F.count("*").alias("n_occ"))
    )


def q_field_scoped(spark, sf_dir):
    """Q5 field-scoped query: lang filter restricts matches, global stats."""
    tf = _tf(spark, sf_dir)
    en = _docs(spark, sf_dir).filter(F.lower("lang") == "en").select("doc_id")
    return _score_out(_score(spark, sf_dir, ["table"])).join(en, "doc_id")


def q_range_filter(spark, sf_dir):
    """Q7 range query on a timestamp field (events stream table)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return (
        ev.filter((F.col("ts") >= F.lit("2024-01-08")) & (F.col("ts") < F.lit("2024-01-15")))
        .groupBy("event_type")
        .agg(F.count("*").alias("n"),
             F.round(F.sum("value") * 100).cast("bigint").alias("sum_value_x100"))
    )


def q_date_prefix_range(spark, sf_dir):
    """Q7 date-typed range with TRUNCATABLE ISO-prefix endpoints
    (reference date contexts, hayooIndexer/src/Hayoo/Hunt/
    IndexSchema.hs:133-137): [2024-01 TO 2024-02] covers both whole
    months — the shared iso_prefix_bounds helper expands the prefixes,
    the oracle embeds the expanded instants."""
    from hayoo_spark.query.plan import iso_prefix_bounds
    lo, hi = iso_prefix_bounds("2024-01", "2024-02")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return (
        ev.filter((F.col("ts") >= F.lit(lo)) & (F.col("ts") < F.lit(hi)))
        .groupBy("event_type")
        .agg(F.count("*").alias("n"),
             F.round(F.sum("value") * 100).cast("bigint").alias("sum_value_x100"))
    )


def q_topk_paging(spark, sf_dir):
    """Q10 top-k + paging: page 1 (offset 20, limit 20), deterministic
    integer-score ordering with doc_id tie-break."""
    scored = _score(spark, sf_dir, ["table", "row"])
    return (
        scored.orderBy(F.col("score_x1e4").desc(), F.col("doc_id"))
        .limit(40)
        .orderBy(F.col("score_x1e4").desc(), F.col("doc_id"))
        .offset(20)
        .select("doc_id", "score_x1e4")
    )


def q_autocomplete(spark, sf_dir):
    """Q11 completion: prefix scan of the term dictionary by df desc."""
    tf = _tf(spark, sf_dir)
    return (
        tf.filter(F.col("term").startswith("s"))
        .groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
        .orderBy(F.col("df").desc(), F.col("term"))
        .limit(10)
    )


def q_boost(spark, sf_dir):
    """Q8 boosts: per-term weights folded into the score sum."""
    tf = _tf(spark, sf_dir)
    n_docs, avgdl = _tf_stats(spark, sf_dir)
    df_rel = tf.groupBy("term").agg(F.count("*").alias("df"))
    w = F.when(F.col("term") == "spark", 2.0).otherwise(0.5)
    return (
        tf.filter(F.col("term").isin(["spark", "join"]))
        .join(F.broadcast(df_rel), "term")
        .withColumn("contrib", relational.bm25_expr(n_docs, avgdl) * w)
        .groupBy("doc_id")
        .agg(F.round(F.sum("contrib") * 10000).cast("bigint").alias("score_x1e4"))
    )


def q_case_sensitive(spark, sf_dir):
    """Q1-family case-sensitive flavor (the `!` / `<field>_cs`-twin
    path, parser.py `_word_cs`): tokens are NOT lowercased, so only
    exact-case occurrences match.  The corpus is all-lowercase, so a
    deterministic case mutation per doc_id class creates the signal
    (doc_id % 3 == 0 capitalizes 'spark'); the oracle mutates the same
    way.  Output: per-doc exact-case vs folded counts where the
    case-sensitive term matches."""
    docs = _docs(spark, sf_dir)
    k = F.col("doc_id")
    mut = F.when(k % 3 == 0,
                 F.regexp_replace(F.col("text"), "spark", "Spark")) \
        .otherwise(F.col("text"))
    toks = docs.select(k.alias("doc_id"),
                       F.explode(tokens_col(mut, lowercase=False))
                       .alias("term"))
    return (toks.groupBy("doc_id")
            .agg(F.sum((F.col("term") == "Spark").cast("long"))
                 .alias("n_cs"),
                 F.sum((F.lower("term") == "spark").cast("long"))
                 .alias("n_ci"))
            .filter(F.col("n_cs") > 0)
            .orderBy("doc_id"))


def q_case_phrase(spark, sf_dir):
    """Q4 case-sensitive phrase flavor (`!"w1 w2"` — Hunt QPhrase/QCase,
    parser.py phrase flavors): case-preserving tokenization, adjacency
    required in the exact-case token stream.  The all-lowercase corpus
    gets a deterministic case mutation (doc_id % 3 == 0 capitalizes
    'fast') so the CS phrase "Fast join" hits only mutated docs where
    the pair is adjacent; the oracle mutates identically."""
    docs = _docs(spark, sf_dir)
    k = F.col("doc_id")
    mut = F.when(k % 3 == 0,
                 F.regexp_replace(F.col("text"), "fast", "Fast")) \
        .otherwise(F.col("text"))
    toks = docs.select(k.alias("doc_id"),
                       F.posexplode(tokens_col(mut, lowercase=False))
                       .alias("pos", "term"))
    a = toks.filter(F.col("term") == "Fast") \
        .select("doc_id", F.col("pos").alias("p0"))
    b = toks.filter(F.col("term") == "join") \
        .select("doc_id", F.col("pos").alias("p1"))
    return (
        a.join(b, "doc_id")
        .filter(F.col("p1") == F.col("p0") + 1)
        .groupBy("doc_id").agg(F.count("*").alias("n_occ"))
    )


def q_field_weighted(spark, sf_dir):
    """Multi-field (context) BM25F scoring — SURVEY §2 A2/Q5 and the
    reference's weighted context schema (hayooIndexer/src/Hayoo/Hunt/
    IndexSchema.hs:103-137): 'title' = first 5 tokens (weight 2.5),
    'body' = the rest (weight 1.0); per-field df/dl/avgdl; score =
    sum over fields of w_f * bm25_f."""
    docs = _docs(spark, sf_dir)
    base = docs.select("doc_id", tokens_col("text").alias("tk"))
    title = base.select(
        "doc_id", F.lit("title").alias("field"),
        F.explode(F.slice("tk", 1, 5)).alias("term"))
    body = base.select(
        "doc_id", F.lit("body").alias("field"),
        F.explode(F.expr("slice(tk, 6, greatest(size(tk) - 5, 0))")).alias("term"))
    occ = title.unionByName(body)
    tf = occ.groupBy("field", "doc_id", "term").agg(F.count("*").alias("tf"))
    dl = occ.groupBy("field", "doc_id").agg(F.count("*").alias("dl"))
    st = dl.groupBy("field").agg(F.count("*").alias("nf"),
                                 F.avg("dl").alias("avgdl"))
    dfr = tf.groupBy("field", "term").agg(F.count("*").alias("df"))
    w = F.when(F.col("field") == "title", 2.5).otherwise(1.0)
    idf = F.log(F.lit(1.0) + (F.col("nf") - F.col("df") + 0.5) / (F.col("df") + 0.5))
    num = F.col("tf").cast("double") * (K1 + 1.0)
    den = F.col("tf").cast("double") + K1 * (
        1.0 - B + B * F.col("dl").cast("double") / F.col("avgdl"))
    return (
        tf.filter(F.col("term").isin(["spark", "join"]))
        .join(F.broadcast(dfr), ["field", "term"])
        .join(dl, ["field", "doc_id"])
        .join(F.broadcast(st), "field")
        .withColumn("contrib", w * idf * num / den)
        .groupBy("doc_id")
        .agg(F.round(F.sum("contrib") * 10000).cast("bigint").alias("score_x1e4"),
             F.count("*").alias("n_contribs"))
    )


def q_virtual_doc_split(spark, sf_dir):
    """T1 full — per-declaration virtual-doc splitting generalized to
    SQL-expressible form: each document explodes into one VIRTUAL DOC
    per '. '-separated section (the index engine's html splitter is
    hayoo_spark/split.py, tested for rank identity in pytest; this
    entry proves the explode-to-many-docs + per-virtual-doc BM25
    semantics against DuckDB).  vdoc_id = doc_id*1000 + section."""
    docs = _docs(spark, sf_dir)
    vd = docs.select(
        "doc_id",
        F.posexplode(F.split(F.col("text"), r"\. ")).alias("sec", "vtext"))
    vd = vd.select(
        (F.col("doc_id") * 1000 + F.col("sec")).alias("doc_id"),
        F.col("vtext").alias("text"))
    tf = relational.corpus_tokens(vd)
    scored = relational.score_terms(tf, ["spark"],
                                    stats=relational.corpus_stats(tf))
    return scored.select(F.col("doc_id").alias("vdoc_id"),
                         "score_x1e4", "n_terms")


def q_latest_version_dedup(spark, sf_dir):
    """S4 latest-version dedup scan: keep max-version row per key
    (reference: TarUtil.hs:93-134) — latest order per customer here."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").desc(), F.col("o_orderkey").desc())
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("o_custkey", "o_orderkey", "o_orderdate")
    )


def _nation_edges(spark, sf_dir):
    """Deterministic dependency DAG over the nation table (R1 edge-list
    analogue): child n depends on parent n//2."""
    nat = spark.read.parquet(f"{sf_dir}/nation.parquet")
    return (nat.filter(F.col("n_nationkey") > 0)
            .select(F.col("n_nationkey").cast("long").alias("src"),
                    F.floor(F.col("n_nationkey") / 2).cast("long").alias("dst")))


def q_transitive_closure(spark, sf_dir):
    """R3 transitive closure: iterative join-to-fixpoint with lineage
    checkpoints (reference PackageRank.hs:176-183)."""
    return graph.transitive_closure(_nation_edges(spark, sf_dir))


def q_pkg_rank(spark, sf_dir):
    """R5 dependents-prestige rank, w=0.5 (PackageRank.hs:248-261) —
    walk-weight formulation, exact dyadic arithmetic on both engines."""
    nat = spark.read.parquet(f"{sf_dir}/nation.parquet")
    nodes = nat.select(F.col("n_nationkey").cast("long").alias("node"))
    return graph.dependents_rank(nodes, _nation_edges(spark, sf_dir)) \
        .select("node", "rank_x1e4")


def q_cycle_edges(spark, sf_dir):
    """R4 cycle-edge filter over a functional graph n -> (n*n+1) mod 25
    on the nation keys (non-bijective: only 3 of 25 edges are cyclic).  Order-independent semantics (edges on ANY
    directed cycle — drop them to obtain a DAG); the reference's
    sequential union-find fold is input-order-dependent and documented
    as the deviation (PackageRank.hs:197-241)."""
    nat = spark.read.parquet(f"{sf_dir}/nation.parquet")
    edges = nat.select(
        F.col("n_nationkey").cast("long").alias("src"),
        ((F.col("n_nationkey") * F.col("n_nationkey") + 1) % 25)
        .cast("long").alias("dst"))
    return graph.cycle_edges(edges)


def s_url_frontier(spark, sf_dir):
    """S6+S7 URI frontier filter + canonical rewrite: deterministic
    link urls synthesized from customer keys (mixed-case hosts, denied
    extensions, fragments, tracking queries), filtered through the
    frontier predicate and normalized (ops/urls.py)."""
    from hayoo_spark.ops import urls
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    k = F.col("c_custkey").cast("long")
    url = F.concat(
        F.when(k % 11 == 0, F.lit("ftp://")).otherwise(F.lit("https://")),
        F.lit("Host"), (k % 7).cast("string"),
        F.when(k % 3 == 0, F.lit(".org")).otherwise(F.lit(".net")),
        F.lit("/P/"), k.cast("string"),
        F.when(k % 5 == 0, F.lit(".jpg"))
         .when(k % 5 == 1, F.lit("/"))
         .when(k % 5 == 2, F.lit("?utm_source=x"))
         .when(k % 5 == 3, F.lit("#frag"))
         .otherwise(F.lit(".html")))
    links = cust.select(url.alias("url"))
    return urls.frontier(links, allow_host_re=r"\.org")


def s_meta_scan(spark, sf_dir):
    """S3 cabal-style metadata scan: key/value header blocks (with a
    continuation line and version constraints) synthesized from the
    part keys, parsed with the JVM-regex block parser into the
    dependency edge list the rank stage consumes (ops/meta.py;
    reference: hayooIndexer cabal scan)."""
    from hayoo_spark.ops import meta
    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    k = F.col("p_partkey").cast("long")
    block = F.concat(
        F.lit("name: pkg"), (k % 60).cast("string"),
        F.lit("\nversion: "), (k % 7).cast("string"),
        F.lit("."), (k % 3).cast("string"),
        F.lit("\nsynopsis: part\n  "), F.col("p_name"),
        F.lit("\nbuild-depends: base >=4."), (k % 5).cast("string"),
        F.lit(", pkg"), ((k + 1) % 60).cast("string"),
        F.lit(" ==1.2,\n  pkg"), ((k * 3) % 60).cast("string"),
        F.lit("\n"))
    docs = part.select(block.alias("meta"))
    return meta.depends_edges(docs).select("src", "dst")


def s_crawl_frontier(spark, sf_dir):
    """S5 crawl-loop analogue: depth-bounded BFS over a deterministic
    link graph on the nation keys, with the S6/S7 frontier predicate +
    canonical rewrite applied every round (ops/crawl.py).  The Spark side
    generates NOISY hrefs (fragments, denied extensions, disallowed
    hosts) that the loop must filter/normalize away; the oracle's
    recursive CTE generates only the clean edges — any filtering bug
    surfaces as extra rows."""
    from hayoo_spark.ops import crawl
    nat = spark.read.parquet(f"{sf_dir}/nation.parquet")
    n = F.col("n_nationkey").cast("long")
    page = lambda e: F.concat(F.lit("https://crawl.org/p"),  # noqa: E731
                              e.cast("string"))
    links = None
    for href in (page((2 * n) % 25),
                 F.concat(page((3 * n + 1) % 25), F.lit("#frag")),
                 F.concat(F.lit("https://crawl.org/img"), n.cast("string"),
                          F.lit(".jpg")),
                 F.concat(F.lit("https://other.net/p"), n.cast("string"))):
        part = nat.select(page(n).alias("src"), href.alias("href"))
        links = part if links is None else links.unionByName(part)
    seeds = spark.createDataFrame(
        [("https://crawl.org/p0",), ("https://crawl.org/p1",)],
        "url string")
    return crawl.expand_frontier(links, seeds, rounds=3) \
        .select("url", F.col("depth").cast("int").alias("depth"))


def s_line_records(spark, sf_dir):
    """S8/T11 line->record fold: marker-delimited records assembled
    from a deterministic line stream over the customer keys
    (sources/lines.py; reference: hoogle line parser's stateful
    fold → distributed cumulative-sum form)."""
    from hayoo_spark.sources import lines as L
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    k = F.col("c_custkey").cast("long")
    text = F.when(k % 5 == 0,
                  F.concat(F.lit("@package pkg"), (k / 5).cast("long")
                           .cast("string"))) \
        .otherwise(F.concat(F.lit("line "), k.cast("string")))
    # one synthetic "file": an explicit constant partition column — the
    # informed-caller form the API demands (a global default would fold
    # arbitrarily large corpora in one task); real readers partition by
    # input file (read_text_records)
    df = cust.select(F.lit(0).alias("file"), k.alias("line_no"),
                     text.alias("text"))
    return (L.assemble_records(df)
            .select(F.col("record_id").cast("long").alias("record_id"),
                    "header", "body",
                    F.col("n_lines").cast("int").alias("n_lines")))


def s_hoogle_decls(spark, sf_dir):
    """T11 full: hoogle declaration grammar + stateful fold
    (sources/hoogle.py; reference ParseHoogle.hs:16-209 +
    ProcessLine.hs:17-92).  A deterministic synthetic export stream is
    built from the customer keys — every line kind (package / module /
    comment / function / data / type / newtype / instance / multi-decl
    / blank) appears on a fixed k%10 schedule, so the fold's state
    (current package, module, uri prefix, pending comments) is pure
    arithmetic the DuckDB twin reproduces directly."""
    from hayoo_spark.sources import hoogle as Hg
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    k = F.col("c_custkey").cast("long")
    d = F.floor(k / 10).cast("long").cast("string")
    ks = k.cast("string")
    text = (
        F.when(k % 10 == 0, F.concat(F.lit("@package pkg"), d))
        .when(k % 10 == 1, F.concat(F.lit("module Mod"), d, F.lit(".Sub")))
        .when(k % 10 == 2, F.concat(F.lit("-- | doc line "), ks))
        .when(k % 10 == 3, F.concat(F.lit("fn"), ks, F.lit(" :: Alpha"),
                                    (k % 7).cast("string"),
                                    F.lit(" -> Beta"),
                                    (k % 5).cast("string")))
        .when(k % 10 == 4, F.concat(F.lit("data Dat"), ks))
        .when(k % 10 == 5, F.concat(F.lit("type Syn"), ks,
                                    F.lit(" = Alpha"),
                                    (k % 7).cast("string")))
        .when(k % 10 == 6, F.concat(F.lit("newtype New"), ks, F.lit(" a")))
        .when(k % 10 == 7, F.concat(F.lit("instance Eq Dat"), ks))
        .when(k % 10 == 8, F.concat(F.lit("va"), ks, F.lit(", vb"), ks,
                                    F.lit(" :: Gamma"),
                                    (k % 3).cast("string")))
        .otherwise(F.lit("")))
    lines = cust.select(F.lit("0").alias("file"), k.alias("line_no"),
                        text.alias("text"))
    return (Hg.parse_hoogle_decls(lines)
            .select(F.col("line_no").cast("long").alias("line_no"),
                    "package", "module", "name", "fct_type",
                    "signature", "description", "doc_uri"))


def q_haddock_decl_split(spark, sf_dir):
    """T1 Haddock dialect: declaration-item virtual docs
    (split.split_decl_virtual_docs; reference Haddock.hs:156-260).
    One synthetic Haddock page per customer key with a module header
    and two declaration items — emissions are pure arithmetic for the
    DuckDB twin."""
    from hayoo_spark.split import split_decl_virtual_docs
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    k = F.col("c_custkey").cast("long")
    ks = k.cast("string")
    html = F.concat(
        F.lit("<html><head><title>Mod"), ks,
        F.lit("</title></head><body>"
              '<div id="description"><div class="doc">module doc '), ks,
        F.lit('</div></div><div id="interface">'
              '<div class="top"><p class="src">'
              '<a name="v:fn'), ks,
        F.lit('" class="def">fn'), ks,
        F.lit("</a> :: Alpha"), (k % 7).cast("string"),
        F.lit(" -&gt; Beta"), (k % 5).cast("string"),
        F.lit('</p><div class="doc">does thing '), ks,
        F.lit('</div></div><div class="top"><p class="src">'
              '<a name="t:Dat'), ks,
        F.lit('" class="def">Dat'), ks,
        F.lit("</a></p></div></div></body></html>"))
    pages = cust.select(
        F.concat(F.lit("https://h.test/p"), ks, F.lit(".html"))
        .alias("url"),
        F.encode(html, "UTF-8").alias("html"))
    out = split_decl_virtual_docs(pages)
    return out.select("url", "signature")


def s_reexport_merge(spark, sf_dir):
    """Gen-1 re-export merge (pipeline.merge_reexports; reference
    FctIndexerCore.hs:196-244 toCmd + :276-297 toDup/lookupDup,
    ApiDocument.hs:76-81 — the identity hash deliberately EXCLUDES the
    module): function declarations equal up to module collapse to the
    lexicographically-first URI, which carries every URI and module
    name of the group (d'uris / d'module description entries).  A
    synthetic decl per customer key; groups share k % 479, modules and
    URIs derive from k, so the window twin is pure arithmetic."""
    from hayoo_spark.pipeline import merge_reexports
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    k = F.col("c_custkey").cast("long")
    r = (k % 479).cast("string")
    ks = k.cast("string")
    decls = cust.select(
        F.lit("basepkg").alias("package"),
        F.concat(F.lit("M"), ks).alias("module"),
        F.concat(F.lit("fn"), r).alias("name"),
        F.when(k % 5 == 0, F.lit("data"))
        .otherwise(F.lit("function")).alias("fct_type"),
        F.concat(F.lit("Alpha"), r).alias("signature"),
        F.concat(F.lit("doc "), r).alias("description"),
        F.concat(F.lit("u://"), r, F.lit("/"), ks).alias("doc_uri"))
    out = merge_reexports(decls)
    return out.select(
        "name", "fct_type", "doc_uri",
        F.concat_ws(",", "alt_uris").alias("alt_uris"),
        F.concat_ws(",", "alt_modules").alias("alt_modules"))


def q_join_compose(spark, sf_dir):
    """R2 relation composition: supplier ⋈ nation ⋈ region with
    broadcast of the small sides (reference: PackageRank.hs:141-174)."""
    sup = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    nat = spark.read.parquet(f"{sf_dir}/nation.parquet")
    reg = spark.read.parquet(f"{sf_dir}/region.parquet")
    return (
        sup.join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
        .groupBy(F.col("r_name").alias("region"))
        .agg(F.count("*").alias("n_suppliers"))
    )


def d_exact_dup(spark, sf_dir):
    """A6/A7 exact dedup by content digest (md5 groups)."""
    docs = _docs(spark, sf_dir)
    return (
        docs.select(F.md5("text").alias("digest"), "doc_id")
        .groupBy("digest")
        .agg(F.count("*").alias("n"), F.min("doc_id").alias("keeper"))
    )


def d_ngram_jaccard(spark, sf_dir):
    """Exact 3-gram Jaccard near-dup pairs (threshold 0.2)."""
    return dedup.ngram_jaccard_pairs(_docs(spark, sf_dir), n=3, threshold=0.2,
                                     sh=_shingles(spark, sf_dir))


def d_minhash_lsh(spark, sf_dir):
    """MinHash+LSH near-dup candidates, exact-verified.  Every hash in
    the pipeline (shingle base hash, band buckets) is md5-derived, so
    the full LSH candidate generation + verify has an exact DuckDB
    twin — the probabilistic recall is identical on both engines."""
    return dedup.minhash_lsh_pairs(_docs(spark, sf_dir), n=3, threshold=0.2,
                                   sh=_shingles(spark, sf_dir))


def d_simhash(spark, sf_dir):
    """SimHash near-dup pairs (56-bit md5-derived signatures, banded
    candidate generation) — exact DuckDB twin."""
    return dedup.simhash_pairs(_docs(spark, sf_dir), max_hamming=6)


def d_embed_neardup(spark, sf_dir):
    """Embedding-cosine near-dup pairs (exact pairwise, double precision)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return dedup.embedding_neardup_pairs(emb, threshold=0.30)


def sim_cosine_topk(spark, sf_dir):
    """Brute-force cosine top-k vs the vec_id=0 query vector."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qvec = emb.filter(F.col("vec_id") == 0).collect()[0]["embedding"]
    out = similarity.cosine_topk(emb, list(qvec), k=10)
    return out.select("vec_id", "cos_x1e6")


def sim_lsh_topk(spark, sf_dir):
    """LSH-bucketed ANN top-k.  Approximate by design, but deterministic
    given the seeded hyperplanes — the DuckDB twin embeds the same plane
    literals and reproduces bucket choice + multiprobe exactly."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qvec = emb.filter(F.col("vec_id") == 0).collect()[0]["embedding"]
    out = similarity.lsh_cosine_topk(emb, list(qvec), k=10, bits=6, multiprobe=2)
    return out.select("vec_id", "cos_x1e6")


def sim_ivf_topk(spark, sf_dir):
    """IVF-bucketed ANN top-k (deterministic sampled centroids, 4-probe)
    — exact DuckDB twin reproduces centroid choice, assignment, probe
    order, and the final cosine top-k."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qvec = emb.filter(F.col("vec_id") == 0).collect()[0]["embedding"]
    out = similarity.ivf_cosine_topk(emb, list(qvec), k=10, n_cells=16,
                                     n_probe=4)
    return out.select("vec_id", "cos_x1e6")


def mm_payload_stats(spark, sf_dir):
    """Multimodal plumbing probe: documents' utf-8 bytes ride as an
    opaque binary payload column through the same Arrow-batched
    mapInPandas path a media decoder uses (ops/multimodal.py); the
    outputs (length, digest, chunk fan-out) have exact SQL twins."""
    from hayoo_spark.ops import multimodal
    docs = _docs(spark, sf_dir).select(
        "doc_id", F.encode("text", "utf-8").alias("payload"))
    return multimodal.payload_stats(docs)


def t_token_count(spark, sf_dir):
    return textstats.token_count(_docs(spark, sf_dir))


def s_insert_commands(spark, sf_dir):
    """S10 data shape: Hunt ApiDocument insert commands emitted from
    the documents table (sinks/commands.py; reference ApiDocument.hs
    30-50).  Map columns are projected to scalars for the hash compare
    (map key order is engine-dependent)."""
    from hayoo_spark.sinks import commands as C
    docs = _docs(spark, sf_dir).select(
        F.concat(F.lit("https://doc/"), F.col("doc_id").cast("string"))
        .alias("url"), "text")
    api = C.api_documents(docs)
    return api.select(
        "uri", F.col("index")["text"].alias("index_text"))


def s_command_stream(spark, sf_dir):
    """S10 full Hunt command language (sinks/commands.py): the
    delete-before-insert stream — delete-by-query per distinct source
    context value (FctIndexerCore.hs:95-105), boost-weighted inserts
    (ApiDocument.hs:30-50), and update-weight commands for the rank
    pass (JsonUtil.hs:115-121) — emitted as real JSON by the sink,
    parsed back and projected to scalars (JSON key order and float
    rendering are engine-dependent; the parse proves the shape)."""
    from hayoo_spark.sinks import commands as C
    docs = _docs(spark, sf_dir)
    k = F.col("doc_id").cast("long")
    url = F.concat(F.lit("https://doc/"), k.cast("string"))
    pages = docs.select(url.alias("url"), "text",
                        F.when(k % 10 == 0, 2.5).otherwise(1.0)
                        .alias("boost"))
    inserts = C.insert_commands(pages)
    deletes = C.delete_by_query_commands(
        docs.select(F.col("source").alias("name")).distinct(),
        "name", "source")
    updates = C.update_weight_commands(
        docs.filter(k % 7 == 0)
        .select(url.alias("url"),
                ((k % 5).cast("double") + 0.5).alias("boost")))
    ins_s = ("cmd string, document struct<uri string, "
             "index map<string,string>, weight double>")
    parsed_ins = (inserts
                  .select(F.from_json("value", ins_s).alias("c"))
                  .select(F.col("c.cmd").alias("kind"),
                          F.col("c.document.uri").alias("uri"),
                          F.col("c.document.weight").alias("weight"),
                          F.length(F.col("c.document.index")["text"])
                          .cast("long").alias("n_chars_indexed"),
                          F.lit(None).cast("string").alias("word")))
    del_s = ("cmd string, query struct<type string, "
             "contexts array<string>, "
             "query struct<op string, type string, word string>>")
    parsed_del = (deletes
                  .select(F.from_json("value", del_s).alias("c"))
                  .select(F.col("c.cmd").alias("kind"),
                          F.lit(None).cast("string").alias("uri"),
                          F.lit(None).cast("double").alias("weight"),
                          F.lit(None).cast("long")
                          .alias("n_chars_indexed"),
                          F.col("c.query.query.word").alias("word")))
    upd_s = "cmd string, document struct<uri string, weight double>"
    parsed_upd = (updates
                  .select(F.from_json("value", upd_s).alias("c"))
                  .select(F.col("c.cmd").alias("kind"),
                          F.col("c.document.uri").alias("uri"),
                          F.col("c.document.weight").alias("weight"),
                          F.lit(None).cast("long")
                          .alias("n_chars_indexed"),
                          F.lit(None).cast("string").alias("word")))
    return parsed_ins.unionByName(parsed_del).unionByName(parsed_upd)


def d_dedup_clusters(spark, sf_dir):
    """Near-dup GROUPS from LSH-verified pairs: connected components
    by iterative min-label propagation (ops/dedup.dedup_clusters) —
    pair emission alone cannot dedup (a~b, b~c must share one keeper).
    DuckDB twin: recursive min-reachable-id."""
    pairs = dedup.minhash_lsh_pairs(_docs(spark, sf_dir), n=3,
                                    threshold=0.2,
                                    sh=_shingles(spark, sf_dir))
    return dedup.dedup_clusters(pairs)


def t_clean_corpus(spark, sf_dir):
    """The composed training-data cleaning pass
    (ops/textstats.clean_corpus): quality >= 0.5, lang allowlist
    {en, de}, near-dup keeper-only (LSH pairs -> components)."""
    docs = _docs(spark, sf_dir)
    pairs = dedup.minhash_lsh_pairs(docs, n=3, threshold=0.2,
                                    sh=_shingles(spark, sf_dir))
    out = textstats.clean_corpus(docs, min_quality_x1e4=5000,
                                 langs=("en", "de"), dedup_pairs=pairs)
    return out.select("doc_id", "quality_x1e4", "pred_lang")


def t_quality(spark, sf_dir):
    return textstats.quality_score(_docs(spark, sf_dir)) \
        .select("doc_id", "n_tokens", "quality_x1e4")


def t_lang_id(spark, sf_dir):
    return textstats.lang_id(_docs(spark, sf_dir)) \
        .select("doc_id", "hits_en", "hits_de", "pred_lang")


def t_fingerprint(spark, sf_dir):
    return textstats.fingerprint(_docs(spark, sf_dir))


def t_pii_scrub(spark, sf_dir):
    """PII redaction (ops/textstats.scrub_pii): emails / +intl phones /
    IPv4 literals -> typed placeholders + per-doc count, pure JVM
    regexps.  The zipf corpus carries no PII, so deterministic spans
    are appended per doc_id class — the oracle builds the same text."""
    docs = _docs(spark, sf_dir)
    k = F.col("doc_id")
    text = F.concat(
        F.col("text"),
        F.when(k % 7 == 0, F.concat(
            F.lit(" contact user"), k.cast("string"),
            F.lit("@example.com now")))
        .when(k % 7 == 1, F.concat(F.lit(" call +4915512"),
                                   (k % 1000).cast("string")))
        .when(k % 7 == 2, F.concat(F.lit(" host 10.0."),
                                   (k % 255).cast("string"),
                                   F.lit(".7 up")))
        .when(k % 7 == 3, F.concat(
            F.lit(" both a.b"), k.cast("string"),
            F.lit("@mail.org and 192.168.1."),
            (k % 99).cast("string")))
        .otherwise(F.lit("")))
    out = textstats.scrub_pii(docs.select("doc_id", text.alias("text")))
    return out.select(
        "doc_id", "n_pii",
        F.right("text_scrubbed", F.lit(40)).alias("tail40"))


def d_contamination(spark, sf_dir):
    """Benchmark-contamination detection (ops/dedup.contamination):
    training docs sharing a 3-token shingle with the benchmark side
    (doc_id % 97 == 0 plays the held-out eval set), shared-shingle
    count as evidence; the tiny benchmark side broadcasts."""
    docs = _docs(spark, sf_dir)
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    train = docs.filter(F.col("doc_id") % 97 != 0)
    return dedup.contamination(train, bench)


def t_repetition(spark, sf_dir):
    """Gopher-style within-doc repetition signals
    (ops/textstats.repetition_signals): duplicate-line counts over a
    deterministically line-broken view of the corpus (the zipf text is
    single-line, so ' data ' plays the line separator in BOTH engines)
    + most-frequent-bigram coverage.  All-integer outputs — the
    cross-engine hash is drift-free."""
    docs = _docs(spark, sf_dir).withColumn(
        "text", F.regexp_replace("text", " data ", "\n"))
    return textstats.repetition_signals(docs)


def t_url_filter(spark, sf_dir):
    """C4-style URL rule filter with typed verdicts
    (ops/urls.url_quality_filter).  The documents table carries no URL
    column, so one is synthesized deterministically per doc_id class
    (same CASE in the oracle) covering every rule: blocked host,
    blocked pattern, bad scheme, over-deep path, over-long URL, keep."""
    from hayoo_spark.ops.urls import url_quality_filter
    k = F.col("doc_id")
    url = (F.when(k % 11 == 0, F.concat(F.lit("https://ads.example.com/b/"),
                                        k.cast("string")))
           .when(k % 11 == 1, F.concat(F.lit("https://ok.org/a?sessionid="),
                                       k.cast("string")))
           .when(k % 11 == 2, F.concat(F.lit("ftp://files.org/"),
                                       k.cast("string")))
           .when(k % 11 == 3, F.concat(F.lit("https://deep.org"),
                                       F.repeat(F.lit("/p"), 12)))
           .when(k % 11 == 4, F.concat(F.lit("https://ok.org/"),
                                       F.repeat(F.lit("x"), 2100)))
           .otherwise(F.concat(F.lit("https://good.com/article/"),
                               k.cast("string"))))
    docs = _docs(spark, sf_dir).withColumn("url", url)
    return url_quality_filter(
        docs, blocked_hosts=("ads.example.com",),
        blocked_patterns=(r"[?&]sessionid=",))


#: the shared boilerplate footer for d_substring_spans — a fixed
#: 10-token phrase appended to every doc_id % 5 == 0 doc, guaranteeing
#: known cross-document >=w-token exact duplicate spans (the zipf text
#: itself also contributes natural ones; both engines see the same).
_FOOTER = (" alpha beta gamma delta epsilon zeta eta theta iota kappa")


def d_substring_spans(spark, sf_dir):
    """Exact-substring (Lee et al. windowed-hash) duplication
    (ops/dedup.substring_dup_spans): per-doc coverage by 8-token
    windows shared with another document.  A deterministic boilerplate
    footer is appended to every 5th doc (same CASE in the oracle) so
    the duplicated-span machinery is exercised on known spans."""
    docs = _docs(spark, sf_dir).withColumn(
        "text", F.concat(F.col("text"),
                         F.when(F.col("doc_id") % 5 == 0, F.lit(_FOOTER))
                         .otherwise(F.lit(""))))
    return dedup.substring_dup_spans(docs, w=8)


def t_stratified_sample(spark, sf_dir):
    """Deterministic domain-mixture sampling
    (ops/corpus.stratified_sample): keep 60% of en, 30% of de, 10%
    of everything else, decided by an md5-derived per-key draw — the
    SAME rows survive at any parallelism, and the oracle reproduces
    the draw bit-exactly."""
    from hayoo_spark.ops import corpus
    return corpus.stratified_sample(
        _docs(spark, sf_dir), rates={"en": 0.6, "de": 0.3},
        stratum="lang", default_rate=0.1).select("doc_id", "lang")


def t_hash_split(spark, sf_dir):
    """Deterministic train/val/test assignment (ops/corpus.hash_split):
    cumulative hash ranges over an md5-derived uniform draw, no rand()
    (whose seeding varies with partitioning)."""
    from hayoo_spark.ops import corpus
    return corpus.hash_split(
        _docs(spark, sf_dir),
        splits={"train": 0.8, "val": 0.1, "test": 0.1}) \
        .select("doc_id", "split")


def t_pack_sequences(spark, sf_dir):
    """GPT-style sequence-packing assignment (ops/corpus.pack_sequences):
    docs concatenate in doc_id order within each `source` shard and cut
    every 256 tokens; each doc reports its bin and offset.  The only
    wide op is a per-shard window cumsum — no global order."""
    from hayoo_spark.ops import corpus
    return corpus.pack_sequences(_docs(spark, sf_dir), budget=256,
                                 shard="source")


def t_chunk_docs(spark, sf_dir):
    """Overlapping token-window chunking (ops/corpus.chunk_documents):
    32-token windows every 24 tokens — the RAG / long-context prep
    step.  Pure codegen fan-out, zero shuffle; zero-token docs emit
    zero chunks."""
    from hayoo_spark.ops import corpus
    return corpus.chunk_documents(_docs(spark, sf_dir), size=32,
                                  stride=24)


def t_tfidf_keywords(spark, sf_dir):
    """Per-doc top-3 keywords by tf-idf (ops/textstats.tfidf_keywords);
    the idf factor is the integer surrogate (1e6*N) DIV df so both
    engines rank with exact integer arithmetic."""
    out = textstats.tfidf_keywords(_docs(spark, sf_dir), k=3)
    return out.select("doc_id", F.col("rank").cast("bigint").alias("rank"),
                      "term", "tf", "score_q")


def d_semantic_dedup(spark, sf_dir):
    """SemDeDup-style semantic near-dup pairs
    (ops/dedup.semantic_dedup_pairs): deterministic IVF cells, pairwise
    cosine only WITHIN a cell (equi-join on cell — never a global
    cross join), threshold 0.30 on the double-cast dot."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return dedup.semantic_dedup_pairs(emb, n_cells=16, threshold=0.30)


def t_lm_perplexity(spark, sf_dir):
    """CCNet-style model-based quality signal (ops/lm.lm_perplexity):
    per-doc bits-per-token under a self-trained add-one bigram LM.
    Cross-engine exact: the one libm call (log2 of an exact integer
    ratio) is quantized to integer centibits per bigram BEFORE the
    per-doc sum, so accumulation order cannot move the hash."""
    from hayoo_spark.ops import lm
    return lm.lm_perplexity(_docs(spark, sf_dir))


def t_bpe_pairs(spark, sf_dir):
    """BPE tokenizer training, the Spark-side statistic (ops/bpe):
    weighted adjacent symbol-pair counts over the word histogram —
    exactly what the first merge maximizes.  The (bounded, driver-side)
    merge loop itself is pytest-verified against a brute-force
    reference; this entry gates the corpus-touching pass."""
    from hayoo_spark.ops import bpe
    hist = bpe.word_histogram(_docs(spark, sf_dir))
    return bpe.bpe_pair_counts(hist, top=50)


def d_line_dedup(spark, sf_dir):
    """C4-style global line-level exact dedup (ops/dedup.line_dedup):
    every distinct non-empty line keeps only its first corpus-wide
    occurrence (min (doc_id, pos)); docs reassemble from surviving
    lines in order.  ' data ' plays the line separator in both engines
    (same convention as t_repetition)."""
    docs = _docs(spark, sf_dir).withColumn(
        "text", F.regexp_replace("text", " data ", "\n"))
    return dedup.line_dedup(docs)


def t_bpe_encode(spark, sf_dir):
    """BPE corpus encoding (ops/bpe.apply_bpe): merges trained
    driver-side from the word histogram (deterministic max-count /
    lexicographic tie rule), then the corpus encodes via the
    Arrow-batched mapInPandas kernel — per-doc token and piece counts.
    The GPT-2-style iterative merge application is not SQL-expressible,
    so this entry carries no DuckDB twin (driver records the weaker
    rows-only check); pytest asserts parity against an independent
    pure-Python re-encode of the same corpus."""
    from hayoo_spark.ops import bpe
    docs = _docs(spark, sf_dir)
    hist = bpe.word_histogram(docs, max_words=512)
    merges = bpe.train_bpe(hist, n_merges=64)
    return bpe.apply_bpe(docs, merges).select(
        "doc_id", "n_tokens", "n_pieces")


def t_domain_mixture(spark, sf_dir):
    """Exact-proportion domain-mixture resampling
    (ops/corpus.domain_mixture): target output shares src0/src1/src2 =
    50/30/20%, rates derived from the per-domain counts (binding
    domain keeps everything), decided by the deterministic per-key
    draw both engines reproduce bit-exactly."""
    from hayoo_spark.ops import corpus
    return corpus.domain_mixture(
        _docs(spark, sf_dir),
        targets={"src0": 0.5, "src1": 0.3, "src2": 0.2}) \
        .select("doc_id", "source")


def t_quality_classifier(spark, sf_dir):
    """Model-based quality gate (ops/textstats.quality_classifier):
    fixed-weight linear classifier over the engineered feature row
    (length cap, alpha ratio, stopword cap, top-bigram coverage,
    duplicate-line fraction) -> quantized logit + keep label.  The
    zipf text is single-line, so ' data ' plays the line separator in
    both engines (same convention as t_repetition)."""
    docs = _docs(spark, sf_dir).withColumn(
        "text", F.regexp_replace("text", " data ", "\n"))
    return textstats.quality_classifier(docs)


def q_events_sessionize(spark, sf_dir):
    """Stateful-fold analogue (T12): per-user session counts with a
    30-minute inactivity gap, via window lag + running sum."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # microsecond-exact integers on both engines (unix_micros / epoch_us);
    # session tz is UTC so the NTZ->LTZ cast is identity
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    gap = F.when(us - F.lag(us).over(w) > 1_800_000_000, 1).otherwise(0)
    sess = ev.withColumn("new_sess", F.coalesce(gap, F.lit(0))) \
        .withColumn("sess_id", F.sum("new_sess").over(w))
    return (
        sess.groupBy("user_id")
        .agg((F.max("sess_id") + 1).alias("n_sessions"),
             F.count("*").alias("n_events"))
    )


def q_sessionize_stream(spark, sf_dir):
    """Structured-Streaming stateful sessionization (SURVEY §2.7 /
    T12): the events table is replayed as a two-drop file stream,
    drained with availableNow through applyInPandasWithState, and the
    final per-user emission must equal the batch window-lag sessionizer
    — so the BATCH oracle SQL checks the STREAMING operator."""
    import shutil
    import tempfile
    import uuid

    from hayoo_spark import streaming

    ev = (spark.read.parquet(f"{sf_dir}/events.parquet")
          .select("event_id", "user_id", "ts")
          .orderBy("ts", "event_id"))
    pdf = ev.toPandas()
    # microsecond precision: Spark's NTZ parquet reader rejects NANOS
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    d = tempfile.mkdtemp(prefix="hayoo_stream_")
    half = len(pdf) // 2
    pdf.iloc[:half].to_parquet(f"{d}/drop-0.parquet", index=False)
    pdf.iloc[half:].to_parquet(f"{d}/drop-1.parquet", index=False)
    name = "sess_" + uuid.uuid4().hex[:12]
    stream = spark.readStream.schema(ev.schema).parquet(d)
    q = (streaming.sessionize_stream(stream)
         .writeStream.format("memory").queryName(name)
         .outputMode("update").trigger(availableNow=True).start())
    q.awaitTermination(300)
    shutil.rmtree(d, ignore_errors=True)
    # update mode: one row per user per touching micro-batch; n_events
    # grows monotonically per user, so the max-n_events row is the
    # drained total (order-independent — the memory sink's collected row
    # order is not a contract, ADVICE r2)
    pdf = spark.table(name).toPandas()
    out = pdf.loc[pdf.groupby("user_id")["n_events"].idxmax()] \
        .sort_values("user_id").reset_index(drop=True)
    return spark.createDataFrame(
        out, "user_id long, n_sessions long, n_events long")


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: multi-term BM25 AND over sf0.001 documents."""
    sf_dir = "/root/testdata/sf0.001"
    return _score_out(_score(spark, sf_dir, ["table", "join"], mode="and"))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "q_bm25_term": q_bm25_term,
        "q_bm25_and": q_bm25_and,
        "q_bm25_or": q_bm25_or,
        "q_bm25_andnot": q_bm25_andnot,
        "q_bm25_prefix": q_bm25_prefix,
        "q_phrase": q_phrase,
        "q_field_scoped": q_field_scoped,
        "q_range_filter": q_range_filter,
        "q_date_prefix_range": q_date_prefix_range,
        "q_topk_paging": q_topk_paging,
        "q_autocomplete": q_autocomplete,
        "q_boost": q_boost,
        "q_field_weighted": q_field_weighted,
        "q_virtual_doc_split": q_virtual_doc_split,
        "q_latest_version_dedup": q_latest_version_dedup,
        "q_join_compose": q_join_compose,
        "q_transitive_closure": q_transitive_closure,
        "q_cycle_edges": q_cycle_edges,
        "s_url_frontier": s_url_frontier,
        "s_meta_scan": s_meta_scan,
        "s_crawl_frontier": s_crawl_frontier,
        "s_line_records": s_line_records,
        "q_pkg_rank": q_pkg_rank,
        "q_events_sessionize": q_events_sessionize,
        "q_sessionize_stream": q_sessionize_stream,
        "d_exact_dup": d_exact_dup,
        "d_ngram_jaccard": d_ngram_jaccard,
        "d_minhash_lsh": d_minhash_lsh,
        "d_simhash": d_simhash,
        "d_embed_neardup": d_embed_neardup,
        "sim_cosine_topk": sim_cosine_topk,
        "sim_lsh_topk": sim_lsh_topk,
        "sim_ivf_topk": sim_ivf_topk,
        "mm_payload_stats": mm_payload_stats,
        "s_insert_commands": s_insert_commands,
        "s_command_stream": s_command_stream,
        "s_hoogle_decls": s_hoogle_decls,
        "q_haddock_decl_split": q_haddock_decl_split,
        "s_reexport_merge": s_reexport_merge,
        "d_dedup_clusters": d_dedup_clusters,
        "t_clean_corpus": t_clean_corpus,
        "t_token_count": t_token_count,
        "t_quality": t_quality,
        "t_lang_id": t_lang_id,
        "t_fingerprint": t_fingerprint,
        "t_pii_scrub": t_pii_scrub,
        "d_contamination": d_contamination,
        "q_case_sensitive": q_case_sensitive,
        "q_case_phrase": q_case_phrase,
        "t_repetition": t_repetition,
        "t_url_filter": t_url_filter,
        "d_substring_spans": d_substring_spans,
        "t_stratified_sample": t_stratified_sample,
        "t_hash_split": t_hash_split,
        "t_pack_sequences": t_pack_sequences,
        "t_chunk_docs": t_chunk_docs,
        "t_tfidf_keywords": t_tfidf_keywords,
        "d_semantic_dedup": d_semantic_dedup,
        "t_lm_perplexity": t_lm_perplexity,
        "t_bpe_pairs": t_bpe_pairs,
        "t_bpe_encode": t_bpe_encode,
        "d_line_dedup": d_line_dedup,
        "t_domain_mixture": t_domain_mixture,
        "t_quality_classifier": t_quality_classifier,
    }


# ------------------------------------------------------------- oracle SQL

_TOKS = (
    "SELECT doc_id, t.term FROM documents, "
    f"UNNEST(regexp_extract_all(lower(text), '{TOKEN_RE}')) AS t(term) "
    f"WHERE length(t.term) >= {MIN_TOKEN_LEN}"
)

_TOKS_POS = textstats.duckdb_tokens_cte("documents", "doc_id", "text")

_BM25_CTES = f"""
WITH toks AS ({_TOKS}),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
stats AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM dl),
dfr AS (SELECT term, count(*) AS df FROM tf GROUP BY term)
"""


def _bm25_select(pred: str, having: str = "", weight: str = "1.0") -> str:
    contrib = (
        f"ln(1.0 + (stats.n - dfr.df + 0.5)/(dfr.df + 0.5)) * {weight} "
        f"* tf.tf * ({K1} + 1.0) "
        f"/ (tf.tf + {K1} * (1.0 - {B} + {B} * dl.dl / stats.avgdl))"
    )
    return f""",
scores AS (
  SELECT tf.doc_id,
         CAST(ROUND(sum({contrib}) * 10000) AS BIGINT) AS score_x1e4,
         count(DISTINCT tf.term) AS n_terms
  FROM tf JOIN dfr USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
  WHERE {pred}
  GROUP BY tf.doc_id
  {having})
"""


_EMB_DOT = """
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
pairs AS (
  SELECT e.vec_id, e.embedding AS v, q.qv FROM embeddings e CROSS JOIN q
),
expl AS (
  SELECT vec_id,
         unnest(v)::DOUBLE AS x, unnest(qv)::DOUBLE AS y
  FROM pairs
),
dots AS (
  SELECT vec_id, sum(x*y) AS dot, sqrt(sum(x*x)) AS na, sqrt(sum(y*y)) AS nb
  FROM expl GROUP BY vec_id
)
"""


def oracle_sql() -> dict[str, str]:
    sql: dict[str, str] = {}
    sql["s_reexport_merge"] = """
WITH decls AS (
  SELECT 'basepkg' AS package,
         'M' || CAST(c_custkey AS VARCHAR) AS module,
         'fn' || CAST(c_custkey % 479 AS VARCHAR) AS name,
         CASE WHEN c_custkey % 5 = 0 THEN 'data'
              ELSE 'function' END AS fct_type,
         'Alpha' || CAST(c_custkey % 479 AS VARCHAR) AS signature,
         'doc ' || CAST(c_custkey % 479 AS VARCHAR) AS description,
         'u://' || CAST(c_custkey % 479 AS VARCHAR) || '/' ||
           CAST(c_custkey AS VARCHAR) AS doc_uri
  FROM customer
), fct AS (
  SELECT name, fct_type, doc_uri,
         row_number() OVER w AS rn,
         count(*) OVER w2 AS cnt,
         array_to_string(list(doc_uri) OVER w2, ',') AS uris,
         array_to_string(list(module) OVER w2, ',') AS mods
  FROM decls WHERE fct_type = 'function'
  WINDOW w AS (PARTITION BY name, signature, package, description
               ORDER BY doc_uri),
         w2 AS (PARTITION BY name, signature, package, description
                ORDER BY doc_uri
                ROWS BETWEEN UNBOUNDED PRECEDING
                AND UNBOUNDED FOLLOWING)
)
SELECT name, fct_type, doc_uri,
       CASE WHEN cnt > 1 THEN uris ELSE '' END AS alt_uris,
       CASE WHEN cnt > 1 THEN mods ELSE '' END AS alt_modules
FROM fct WHERE rn = 1
UNION ALL
SELECT name, fct_type, doc_uri, '' AS alt_uris, '' AS alt_modules
FROM decls WHERE fct_type <> 'function'"""
    sql["q_bm25_term"] = _BM25_CTES + _bm25_select("tf.term IN ('spark')") + \
        "SELECT doc_id, score_x1e4, n_terms FROM scores"
    sql["q_bm25_and"] = _BM25_CTES + _bm25_select(
        "tf.term IN ('spark','join','window')",
        "HAVING count(DISTINCT tf.term) = 3") + \
        "SELECT doc_id, score_x1e4, n_terms FROM scores"
    sql["q_bm25_or"] = _BM25_CTES + _bm25_select("tf.term IN ('hash','merge')") + \
        "SELECT doc_id, score_x1e4, n_terms FROM scores"
    sql["q_bm25_andnot"] = _BM25_CTES + _bm25_select("tf.term IN ('scan')") + """
SELECT doc_id, score_x1e4, n_terms FROM scores
WHERE doc_id NOT IN (SELECT DISTINCT doc_id FROM tf WHERE term = 'stream')"""
    sql["q_bm25_prefix"] = _BM25_CTES + _bm25_select("tf.term LIKE 's%'") + \
        "SELECT doc_id, score_x1e4, n_terms FROM scores"
    sql["q_phrase"] = f"""
WITH toks AS ({_TOKS_POS})
SELECT a.doc_id, count(*) AS n_occ
FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
WHERE a.term = 'fast' AND b.term = 'join'
GROUP BY a.doc_id"""
    sql["q_field_scoped"] = _BM25_CTES + _bm25_select("tf.term IN ('table')") + """
SELECT s.doc_id, s.score_x1e4, s.n_terms FROM scores s
JOIN documents d ON d.doc_id = s.doc_id WHERE lower(d.lang) = 'en'"""
    sql["q_range_filter"] = """
SELECT event_type, count(*) AS n,
       CAST(ROUND(sum(value) * 100) AS BIGINT) AS sum_value_x100
FROM events
WHERE ts >= TIMESTAMP '2024-01-08' AND ts < TIMESTAMP '2024-01-15'
GROUP BY event_type"""
    # iso_prefix_bounds("2024-01", "2024-02") == [2024-01-01, 2024-03-01)
    sql["q_date_prefix_range"] = """
SELECT event_type, count(*) AS n,
       CAST(ROUND(sum(value) * 100) AS BIGINT) AS sum_value_x100
FROM events
WHERE ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-03-01'
GROUP BY event_type"""
    sql["q_topk_paging"] = _BM25_CTES + _bm25_select("tf.term IN ('table','row')") + """
SELECT doc_id, score_x1e4 FROM scores
ORDER BY score_x1e4 DESC, doc_id LIMIT 20 OFFSET 20"""
    sql["q_autocomplete"] = f"""
WITH toks AS ({_TOKS}),
d AS (SELECT term, count(DISTINCT doc_id) AS df FROM toks
      WHERE term LIKE 's%' GROUP BY term)
SELECT term, df FROM d ORDER BY df DESC, term LIMIT 10"""
    sql["q_boost"] = _BM25_CTES + _bm25_select(
        "tf.term IN ('spark','join')",
        weight="(CASE WHEN tf.term = 'spark' THEN 2.0 ELSE 0.5 END)") + \
        "SELECT doc_id, score_x1e4 FROM scores"
    sql["q_case_sensitive"] = f"""
WITH m AS (
  SELECT doc_id, CASE WHEN doc_id % 3 = 0
                      THEN replace(text, 'spark', 'Spark')
                      ELSE text END AS text
  FROM documents),
t AS (
  SELECT doc_id, x.term
  FROM m, UNNEST(regexp_extract_all(text, '{TOKEN_RE_CS}')) AS x(term)
  WHERE length(x.term) >= {MIN_TOKEN_LEN})
SELECT doc_id,
       CAST(sum(CASE WHEN term = 'Spark' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_cs,
       CAST(sum(CASE WHEN lower(term) = 'spark' THEN 1 ELSE 0 END)
            AS BIGINT) AS n_ci
FROM t GROUP BY doc_id
HAVING sum(CASE WHEN term = 'Spark' THEN 1 ELSE 0 END) > 0
ORDER BY doc_id"""
    sql["q_case_phrase"] = f"""
WITH m AS (
  SELECT doc_id, CASE WHEN doc_id % 3 = 0
                      THEN replace(text, 'fast', 'Fast')
                      ELSE text END AS text
  FROM documents),
toks AS (
  SELECT doc_id, unnest(f) AS term,
         CAST(generate_subscripts(f, 1) - 1 AS BIGINT) AS pos FROM (
    SELECT doc_id, list_filter(regexp_extract_all(text, '{TOKEN_RE_CS}'),
                               x -> length(x) >= {MIN_TOKEN_LEN}) AS f
    FROM m))
SELECT a.doc_id, count(*) AS n_occ
FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
WHERE a.term = 'Fast' AND b.term = 'join'
GROUP BY a.doc_id"""
    sql["q_field_weighted"] = f"""
WITH tk AS (
  SELECT doc_id, list_filter(regexp_extract_all(lower(text), '{TOKEN_RE}'),
                             x -> length(x) >= {MIN_TOKEN_LEN}) AS tk
  FROM documents),
occ AS (
  SELECT doc_id, 'title' AS field, unnest(tk[1:5]) AS term FROM tk
  UNION ALL
  SELECT doc_id, 'body' AS field, unnest(tk[6:]) AS term FROM tk),
tf AS (SELECT field, doc_id, term, count(*) AS tf FROM occ GROUP BY ALL),
dl AS (SELECT field, doc_id, count(*) AS dl FROM occ GROUP BY ALL),
st AS (SELECT field, count(*) AS nf, avg(dl) AS avgdl FROM dl GROUP BY field),
dfr AS (SELECT field, term, count(*) AS df FROM tf GROUP BY ALL)
SELECT tf.doc_id,
       CAST(ROUND(sum(
         (CASE WHEN tf.field = 'title' THEN 2.5 ELSE 1.0 END)
         * ln(1.0 + (st.nf - dfr.df + 0.5)/(dfr.df + 0.5))
         * tf.tf * ({K1} + 1.0)
         / (tf.tf + {K1} * (1.0 - {B} + {B} * dl.dl / st.avgdl))
       ) * 10000) AS BIGINT) AS score_x1e4,
       count(*) AS n_contribs
FROM tf
JOIN dfr ON dfr.field = tf.field AND dfr.term = tf.term
JOIN dl ON dl.field = tf.field AND dl.doc_id = tf.doc_id
JOIN st ON st.field = tf.field
WHERE tf.term IN ('spark', 'join')
GROUP BY tf.doc_id"""
    vd_sub = ("(SELECT doc_id * 1000 "
              "+ generate_subscripts(string_split(text, '. '), 1) - 1 "
              "AS vdoc_id, unnest(string_split(text, '. ')) AS vtext "
              "FROM documents) vd")
    sql["q_virtual_doc_split"] = (
        "SELECT vdoc_id, score_x1e4, n_terms FROM ("
        + relational.duckdb_bm25_sql(vd_sub, ["spark"], key="vdoc_id",
                                     text_col="vtext")
        + ")")
    sql["q_latest_version_dedup"] = """
SELECT o_custkey, o_orderkey, o_orderdate FROM (
  SELECT o_custkey, o_orderkey, o_orderdate,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
  FROM orders) WHERE rn = 1"""
    sql["q_join_compose"] = """
SELECT r.r_name AS region, count(*) AS n_suppliers
FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY r.r_name"""
    edges_cte = ("SELECT n_nationkey::BIGINT AS src, "
                 "(n_nationkey // 2)::BIGINT AS dst "
                 "FROM nation WHERE n_nationkey > 0")
    sql["q_transitive_closure"] = f"""
WITH RECURSIVE e AS ({edges_cte}),
p(src, dst) AS (
  SELECT src, dst FROM e
  UNION
  SELECT p.src, e.dst FROM p JOIN e ON p.dst = e.src)
SELECT src, dst FROM p"""
    func_edges = ("SELECT n_nationkey::BIGINT AS src, "
                  "((n_nationkey * n_nationkey + 1) % 25)::BIGINT AS dst "
                  "FROM nation")
    sql["q_cycle_edges"] = f"""
WITH RECURSIVE e AS ({func_edges}),
p(src, dst) AS (
  SELECT src, dst FROM e
  UNION
  SELECT p.src, e.dst FROM p JOIN e ON p.dst = e.src)
SELECT e.src, e.dst FROM e
WHERE EXISTS (SELECT 1 FROM p WHERE p.src = e.dst AND p.dst = e.src)"""
    sql["s_meta_scan"] = r"""
WITH m AS (
  SELECT 'name: pkg' || (p_partkey % 60)::VARCHAR
      || chr(10) || 'version: ' || (p_partkey % 7)::VARCHAR || '.'
      || (p_partkey % 3)::VARCHAR
      || chr(10) || 'synopsis: part' || chr(10) || '  ' || p_name
      || chr(10) || 'build-depends: base >=4.' || (p_partkey % 5)::VARCHAR
      || ', pkg' || ((p_partkey + 1) % 60)::VARCHAR || ' ==1.2,'
      || chr(10) || '  pkg' || ((p_partkey * 3) % 60)::VARCHAR
      || chr(10) AS meta
  FROM part),
folded AS (SELECT regexp_replace(meta, '\n[ \t]+', ' ', 'g') AS meta FROM m),
kv AS (SELECT
  trim(regexp_extract(meta, '(?im)^name[ \t]*:[ \t]*([^\n]*)', 1)) AS src,
  trim(regexp_extract(meta, '(?im)^build-depends[ \t]*:[ \t]*([^\n]*)', 1))
    AS deps
  FROM folded),
e AS (SELECT src, regexp_extract(trim(d), '^([A-Za-z0-9._-]+)', 1) AS dst
      FROM kv, unnest(string_split_regex(deps, '\s*,\s*')) AS t(d))
SELECT DISTINCT src, dst FROM e WHERE src <> '' AND dst <> ''"""
    sql["s_line_records"] = r"""
WITH l AS (
  SELECT c_custkey::BIGINT AS line_no,
         CASE WHEN c_custkey % 5 = 0
              THEN '@package pkg' || (c_custkey // 5)::VARCHAR
              ELSE 'line ' || c_custkey::VARCHAR END AS text
  FROM customer),
r AS (
  SELECT line_no, text,
         SUM(CASE WHEN regexp_matches(text, '^@package\b')
                  THEN 1 ELSE 0 END) OVER (ORDER BY line_no) AS record_id
  FROM l)
SELECT record_id::BIGINT AS record_id,
       arg_min(text, line_no) AS header,
       string_agg(text, chr(10) ORDER BY line_no) AS body,
       COUNT(*)::INT AS n_lines
FROM r WHERE record_id > 0 GROUP BY record_id"""
    sql["s_crawl_frontier"] = """
WITH RECURSIVE nodes AS (SELECT n_nationkey::BIGINT AS n FROM nation),
links(src, dst) AS (
  SELECT 'https://crawl.org/p' || n::VARCHAR,
         'https://crawl.org/p' || ((2 * n) % 25)::VARCHAR FROM nodes
  UNION
  SELECT 'https://crawl.org/p' || n::VARCHAR,
         'https://crawl.org/p' || ((3 * n + 1) % 25)::VARCHAR FROM nodes),
bfs(url, depth) AS (
  SELECT url, 0 FROM (VALUES ('https://crawl.org/p0'),
                             ('https://crawl.org/p1')) AS s(url)
  UNION
  SELECT l.dst, b.depth + 1 FROM bfs b
  JOIN links l ON l.src = b.url AND l.src <> l.dst
  WHERE b.depth < 3)
SELECT url, MIN(depth)::INT AS depth FROM bfs GROUP BY url"""
    sql["s_url_frontier"] = r"""
WITH links AS (
  SELECT (CASE WHEN c_custkey % 11 = 0 THEN 'ftp://' ELSE 'https://' END)
         || 'Host' || (c_custkey % 7)::VARCHAR
         || (CASE WHEN c_custkey % 3 = 0 THEN '.org' ELSE '.net' END)
         || '/P/' || c_custkey::VARCHAR
         || (CASE c_custkey % 5 WHEN 0 THEN '.jpg' WHEN 1 THEN '/'
             WHEN 2 THEN '?utm_source=x' WHEN 3 THEN '#frag'
             ELSE '.html' END) AS url
  FROM customer),
kept AS (
  SELECT url FROM links
  WHERE regexp_matches(url, '^(?i)https?://')
    AND regexp_matches(lower(regexp_extract(url, '^[a-zA-Z]+://([^/:?#]+)', 1)),
                       '\.org')
    AND NOT regexp_matches(url,
      '(?i)\.(jpg|jpeg|png|gif|css|js|ico|svg|zip|gz|pdf|mp4|mp3)([?#].*)?$')),
norm AS (
  SELECT regexp_replace(
           lower(regexp_extract(u2, '^([^/]*//[^/]*)', 1))
             || regexp_replace(u2, '^[^/]*//[^/]*', ''),
           '([^/])/$', '\1') AS url
  FROM (SELECT regexp_replace(regexp_replace(url, '#.*$', ''),
                              '\?utm_.*$', '') AS u2
        FROM kept))
SELECT DISTINCT url FROM norm"""
    sql["q_pkg_rank"] = f"""
WITH RECURSIVE e AS ({edges_cte}),
walks(node, wgt) AS (
  SELECT n_nationkey::BIGINT, 1.0::DOUBLE FROM nation
  UNION ALL
  SELECT e.dst, w.wgt * 0.5 FROM walks w JOIN e ON e.src = w.node)
SELECT node, CAST(ROUND(sum(wgt) * 10000) AS BIGINT) AS rank_x1e4
FROM walks GROUP BY node"""
    sql["q_events_sessionize"] = """
WITH ordered AS (
  SELECT user_id, ts, event_id,
         CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
              THEN 1 ELSE 0 END AS new_sess
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT user_id,
         sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS sess_id
  FROM ordered)
SELECT user_id, CAST(max(sess_id) + 1 AS BIGINT) AS n_sessions,
       count(*) AS n_events
FROM sess GROUP BY user_id"""
    # the streaming sessionizer must converge to the batch fold
    sql["q_sessionize_stream"] = sql["q_events_sessionize"]
    sql["d_exact_dup"] = """
SELECT md5(text) AS digest, count(*) AS n, min(doc_id) AS keeper
FROM documents GROUP BY md5(text)"""
    _EMAIL = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    _PHONE = "\\+[0-9]{7,15}"
    _IPV4 = ("\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"
             "\\.[0-9]{1,3}\\b")
    sql["t_pii_scrub"] = f"""
WITH t AS (
  SELECT doc_id, text || CASE
    WHEN doc_id % 7 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR)
                             || '@example.com now'
    WHEN doc_id % 7 = 1 THEN ' call +4915512'
                             || CAST(doc_id % 1000 AS VARCHAR)
    WHEN doc_id % 7 = 2 THEN ' host 10.0.' || CAST(doc_id % 255 AS VARCHAR)
                             || '.7 up'
    WHEN doc_id % 7 = 3 THEN ' both a.b' || CAST(doc_id AS VARCHAR)
                             || '@mail.org and 192.168.1.'
                             || CAST(doc_id % 99 AS VARCHAR)
    ELSE '' END AS text
  FROM documents),
s1 AS (SELECT doc_id,
              len(regexp_extract_all(text, '{_EMAIL}')) AS n1,
              regexp_replace(text, '{_EMAIL}', '[EMAIL]', 'g') AS t
       FROM t),
s2 AS (SELECT doc_id,
              n1 + len(regexp_extract_all(t, '{_PHONE}')) AS n2,
              regexp_replace(t, '{_PHONE}', '[PHONE]', 'g') AS t
       FROM s1),
s3 AS (SELECT doc_id,
              n2 + len(regexp_extract_all(t, '{_IPV4}')) AS n_pii,
              regexp_replace(t, '{_IPV4}', '[IP]', 'g') AS t
       FROM s2)
SELECT doc_id, n_pii, right(t, 40) AS tail40 FROM s3"""
    sql["d_contamination"] = f"""
WITH f AS (
  SELECT doc_id, list_filter(regexp_extract_all(lower(text), '{TOKEN_RE}'),
                             x -> length(x) >= {MIN_TOKEN_LEN}) AS toks
  FROM documents),
sh AS (
  SELECT DISTINCT doc_id, shingle FROM (
    SELECT doc_id,
           CASE WHEN len(toks) >= 3
                THEN array_to_string(toks[i:i+2], ' ')
                ELSE array_to_string(toks, ' ') END AS shingle
    FROM f, LATERAL (SELECT unnest(CASE WHEN len(toks) >= 3
                     THEN range(1, len(toks) - 1)
                     ELSE [1] END) AS i))
  WHERE length(shingle) > 0),
shh AS (
  SELECT doc_id,
         ('0x' || substr(md5(shingle), 1, 14))::BIGINT AS shingle
  FROM sh)
SELECT t.doc_id, count(*) AS n_shared
FROM shh t
JOIN (SELECT DISTINCT shingle FROM shh WHERE doc_id % 97 = 0) b
  USING (shingle)
WHERE t.doc_id % 97 <> 0
GROUP BY t.doc_id"""
    sql["d_ngram_jaccard"] = _jaccard_sql(0.2)
    sql["d_minhash_lsh"] = _minhash_lsh_sql(threshold=0.2)
    _components = f"""
pairs AS (SELECT id_a, id_b FROM ({_minhash_lsh_sql(threshold=0.2)}) t),
edges AS (SELECT id_a AS a, id_b AS b FROM pairs
          UNION SELECT id_b, id_a FROM pairs),
reach(v, lab) AS (
  SELECT a, a FROM edges
  UNION
  SELECT e.b, r.lab FROM reach r JOIN edges e ON e.a = r.v),
clusters AS (
  SELECT v AS doc_id, min(lab) AS cluster_id FROM reach GROUP BY v)"""
    sql["d_dedup_clusters"] = f"""
WITH RECURSIVE {_components}
SELECT doc_id, cluster_id,
       (doc_id = cluster_id)::INT AS is_keeper
FROM clusters"""
    sql["t_clean_corpus"] = f"""
WITH RECURSIVE {_components},
q AS (SELECT * FROM ({_quality_sql()}) t),
lg AS (SELECT * FROM ({_lang_id_sql()}) t)
SELECT d.doc_id, q.quality_x1e4, lg.pred_lang
FROM documents d
JOIN q ON q.doc_id = d.doc_id
JOIN lg ON lg.doc_id = d.doc_id
WHERE q.quality_x1e4 >= 5000
  AND lg.pred_lang IN ('en', 'de')
  AND d.doc_id NOT IN
      (SELECT doc_id FROM clusters WHERE doc_id != cluster_id)"""
    sql["d_simhash"] = _simhash_sql(max_hamming=6)
    sql["sim_lsh_topk"] = _lsh_topk_sql(dim=64, bits=6, multiprobe=2, k=10)
    sql["sim_ivf_topk"] = _ivf_topk_sql(n_cells=16, n_probe=4, k=10)
    sql["d_embed_neardup"] = """
WITH expl AS (
  SELECT vec_id, unnest(embedding)::DOUBLE AS x,
         generate_subscripts(embedding, 1) AS i
  FROM embeddings),
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         sum(a.x * b.x) AS dot,
         sqrt(sum(a.x * a.x)) AS na, sqrt(sum(b.x * b.x)) AS nb
  FROM expl a JOIN expl b ON a.i = b.i AND a.vec_id < b.vec_id
  GROUP BY a.vec_id, b.vec_id)
SELECT id_a, id_b, CAST(ROUND(dot/(na*nb) * 10000) AS BIGINT) AS cos_x1e4
FROM pairs WHERE dot/(na*nb) >= 0.30"""
    sql["sim_cosine_topk"] = _EMB_DOT + """
SELECT vec_id, CAST(ROUND(dot/(na*nb) * 1000000) AS BIGINT) AS cos_x1e6
FROM dots ORDER BY dot/(na*nb) DESC, vec_id LIMIT 10"""
    sql["mm_payload_stats"] = """
SELECT doc_id,
       octet_length(encode(text)) AS n_bytes,
       md5(text) AS digest,
       (octet_length(encode(text)) + 1023) // 1024 AS n_chunks
FROM documents"""
    sql["s_insert_commands"] = f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_extract_all(lower(text), '{TOKEN_RE}'),
                     x -> length(x) >= {MIN_TOKEN_LEN}) AS ts
  FROM documents)
SELECT 'https://doc/' || doc_id::VARCHAR AS uri,
       array_to_string(ts, ' ') AS index_text
FROM toks WHERE len(ts) > 0"""
    sql["q_haddock_decl_split"] = """
WITH k AS (SELECT c_custkey::BIGINT AS k FROM customer)
SELECT 'https://h.test/p' || k::VARCHAR || '.html' AS url,
       '' AS signature
FROM k
UNION ALL
SELECT 'https://h.test/p' || k::VARCHAR || '.html#v:fn' || k::VARCHAR,
       'Alpha' || (k % 7)::VARCHAR || ' -> Beta' || (k % 5)::VARCHAR
FROM k
UNION ALL
SELECT 'https://h.test/p' || k::VARCHAR || '.html#t:Dat' || k::VARCHAR,
       ''
FROM k"""
    sql["s_hoogle_decls"] = """
WITH pre AS (
  SELECT c_custkey::BIGINT AS k,
         'pkg' || (c_custkey // 10)::VARCHAR AS pkg,
         'Mod' || (c_custkey // 10)::VARCHAR || '.Sub' AS mod,
         'http://hackage.haskell.org/package/pkg'
           || (c_custkey // 10)::VARCHAR || '/docs/Mod'
           || (c_custkey // 10)::VARCHAR || '-Sub.html' AS pfx
  FROM customer)
SELECT k AS line_no, pkg AS package, mod AS module, mod AS name,
       'module' AS fct_type, '' AS signature, '' AS description,
       pfx || '#' AS doc_uri
FROM pre WHERE k % 10 = 1
UNION ALL
SELECT k, pkg, mod, 'fn' || k::VARCHAR, 'function',
       'Alpha' || (k % 7)::VARCHAR || ' -> Beta' || (k % 5)::VARCHAR,
       'doc line ' || (k - 1)::VARCHAR || chr(10),
       pfx || '#v:fn' || k::VARCHAR
FROM pre WHERE k % 10 = 3
UNION ALL
SELECT k, pkg, mod, 'Dat' || k::VARCHAR, 'data', '', '',
       pfx || '#t:Dat' || k::VARCHAR
FROM pre WHERE k % 10 = 4
UNION ALL
SELECT k, pkg, mod, 'Syn' || k::VARCHAR, 'type',
       'Alpha' || (k % 7)::VARCHAR, '',
       pfx || '#t:Syn' || k::VARCHAR
FROM pre WHERE k % 10 = 5
UNION ALL
SELECT k, pkg, mod, 'New' || k::VARCHAR, 'newtype', '', '',
       pfx || '#t:New' || k::VARCHAR
FROM pre WHERE k % 10 = 6
UNION ALL
SELECT k, pkg, mod, 'va' || k::VARCHAR, 'function',
       'Gamma' || (k % 3)::VARCHAR, '',
       pfx || '#v:va' || k::VARCHAR
FROM pre WHERE k % 10 = 8
UNION ALL
SELECT k, pkg, mod, 'vb' || k::VARCHAR, 'function',
       'Gamma' || (k % 3)::VARCHAR, '',
       pfx || '#v:vb' || k::VARCHAR
FROM pre WHERE k % 10 = 8"""
    sql["s_command_stream"] = f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_extract_all(lower(text), '{TOKEN_RE}'),
                     x -> length(x) >= {MIN_TOKEN_LEN}) AS ts
  FROM documents)
SELECT 'insert' AS kind,
       'https://doc/' || doc_id::VARCHAR AS uri,
       CASE WHEN doc_id % 10 = 0 THEN 2.5 END AS weight,
       CASE WHEN len(ts) > 0
            THEN length(array_to_string(ts, ' ')) END AS n_chars_indexed,
       NULL::VARCHAR AS word
FROM toks WHERE len(ts) > 0 OR doc_id % 10 = 0
UNION ALL
SELECT 'delete-by-query', NULL, NULL, NULL, source
FROM (SELECT DISTINCT source FROM documents)
UNION ALL
SELECT 'update', 'https://doc/' || doc_id::VARCHAR,
       (doc_id % 5)::DOUBLE + 0.5, NULL, NULL
FROM documents WHERE doc_id % 7 = 0"""
    sql["t_token_count"] = f"""
SELECT doc_id,
       len(list_filter(regexp_extract_all(lower(text), '{TOKEN_RE}'),
                       x -> length(x) >= {MIN_TOKEN_LEN})) AS n_tokens,
       length(text) AS n_chars
FROM documents"""
    sql["t_fingerprint"] = f"""
WITH toks AS ({_TOKS_POS})
SELECT doc_id,
       bit_xor(('0x' || substr(md5(term || ':' || pos), 1, 14))::BIGINT) AS fp,
       count(*) AS n_tokens
FROM toks GROUP BY doc_id"""
    sql["t_quality"] = _quality_sql()
    sql["t_lang_id"] = _lang_id_sql()
    sql["t_repetition"] = f"""
WITH d AS (SELECT doc_id,
                  regexp_replace(text, ' data ', chr(10), 'g') AS text
           FROM documents),
ls AS (SELECT doc_id,
              list_filter(string_split(coalesce(text, ''), chr(10)),
                          x -> length(x) > 0) AS ls
       FROM d),
base AS (SELECT doc_id, len(ls) AS n_lines,
                len(ls) - len(list_distinct(ls)) AS dup_lines
         FROM ls),
toks AS (SELECT doc_id, unnest(f) AS term,
                CAST(generate_subscripts(f, 1) - 1 AS BIGINT) AS pos
         FROM (SELECT doc_id,
                      list_filter(regexp_extract_all(lower(text),
                                                     '{TOKEN_RE}'),
                                  x -> length(x) >= {MIN_TOKEN_LEN}) AS f
               FROM d)),
bg AS (SELECT doc_id, term || ' ' ||
              lead(term) OVER (PARTITION BY doc_id ORDER BY pos) AS bigram
       FROM toks),
cnt AS (SELECT doc_id, bigram, count(*) AS c FROM bg
        WHERE bigram IS NOT NULL GROUP BY doc_id, bigram),
top AS (SELECT doc_id, max(c) AS top_bigram_n, sum(c) AS n_bigrams
        FROM cnt GROUP BY doc_id)
SELECT b.doc_id, b.n_lines, b.dup_lines,
       coalesce(t.top_bigram_n, 0) AS top_bigram_n,
       CAST(coalesce(t.n_bigrams, 0) AS BIGINT) AS n_bigrams
FROM base b LEFT JOIN top t USING (doc_id)"""
    sql["t_url_filter"] = """
WITH d AS (SELECT doc_id, CASE
    WHEN doc_id % 11 = 0 THEN 'https://ads.example.com/b/'
                              || CAST(doc_id AS VARCHAR)
    WHEN doc_id % 11 = 1 THEN 'https://ok.org/a?sessionid='
                              || CAST(doc_id AS VARCHAR)
    WHEN doc_id % 11 = 2 THEN 'ftp://files.org/' || CAST(doc_id AS VARCHAR)
    WHEN doc_id % 11 = 3 THEN 'https://deep.org' || repeat('/p', 12)
    WHEN doc_id % 11 = 4 THEN 'https://ok.org/' || repeat('x', 2100)
    ELSE 'https://good.com/article/' || CAST(doc_id AS VARCHAR)
    END AS url FROM documents),
x AS (SELECT doc_id, url,
        lower(regexp_extract(url, '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1))
          AS scheme,
        lower(regexp_extract(url,
                             '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/:?#]+)', 1))
          AS host,
        regexp_extract(url,
                       '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)', 1)
          AS path
      FROM d),
r AS (SELECT doc_id, url, host, CASE
        WHEN scheme NOT IN ('http', 'https') THEN 'scheme'
        WHEN host IN ('ads.example.com') THEN 'host'
        WHEN regexp_matches(url, '[?&]sessionid=') THEN 'pattern0'
        WHEN length(url) > 2048 THEN 'too_long'
        WHEN length(path) - length(replace(path, '/', '')) > 8
          THEN 'too_deep'
        ELSE 'keep' END AS reason
      FROM x)
SELECT doc_id, url, host, reason,
       CASE WHEN reason = 'keep' THEN 1 ELSE 0 END AS kept
FROM r"""
    sql["d_substring_spans"] = f"""
WITH d AS (SELECT doc_id,
                  text || CASE WHEN doc_id % 5 = 0 THEN '{_FOOTER}'
                               ELSE '' END AS text
           FROM documents),
tl AS (SELECT doc_id,
              list_filter(regexp_extract_all(lower(text), '{TOKEN_RE}'),
                          x -> length(x) >= {MIN_TOKEN_LEN}) AS f
       FROM d),
wins AS (
  SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
         ('0x' || substr(md5(array_to_string(f[i:i+7], ' ')), 1, 14))::BIGINT
           AS h
  FROM tl, LATERAL (SELECT unnest(range(1, len(f) - 6)) AS i)
  WHERE len(f) >= 8),
duph AS (SELECT h FROM wins GROUP BY h HAVING count(DISTINCT doc_id) > 1),
dw AS (SELECT doc_id, pos,
              lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
       FROM wins JOIN duph USING (h)),
cov AS (SELECT doc_id, count(*) AS n_dup_windows,
               sum(CASE WHEN prev IS NULL THEN 8
                        ELSE least(8, pos - prev) END) AS dup_cov_tokens
        FROM dw GROUP BY doc_id),
base AS (SELECT doc_id, len(f) AS n_tokens,
                greatest(len(f) - 7, 0) AS n_windows
         FROM tl)
SELECT b.doc_id, b.n_tokens, b.n_windows,
       coalesce(c.n_dup_windows, 0) AS n_dup_windows,
       CAST(coalesce(c.dup_cov_tokens, 0) AS BIGINT) AS dup_cov_tokens,
       CAST(CASE WHEN b.n_tokens > 0
                 THEN ROUND(coalesce(c.dup_cov_tokens, 0) * 10000.0
                            / b.n_tokens)
                 ELSE 0 END AS BIGINT) AS dup_frac_x1e4
FROM base b LEFT JOIN cov c USING (doc_id)"""

    from hayoo_spark.ops.corpus import u01_sql
    _usamp = u01_sql("doc_id", "sample")
    sql["t_stratified_sample"] = f"""
SELECT doc_id, lang FROM documents
WHERE {_usamp} < CASE WHEN lang = 'en' THEN 0.6
                      WHEN lang = 'de' THEN 0.3
                      ELSE 0.1 END"""

    # cumulative cuts computed with the SAME python float arithmetic
    # hash_split uses, inlined via repr so both engines compare the
    # identical doubles
    _splits = {"train": 0.8, "val": 0.1, "test": 0.1}
    _labels = sorted(_splits)
    _acc, _whens = 0.0, []
    for _lab in _labels[:-1]:
        _acc += float(_splits[_lab])
        _whens.append(f"WHEN {u01_sql('doc_id', 'split')} < {_acc!r} "
                      f"THEN '{_lab}'")
    sql["t_hash_split"] = (
        "SELECT doc_id, CASE " + " ".join(_whens)
        + f" ELSE '{_labels[-1]}' END AS split FROM documents")

    sql["t_pack_sequences"] = f"""
WITH tl AS (SELECT doc_id, source,
                   len(list_filter(regexp_extract_all(lower(text),
                                                      '{TOKEN_RE}'),
                                   x -> length(x) >= {MIN_TOKEN_LEN}))
                     AS n_tokens
            FROM documents),
s AS (SELECT doc_id, source, n_tokens,
             CAST(coalesce(sum(n_tokens) OVER (
                    PARTITION BY source ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  0) AS BIGINT) AS strt
      FROM tl)
SELECT doc_id, source, n_tokens,
       CAST(floor(strt / 256.0) AS BIGINT) AS bin_id,
       strt % 256 AS bin_offset
FROM s"""
    sql["t_chunk_docs"] = f"""
WITH tk AS (
  SELECT doc_id, list_filter(regexp_extract_all(lower(text), '{TOKEN_RE}'),
                             x -> length(x) >= {MIN_TOKEN_LEN}) AS f
  FROM documents),
st AS (SELECT doc_id, f, len(f) AS n, unnest(range(0, len(f), 24)) AS start
       FROM tk WHERE len(f) > 0)
SELECT doc_id, CAST(start // 24 AS BIGINT) AS chunk_id,
       CAST(start AS BIGINT) AS start,
       CAST(least(32, n - start) AS BIGINT) AS n_tokens,
       f[CAST(start + 1 AS INT)] AS first_term,
       f[CAST(start + least(32, n - start) AS INT)] AS last_term
FROM st"""
    sql["t_tfidf_keywords"] = f"""
WITH toks AS ({_TOKS}),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
dfr AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
n AS (SELECT count(*) AS n FROM documents),
sc AS (SELECT tf.doc_id, tf.term, tf.tf,
              tf.tf * ((n.n * 1000000) // dfr.df) AS score_q
       FROM tf JOIN dfr USING (term) CROSS JOIN n),
r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
                                   ORDER BY score_q DESC, term) AS rank
      FROM sc)
SELECT doc_id, CAST(rank AS BIGINT) AS rank, term, tf,
       CAST(score_q AS BIGINT) AS score_q
FROM r WHERE rank <= 3"""
    sql["d_semantic_dedup"] = """
WITH c AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings
           ORDER BY vec_id LIMIT 16),
e AS (SELECT vec_id, generate_subscripts(embedding, 1) AS j,
             unnest(embedding)::DOUBLE AS x
      FROM embeddings),
ce AS (SELECT cid, generate_subscripts(cv, 1) AS j,
              unnest(cv)::DOUBLE AS y
       FROM c),
cn AS (SELECT cid, sqrt(sum(y * y)) AS nrm FROM ce GROUP BY cid),
dots AS (SELECT e.vec_id, ce.cid, sum(e.x * ce.y) AS d
         FROM e JOIN ce USING (j) GROUP BY e.vec_id, ce.cid),
scored AS (SELECT vec_id, dots.cid, d / nrm AS s
           FROM dots JOIN cn ON cn.cid = dots.cid),
cell AS (SELECT vec_id, cid FROM (
           SELECT vec_id, cid,
                  row_number() OVER (PARTITION BY vec_id
                                     ORDER BY s DESC, cid) AS rn
           FROM scored) WHERE rn = 1),
ee AS (SELECT e.vec_id, cell.cid, e.j, e.x FROM e JOIN cell USING (vec_id)),
pairs AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.cid AS cell,
                 sum(a.x * b.x) AS dot,
                 sqrt(sum(a.x * a.x)) AS na, sqrt(sum(b.x * b.x)) AS nb
          FROM ee a JOIN ee b ON a.j = b.j AND a.cid = b.cid
                             AND a.vec_id < b.vec_id
          GROUP BY a.vec_id, b.vec_id, a.cid)
SELECT id_a, id_b, CAST(cell AS BIGINT) AS cell,
       CAST(ROUND(dot/(na*nb) * 10000) AS BIGINT) AS cos_x1e4
FROM pairs WHERE dot/(na*nb) >= 0.30"""
    sql["t_lm_perplexity"] = f"""
WITH toks AS ({_TOKS_POS}),
uni AS (SELECT term, count(*) AS c1 FROM toks GROUP BY term),
v AS (SELECT count(*) AS v FROM uni),
bgr AS (SELECT doc_id, term AS w1,
               lead(term) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
        FROM toks QUALIFY w2 IS NOT NULL),
bc AS (SELECT w1, w2, count(*) AS c12 FROM bgr GROUP BY w1, w2),
sc AS (SELECT bgr.doc_id,
              CAST(floor(100 * log2(CAST(u.c1 + v.v AS DOUBLE)
                                    / (bc.c12 + 1))) AS BIGINT) AS cb
       FROM bgr
       JOIN bc USING (w1, w2)
       JOIN uni u ON bgr.w1 = u.term
       CROSS JOIN v),
agg AS (SELECT doc_id, count(*) AS n_bigrams,
               CAST(sum(cb) AS BIGINT) AS sum_centibits
        FROM sc GROUP BY doc_id)
SELECT d.doc_id,
       coalesce(a.n_bigrams, 0) AS n_bigrams,
       coalesce(a.sum_centibits, 0) AS sum_centibits,
       CASE WHEN a.n_bigrams > 0
            THEN CAST(a.sum_centibits AS DOUBLE) / (100 * a.n_bigrams)
            ELSE 0.0 END AS bits_per_token
FROM documents d LEFT JOIN agg a USING (doc_id)"""
    from hayoo_spark.ops.bpe import duckdb_pair_counts_sql
    sql["t_bpe_pairs"] = duckdb_pair_counts_sql(
        f"SELECT term AS word, count(*) AS wc FROM ({_TOKS}) GROUP BY term",
        top=50)

    from hayoo_spark.ops.corpus import domain_mixture_sql
    sql["t_domain_mixture"] = domain_mixture_sql(
        "documents", targets={"src0": 0.5, "src1": 0.3, "src2": 0.2})

    sql["t_quality_classifier"] = _classifier_sql()

    sql["d_line_dedup"] = """
WITH d AS (SELECT doc_id,
                  regexp_replace(text, ' data ', chr(10), 'g') AS text
           FROM documents),
arr AS (SELECT doc_id, string_split(coalesce(text, ''), chr(10)) AS l
        FROM d),
lines AS (SELECT doc_id,
                 CAST(generate_subscripts(l, 1) - 1 AS BIGINT) AS pos,
                 unnest(l) AS line
          FROM arr),
ne AS (SELECT * FROM lines WHERE length(line) > 0),
win AS (SELECT doc_id, pos, line FROM (
          SELECT doc_id, pos, line,
                 row_number() OVER (PARTITION BY line
                                    ORDER BY doc_id, pos) AS rn
          FROM ne) WHERE rn = 1),
reb AS (SELECT doc_id, count(*) AS n_kept,
               string_agg(line, chr(10) ORDER BY pos) AS text_dedup
        FROM win GROUP BY doc_id),
base AS (SELECT doc_id,
                len(list_filter(string_split(coalesce(text, ''), chr(10)),
                                x -> length(x) > 0)) AS n_lines
         FROM d)
SELECT b.doc_id, b.n_lines,
       coalesce(r.n_kept, 0) AS n_kept,
       coalesce(r.text_dedup, '') AS text_dedup
FROM base b LEFT JOIN reb r USING (doc_id)"""
    return sql


def _jaccard_sql(threshold: float) -> str:
    return f"""
WITH f AS (
  SELECT doc_id, list_filter(regexp_extract_all(lower(text), '{TOKEN_RE}'),
                             x -> length(x) >= {MIN_TOKEN_LEN}) AS toks
  FROM documents),
sh AS (
  SELECT DISTINCT doc_id, shingle FROM (
    SELECT doc_id,
           CASE WHEN len(toks) >= 3
                THEN array_to_string(toks[i:i+2], ' ')
                ELSE array_to_string(toks, ' ') END AS shingle
    FROM f, LATERAL (SELECT unnest(CASE WHEN len(toks) >= 3
                     THEN range(1, len(toks) - 1)
                     ELSE [1] END) AS i))
  WHERE length(shingle) > 0),
-- join on the 56-bit md5 shingle hash, mirroring the Spark side
shh AS (
  SELECT doc_id,
         ('0x' || substr(md5(shingle), 1, 14))::BIGINT AS shingle
  FROM sh),
sz AS (SELECT doc_id, count(*) AS sz FROM shh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS ix
  FROM shh a JOIN shh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id)
SELECT id_a, id_b,
       CAST(ROUND(ix * 1.0 / (sa.sz + sb.sz - ix) * 10000) AS BIGINT)
         AS jaccard_x1e4
FROM inter JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
WHERE ix * 1.0 / (sa.sz + sb.sz - ix) >= {threshold}"""


_SHINGLE_CTES = f"""
f AS (
  SELECT doc_id, list_filter(regexp_extract_all(lower(text), '{TOKEN_RE}'),
                             x -> length(x) >= {MIN_TOKEN_LEN}) AS toks
  FROM documents),
sh AS (
  SELECT DISTINCT doc_id, shingle FROM (
    SELECT doc_id,
           CASE WHEN len(toks) >= 3
                THEN array_to_string(toks[i:i+2], ' ')
                ELSE array_to_string(toks, ' ') END AS shingle
    FROM f, LATERAL (SELECT unnest(CASE WHEN len(toks) >= 3
                     THEN range(1, len(toks) - 1)
                     ELSE [1] END) AS i))
  WHERE length(shingle) > 0)"""


def _minhash_lsh_sql(threshold: float = 0.2, num_hashes: int = 32,
                     bands: int = 8, seed: int = 42) -> str:
    """DuckDB twin of dedup.minhash_lsh_pairs: same md5-derived base
    hash, same seeded affine permutations, same band-bucket md5 hash —
    LSH recall is bit-identical across engines."""
    import numpy as np
    rng = np.random.RandomState(seed)
    p = (1 << 31) - 1
    coef = [(int(rng.randint(1, 1 << 15)), int(rng.randint(0, 1 << 31)))
            for _ in range(num_hashes)]
    rows = num_hashes // bands
    mins = ", ".join(
        f"min((hv * {a} + {b}) % {p}) AS mh{i}"
        for i, (a, b) in enumerate(coef))
    band_selects = []
    for b in range(bands):
        cat = " || ',' || ".join(
            f"mh{b * rows + r}::VARCHAR" for r in range(rows))
        band_selects.append(
            f"SELECT doc_id, {b} AS band, "
            f"('0x' || substr(md5('band_{b}_' || {cat}), 1, 14))::BIGINT AS bucket "
            f"FROM sig")
    bands_sql = "\nUNION ALL\n".join(band_selects)
    return f"""
WITH {_SHINGLE_CTES},
-- 56-bit md5 shingle hashes, mirroring the Spark side's shared
-- hashed-shingle relation (signatures, sizes, verify all read it)
shh AS (SELECT doc_id,
               ('0x' || substr(md5(shingle), 1, 14))::BIGINT AS shingle
        FROM sh),
h AS (SELECT doc_id, shingle % {p} AS hv FROM shh),
sig AS (SELECT doc_id, {mins} FROM h GROUP BY doc_id),
bands AS ({bands_sql}),
cands AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
sz AS (SELECT doc_id, count(*) AS sz FROM shh GROUP BY doc_id),
inter AS (
  SELECT c.id_a, c.id_b, count(*) AS ix
  FROM cands c
  JOIN shh a ON a.doc_id = c.id_a
  JOIN shh b ON b.doc_id = c.id_b AND b.shingle = a.shingle
  GROUP BY c.id_a, c.id_b)
SELECT id_a, id_b,
       CAST(ROUND(ix * 1.0 / (sa.sz + sb.sz - ix) * 10000) AS BIGINT)
         AS jaccard_x1e4
FROM inter JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
WHERE ix * 1.0 / (sa.sz + sb.sz - ix) >= {threshold}"""


def _simhash_sql(max_hamming: int = 6) -> str:
    """DuckDB twin of dedup.simhash_pairs (56-bit md5-derived
    signatures, integer ±tf bit-plane sums, banded candidates)."""
    from hayoo_spark.ops.dedup import SIMHASH_BITS, simhash_band_edges
    edges = simhash_band_edges(max_hamming)
    band_selects = []
    for b in range(max_hamming + 1):
        mask = (1 << (edges[b + 1] - edges[b])) - 1
        band_selects.append(
            f"SELECT doc_id, simhash, {b} AS band, "
            f"((simhash >> {edges[b]}) & {mask}) AS bucket FROM sig")
    bands_sql = "\nUNION ALL\n".join(band_selects)
    return f"""
WITH toks AS ({_TOKS}),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
h AS (SELECT doc_id, tf,
             ('0x' || substr(md5(term), 1, 14))::BIGINT AS h
      FROM tf),
planes AS (
  SELECT doc_id, r.b,
         sum(CASE WHEN (h >> r.b) & 1 = 1 THEN tf ELSE -tf END) AS s
  FROM h CROSS JOIN range({SIMHASH_BITS}) r(b)
  GROUP BY doc_id, r.b),
sig AS (
  SELECT doc_id,
         sum(CASE WHEN s > 0 THEN (1::BIGINT << b) ELSE 0 END)::BIGINT
           AS simhash
  FROM planes GROUP BY doc_id),
bands AS ({bands_sql}),
cands AS (
  SELECT DISTINCT a.doc_id AS id_a, a.simhash AS sig_a,
                  b.doc_id AS id_b, b.simhash AS sig_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id)
SELECT id_a, id_b, bit_count(xor(sig_a, sig_b)) AS hamming
FROM cands WHERE bit_count(xor(sig_a, sig_b)) <= {max_hamming}"""


def _lsh_topk_sql(dim: int = 64, bits: int = 6, seed: int = 42,
                  multiprobe: int = 2, k: int = 10) -> str:
    """DuckDB twin of similarity.lsh_cosine_topk: the seeded hyperplanes
    are embedded as literals, bucket choice + multiprobe (flip the
    least-confident sign bit) reproduce the Spark plan exactly."""
    from hayoo_spark.ops.similarity import hyperplanes
    planes = hyperplanes(dim, bits, seed)
    vals = ",\n  ".join(
        f"({i}, {j + 1}, {planes[i, j]!r})"
        for i in range(bits) for j in range(dim))
    return f"""
WITH p(i, j, w) AS (VALUES
  {vals}),
e AS (SELECT vec_id, generate_subscripts(embedding, 1) AS j,
             unnest(embedding)::DOUBLE AS x
      FROM embeddings),
proj AS (SELECT vec_id, i, sum(x * w) AS pr
         FROM e JOIN p USING (j) GROUP BY vec_id, i),
bkt AS (SELECT vec_id,
               sum(CASE WHEN pr >= 0 THEN (1::BIGINT << i) ELSE 0 END) AS bucket
        FROM proj GROUP BY vec_id),
qp AS (SELECT i, pr FROM proj WHERE vec_id = 0),
qs AS (SELECT sum(CASE WHEN pr >= 0 THEN (1::BIGINT << i) ELSE 0 END) AS s
       FROM qp),
flip AS (SELECT i FROM qp ORDER BY abs(pr), i LIMIT {max(multiprobe - 1, 0)}),
probes AS (SELECT s AS b FROM qs
           UNION ALL SELECT xor(qs.s, (1::BIGINT << flip.i)) FROM qs, flip),
q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
expl AS (SELECT em.vec_id, unnest(em.embedding)::DOUBLE AS x,
                unnest(q.qv)::DOUBLE AS y
         FROM embeddings em
         JOIN bkt ON bkt.vec_id = em.vec_id
         CROSS JOIN q
         WHERE bkt.bucket IN (SELECT b FROM probes)),
dots AS (SELECT vec_id, sum(x * y) AS dot,
                sqrt(sum(x * x)) AS na, sqrt(sum(y * y)) AS nb
         FROM expl GROUP BY vec_id)
SELECT vec_id, CAST(ROUND(dot/(na*nb) * 1000000) AS BIGINT) AS cos_x1e6
FROM dots ORDER BY dot/(na*nb) DESC, vec_id LIMIT {k}"""


def _ivf_topk_sql(n_cells: int = 16, n_probe: int = 4, k: int = 10) -> str:
    """DuckDB twin of similarity.ivf_cosine_topk: centroids = the
    n_cells smallest vec_ids; cell = argmax dot(v,c)/|c| (smallest cid
    on ties); probe the query's n_probe best cells; exact cosine top-k
    among candidates."""
    return f"""
WITH c AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings
           ORDER BY vec_id LIMIT {n_cells}),
e AS (SELECT vec_id, generate_subscripts(embedding, 1) AS j,
             unnest(embedding)::DOUBLE AS x
      FROM embeddings),
ce AS (SELECT cid, generate_subscripts(cv, 1) AS j,
              unnest(cv)::DOUBLE AS y
       FROM c),
cn AS (SELECT cid, sqrt(sum(y * y)) AS nrm FROM ce GROUP BY cid),
dots AS (SELECT e.vec_id, ce.cid, sum(e.x * ce.y) AS d
         FROM e JOIN ce USING (j) GROUP BY e.vec_id, ce.cid),
scored AS (SELECT vec_id, dots.cid, d / nrm AS s
           FROM dots JOIN cn ON cn.cid = dots.cid),
cell AS (SELECT vec_id, cid FROM (
           SELECT vec_id, cid,
                  row_number() OVER (PARTITION BY vec_id
                                     ORDER BY s DESC, cid) AS rn
           FROM scored) WHERE rn = 1),
qprobe AS (SELECT cid FROM scored WHERE vec_id = 0
           ORDER BY s DESC, cid LIMIT {n_probe}),
q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
expl AS (SELECT em.vec_id, unnest(em.embedding)::DOUBLE AS x,
                unnest(q.qv)::DOUBLE AS y
         FROM embeddings em
         JOIN cell ON cell.vec_id = em.vec_id
         CROSS JOIN q
         WHERE cell.cid IN (SELECT cid FROM qprobe)),
fdots AS (SELECT vec_id, sum(x * y) AS dot,
                 sqrt(sum(x * x)) AS na, sqrt(sum(y * y)) AS nb
          FROM expl GROUP BY vec_id)
SELECT vec_id, CAST(ROUND(dot/(na*nb) * 1000000) AS BIGINT) AS cos_x1e6
FROM fdots ORDER BY dot/(na*nb) DESC, vec_id LIMIT {k}"""


def _quality_sql() -> str:
    return f"""
WITH f AS (
  SELECT doc_id, text,
         list_filter(regexp_extract_all(lower(text), '{TOKEN_RE}'),
                     x -> length(x) >= {MIN_TOKEN_LEN}) AS toks
  FROM documents),
feat AS (
  SELECT doc_id,
         len(toks) AS n_tokens,
         CASE WHEN len(toks) > 0
              THEN list_sum(list_transform(toks, x -> length(x))) * 1.0 / len(toks)
              ELSE 0.0 END AS mean_tok_len,
         CASE WHEN length(regexp_replace(text, '\\s+', '', 'g')) > 0
              THEN length(regexp_replace(text, '[^A-Za-z]', '', 'g')) * 1.0
                   / length(regexp_replace(text, '\\s+', '', 'g'))
              ELSE 0.0 END AS alpha_ratio,
         CASE WHEN len(toks) > 0
              THEN len(list_filter(toks, x -> x IN
                   ('the','and','of','to','in','is','that','it','for','was')))
                   * 1.0 / len(toks)
              ELSE 0.0 END AS stop_ratio
  FROM f)
SELECT doc_id, n_tokens,
       CAST(ROUND((least(n_tokens / 100.0, 1.0) * 0.4
                   + alpha_ratio * 0.4
                   + least(stop_ratio * 5.0, 1.0) * 0.2) * 10000) AS BIGINT)
         AS quality_x1e4
FROM feat"""


def _classifier_sql() -> str:
    """DuckDB twin of t_quality_classifier: the same feature row over
    the ' data '->newline view of the corpus, logit accumulated in the
    CLASSIFIER_WEIGHTS order (IEEE addition is order-sensitive — the
    term list is generated from the same tuple the Spark op uses)."""
    from hayoo_spark.ops.textstats import (CLASSIFIER_BIAS,
                                           CLASSIFIER_WEIGHTS)
    terms = " ".join(f"+ ({float(w)!r}) * {name}"
                     for name, w in CLASSIFIER_WEIGHTS)
    logit = f"({float(CLASSIFIER_BIAS)!r} {terms})"
    return f"""
WITH d AS (SELECT doc_id,
                  regexp_replace(text, ' data ', chr(10), 'g') AS text
           FROM documents),
f AS (SELECT doc_id, text,
             list_filter(regexp_extract_all(lower(text), '{TOKEN_RE}'),
                         x -> length(x) >= {MIN_TOKEN_LEN}) AS toks
      FROM d),
feat AS (
  SELECT doc_id, len(toks) AS n_tokens,
         CASE WHEN length(regexp_replace(text, '\\s+', '', 'g')) > 0
              THEN length(regexp_replace(text, '[^A-Za-z]', '', 'g')) * 1.0
                   / length(regexp_replace(text, '\\s+', '', 'g'))
              ELSE 0.0 END AS alpha_ratio,
         CASE WHEN len(toks) > 0
              THEN len(list_filter(toks, x -> x IN
                   ('the','and','of','to','in','is','that','it','for','was')))
                   * 1.0 / len(toks)
              ELSE 0.0 END AS stop_ratio
  FROM f),
ls AS (SELECT doc_id,
              list_filter(string_split(coalesce(text, ''), chr(10)),
                          x -> length(x) > 0) AS ls
       FROM d),
base AS (SELECT doc_id, len(ls) AS n_lines,
                len(ls) - len(list_distinct(ls)) AS dup_lines
         FROM ls),
toks AS (SELECT doc_id, unnest(f) AS term,
                CAST(generate_subscripts(f, 1) - 1 AS BIGINT) AS pos
         FROM (SELECT doc_id, toks AS f FROM f)),
bg AS (SELECT doc_id, term || ' ' ||
              lead(term) OVER (PARTITION BY doc_id ORDER BY pos) AS bigram
       FROM toks),
cnt AS (SELECT doc_id, bigram, count(*) AS c FROM bg
        WHERE bigram IS NOT NULL GROUP BY doc_id, bigram),
top AS (SELECT doc_id, max(c) AS top_bigram_n, sum(c) AS n_bigrams
        FROM cnt GROUP BY doc_id),
feats AS (
  SELECT q.doc_id,
         least(q.n_tokens / 100.0, 1.0) AS f_len,
         q.alpha_ratio AS f_alpha,
         least(q.stop_ratio * 5.0, 1.0) AS f_stop,
         CASE WHEN coalesce(t.n_bigrams, 0) > 0
              THEN t.top_bigram_n * 1.0 / t.n_bigrams
              ELSE 0.0 END AS f_top_bigram,
         CASE WHEN b.n_lines > 0
              THEN b.dup_lines * 1.0 / b.n_lines
              ELSE 0.0 END AS f_dup_line
  FROM feat q JOIN base b USING (doc_id)
  LEFT JOIN top t USING (doc_id))
SELECT doc_id,
       CAST(ROUND({logit} * 10000) AS BIGINT) AS logit_x1e4,
       CASE WHEN {logit} >= 0 THEN 1 ELSE 0 END AS keep
FROM feats"""


def _lang_id_sql() -> str:
    from hayoo_spark.ops.textstats import STOPWORDS
    cases = []
    hits = {}
    for lg in sorted(STOPWORDS):
        lst = ", ".join(f"'{w}'" for w in STOPWORDS[lg])
        hits[lg] = f"len(list_filter(toks, x -> x IN ({lst})))"
    best = "greatest(" + ", ".join(f"h_{lg}" for lg in sorted(STOPWORDS)) + ")"
    pred = "'und'"
    for lg in sorted(STOPWORDS, reverse=True):
        pred = f"CASE WHEN best > 0 AND h_{lg} = best THEN '{lg}' ELSE {pred} END"
    sel = ", ".join(f"{expr} AS h_{lg}" for lg, expr in hits.items())
    return f"""
WITH f AS (
  SELECT doc_id,
         list_filter(regexp_extract_all(lower(text), '{TOKEN_RE}'),
                     x -> length(x) >= {MIN_TOKEN_LEN}) AS toks
  FROM documents),
h AS (SELECT doc_id, {sel} FROM f),
hb AS (SELECT *, {best} AS best FROM h)
SELECT doc_id, h_en AS hits_en, h_de AS hits_de, {pred} AS pred_lang FROM hb"""
