"""Physical-plan audits: the scale claims in BENCH/BASELINE.md as
executable assertions — filter pushdown reaches the parquet scan,
partition pruning fires on the hive layout, small join sides broadcast,
and the build's doc-prep pipeline keeps its single exchange.  These
catch silent plan regressions (a lost pushdown or an extra shuffle
changes no answer at test scale and 10x the cost at 100x scale)."""

import pytest

from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def plan_ix(spark, tmp_path_factory):
    from hayoo_spark import fixtures
    from hayoo_spark.index.builder import build_index
    from hayoo_spark.query.engine import SearchEngine

    d = tmp_path_factory.mktemp("planix")
    src = str(d / "pages.parquet")
    fixtures.make_pages(300).to_parquet(src, index=False)
    ix = str(d / "ix")
    build_index(spark, src, ix, n_segments=4, salt_df_threshold=64)
    return SearchEngine(spark, ix), ix


def test_docs_scan_prunes_segment_partition(plan_ix, spark):
    """A per-segment docs read must hit the hive partition filter,
    not scan every segment dir."""
    _, ix = plan_ix
    df = spark.read.parquet(f"{ix}/docs").filter(F.col("segment") == 2)
    plan = _plan(df)
    assert "PartitionFilters" in plan
    assert "segment" in plan.split("PartitionFilters")[1][:120]


def test_prepare_docs_single_exchange(spark, tmp_path):
    """Dedup + doc-id assignment + tokenization ride ONE hash exchange
    (the build's heaviest data movement; a second window ordering must
    not re-shuffle)."""
    from hayoo_spark import fixtures
    from hayoo_spark.index.builder import prepare_docs

    src = str(tmp_path / "pages.parquet")
    fixtures.make_pages(200).to_parquet(src, index=False)
    docs = prepare_docs(spark.read.parquet(src), n_segments=4)
    plan = _plan(docs)
    assert plan.count("Exchange hashpartitioning") == 1, plan[:800]


def test_pipeline_meta_join_broadcasts(spark):
    """decl_corpus joins declarations with the (tiny) package table —
    must be a broadcast join, never a shuffle of the decl side."""
    from hayoo_spark.pipeline import decl_corpus

    decls = spark.createDataFrame(
        [("u#v:f", "f", "p1", "M", "function", "a -> a", "doc")],
        "doc_uri string, name string, package string, module string, "
        "fct_type string, signature string, description string")
    pkgs = spark.createDataFrame(
        [("p1", "1.0", "syn", "au", "cat", "m", "base")],
        "name string, version string, synopsis string, author string, "
        "category string, maintainer string, build_depends string")
    out = decl_corpus(decls, pkgs)
    assert "BroadcastHashJoin" in _plan(out)


def test_relational_bm25_broadcasts_df_side(spark):
    """The declarative BM25's df relation (one row per term) joins the
    tf relation via broadcast, with the corpus scan column-pruned."""
    import __spark_entry__ as em

    out = em.queries()["q_bm25_term"](spark, "/root/testdata/sf0.001")
    plan = _plan(out)
    assert "BroadcastHashJoin" in plan
    # the documents scan reads only what the tf relation needs
    for seg in plan.split("ReadSchema: ")[1:]:
        head = seg[:160]
        if "documents" in plan and "text" in head:
            assert "html" not in head


def test_robots_filter_broadcasts(spark):
    """The per-host robots relation joins the frontier via broadcast."""
    from hayoo_spark.sources.robots import robots_filter

    frontier = spark.createDataFrame([("https://a.org/x",)], "url string")
    robots = spark.createDataFrame(
        [("a.org", "User-agent: *\nDisallow: /p/\n")],
        "host string, robots_txt string")
    assert "BroadcastHashJoin" in _plan(robots_filter(frontier, robots))


def test_clean_corpus_drop_set_not_broadcast(spark):
    """The non-keeper anti-join must be a plain shuffle join: real web
    corpora drop 30-50% of docs to near-dup removal, so broadcasting
    the drop set is a driver OOM at scale (VERDICT r4 #3).  AQE may
    still downgrade it at runtime from measured sizes — the static
    plan just must not FORCE a broadcast via hint."""
    from hayoo_spark.ops import dedup, textstats

    docs = spark.createDataFrame(
        [(i, "the quick brown fox jumps over the lazy dog again "
             "and again with plenty of perfectly normal filler text")
         for i in range(8)], "doc_id long, text string")
    pairs = dedup.minhash_lsh_pairs(docs, "doc_id", "text")
    out = textstats.clean_corpus(docs, dedup_pairs=pairs)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    # the ResolvedHint/broadcast marker would appear in the optimized
    # logical plan if F.broadcast() were still applied to the drop set
    assert "LeftAnti" in plan
    joins = [ln for ln in plan.splitlines() if "Join LeftAnti" in ln]
    assert joins and all("broadcast" not in ln.lower() for ln in joins), joins


def test_shingle_ops_tokenize_once_per_doc(spark):
    """The shingle/window builders must reference a MATERIALIZED token
    column inside their transform lambdas — a lambda referencing the
    tokenizer expression re-runs regexp_extract_all once per array
    element (~n_tokens full-text regex passes per doc; the r7 fix that
    took d_substring_spans from 9.7s to 3.0s).  Guard: the Generate
    node's generator must not embed the tokenizer regex."""
    from hayoo_spark.ops import dedup

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta iota")],
        "doc_id long, text string")
    for df in (dedup.shingles(docs, n=3),
               dedup.substring_dup_spans(docs, w=4)):
        plan = _plan(df)
        for chunk in plan.split("Generate ")[1:]:
            gen = chunk.split("\n")[0]
            assert "regexp_extract_all" not in gen, gen[:200]
