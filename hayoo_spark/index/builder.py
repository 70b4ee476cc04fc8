"""Segmented inverted-index builder — the engine's build side.

Architecture (designed for 10^12 docs / 1000 executors, tested on local):

- the corpus is hash-partitioned by ``url`` into **document segments**
  (Lucene-style).  Each segment owns its docs' norms and posting lists;
  a segment is the unit of checkpointing, resume, and query parallelism.
  Reference analogue: per-package batch partitioning + save intervals
  (hayooIndexer/src/HayooIndexer.hs:85-88,351-368).
- within a segment, postings are built by ONE term shuffle over
  map-side-combined rows: ``posexplode(tokens) -> mapInPandas combine
  to one (doc, term) row with packed positions -> groupBy(segment,
  bucket) -> Arrow grouped-map encode``.  The combine shrinks shuffle
  volume by ~avg-tf (tokens -> postings).  Heavy terms (Zipf head, df
  above a threshold) are **salted** into sub-lists so no single group
  exceeds a bounded size — AQE does not handle grouped-map skew, so
  this is explicit (SURVEY.md §4).
- posting lists are sorted doc-id arrays stored delta+varbyte with
  per-block max-score metadata (index/codec.py) for block-max WAND.
- every segment batch appends a **checkpoint manifest** row with input
  fingerprint + metrics (docs/sec, postings/sec, skew ratio); resume
  skips segments already in the manifest, and per-segment output is
  deterministic regardless of batch composition, so a resumed build is
  bit-equal to a cold build (tested).

Global BM25 stats (N, avgdl) are computed in a cheap first pass and
frozen in ``stats/`` before any segment is encoded, so block upper
bounds are exact and resume-safe.

Index layout (partitioned parquet; an Iceberg catalog would slot in at
the writer without touching the logic — storage shim per SURVEY.md §7):

    index_dir/
      stats/      one row: n_docs, avgdl, total_tokens
      docs/       segment=K/: doc_id, url, warc_ts, lang, dl
      postings/   segment=K/: term, salt, df, cf, ids_vb, tfs_vb,
                  pos_vb, block_last, block_ub, max_ub
      terms/      global dictionary: term, df, cf  (finalize step)
      manifest/   checkpoint lineage (FIXTURES.md §4 schema)
"""

from __future__ import annotations

import glob
import os
import time

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType, BinaryType, DoubleType, IntegerType, LongType,
    StringType, StructField, StructType,
)

from ..analysis import (
    extract_text_col, extract_text_series, extract_title_col, tokens_col,
)
from . import codec
from .fields import DEFAULT_FIELDS, FieldSpec, fkey_of

DEFAULT_BLOCK_SIZE = codec.BLOCK_SIZE
DEFAULT_N_SALTS = 8

POSTINGS_SCHEMA = StructType([
    StructField("segment", IntegerType()),
    StructField("term", StringType()),
    StructField("field", StringType()),
    StructField("salt", IntegerType()),
    StructField("df", LongType()),
    StructField("cf", LongType()),
    StructField("ids_vb", BinaryType()),
    StructField("tfs_vb", BinaryType()),
    StructField("pos_vb", BinaryType()),
    StructField("block_last", ArrayType(LongType())),
    StructField("block_ub", ArrayType(DoubleType())),
    # byte offset of each block's first doc within pos_vb: selective
    # position decode for phrase queries (decode candidate blocks only)
    StructField("block_pos_off", ArrayType(LongType())),
    StructField("max_ub", DoubleType()),
])

# grouped-map output before the (field, term) strings are joined back on
ENCODE_SCHEMA = StructType([
    StructField("segment", IntegerType()),
    StructField("term_h", LongType()),
    StructField("salt", IntegerType()),
    StructField("df", LongType()),
    StructField("cf", LongType()),
    StructField("ids_vb", BinaryType()),
    StructField("tfs_vb", BinaryType()),
    StructField("pos_vb", BinaryType()),
    StructField("block_last", ArrayType(LongType())),
    StructField("block_ub", ArrayType(DoubleType())),
    StructField("block_pos_off", ArrayType(LongType())),
    StructField("max_ub", DoubleType()),
])

# map-side combined occurrence stream: one row per (doc, field, term)
# with the doc's positions already delta+varbyte packed.  ``fkey`` is
# the small-int field index (constant within a term_h group — term_h
# hashes (field, term)) so the encoder can pick the field's avgdl.
# narrow integer types throughout the occurrence/combined stream: the
# posting build is memory-bandwidth bound at high parallelism, so every
# byte shipped through Arrow and the shuffle costs scaling efficiency.
# doc_id is a PER-SEGMENT ordinal (int32 bounds a segment at 2^31 docs
# — segments multiply with corpus size by design, a serving unit never
# approaches that); dl/tf/pos are per-document counts.
COMBINED_SCHEMA = StructType([
    StructField("segment", IntegerType()),
    StructField("doc_id", IntegerType()),
    StructField("dl", IntegerType()),
    StructField("fkey", IntegerType()),
    StructField("term_h", LongType()),
    StructField("tf", IntegerType()),
    StructField("pos_vb", BinaryType()),
])


def write_meta_parquet(path: str, pdf: pd.DataFrame, schema) -> None:
    """Driver-side parquet write for metadata-sized tables (stats,
    manifest rows).  A `spark.createDataFrame(rows).coalesce(1).write`
    costs ~5s at local[32]: the list parallelizes into
    default.parallelism partitions and the single coalesced write task
    pays a python-worker round PER parent partition — overhead that
    grows with core count and poisons the N-vs-4N scaling measurement.
    A pyarrow write is one driver syscall; Spark reads the dir as usual.
    """
    import pyarrow as pa
    import pyarrow.parquet as pq
    import uuid

    os.makedirs(path, exist_ok=True)
    table = pa.Table.from_pandas(pdf, schema=schema, preserve_index=False)
    pq.write_table(table, os.path.join(
        path, f"part-{uuid.uuid4().hex}.parquet"))


def manifest_schema():
    import pyarrow as pa
    return pa.schema([
        ("segment_id", pa.string()),
        ("partition_id", pa.int32()),
        ("input_fingerprint", pa.string()),
        ("docs", pa.int64()),
        ("postings", pa.int64()),
        ("docs_per_sec", pa.float64()),
        ("postings_per_sec", pa.float64()),
        ("skew_ratio", pa.float64()),
        ("enc_avgdl", pa.float64()),
        # per-FIELD avgdl at encode time (JSON map field->avgdl): the
        # engine needs per-field drift scales — a single min-over-fields
        # scalar inflates bounds by max(avgdl)/min(avgdl) (~body/title,
        # 30-100x) on any multi-field index and disables block-max
        # pruning entirely (ADVICE r2)
        ("enc_avgdl_json", pa.string()),
        ("commit_ts", pa.timestamp("us", tz="UTC")),
    ])


def extract_text(df: DataFrame, html_col: str = "html",
                 jvm: bool = True) -> DataFrame:
    """Add `text_x` extracted from html.

    Default path is pure JVM expressions (analysis.extract_text_col) —
    stays inside whole-stage codegen, no Arrow round-trip.  The pandas
    UDF path (jvm=False) is the seam where a real HTML parser
    (selectolax/lxml) would plug in for full web pages; both are
    byte-identical to the oracle extractor on the fixture corpus.

    A corpus with no html column but a ``text`` column (hoogle decls,
    WET extracts, the documents table) is already extracted — pass
    it through (the oracle's from_html=False twin)."""
    if html_col not in df.columns:
        if "text" in df.columns:
            return df.withColumn("text_x", F.col("text"))
        raise ValueError("pages need an 'html' or 'text' column")
    if jvm:
        return df.withColumn("text_x", extract_text_col(F.col(html_col)))

    @F.pandas_udf(StringType())
    def _extract(h: pd.Series) -> pd.Series:
        return extract_text_series(h)

    return df.withColumn("text_x", _extract(F.col(html_col)))


def field_tokens_col(f: FieldSpec):
    """Token array for one field spec (see fields.FieldSpec.source)."""
    mode = getattr(f, "token_mode", "tokens")
    if mode in ("whole", "whole_cs"):
        # `.*`-regexp contexts (module/package/version): the whole
        # trimmed value is ONE term (lowercased unless the _cs variant)
        v = F.trim(F.col(f.source).cast("string"))
        if mode == "whole":
            v = F.lower(v)
        return F.filter(F.array(v),
                        lambda x: x.isNotNull() & (x != ""))
    if f.source in ("sig_norm", "sig_subsig"):
        # signature contexts (T7-T10): terms are whole normalized
        # signature strings from the parser, not tokenizer output —
        # Arrow-batched python, the same pure function the oracle uses
        from ..signature import index_terms
        kind = f.source

        @F.pandas_udf(ArrayType(StringType()))
        def _sig_terms(col: pd.Series) -> pd.Series:
            return col.map(lambda v: index_terms(v, kind))

        return _sig_terms(F.col("signature"))
    if f.source == "body":
        return tokens_col("text_x")
    if f.source == "body_cs":
        return tokens_col("text_x", lowercase=False)
    if f.source == "title":
        return tokens_col(extract_title_col(F.col("html")))
    if f.source == "url_terms":
        # hierarchy / name-part expansion analogue (A2/A3): the url's
        # host and path segments split at punctuation become terms
        # (reference module `A.B.C` -> `A B C`, FctIndexerCore.hs:38-41;
        # pkg `foo-bar` -> parts, PkgIndexerCore.hs:134-143)
        return tokens_col(F.col("url"))
    # "tokens_cs": per-context case-SENSITIVE twin (the reference's
    # contexts preserve case and the query FLAVOR decides — Hunt
    # qWordNoCase vs qFullWord, App.hs:187-200; here a schema declares
    # `<field>_cs` twins and `field:!Word` targets them)
    return tokens_col(F.col(f.source), lowercase=(mode != "tokens_cs"))


def prepare_docs(pages: DataFrame, n_segments: int,
                 parallelism: int | None = None,
                 fields: tuple[FieldSpec, ...] = DEFAULT_FIELDS,
                 drop_empty: bool = False,
                 store_cols: tuple[str, ...] = ()) -> DataFrame:
    """pages -> deduped, segmented, extracted, tokenized docs.

    - first-wins dedup by url (newHayooIndexer/src/MainHoogle.hs:124-133):
      the file-order ordinal is assigned BEFORE any repartition so the
      winner is deterministic;
    - segment = xxhash64(url) mod n_segments (document partitioning);
    - doc_id = dense local ordinal, url-ascending within segment
      (deterministic ⇒ resumable builds are bit-equal);
    - per field f: ``tokens_<f>`` array + ``dl_<f>`` length (BM25F —
      every field is its own mini-index, fields.py).

    ONE exchange for dedup + doc-id assignment: a url's duplicates all
    hash to the same segment, so sorting each segment partition by
    (url, ord) makes first-wins dedup a lag() comparison, and the
    doc_id window needs only the (url) ordering that SAME sort already
    provides — Catalyst inserts no second exchange or sort.  The old
    two-window form shipped the whole corpus (html + text) through two
    full shuffles; this halves the build's heaviest data movement.
    """
    w_sort = Window.partitionBy("segment").orderBy("url", "ord")
    w_seg = Window.partitionBy("segment").orderBy("url")
    df = pages.withColumn("ord", F.monotonically_increasing_id())
    if parallelism:
        df = df.repartition(parallelism)
    # optional per-document static weight (the reference's adWght /
    # package-rank boost, hayooIndexer/src/Hayoo/Hunt/ApiDocument.hs:37);
    # BM25 scores are multiplied by it at query time
    if "boost" not in df.columns:
        df = df.withColumn("boost", F.lit(1.0))
    # sources that carry only (url, html) — e.g. tar archives — get
    # null meta columns so the docs table keeps one schema everywhere
    for c, t in (("warc_ts", "timestamp"), ("lang", "string")):
        if c not in df.columns:
            df = df.withColumn(c, F.lit(None).cast(t))
    pre = extract_text(df).withColumn(
        "segment", F.pmod(F.xxhash64("url"), F.lit(n_segments)).cast("int"))
    # tokenize BEFORE the segment exchange and carry ONLY what the
    # downstream passes read: html and the extracted text are several
    # times the token arrays' bytes, and shipping them through the
    # build's one corpus shuffle (and the docs cache behind it) was the
    # largest single memory-bandwidth cost in the N-vs-4N profile —
    # extraction/tokenization stay fused with the parquet scan instead
    keep = ["url", "warc_ts", "lang", "boost", "ord", "segment"]
    # caller-declared stored doc columns (e.g. the re-export merge's
    # alt_uris/alt_modules) ride into the doc store for projection
    keep += [c for c in store_cols if c not in keep]
    for f in fields:
        if f.ftype == "date":
            # date context (IndexSchema.hs:111): store the source
            # timestamp column under the field name — no tokenization
            if f.name != f.source:
                pre = pre.withColumn(f.name,
                                     F.col(f.source).cast("timestamp"))
            if f.name not in keep:
                keep.append(f.name)
            continue
        pre = pre.withColumn(f"tokens_{f.name}", field_tokens_col(f)) \
                 .withColumn(f"dl_{f.name}", F.size(f"tokens_{f.name}").cast("long"))
        keep += [f"tokens_{f.name}", f"dl_{f.name}"]
    out = (
        pre.select(*keep)
        .withColumn("_prev_url", F.lag("url").over(w_sort))
        .filter(F.col("_prev_url").isNull() | (F.col("_prev_url") != F.col("url")))
        .drop("_prev_url", "ord")
    )
    if drop_empty:
        # boring-doc filter (A8, FctIndexerCore.hs:84-111): drop docs
        # whose every DEFAULT field is empty — they can never score.
        # Opt-in: filter-only queries (lang:/url:/range) stop matching
        # such docs, which is a semantics choice the caller makes.
        keep = F.lit(False)
        for f in fields:
            if f.default and f.ftype != "date":
                keep = keep | (F.col(f"dl_{f.name}") > 0)
        out = out.filter(keep)
    return out.withColumn("doc_id", (F.row_number().over(w_seg) - 1).cast("long"))


def _combine_occurrences(batches):
    """Map-side (doc, term) combine — runs BEFORE the posting shuffle.

    Input: raw occurrence rows (segment, doc_id, dl, term_h, pos), all
    64-bit integers (term hashed JVM-side).  Output: one row per
    (doc, term) carrying tf and the doc's positions already delta+
    varbyte packed.  This shrinks the shuffle from one row per TOKEN to
    one row per POSTING (~avg-tf fewer rows; the tf=10k heavy-hitter doc
    collapses to one row) — the classic map-side combine, done in numpy
    because Spark inserts partial aggregation only for aggregates, not
    for grouped-map inputs.

    Arrow-native (r7): runs under ``mapInArrow`` — input batches are
    read as zero-copy numpy views and the packed ``pos_vb`` column is
    emitted as an Arrow BinaryArray built directly over the shared
    varbyte buffer (values are contiguous spans, so the offsets vector
    IS the per-value byte cumsum).  The old mapInPandas form created
    one Python ``bytes`` object per POSTING (~10M per 150k-doc build)
    on the way out and paid pandas block assembly per batch.

    The per-(doc,term) buffers are byte-identical spans of the old
    whole-group position stream (absolute position at each doc start,
    deltas within), so the encode step just concatenates them and every
    decode path is unchanged (resume builds stay bit-equal; tested).

    Memory is bounded PER ARROW BATCH, not per partition: a doc's
    occurrence rows are contiguous in the partition stream (each input
    row posexplodes into one consecutive run), so only the trailing
    doc's rows can straddle a batch boundary.  Each batch flushes every
    complete doc and carries the open trailing (segment, doc_id) run
    into the next batch — a python worker holds ~one Arrow batch plus
    one document's occurrences, instead of the whole input split's
    occurrence stream (~dl x larger than the split bytes; ADVICE r2).
    """
    cols = ("segment", "doc_id", "fkey", "term_h", "pos")
    carry: dict | None = None
    for rb in batches:
        if rb.num_rows == 0:
            continue
        cur = {c: rb.column(rb.schema.get_field_index(c))
               .to_numpy(zero_copy_only=False) for c in cols}
        if carry is not None:
            cur = {c: np.concatenate([carry[c], cur[c]]) for c in cols}
        seg, doc = cur["segment"], cur["doc_id"]
        n = len(seg)
        # the trailing doc's run is a suffix (contiguity by construction)
        tail = (seg == seg[-1]) & (doc == doc[-1])
        cut = n - int(tail[::-1].argmin()) if not tail.all() else 0
        carry = {c: v[cut:] for c, v in cur.items()}
        if cut:
            yield _combine_span({c: v[:cut] for c, v in cur.items()})
    if carry is not None and len(carry["segment"]):
        yield _combine_span(carry)


def _combine_span(c: dict):
    """Combine one doc-complete span of occurrence rows (numpy column
    dict, see _combine_occurrences) into per-(doc, term) posting rows
    as one Arrow RecordBatch."""
    import pyarrow as pa

    seg, doc = c["segment"], c["doc_id"]
    fk, th, pos = c["fkey"], c["term_h"], c["pos"]
    n = len(seg)
    # doc_id is a per-segment ordinal: (segment, doc_id) is the doc key;
    # term_h hashes (field, term) so fkey/dl are constant per group.
    # Input invariants (posexplode over the docs cache): each doc's
    # occurrence rows form ONE contiguous run per partition (the cut
    # logic in _combine_occurrences already relies on this) and
    # positions ascend within the run — so a STABLE 2-key sort on
    # (run ordinal, term_h) reproduces the old 4-key
    # (seg, doc, th, pos) lexsort order at roughly half the sort cost,
    # and the field document length is simply the RUN LENGTH (the run
    # holds every token occurrence of the doc in this field), so dl is
    # not shipped per token at all.
    rid = np.concatenate((
        [0], np.cumsum((doc[1:] != doc[:-1]) | (seg[1:] != seg[:-1]))))
    runlen = np.bincount(rid, minlength=int(rid[-1]) + 1)
    order = np.lexsort((th, rid))
    seg_s, doc_s = seg[order], doc[order]
    th_s, pos_s, fk_s = th[order], pos[order], fk[order]
    rid_s = rid[order]
    change = np.flatnonzero(
        (th_s[1:] != th_s[:-1]) | (rid_s[1:] != rid_s[:-1])) + 1
    starts = np.concatenate(([0], change))
    ends = np.concatenate((change, [n]))
    pdelta = np.empty_like(pos_s)
    pdelta[1:] = pos_s[1:] - pos_s[:-1]
    pdelta[starts] = pos_s[starts]
    buf, nbytes = codec.varbyte_encode_lengths(pdelta.astype(np.uint64))
    bends = np.cumsum(nbytes)[ends - 1]
    # group buffers tile `buf` contiguously -> offsets = [0] ++ bends;
    # BinaryArray.from_buffers shares the encode buffer, zero per-row
    # Python (int32 offsets are safe: bends is bounded by batch bytes)
    offsets = np.concatenate(([0], bends)).astype(np.int32)
    pos_arr = pa.Array.from_buffers(
        pa.binary(), len(starts),
        [None, pa.py_buffer(offsets.tobytes()), pa.py_buffer(buf)])
    return pa.RecordBatch.from_arrays([
        pa.array(seg_s[starts].astype(np.int32, copy=False)),
        pa.array(doc_s[starts].astype(np.int32, copy=False)),
        pa.array(runlen[rid_s[starts]].astype(np.int32, copy=False)),
        pa.array(fk_s[starts].astype(np.int32, copy=False)),
        pa.array(th_s[starts]),
        pa.array((ends - starts).astype(np.int32, copy=False)),
        pos_arr,
    ], names=["segment", "doc_id", "dl", "fkey", "term_h", "tf",
              "pos_vb"])


def _binary_col_views(arr):
    """(offsets int32 view, data uint8 view) of an Arrow BinaryArray,
    honoring the array's slice offset.  Zero-copy."""
    bufs = arr.buffers()
    off = np.frombuffer(bufs[1], np.int32)[arr.offset: arr.offset
                                           + len(arr) + 1]
    data = (np.frombuffer(bufs[2], np.uint8) if bufs[2] is not None
            else np.zeros(0, np.uint8))
    return off, data


def _encode_span(rb, avgdl_arr: np.ndarray, block_size: int):
    """Encode one group-complete span of combined rows (already
    (segment, term_h, salt, doc_id)-sorted by the JVM) into posting
    rows, one per (segment, term_h, salt) group — fully vectorized,
    zero per-group Python beyond boundary bookkeeping.

    The old per-(term,salt) loop paid ~20 numpy calls on tiny arrays
    per group — at ~1M groups per 150k-doc build that loop WAS the
    encode phase (measured 99.5s of a 170.7s 1-core build).  Here
    every array (delta ids, varbyte buffers, block boundaries, block
    maxima) is computed in one pass over the span with group/block
    boundaries expressed as reduceat/cumsum indices, and the output
    binary/list columns are Arrow arrays built over shared buffers.
    Byte-identical output: the same varbyte codec over the same
    per-group value streams.

    ``avgdl_arr`` is indexed by the row's fkey — block upper bounds
    use the owning FIELD's avgdl (BM25F: every field is its own
    mini-index)."""
    import pyarrow as pa

    names = rb.schema.names
    col = {c: rb.column(names.index(c)) for c in
           ("segment", "term_h", "salt", "doc_id", "dl", "fkey", "tf",
            "pos_vb")}
    segs = col["segment"].to_numpy(zero_copy_only=False)
    codes = col["term_h"].to_numpy(zero_copy_only=False)
    salts = col["salt"].to_numpy(zero_copy_only=False)
    docs = col["doc_id"].to_numpy(zero_copy_only=False)
    dls = col["dl"].to_numpy(zero_copy_only=False)
    fks = col["fkey"].to_numpy(zero_copy_only=False)
    tfs_all = col["tf"].to_numpy(zero_copy_only=False)
    poff, pdata = _binary_col_views(col["pos_vb"])
    n = len(codes)
    # (segment, term, salt) group boundaries; docs unique within a group
    key_change = np.flatnonzero(
        (codes[1:] != codes[:-1]) | (salts[1:] != salts[:-1])
        | (segs[1:] != segs[:-1])) + 1
    g_starts = np.concatenate(([0], key_change))
    g_ends = np.concatenate((key_change, [n]))
    n_groups = len(g_starts)
    lengths = g_ends - g_starts

    # ids_vb: per-group delta encode (absolute id at group starts) then
    # ONE varbyte pass over the whole span; per-group buffers are
    # contiguous spans of the shared encode buffer, exposed as a
    # BinaryArray over it (offsets = cumsum at group bounds)
    d64 = docs.astype(np.int64, copy=False)
    deltas = np.empty(n, np.int64)
    deltas[1:] = d64[1:] - d64[:-1]
    deltas[g_starts] = d64[g_starts]
    ibuf, inb = codec.varbyte_encode_lengths(deltas.astype(np.uint64))
    icum = np.concatenate(([0], np.cumsum(inb)))
    gb = np.append(g_starts, n)  # group bounds incl. end
    ids_arr = pa.Array.from_buffers(
        pa.binary(), n_groups,
        [None, pa.py_buffer(icum[gb].astype(np.int32)),
         pa.py_buffer(ibuf)])

    tbuf, tnb = codec.varbyte_encode_lengths(tfs_all.astype(np.uint64))
    tcum = np.concatenate(([0], np.cumsum(tnb)))
    tfs_arr = pa.Array.from_buffers(
        pa.binary(), n_groups,
        [None, pa.py_buffer(tcum[gb].astype(np.int32)),
         pa.py_buffer(tbuf)])

    # pos_vb: rows are consecutive in the input data buffer, so a
    # group's concatenated stream is one span — share the buffer.
    # Offsets are rebased to 0 (and the data view sliced to match):
    # the Arrow IPC writer does not rebase a non-zero first offset,
    # and the JVM reader then indexes past the truncated buffer.
    p0 = int(poff[0])
    pos_arr = pa.Array.from_buffers(
        pa.binary(), n_groups,
        [None, pa.py_buffer(poff[gb] - p0),
         pa.py_buffer(pdata[p0:int(poff[n])])])

    # block boundaries: blocks tile [0, n) contiguously (a group's last
    # block ends where the next group's first starts), so
    # maximum.reduceat over block starts is exact per block
    norms = (tfs_all * (codec.K1 + 1.0)
             / (tfs_all + codec.K1
                * (1.0 - codec.B + codec.B * dls / avgdl_arr[fks])))
    nb_g = (lengths + block_size - 1) // block_size
    fb = np.concatenate(([0], np.cumsum(nb_g)))
    block_group = np.repeat(np.arange(n_groups), nb_g)
    block_ord = np.arange(int(fb[-1])) - fb[block_group]
    block_start = g_starts[block_group] + block_ord * block_size
    block_end = np.minimum(block_start + block_size, g_ends[block_group])
    fb32 = fb.astype(np.int32)
    last_arr = pa.ListArray.from_arrays(
        fb32, pa.array(d64[block_end - 1], pa.int64()))
    ub_all = np.maximum.reduceat(norms, block_start)
    ub_arr = pa.ListArray.from_arrays(fb32, pa.array(ub_all, pa.float64()))
    # block b's positions start at the cumulative byte length of the
    # preceding docs' buffers (blocks split on doc bounds)
    bpo_all = (poff[block_start].astype(np.int64)
               - poff[g_starts[block_group]].astype(np.int64))
    bpo_arr = pa.ListArray.from_arrays(fb32, pa.array(bpo_all, pa.int64()))

    return pa.RecordBatch.from_arrays([
        pa.array(segs[g_starts]),
        pa.array(codes[g_starts]),
        pa.array(salts[g_starts]),
        pa.array(lengths.astype(np.int64, copy=False)),
        pa.array(np.add.reduceat(tfs_all.astype(np.int64), g_starts)),
        ids_arr, tfs_arr, pos_arr, last_arr, ub_arr, bpo_arr,
        pa.array(np.maximum.reduceat(ub_all, fb[:-1])),
    ], names=["segment", "term_h", "salt", "df", "cf", "ids_vb",
              "tfs_vb", "pos_vb", "block_last", "block_ub",
              "block_pos_off", "max_ub"])


def _encode_stream_factory(avgdls: list[float], block_size: int):
    """mapInArrow encoder over (segment, bucket)-partitioned,
    (segment, term_h, salt, doc_id)-sorted combined rows.  Batches are
    cut at the last complete (segment, term_h, salt) boundary and the
    open trailing group is carried into the next batch (same pattern
    as _combine_occurrences), so worker memory is ~one Arrow batch
    plus one posting group."""
    avgdl_arr = np.asarray(avgdls, np.float64)

    def encode_stream(batches):
        import pyarrow as pa

        carry = None
        names = None
        for rb in batches:
            if rb.num_rows == 0:
                continue
            if names is None:
                names = rb.schema.names
                i_seg = names.index("segment")
                i_th = names.index("term_h")
                i_sl = names.index("salt")
            if carry is not None:
                rb = pa.Table.from_batches([carry, rb]) \
                    .combine_chunks().to_batches()[0]
            segs = rb.column(i_seg).to_numpy(zero_copy_only=False)
            th = rb.column(i_th).to_numpy(zero_copy_only=False)
            sl = rb.column(i_sl).to_numpy(zero_copy_only=False)
            n = len(th)
            tail = (th == th[-1]) & (sl == sl[-1]) & (segs == segs[-1])
            cut = n - int(tail[::-1].argmin()) if not tail.all() else 0
            carry = rb.slice(cut)
            if cut:
                yield _encode_span(rb.slice(0, cut), avgdl_arr,
                                   block_size)
        if carry is not None and carry.num_rows:
            yield _encode_span(carry, avgdl_arr, block_size)

    return encode_stream


def build_index(
    spark: SparkSession,
    pages_path: str,
    index_dir: str,
    n_segments: int = 8,
    block_size: int = DEFAULT_BLOCK_SIZE,
    salt_df_threshold: int = 4096,
    n_salts: int = DEFAULT_N_SALTS,
    segments_per_batch: int | None = None,
    resume: bool = False,
    fields: tuple[FieldSpec, ...] = DEFAULT_FIELDS,
    drop_empty: bool = False,
    split_sections: bool = False,
    store_cols: tuple[str, ...] = (),
    prepared_docs: DataFrame | None = None,
) -> dict:
    """Build (or resume) the index.  Returns build metrics.

    ``segments_per_batch`` bounds the work between checkpoints (the
    reference's save interval, HayooIndexer.hs:86-88); default = all
    segments in one batch.  ``fields`` is the context schema
    (fields.py); on resume the schema is read back from ``stats/`` so a
    resumed build cannot silently diverge from the original.
    ``split_sections`` explodes every page into per-section virtual
    docs keyed url#anchor BEFORE indexing (split.py — the reference's
    one-doc-per-declaration behavior, Haddock.hs:113-454); persisted in
    stats/ like the rest of the schema.
    ``prepared_docs`` (incremental-update fast path) is an
    already-prepared, already-persisted docs relation covering exactly
    the pending segments — update_index passes the relation it computed
    the stats merge from, so the touched fraction is extracted and
    tokenized ONCE, not once per pass (ADVICE r5).
    """
    if not resume and os.path.exists(index_dir):
        # cold build must not append onto stale segments
        import shutil
        for sub in ("stats", "docs", "postings", "terms", "manifest"):
            shutil.rmtree(os.path.join(index_dir, sub), ignore_errors=True)
    os.makedirs(index_dir, exist_ok=True)

    stats_path = os.path.join(index_dir, "stats")
    srows = None
    if resume and os.path.exists(stats_path):
        srows = sorted(spark.read.parquet(stats_path).collect(),
                       key=lambda r: r["fkey"])
        fields = tuple(
            FieldSpec(r["field"], r["weight"], r["is_default"], r["source"],
                      r.asDict().get("ftype", "text"),
                      r.asDict().get("token_mode", "tokens"))
            for r in srows)
        if "drop_empty" in srows[0].asDict():
            drop_empty = bool(srows[0]["drop_empty"])
        if "split_sections" in srows[0].asDict():
            split_sections = bool(srows[0]["split_sections"])
        if "store_cols_json" in srows[0].asDict():
            import json as _json
            store_cols = tuple(_json.loads(srows[0]["store_cols_json"]))

    manifest_path = os.path.join(index_dir, "manifest")
    done: set[int] = set()
    if resume and os.path.exists(manifest_path) and glob.glob(
            os.path.join(manifest_path, "*.parquet")):
        done = {r["partition_id"] for r in
                spark.read.parquet(manifest_path).select("partition_id").collect()}
    pending = [s for s in range(n_segments) if s not in done]
    batch_size = segments_per_batch or max(1, len(pending))

    from pyspark import StorageLevel
    if prepared_docs is not None:
        # incremental-update fast path: the caller already prepared
        # (split/pruned/tokenized/persisted) exactly the pending
        # segments' docs and computed the stats merge from them
        docs = prepared_docs
    else:
        pages = spark.read.parquet(pages_path)
        if split_sections:
            from ..split import split_virtual_docs
            pages = split_virtual_docs(pages)
        # PARTIAL resume (incremental update): when global stats are
        # frozen on disk and only a subset of segments is missing, prune
        # the corpus to the pending segments' pages BEFORE extraction —
        # the expensive tokenize pass then scales with the touched
        # fraction, not the corpus (a 1-of-32-segment update was paying
        # ~70% of a full rebuild in prepare time, measured at 300k).
        # Only valid when stats exist: a fresh stats pass needs every
        # document.
        if resume and srows is not None and pending \
                and len(pending) < n_segments:
            pages = pages.filter(
                F.pmod(F.xxhash64("url"), F.lit(n_segments)).cast("int")
                .isin(pending))
        # tokenized docs feed the stats pass AND every segment batch:
        # persist to avoid re-extracting/re-tokenizing the corpus per
        # pass (disk-backed — token arrays exceed executor memory at
        # scale).  Extraction parallelism comes from input splits
        # (session sets spark.sql.files.maxPartitionBytes small enough
        # locally); an explicit repartition would pay an extra full
        # exchange of raw html.
        docs = prepare_docs(pages, n_segments, fields=fields,
                            drop_empty=drop_empty, store_cols=store_cols) \
            .persist(StorageLevel.MEMORY_AND_DISK)

    phase_t: dict[str, float] = {}
    t_phase = time.monotonic()

    # global stats (N, per-field avgdl) must be frozen before any
    # encode.  Resume reads them back; a fresh build computes them on
    # the FIRST batch as a column-pruned read of the docs cache right
    # after the combine job materializes it — the columnar cache serves
    # the dl_* columns without touching html/text/token arrays, so the
    # "stats pass" costs one cheap agg instead of a corpus pass.
    need_stats = srows is None
    if srows is not None:
        n_docs = srows[0]["n_docs"]
        avgdl = {r["field"]: float(r["avgdl"]) for r in srows
                 if r.asDict().get("ftype", "text") != "date"}
    elif not pending:
        a = docs.agg(*_stats_aggs(fields)).collect()[0]
        n_docs, avgdl = _write_stats(a, fields, drop_empty, split_sections,
                                     stats_path, store_cols, n_segments)
        need_stats = False
    else:
        n_docs, avgdl = -1, {}  # computed inside the first batch

    phase_t["stats_sec"] = round(time.monotonic() - t_phase, 2)

    metrics = {"segments_built": 0}

    # Per-batch job schedule (minimizing idle cores between stages —
    # measured ~8% of the 8-core build was job-boundary idle; on a
    # 1000-executor cluster those gaps are whole-fleet stalls):
    #   1. combine job: materializes the docs cache ONCE and the
    #      persisted combined/per_term/term_dict relations;
    #   2. stats agg (first fresh batch only): cheap cached read;
    #   3. postings encode+write CONCURRENT with the docs write — the
    #      encode needs avgdl, the docs write does not, and both read
    #      only already-materialized state, so neither blocks the other
    #      (overlapping two jobs that RACE to materialize a shared
    #      cache convoys on the per-partition cache locks — measured
    #      2.3x slower; hence the explicit materialize-first step).
    from concurrent.futures import ThreadPoolExecutor

    # cached-dictionary fast path: a fresh single-batch build over every
    # segment materializes per_term/term_dict for the whole index, so
    # finalize can aggregate those instead of re-scanning postings/ —
    # and since it reads ONLY those cached relations, it joins the last
    # batch's concurrent job pool (it does not depend on the postings
    # write; crash-safe because finalize is overwrite-mode and resume
    # always re-runs it).
    whole_index_cached = (len(done) == 0 and bool(pending)
                          and batch_size >= len(pending)
                          and len(pending) == n_segments)

    last_commit = None
    for i in range(0, len(pending), batch_size):
        batch = pending[i : i + batch_size]
        t0 = time.monotonic()
        seg_docs = docs.filter(F.col("segment").isin(batch))
        combined, per_term, term_dict = _combine_relations(seg_docs, fields)
        t = time.monotonic()
        per_term.count()   # pulls `combined` through the python combine
        if need_stats:
            # docs + combined caches are materialized now, so the
            # dictionary count and the stats agg no longer race a cache
            # build — overlap the two independent jobs (guide §2.6);
            # both are hi-leg fixed cost in the N-vs-4N measurement
            with ThreadPoolExecutor(max_workers=2) as ex0:
                f_terms = ex0.submit(term_dict.count)
                f_stats = ex0.submit(
                    lambda: docs.agg(*_stats_aggs(fields)).collect()[0])
                n_terms = f_terms.result()
                a = f_stats.result()
            n_docs, avgdl = _write_stats(a, fields, drop_empty,
                                         split_sections, stats_path,
                                         store_cols, n_segments)
            need_stats = False
        else:
            n_terms = term_dict.count()
        phase_t["combine_sec"] = round(
            phase_t.get("combine_sec", 0.0) + time.monotonic() - t, 2)
        def _timed_finalize():
            tf0 = time.monotonic()
            finalize(spark, index_dir, per_term=per_term,
                     term_dict=term_dict)
            phase_t["finalize_sec"] = round(
                phase_t.get("finalize_sec", 0.0)
                + time.monotonic() - tf0, 2)

        run_fin_here = whole_index_cached and i + batch_size >= len(pending)
        with ThreadPoolExecutor(max_workers=3) as ex:
            f_post = ex.submit(_write_postings, spark, combined, per_term,
                               term_dict, index_dir, avgdl, fields,
                               block_size, salt_df_threshold, n_salts,
                               phase_t, n_terms)
            f_docs = ex.submit(_write_docs, seg_docs, index_dir, fields,
                               phase_t)
            f_fin = ex.submit(_timed_finalize) if run_fin_here else None
            f_post.result()
            f_docs.result()
            if f_fin is not None:
                f_fin.result()
        elapsed = time.monotonic() - t0

        def _commit(batch=batch, elapsed=elapsed, seg_docs=seg_docs,
                    combined=combined, per_term=per_term,
                    term_dict=term_dict, unpersist=True):
            t1 = time.monotonic()
            _commit_manifest(spark, index_dir, batch, elapsed, avgdl,
                             seg_docs=seg_docs, per_term=per_term)
            if unpersist:
                per_term.unpersist()
                combined.unpersist()
                term_dict.unpersist()
            phase_t["manifest_sec"] = round(
                phase_t.get("manifest_sec", 0.0) + time.monotonic() - t1, 2)

        if i + batch_size < len(pending):
            _commit()
        else:
            last_commit = _commit  # overlaps with finalize below
        metrics["segments_built"] += len(batch)

    metrics.update({"n_docs": int(n_docs),
                    "avgdl": {k: round(v, 3) for k, v in avgdl.items()}})

    # Cached path: finalize already ran inside the last batch's pool;
    # only the manifest commit remains (relations are unpersisted HERE,
    # after every consumer is done).  Parquet path (resume/multi-batch):
    # finalize must read the written postings, so it runs now, with the
    # last batch's manifest commit overlapped — crash-safe: finalize is
    # mode("overwrite") and build_index always re-runs it on resume, so
    # a manifest that lands before terms/ finishes cannot strand a
    # half-finalized index.
    t1 = time.monotonic()
    if whole_index_cached:
        if last_commit is not None:
            last_commit(unpersist=False)
        per_term.unpersist()
        combined.unpersist()
        term_dict.unpersist()
    else:
        with ThreadPoolExecutor(max_workers=2) as ex:
            futs = [ex.submit(finalize, spark, index_dir)]
            if last_commit is not None:
                futs.append(ex.submit(last_commit))
            for f in futs:
                f.result()
        phase_t["finalize_sec"] = round(time.monotonic() - t1, 2)
    docs.unpersist()
    metrics["phases"] = phase_t
    return metrics


N_BUCKETS = 32  # encode-groups per segment; bounds Arrow group size


def _stats_aggs(fields):
    """Aggregate expressions for the global stats pass (N, per-field
    token totals and avgdl; date fields carry no token stats)."""
    aggs = [F.count(F.lit(1)).alias("n_docs")]
    for f in fields:
        if f.ftype == "date":
            continue
        aggs.append(F.sum(f"dl_{f.name}").alias(f"tot_{f.name}"))
        aggs.append(F.avg(f"dl_{f.name}").alias(f"avg_{f.name}"))
    return aggs


def _write_stats(a, fields, drop_empty, split_sections, stats_path,
                 store_cols=(), n_segments=0):
    """Freeze global stats to ``stats/``; returns (n_docs, avgdl map
    over TEXT fields).  ``a`` is a Row or observation dict holding the
    _stats_aggs values.  ``store_cols`` is persisted like the rest of
    the corpus options so resumes and incremental updates rebuild
    segments with the SAME doc-store schema (ADVICE r5: an update of an
    index built with store_cols previously dropped those columns from
    rebuilt segments, leaving mixed per-segment schemas)."""
    import json as _json
    import pyarrow as pa
    import shutil as _sh
    n_docs = a["n_docs"]
    avgdl = {f.name: float(a[f"avg_{f.name}"] or 1.0)
             for f in fields if f.ftype != "date"}
    _sh.rmtree(stats_path, ignore_errors=True)
    write_meta_parquet(stats_path, pd.DataFrame({
        "field": [f.name for f in fields],
        "fkey": np.arange(len(fields), dtype=np.int32),
        "weight": [float(f.weight) for f in fields],
        "is_default": [bool(f.default) for f in fields],
        "source": [f.source for f in fields],
        "ftype": [f.ftype for f in fields],
        "token_mode": [getattr(f, "token_mode", "tokens")
                       for f in fields],
        "n_docs": np.full(len(fields), int(n_docs), np.int64),
        "avgdl": [avgdl.get(f.name, 1.0) for f in fields],
        "total_tokens": [int(a[f"tot_{f.name}"] or 0)
                         if f.ftype != "date" else 0 for f in fields],
        "drop_empty": [bool(drop_empty)] * len(fields),
        "split_sections": [bool(split_sections)] * len(fields),
        "store_cols_json": [_json.dumps(list(store_cols))] * len(fields),
        # segment count is a physical property of the index; persisting
        # it makes a crash-and-retry of an incremental update safe even
        # when the crash window left segment dirs deleted (a glob over
        # docs/ would then under-count)
        "n_segments": np.full(len(fields), int(n_segments), np.int32),
    }), pa.schema([
        ("field", pa.string()), ("fkey", pa.int32()),
        ("weight", pa.float64()), ("is_default", pa.bool_()),
        ("source", pa.string()), ("ftype", pa.string()),
        ("token_mode", pa.string()),
        ("n_docs", pa.int64()),
        ("avgdl", pa.float64()), ("total_tokens", pa.int64()),
        ("drop_empty", pa.bool_()),
        ("split_sections", pa.bool_()),
        ("store_cols_json", pa.string()),
        ("n_segments", pa.int32()),
    ]))
    return n_docs, avgdl


def _write_docs(seg_docs, index_dir, fields, phase_t,
                observe_stats: bool = False):
    """Persist one batch's doc tables.  With ``observe_stats`` the
    global stats aggregates ride along on the SAME job (Observation) —
    no separate corpus pass; returns the Observation (else None)."""
    t0 = time.monotonic()
    doc_cols = ["segment", "doc_id", "url", "warc_ts", "lang", "boost"] + \
        [f"dl_{f.name}" for f in fields if f.ftype != "date"] + \
        [f.name for f in fields
         if f.ftype == "date" and f.name != "warc_ts"]
    # stored extra columns (prepare_docs store_cols) persist alongside
    doc_cols += [c for c in seg_docs.columns
                 if c not in doc_cols and not c.startswith("tokens_")]
    df = seg_docs.select(*doc_cols)
    obs = None
    if observe_stats:
        from pyspark.sql import Observation
        obs = Observation()
        df = df.observe(obs, *_stats_aggs(fields))
    (df
     .repartition("segment")
     .sortWithinPartitions("doc_id")
     .write.mode("append").partitionBy("segment")
     .parquet(os.path.join(index_dir, "docs")))
    phase_t["docs_write_sec"] = round(
        phase_t.get("docs_write_sec", 0.0) + time.monotonic() - t0, 2)
    return obs


def _combine_relations(seg_docs, fields):
    # ONE shuffle for the whole posting build, over COMBINED rows: the
    # raw occurrence stream (64-bit term hashes, never strings) is
    # map-side combined to one row per (doc, term) with positions packed
    # (_combine_occurrences) BEFORE the exchange, so shuffle volume is
    # ~avg-tf smaller than shipping tokens.  Term strings are joined
    # back onto the ~1000x smaller encoded output from a distinct-terms
    # dictionary.  `combined` is persisted because two consumers read it
    # (the per-term salting/metrics aggregation and the encode) and
    # recomputing it would re-run the python combine per consumer.
    from pyspark import StorageLevel
    fkeys = fkey_of(fields)
    occ_parts, dict_parts = [], []
    for f in fields:
        if f.ftype == "date":
            continue  # date contexts carry no postings
        # NOTE: no dl column — a doc's occurrence rows in one field are
        # one contiguous run (posexplode; the combine's batch-carry
        # logic already relies on this), so dl = run length is
        # recomputed python-side instead of shipping 4 more bytes per
        # TOKEN through the Arrow boundary
        occ_parts.append(
            seg_docs.select(
                "segment",
                F.col("doc_id").cast("int").alias("doc_id"),
                F.posexplode(f"tokens_{f.name}").alias("pos", "term"))
            .withColumn("field", F.lit(f.name))
            .withColumn("fkey", F.lit(fkeys[f.name]).cast("int")))
        # term dictionary: per-doc array_distinct BEFORE the explode
        # shrinks the distinct-aggregation input by ~avg-tf — this is
        # the second full read of the cached token arrays, so the less
        # it materializes the better the N-vs-4N bandwidth profile
        dict_parts.append(
            seg_docs.select(
                F.explode(F.array_distinct(f"tokens_{f.name}")).alias("term"))
            .withColumn("field", F.lit(f.name)))
    occ = occ_parts[0]
    for p in occ_parts[1:]:
        occ = occ.unionByName(p)
    # posting identity is (field, term): hash both so every downstream
    # integer path (combine, salting, buckets) is field-aware for free
    occ = occ.withColumn("term_h", F.xxhash64("field", "term")) \
        .drop("term", "field")
    combined = occ.mapInArrow(_combine_occurrences, COMBINED_SCHEMA) \
        .persist(StorageLevel.MEMORY_AND_DISK)
    term_dict = dict_parts[0]
    for p in dict_parts[1:]:
        term_dict = term_dict.unionByName(p)
    term_dict = term_dict.distinct() \
        .withColumn("term_h", F.xxhash64("field", "term")) \
        .persist(StorageLevel.MEMORY_AND_DISK)

    # per-(segment, term) relation feeds BOTH the heavy-term scan and the
    # manifest metrics (df sums, skew) — persisted so that aggregation
    # over the combined relation runs once, not once per consumer
    per_term = (combined.groupBy("segment", "term_h")
                .agg(F.count(F.lit(1)).alias("tdf"),
                     F.sum("tf").alias("seg_cf"))
                .persist(StorageLevel.MEMORY_AND_DISK))
    return combined, per_term, term_dict


#: term-dictionary broadcast ceiling for the single-shuffle write path
#: (strings + hashes; ~2M terms is tens of MB framed — the size class
#: the guide calls comfortably broadcastable).  Env-overridable so a
#: cluster deployment with bigger executors can raise it.
TERMDICT_BROADCAST_MAX = int(os.environ.get(
    "HAYOO_TERMDICT_BROADCAST_MAX", str(2_000_000)))


def _write_postings(spark, combined, per_term, term_dict, index_dir, avgdl,
                    fields, block_size, salt_df_threshold, n_salts, phase_t,
                    n_terms: int | None = None):
    """Salting + bucket encode + postings write.  Everything here reads
    the persisted relations from ``_combine_relations`` — ``avgdl`` is
    the only late input (it becomes known when the fused stats pass
    finishes), which is what lets the combine materialization overlap
    the docs write.  ``n_terms`` (the term_dict count the combine phase
    already produced) gates the broadcast-join write path."""
    t0 = time.monotonic()
    # explicit Zipf-skew salting: heavy (segment, term) occurrence groups
    # split by doc id so no encode group is unbounded.  AQE does not
    # handle grouped-map skew, so this is explicit (SURVEY.md §4).
    heavy = (per_term
             .filter(F.col("seg_cf") > salt_df_threshold)
             .select("segment", "term_h"))
    comb = (
        combined
        .join(F.broadcast(heavy.withColumn("is_heavy", F.lit(True))),
              ["segment", "term_h"], "left")
        .withColumn(
            "salt",
            F.when(F.col("is_heavy").isNotNull(),
                   F.pmod(F.col("doc_id"), F.lit(n_salts)).cast("int"))
            .otherwise(F.lit(0)))
        .withColumn("bucket",  # inner pmod first: term_h+salt could overflow int64 (ANSI)
                    F.pmod(F.pmod(F.col("term_h"), F.lit(N_BUCKETS)) + F.col("salt"),
                           F.lit(N_BUCKETS)).cast("int"))
        .drop("is_heavy")
    )

    avgdls = [avgdl.get(f.name, 1.0) for f in fields]
    # stream-encode over JVM-sorted partitions instead of
    # groupBy().applyInPandas: rows arrive already (segment, term_h,
    # salt, doc_id)-ordered from the Tungsten sort, so the python side
    # drops its 10M-element lexsort AND the pandas materialization of
    # every pos_vb cell as a bytes object; all output buffers are
    # zero-copy Arrow (see _encode_stream_factory)
    if n_terms is not None and n_terms <= TERMDICT_BROADCAST_MAX:
        # single-shuffle write path (guide §2.4): partition the combined
        # stream by SEGMENT once; the encode preserves that partitioning,
        # the dictionary joins by BROADCAST (size-gated on the term
        # count the combine phase already produced), and the final sort
        # leads with the partition column so FileFormatWriter inserts no
        # sort of its own — the old shape re-shuffled the ENCODED
        # postings a second time just to co-locate segments for the
        # write, and its trailing term sort was silently destroyed by
        # the writer's own partition-column sort (files measured
        # term-UNsorted).  Bonus: files now really are term-sorted, so
        # parquet row-group min/max stats prune term lookups again.
        # hash-partition by segment: 32 segments into 12 partitions is
        # visibly uneven ([8,5,5,3,3,2,2,1,1,1,1,0] measured), but the
        # many small partitions pack around the big one (8+8+8+8 on 4
        # cores = ideal makespan), so the imbalance does not gate the
        # stage.  repartitionByRange(segment, term_h) was measured as
        # the alternative: perfectly even, but its reservoir-sampling
        # pass re-evaluates the combined stream (~5 s on the 1-core
        # leg) and the term_h-ranged files interleave term-string
        # ranges, un-sorting the serving layout — rejected.
        encoded = (comb
                   .repartition("segment")
                   .sortWithinPartitions("segment", "term_h", "salt",
                                         "doc_id")
                   .mapInArrow(_encode_stream_factory(avgdls, block_size),
                               ENCODE_SCHEMA))
        (encoded
         .join(F.broadcast(term_dict), "term_h")
         .select(*[f.name for f in POSTINGS_SCHEMA.fields])
         .sortWithinPartitions("segment", "term", "field", "salt")
         .write.mode("append").partitionBy("segment")
         .parquet(os.path.join(index_dir, "postings")))
    else:
        # huge-vocabulary fallback (multi-million-term batches): keep
        # the shuffle join on term_h and the pre-write exchange
        encoded = (comb
                   .repartition("segment", "bucket")
                   .sortWithinPartitions("segment", "term_h", "salt",
                                         "doc_id")
                   .mapInArrow(_encode_stream_factory(avgdls, block_size),
                               ENCODE_SCHEMA))
        (encoded
         .join(term_dict, "term_h")
         .select(*[f.name for f in POSTINGS_SCHEMA.fields])
         .repartition("segment")
         .sortWithinPartitions("segment", "term", "field", "salt")
         .write.mode("append").partitionBy("segment")
         .parquet(os.path.join(index_dir, "postings")))
    phase_t["encode_sec"] = round(
        phase_t.get("encode_sec", 0.0) + time.monotonic() - t0, 2)


def _commit_manifest(spark, index_dir, batch, elapsed, enc_avgdl,
                     seg_docs=None, per_term=None):
    """Per-partition checkpoint lineage + metrics (FIXTURES.md §4).

    ``enc_avgdl`` is the PER-FIELD avgdl map the segment's block bounds
    were encoded under — incremental updates shift corpus stats, and the
    query engine uses this to scale stale bounds safely, per field
    (update.py; a scalar is accepted for back-compat).
    ``seg_docs`` (the cached batch docs DF) and ``per_term`` (the
    persisted per-(segment,term) relation the salting scan already
    materialized) avoid re-reading what was just written: per_term's
    row count per term IS the per-term df, so postings totals and skew
    come from one tiny aggregation over cached data instead of a
    parquet re-read of the postings (was 26% of build wall-clock)."""
    if seg_docs is None:
        seg_docs = spark.read.parquet(os.path.join(index_dir, "docs")) \
            .filter(F.col("segment").isin(batch))
    fp = seg_docs.groupBy("segment").agg(
        F.count("*").alias("docs"),
        F.expr("bit_xor(xxhash64(url))").alias("input_fingerprint"))
    if per_term is None:
        per_term = (spark.read.parquet(os.path.join(index_dir, "postings"))
                    .filter(F.col("segment").isin(batch))
                    .groupBy("segment", F.col("term").alias("term_h"))
                    .agg(F.sum("df").alias("tdf")))
    pm = (per_term
          .groupBy("segment")
          .agg(F.sum("tdf").alias("postings"),
               (F.max("tdf") / F.avg("tdf")).alias("skew_ratio")))
    # ONE driver job for both aggregates (job-submission latency is pure
    # fixed cost in the N-vs-4N scaling measurement)
    merged = fp.join(pm, "segment", "full_outer").collect()
    rows = {r["segment"]: r for r in merged}
    prows = rows
    import json as _json
    if not isinstance(enc_avgdl, dict):
        enc_avgdl = {"text": float(enc_avgdl)}
    enc_min = min(enc_avgdl.values()) if enc_avgdl else 1.0
    enc_json = _json.dumps({k: float(v) for k, v in sorted(enc_avgdl.items())})
    out = []
    per_seg = elapsed / max(1, len(batch))
    for s in batch:
        d = rows.get(s)
        p = prows.get(s)
        ndocs = (d["docs"] if d and d["docs"] is not None else 0)
        nposts = (p["postings"] if p and p["postings"] is not None else 0)
        out.append((
            f"seg-{s:05d}", s,
            str(d["input_fingerprint"])
            if d and d["input_fingerprint"] is not None else "0",
            int(ndocs), int(nposts),
            ndocs / per_seg if per_seg else 0.0,
            nposts / per_seg if per_seg else 0.0,
            float(p["skew_ratio"]) if p and p["skew_ratio"] else 1.0,
            float(enc_min),
            enc_json,
        ))
    import datetime as _dt
    cols = list(zip(*out)) if out else [[] for _ in range(10)]
    pdf = pd.DataFrame({
        "segment_id": list(cols[0]),
        "partition_id": np.asarray(cols[1], np.int32),
        "input_fingerprint": list(cols[2]),
        "docs": np.asarray(cols[3], np.int64),
        "postings": np.asarray(cols[4], np.int64),
        "docs_per_sec": np.asarray(cols[5], np.float64),
        "postings_per_sec": np.asarray(cols[6], np.float64),
        "skew_ratio": np.asarray(cols[7], np.float64),
        "enc_avgdl": np.asarray(cols[8], np.float64),
        "enc_avgdl_json": list(cols[9]),
    })
    pdf["commit_ts"] = pd.Timestamp(_dt.datetime.now(_dt.timezone.utc))
    write_meta_parquet(os.path.join(index_dir, "manifest"), pdf,
                       manifest_schema())


def finalize(spark: SparkSession, index_dir: str,
             per_term: DataFrame | None = None,
             term_dict: DataFrame | None = None) -> None:
    """Global term dictionary (df, cf) — sort-merge of segment postings,
    analogous to the reference's final index merge
    (hayooIndexer/src/Hayoo/Hunt/FctIndexerCore.hs:77-82 union).

    ``per_term``/``term_dict``: when the caller just built EVERY
    segment in one batch, the persisted per-(segment, term_h) counts
    and the term dictionary already hold exactly the numbers the
    postings re-read would aggregate (tdf sums over salts to df,
    seg_cf to cf; term_h keys (field, term)), so the dictionary derives
    from cached relations instead of re-scanning the postings parquet.
    Resume / multi-batch builds pass None and take the scan path."""
    n_parts = max(1, int(spark.conf.get("spark.sql.shuffle.partitions")) // 4)
    if per_term is not None and term_dict is not None:
        agg = (per_term.groupBy("term_h")
               .agg(F.sum("tdf").alias("df"), F.sum("seg_cf").alias("cf"))
               .join(term_dict, "term_h")
               .select("field", "term", "df", "cf"))
    else:
        post = spark.read.parquet(os.path.join(index_dir, "postings"))
        agg = (post.groupBy("field", "term")
               .agg(F.sum("df").alias("df"), F.sum("cf").alias("cf")))
    (agg
     .repartitionByRange(n_parts, "term")
     .sortWithinPartitions("term", "field")
     .write.mode("overwrite")
     .parquet(os.path.join(index_dir, "terms")))
