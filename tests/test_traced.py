"""The benchmark's traced run wraps private engine, wand and builder
entry points by name (perfbench/spans.py).  Renaming or removing one
of them breaks that run; this test breaks first."""

import importlib.util
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _spans_module():
    spec = importlib.util.spec_from_file_location(
        "perfbench_spans", os.path.join(ROOT, "perfbench", "spans.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_traced_engine_records_layer_spans(spark, index_dir):
    from hayoo_spark.query import engine as E

    T = _spans_module()
    tr = T.Tracer()
    undo = T.install(tr)
    try:
        eng = E.SearchEngine(spark, index_dir)
        for q in ["baba", '"baba baba"', "bibab~"]:
            assert eng.search(q, k=10), q
        names = {sp[2] for sp in tr.spans}
        assert {"engine.open", "engine.expand", "engine.fetch",
                "wand.postings", "wand.eval"} <= names, names
        assert isinstance(eng._rows_mem_bytes, int)
        # every postings lookup lands in exactly one class; decoded
        # postings live only in process memory, so no lookup is
        # served from tmpfs files
        c = tr.counts
        assert c["wand.postings_calls"] > 0
        assert (c["wand.postings_memo"] + c["wand.postings_decoded_hit"]
                + c["wand.postings_shm_hit"] + c["wand.postings_shm_miss"]
                == c["wand.postings_calls"]), dict(c)
        assert c["wand.postings_shm_hit"] == 0
    finally:
        T.uninstall(undo)
