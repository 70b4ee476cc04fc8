"""Scale-safe fuzzy expansion: the SymSpell deletion-neighborhood
candidate lookup must (a) return a candidate set far smaller than the
dictionary and (b) verify to exactly the brute-force edit-distance-1
neighborhood."""

import pytest

from hayoo_spark.query import plan as P


def _brute_force(engine, term, fields):
    out = {}
    for f in fields:
        terms, dfs = engine._dict[f]
        for i, t in enumerate(terms):
            if P.edit_distance_le1(term, t):
                out[t] = out.get(t, 0) + int(dfs[i])
    return out


@pytest.mark.parametrize("term", ["baba", "bibab", "xasase", "solitarywor"])
def test_fuzzy_candidates_small_and_exact(engine, term):
    fields = engine.default_fields
    dict_size = sum(len(engine._dict[f][0]) for f in fields)
    cands = engine._fuzzy_candidates(term, fields)
    # candidate bucket, not a dictionary sweep
    assert len(cands) < dict_size / 10, (len(cands), dict_size)
    verified = {}
    for f, t, df in cands:
        if P.edit_distance_le1(term, t):
            verified[t] = verified.get(t, 0) + int(df)
    assert verified == _brute_force(engine, term, fields)


def test_fuzzy_keys_property():
    # lev(a,b)<=1 ⟹ key sets intersect (the candidate-superset claim)
    words = ["abc", "abcd", "bbc", "ab", "abd", "xabc", "acb"]
    for a in words:
        for b in words:
            if P.edit_distance_le1(a, b):
                assert P.fuzzy_keys(a) & P.fuzzy_keys(b), (a, b)


def test_fuzzy_search_parity_vs_oracle(engine, oracle_ix):
    from hayoo_spark import oracle

    for q in ["bibab~", "xasase~", "solitarywor~", "baba~ OR nibaba"]:
        got = engine.search(q, k=15)
        want = oracle.search(oracle_ix, q, k=15)
        assert [u for u, _ in got] == [u for u, _ in want], q
        for (gu, gs), (wu, ws) in zip(got, want):
            assert abs(gs - ws) < 1e-6, (q, gu)
