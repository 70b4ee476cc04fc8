"""Seeded inputs of the benchmark: pages corpora, query mixes, probe
sets and page updates.  Everything here is a pure function of the
seed; the program only ever sees the generated pages and query
strings."""

from __future__ import annotations

import numpy as np
import pandas as pd

#: documents in the generated corpus (plus the fixture's 7 edge docs)
CORPUS_DOCS = 2000
#: document segments of every index the benchmark builds
SEGMENTS = 4
#: pages changed by the update: modified existing pages + new pages
UPDATE_MODIFIED, UPDATE_ADDED = 2, 1
#: fixed probe queries (the same in every run, drawn with PROBE_SEED)
#: answered by the engine opened in the refresh step
PROBES = 100
PROBE_SEED = 0
PAGE_SIZE = 20

#: one round of a serving mix: the query kinds of the repo's reference
#: query set (``fixtures.make_queries``, FIXTURES.md §2) with their
#: counts there, as (kind, terms per query, result page, lang, count).
#: Its three "paged" queries are single terms on pages 1-3 (page p
#: holds ranks 20p+1 .. 20p+20).  Left out: its filter-only, range and
#: boosted queries (README "Not covered").  Every round asks exactly
#: these 61 queries in a seeded order, so runs of any length ask the
#: same mix; only the terms are drawn.
ROUND = (("term", 1, 0, None, 20),
         ("term", 1, 1, None, 1), ("term", 1, 2, None, 1),
         ("term", 1, 3, None, 1),
         ("and", 2, 0, None, 8), ("and", 3, 0, None, 4),
         ("or", 2, 0, None, 5), ("or", 3, 0, None, 1), ("or", 4, 0, None, 1),
         ("andnot", 2, 0, None, 5),
         ("phrase", 2, 0, None, 4),
         ("prefix", 1, 0, None, 4),
         ("fuzzy", 1, 0, None, 3),
         ("lang", 1, 0, "en", 1), ("lang", 1, 0, "de", 2))
ZIPF_S = 1.1
_LETTERS = "abdeiklmnorstuv"


def make_pages(seed: int, n_docs: int = CORPUS_DOCS) -> pd.DataFrame:
    from hayoo_spark import fixtures
    return fixtures.make_pages(n_docs, seed=seed)


def vocab() -> list[str]:
    from hayoo_spark import fixtures
    return fixtures.make_vocab()


class QueryMix:
    """Seeded stream of query specs.  ``zipf`` draws terms with the
    corpus's own skew (serve_hot); otherwise terms are uniform over the
    vocabulary (serve_wide)."""

    def __init__(self, seed: int, zipf: bool):
        self.rng = np.random.default_rng(seed)
        self.vocab = vocab()
        n = len(self.vocab)
        if zipf:
            p = np.arange(1, n + 1, dtype=np.float64) ** -ZIPF_S
            self.term_cdf = np.cumsum(p / p.sum())
        else:
            self.term_cdf = None
        self.round: list[tuple] = []

    def _terms(self, n: int) -> list[str]:
        """``n`` distinct terms."""
        out: list[str] = []
        while len(out) < n:
            if self.term_cdf is None:
                i = int(self.rng.integers(len(self.vocab)))
            else:
                i = min(int(np.searchsorted(self.term_cdf, self.rng.random(),
                                            side="right")),
                        len(self.vocab) - 1)
            if self.vocab[i] not in out:
                out.append(self.vocab[i])
        return out

    def next(self) -> dict:
        rng = self.rng
        if not self.round:
            slots = [r[:4] for r in ROUND for _ in range(r[4])]
            self.round = [slots[i] for i in rng.permutation(len(slots))]
        kind, n_terms, page, lang = self.round.pop()
        spec = {"kind": kind, "k": PAGE_SIZE, "page": page}
        if lang:
            spec["lang"] = lang
        if kind == "prefix":
            t = self._terms(1)[0]
            spec["terms"] = [t[: int(rng.integers(3, min(5, len(t)) + 1))]]
        elif kind == "fuzzy":
            t = list(self._terms(1)[0])
            i = int(rng.integers(len(t)))
            if rng.random() < 0.5 and len(t) > 3:
                del t[i]
            else:
                t[i] = _LETTERS[int(rng.integers(len(_LETTERS)))]
            spec["terms"] = ["".join(t)]
        else:
            spec["terms"] = self._terms(n_terms)
        return spec

    def take(self, n: int) -> list[dict]:
        return [self.next() for _ in range(n)]


def render(spec: dict) -> str:
    """The query string the program is asked."""
    kind, t = spec["kind"], spec["terms"]
    if kind == "term":
        return t[0]
    if kind == "and":
        return " AND ".join(t)
    if kind == "or":
        return " OR ".join(t)
    if kind == "andnot":
        return f"{t[0]} AND NOT {t[1]}"
    if kind == "phrase":
        return f'"{t[0]} {t[1]}"'
    if kind == "prefix":
        return f"{t[0]}*"
    if kind == "fuzzy":
        return f"{t[0]}~"
    if kind == "lang":
        return f"lang:{spec['lang']} AND " + " AND ".join(t)
    raise ValueError(kind)


def key(spec: dict) -> tuple:
    return (render(spec), spec["k"], spec["page"])


def _html(text: str) -> bytes:
    title = " ".join(text.split()[:3])
    return (f"<html><head><title>{title}</title></head>"
            f"<body><p>{text}</p></body></html>").encode("utf-8")


def updated_pages(pages: pd.DataFrame, seed: int,
                  ) -> tuple[pd.DataFrame, list[str], str]:
    """The update of a run: a copy of ``pages`` with UPDATE_MODIFIED
    pages rewritten and UPDATE_ADDED new pages appended; the first
    rewritten page gains a term that no other page has.  Returns (new
    pages, changed urls, the new term)."""
    rng = np.random.default_rng([seed, 0])
    words = vocab()
    out = pages.copy()
    text_col, html_col = out.columns.get_loc("text"), out.columns.get_loc("html")
    body_rows = np.flatnonzero(out["url"].str.contains("/p/").to_numpy())
    rows = rng.choice(body_rows, size=UPDATE_MODIFIED, replace=False)
    fresh = f"zqfresh{seed % 1000}"
    changed = []
    for j, r in enumerate(rows):
        toks = out.iat[r, text_col].split()
        for i in rng.choice(len(toks), size=min(8, len(toks)), replace=False):
            toks[i] = words[int(rng.integers(len(words)))]
        if j == 0:
            toks.append(fresh)
        text = " ".join(toks)
        out.iat[r, text_col] = text
        out.iat[r, html_col] = _html(text)
        changed.append(out.iat[r, 0])
    add = []
    for j in range(UPDATE_ADDED):
        base = out.iloc[int(rng.choice(body_rows))]
        url = f"https://update.org/s{seed}/{j}"
        add.append({**base.to_dict(), "url": url,
                    "html": base["html"], "text": base["text"]})
        changed.append(url)
    out = pd.concat([out, pd.DataFrame(add, columns=out.columns)],
                    ignore_index=True)
    for c in ("warc_ts", "pub_ts"):  # Spark reads microsecond timestamps
        out[c] = out[c].astype("datetime64[us]")
    return out, changed, fresh
