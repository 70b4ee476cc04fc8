"""Independent answer check: every query recomputed in DuckDB straight
from the generated pages, following the documented contract
(FIXTURES.md §3 and the ``oracle`` module docstring), not program code.

- text = the ``<body>`` element of ``html`` (the whole document when
  there is none), tags replaced by spaces;
- tokens = ``[a-z0-9_]+`` matches of the lowercased text, length >= 2;
- duplicate urls keep their first row;
- BM25 with k1 = 1.2, b = 0.75 and
  idf = ln(1 + (N - df + 0.5) / (df + 0.5)), N counting empty docs;
- prefix and fuzzy (edit distance <= 1) terms expand to the top 64
  dictionary terms by df descending, then term, scored as their OR;
- a phrase needs its terms at adjacent positions and scores the sum
  of its terms' BM25;
- ties break by url ascending, then paging applies.

Queries are given as specs (see ``workloads.render``), so the program's
parser is checked too.  All distinct queries of a run are evaluated in
one batch of set-oriented SQL.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd

K1, B = 1.2, 0.75
MAX_EXPANSIONS = 64
#: answers agree when scores differ by at most this much
SCORE_TOL = 1e-6
#: two scores closer than this (relative) are one tie up to the order
#: in which a float sum was taken; their relative order is not checked
TIE_TOL = 1e-9
#: ranks fetched beyond a page, to look up near-tied neighbours
MARGIN = 5


class Reference:
    def __init__(self, pages: pd.DataFrame, threads: int = 4):
        self.con = con = duckdb.connect(
            config={"threads": str(threads), "memory_limit": "2GB"})
        src = pd.DataFrame({"url": pages["url"].to_numpy(object),
                            "html": pages["html"].to_numpy(object),
                            "lang": pages["lang"].to_numpy(object),
                            "ord": np.arange(len(pages), dtype=np.int64)})
        con.register("pages_src", src)
        con.execute(r"""
            CREATE TABLE docs AS
            WITH first AS (
                SELECT url, lang, decode(html) AS h FROM pages_src
                QUALIFY row_number() OVER (PARTITION BY url ORDER BY ord) = 1),
            body AS (
                SELECT url, lang,
                       CASE WHEN regexp_matches(h, '(?is)<body[^>]*>.*?</body>')
                            THEN regexp_extract(h, '(?is)<body[^>]*>(.*?)</body>', 1)
                            ELSE h END AS b
                FROM first)
            SELECT url, lang,
                   list_filter(regexp_extract_all(
                       lower(regexp_replace(b, '<[^>]*>', ' ', 'g')),
                       '[a-z0-9_]+'), x -> length(x) >= 2) AS toks
            FROM body""")
        con.unregister("pages_src")
        con.execute("ALTER TABLE docs ADD COLUMN dl BIGINT")
        con.execute("UPDATE docs SET dl = len(toks)")
        con.execute("""CREATE TABLE tok AS SELECT url, unnest(toks) AS term,
                       generate_subscripts(toks, 1) AS p FROM docs""")
        con.execute("""CREATE TABLE post AS SELECT term, url, count(*) AS tf
                       FROM tok GROUP BY term, url""")
        con.execute("""CREATE TABLE dfs AS SELECT term, count(*) AS df
                       FROM post GROUP BY term""")
        n, tot = con.execute("SELECT count(*), sum(dl) FROM docs").fetchone()
        self.n_docs = int(n)
        self.avgdl = float(tot) / n if n else 1.0
        con.execute(f"""
            CREATE TABLE sc AS
            SELECT p.term, p.url,
                   ln(1 + ({n} - f.df + 0.5) / (f.df + 0.5)) * p.tf * {K1 + 1}
                   / (p.tf + {K1} * (1 - {B} + {B} * d.dl / {self.avgdl!r})) AS s
            FROM post p JOIN dfs f USING (term) JOIN docs d USING (url)""")

    # ---- index statistics ------------------------------------------

    def stats(self) -> dict:
        total = self.con.execute("SELECT count(*) FROM post").fetchone()[0]
        df = dict(self.con.execute("SELECT term, df FROM dfs").fetchall())
        return {"n_docs": self.n_docs, "avgdl": self.avgdl,
                "postings": int(total), "df": df}

    # ---- queries ----------------------------------------------------

    def rank(self, specs: list[dict]) -> list[list[tuple[str, float]]]:
        """Ranked (url, score) lists, from rank 1 through the end of each
        spec's page plus MARGIN ranks."""
        con = self.con
        qs, cl, pre, fz, ph = [], [], [], [], []
        for qid, s in enumerate(specs):
            kind, terms = s["kind"], s["terms"]
            need = (s["page"] + 1) * s["k"] + MARGIN
            n_must = 0
            if kind in ("term", "and", "andnot", "lang"):
                must = terms if kind != "andnot" else terms[:1]
                n_must = len(must)
                cl += [(qid, i, t, "must") for i, t in enumerate(must)]
                if kind == "andnot":
                    cl.append((qid, len(must), terms[1], "not"))
            elif kind == "or":
                cl += [(qid, i, t, "should") for i, t in enumerate(terms)]
            elif kind == "prefix":
                pre.append((qid, terms[0]))
            elif kind == "fuzzy":
                fz.append((qid, terms[0]))
            elif kind == "phrase":
                ph.append((qid, terms[0], terms[1]))
            else:
                raise ValueError(f"unknown query kind {kind!r}")
            qs.append((qid, kind, s.get("lang"), n_must, need))
        frames = {
            "q_info": pd.DataFrame(qs, columns=["qid", "kind", "lang",
                                                "n_must", "need"]),
            "q_clause": pd.DataFrame(cl, columns=["qid", "slot", "term", "role"]),
            "q_prefix": pd.DataFrame(pre, columns=["qid", "prefix"]),
            "q_fuzzy": pd.DataFrame(fz, columns=["qid", "word"]),
            "q_phrase": pd.DataFrame(ph, columns=["qid", "t1", "t2"]),
        }
        frames["q_info"]["lang"] = frames["q_info"]["lang"].astype(object)
        for name, df in frames.items():
            con.register(name, df)
        # one statement per stage: DuckDB plans each small join well,
        # while the single-statement form took ~100x longer on phrases
        con.execute(f"""
            CREATE OR REPLACE TEMP TABLE q_all AS
            WITH expand AS (
                SELECT qid, term, row_number() OVER (
                    PARTITION BY qid ORDER BY df DESC, term) AS r
                FROM q_prefix JOIN dfs ON starts_with(dfs.term, q_prefix.prefix)
                UNION ALL
                SELECT qid, term, row_number() OVER (
                    PARTITION BY qid ORDER BY df DESC, term) AS r
                FROM q_fuzzy JOIN dfs
                  ON abs(length(dfs.term) - length(q_fuzzy.word)) <= 1
                 AND levenshtein(dfs.term, q_fuzzy.word) <= 1)
            SELECT qid, slot, term, role FROM q_clause
            UNION ALL
            SELECT qid, 1000 + r, term, 'should' FROM expand
            WHERE r <= {MAX_EXPANSIONS}""")
        con.execute("""
            CREATE OR REPLACE TEMP TABLE q_hits AS
            WITH scored AS (
                SELECT c.qid, sc.url, sum(sc.s) AS score,
                       count(DISTINCT CASE WHEN c.role = 'must'
                                           THEN c.slot END) AS n_hit
                FROM q_all c JOIN sc USING (term)
                WHERE c.role <> 'not'
                GROUP BY c.qid, sc.url),
            excluded AS (
                SELECT DISTINCT c.qid, p.url FROM q_all c JOIN post p USING (term)
                WHERE c.role = 'not')
            SELECT s.qid, s.url, s.score
            FROM scored s JOIN q_info q USING (qid) JOIN docs d USING (url)
            WHERE s.n_hit = q.n_must
              AND (q.lang IS NULL OR lower(d.lang) = q.lang)
              AND NOT EXISTS (SELECT 1 FROM excluded e
                              WHERE e.qid = s.qid AND e.url = s.url)""")
        con.execute("""
            CREATE OR REPLACE TEMP TABLE q_phrase_docs AS
            WITH first_pos AS (
                SELECT q.qid, a.url, a.p FROM q_phrase q JOIN tok a ON a.term = q.t1),
            next_pos AS (
                SELECT q.qid, b.url, b.p - 1 AS p
                FROM q_phrase q JOIN tok b ON b.term = q.t2)
            SELECT DISTINCT qid, url FROM first_pos JOIN next_pos
            USING (qid, url, p)""")
        con.execute("""
            INSERT INTO q_hits
            SELECT pd.qid, pd.url, s1.s + s2.s
            FROM q_phrase_docs pd JOIN q_phrase q USING (qid)
            JOIN sc s1 ON s1.term = q.t1 AND s1.url = pd.url
            JOIN sc s2 ON s2.term = q.t2 AND s2.url = pd.url""")
        rows = con.execute("""
            SELECT qid, url, score FROM (
                SELECT qid, url, score, row_number() OVER (
                    PARTITION BY qid ORDER BY score DESC, url) AS r
                FROM q_hits) JOIN q_info USING (qid)
            WHERE r <= need ORDER BY qid, r""").fetchall()
        for name in frames:
            con.unregister(name)
        out: list[list] = [[] for _ in specs]
        for qid, url, score in rows:
            out[qid].append((url, float(score)))
        return out

    def close(self) -> None:
        self.con.close()


def compare(got: list, ranked: list, k: int, page: int) -> str | None:
    """None when ``got`` (the program's page of (url, score)) is the
    reference page; else a short reason.

    Urls must match rank by rank and scores within SCORE_TOL.  Where
    the reference holds two scores equal within TIE_TOL, either order
    is accepted (the two float sums may have been taken in different
    orders), but hits the program scored exactly equal must come in
    ascending url order."""
    exp = ranked[page * k: page * k + k]
    if len(got) != len(exp):
        return f"{len(got)} hits, expected {len(exp)}"
    ref = dict(ranked)
    seen = set()
    for i, ((u, s), (eu, es)) in enumerate(zip(got, exp)):
        if u in seen:
            return f"rank {i}: duplicate url {u}"
        seen.add(u)
        if not abs(s - es) <= SCORE_TOL:
            return f"rank {i}: score {s!r}, expected {es!r}"
        if u != eu:
            rs = ref.get(u)
            if rs is None or abs(rs - es) > TIE_TOL * max(1.0, abs(es)):
                return f"rank {i}: url {u}, expected {eu}"
    for (u1, s1), (u2, s2) in zip(got, got[1:]):
        if s1 == s2 and u1 > u2:
            return f"tied hits out of url order: {u1} before {u2}"
    return None
