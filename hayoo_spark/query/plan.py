"""Query AST — the engine's logical plan for search queries.

Models the observable query algebra of the reference (Hunt `Query` as
used by the frontends: hayoo-server/src/Hayoo/App.hs:144-200,
hayooFrontend/src/Hayoo/Common.hs:287-348, /root/reference/Examples.md):
term flavors (exact / prefix / phrase), boolean AND / OR / AND NOT,
field scoping, range match on timestamp fields, boosts, paging.

Scoring contract (SURVEY.md §2.6, BM25-ified per the north rule):

- a *scoring leaf* (Term / Prefix / Phrase on the text field) contributes
  ``boost × bm25(term, doc)`` for each matched term;
- AND intersects matches and sums contributions; OR unions and sums;
  AND NOT subtracts the right side's match set (no score effect) —
  mirrors Hunt's union-with-score-sum / intersection semantics
  (SURVEY.md §2.5 Q6);
- metadata fields (``lang``, ``url``, ``warc_ts``) are *filter-only*:
  they restrict the match set and contribute score 0, like the
  weight-0.0 ``type`` context in the reference schema
  (hayooIndexer/src/Hayoo/Hunt/IndexSchema.hs:119);
- Prefix expands to matching dictionary terms (deterministic cap:
  MAX_EXPANSIONS by df desc, term asc — documented, never silent)
  and is scored as the OR of expansions;
- ties broken by url ascending; paging = offset page*20, limit 20
  (hayoo-server/src/Hayoo/App.hs:96-98).
"""

from __future__ import annotations

from dataclasses import dataclass, field

DEFAULT_FIELD = "text"
# conventional name for the case-sensitive token field (the parser's
# `!word` marker targets it; reference qWord/qFullWord case flavors,
# hayoo-server/src/Hayoo/App.hs:187-200).  Indexes enable it by adding
# FieldSpec(CS_FIELD, source="body_cs") to their schema.
CS_FIELD = "text_cs"
FILTER_FIELDS = ("lang", "url")
RANGE_FIELDS = ("warc_ts",)
MAX_EXPANSIONS = 64
PAGE_SIZE = 20


@dataclass(frozen=True)
class Node:
    pass


@dataclass(frozen=True)
class Term(Node):
    term: str
    field: str = DEFAULT_FIELD
    boost: float = 1.0


@dataclass(frozen=True)
class Prefix(Node):
    prefix: str
    field: str = DEFAULT_FIELD
    boost: float = 1.0


@dataclass(frozen=True)
class Fuzzy(Node):
    """`word~` — match dictionary terms within edit distance 1
    (reference marker `~`, Examples.md:34); scored as the OR of
    expansions, deterministic cap like Prefix."""
    term: str = ""
    field: str = DEFAULT_FIELD
    boost: float = 1.0


@dataclass(frozen=True)
class Phrase(Node):
    terms: tuple[str, ...] = ()
    field: str = DEFAULT_FIELD
    boost: float = 1.0


@dataclass(frozen=True)
class RangeFilter(Node):
    field: str = "warc_ts"
    lo: str = ""
    hi: str = ""  # inclusive lo, exclusive hi; ISO-8601 prefixes allowed


@dataclass(frozen=True)
class And(Node):
    children: tuple[Node, ...] = ()


@dataclass(frozen=True)
class Or(Node):
    children: tuple[Node, ...] = ()


@dataclass(frozen=True)
class AndNot(Node):
    left: Node = field(default_factory=lambda: And(()))
    right: Node = field(default_factory=lambda: And(()))


def scoring_terms(node: Node) -> set[str]:
    """All exact text-field terms a plan can score (for stats lookup)."""
    out: set[str] = set()
    if isinstance(node, Term) and node.field == DEFAULT_FIELD:
        out.add(node.term)
    elif isinstance(node, Phrase) and node.field == DEFAULT_FIELD:
        out.update(node.terms)
    elif isinstance(node, (And, Or)):
        for c in node.children:
            out |= scoring_terms(c)
    elif isinstance(node, AndNot):
        out |= scoring_terms(node.left) | scoring_terms(node.right)
    return out


def prefix_leaves(node: Node) -> list[Prefix]:
    if isinstance(node, Prefix):
        return [node]
    if isinstance(node, (And, Or)):
        return [p for c in node.children for p in prefix_leaves(c)]
    if isinstance(node, AndNot):
        return prefix_leaves(node.left) + prefix_leaves(node.right)
    return []


def iso_prefix_bounds(lo: str, hi: str):
    """[lo_ts, hi_ts) for a date range whose endpoints are TRUNCATABLE
    ISO prefixes (reference date contexts, hayooIndexer/src/Hayoo/Hunt/
    IndexSchema.hs:133-137): each endpoint covers its WHOLE period —
    ``[2014-02 TO 2014-08]`` spans 2014-02-01 .. 2014-09-01 (excl).
    Granularity is inferred from the prefix (year/month/day/.../sec)."""
    import pandas as pd
    return pd.Period(lo).start_time, (pd.Period(hi) + 1).start_time


def fuzzy_keys(term: str) -> set[str]:
    """SymSpell deletion-1 key set: {term} ∪ 1-deletions(term).

    lev(a, b) <= 1  ⟹  fuzzy_keys(a) ∩ fuzzy_keys(b) ≠ ∅  (equal terms
    share themselves; a substitution shares the both-deleted string; an
    insertion/deletion pair shares the shorter term), so probing these
    keys against a deletion map of the dictionary (SearchEngine's
    per-field ``_del_maps``) yields a candidate superset —
    exact-verified with edit_distance_le1."""
    return {term} | {term[:i] + term[i + 1:] for i in range(len(term))}


def edit_distance_le1(a: str, b: str) -> bool:
    """True iff levenshtein(a, b) <= 1 (single linear scan)."""
    la, lb = len(a), len(b)
    if abs(la - lb) > 1:
        return False
    if la > lb:
        a, b, la, lb = b, a, lb, la
    i = j = diff = 0
    while i < la and j < lb:
        if a[i] == b[j]:
            i += 1
            j += 1
            continue
        diff += 1
        if diff > 1:
            return False
        if la == lb:
            i += 1
        j += 1
    return diff + (lb - j) <= 1
