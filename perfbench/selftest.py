"""Check the checker: the DuckDB reference must agree with the
program's pure-Python oracle (``hayoo_spark.oracle``) on every query
kind of both serving mixes, and ``reference.compare`` must reject
perturbed answers.  No Spark is started.

    python3 perfbench/selftest.py

Prints one line per check and exits 1 if any check failed.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import reference as R  # noqa: E402
import workloads as W  # noqa: E402

#: the small corpus and the queries (half from each mix) checked
DOCS, QUERIES, SEED = 300, 400, 11


def main() -> int:
    from hayoo_spark import oracle

    failures = 0

    def check(ok: bool, what: str) -> None:
        nonlocal failures
        print(("ok   " if ok else "FAIL ") + what)
        failures += not ok

    pages = W.make_pages(SEED, DOCS)
    # an update's shape too: a rewritten page with a fresh term, a new url
    pages, _, fresh = W.updated_pages(pages, SEED)
    ix = oracle.build_oracle_index(pages, from_html=True)
    ref = R.Reference(pages)

    st = ref.stats()
    check(st["n_docs"] == ix.n_docs, f"n_docs {st['n_docs']} == oracle {ix.n_docs}")
    check(abs(st["avgdl"] - ix.avgdl["text"]) <= 1e-9 * ix.avgdl["text"],
          f"avgdl {st['avgdl']:.6f} == oracle {ix.avgdl['text']:.6f}")
    odf = {t: len(p) for (f, t), p in ix.postings.items() if f == "text"}
    check(st["df"] == odf, f"df of all {len(odf)} terms == oracle")
    check(st["postings"] == sum(odf.values()), "total postings == oracle")

    specs = (W.QueryMix(SEED, zipf=True).take(QUERIES // 2)
             + W.QueryMix(SEED + 1, zipf=False).take(QUERIES // 2))
    specs.append({"kind": "term", "terms": [fresh], "k": 20, "page": 0})
    ranked = ref.rank(specs)
    by_kind: dict[str, list[int]] = {}
    nonempty: dict[str, int] = {}
    bad = []
    for s, r in zip(specs, ranked):
        got = oracle.search(ix, W.render(s), k=s["k"], page=s["page"])
        why = R.compare(got, r, s["k"], s["page"])
        by_kind.setdefault(s["kind"], []).append(why is None)
        nonempty[s["kind"]] = nonempty.get(s["kind"], 0) + bool(got)
        if why is not None:
            bad.append((W.render(s), s["page"], why))
    for kind, oks in sorted(by_kind.items()):
        check(all(oks), f"{kind:7s}: {sum(oks)}/{len(oks)} queries agree "
              f"with the oracle ({nonempty[kind]} with hits)")
    for q in bad[:5]:
        print("     ", q)
    check(set(by_kind) == {r[0] for r in W.ROUND}, "every query kind covered")

    # perturbed answers must be rejected
    n_swap = n_swappable = n_score = n_drop = n_tie = n_tied = 0
    for s, r in zip(specs, ranked):
        k, page = s["k"], s["page"]
        good = r[page * k: page * k + k]
        if not good:
            continue
        bumped = [(u, sc + (1e-5 if i == len(good) // 2 else 0.0))
                  for i, (u, sc) in enumerate(good)]
        n_score += R.compare(bumped, r, k, page) is not None
        n_drop += R.compare(good[:-1], r, k, page) is not None
        for i in range(len(good) - 1):
            if good[i][1] - good[i + 1][1] > 1e-6:
                sw = list(good)
                sw[i], sw[i + 1] = sw[i + 1], sw[i]
                n_swappable += 1
                n_swap += R.compare(sw, r, k, page) is not None
                break
        for i in range(len(good) - 1):
            if good[i][1] == good[i + 1][1]:
                sw = list(good)
                sw[i], sw[i + 1] = sw[i + 1], sw[i]
                n_tied += 1
                n_tie += R.compare(sw, r, k, page) is None
                break
    n = sum(1 for s, r in zip(specs, ranked)
            if r[s["page"] * s["k"]: (s["page"] + 1) * s["k"]])
    check(n_swap == n_swappable > 0,
          f"two ranks swapped: rejected {n_swap}/{n_swappable}")
    check(n_score == n, f"one score off by 1e-5: rejected {n_score}/{n}")
    check(n_drop == n, f"one hit dropped: rejected {n_drop}/{n}")
    check(n_tie == 0 < n_tied,
          f"tied hits out of url order: accepted {n_tie}/{n_tied}")
    ref.close()
    print("selftest:", "PASS" if not failures else f"{failures} FAILED")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
