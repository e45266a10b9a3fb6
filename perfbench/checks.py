"""Expected answers for every serving op type, computed without the index.

The ground truth is ``BM25Oracle``: a pure-Python BM25 over the generated
texts. Op types the oracle has no method for (filtered, fuzzy, aggs, docs)
are derived from its postings here, so no expected answer comes from the
code path under test.
"""

from __future__ import annotations

from conveyorbelt_spark.textutils import tokenize

AGG_NAME = "langs"
AGGS = {AGG_NAME: {"terms": {"field": "lang"}}}


def within_one_edit(a: str, b: str) -> bool:
    """Classic Levenshtein distance <= 1 (no transpositions)."""
    if a == b:
        return True
    la, lb = len(a), len(b)
    if abs(la - lb) > 1:
        return False
    if la == lb:
        return sum(x != y for x, y in zip(a, b)) == 1
    if la > lb:
        a, b, la, lb = b, a, lb, la
    i = 0
    while i < la and a[i] == b[i]:
        i += 1
    return a[i:] == b[i + 1:]


def ranked(oracle, q: str, keep, k: int) -> list[tuple[int, float]]:
    """Oracle top-k of ``q`` restricted to the doc ids ``keep`` accepts;
    collection statistics stay those of the whole collection."""
    return [(d, s) for d, s in oracle.search(q, k=oracle.n_docs) if keep(d)][:k]


def expected(oracle, op: dict, k: int, lang_of: dict, url_of: dict):
    kind, q = op["op"], op["q"]
    if kind == "bm25":
        return oracle.search(q, k)
    if kind == "bool":
        return oracle.bool_search(q, op["must"], op["must_not"], k=k,
                                  min_should=op["min_should"])
    if kind == "dsl":
        return oracle.bool_search(q, op["must"], op["must_not"], k=k)
    if kind == "phrase":
        return oracle.phrase_search(q, k)
    if kind == "filtered":
        return ranked(oracle, q, lambda d: lang_of[d] == op["lang"], k)
    if kind == "fuzzy":
        # every vocabulary term within one edit; the generated terms have
        # fewer such neighbours than the expansion cap, so none is dropped
        terms = [t for t in oracle.postings if within_one_edit(q, t)]
        return oracle.bool_search(" ".join(terms), k=k) if terms else []
    if kind == "docs":
        return [(d, s, url_of[d]) for d, s in oracle.search(q, k)]
    if kind == "aggs":
        hits: set[int] = set()
        for t in set(tokenize(q)):
            hits.update(oracle.postings.get(t, {}))
        counts: dict[str, int] = {}
        for d in hits:
            counts[lang_of[d]] = counts.get(lang_of[d], 0) + 1
        order = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
        return [(key, n) for key, n in order]
    raise ValueError(f"unknown op type {kind!r}")


def normalise(kind: str, got):
    """The comparable part of an op's answer."""
    if kind == "dsl":
        return [(int(h["_id"]), h["_score"]) for h in got["hits"]["hits"]]
    if kind == "docs":
        return [(r["doc_id"], r["score"], r.get("url")) for r in got]
    if kind == "aggs":
        return [(r["key"], r["n"]) for r in got[AGG_NAME]]
    return list(got)
