"""Elasticsearch-request-shaped query DSL over the engine.

The reference's users talk to Elasticsearch with JSON request bodies
(Kibana panels, NEST queries — e.g. the ES queries the dashboards in
aliostad/ConveyorBelt's README issue against the pushed indexes). This
module accepts that shape directly, so those queries run against this
engine verbatim within the SUPPORTED SUBSET — the query types every other
part of this repo already implements:

query context:
  match            {"match": {"text": "spark join"}}          → scored SHOULD
  match_phrase     {"match_phrase": {"text": "exact phrase"}} → positional
                   index; {"text": {"query": p, "slop": n}} = ES proximity
                   (anchor-window semantics, see query._phrase_kernel)
  multi_match      {"multi_match": {"query": q, "fields": ["title^2","text"],
                    "type": "best_fields"|"most_fields"}}
  prefix/wildcard/fuzzy  {"prefix": {"text": "te"}} …          → expansion bag
  span_near        {"span_near": {"clauses": [{"span_term": {...}} |
                    {"span_or": {"clauses": [...]}}, ...], "slop": n,
                    "in_order": bool}} — positional window match; a
                   span_or clause matches any member position (see
                   ``query._span_kernel``)
  span_or          {"span_or": {"clauses": [{"span_term": ...}, ...]}} —
                   any member anywhere (idf = dominant member)
  span_first       {"span_first": {"match": span_term|span_or,
                    "end": n}} — spans ending at position ≤ n
  span_not         {"span_not": {"include": ..., "exclude": ...,
                    "pre": n, "post": n}} — include positions not within
                   [p−pre, p+post] of any exclude position
  intervals        {"intervals": {"text": {"match": {"query": "a b c",
                    "max_gaps": g, "ordered": bool}}}} — also all_of over
                   single-term matches; reduces exactly to the span
                   kernel (max_gaps must be explicit ≥ 0)
  terms_set        {"terms_set": {"text": {"terms": [...],
                    "minimum_should_match_field": f}}} — docs matching
                   ≥ doc[f] of the EXACT index terms (not analyzed, ES
                   semantics); score = Σ BM25 over matched terms (see
                   ``query.terms_set_match``)
  nested           {"nested": {"path": p, "query": {...}}} — docs whose
                   stored array<struct> column ``p`` has ONE element
                   satisfying every sub-clause (term/terms/range/exists
                   on ``p.field``, composed via bool.must/filter) —
                   real same-element semantics, constant score (see
                   ``query.nested_filter_ids``)
  more_like_this   {"more_like_this": {"like": <doc_id|text>, ...knobs}}
  match_all        {"match_all": {}} (only with filters/sort — something
                   must bound the result)
  match_none       {"match_none": {}} — the empty set (zero hits, exact
                   total 0, no index probe; _count/delete_by_query/
                   update_by_query report 0 matched)
  bool             {"bool": {"must": [...], "should": [...],
                    "must_not": [...], "filter": [...],
                    "minimum_should_match": n}} — bools NEST: a bool
                   inside must flattens (its should group may carry the
                   request's one minimum_should_match); a bool inside
                   filter becomes cross-field AND/OR posting groups (the
                   Kibana multi-pill shape); a bool inside must_not must
                   be a pure OR (De Morgan flattens it to exclusions)
  query_string     {"query_string": {"query": "+spark join -merge
                    lang:en", "default_operator": "or"}} — the Lucene
                   subset: terms, +required, -excluded, field:value
                   filters, or one quoted "phrase"
  simple_query_string  {"simple_query_string": {"query": "spark +join
                   | window -merge"}} — the simple syntax: whitespace
                   terms via default_operator, infix + (and) / | (or
                   group), -negation, whole-query "phrase"~N or prefix*;
                   dangling operators lenient-dropped (ES contract)
  term/terms/range/exists — allowed TOP-LEVEL too (filter-context query,
                   constant score 1.0, doc_id order)
  constant_score   {"constant_score": {"filter": {...}, "boost": b}} —
                   every hit scores b (default 1.0), doc_id order
  ids              {"ids": {"values": [7, 11]}} — the listed docs that
                   exist (docstore-resolved), constant score, id order
  match_phrase_prefix  {"match_phrase_prefix": {"text": {"query":
                   "spark jo", "max_expansions": 50}}} — last token
                   expands over the dictionary (term order); best
                   expansion's exact-phrase score per doc
  dis_max          {"dis_max": {"queries": [...], "tie_breaker": t}} —
                   best sub-score + t × the rest; sub-clauses: match /
                   match_phrase / multi_match
  boosting         {"boosting": {"positive": q, "negative": q,
                    "negative_boost": b}} — demote (×b), not exclude
  function_score   {"function_score": {"query": q, "field_value_factor":
                    {"field": f, "factor": c, "modifier": "log1p"|…,
                     "missing": v}, "boost_mode": "multiply"|"sum"|
                    "replace"}} — docstore-resolved field boost
  rank_feature     {"rank_feature": {"field": f, "saturation"|"log"|
                    "sigmoid"|"linear": {...}, "boost": b}} — standalone
                   (docstore-ranked top-k, exact totals) or inside
                   bool.should as a pure additive boost over the bool's
                   matching set (the ES recommended shape)
  distance_feature {"distance_feature": {"field": f, "origin": o,
                    "pivot": p, "boost": b}} — boost×p/(p+|v−o|) over a
                   stored numeric or date column; same two positions

filter context (inside bool.filter / bool.must, or top-level):
  term    {"term":  {"lang": "en"}}        — keyword-field posting filter
  terms   {"terms": {"status": ["200", "304"]}}
  range   {"range": {"nc": {"gte": "0100", "lte": "0300"}}} (inclusive
          string-order bounds over indexed keyword values)
  exists  {"exists": {"field": "lang"}}    — any indexed value
  match   — EXACT non-scoring text constraint: its analyzed tokens as
          posting requirements (OR by default, AND with operator=and);
          works on the main field and on multi-field side fields
  bool    — nested: must/filter AND, should (minimum_should_match ≤ 1)
          one OR group, must_not exclusions

request level: "size", "from", "sort" ([{"field": "desc"}] or ["field"]),
"search_after", "aggs" (the search_aggs shape, incl. arbitrarily nested
sub-"aggs" with metric siblings per level — the Kibana split-series
tree — and significant_terms with its whole-index background; answered
by ``Searcher.aggs_rows``: a request built only from the serving kinds —
terms / histogram, stats, avg / sum / min / max / value_count,
significant_terms — runs on the driver with zero Spark jobs, and any
other kind at any depth (date_histogram included), or a hit set that
saturates the kernel, runs the distributed ``search_aggs``),
"highlight" {"fields": {col: {}}}, "_source" (bool),
"track_total_hits" (bool — True runs the uncapped distributed count),
"explain" (bool — per-hit Lucene-style BM25 decomposition, see
``Searcher.explain``; scored match/bool paths only),
"retriever" {"rrf": {"retrievers": [{"standard": {"query": q}}, {"knn":
{...}}], "rank_constant": 60, "rank_window_size": w}} — hybrid reciprocal
rank fusion (see ``_rrf_search``; a lone {"standard": ...} passes through).
"knn" {"field": f, "query_vector": [...], "k": n, "num_candidates": m} —
ES kNN search over a stored array<float> column, exact cosine, hits
scored (1 + cos)/2 (see ``_knn_search``; sent alone, no query/aggs),
"script_fields" {name: {"script": {"source": s, "params": {...}}}} — the
painless subset (+ - * / % comparisons && ||) with ``doc['f'].value``
refs over stored docstore columns, per hit → {"fields": {name: [v]}};
"runtime_mappings" {name: {"type": t, "script": ...}} + "fields"
[names | {"field": n}] — runtime fields compute on request, stored
columns return as-is (missing/null fields omitted, the ES shape),
"suggest" {name: {"text": t, "term": {knobs} | "phrase": {knobs}}} — the
ES term suggester ("did you mean", see ``query.term_suggest``) and the
phrase suggester (stupid-backoff bigram LM over the positional index,
see ``Searcher.phrase_suggest``); suggest-only bodies (no query, no
aggs) skip the search phase like ES.

Response is ES-shaped: {"hits": {"total": {"value": N, "relation":
"eq"|"gte"}, "hits": [{"_id", "_score", "_source"?, "highlight"?}]},
"aggregations": {name: rows}}.

Simplifications vs real ES (documented, deliberate):
- match inside bool.must means REQUIRED terms (they score, like ES must);
  multiple must clauses concatenate their terms.
- term/terms/range/exists queries FILTER wherever they appear (constant-
  score query context is not emulated; in a should list they constrain
  only when minimum_should_match ≥ 1, exactly like ES filter context).
- minimum_should_match counts DISTINCT MATCHED TERMS (ES counts clauses;
  identical when each should clause is a single term). One
  minimum_should_match group per request.
- one scoring clause kind per request (match XOR phrase XOR multi_match…);
  compose via bool for the must/should/not/filter algebra.
"""

from __future__ import annotations

import json
import math
import time as _time
import os
from typing import Any

from pyspark.sql import SparkSession

from .query import Searcher, search_sorted


class UnsupportedDSL(ValueError):
    """The request uses a shape outside the supported subset."""


def _one(d: dict) -> tuple[str, Any]:
    if not isinstance(d, dict) or len(d) != 1:
        raise UnsupportedDSL(f"expected a single-key clause, got {d!r}")
    return next(iter(d.items()))


MAIN_FIELDS = ("text", "_text", "")


def _reject_clause_boost(b2: dict) -> None:
    """A per-clause ``boost`` on a match inside bool must/should would be
    silently dropped by the flat kernel (one score slot) — reject, never
    mis-rank. Top-level match boost IS supported (a pure scale factor)."""
    _f, spec = _one(b2)
    if isinstance(spec, dict) and spec.get("boost") is not None:
        raise UnsupportedDSL(
            "per-clause boost inside bool must/should is unsupported "
            "(the kernel has one score slot; use dis_max or a top-level "
            "boost)"
        )


def _msm_count(msm, n_clauses: int) -> int:
    """ES minimum_should_match value → a clause count: an int passes
    through (negative = n − |v|); a percentage rounds DOWN ("75%" of 4 =
    3, ES's rule; negative percent = the complement). Combination syntax
    ("3<90%") is unsupported."""
    s = str(msm).strip()
    if s.endswith("%"):
        pct = float(s[:-1])
        if pct >= 0:
            return int(n_clauses * pct / 100.0)
        return n_clauses - int(n_clauses * (-pct) / 100.0)
    try:
        v = int(s)
    except ValueError:
        raise UnsupportedDSL(
            f"minimum_should_match {msm!r} (int or percent only — the "
            f"conditional '<' combination syntax is unsupported)"
        ) from None
    return v if v >= 0 else max(0, n_clauses + v)


def _fuzz_n(fuzziness, term: str) -> int:
    """ES fuzziness → edit distance: an int/"1"/"2" passes through,
    "AUTO" (optionally "AUTO:low,high", ES defaults 3,6) derives from the
    term length — 0 below low, 1 below high, else 2."""
    if isinstance(fuzziness, str) and fuzziness.upper().startswith("AUTO"):
        lo, hi = 3, 6
        if ":" in fuzziness:
            try:
                lo_s, hi_s = fuzziness.split(":", 1)[1].split(",")
                lo, hi = int(lo_s), int(hi_s)
            except ValueError:
                raise UnsupportedDSL(
                    f"bad fuzziness {fuzziness!r} (AUTO:low,high)"
                ) from None
        n = len(term)
        return 0 if n < lo else (1 if n < hi else 2)
    return int(fuzziness)


def _match_spec(body: dict) -> tuple[str, str, str]:
    """(field, text, operator) from a match clause body."""
    field, spec = _one(body)
    if isinstance(spec, dict):
        return field, str(spec["query"]), str(spec.get("operator", "or")).lower()
    return field, str(spec), "or"


def _match_text(clause: dict) -> str:
    field, text, _op = _match_spec(clause)
    if field not in MAIN_FIELDS:
        # a match on a non-main field is a single-field multi_match
        raise _NonMainMatch(field, text)
    return text


class _NonMainMatch(Exception):
    def __init__(self, field: str, text: str):
        self.field, self.text = field, text


def _range_atom(body: dict) -> tuple:
    field, spec = _one(body)
    lo = spec.get("gte", spec.get("gt"))
    hi = spec.get("lte", spec.get("lt"))
    if lo is None or hi is None or "gt" in spec or "lt" in spec:
        raise UnsupportedDSL(
            "range filters need inclusive gte+lte bounds (exclusive "
            "gt/lt over string-ordered keyword terms are not emulated)"
        )
    return ("range", field, str(lo), str(hi))


def _match_atoms(body: dict, analyzer) -> tuple[list[tuple], str]:
    """A match clause in FILTER context → its token atoms + operator.
    Main-field tokens become ``("tok", t)`` (raw text-posting terms),
    side-field tokens ``("eq", field, t)`` (the multi-field posting
    encoding) — exact non-scoring constraints either way."""
    from ..textutils import analyze

    field, text, op = _match_spec(body)
    toks = analyze(text, analyzer)
    if field in MAIN_FIELDS:
        atoms = [("tok", t) for t in toks]
    else:
        atoms = [("eq", field, t) for t in toks]
    return atoms, op


def _filter_atoms(clause: dict, analyzer) -> list[tuple]:
    """One filter-context clause → atoms composing as an OR (used inside
    a should group). AND-shaped clauses (match operator=and) cannot
    OR-compose and are rejected here."""
    kind, body = _one(clause)
    if kind == "term":
        field, val = _one(body)
        val = val["value"] if isinstance(val, dict) else val
        if field in MAIN_FIELDS:
            # ES term/terms on a text field probe the analyzed inverted
            # index with the RAW value (not analyzed — ES's own gotcha:
            # an uppercase value misses a lowercasing analyzer's tokens)
            return [("tok", str(val))]
        return [("eq", field, str(val))]
    if kind == "terms":
        field, vals = _one(body)
        if field in MAIN_FIELDS:
            return [("tok", str(v)) for v in vals]
        return [("in", field, [str(v) for v in vals])]
    if kind == "range":
        return [_range_atom(body)]
    if kind == "exists":
        return [("exists", str(body["field"]))]
    if kind == "match":
        atoms, op = _match_atoms(body, analyzer)
        if op == "and" and len(atoms) > 1:
            raise UnsupportedDSL(
                "match with operator=and cannot appear inside an OR group "
                "(a should of filter clauses)"
            )
        return atoms
    raise UnsupportedDSL(f"unsupported clause {kind!r} in filter-context OR group")


def _parse_filter_clause(clause: dict, plan: dict, analyzer) -> None:
    """One clause in FILTER context (required, non-scoring) → plan atoms.
    term / terms / range / exists / match (exact: its analyzed tokens as
    posting constraints — OR by default, AND with operator=and) / nested
    bool (recursive) / match_all (no-op)."""
    kind, body = _one(clause)
    if kind in ("term", "terms", "range", "exists"):
        plan["or_groups"].append(_filter_atoms(clause, analyzer))
    elif kind == "match":
        atoms, op = _match_atoms(body, analyzer)
        if not atoms:
            return
        if op == "and":
            for a in atoms:  # every token required: one AND group per token
                plan["or_groups"].append([a])
        else:
            plan["or_groups"].append(atoms)  # ES default operator: OR
    elif kind == "match_all":
        pass
    elif kind in ("prefix", "wildcard", "fuzzy", "regexp"):
        # multi-term filter: expand over the term_index, one OR group
        plan["or_groups"].append(_expand_filter_atoms(kind, body))
    elif kind == "bool":
        _parse_filter_bool(body, plan, analyzer)
    elif kind == "constant_score":
        # in filter context the boost is moot (nothing scores) — unwrap
        _parse_filter_clause(body["filter"], plan, analyzer)
    else:
        raise UnsupportedDSL(f"unsupported filter clause {kind!r}")


_NO_MATCH_VALUE = "cb-no-match"  # a value no keyword column holds


def _expand_filter_atoms(kind: str, body: dict) -> list[tuple]:
    """A prefix/wildcard/fuzzy/regexp clause in FILTER context → its
    expansion as posting atoms (constant score, ES's filter rewrite):
    main-field patterns expand to text-term atoms, keyword fields to a
    value-membership atom. An empty expansion matches NOTHING (the atom
    carries an impossible value — never 'filter dropped')."""
    d = _PARSE_DIR.get()
    if d is None:
        raise UnsupportedDSL(
            f"{kind} in filter context needs the index (no out_dir in "
            "this parse context)"
        )
    field, spec = _one(body)
    val = str(spec["value"] if isinstance(spec, dict) else spec)
    sd = spec if isinstance(spec, dict) else {}
    if field in MAIN_FIELDS:
        from .query import (
            expand_fuzzy,
            expand_prefix,
            expand_regexp,
            expand_wildcard,
        )

        if kind == "prefix":
            terms = expand_prefix(d, val)
        elif kind == "wildcard":
            terms = expand_wildcard(d, val)
        elif kind == "regexp":
            terms = expand_regexp(d, val)
        else:
            terms = expand_fuzzy(d, val, fuzziness=_fuzz_n(sd.get("fuzziness", 1), val))
        from .build import KEYWORD_SEP

        terms = [t for t in terms if KEYWORD_SEP not in t]
        return [("tok", t) for t in terms] or [("tok", _NO_MATCH_VALUE)]
    vals = _expand_keyword_values(d, kind, field, val, sd)
    return [("in", field, vals or [_NO_MATCH_VALUE])]


def _parse_filter_not(clause: dict, plan: dict, ctx: "_BoolCtx", analyzer) -> None:
    """One clause in NOT context (must_not): docs carrying ANY of its
    expansion are excluded. match on the main field rides the analyzed
    must_not text; everything else becomes keyword/token not-atoms."""
    kind, body = _one(clause)
    if kind == "match":
        field, text, op = _match_spec(body)
        if op == "and":
            raise UnsupportedDSL(
                "match with operator=and inside must_not is unsupported "
                "(NOT(all tokens) is not a posting exclusion)"
            )
        if field in MAIN_FIELDS:
            ctx.must_nots.append(text)
        else:
            atoms, _ = _match_atoms(body, analyzer)
            plan["not_atoms"].extend(atoms)
    elif kind in ("term", "terms", "range", "exists"):
        plan["not_atoms"].extend(_filter_atoms(clause, analyzer))
    elif kind in ("prefix", "wildcard", "fuzzy", "regexp"):
        # exclusion by expansion: docs carrying ANY matching term/value
        # are excluded; an empty expansion excludes nothing
        atoms = _expand_filter_atoms(kind, body)
        if atoms and atoms[0][0] == "in":
            _f, field, vals = atoms[0]
            atoms = [("eq", field, v) for v in vals if v != _NO_MATCH_VALUE]
        plan["not_atoms"].extend(
            a for a in atoms if a[1] != _NO_MATCH_VALUE
        )
    elif kind == "bool":
        _parse_not_bool(body, plan, ctx, analyzer)
    else:
        raise UnsupportedDSL(f"unsupported must_not clause {kind!r}")


def _parse_filter_bool(body: dict, plan: dict, analyzer) -> None:
    """A ``bool`` nested in FILTER context — the Kibana multi-pill shape.
    must/filter recurse as AND; must_not becomes exclusions; should with
    minimum_should_match 1 (or the ES default when the bool has no
    must/filter) becomes ONE cross-field OR group; should with an
    effective minimum_should_match of 0 is dropped exactly like ES (it
    neither filters nor scores in filter context)."""
    ctx = _BoolCtx()
    for clause in (body.get("must") or []) + (body.get("filter") or []):
        _parse_filter_clause(clause, plan, analyzer)
    for clause in body.get("must_not") or []:
        _parse_filter_not(clause, plan, ctx, analyzer)
    if ctx.must_nots:
        # main-field match exclusions from inside a filter bool still ride
        # the analyzed must_not text (non-scoring either way)
        plan["extra_not_text"].extend(ctx.must_nots)
    shoulds = body.get("should") or []
    if shoulds:
        msm = body.get("minimum_should_match")
        if msm is None:
            msm = 0 if (body.get("must") or body.get("filter")) else 1
        msm = int(msm or 0)
        if msm == 0:
            return  # ES: optional should inside filter context is a no-op
        if msm > 1:
            raise UnsupportedDSL(
                "minimum_should_match > 1 inside a filter-context bool is "
                "unsupported (use several single-clause bools)"
            )
        group: list[tuple] = []
        for clause in shoulds:
            group.extend(_filter_atoms(clause, analyzer))
        plan["or_groups"].append(group)


def _parse_not_bool(body: dict, plan: dict, ctx: "_BoolCtx", analyzer) -> None:
    """A ``bool`` nested in must_not. NOT of an OR flattens exactly
    (NOT(a OR b) = NOT a AND NOT b), so the inner bool must be a pure OR:
    a should list with minimum_should_match ≤ 1, or a single must/filter
    clause. Anything else (NOT of a conjunction) is not a posting-level
    exclusion and is rejected."""
    musts = (body.get("must") or []) + (body.get("filter") or [])
    shoulds = body.get("should") or []
    if body.get("must_not"):
        raise UnsupportedDSL("bool.must_not nested inside must_not is unsupported")
    if shoulds and not musts:
        if int(body.get("minimum_should_match", 1) or 1) > 1:
            raise UnsupportedDSL(
                "minimum_should_match > 1 inside a must_not bool is unsupported"
            )
        for clause in shoulds:
            _parse_filter_not(clause, plan, ctx, analyzer)
    elif len(musts) == 1 and not shoulds:
        _parse_filter_not(musts[0], plan, ctx, analyzer)
    else:
        raise UnsupportedDSL(
            "bool inside must_not must be a pure OR (should with "
            "minimum_should_match<=1) or a single must/filter clause "
            "(NOT of a conjunction is not expressible as posting exclusions)"
        )


class _BoolCtx:
    """Accumulator for the recursive query-context bool flattening."""

    def __init__(self):
        self.shoulds: list[str] = []
        self.musts: list[str] = []
        self.must_nots: list[str] = []
        self.min_should = 0
        self.msm_locked = False  # a required-should group claimed min_should


def _merge_required(ctx: _BoolCtx, sub: _BoolCtx) -> None:
    """Merge a nested bool that sits in a REQUIRED position (must) into
    its parent: musts/must_nots AND-flatten; a should group with an
    effective minimum_should_match ≥ 1 becomes the single global
    should+min_should set (the kernel has one — a second one anywhere in
    the tree is rejected); optional shoulds (msm 0) merge as extra
    scoring terms."""
    ctx.musts.extend(sub.musts)
    ctx.must_nots.extend(sub.must_nots)
    if not sub.shoulds:
        return
    if sub.min_should >= 1:
        if ctx.shoulds or ctx.msm_locked:
            raise UnsupportedDSL(
                "only one should group with minimum_should_match >= 1 is "
                "supported per request (the kernel has a single "
                "minimum_should_match counter)"
            )
        ctx.shoulds = list(sub.shoulds)
        ctx.min_should = sub.min_should
        ctx.msm_locked = True
    else:
        if ctx.msm_locked:
            raise UnsupportedDSL(
                "mixing a minimum_should_match group with extra optional "
                "should clauses is unsupported"
            )
        ctx.shoulds.extend(sub.shoulds)


def _parse_bool_core(body: dict, plan: dict, analyzer, top: bool = False) -> _BoolCtx:
    """Recursive query-context bool flattening into the engine's single
    (should, must, must_not, min_should, filter-groups) shape. Documented
    simplifications: term/terms/range/exists anywhere in query context
    FILTER (never constant-score); ``minimum_should_match`` counts
    DISTINCT MATCHED TERMS (identical to ES clause counting when each
    should clause is a single term, which is the common shape — q34);
    only one minimum_should_match group per tree."""
    ctx = _BoolCtx()
    # a bool whose ONLY content is a single nested should-bool is that
    # bool (ES: lone should defaults to required via minimum_should_match=1)
    should_clauses = body.get("should") or []
    if (
        len(should_clauses) == 1
        and not (body.get("must") or body.get("filter") or body.get("must_not"))
        and _one(should_clauses[0])[0] == "bool"
        and body.get("minimum_should_match") in (None, 1)
    ):
        return _parse_bool_core(_one(should_clauses[0])[1], plan, analyzer, top=top)

    for clause in body.get("filter") or []:
        _parse_filter_clause(clause, plan, analyzer)
    for clause in body.get("must") or []:
        k2, b2 = _one(clause)
        if k2 == "match":
            _reject_clause_boost(b2)
            try:
                ctx.musts.append(_match_text(b2))
            except _NonMainMatch as nm:
                raise UnsupportedDSL(
                    f"match on non-main field {nm.field!r} inside bool.must "
                    "is unsupported (required SCORING over a side field is "
                    "not emulated; use multi_match, or filter context for "
                    "the non-scoring constraint)"
                ) from None
        elif k2 in ("term", "terms", "range", "exists"):
            # ES scores term-queries in must; here they filter (constant-
            # score emulation is out of subset — documented)
            _parse_filter_clause(clause, plan, analyzer)
        elif k2 == "bool":
            _merge_required(ctx, _parse_bool_core(b2, plan, analyzer))
        else:
            raise UnsupportedDSL(
                f"bool.must supports match/term/terms/range/exists/bool, got {k2!r}"
            )
    for clause in body.get("must_not") or []:
        _parse_filter_not(clause, plan, ctx, analyzer)

    own_shoulds: list[str] = []
    n_features = 0  # feature clauses in THIS should list (not plan-wide)
    for clause in should_clauses:
        k2, b2 = _one(clause)
        if k2 == "match":
            _reject_clause_boost(b2)
            if _match_spec(b2)[2] == "and":
                raise UnsupportedDSL(
                    "match with operator=and inside should is unsupported "
                    "(the kernel has no OR-of-AND slot; wrap it in a "
                    "nested bool.must instead)"
                )
            try:
                own_shoulds.append(_match_text(b2))
            except _NonMainMatch as nm:
                # a lone non-main should in an otherwise-empty TOP bool ≡
                # single-field multi_match; in any other position the
                # field-vs-main score algebra is out of subset
                if (
                    top
                    and len(should_clauses) == 1
                    and not (body.get("must") or body.get("must_not"))
                    and not plan["or_groups"] and not plan["not_atoms"]
                ):
                    raise  # parse_query converts to the mm plan
                raise UnsupportedDSL(
                    f"match on non-main field {nm.field!r} inside a bool "
                    "with other clauses is unsupported (use multi_match)"
                ) from None
        elif k2 in ("term", "terms", "range", "exists"):
            pass  # keyword shoulds — grouped below
        elif k2 in ("rank_feature", "distance_feature"):
            # feature queries in should position: pure additive score
            # boost over the bool's matching set (ES: they contribute
            # score, never constrain; our simplification — they also do
            # not count toward minimum_should_match)
            plan["rf_boosts"].append(
                _parse_rank_feature(b2) if k2 == "rank_feature"
                else _parse_distance_feature(b2)
            )
            n_features += 1
            continue
        elif k2 == "bool":
            raise UnsupportedDSL(
                "bool nested inside should alongside other clauses is "
                "unsupported (a LONE should-bool collapses to the bool itself)"
            )
        else:
            raise UnsupportedDSL(
                f"bool.should supports match/term/terms/range/exists/bool, got {k2!r}"
            )

    kw_should = [c for c in should_clauses if _one(c)[0] in ("term", "terms", "range", "exists")]
    msm = body.get("minimum_should_match")
    if msm is None:
        msm = 0 if (body.get("must") or body.get("filter")) else (1 if should_clauses else 0)
    msm = int(msm or 0)
    if kw_should and own_shoulds:
        raise UnsupportedDSL(
            "mixing match and term/terms clauses in one should list is "
            "unsupported (scoring vs filter semantics diverge)"
        )
    if n_features and msm >= 1 and (kw_should or own_shoulds):
        # in ES a doc could satisfy the required-should group via the
        # feature clause alone; we treat features as pure boosts, so that
        # shape would silently shrink the matching set — reject. Feature
        # clauses of a sibling or outer bool are not in this group.
        raise UnsupportedDSL(
            "rank_feature/distance_feature inside a REQUIRED should "
            "group is unsupported — move the scoring clause to must "
            "(features then boost, exactly like ES's common shape)"
        )
    if kw_should:
        if msm == 0:
            pass  # ES: optional keyword shoulds only add constant score — dropped
        elif msm == 1:
            group: list[tuple] = []
            for clause in kw_should:
                group.extend(_filter_atoms(clause, analyzer))
            plan["or_groups"].append(group)
        else:
            raise UnsupportedDSL(
                "minimum_should_match > 1 over term/terms should clauses is unsupported"
            )
    elif own_shoulds:
        sub = _BoolCtx()
        sub.shoulds = own_shoulds
        sub.min_should = msm
        _merge_required(ctx, sub)
    return ctx


def _parse_intervals(rule: dict) -> dict:
    """ES ``intervals`` query → plan updates. Supported rules: ``match``
    (multi-term source text) and ``all_of`` over single-term ``match``
    sub-intervals. Both reduce EXACTLY to the span kernel: an interval of
    k terms with ``max_gaps`` G matches iff the terms fit in a window of
    width (k-1)+G — ordered (greedy chain) or unordered (anchor window) —
    which is ``span_near`` with slop=G (semantics and the documented
    scoring simplification in ``query._span_kernel``). ``max_gaps`` must
    be explicit and ≥ 0: the ES default (-1, unbounded) degenerates to a
    doc-level AND whose interval frequency the window kernel cannot
    count, so it is rejected rather than silently misparsed. A one-term
    source is the plain match it is in ES."""
    kind, spec = _one(rule)
    if kind == "match":
        words = [w for w in str(spec.get("query", "")).split() if w]
    elif kind == "all_of":
        words = []
        for sub in spec.get("intervals") or []:
            sk, sb = _one(sub)
            if sk != "match":
                raise UnsupportedDSL(
                    "intervals all_of supports match sub-intervals only"
                )
            parts = [w for w in str(sb.get("query", "")).split() if w]
            if len(parts) != 1 or "max_gaps" in sb or "ordered" in sb:
                raise UnsupportedDSL(
                    "intervals all_of sub-matches must be single plain terms"
                )
            words += parts
    else:
        raise UnsupportedDSL(f"unsupported intervals rule {kind!r}")
    if not words:
        raise UnsupportedDSL("intervals needs a non-empty source")
    if len(words) == 1:
        return {"query": words[0]}
    gaps = spec.get("max_gaps", -1)
    if int(gaps) < 0:
        raise UnsupportedDSL(
            "intervals needs an explicit max_gaps >= 0 (the ES default -1 "
            "= unbounded is unsupported)"
        )
    return {"span_near": {
        "clauses": words,
        "slop": int(gaps),
        "in_order": bool(spec.get("ordered", False)),
    }}


def _parse_nested(body: dict) -> dict:
    """ES ``nested`` query → {"path", "clauses"}. Filter-context subset:
    the inner query is one clause or a bool.must/filter list of clauses,
    each a term / terms / range / exists on a ``path.field`` subfield.
    All conditions must hold on the SAME array element (real nested
    semantics — see ``query.nested_filter_ids``); scoring sub-queries
    (match etc.) and inner_hits are unsupported."""
    path = body.get("path")
    q = body.get("query")
    if not path or q is None:
        raise UnsupportedDSL("nested needs path and query")
    if body.get("inner_hits") is not None:
        raise UnsupportedDSL("nested inner_hits are unsupported")
    kind, inner = _one(q)
    if kind == "bool":
        extra = [k for k in inner if k not in ("must", "filter")]
        if extra:
            raise UnsupportedDSL(
                f"nested bool supports must/filter only (got {extra[0]!r})"
            )
        clause_list = list(inner.get("must") or []) + list(inner.get("filter") or [])
    else:
        clause_list = [q]
    if not clause_list:
        raise UnsupportedDSL("nested query has no clauses")

    def sub(field: str) -> str:
        if not field.startswith(path + "."):
            raise UnsupportedDSL(
                f"nested field {field!r} must be under path {path!r}"
            )
        return field[len(path) + 1:]

    parsed: list[tuple] = []
    for c in clause_list:
        ck, cb = _one(c)
        if ck == "term":
            f, spec = _one(cb)
            parsed.append(
                ("term", sub(f), spec["value"] if isinstance(spec, dict) else spec)
            )
        elif ck == "terms":
            f, vals = _one(cb)
            parsed.append(("terms", sub(f), list(vals)))
        elif ck == "range":
            f, spec = _one(cb)
            ops = {k: v for k, v in spec.items() if k in ("gte", "gt", "lte", "lt")}
            if not ops:
                raise UnsupportedDSL("nested range needs gte/gt/lte/lt bounds")
            parsed.append(("range", sub(f), ops))
        elif ck == "exists":
            parsed.append(("exists", sub(cb["field"]), None))
        else:
            raise UnsupportedDSL(
                f"nested supports term/terms/range/exists sub-clauses, got {ck!r}"
            )
    return {"path": path, "clauses": parsed}


def _expand_keyword_values(
    out_dir: str | list[str], kind: str, field: str, val: str, spec: dict,
) -> list[str]:
    """prefix/wildcard/fuzzy/regexp on a KEYWORD field: expand the
    matching stored values over the range-pruned sorted term_index
    (keyword terms are ``field:value`` entries beside the text terms).
    Values resolve through the engine's lowercase expansion convention —
    uppercase stored values miss, the same class of gotcha as ES's
    term-query-on-analyzed-field."""
    import re as _re

    from .build import KEYWORD_SEP
    from .query import (
        expand_fuzzy,
        expand_prefix,
        expand_regexp,
        expand_wildcard,
    )

    pref = f"{field}{KEYWORD_SEP}"
    if kind == "prefix":
        terms = expand_prefix(out_dir, pref + val, max_expansions=10_000)
    elif kind == "wildcard":
        terms = expand_wildcard(out_dir, pref + val, max_expansions=10_000)
    elif kind == "regexp":
        terms = expand_regexp(
            out_dir, _re.escape(pref) + val, max_expansions=10_000
        )
    else:
        terms = expand_fuzzy(
            out_dir, pref + val,
            fuzziness=_fuzz_n(spec.get("fuzziness", 1), val),
            prefix_length=max(1, int(spec.get("prefix_length", 1))),
        )
    return sorted(t.split(KEYWORD_SEP, 1)[1] for t in terms if t.startswith(pref))


import contextvars as _contextvars

_PARSE_DIR: "_contextvars.ContextVar[str | list[str] | None]" = _contextvars.ContextVar(
    "cb_parse_dir", default=None
)


def parse_query(
    query: dict, analyzer=None, out_dir: str | list[str] | None = None
) -> dict:
    """The query-context half of a request body → engine arguments.
    ``analyzer`` is the index's analyzer config (stats.json), used to
    tokenize filter-context match clauses exactly like the index did.
    ``out_dir`` (an index dir, or a Searcher's list of roots) enables the
    clause shapes that must probe the index at parse time (keyword-field
    prefix/wildcard/fuzzy/regexp expansion) — carried to the nested
    filter-context parsers via a contextvar."""
    token = _PARSE_DIR.set(out_dir)
    try:
        return _parse_query_impl(query, analyzer, out_dir)
    finally:
        _PARSE_DIR.reset(token)


def _parse_query_impl(
    query: dict, analyzer=None, out_dir: str | list[str] | None = None
) -> dict:
    plan: dict[str, Any] = {
        "query": "", "must": None, "must_not": None, "min_should": 0,
        "filters": {}, "ranges": {}, "phrase": None, "phrase_slop": 0, "mm": None,
        "expand": None, "mlt": None, "match_all": False, "match_none": False,
        "or_groups": [], "not_atoms": [], "extra_not_text": [],
        "boost": 1.0, "ids": None,
        "dis_max": None, "boosting": None, "fscore": None,
        "phrase_prefix": None, "span_near": None, "terms_set": None,
        "nested": None, "rank_feature": None, "rf_boosts": [],
        "pinned": None, "script_score": None,
    }
    if query is None:
        plan["match_all"] = True
        return plan
    kind, body = _one(query)
    if kind == "match":
        _mf, _mv = _one(body)
        if isinstance(_mv, dict) and _mv.get("fuzziness") not in (None, 0, "0"):
            # ES match + fuzziness: each analyzed token expands to its
            # edit-distance neighbours. Single-token queries (the typo'd
            # search box, the overwhelmingly common shape) map exactly to
            # the fuzzy query; the multi-token union-of-expansions score
            # algebra is not emulated — reject, never silently drop the
            # fuzziness (one token per fuzzy request, same as q42's shape)
            field, text, _ = _match_spec(body)
            if field not in MAIN_FIELDS:
                raise UnsupportedDSL(
                    "match with fuzziness is supported on the main text "
                    "field only"
                )
            toks = [t for t in text.lower().split() if t]
            if len(toks) != 1:
                raise UnsupportedDSL(
                    "match with fuzziness supports a single-token query "
                    "(send multi-token fuzzy clauses as separate requests)"
                )
            plan["expand"] = ("fuzzy", toks[0], {"fuzziness": _mv["fuzziness"]})
            return plan
        if isinstance(_mv, dict):
            if _mv.get("analyzer") is not None:
                raise UnsupportedDSL(
                    "per-request analyzer overrides are unsupported (the "
                    "index analyzer is authoritative — reindex to change it)"
                )
            if str(_mv.get("zero_terms_query", "none")).lower() == "all":
                raise UnsupportedDSL(
                    'zero_terms_query "all" is unsupported (an empty '
                    "analyzed query matches nothing here, ES's default)"
                )
        try:
            text = _match_text(body)
            if _match_spec(body)[2] == "and":
                # ES operator=and: every analyzed token required — the
                # kernel's must slot (scoring identical: BM25 over all
                # matched terms, the matching set intersected)
                plan["must"] = text
            else:
                plan["query"] = text
                if isinstance(_mv, dict) and _mv.get("minimum_should_match") is not None:
                    plan["min_should"] = _msm_count(
                        _mv["minimum_should_match"], len(text.split())
                    )
            if isinstance(_mv, dict) and _mv.get("boost") is not None:
                plan["boost"] = float(_mv["boost"])
        except _NonMainMatch as nm:
            # ES semantics: match on a non-main field ≡ single-field
            # multi_match over that field
            if _match_spec(body)[2] == "and":
                raise UnsupportedDSL(
                    "match with operator=and on a non-main field is "
                    "unsupported (multi_match has no AND slot)"
                ) from None
            plan["mm"] = {"query": nm.text, "fields": [nm.field], "type": "best_fields"}
    elif kind == "match_all":
        plan["match_all"] = True
    elif kind == "match_none":
        # ES match_none: matches no documents, ever (the query-DSL unit of
        # "empty set" — tools emit it when a filter list reduces to false)
        plan["match_none"] = True
    elif kind == "match_phrase":
        _field, spec = _one(body)
        plan["phrase"] = spec["query"] if isinstance(spec, dict) else str(spec)
        if isinstance(spec, dict) and spec.get("slop"):
            plan["phrase_slop"] = int(spec["slop"])
    elif kind == "match_bool_prefix":
        # ES search-as-you-type: every analyzed token a should term, the
        # LAST token a prefix — expanded over the range-pruned term_index
        # at parse time into the same should bag (each expansion scores as
        # its own term, a doc matches on any — ES's term+prefix bool)
        _f, spec = _one(body)
        if _f not in MAIN_FIELDS:
            raise UnsupportedDSL(
                "match_bool_prefix is supported on the main text field only"
            )
        text = spec["query"] if isinstance(spec, dict) else str(spec)
        toks = [t for t in str(text).lower().split() if t]
        if not toks:
            plan["match_none"] = True
            return plan
        if out_dir is None:
            raise UnsupportedDSL(
                "match_bool_prefix needs the index (no out_dir in this "
                "context)"
            )
        from .build import KEYWORD_SEP
        from .query import expand_prefix

        max_exp = int(spec.get("max_expansions", 50)) if isinstance(spec, dict) else 50
        exp = [
            t for t in expand_prefix(out_dir, toks[-1], max_expansions=max_exp)
            if KEYWORD_SEP not in t
        ]
        bag = toks[:-1] + sorted(set(exp) | {toks[-1]})
        plan["query"] = " ".join(bag)
    elif kind == "match_phrase_prefix":
        _field, spec = _one(body)
        plan["phrase_prefix"] = {
            "text": spec["query"] if isinstance(spec, dict) else str(spec),
            "max_expansions": int(spec.get("max_expansions", 50))
            if isinstance(spec, dict) else 50,
        }
    elif kind == "dis_max":
        qs = body.get("queries") or []
        if not qs:
            raise UnsupportedDSL("dis_max needs a non-empty queries list")
        plan["dis_max"] = {
            "queries": list(qs),
            "tie_breaker": float(body.get("tie_breaker", 0.0)),
        }
    elif kind == "boosting":
        if "positive" not in body or "negative" not in body:
            raise UnsupportedDSL("boosting needs positive and negative")
        plan["boosting"] = {
            "positive": body["positive"], "negative": body["negative"],
            "negative_boost": float(body.get("negative_boost", 0.5)),
        }
    elif kind == "function_score":
        plan["fscore"] = _parse_function_score(body)
    elif kind == "script_score":
        import re as _re

        from .query import _parse_script

        if body.get("query") is None or body.get("script") is None:
            raise UnsupportedDSL("script_score needs query and script")
        sc = body["script"]
        src = sc["source"] if isinstance(sc, dict) else str(sc)
        params = (sc.get("params") or {}) if isinstance(sc, dict) else {}
        # _score rides the params mapping (the painless-subset grammar
        # knows params/doc names only)
        src = _re.sub(r"(?<![\w.])_score\b", "params._score", src)
        try:
            node = _parse_script(src)
        except ValueError as e:
            raise UnsupportedDSL(str(e)) from None
        plan["script_score"] = {
            "query": body["query"], "node": node, "params": dict(params),
            "min_score": body.get("min_score"),
        }
    elif kind == "rank_feature":
        plan["rank_feature"] = [_parse_rank_feature(body)]
    elif kind == "distance_feature":
        plan["rank_feature"] = [_parse_distance_feature(body)]
    elif kind == "pinned":
        # ES pinned query: the listed ids surface first IN THE GIVEN
        # ORDER (synthetic descending scores — ES uses decreasing
        # near-Float.MAX values; we document 1e9 − position), then the
        # organic query's hits with pinned ids deduplicated out
        ids = [int(v) for v in (body.get("ids") or [])]
        if not ids or body.get("organic") is None:
            raise UnsupportedDSL("pinned needs ids and an organic query")
        if body.get("docs") is not None:
            raise UnsupportedDSL("pinned docs are unsupported (use ids)")
        plan["pinned"] = {"ids": ids, "organic": body["organic"]}
    elif kind == "wrapper":
        # ES wrapper query: a base64-encoded JSON query, decoded and
        # parsed exactly like the inline equivalent
        import base64

        try:
            decoded = json.loads(base64.b64decode(str(body["query"])))
        except (KeyError, ValueError, TypeError) as e:
            raise UnsupportedDSL(f"wrapper query does not decode: {e}") from None
        return parse_query(decoded, analyzer, out_dir=out_dir)
    elif kind == "multi_match":
        for bad in ("operator", "minimum_should_match", "analyzer", "fuzziness"):
            if body.get(bad) is not None:
                raise UnsupportedDSL(
                    f"multi_match {bad} is unsupported (best_fields/"
                    f"most_fields OR semantics only — never silently "
                    f"dropped)"
                )
        if float(body.get("tie_breaker", 0) or 0) != 0.0:
            raise UnsupportedDSL(
                "multi_match tie_breaker is unsupported (best_fields is "
                "the exact tie_breaker=0 dis_max; wrap per-field match "
                "clauses in dis_max for a non-zero tie_breaker)"
            )
        plan["mm"] = {
            "query": body["query"],
            "fields": list(body["fields"]),
            "type": body.get("type", "best_fields"),
        }
    elif kind in ("prefix", "wildcard", "fuzzy", "regexp"):
        field, spec = _one(body)
        val = spec["value"] if isinstance(spec, dict) else spec
        if field in MAIN_FIELDS:
            plan["expand"] = (kind, str(val), spec if isinstance(spec, dict) else {})
        else:
            # multi-term query on a KEYWORD field: expand the matching
            # stored values over the range-pruned term_index and filter —
            # constant score, ES's constant_score rewrite for these
            if out_dir is None:
                raise UnsupportedDSL(
                    f"{kind} on keyword field {field!r} needs the index "
                    "(no out_dir in this context)"
                )
            vals = _expand_keyword_values(
                out_dir, kind, field, str(val),
                spec if isinstance(spec, dict) else {},
            )
            if not vals:
                plan["match_none"] = True
            else:
                plan["or_groups"].append([("in", field, vals)])
                plan["match_all"] = True
    elif kind == "span_near":
        vals = [_span_clause(c) for c in body.get("clauses") or []]
        if len(vals) < 2:
            raise UnsupportedDSL(
                "span_near needs at least two span clauses"
            )
        plan["span_near"] = {
            "clauses": vals,
            "slop": int(body.get("slop", 0)),
            "in_order": bool(body.get("in_order", True)),
        }
    elif kind == "span_or":
        # a lone span_or: any member anywhere — one OR clause, spanFreq =
        # total member positions, idf = dominant member
        plan["span_near"] = {
            "clauses": [_span_or_members(body)],
            "slop": 0, "in_order": True,
        }
    elif kind == "span_first":
        if "match" not in body or "end" not in body:
            raise UnsupportedDSL("span_first needs match and end")
        plan["span_near"] = {
            "clauses": [_span_clause(body["match"])],
            "slop": 0, "in_order": True,
            "first_end": int(body["end"]),
        }
    elif kind == "span_not":
        if "include" not in body or "exclude" not in body:
            raise UnsupportedDSL("span_not needs include and exclude")
        plan["span_near"] = {
            "clauses": [_span_clause(body["include"])],
            "slop": 0, "in_order": True,
            "exclude": _as_list(_span_clause(body["exclude"])),
            "pre": int(body.get("pre", body.get("dist", 0))),
            "post": int(body.get("post", body.get("dist", 0))),
        }
    elif kind == "intervals":
        _field, rule = _one(body)
        plan.update(_parse_intervals(rule))
    elif kind == "nested":
        plan["nested"] = _parse_nested(body)
    elif kind == "terms_set":
        field, spec = _one(body)
        if field not in MAIN_FIELDS:
            raise UnsupportedDSL(
                "terms_set is supported on the main text field only"
            )
        if "minimum_should_match_field" not in spec:
            raise UnsupportedDSL(
                "terms_set needs minimum_should_match_field "
                "(minimum_should_match_script is unsupported)"
            )
        vals = [str(t) for t in (spec.get("terms") or [])]
        if not vals:
            raise UnsupportedDSL("terms_set needs a non-empty terms list")
        plan["terms_set"] = {
            "terms": vals,
            "msm_field": str(spec["minimum_should_match_field"]),
        }
    elif kind == "span_term":
        # a lone single-position span ≡ a one-term match (identical
        # BM25: spanFreq of a single term IS its term frequency)
        f, spec = _one(body)
        val = spec["value"] if isinstance(spec, dict) else str(spec)
        try:
            plan["query"] = _match_text({f: val})
        except _NonMainMatch as nm:
            plan["mm"] = {
                "query": nm.text, "fields": [nm.field], "type": "best_fields",
            }
    elif kind == "more_like_this":
        flds = [str(f) for f in (body.get("fields") or [])]
        if flds and any(f not in MAIN_FIELDS for f in flds):
            raise UnsupportedDSL(
                "more_like_this fields beyond the main text field are "
                "unsupported (interestingness terms come from the main "
                "dictionary — never silently swapped)"
            )
        plan["mlt"] = dict(body)
    elif kind in ("term", "terms", "range", "exists"):
        # top-level filter-context query (ES scores these constant 1.0)
        _parse_filter_clause({kind: body}, plan, analyzer)
        plan["match_all"] = True
    elif kind == "constant_score":
        # ES: wraps a filter, every hit scores `boost` (default 1.0)
        _parse_filter_clause(body["filter"], plan, analyzer)
        plan["match_all"] = True
        plan["boost"] = float(body.get("boost", 1.0))
    elif kind == "ids":
        # ES ids query: the listed documents that exist, constant score
        # 1.0, doc_id order (resolution via the bucket-pruned docstore)
        plan["ids"] = [int(v) for v in body["values"]]
    elif kind == "query_string":
        _parse_query_string(body, plan, analyzer)
    elif kind == "simple_query_string":
        _parse_simple_query_string(body, plan)
    elif kind == "bool":
        try:
            ctx = _parse_bool_core(body, plan, analyzer, top=True)
        except _NonMainMatch as nm:
            plan["mm"] = {"query": nm.text, "fields": [nm.field], "type": "best_fields"}
            return plan
        plan["query"] = " ".join(ctx.shoulds)
        plan["must"] = " ".join(ctx.musts) or None
        plan["must_not"] = " ".join(ctx.must_nots) or None
        plan["min_should"] = ctx.min_should
        if not plan["query"] and not plan["must"]:
            if plan["rf_boosts"] and not (
                plan["filters"] or plan["ranges"] or plan["or_groups"]
                or plan["must_not"] or plan["not_atoms"]
            ):
                # should-only feature bool: the features ARE the query
                # (matching set = docs holding any feature field)
                plan["rank_feature"] = plan["rf_boosts"]
                plan["rf_boosts"] = []
            else:
                plan["match_all"] = True
    else:
        raise UnsupportedDSL(f"unsupported query clause {kind!r}")
    if plan["extra_not_text"]:
        # main-field match exclusions surfaced from inside filter-context
        # bools (reachable from ANY branch that parses filter clauses —
        # bool, top-level term/…, constant_score): fold into must_not
        extra = " ".join(plan["extra_not_text"])
        plan["must_not"] = f"{plan['must_not']} {extra}" if plan["must_not"] else extra
        plan["extra_not_text"] = []
    return plan


def _parse_query_string(body, plan: dict, analyzer) -> None:
    """Lucene ``query_string`` SUBSET: whitespace terms (should), ``+term``
    (must), ``-term`` (must_not), ``field:value`` (keyword filter, with
    +/- for required/excluded — required is the default since a filter is
    already a constraint), and a quoted ``"phrase"`` when it is the ENTIRE
    query. ``default_operator: AND`` makes plain terms must. Full Lucene
    syntax (parens, boosts ^, fuzz ~, wildcards, AND/OR/NOT connectives)
    raises UnsupportedDSL — no silent misparse."""
    import re

    if isinstance(body, dict):
        q = str(body["query"])
        default_op = str(body.get("default_operator", "or")).lower()
        if body.get("fields"):
            # never silently search the wrong field: only the main text
            # field (optionally starred/boost-suffixed) is accepted here
            names = [str(f).partition("^")[0] for f in body["fields"]]
            if not all(n in ("", "*") or n in MAIN_FIELDS for n in names):
                raise UnsupportedDSL(
                    "query_string fields beyond the main text field are "
                    "unsupported (use multi_match or field:value terms)"
                )
    else:
        q, default_op = str(body), "or"
    for bad, why in (
        ("(", "parentheses"), (")", "parentheses"), ("^", "boosts"),
        ("~", "fuzziness"), ("*", "wildcards"), ("?", "wildcards"),
        (" AND ", "boolean connectives"), (" OR ", "boolean connectives"),
        (" NOT ", "boolean connectives"),
    ):
        if bad in q:
            raise UnsupportedDSL(f"query_string {why} are not supported")
    parts = re.findall(r'[+-]?"[^"]*"|[^\s]+', q)
    shoulds: list[str] = []
    for part in parts:
        sign = ""
        if part[:1] in "+-":
            sign, part = part[0], part[1:]
        if part.startswith('"') and part.endswith('"') and len(part) >= 2:
            if sign or len(parts) != 1:
                raise UnsupportedDSL(
                    'a query_string "phrase" must be the entire query '
                    "(one scoring clause kind per request)"
                )
            plan["phrase"] = part[1:-1]
            return
        if ":" in part:
            field, _, val = part.partition(":")
            if not field or not val:
                raise UnsupportedDSL(f"malformed field:value term {part!r}")
            atom = ("eq", field, val)
            if sign == "-":
                plan["not_atoms"].append(atom)
            else:
                plan["or_groups"].append([atom])
        elif sign == "+":
            plan["must"] = f"{plan['must']} {part}" if plan["must"] else part
        elif sign == "-":
            plan["must_not"] = (
                f"{plan['must_not']} {part}" if plan["must_not"] else part
            )
        elif default_op == "and":
            plan["must"] = f"{plan['must']} {part}" if plan["must"] else part
        else:
            shoulds.append(part)
    plan["query"] = " ".join(shoulds)
    if not plan["query"] and not plan["must"]:
        plan["match_all"] = True


def _parse_simple_query_string(body, plan: dict) -> None:
    """ES ``simple_query_string`` SUBSET over the main field: whitespace
    terms joined by ``default_operator`` (or → should, and → must), infix
    ``|`` (the chained atoms become an OR group: should with
    minimum_should_match 1 when anything is required), infix ``+`` (the
    chained atoms become must — works with or without surrounding
    spaces), prefix ``-term`` (must_not), and a quoted ``"phrase"`` /
    ``"phrase"~N`` when it is the ENTIRE query, or a trailing-``*``
    ``prefix*`` when it is the entire query. ES-lenient on dangling
    operators (a trailing ``+``/``|``/bare ``-`` is dropped, never an
    error — the simple-syntax contract). Shapes the flat kernel cannot
    express exactly — mixing ``+`` and ``|`` chains (needs precedence),
    a negated ``|`` member (OR-of-NOT), mid-query phrases or prefixes —
    raise UnsupportedDSL: no silent misparse."""
    import re

    if isinstance(body, dict):
        q = str(body["query"])
        default_op = str(body.get("default_operator", "or")).lower()
        fields = body.get("fields")
        flags = body.get("flags")
    else:
        q, default_op, fields, flags = str(body), "or", None, None
    if flags is not None and str(flags).upper() != "ALL":
        raise UnsupportedDSL(
            "simple_query_string flags subsets are unsupported (ALL only)"
        )
    if "(" in q or ")" in q:
        raise UnsupportedDSL(
            "simple_query_string parentheses (precedence groups) are "
            "unsupported"
        )
    parts = re.findall(r'-?"[^"]*"(?:~\d+)?|[+|]|[^\s+|]+', q)
    # atoms: (text, negated, joined-to-previous-by) with lenient dangling
    # connectives dropped
    atoms: list[list] = []
    pending: str | None = None
    for p in parts:
        if p in "+|":
            pending = p if atoms else None  # leading connective: lenient
            continue
        neg = False
        if p[:1] == "-" and not p.startswith('-"'):
            neg, p = True, p[1:]
        elif p.startswith('-"'):
            neg, p = True, p[1:]
        if not p:
            pending = None  # bare '-': lenient
            continue
        atoms.append([p, neg, pending])
        pending = None
    if not atoms:
        plan["match_all"] = True
        return
    kinds = {a[2] for a in atoms if a[2]}
    if len(kinds) > 1:
        raise UnsupportedDSL(
            "simple_query_string mixing + and | needs precedence groups "
            "and is unsupported"
        )
    # adjacency: an infix connective binds BOTH its neighbours
    for i, a in enumerate(atoms):
        nxt = atoms[i + 1][2] if i + 1 < len(atoms) else None
        a.append(a[2] or nxt)  # a[3] = effective connective
    phrase_like = [a for a in atoms if a[0].startswith('"')]
    prefix_like = [a for a in atoms if a[0].endswith("*")]
    if phrase_like:
        if len(atoms) != 1 or atoms[0][1] or atoms[0][3]:
            raise UnsupportedDSL(
                'a simple_query_string "phrase" must be the entire query'
            )
        m = re.fullmatch(r'"([^"]*)"(?:~(\d+))?', atoms[0][0])
        plan["phrase"] = m.group(1)
        plan["phrase_slop"] = int(m.group(2) or 0)
        _sqs_fields_guard(fields, plan)
        return
    if prefix_like:
        if len(atoms) != 1 or atoms[0][1] or atoms[0][3]:
            raise UnsupportedDSL(
                "a simple_query_string prefix* must be the entire query"
            )
        plan["expand"] = ("prefix", atoms[0][0][:-1], {})
        _sqs_fields_guard(fields, plan)
        return
    shoulds, musts, must_nots = [], [], []
    for text, neg, _conn, eff in atoms:
        if "~" in text or "*" in text or "?" in text:
            raise UnsupportedDSL(
                "simple_query_string term fuzziness (~) and non-trailing "
                "wildcards are unsupported"
            )
        if neg:
            if eff == "|":
                raise UnsupportedDSL(
                    "a negated | member (OR-of-NOT) is unsupported in "
                    "simple_query_string"
                )
            must_nots.append(text)
        elif eff == "|":
            shoulds.append(text)
        elif eff == "+" or default_op == "and":
            musts.append(text)
        else:
            shoulds.append(text)
    plan["query"] = " ".join(shoulds)
    plan["must"] = " ".join(musts) or None
    plan["must_not"] = " ".join(must_nots) or None
    # an explicit |-group alongside required terms is itself required
    # (Lucene: a AND (b OR c)); a pure should bag keeps ES's default
    plan["min_should"] = (
        1 if shoulds and (musts or default_op == "and") else 0
    )
    if not plan["query"] and not plan["must"]:
        plan["match_all"] = True
    _sqs_fields_guard(fields, plan)


def _sqs_fields_guard(fields, plan: dict) -> None:
    """simple_query_string ``fields``: absent / main-field aliases pass
    through; ONE non-main field reduces a pure should-bag to single-field
    multi_match (the ES per-field BM25 norm path); anything wider is
    unsupported."""
    if not fields:
        return
    names = [str(f).partition("^")[0] for f in fields]
    if all(n in ("", "*", "text", "_text") for n in names):
        return
    if (
        len(names) == 1 and plan["query"] and not plan["must"]
        and not plan["must_not"] and not plan["min_should"]
        and plan["phrase"] is None and plan["expand"] is None
    ):
        plan["mm"] = {
            "query": plan["query"], "fields": [fields[0]],
            "type": "best_fields",
        }
        plan["query"] = ""
        return
    raise UnsupportedDSL(
        "simple_query_string fields supports the main field, or one "
        "non-main field with a plain term bag"
    )


def _source_patterns(want_source):
    """ES ``_source`` filtering spec → (includes, excludes) glob-pattern
    lists (None = no filtering on that side). Accepts True/False, a
    field string, a field list, or {"includes": [...], "excludes":
    [...]}; patterns support fnmatch wildcards (ES's ``obj.*`` shape)."""
    if isinstance(want_source, dict):
        inc = want_source.get("includes")
        exc = want_source.get("excludes")
        inc = [inc] if isinstance(inc, str) else inc
        exc = [exc] if isinstance(exc, str) else exc
        return inc or None, exc or None
    if isinstance(want_source, str):
        return [want_source], None
    if isinstance(want_source, list):
        return [str(f) for f in want_source], None
    return None, None


def _source_apply(src: dict, inc, exc) -> dict:
    from fnmatch import fnmatch

    out = src
    if inc is not None:
        out = {k: v for k, v in out.items() if any(fnmatch(k, p) for p in inc)}
    if exc is not None:
        out = {k: v for k, v in out.items() if not any(fnmatch(k, p) for p in exc)}
    return out


def render_search_template(source, params: dict | None) -> dict:
    """ES ``_search/template`` rendering, mustache SUBSET: ``{{var}}``
    substitution — a quoted ``"{{var}}"`` occupying a whole JSON string
    becomes the param's TYPED JSON value (numbers stay numbers, lists
    stay lists — the ES {{#toJson}} case for scalars/arrays), any other
    ``{{var}}`` splices the param's string form. Missing params render
    empty (mustache semantics). Sections/partials/lambdas raise."""
    import json as _json
    import re as _re

    s = source if isinstance(source, str) else _json.dumps(source)
    if _re.search(r"\{\{[#/^>&]", s):
        raise UnsupportedDSL(
            "search template sections/partials are unsupported "
            "({{var}} substitution only)"
        )
    params = params or {}

    def _typed(m):
        name = m.group(1)
        return _json.dumps(params[name]) if name in params else m.group(0)

    s = _re.sub(r'"\{\{(\w+)\}\}"', _typed, s)

    def _inline(m):
        v = params.get(m.group(1))
        return "" if v is None else str(v)

    s = _re.sub(r"\{\{(\w+)\}\}", _inline, s)
    try:
        return _json.loads(s)
    except ValueError as e:
        raise UnsupportedDSL(f"template rendered to invalid JSON: {e}") from None


def search_template_body(
    spark: SparkSession, out_dir: str, request: dict, *,
    searcher: Searcher | None = None, scripts_dir: str | None = None,
) -> dict:
    """ES ``_search/template``: {"source": <template>, "params": {...}}
    rendered then executed exactly like ``search_body``. A stored
    template runs by {"id": <name>} against the ``scripts_dir`` registry
    (``put_script`` — ES's ``PUT _scripts/<id>``)."""
    src = request.get("source", request.get("template"))
    if src is None and request.get("id") is not None:
        if scripts_dir is None:
            raise UnsupportedDSL(
                "a stored template ({'id': ...}) needs scripts_dir (the "
                "put_script registry)"
            )
        src = get_script(scripts_dir, str(request["id"]))["script"]["source"]
    if src is None:
        raise UnsupportedDSL("search template needs source (or template/id)")
    body = render_search_template(src, request.get("params"))
    return search_body(spark, out_dir, body, searcher=searcher)


def _script_path(scripts_dir: str, script_id: str) -> str:
    safe = "".join(c if c.isalnum() or c in "-_." else "_" for c in script_id)
    return os.path.join(scripts_dir, f"{safe}.json")


def put_script(scripts_dir: str, script_id: str, script: dict) -> dict:
    """ES ``PUT _scripts/<id>``: store a mustache search template (the
    {"script": {"lang": "mustache", "source": <template>}} request shape,
    or the bare source). One JSON file per id — the registry is a plain
    directory so it ships with the index tree."""
    src = script.get("script", script) if isinstance(script, dict) else script
    if isinstance(src, dict):
        if str(src.get("lang", "mustache")) != "mustache":
            raise UnsupportedDSL("stored scripts support lang=mustache only")
        src = src.get("source")
    if src is None:
        raise UnsupportedDSL("put_script needs script.source")
    os.makedirs(scripts_dir, exist_ok=True)
    with open(_script_path(scripts_dir, script_id), "w") as f:
        json.dump({"lang": "mustache", "source": src}, f)
    return {"acknowledged": True}


def get_script(scripts_dir: str, script_id: str) -> dict:
    """ES ``GET _scripts/<id>``."""
    p = _script_path(scripts_dir, script_id)
    if not os.path.exists(p):
        raise KeyError(f"stored script {script_id!r} not found")
    with open(p) as f:
        stored = json.load(f)
    return {"_id": script_id, "found": True, "script": stored}


def delete_script(scripts_dir: str, script_id: str) -> dict:
    """ES ``DELETE _scripts/<id>``."""
    p = _script_path(scripts_dir, script_id)
    if os.path.exists(p):
        os.remove(p)
        return {"acknowledged": True}
    raise KeyError(f"stored script {script_id!r} not found")


def _resolve_terms_lookups(q, s: Searcher):
    """ES terms lookup — ``{"terms": {field: {"index": <dir>, "id": n,
    "path": <stored column>}}}`` — resolves the term list from another
    document's stored column (one driver-side bucket-pruned pyarrow
    lookup, zero Spark jobs) and replaces it inline, so every terms site
    (filter context, bools, counts, deletes) sees a plain list. ``index``
    is an index directory; absent = the searched index (every root of
    ``s``). A missing doc or column resolves to [] — matches nothing,
    exactly ES."""
    if isinstance(q, list):
        return [_resolve_terms_lookups(x, s) for x in q]
    if not isinstance(q, dict):
        return q
    out = {}
    for k, v in q.items():
        if (
            k == "terms" and isinstance(v, dict) and len(v) == 1
        ):
            f, spec = next(iter(v.items()))
            if isinstance(spec, dict) and "id" in spec and "path" in spec:
                from .build import lookup_docs

                did = int(spec["id"])
                rows = (
                    lookup_docs(str(spec["index"]), [did]) if spec.get("index")
                    else s._lookup_docs([did])
                )
                doc = rows.get(did) or {}
                vals = doc.get(str(spec["path"]))
                if vals is None:
                    vals = []
                elif not isinstance(vals, (list, tuple)):
                    vals = [vals]
                out[k] = {f: [str(x) for x in vals]}
                continue
        out[k] = _resolve_terms_lookups(v, s)
    return out


def _span_term_value(cb) -> str:
    _f, spec = _one(cb)
    return spec["value"] if isinstance(spec, dict) else str(spec)


def _span_or_members(body) -> list[str]:
    members = []
    for c in body.get("clauses") or []:
        ck, cb = _one(c)
        if ck != "span_term":
            raise UnsupportedDSL("span_or supports span_term clauses only")
        members.append(_span_term_value(cb))
    if not members:
        raise UnsupportedDSL("span_or needs at least one span_term clause")
    return members


def _span_clause(c: dict):
    """One span clause → a span_term text or a span_or member list (the
    engine-level clause currency of ``query._span_plan``)."""
    ck, cb = _one(c)
    if ck == "span_term":
        return _span_term_value(cb)
    if ck == "span_or":
        return _span_or_members(cb)
    raise UnsupportedDSL(
        f"span clauses support span_term / span_or, got {ck!r}"
    )


def _as_list(v) -> list[str]:
    return v if isinstance(v, list) else [v]


def _score_sort(sort_spec) -> bool:
    """True when ``sort`` is the score order (["_score"] or
    [{"_score": {"order": "desc"}}]); ascending score is rejected."""
    if not sort_spec or len(sort_spec) != 1:
        return False
    item = sort_spec[0]
    if item == "_score":
        return True
    if isinstance(item, dict) and len(item) == 1 and next(iter(item)) == "_score":
        order = item["_score"]
        order = order.get("order", "desc") if isinstance(order, dict) else str(order)
        if order != "desc":
            raise UnsupportedDSL("sort by _score supports desc only (the ES default)")
        return True
    return False


def _score_after(body: dict, from_: int) -> tuple[float, int] | None:
    """The (score, doc_id) cursor for score-order search_after."""
    sa = body.get("search_after")
    if not sa:
        return None
    if from_:
        raise UnsupportedDSL("from cannot combine with search_after (ES contract)")
    if len(sa) != 2:
        raise UnsupportedDSL(
            "score-order search_after needs exactly [score, doc_id] "
            "(the previous page's last hit's sort values)"
        )
    return (float(sa[0]), int(sa[1]))


_RESCORE_MODES = {
    "total": lambda p, s: p + s,
    "multiply": lambda p, s: p * s,
    "avg": lambda p, s: (p + s) / 2.0,
    "max": max,
    "min": min,
}
_ALL_HITS = (1 << 31) - 1  # java-int-safe "every matching doc" k


def _rescore_window(specs: list) -> int:
    return max(int(sp.get("window_size", 10)) for sp in specs)


def _apply_rescore(s: Searcher, rows: list, rescore) -> list:
    """ES query rescorer (Lucene QueryRescorer semantics): re-rank the top
    ``window_size`` hits by combining the primary score with a secondary
    query's score per ``score_mode`` — the canonical shape is a cheap bag-
    of-words match ranked first with a positional match_phrase refining
    the head. Secondary scores come from ONE uncapped scoring pass (the
    same pruned posting scan as that query's own top-k — no per-candidate
    probes); window docs that don't match the rescore query keep
    query_weight·primary (ES contract); hits beyond the window are
    untouched. A list of rescorers applies in sequence (ES multi-rescore)."""
    specs = rescore if isinstance(rescore, list) else [rescore]
    for spec in specs:
        window = int(spec.get("window_size", 10))
        rq_spec = spec.get("query") or {}
        rq = rq_spec.get("rescore_query")
        if rq is None:
            raise UnsupportedDSL("rescore needs query.rescore_query")
        qw = float(rq_spec.get("query_weight", 1.0))
        rw = float(rq_spec.get("rescore_query_weight", 1.0))
        mode = str(rq_spec.get("score_mode", "total"))
        if mode not in _RESCORE_MODES:
            raise UnsupportedDSL(
                f"rescore score_mode {mode!r} (supported: "
                f"{sorted(_RESCORE_MODES)})"
            )
        combine = _RESCORE_MODES[mode]
        kind, val = _one(rq)
        if not isinstance(val, dict):
            raise UnsupportedDSL("rescore_query clause must be an object")
        _field, v = _one(val)
        text = v["query"] if isinstance(v, dict) else str(v)
        if kind == "match_phrase":
            rsc = dict(s.phrase_rows(
                text, _ALL_HITS,
                slop=int(v.get("slop", 0)) if isinstance(v, dict) else 0,
            ))
        elif kind == "match":
            rsc = dict(s.search_rows(text, _ALL_HITS, prune=False))
        else:
            raise UnsupportedDSL(
                "rescore_query supports match / match_phrase"
            )
        head = [
            (d, combine(qw * sc, rw * rsc[d]) if d in rsc else qw * sc)
            for d, sc in rows[:window]
        ]
        head.sort(key=lambda t: (-t[1], t[0]))
        rows = head + rows[window:]
    return rows


def _parse_function_score(body: dict) -> dict:
    """ES function_score, the field_value_factor subset (the common
    "boost by popularity/recency-field" shape): one field_value_factor
    (+ optional weight), boost_mode multiply/sum/replace. score-combining
    of multiple functions, decay functions, random_score, and
    script_score are not emulated."""
    fvf = body.get("field_value_factor")
    if fvf is None and body.get("functions"):
        fns = body["functions"]
        if len(fns) == 1 and "field_value_factor" in fns[0]:
            fvf = fns[0]["field_value_factor"]
    if fvf is None:
        raise UnsupportedDSL(
            "function_score supports field_value_factor (inline or as the "
            "single functions entry)"
        )
    mod = str(fvf.get("modifier", "none"))
    if mod not in _FVF_MODIFIERS:
        raise UnsupportedDSL(
            f"field_value_factor modifier {mod!r} (supported: "
            f"{sorted(_FVF_MODIFIERS)})"
        )
    bm = str(body.get("boost_mode", "multiply"))
    if bm not in ("multiply", "sum", "replace"):
        raise UnsupportedDSL(
            f"function_score boost_mode {bm!r} (multiply/sum/replace)"
        )
    return {
        "query": body.get("query"),
        "field": fvf["field"],
        "factor": float(fvf.get("factor", 1.0)),
        "modifier": mod,
        "missing": fvf.get("missing"),
        "weight": float(body.get("weight", 1.0)),
        "boost_mode": bm,
    }


_FVF_MODIFIERS = {
    # ES: log-prefixed modifiers are base-10, ln-prefixed natural
    "none": lambda x: x,
    "log1p": lambda x: math.log10(1.0 + x),
    "ln1p": lambda x: math.log(1.0 + x),
    "sqrt": lambda x: math.sqrt(x),
    "square": lambda x: x * x,
    "reciprocal": lambda x: 1.0 / x,
}


def _clause_scores(s: Searcher, clause: dict) -> dict[int, float]:
    """Full matching set + BM25 scores for one compound-query sub-clause
    (dis_max / boosting / function_score primaries). Exactness over
    top-k needs the FULL per-clause sets (the rescorer's pattern —
    serving kernels, zero Spark jobs; per-clause cost is the clause's
    posting traversal, same as running it alone uncapped)."""
    kind, val = _one(clause)
    if kind == "match":
        _f, v = _one(val)
        text = v["query"] if isinstance(v, dict) else str(v)
        if _f not in MAIN_FIELDS:
            # side-field match ≡ single-field multi_match (never silently
            # search the main field instead)
            return dict(s.multi_match_rows(text, [_f], _ALL_HITS))
        return dict(s.search_rows(text, _ALL_HITS, prune=False))
    if kind == "match_phrase":
        _f, v = _one(val)
        if _f not in MAIN_FIELDS:
            raise UnsupportedDSL(
                "compound match_phrase supports the main text field only "
                "(side fields carry no positions)"
            )
        text = v["query"] if isinstance(v, dict) else str(v)
        slop = int(v.get("slop", 0)) if isinstance(v, dict) else 0
        return dict(s.phrase_rows(text, _ALL_HITS, slop=slop))
    if kind == "multi_match":
        return dict(s.multi_match_rows(
            val["query"], list(val["fields"]), _ALL_HITS,
            type=val.get("type", "best_fields"),
        ))
    raise UnsupportedDSL(
        f"compound sub-clause {kind!r} (supported: match, match_phrase, "
        f"multi_match)"
    )


def _dis_max_rows(s: Searcher, spec: dict) -> list[tuple[int, float]]:
    """ES dis_max: score = best sub-query score + tie_breaker × the other
    matching sub-queries' scores; a doc matches if any sub-query does."""
    subs = [_clause_scores(s, q) for q in spec["queries"]]
    tb = spec["tie_breaker"]
    ids: set[int] = set().union(*subs) if subs else set()
    rows = []
    for d in ids:
        scs = [m[d] for m in subs if d in m]
        mx = max(scs)
        rows.append((d, mx + tb * (sum(scs) - mx)))
    rows.sort(key=lambda t: (-t[1], t[0]))
    return rows


def _boosting_rows(s: Searcher, spec: dict) -> list[tuple[int, float]]:
    """ES boosting: positive hits keep their score unless they also match
    the negative clause, which multiplies by negative_boost (demote, not
    exclude — the anti-join stays must_not's job)."""
    pos = _clause_scores(s, spec["positive"])
    neg = _clause_scores(s, spec["negative"])
    nb = spec["negative_boost"]
    rows = [(d, sc * (nb if d in neg else 1.0)) for d, sc in pos.items()]
    rows.sort(key=lambda t: (-t[1], t[0]))
    return rows


def _fscore_rows(s: Searcher, spec: dict) -> list[tuple[int, float]]:
    """ES function_score with field_value_factor: fv = modifier(factor ×
    doc[field]) × weight, combined with the query score by boost_mode.
    Field values resolve through the bucket-pruned docstore for the FULL
    matching set (ranking changes, so top-k can't pre-truncate)."""
    if spec["query"] is None:
        raise UnsupportedDSL("function_score needs a scoring query")
    base = _clause_scores(s, spec["query"])
    if not base:
        return []
    meta = s._lookup_docs(list(base))
    mod = _FVF_MODIFIERS[spec["modifier"]]
    rows = []
    for d, sc in base.items():
        v = (meta.get(d) or {}).get(spec["field"])
        if v is None:
            v = spec["missing"]
        if v is None:
            raise ValueError(
                f"function_score: doc {d} misses field {spec['field']!r} "
                f"and no 'missing' value is set (ES errors here too)"
            )
        fv = mod(spec["factor"] * float(v)) * spec["weight"]
        bm = spec["boost_mode"]
        rows.append((d, sc * fv if bm == "multiply" else (sc + fv if bm == "sum" else fv)))
    rows.sort(key=lambda t: (-t[1], t[0]))
    return rows


def _parse_rank_feature(body: dict) -> dict:
    """ES ``rank_feature``: score docs by a stored positive-numeric
    feature column through saturation (default) / log / sigmoid / linear.
    Documented difference vs ES: ES stores rank_feature values with 9-bit
    float precision (``RankFeatureFieldMapper``), so its scores are
    quantized; ours are exact over the stored column."""
    field = body.get("field")
    if not field:
        raise UnsupportedDSL("rank_feature needs a field")
    fns = [k for k in ("saturation", "log", "sigmoid", "linear") if k in body]
    if len(fns) > 1:
        raise UnsupportedDSL(
            f"rank_feature takes at most one scoring function (got {fns})"
        )
    fn = fns[0] if fns else "saturation"
    params = body.get(fn) or {}
    spec: dict[str, Any] = {
        "kind": "rank", "field": str(field), "fn": fn,
        "boost": float(body.get("boost", 1.0)),
    }
    if fn == "saturation":
        # absent pivot → ES computes it from index stats (we use the
        # geometric mean of the positive feature values, resolved lazily)
        spec["pivot"] = float(params["pivot"]) if "pivot" in params else None
    elif fn == "log":
        if "scaling_factor" not in params:
            raise UnsupportedDSL("rank_feature log needs scaling_factor")
        spec["scaling_factor"] = float(params["scaling_factor"])
    elif fn == "sigmoid":
        if "pivot" not in params or "exponent" not in params:
            raise UnsupportedDSL("rank_feature sigmoid needs pivot and exponent")
        spec["pivot"] = float(params["pivot"])
        spec["exponent"] = float(params["exponent"])
    return spec


_DURATION_MS = {
    "ms": 1.0, "s": 1000.0, "m": 60_000.0, "h": 3_600_000.0,
    "d": 86_400_000.0, "w": 7 * 86_400_000.0,
}


def _duration_ms(val) -> float:
    """A distance_feature pivot: a bare number passes through (numeric
    fields use the field's own units); an ES time-unit string ("7d",
    "24h", "30m", "10s", "500ms") converts to epoch milliseconds."""
    if isinstance(val, (int, float)):
        return float(val)
    s = str(val).strip()
    for suffix in sorted(_DURATION_MS, key=len, reverse=True):
        if s.endswith(suffix):
            return float(s[: -len(suffix)]) * _DURATION_MS[suffix]
    return float(s)


def _epoch_ms(val) -> tuple[float, bool]:
    """A distance_feature origin → (value, is_temporal). Numbers pass
    through; ISO-8601 date/datetime strings become epoch milliseconds."""
    if isinstance(val, (int, float)):
        return float(val), False
    from datetime import datetime, timezone

    dt = datetime.fromisoformat(str(val).replace("Z", "+00:00"))
    if dt.tzinfo is None:
        dt = dt.replace(tzinfo=timezone.utc)
    return dt.timestamp() * 1000.0, True


def _parse_distance_feature(body: dict) -> dict:
    """ES ``distance_feature``: score = boost × pivot / (pivot +
    |value − origin|) over a stored numeric or date column (geo_point
    origins are unsupported — no geo columns in this engine)."""
    for k in ("field", "origin", "pivot"):
        if k not in body:
            raise UnsupportedDSL("distance_feature needs field, origin, pivot")
    origin, temporal = _epoch_ms(body["origin"])
    pivot = _duration_ms(body["pivot"])
    if pivot <= 0:
        raise UnsupportedDSL("distance_feature pivot must be positive")
    return {
        "kind": "distance", "field": str(body["field"]),
        "origin": origin, "pivot": pivot, "temporal": temporal,
        "boost": float(body.get("boost", 1.0)),
    }


def _rf_contribution(spec: dict, v) -> float:
    """Python-scalar feature score for one doc's stored value (the
    boost-in-bool path; mirrors the JVM column expression bit-for-bit:
    both sides are float64 all the way)."""
    if v is None:
        return 0.0
    import datetime as _dt

    if isinstance(v, _dt.datetime):
        tz = v if v.tzinfo else v.replace(tzinfo=_dt.timezone.utc)
        v = tz.timestamp() * 1000.0
    elif isinstance(v, _dt.date):
        v = _dt.datetime(v.year, v.month, v.day, tzinfo=_dt.timezone.utc).timestamp() * 1000.0
    v = float(v)
    if spec["kind"] == "distance":
        return spec["boost"] * spec["pivot"] / (spec["pivot"] + abs(v - spec["origin"]))
    if v <= 0:
        return 0.0  # ES: rank_feature fields hold positive values only
    fn = spec["fn"]
    if fn == "saturation":
        return spec["boost"] * v / (v + spec["pivot"])
    if fn == "log":
        return spec["boost"] * math.log(spec["scaling_factor"] + v)
    if fn == "sigmoid":
        vp = v ** spec["exponent"]
        return spec["boost"] * vp / (vp + spec["pivot"] ** spec["exponent"])
    return spec["boost"] * v  # linear


def _rf_feature_col(store: DataFrame, spec: dict):
    """(match-condition, score-contribution) JVM column pair for one
    rank/distance feature spec over the docstore scan."""
    from pyspark.sql import functions as F

    field = spec["field"]
    if field not in store.columns:
        raise UnsupportedDSL(
            f"rank_feature/distance_feature field {field!r} is not a "
            f"stored column"
        )
    dtype = dict(store.dtypes)[field]
    if dtype == "date":
        # Spark disallows a direct DateType→double cast — go through
        # timestamp (midnight UTC), then epoch seconds → ms
        col = F.col(field).cast("timestamp").cast("double") * F.lit(1000.0)
    elif dtype.startswith("timestamp"):
        col = F.col(field).cast("double") * F.lit(1000.0)  # epoch s → ms
    else:
        col = F.col(field).cast("double")
    if spec["kind"] == "distance":
        cond = F.col(field).isNotNull()
        contrib = (
            F.lit(spec["boost"]) * F.lit(spec["pivot"])
            / (F.lit(spec["pivot"]) + F.abs(col - F.lit(spec["origin"])))
        )
        return cond, contrib
    cond = F.col(field).isNotNull() & (col > 0)
    fn = spec["fn"]
    if fn == "saturation":
        contrib = F.lit(spec["boost"]) * col / (col + F.lit(spec["pivot"]))
    elif fn == "log":
        contrib = F.lit(spec["boost"]) * F.log(F.lit(spec["scaling_factor"]) + col)
    elif fn == "sigmoid":
        vp = F.pow(col, F.lit(spec["exponent"]))
        contrib = F.lit(spec["boost"]) * vp / (
            vp + F.lit(spec["pivot"] ** spec["exponent"])
        )
    else:
        contrib = F.lit(spec["boost"]) * col
    return cond, contrib


def _resolve_rf_pivots(spark, out_dir: str, specs: list[dict]) -> None:
    """Fill absent saturation pivots with the geometric mean of the
    positive feature values (ES computes its default pivot from index
    feature stats the same way — approximately; ours is the exact mean
    over the live docstore, one column-pruned agg per field)."""
    from pyspark.sql import functions as F

    from .query import _docstore_scan

    todo = [s for s in specs
            if s["kind"] == "rank" and s["fn"] == "saturation" and s["pivot"] is None]
    if not todo:
        return
    store = _docstore_scan(spark, out_dir)
    for spec in todo:
        field = spec["field"]
        if field not in store.columns:
            raise UnsupportedDSL(
                f"rank_feature field {field!r} is not a stored column"
            )
        col = F.col(field).cast("double")
        row = store.where(col > 0).agg(F.exp(F.avg(F.log(col)))).first()
        gm = row[0] if row else None
        if gm is None:
            raise UnsupportedDSL(
                f"rank_feature saturation over {field!r} has no positive "
                f"values to derive a default pivot from — set pivot"
            )
        spec["pivot"] = float(gm)


def _rank_feature_scored(spark, out_dir: str, specs: list[dict]) -> DataFrame:
    """Standalone rank_feature/distance_feature matching set, scored: one
    column-pruned docstore scan, score = Σ feature functions (JVM
    expressions end to end), a doc matches if ANY feature field is
    present (ES should-semantics). Distributed — top-k and counts bound
    what reaches the driver."""
    import functools

    from pyspark.sql import functions as F

    from .query import _docstore_scan

    _resolve_rf_pivots(spark, out_dir, specs)
    store = _docstore_scan(spark, out_dir)
    pairs = [_rf_feature_col(store, s) for s in specs]
    match = functools.reduce(lambda a, b: a | b, (c for c, _ in pairs))
    score = functools.reduce(
        lambda a, b: a + b,
        (F.when(c, x).otherwise(F.lit(0.0)) for c, x in pairs),
    )
    return store.where(match).select("doc_id", score.alias("score"))


def _rank_feature_topk(
    spark, out_dir: str, specs: list[dict], k: int,
) -> tuple[list[tuple[int, float]], int]:
    """(top-k rows desc by score, exact matching-set total) for the
    standalone feature-query path. Two bounded jobs: a TakeOrdered top-k
    and a distributed count — nothing corpus-sized hits the driver."""
    scored = _rank_feature_scored(spark, out_dir, specs)
    from pyspark.sql import functions as F

    top = scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k).collect()
    total = scored.count()
    return [(int(r[0]), float(r[1])) for r in top], int(total)


def _apply_rf_boosts(
    spark, out_dir: str, base: dict[int, float], specs: list[dict],
) -> list[tuple[int, float]]:
    """rank_feature/distance_feature inside ``bool.should`` alongside a
    scoring/filtering base: ES adds the feature score to matching docs
    (features never shrink or grow the matching set in should position).
    Ranking changes post-hoc, so the base must be the FULL matching set
    (the rescorer/compound pattern); feature values resolve through the
    bucket-pruned docstore for exactly those docs."""
    from .build import lookup_docs

    _resolve_rf_pivots(spark, out_dir, specs)
    if not base:
        return []
    meta = lookup_docs(out_dir, list(base))
    rows = []
    for d, sc in base.items():
        m = meta.get(d) or {}
        rows.append((d, sc + sum(_rf_contribution(s, m.get(s["field"])) for s in specs)))
    rows.sort(key=lambda t: (-t[1], t[0]))
    return rows


def _script_score_rows(s: Searcher, spec: dict) -> list[tuple[int, float]]:
    """ES script_score: every matching doc re-scored by the painless-
    subset script (``doc['f'].value`` docstore refs, ``params.*``, and
    ``_score`` = the query's BM25 score). Ranking changes post-hoc, so
    the base is the FULL matching set (the compound pattern) + one
    bucket-pruned docstore lookup. Negative scores raise, like ES; the
    body-level ``min_score`` drops docs below the floor."""
    from .query import eval_doc_script

    base = _clause_scores(s, spec["query"])
    if not base:
        return []
    meta = s._lookup_docs(list(base))
    rows = []
    floor = spec.get("min_score")
    for d, sc in base.items():
        params = {**spec["params"], "_score": float(sc)}
        v = eval_doc_script(spec["node"], params, dict(meta.get(d) or {}))
        if v is None:
            raise ValueError(
                f"script_score: doc {d} is missing a script operand "
                f"(ES errors here too — guard with a 'missing'-style param)"
            )
        v = float(v)
        if v < 0:
            raise ValueError(
                "script_score must not produce negative scores (ES contract)"
            )
        if floor is not None and v < float(floor):
            continue
        rows.append((d, v))
    rows.sort(key=lambda t: (-t[1], t[0]))
    return rows


def _phrase_prefix_rows(
    s: Searcher, out_dir: str, spec: dict
) -> list[tuple[int, float]]:
    """ES match_phrase_prefix: the last token expands to up to
    ``max_expansions`` dictionary terms (term order, the ES/Lucene
    selection) and the phrase must match with one of them in final
    position. Documented simplification vs Lucene's synonym-position
    scoring: each expansion scores as its own exact phrase and a doc
    keeps its best expansion's score."""
    from .query import expansion_candidates

    from .build import KEYWORD_SEP

    toks = [t for t in (spec["text"] or "").lower().split() if t]
    if not toks:
        return []
    pdf = expansion_candidates(out_dir, "prefix", toks[-1])
    if len(pdf):
        # keyword-field postings (field␟value) are filters, not words
        pdf = pdf[~pdf["term"].str.contains(KEYWORD_SEP, regex=False, na=False)]
    cands = sorted(pdf["term"].tolist())[: spec["max_expansions"]]
    best: dict[int, float] = {}
    for c in cands:
        for d, sc in s.phrase_rows(" ".join(toks[:-1] + [c]), _ALL_HITS):
            if sc > best.get(d, float("-inf")):
                best[d] = sc
    return sorted(best.items(), key=lambda t: (-t[1], t[0]))


def _knn_search(
    spark: SparkSession, out_dir: str, body: dict,
) -> dict:
    """ES kNN search (the top-level ``knn`` section): exact cosine top-k
    over a stored ``array<float>`` docstore column, hits scored ES-style
    (1 + cos) / 2. The exact scan IS the ES-parity baseline (ES's HNSW is
    approximate; `operators.similarity` carries the IVF/LSH scale paths —
    swap them in per-collection when the corpus outgrows brute force);
    ``num_candidates`` is accepted and ignored by the exact scan. Runs
    distributed (one matmul-shaped scan, no driver collect before top-k)."""
    from ..operators.similarity import cosine_topk
    from .build import load_stats
    from .query import _docstore_scan

    for clash in ("query", "aggs", "sort", "collapse", "rescore", "suggest"):
        if body.get(clash):
            raise UnsupportedDSL(
                f"knn does not compose with {clash!r} here — send it alone"
            )
    spec = body["knn"]
    field = str(spec["field"])
    qv = [float(x) for x in spec["query_vector"]]
    k = int(spec.get("k", 10))
    store = _docstore_scan(spark, out_dir)
    if field not in store.columns:
        raise UnsupportedDSL(f"knn field {field!r} is not a stored column")
    if spec.get("filter") is not None:
        # ES kNN pre-filter: the filter restricts the candidate set BEFORE
        # the vector search (never post-filters the top-k short). Resolved
        # distributed — filter-context clauses → matching ids → one
        # bucket-local semi-join against the vector scan.
        from .query import bool_doc_ids

        fplan = parse_query(
            {"bool": {"filter": _as_list(spec["filter"])}},
            analyzer=load_stats(out_dir).get("analyzer"),
            out_dir=out_dir,
        )
        ids = bool_doc_ids(
            spark, out_dir, "", must_not=fplan["must_not"],
            filters=fplan["filters"] or None, ranges=fplan["ranges"] or None,
            or_groups=fplan["or_groups"] or None,
            not_atoms=fplan["not_atoms"] or None,
        )
        store = store.join(ids, "doc_id", "left_semi")
    top = cosine_topk(store, qv, k, id_col="doc_id", vec_col=field).collect()
    hits = [
        {"_id": int(r[0]), "_score": (1.0 + float(r[1])) / 2.0} for r in top
    ]
    if body.get("_source"):
        from .build import lookup_docs

        meta = lookup_docs(out_dir, [h["_id"] for h in hits])
        for h in hits:
            if h["_id"] in meta:
                h["_source"] = {
                    kk: v for kk, v in meta[h["_id"]].items()
                    if kk not in ("bucket", "run")
                }
    return {"hits": {"total": {"value": len(hits), "relation": "eq"}, "hits": hits}}


def _rrf_search(spark: SparkSession, out_dir: str, body: dict, s: Searcher) -> dict:
    """ES ``retriever: {rrf: ...}`` — reciprocal rank fusion over two or
    more sub-retrievers (the hybrid lexical+vector search shape ES 8.x
    ships): each sub-retriever independently ranks its top
    ``rank_window_size`` hits, then every doc scores
    Σ 1/(rank_constant + rank_i) over the lists it appears in (rank is
    1-based, ES's formula) and the fused ranking pages by from/size.
    Sub-retrievers: ``standard`` (any supported request-body query — runs
    through ``search_body`` itself, so bool/phrase/filter shapes all
    compose) and ``knn`` (exact cosine over a stored vector column —
    ``_knn_search``). Each sub-retriever's cost is its own top-window
    query; the fusion itself is O(window × retrievers) driver arithmetic."""
    for clash in ("query", "knn", "aggs", "sort", "collapse", "rescore",
                  "suggest", "search_after", "pit", "min_score", "explain",
                  "track_total_hits"):
        if body.get(clash):
            raise UnsupportedDSL(
                f"retriever does not compose with {clash!r} (fused ranks "
                f"have no single query context)"
            )
    kind, spec = _one(body["retriever"])
    if kind == "standard":
        # a lone standard retriever IS its query
        return search_body(
            spark, out_dir,
            {"query": spec.get("query"), "size": int(body.get("size", 10)),
             "from": int(body.get("from", 0)),
             "_source": body.get("_source", False)},
            searcher=s,
        )
    if kind != "rrf":
        raise UnsupportedDSL(f"retriever {kind!r} (supported: rrf, standard)")
    subs = spec.get("retrievers") or []
    if len(subs) < 2:
        raise UnsupportedDSL("rrf needs at least two retrievers")
    rank_const = int(spec.get("rank_constant", 60))
    window = int(spec.get("rank_window_size", 10))
    if rank_const < 1 or window < 1:
        raise UnsupportedDSL("rrf rank_constant and rank_window_size must be >= 1")
    ranked: list[list[int]] = []
    for sub in subs:
        skind, sbody = _one(sub)
        if skind == "standard":
            resp = search_body(
                spark, out_dir, {"query": sbody.get("query"), "size": window},
                searcher=s,
            )
            ranked.append([int(h["_id"]) for h in resp["hits"]["hits"]])
        elif skind == "knn":
            resp = _knn_search(spark, out_dir, {"knn": {**sbody, "k": window}})
            ranked.append([int(h["_id"]) for h in resp["hits"]["hits"]])
        else:
            raise UnsupportedDSL(
                f"rrf sub-retriever {skind!r} (supported: standard, knn)"
            )
    fused: dict[int, float] = {}
    for lst in ranked:
        for r, d in enumerate(lst, start=1):
            fused[d] = fused.get(d, 0.0) + 1.0 / (rank_const + r)
    rows = sorted(fused.items(), key=lambda t: (-t[1], t[0]))
    size = int(body.get("size", 10))
    from_ = int(body.get("from", 0))
    hits = [
        {"_id": int(d), "_score": float(sc)} for d, sc in rows[from_ : from_ + size]
    ]
    if body.get("_source"):
        meta = s._lookup_docs([h["_id"] for h in hits])
        for h in hits:
            if h["_id"] in meta:
                h["_source"] = {
                    kk: v for kk, v in meta[h["_id"]].items()
                    if kk not in ("bucket", "run")
                }
    return {
        "hits": {"total": {"value": len(rows), "relation": "eq"}, "hits": hits}
    }


def _parse_hit_fields(body: dict) -> tuple[dict, list]:
    """Request-level ``script_fields`` / ``fields`` / ``runtime_mappings``
    → per-hit field plans. script_fields = {name: (ast, params)};
    fields = [(name, "stored", col) | (name, "runtime", (ast, params))].
    Scripts are the painless subset with ``doc['f'].value`` refs
    (``query._parse_script``); a field listed in ``fields`` that is
    neither a stored column nor a runtime mapping is omitted per hit, the
    ES behavior for absent fields."""
    from .query import _parse_script

    def _node(spec) -> tuple:
        sc = spec.get("script") if isinstance(spec, dict) else None
        if sc is None:
            raise UnsupportedDSL("script_fields / runtime fields need a script")
        src = sc["source"] if isinstance(sc, dict) else str(sc)
        params = (sc.get("params") or {}) if isinstance(sc, dict) else {}
        try:
            return _parse_script(src), dict(params)
        except ValueError as e:
            raise UnsupportedDSL(str(e)) from None

    script_fields = {
        str(name): _node(spec)
        for name, spec in (body.get("script_fields") or {}).items()
    }
    runtime = {
        str(name): _node(spec)
        for name, spec in (body.get("runtime_mappings") or {}).items()
    }
    fields_req: list[tuple] = []
    for item in body.get("fields") or []:
        name = str(item["field"] if isinstance(item, dict) else item)
        if name in runtime:
            fields_req.append((name, "runtime", runtime[name]))
        else:
            fields_req.append((name, "stored", name))
    return script_fields, fields_req


def _hit_field_values(script_fields: dict, fields_req: list, row: dict) -> dict:
    """One hit's ``fields`` section (ES shape: name → [value]). Internal
    docstore bookkeeping columns stay hidden, like _source filtering."""
    from .query import eval_doc_script

    out: dict[str, list] = {}
    for name, (node, params) in script_fields.items():
        v = eval_doc_script(node, params, row)
        if v is not None:
            out[name] = [v]
    for name, kind, payload in fields_req:
        if kind == "stored":
            if payload in ("bucket", "run"):
                continue
            v = row.get(payload)
        else:
            v = eval_doc_script(payload[0], payload[1], row)
        if v is not None:
            out[name] = [v]
    return out


def _suggest_section(s: Searcher, spec: dict) -> dict:
    """The request-level "suggest" block: named term-suggester entries
    ({"text": ..., "term": {knobs}}), phrase-suggester entries
    ({"text": ..., "phrase": {knobs}} — stupid-backoff bigram LM over the
    positional index, see ``Searcher.phrase_suggest``), and
    completion-suggester entries ({"prefix": ..., "completion": {knobs}}
    — top-df dictionary completions via the sorted term_index, ES's
    suggest-as-you-type shape) → ES-shaped response section."""
    from .query import term_suggest

    out_dir = s.out_dir
    out = {}
    for name, body in spec.items():
        if not isinstance(body, dict) or not (
            {"term", "phrase", "completion"} & set(body)
        ):
            raise UnsupportedDSL(
                f"suggest {name!r}: term, phrase, and completion "
                "suggesters are supported"
            )
        if "completion" in body:
            c = body["completion"]
            prefix = str(body.get("prefix", body.get("text", "")))
            opts = s.suggest(prefix, int(c.get("size", 5)))
            out[name] = [{
                "text": prefix,
                "offset": 0,
                "length": len(prefix),
                "options": [
                    # ES completion options carry _score (we surface df —
                    # the popularity signal the dictionary has)
                    {"text": t, "_score": float(df)} for t, df in opts
                ],
            }]
            continue
        if "phrase" in body:
            t = body["phrase"]
            out[name] = s.phrase_suggest(
                str(body.get("text", "")),
                size=int(t.get("size", 5)),
                max_errors=int(t.get("max_errors", 1)),
                confidence=float(t.get("confidence", 1.0)),
                discount=float(
                    (t.get("smoothing") or {}).get("stupid_backoff", {})
                    .get("discount", 0.4)
                ),
            )
            continue
        t = body["term"]
        out[name] = term_suggest(
            out_dir, str(body.get("text", "")),
            size=int(t.get("size", 5)),
            max_edits=int(t.get("max_edits", 2)),
            prefix_length=int(t.get("prefix_length", 1)),
            min_word_length=int(t.get("min_word_length", 4)),
            suggest_mode=str(t.get("suggest_mode", "missing")),
        )
    return out


def msearch(
    spark: SparkSession, out_dir: str, requests: list[dict], *,
    searcher: Searcher | None = None,
) -> list[dict]:
    """ES ``_msearch``: a batch of request bodies against one index (the
    header line's index routing collapses to ``out_dir`` here), each
    evaluated exactly like ``search_body`` against the SAME warm searcher.
    A failing body yields an ``{"error": ...}`` slot instead of failing
    the batch — the ES contract (responses align 1:1 with requests)."""
    s = searcher if searcher is not None and searcher.out_dir == out_dir \
        else Searcher(spark, out_dir)
    out: list[dict] = []
    for body in requests:
        try:
            out.append(search_body(spark, out_dir, body, searcher=s))
        except (UnsupportedDSL, ValueError) as e:
            out.append(
                {"error": {"type": type(e).__name__, "reason": str(e)}}
            )
    return out


def msearch_template(
    spark: SparkSession, out_dir: str, requests: list[dict], *,
    searcher: Searcher | None = None, scripts_dir: str | None = None,
) -> list[dict]:
    """ES ``_msearch/template``: a batch of template requests (inline
    source or stored id), per-slot error isolation like ``msearch``."""
    s = searcher if searcher is not None and searcher.out_dir == out_dir \
        else Searcher(spark, out_dir)
    out: list[dict] = []
    for req in requests:
        try:
            out.append(search_template_body(
                spark, out_dir, req, searcher=s, scripts_dir=scripts_dir,
            ))
        except (UnsupportedDSL, ValueError, KeyError) as e:
            out.append(
                {"error": {"type": type(e).__name__, "reason": str(e)}}
            )
    return out


def render_template_body(
    request: dict, *, scripts_dir: str | None = None,
) -> dict:
    """ES ``_render/template``: show what a template request would send —
    {"template_output": <rendered body>} — without executing it."""
    src = request.get("source", request.get("template"))
    if src is None and request.get("id") is not None:
        if scripts_dir is None:
            raise UnsupportedDSL(
                "a stored template ({'id': ...}) needs scripts_dir"
            )
        src = get_script(scripts_dir, str(request["id"]))["script"]["source"]
    if src is None:
        raise UnsupportedDSL("render template needs source (or template/id)")
    return {"template_output": render_search_template(src, request.get("params"))}


def mtermvectors(
    spark: SparkSession, out_dir: str, ids: list[int], *,
    term_statistics: bool = False, searcher: Searcher | None = None,
) -> dict:
    """ES ``_mtermvectors``: bulk realtime term vectors — one warm
    Searcher, per-doc ``found: false`` slots for missing/deleted docs
    (the ES contract: docs align 1:1 with the request ids)."""
    s = searcher if searcher is not None and searcher.out_dir == out_dir \
        else Searcher(spark, out_dir)
    return {
        "docs": [
            s.termvectors(int(d), term_statistics=term_statistics)
            for d in ids
        ]
    }


def explain_doc_body(
    spark: SparkSession, out_dir: str, doc_id: int, body: dict, *,
    searcher: Searcher | None = None,
) -> dict:
    """ES ``GET /<index>/_explain/<id>``: why (and how) ONE document
    scores against a query body — the per-hit BM25 decomposition
    (``Searcher.explain``), or matched:false with the reason. Scored
    match/bool shapes (the explain kernel's contract)."""
    s = searcher if searcher is not None and searcher.out_dir == out_dir \
        else Searcher(spark, out_dir)
    plan = parse_query(
        (body or {}).get("query"), analyzer=s.stats.get("analyzer"),
        out_dir=out_dir,
    )
    blocked = [
        k for k in ("phrase", "span_near", "terms_set", "nested", "mm",
                    "expand", "mlt", "ids", "dis_max", "boosting", "fscore",
                    "phrase_prefix", "rank_feature", "script_score", "pinned")
        if plan.get(k) is not None
    ]
    if blocked or plan["rf_boosts"] or plan["match_all"] or plan["match_none"]:
        raise UnsupportedDSL(
            "_explain supports relevance-ranked match/bool queries"
        )
    exp = s.explain(
        plan["query"], int(doc_id), must=plan["must"],
        must_not=plan["must_not"], min_should=plan["min_should"],
        filters=plan["filters"] or None, ranges=plan["ranges"] or None,
        or_groups=plan["or_groups"] or None,
        not_atoms=plan["not_atoms"] or None,
    )
    return {
        "_id": int(doc_id),
        "matched": bool(exp.get("matched", exp.get("value") is not None)),
        "explanation": exp,
    }


def validate_query_body(
    spark: SparkSession, out_dir: str, body: dict | None = None,
) -> dict:
    """ES ``_validate/query``: parse the request's query against this
    index's analyzer without running it — {"valid": true} or
    {"valid": false, "error": <reason>} (with ``explain: true``-style
    detail always included, the useful part). Anything this engine would
    reject at search time (UnsupportedDSL or malformed bodies) reports
    invalid with the reason an ES user needs to fix the request."""
    s = Searcher(spark, out_dir)
    try:
        parse_query(
            (body or {}).get("query"), analyzer=s.stats.get("analyzer"),
            out_dir=out_dir,
        )
    except UnsupportedDSL as e:
        return {"valid": False, "error": str(e)}
    except (KeyError, TypeError, ValueError) as e:
        return {"valid": False, "error": f"malformed query: {e!r}"}
    return {"valid": True}


def count_body(
    spark: SparkSession, out_dir: str, body: dict | None = None, *,
    searcher: Searcher | None = None,
) -> dict:
    """ES ``_count``: the exact matching-doc count of a query body — no
    hits, no aggs, no search phase; the ``track_total_hits`` machinery
    alone (distributed, uncapped — never a driver materialization). An
    absent/match_all query counts LIVE docs: the zero-job ledger count
    when the index has no tombstones; with tombstones, the exact
    distributed count over the deduped docstore minus fully deleted rows
    (the ledger alone cannot be exact once updates double-count versions
    — an updated doc sits in two runs while its tombstones cover only
    the old ones); a tombstoned index WITHOUT a docstore falls back to
    the ledger-minus-distinct-tombstoned approximation (exact for pure
    deletes, an undercount when updates upserted brand-new docs —
    carry a docstore, as every _source-serving API needs anyway)."""
    s = searcher if searcher is not None and searcher.out_dir == out_dir \
        else Searcher(spark, out_dir)
    q = (body or {}).get("query")
    if q is not None:
        q = _resolve_terms_lookups(q, s)
    plan = parse_query(q, analyzer=s.stats.get("analyzer"), out_dir=out_dir)
    if plan["match_none"]:
        return {"count": 0}
    filters = plan["filters"] or None
    ranges = plan["ranges"] or None
    or_groups = plan["or_groups"] or None
    not_atoms = plan["not_atoms"] or None
    if (
        plan["match_all"] and not plan["query"] and not plan["must"]
        and not plan["must_not"] and not filters and not ranges
        and not or_groups and not not_atoms
    ):
        if not s.stats.get("tombstone_runs"):
            return {"count": int(s.stats["n_docs"])}
        if os.path.isdir(os.path.join(out_dir, "docstore")):
            from .delete import drop_dead_store_rows
            from .query import _docstore_scan

            live = drop_dead_store_rows(
                spark, out_dir, _docstore_scan(spark, out_dir), s.stats
            )
            return {"count": int(live.count())}
        from .delete import n_tombstoned

        return {"count": int(s.stats["n_docs"]) - n_tombstoned(out_dir, s.stats)}
    return {
        "count": _exact_total(
            s, plan, filters, ranges, or_groups=or_groups, not_atoms=not_atoms,
        )
    }


def delete_by_query_body(
    spark: SparkSession, out_dir: str, body: dict, *, op_id: str,
) -> dict:
    """ES ``_delete_by_query`` with a request body: the query's FULL
    matching set (the shapes ``bool_doc_ids`` serves — match / bool /
    term / terms / range / exists / query_string filter contexts) is
    resolved distributed, uncapped, and tombstoned in one shot.
    ``op_id`` names the operation for idempotent retry (the reference's
    at-least-once delivery). Returns ``{"deleted": n}`` — matching DOC
    count, ES's number. Positional/expansion primaries (phrase, span,
    prefix…, more_like_this) are unsupported — delete those by ids."""
    from .delete import delete_docs
    from .query import bool_doc_ids

    s = Searcher(spark, out_dir)
    plan = parse_query(
        _resolve_terms_lookups((body or {}).get("query"), s),
        s.stats.get("analyzer"), out_dir=out_dir,
    )
    blocked = [
        k for k in ("phrase", "span_near", "terms_set", "nested", "mm", "expand",
                    "mlt", "ids", "dis_max", "boosting", "fscore",
                    "phrase_prefix", "rank_feature", "pinned")
        if plan.get(k) is not None
    ]
    if plan["rf_boosts"]:
        blocked.append("rank_feature")
    if blocked:
        raise UnsupportedDSL(
            f"delete_by_query supports match/bool/filter-context bodies "
            f"(got {blocked[0]})"
        )
    if plan["match_none"]:
        return {"deleted": 0}
    if (
        plan["match_all"] and not plan["query"] and not plan["must"]
        and not plan["filters"] and not plan["ranges"]
        and not plan["or_groups"] and not plan["must_not"]
    ):
        raise UnsupportedDSL(
            "delete_by_query with match_all would tombstone the whole "
            "index — drop the index dir instead"
        )
    hits = bool_doc_ids(
        spark, out_dir, plan["query"], must=plan["must"],
        must_not=plan["must_not"], min_should=plan["min_should"],
        filters=plan["filters"] or None, ranges=plan["ranges"] or None,
        or_groups=plan["or_groups"] or None,
        not_atoms=plan["not_atoms"] or None,
    ).localCheckpoint(eager=True)
    n = hits.count()
    if n:
        delete_docs(spark, out_dir, hits, op_id=op_id)
    return {"deleted": int(n)}


def _src_field(node) -> str | None:
    """``ctx._source.<field>`` attribute chain → field name (else None)."""
    import ast

    if (
        isinstance(node, ast.Attribute)
        and isinstance(node.value, ast.Attribute)
        and node.value.attr == "_source"
        and isinstance(node.value.value, ast.Name)
        and node.value.value.id == "ctx"
    ):
        return node.attr
    return None


def _parse_update_script(source: str) -> list[tuple[str, object]]:
    """ES painless SUBSET for ``_update_by_query`` scripts: ``;``-separated
    assignments ``ctx._source.<field> = <expr>`` where ``<expr>`` composes
    ``ctx._source.<field>`` references, ``params.<name>`` references,
    numeric/string literals, ``+ - * / %``, comparisons, ``&&``/``||``
    and parentheses. Statements apply IN ORDER (later ones see earlier
    results — painless sequential semantics). Validated python AST —
    anything outside the subset raises, never silently misparses."""
    import ast

    src = source.replace("&&", " and ").replace("||", " or ")
    try:
        tree = ast.parse(src, mode="exec")
    except SyntaxError as e:
        raise UnsupportedDSL(f"unsupported script {source!r}: {e}") from None
    ok_binop = (ast.Add, ast.Sub, ast.Mult, ast.Div, ast.Mod)
    ok_cmp = (ast.Gt, ast.GtE, ast.Lt, ast.LtE, ast.Eq, ast.NotEq)
    out: list[tuple[str, object]] = []
    for stmt in tree.body:
        if not (isinstance(stmt, ast.Assign) and len(stmt.targets) == 1):
            raise UnsupportedDSL(
                "update script statements must be "
                "'ctx._source.<field> = <expr>'"
            )
        tgt = _src_field(stmt.targets[0])
        if tgt is None:
            raise UnsupportedDSL(
                "update script may only assign ctx._source.<field>"
            )
        for node in ast.walk(stmt.value):
            if isinstance(node, (ast.Load, ast.Store)):
                continue
            if _src_field(node) is not None:
                continue
            if isinstance(node, ast.Attribute):
                base = node.value
                if node.attr == "_source" and isinstance(
                    base, ast.Name
                ) and base.id == "ctx":
                    continue
                if isinstance(base, ast.Name) and base.id == "params":
                    continue
                raise UnsupportedDSL(
                    f"unsupported script reference in {source!r}"
                )
            if isinstance(node, ast.Name) and node.id in ("ctx", "params"):
                continue
            if isinstance(node, ast.BinOp) and isinstance(node.op, ok_binop):
                continue
            if isinstance(node, ast.Compare) and all(
                isinstance(o, ok_cmp) for o in node.ops
            ):
                continue
            if isinstance(node, (ast.And, ast.Or, ast.BoolOp)):
                continue
            if isinstance(node, ast.UnaryOp) and isinstance(
                node.op, ast.USub
            ):
                continue
            if isinstance(node, ast.Constant) and isinstance(
                node.value, (int, float, str)
            ):
                continue
            if isinstance(node, (ast.Gt, ast.GtE, ast.Lt, ast.LtE, ast.Eq,
                                 ast.NotEq, ast.Add, ast.Sub, ast.Mult,
                                 ast.Div, ast.Mod, ast.USub)):
                continue
            raise UnsupportedDSL(
                f"unsupported script construct "
                f"{type(node).__name__} in {source!r}"
            )
        out.append((tgt, stmt.value))
    return out


def _update_col(node, params: dict):
    """Walk a ``_parse_update_script`` expression AST into a Spark Column:
    ``ctx._source.f`` → ``F.col(f)``, ``params.x`` → literal, arithmetic /
    comparison / boolean ops JVM-side — no Python UDF in the update path."""
    import ast

    from pyspark.sql import functions as F  # noqa: N812

    f = _src_field(node)
    if f is not None:
        return F.col(f)
    if isinstance(node, ast.Attribute):  # params.<name> (validated above)
        if node.attr not in params:
            raise UnsupportedDSL(f"script references missing param {node.attr!r}")
        return F.lit(params[node.attr])
    if isinstance(node, ast.Constant):
        return F.lit(node.value)
    if isinstance(node, ast.UnaryOp):
        return -_update_col(node.operand, params)
    if isinstance(node, ast.BinOp):
        left = _update_col(node.left, params)
        right = _update_col(node.right, params)
        op = node.op
        if isinstance(op, ast.Add):
            return left + right
        if isinstance(op, ast.Sub):
            return left - right
        if isinstance(op, ast.Mult):
            return left * right
        if isinstance(op, ast.Div):
            return left / right
        return left % right
    if isinstance(node, ast.Compare):
        left = _update_col(node.left, params)
        conds = []
        for op, cmp_ in zip(node.ops, node.comparators):
            right = _update_col(cmp_, params)
            conds.append(
                (left > right) if isinstance(op, ast.Gt)
                else (left >= right) if isinstance(op, ast.GtE)
                else (left < right) if isinstance(op, ast.Lt)
                else (left <= right) if isinstance(op, ast.LtE)
                else (left == right) if isinstance(op, ast.Eq)
                else (left != right)
            )
            left = right
        out = conds[0]
        for c in conds[1:]:
            out = out & c
        return out
    if isinstance(node, ast.BoolOp):
        import functools
        import operator as _op

        vals = [_update_col(v, params) for v in node.values]
        return functools.reduce(
            _op.and_ if isinstance(node.op, ast.And) else _op.or_, vals
        )
    raise UnsupportedDSL(f"unsupported script node {type(node).__name__}")


def update_by_query_body(
    spark: SparkSession, out_dir: str, body: dict, *, op_id: str,
    **index_kw,
) -> dict:
    """ES ``_update_by_query``: the query's FULL matching set (the same
    shapes ``delete_by_query_body`` serves; ``match_all``/empty allowed —
    the re-push-everything mapping-refresh idiom), each matching doc's
    STORED version mutated by the painless-subset script (compiled to JVM
    column expressions over the docstore scan) and re-pushed as an update:
    tombstone the old versions + append a delta run (``update_docs``), the
    new docstore rows winning every reader's latest-version resolution.
    Index settings replay from stats.json; extra analyzed/keyword columns
    pass through ``**index_kw``. Script targets must be EXISTING stored
    columns (delta docstore runs keep one schema — new fields would fork
    it) and values cast to the column's current type. Returns
    ``{"updated": n}``. Idempotent per ``op_id``: a replay no-ops at the
    committed-run gate — ONE application, stricter than ES's re-apply.

    Scale shape: pruned matching-set scan ⋈ docstore → JVM column mutate →
    one eager checkpoint (freezes the pre-update snapshot so the delta
    write never reads under its own overwrite; sized by the matching set,
    the same bound ES's scroll snapshot pays) → standard O(delta) update."""
    from .delete import update_docs
    from .query import Searcher, _docstore_scan, bool_doc_ids

    s = Searcher(spark, out_dir)
    plan = parse_query(
        _resolve_terms_lookups((body or {}).get("query"), s),
        s.stats.get("analyzer"), out_dir=out_dir,
    )
    blocked = [
        k for k in ("phrase", "span_near", "terms_set", "nested", "mm", "expand",
                    "mlt", "ids", "dis_max", "boosting", "fscore",
                    "phrase_prefix", "rank_feature", "pinned")
        if plan.get(k) is not None
    ]
    if plan["rf_boosts"]:
        blocked.append("rank_feature")
    if blocked:
        raise UnsupportedDSL(
            f"update_by_query supports match/bool/filter-context bodies "
            f"(got {blocked[0]})"
        )
    if plan["match_none"]:
        return {"updated": 0}
    script = (body or {}).get("script")
    stmts: list = []
    params: dict = {}
    if script is not None:
        src = script["source"] if isinstance(script, dict) else str(script)
        if isinstance(script, dict):
            params = script.get("params") or {}
        stmts = _parse_update_script(src)
    store = _docstore_scan(spark, out_dir)
    if "text" not in store.columns:
        raise ValueError(
            "update_by_query needs the stored text — build the docstore "
            "with write_docstore(extra_cols=('text',))"
        )
    everything = (
        plan["match_all"] and not plan["query"] and not plan["must"]
        and not plan["filters"] and not plan["ranges"]
        and not plan["or_groups"] and not plan["must_not"]
    )
    if everything:
        matched = store
    else:
        hits = bool_doc_ids(
            spark, out_dir, plan["query"], must=plan["must"],
            must_not=plan["must_not"], min_should=plan["min_should"],
            filters=plan["filters"] or None, ranges=plan["ranges"] or None,
            or_groups=plan["or_groups"] or None,
            not_atoms=plan["not_atoms"] or None,
        )
        matched = store.join(hits, "doc_id")
    dtypes = dict(matched.dtypes)
    for field, expr in stmts:
        if field not in dtypes:
            raise UnsupportedDSL(
                f"update script targets unknown stored field {field!r} "
                f"(delta docstore runs keep one schema)"
            )
        matched = matched.withColumn(
            field, _update_col(expr, params).cast(dtypes[field])
        )
    keep = [c for c in matched.columns if c not in ("bucket", "run")]
    matched = matched.select(*keep).localCheckpoint(eager=True)
    n = matched.count()
    if n:
        st = s.stats
        cfg = dict(
            n_buckets=st["n_buckets"], block_size=st["block_size"],
            n_term_buckets=st["n_term_buckets"], k1=st["k1"], b=st["b"],
            positions=bool(st.get("positions")), analyzer=st.get("analyzer"),
        )
        cfg.update(index_kw)
        store_cols = tuple(c for c in keep if c not in ("doc_id", "url"))
        update_docs(
            spark, matched, out_dir, op_id, url_col=None,
            store_docs=True, store_cols=store_cols, **cfg,
        )
    return {"updated": int(n)}


def bulk_body(
    spark: SparkSession, out_dir: str, payload, *, batch_id, **index_kw,
) -> dict:
    """ES ``_bulk``: the reference's write path (NestBatchPusher.cs:68-82
    builds bulk requests with explicit ids — PartitionKey+RowKey — against
    the daily index). ``payload`` is NDJSON (action line, then a source
    line for index/create/update) or an already-parsed list of those
    dicts. Supported actions: ``index`` (upsert), ``create`` (409
    version-conflict on a live doc), ``update`` (``{"doc": ...}`` partial
    merge onto the stored _source; 404 on a missing doc unless
    ``doc_as_upsert``), ``delete`` (404-not-found without the errors
    flag, like ES). Every action needs an integer ``_id`` (the
    reference's contract — it always sets explicit ids).

    Semantics: actions apply IN ORDER per doc (driver-side state machine
    over the stored rows — bulk request size is bounded by the client,
    the reference's BulkBatchSize); the NET effect then lands in two
    distributed ops — one ``delete_docs`` for net deletions and one
    ``update_docs`` delta run for net upserts (tombstone old versions +
    append; a doc not previously indexed upserts cleanly). Index settings
    replay from stats.json. Idempotent per ``batch_id``: both ops gate on
    committed run/op ids. Returns the ES shape ``{"errors": bool,
    "items": [...]}`` in request order."""
    from .build import load_stats, lookup_docs
    from .delete import dead_lookup_ids, delete_docs, update_docs
    from .query import _docstore_scan

    # --- parse
    if isinstance(payload, str):
        lines = [json.loads(x) for x in payload.splitlines() if x.strip()]
    else:
        lines = list(payload)
    items: list[tuple[str, int, dict | None]] = []
    i = 0
    while i < len(lines):
        action = lines[i]
        if not (isinstance(action, dict) and len(action) == 1):
            raise UnsupportedDSL(f"malformed bulk action line: {action!r}")
        op, meta = next(iter(action.items()))
        if op not in ("index", "create", "update", "delete"):
            raise UnsupportedDSL(f"unsupported bulk action {op!r}")
        if "_id" not in (meta or {}):
            raise UnsupportedDSL(
                "bulk actions need an explicit integer _id (the "
                "reference's contract)"
            )
        did = int(meta["_id"])
        i += 1
        src = None
        if op != "delete":
            if i >= len(lines):
                raise UnsupportedDSL(f"bulk {op} action missing its source line")
            src = lines[i]
            i += 1
        items.append((op, did, src))

    store = _docstore_scan(spark, out_dir)
    if "text" not in store.columns:
        raise ValueError(
            "bulk needs the stored text — build the docstore with "
            "write_docstore(extra_cols=('text',))"
        )
    doc_cols = [c for c in store.columns if c not in ("bucket", "run")]
    ids = sorted({d for _, d, _ in items})
    stored = lookup_docs(out_dir, ids)
    dead = dead_lookup_ids(out_dir, stored)

    # --- sequential per-doc state machine
    state: dict[int, dict | None] = {}
    for d in ids:
        row = stored.get(d)
        state[d] = (
            None if row is None or d in dead
            else {k: row.get(k) for k in doc_cols}
        )
    pre_live = {d: state[d] is not None for d in ids}
    out_items: list[dict] = []
    errors = False

    def _merge(did: int, base: dict | None, fields: dict) -> dict:
        bad = set(fields) - set(doc_cols)
        if bad:
            raise UnsupportedDSL(
                f"bulk source has non-stored fields {sorted(bad)} "
                f"(delta docstore runs keep one schema)"
            )
        doc = {k: None for k in doc_cols}
        if base:
            doc.update(base)
        doc.update(fields)
        doc["doc_id"] = did
        return doc

    for op, did, src in items:
        live = state[did] is not None
        if op == "delete":
            if live:
                state[did] = None
                out_items.append({"delete": {
                    "_id": did, "status": 200, "result": "deleted"}})
            else:
                out_items.append({"delete": {
                    "_id": did, "status": 404, "result": "not_found"}})
        elif op == "create":
            if live:
                errors = True
                out_items.append({"create": {
                    "_id": did, "status": 409,
                    "error": {"type": "version_conflict_engine_exception"}}})
            else:
                state[did] = _merge(did, None, src)
                out_items.append({"create": {
                    "_id": did, "status": 201, "result": "created"}})
        elif op == "index":
            state[did] = _merge(did, None, src)
            out_items.append({"index": {
                "_id": did, "status": 200 if live else 201,
                "result": "updated" if live else "created"}})
        else:  # update
            fields = (src or {}).get("doc")
            if fields is None:
                raise UnsupportedDSL(
                    'bulk update supports {"doc": ...} partial documents'
                )
            if not live and not (src or {}).get("doc_as_upsert"):
                errors = True
                out_items.append({"update": {
                    "_id": did, "status": 404,
                    "error": {"type": "document_missing_exception"}}})
            else:
                state[did] = _merge(did, state[did], fields)
                out_items.append({"update": {
                    "_id": did, "status": 200, "result": "updated"}})

    # --- net application: genuinely-new docs append as a plain delta run
    # (no tombstones — they'd poison the ledger's live count), updates of
    # pre-live docs go through the tombstone+delta update path, and the
    # delete pass runs LAST so its tombstones also cover the fresh runs —
    # a net-deleted doc stays dead under the newest-stored-version
    # liveness rule no matter which runs later readers see.
    del_ids = [d for d in ids if state[d] is None and pre_live[d]]
    news = [state[d] for d in ids if state[d] is not None and not pre_live[d]]
    upds = [state[d] for d in ids if state[d] is not None and pre_live[d]]
    if news or upds:
        from ..streaming.incremental import index_batch

        st = load_stats(out_dir)
        cfg = dict(
            n_buckets=st["n_buckets"], block_size=st["block_size"],
            n_term_buckets=st["n_term_buckets"], k1=st["k1"], b=st["b"],
            positions=bool(st.get("positions")), analyzer=st.get("analyzer"),
        )
        cfg.update(index_kw)
        store_cols = tuple(c for c in doc_cols if c not in ("doc_id", "url"))
        schema = store.select(*doc_cols).schema

        def _df(rows):
            return spark.createDataFrame(
                [tuple(u.get(c) for c in doc_cols) for u in rows], schema
            )

        if news:
            index_batch(
                spark, _df(news), out_dir, f"bulk_{batch_id}_new",
                url_col=None, store_docs=True, store_cols=store_cols, **cfg,
            )
        if upds:
            update_docs(
                spark, _df(upds), out_dir, f"bulk_{batch_id}", url_col=None,
                store_docs=True, store_cols=store_cols, **cfg,
            )
    if del_ids:
        delete_docs(spark, out_dir, del_ids, op_id=f"bulk_{batch_id}_del")
    return {"errors": errors, "items": out_items}


def analyze_body(out_dir: str | None, body: dict) -> dict:
    """ES ``_analyze``: run the analyzer chain over ``body["text"]`` and
    return the token stream in the ES shape — ``{"tokens": [{"token",
    "start_offset", "end_offset", "type", "position"}]}``. With an index
    (``out_dir``) the index's persisted analyzer applies by default (the
    chain every build/query runs — what users call _analyze to debug);
    ``body["analyzer"]`` overrides with an explicit chain config (our
    analyzers are config dicts, not registry names) and works with
    ``out_dir=None`` too. Positions keep increment semantics (stopword
    gaps); offsets index the lowercased text. Zero Spark jobs."""
    from ..textutils import analyze_with_offsets, analyzer_config

    if "text" not in (body or {}):
        raise UnsupportedDSL('_analyze needs a "text" field')
    if "analyzer" in (body or {}):
        cfg = analyzer_config(body["analyzer"])
    elif out_dir is not None:
        from .build import load_stats

        cfg = load_stats(out_dir).get("analyzer")
    else:
        cfg = None
    toks = analyze_with_offsets(str(body["text"]), cfg)
    return {
        "tokens": [
            {
                "token": t,
                "start_offset": int(a),
                "end_offset": int(b),
                "type": "<NUM>" if t.isdigit() else "<ALPHANUM>",
                "position": int(p),
            }
            for t, p, a, b in toks
        ]
    }


def mget(out_dir: str, body: dict) -> dict:
    """ES ``_mget``: bulk point lookups. ``body`` is ``{"ids": [...]}`` or
    ``{"docs": [{"_id": ...}, ...]}``; the response preserves request
    order, one ``{"_id", "found"[, "_source"]}`` per ask. Stored columns
    resolve latest-version-wins via ``lookup_docs`` (bucket-pruned pyarrow,
    zero Spark jobs); fully deleted docs come back ``found: false``
    (``dead_lookup_ids`` — the same visibility rule the query path
    serves, evaluated from each doc's newest stored version)."""
    from .build import lookup_docs
    from .delete import dead_lookup_ids

    if "ids" in (body or {}):
        ids = [int(i) for i in body["ids"]]
    elif "docs" in (body or {}):
        ids = [int(d["_id"]) for d in body["docs"]]
    else:
        raise UnsupportedDSL('_mget needs "ids" or "docs"')
    rows = lookup_docs(out_dir, ids)
    dead = dead_lookup_ids(out_dir, rows)
    docs = []
    for i in ids:
        row = rows.get(i)
        if row is None or i in dead:
            docs.append({"_id": i, "found": False})
        else:
            src = {
                k: v for k, v in row.items()
                if k not in ("doc_id", "bucket", "run")
            }
            docs.append({"_id": i, "found": True, "_source": src})
    return {"docs": docs}


def scroll_body(
    spark: SparkSession, out_dir: str, body: dict, *,
    searcher: Searcher | None = None,
):
    """ES scroll analogue: a GENERATOR of page responses for one request
    body, deep-paginating by threading each page's last-hit ``sort``
    values into the next ``search_after`` (the ES-recommended PIT +
    search_after replacement for classic scroll). Scored bodies default
    to the ``["_score"]`` cursor; field-sorted bodies keep their sort.
    Page N+1 costs the same as page 1 — the after-predicate applies
    before top-k, never offset re-ranking. Snapshot consistency comes
    from ONE shared Searcher (stats/tombstone snapshot pinned at open),
    like an ES PIT keeping segment readers alive.

    ES SLICED SCROLL: put {"slice": {"id": i, "max": m}} in the body and
    drain m scroll_body generators (one per id) in parallel — the slices
    are disjoint doc_id % m classes that tile the full result set, the
    ES parallel-reindex/export idiom."""
    body = dict(body or {})
    if body.get("from"):
        raise UnsupportedDSL("scroll cannot combine with from (ES contract)")
    if "search_after" in body:
        raise UnsupportedDSL("scroll manages search_after itself")
    body.setdefault("size", 10)
    body.setdefault("sort", ["_score"])
    s = searcher if searcher is not None else Searcher(spark, out_dir)
    after = None
    while True:
        b = dict(body)
        if after is not None:
            b["search_after"] = after
        resp = search_body(spark, out_dir, b, searcher=s)
        hits = resp["hits"]["hits"]
        if after is not None and not hits:
            return
        yield resp
        if len(hits) < int(body["size"]):
            return
        after = hits[-1]["sort"]


# Request keys and parsed query shapes served from ONE index dir (its
# docstore, dictionary or a sidecar) rather than from a Searcher's roots:
# over a window Searcher (``search_body_daily``) each raises, never drops
_ONE_INDEX_ONLY = {
    "pit": "pit", "knn": "knn", "retriever": "retriever", "suggest": "suggest",
    "span_near": "span_near / span_* / intervals", "terms_set": "terms_set",
    "nested": "nested", "dis_max": "dis_max", "boosting": "boosting",
    "fscore": "function_score", "script_score": "script_score",
    "phrase_prefix": "match_phrase_prefix",
    "rank_feature": "rank_feature / distance_feature",
    "rf_boosts": "rank_feature / distance_feature", "pinned": "pinned",
}


def _one_index_guard(part: dict) -> None:
    """Reject a request body or parsed plan holding an ``_ONE_INDEX_ONLY``
    key (called only for a window Searcher)."""
    hit = next((k for k in _ONE_INDEX_ONLY if part.get(k)), None)
    if hit is not None:
        raise UnsupportedDSL(
            f"{_ONE_INDEX_ONLY[hit]} over a day window is unsupported "
            "(send it to the day index directly)"
        )


def search_body(
    spark: SparkSession, out_dir: str | None, body: dict, *,
    searcher: Searcher | None = None,
) -> dict:
    """Execute an ES-shaped request body; returns an ES-shaped response.
    Pass a long-lived ``searcher`` to serve repeated bodies from its warm
    decoded-postings / term caches (it mtime-invalidates itself on
    index mutation); omitted, each call builds a cold handle.

    A window ``searcher`` (``DailySearcher._window``, with ``out_dir`` its
    daily root — what ``search_body_daily`` sends) runs the same request
    path over its day roots: every per-index step — dictionary, blocks,
    doc fetch, aggs, exact totals, sort, collapse, keyword expansion —
    comes from the Searcher. Shapes that read one index dir instead raise
    UnsupportedDSL (``_ONE_INDEX_ONLY``): pit, knn, retriever, suggest,
    span_* / intervals, terms_set, nested, dis_max, boosting,
    function_score, script_score, match_phrase_prefix and rank_feature /
    distance_feature (standalone or as boosts), pinned.

    ``{"pit": {"id": ...}}`` (from ``pit.open_pit``) executes against
    that frozen snapshot — ``out_dir`` may then be None, the ES
    index-less PIT search. PIT bodies support the serving kernel paths
    (match / bool / match_phrase / span_near / intervals), score-order
    search_after, from/size, _source / highlight / script_fields —
    everything that must stay consistent for deep pagination; shapes that
    re-read live index state (field sort, aggs, exact totals, expansion,
    mlt, compound, suggest, knn) reject under a PIT."""
    body = dict(body or {})
    _prof_t0 = _time.time() if body.get("profile") else None
    window = (
        searcher is not None and searcher.out_dir == out_dir
        and searcher._dirs != [out_dir]
    )
    if window:
        _one_index_guard(body)
    pit_runs: list[str] | None = None
    if body.get("pit") is not None:
        from .pit import resolve_pit

        snap = resolve_pit(body["pit"]["id"])
        if out_dir is not None and out_dir != snap["out_dir"]:
            raise UnsupportedDSL(
                "a PIT search must not name a different index (ES sends "
                "PIT requests without an index)"
            )
        out_dir = snap["out_dir"]
        pit_runs = snap["docstore_runs"]
        blocked = [
            k for k in ("aggs", "suggest", "knn", "collapse",
                        "rescore", "track_total_hits", "explain")
            if body.get(k)
        ]
        if blocked:
            raise UnsupportedDSL(
                f"{blocked[0]} re-reads live index state and is "
                f"unsupported under a PIT snapshot"
            )
        s = Searcher(spark, out_dir, frozen_stats=snap["stats"])
    else:
        if out_dir is None:
            raise UnsupportedDSL("search_body needs an index dir or a pit")
        s = searcher if searcher is not None and searcher.out_dir == out_dir else Searcher(spark, out_dir)
    if body.get("retriever") is not None:
        return _rrf_search(spark, out_dir, body, s)
    if body.get("knn") is not None:
        return _knn_search(spark, out_dir, body)
    if body.get("suggest") and body.get("query") is None and not body.get("aggs"):
        # suggest-only request (no query, no aggs) — ES runs these
        # without a search phase
        return {
            "hits": {"total": {"value": 0, "relation": "eq"}, "hits": []},
            "suggest": _suggest_section(s, body["suggest"]),
        }
    if body.get("query") is not None:
        body["query"] = _resolve_terms_lookups(body["query"], s)
    plan = parse_query(
        body.get("query"), analyzer=s.stats.get("analyzer"), out_dir=s._dirs,
    )
    if window:
        _one_index_guard(plan)
    if plan["match_none"]:
        # the empty set by definition — no index probe at all
        return {"hits": {"total": {"value": 0, "relation": "eq"}, "hits": []}}
    size = int(body.get("size", 10))
    from_ = int(body.get("from", 0))
    filters = plan["filters"] or None
    ranges = plan["ranges"] or None
    or_groups = plan["or_groups"] or None
    not_atoms = plan["not_atoms"] or None
    bounded = bool(filters or ranges or or_groups)

    sort_spec = body.get("sort")
    score_sorted = False
    after: tuple[float, int] | None = None
    if sort_spec and _score_sort(sort_spec):
        # score order IS the default ranking — dispatch to the scored
        # paths, with the (score, doc_id) after-cursor applied inside the
        # kernel pre-top-k (deep relevance pagination at page-1 cost)
        score_sorted, sort_spec = True, None
        after = _score_after(body, from_)
    compound = (
        plan["dis_max"] is not None or plan["boosting"] is not None
        or plan["fscore"] is not None or plan["phrase_prefix"] is not None
        or plan["script_score"] is not None
    )
    featured = plan["rank_feature"] is not None or bool(plan["rf_boosts"])
    if featured and (
        sort_spec or body.get("search_after") or after is not None
    ):
        raise UnsupportedDSL(
            "rank_feature / distance_feature rank by their feature "
            "functions (no sort or search_after)"
        )
    if plan["pinned"] is not None and (
        sort_spec or body.get("search_after") or after is not None
    ):
        raise UnsupportedDSL(
            "pinned ranks pinned-ids-then-organic (no sort or search_after)"
        )
    if body.get("pit") is not None and (
        compound or featured or plan["pinned"] is not None
        or plan["expand"] is not None or plan["mlt"] is not None
        or plan["terms_set"] is not None or plan["nested"] is not None
        or plan["ids"] is not None or plan["match_all"]
        or sort_spec  # field sort re-reads live state; _score sort is fine
    ):
        raise UnsupportedDSL(
            "PIT bodies support the serving kernel shapes only (match / "
            "bool / match_phrase / span_near / intervals, _score sort) — "
            "this query re-reads live index state"
        )
    if compound and (sort_spec or body.get("search_after")):
        raise UnsupportedDSL(
            "dis_max / boosting / function_score / match_phrase_prefix "
            "rank by relevance only (no sort or search_after)"
        )
    if plan["span_near"] is not None and (
        sort_spec or body.get("search_after") and not score_sorted
    ):
        raise UnsupportedDSL(
            "span_near ranks by relevance only (sort by _score is the "
            "supported search_after shape)"
        )
    if plan["terms_set"] is not None and (
        sort_spec or body.get("search_after") or after is not None
    ):
        raise UnsupportedDSL(
            "terms_set ranks by relevance only (no sort / search_after)"
        )
    if plan["nested"] is not None and (
        sort_spec or body.get("search_after") or after is not None
        or body.get("aggs")
    ):
        raise UnsupportedDSL(
            "nested supports plain filter-context retrieval only "
            "(no sort / search_after / aggs)"
        )
    collapse = body.get("collapse")
    collapse_vals: dict[int, Any] = {}
    collapse_inner: dict[int, dict] = {}
    if collapse is not None and (
        sort_spec or after is not None or plan["phrase"] is not None
        or plan["mm"] is not None or plan["expand"] is not None
        or plan["mlt"] is not None or plan["ids"] is not None
        or plan["match_all"] or compound or featured
        or plan["pinned"] is not None
        or plan["span_near"] is not None
        or plan["terms_set"] is not None or plan["nested"] is not None
    ):
        raise UnsupportedDSL(
            "collapse supports relevance-ranked match/bool queries "
            "(no sort, search_after, phrase, multi_match, expansion, or "
            "match_all)"
        )
    rescore = body.get("rescore")
    if rescore is not None and (
        sort_spec or after is not None or collapse is not None
        or plan["phrase"] is not None or plan["mm"] is not None
        or plan["expand"] is not None or plan["mlt"] is not None
        or plan["ids"] is not None or plan["match_all"] or compound
        or featured or plan["pinned"] is not None
        or plan["span_near"] is not None or plan["terms_set"] is not None
        or plan["nested"] is not None
    ):
        raise UnsupportedDSL(
            "rescore supports relevance-ranked match/bool primaries "
            "(no sort, search_after, collapse, phrase, multi_match, "
            "expansion, or match_all)"
        )
    if body.get("explain") and (
        sort_spec or collapse is not None or rescore is not None or compound
        or featured or plan["pinned"] is not None
        or plan["phrase"] is not None or plan["mm"] is not None
        or plan["expand"] is not None or plan["mlt"] is not None
        or plan["ids"] is not None or plan["match_all"]
        or plan["span_near"] is not None or plan["terms_set"] is not None
        or plan["nested"] is not None
    ):
        raise UnsupportedDSL(
            "explain supports relevance-ranked match/bool queries"
        )
    slice_mod: tuple[int, int] | None = None
    if body.get("slice") is not None:
        # ES sliced scroll: {"slice": {"id": i, "max": m}} partitions the
        # result set into m disjoint slices by hash(_id) % m (our doc_ids
        # ARE the hash, so the rule is doc_id % m == i); m scrolls drained
        # in parallel tile one unsliced export exactly. Applied inside the
        # kernel at candidate formation — each slice's top-k/after-paging
        # is computed over its own docs only.
        sl = body["slice"]
        try:
            sid, smax = int(sl["id"]), int(sl["max"])
        except (KeyError, TypeError, ValueError):
            raise UnsupportedDSL('slice needs {"id": int, "max": int}') from None
        if smax < 2 or not 0 <= sid < smax:
            raise UnsupportedDSL(
                "slice needs 0 <= id < max and max >= 2 (ES contract)"
            )
        if (
            sort_spec or collapse is not None or rescore is not None
            or compound or featured or plan["pinned"] is not None
            or plan["phrase"] is not None or plan["mm"] is not None
            or plan["expand"] is not None or plan["mlt"] is not None
            or plan["ids"] is not None or plan["match_all"]
            or plan["span_near"] is not None or plan["terms_set"] is not None
            or plan["nested"] is not None or body.get("aggs")
            or body.get("track_total_hits") or body.get("explain")
        ):
            raise UnsupportedDSL(
                "slice supports relevance-ranked match/bool queries (the "
                "sliced-scroll parallel-export shape; totals/aggs are "
                "per-slice undefined)"
            )
        slice_mod = (sid, smax)
    rows: list[tuple[int, float]]
    plain_scored = False
    pre_total: int | None = None
    sorted_rows_cols: list[tuple] | None = None
    if sort_spec:
        keys = []
        for item in sort_spec:
            if isinstance(item, str):
                keys.append((item, "asc"))
            else:
                f, d = _one(item)
                keys.append((f, d.get("order", "asc") if isinstance(d, dict) else str(d)))
        if (
            plan["match_all"] and not plan["query"] and not plan["must"]
            and not bounded
        ):
            raise UnsupportedDSL(
                "sorted match_all needs at least a filter or match clause "
                "(an unbounded full-corpus export is a scan, not a search)"
            )
        sorted_rows_cols = [
            tuple(r)
            for r in search_sorted(
                spark, s, plan["query"] or plan["must"] or "", keys,
                size, must=plan["must"], must_not=plan["must_not"],
                min_should=plan["min_should"], filters=filters, ranges=ranges,
                or_groups=or_groups, not_atoms=not_atoms,
                search_after=tuple(body["search_after"]) if body.get("search_after") else None,
            ).collect()
        ]
        rows = [(r[0], float("nan")) for r in sorted_rows_cols]
    elif plan["phrase"] is not None:
        rows = s.phrase_rows(
            plan["phrase"], size + from_, after=after,
            slop=plan["phrase_slop"],
        )[from_:]
    elif plan["span_near"] is not None:
        sn = plan["span_near"]
        rows = s.span_near_rows(
            sn["clauses"], size + from_, slop=sn["slop"],
            in_order=sn["in_order"], after=after,
            first_end=sn.get("first_end"), exclude=sn.get("exclude"),
            pre=sn.get("pre", 0), post=sn.get("post", 0),
        )[from_:]
    elif plan["nested"] is not None:
        from .query import nested_filter_ids

        ids = (
            nested_filter_ids(
                spark, out_dir, plan["nested"]["path"],
                plan["nested"]["clauses"],
            )
            .orderBy("doc_id").limit(size + from_).collect()
        )
        rows = [(int(r.doc_id), plan["boost"]) for r in ids][from_:]
    elif plan["terms_set"] is not None:
        from .query import terms_set_topk

        ts = plan["terms_set"]
        rows = [
            (int(r[0]), float(r[1]))
            for r in terms_set_topk(
                spark, out_dir, ts["terms"], ts["msm_field"], size + from_
            ).collect()
        ][from_:]
    elif plan["mm"] is not None:
        if after is not None:
            raise UnsupportedDSL(
                "score-order search_after supports match/bool/match_phrase"
            )
        rows = s.multi_match_rows(
            plan["mm"]["query"], plan["mm"]["fields"], size + from_,
            type=plan["mm"]["type"],
        )[from_:]
    elif plan["expand"] is not None:
        if after is not None:
            raise UnsupportedDSL(
                "score-order search_after supports match/bool/match_phrase"
            )
        kind, val, spec = plan["expand"]
        rows = s.expansion_rows(
            kind, val, size + from_, fuzziness=_fuzz_n(spec.get("fuzziness", 1), val),
        )[from_:]
    elif plan["mlt"] is not None:
        if after is not None:
            raise UnsupportedDSL(
                "score-order search_after supports match/bool/match_phrase"
            )
        knobs = {
            k: plan["mlt"][k]
            for k in ("max_query_terms", "min_doc_freq", "min_term_freq")
            if k in plan["mlt"]
        }
        rows = s.more_like_this(plan["mlt"]["like"], size + from_, **knobs)[from_:]
    elif plan["ids"] is not None:
        present = s._live_docs(plan["ids"])
        rows = [
            (d, plan["boost"]) for d in sorted(set(plan["ids"])) if d in present
        ][from_ : from_ + size]
    elif compound:
        if body.get("aggs"):
            raise UnsupportedDSL(
                "aggs with dis_max / boosting / function_score / "
                "match_phrase_prefix are unsupported (their matching set "
                "is driver-combined)"
            )
        if plan["dis_max"] is not None:
            full = _dis_max_rows(s, plan["dis_max"])
        elif plan["boosting"] is not None:
            full = _boosting_rows(s, plan["boosting"])
        elif plan["fscore"] is not None:
            full = _fscore_rows(s, plan["fscore"])
        elif plan["script_score"] is not None:
            full = _script_score_rows(s, plan["script_score"])
        else:
            full = _phrase_prefix_rows(s, out_dir, plan["phrase_prefix"])
        compound_total = len(full)
        rows = full[from_ : from_ + size]
    elif plan["rank_feature"] is not None:
        if body.get("aggs"):
            raise UnsupportedDSL(
                "aggs with a standalone rank_feature/distance_feature are "
                "unsupported (its matching set is a docstore predicate, "
                "not an index query — send the agg as a filtered request)"
            )
        rows, pre_total = _rank_feature_topk(
            spark, out_dir, plan["rank_feature"], size + from_
        )
        rows = rows[from_:]
    elif plan["pinned"] is not None:
        if (
            body.get("aggs") or body.get("track_total_hits") or sort_spec
            or body.get("search_after") or after is not None
        ):
            raise UnsupportedDSL(
                "pinned supports plain paged retrieval (no sort, "
                "search_after, aggs, or exact totals — its matching set "
                "is the organic ∪ pinned union)"
            )
        pids = plan["pinned"]["ids"]
        present = s._live_docs(pids)
        pinned_rows = [
            (d, 1.0e9 - j) for j, d in enumerate(pids) if d in present
        ]
        organic = search_body(
            spark, out_dir,
            {"query": plan["pinned"]["organic"],
             "size": size + from_ + len(pinned_rows)},
            searcher=s,
        )
        pin_set = {d for d, _ in pinned_rows}
        rows = pinned_rows + [
            (int(h["_id"]), float(h["_score"]))
            for h in organic["hits"]["hits"] if int(h["_id"]) not in pin_set
        ]
        rows = rows[from_ : from_ + size]
    elif plan["rf_boosts"]:
        # feature boosts in should: base = the bool's FULL matching set
        # (ranking changes post-hoc, so top-k cannot pre-truncate), then
        # one docstore lookup over exactly those docs adds the features
        if plan["match_all"]:
            from .query import bool_doc_ids

            if not bounded:
                raise UnsupportedDSL(
                    "feature-boosted match_all needs at least a filter "
                    "(an unbounded full-corpus ranking is a scan)"
                )
            base = {
                int(r.doc_id): 0.0
                for r in bool_doc_ids(
                    spark, s, "", must_not=plan["must_not"],
                    filters=filters, ranges=ranges,
                    or_groups=or_groups, not_atoms=not_atoms,
                ).collect()
            }
        else:
            base = dict(s.search_rows(
                plan["query"], _ALL_HITS, must=plan["must"],
                must_not=plan["must_not"], min_should=plan["min_should"],
                filters=filters, ranges=ranges,
                or_groups=or_groups, not_atoms=not_atoms, prune=False,
            ))
        full = _apply_rf_boosts(spark, out_dir, base, plan["rf_boosts"])
        pre_total = len(full)
        rows = full[from_ : from_ + size]
    elif plan["match_all"]:
        if after is not None:
            raise UnsupportedDSL(
                "sort by _score with search_after needs a scoring clause"
            )
        if not bounded:
            raise UnsupportedDSL(
                "match_all without sort or filters is unbounded; add a "
                "filter, a sort (export), or a scoring clause"
            )
        # filter-only query (the Kibana "all docs where …" shape): ES
        # scores these 1.0; order by doc_id for determinism
        from .query import bool_doc_ids

        ids = (
            bool_doc_ids(
                spark, s, "", must_not=plan["must_not"],
                filters=filters, ranges=ranges,
                or_groups=or_groups, not_atoms=not_atoms,
            )
            .orderBy("doc_id").limit(size + from_).collect()
        )
        rows = [(r.doc_id, plan["boost"]) for r in ids][from_:]
    elif collapse is not None:
        from .query import collapse_groups, collapse_topk

        cfield = (
            collapse["field"] if isinstance(collapse, dict) else str(collapse)
        )
        ih = collapse.get("inner_hits") if isinstance(collapse, dict) else None
        if ih is not None:
            # ES collapse inner_hits: each group head also carries its
            # group's top-N members (one window rank + a broadcast
            # group-selection join — see query.collapse_groups)
            ih_name = str(ih.get("name", "inner"))
            ih_size = int(ih.get("size", 3))
            grows = collapse_groups(
                spark, s, plan["query"] or "", cfield, size + from_,
                max(ih_size, 1),
                must=plan["must"], must_not=plan["must_not"],
                min_should=plan["min_should"], filters=filters, ranges=ranges,
                or_groups=or_groups, not_atoms=not_atoms,
            ).collect()
            members: dict = {}
            heads = []
            for r in grows:
                d, sc, val, rk = int(r[0]), float(r[1]), r[2], int(r[3])
                members.setdefault(val, []).append((d, sc))
                if rk == 1:
                    heads.append((d, sc, val))
            heads.sort(key=lambda t: (-t[1], t[0]))
            collapse_vals = {d: val for d, _sc, val in heads}
            collapse_inner = {
                d: {
                    "name": ih_name,
                    "hits": [
                        {"_id": md, "_score": msc}
                        for md, msc in sorted(
                            members.get(val, []), key=lambda t: (-t[1], t[0])
                        )
                    ],
                }
                for d, _sc, val in heads
            }
            rows = [(d, sc) for d, sc, _v in heads][from_:]
        else:
            crows = collapse_topk(
                spark, s, plan["query"] or "", cfield, size + from_,
                must=plan["must"], must_not=plan["must_not"],
                min_should=plan["min_should"], filters=filters, ranges=ranges,
                or_groups=or_groups, not_atoms=not_atoms,
            ).collect()
            collapse_vals = {int(r[0]): r[2] for r in crows}
            rows = [(int(r[0]), float(r[1])) for r in crows][from_:]
    elif rescore is not None:
        specs = rescore if isinstance(rescore, list) else [rescore]
        need = max(size + from_, _rescore_window(specs))
        full = s.search_rows(
            plan["query"], need, must=plan["must"], must_not=plan["must_not"],
            min_should=plan["min_should"], filters=filters, ranges=ranges,
            or_groups=or_groups, not_atoms=not_atoms,
        )
        rows = _apply_rescore(s, full, rescore)[from_ : from_ + size]
    else:
        rows = s.search_rows(
            plan["query"], size, must=plan["must"], must_not=plan["must_not"],
            min_should=plan["min_should"], offset=from_,
            filters=filters, ranges=ranges,
            or_groups=or_groups, not_atoms=not_atoms, after=after,
            slice_mod=slice_mod,
        )
        plain_scored = True
        if plan["boost"] != 1.0:
            # top-level match boost: a pure scale factor (ranking
            # unchanged), applied after top-k exactly like Lucene's
            # BoostQuery wrapping
            rows = [(d, sc * plan["boost"]) for d, sc in rows]

    if body.get("min_score") is not None:
        # ES min_score: drop hits scoring below the floor. Scores are
        # ranked desc, so filtering the page prefix equals filtering
        # before pagination; field-sorted hits carry no score and exact
        # totals count the unfloored matching set — both reject.
        if sort_spec or body.get("track_total_hits"):
            raise UnsupportedDSL(
                "min_score needs scored hits and gte totals (no field "
                "sort, no track_total_hits)"
            )
        floor = float(body["min_score"])
        rows = [(d, sc) for d, sc in rows if sc >= floor]

    _q_done = _time.time()
    hits = []
    want_source = body.get("_source", False)
    src_inc, src_exc = _source_patterns(want_source)
    script_fields, fields_req = _parse_hit_fields(body)
    meta = {}
    if want_source or body.get("highlight") or script_fields or fields_req:
        meta = s._lookup_docs([d for d, _ in rows], runs=pit_runs)
    hl_cols = list((body.get("highlight") or {}).get("fields") or {})
    hl_query = " ".join(x for x in (plan["query"], plan["must"]) if x)
    for i, (d, sc) in enumerate(rows):
        hit: dict[str, Any] = {"_id": int(d), "_score": None if sort_spec else float(sc)}
        if sort_spec:
            hit["sort"] = list(sorted_rows_cols[i][1:]) + [int(d)]
        elif score_sorted:
            # the next page's search_after cursor: [score, doc_id]
            hit["sort"] = [float(sc), int(d)]
        if collapse is not None and d in collapse_vals:
            hit["fields"] = {cfield: [collapse_vals[d]]}
            if d in collapse_inner:
                ihd = collapse_inner[d]
                hit["inner_hits"] = {
                    ihd["name"]: {"hits": {"hits": ihd["hits"]}}
                }
        if (script_fields or fields_req) and d in meta:
            fvals = _hit_field_values(script_fields, fields_req, meta[d])
            if fvals:
                hit.setdefault("fields", {}).update(fvals)
        if want_source and d in meta:
            src = {k: v for k, v in meta[d].items() if k not in ("bucket", "run")}
            hit["_source"] = _source_apply(src, src_inc, src_exc)
        if hl_cols and d in meta and hl_query:
            hl = body.get("highlight") or {}
            frag_lists: dict[str, list[str]] = {}
            for col in hl_cols:
                text = meta[d].get(col)
                if not text:
                    continue
                fspec = hl["fields"][col] or {}
                opt = lambda k, dflt: fspec.get(k, hl.get(k, dflt))  # noqa: E731
                fl = _highlight_fragments(
                    str(text), hl_query,
                    fragment_size=int(opt("fragment_size", 160)),
                    number_of_fragments=int(opt("number_of_fragments", 1)),
                    pre_tag=(opt("pre_tags", ["<em>"]) or ["<em>"])[0],
                    post_tag=(opt("post_tags", ["</em>"]) or ["</em>"])[0],
                    no_match_size=int(opt("no_match_size", 0)),
                )
                if fl:
                    frag_lists[col] = fl
            if frag_lists:
                hit["highlight"] = frag_lists
        hits.append(hit)

    if body.get("explain"):
        # ES explain=true: per-hit score decomposition (idf × tfNorm
        # weight nodes summing to _score) — scored match/bool paths only
        if not plain_scored:
            raise UnsupportedDSL(
                "explain supports relevance-ranked match/bool queries"
            )
        for hit in hits:
            hit["_explanation"] = s.explain(
                plan["query"], hit["_id"], must=plan["must"],
                must_not=plan["must_not"], min_should=plan["min_should"],
                filters=filters, ranges=ranges,
                or_groups=or_groups, not_atoms=not_atoms,
            )

    total = {"value": len(hits) + from_, "relation": "gte"}
    if compound:
        # the driver-combined paths enumerate the full matching set anyway
        total = {"value": compound_total, "relation": "eq"}
    elif pre_total is not None:
        total = {"value": pre_total, "relation": "eq"}
    elif body.get("track_total_hits"):
        total = {
            "value": _exact_total(
                s, plan, filters, ranges, or_groups=or_groups, not_atoms=not_atoms,
            ),
            "relation": "eq",
        }

    resp: dict[str, Any] = {"hits": {"total": total, "hits": hits}}
    if _prof_t0 is not None:
        # ES "profile": true analogue — coarse phase wall times (this
        # engine's useful grain: one query = parse + kernel + fetch, not
        # Lucene's per-collector tree)
        resp["profile"] = {
            "query_ms": round((_q_done - _prof_t0) * 1000.0, 3),
            "fetch_ms": round((_time.time() - _q_done) * 1000.0, 3),
            "took_ms": round((_time.time() - _prof_t0) * 1000.0, 3),
        }
    if body.get("aggs") and (
        plan["span_near"] is not None or plan["terms_set"] is not None
    ):
        raise UnsupportedDSL(
            "aggs with span_near / terms_set are unsupported (the agg "
            "scope would need that matching set; send the agg as a "
            "filtered request instead)"
        )
    if body.get("aggs"):
        # the Searcher picks the engine per request (serving kinds on the
        # driver, every other kind and saturation on the distributed plan)
        resp["aggregations"] = s.aggs_rows(
            body["aggs"], plan["query"], must=plan["must"],
            must_not=plan["must_not"], min_should=plan["min_should"],
            filters=filters, ranges=ranges,
            or_groups=or_groups, not_atoms=not_atoms,
        )
    if body.get("suggest"):
        resp["suggest"] = _suggest_section(s, body["suggest"])
    return resp


def search_body_daily(
    spark: SparkSession, root: str, body: dict, *,
    time_range: tuple | None = None, searcher=None,
) -> dict:
    """Execute an ES-shaped request body against a DAILY index root with a
    time window — the Kibana shape (an index pattern like
    ``logs-2016.09.*`` selects day indexes; here ``time_range`` does,
    pruning to the overlapping day dirs before any file opens). The
    window Searcher (``DailySearcher._window``; pass a long-lived
    ``searcher`` DailySearcher to reuse its per-day caches) then runs
    ``search_body``, so a window answers every shape exactly like one
    index built over the window's documents, with the window guard of
    ``search_body``: pit, knn, retriever, suggest, span_* / intervals,
    terms_set, nested, dis_max, boosting, function_score, script_score,
    match_phrase_prefix, rank_feature / distance_feature and pinned raise
    UnsupportedDSL. A window selecting no day answers empty."""
    from .daily import DailySearcher

    ds = (
        searcher
        if searcher is not None and searcher.root == root
        else DailySearcher(spark, root)
    )
    w = ds._window(time_range)
    if w is None:
        resp: dict[str, Any] = {
            "hits": {"total": {"value": 0, "relation": "eq"}, "hits": []}
        }
        if (body or {}).get("aggs"):
            resp["aggregations"] = {name: [] for name in body["aggs"]}
        return resp
    return search_body(spark, root, body, searcher=w)


def _exact_total(
    s: Searcher, plan: dict, filters, ranges, or_groups=None, not_atoms=None,
) -> int:
    """Exact ``track_total_hits`` for EVERY supported query shape,
    distributed and uncapped, over ``s``'s roots:

    - match/bool/filter → ``bool_doc_ids`` (one pruned scan + hash agg)
    - match_phrase      → ``phrase_doc_ids`` (positional kernel, top-k off)
    - multi_match       → ``posting_docs_terms`` over the field-qualified
                          expansion (a doc matches iff any field matches)
    - prefix/wildcard/regexp/fuzzy → same expansion bag the scoring path
                          uses, counted as a SHOULD union
    - more_like_this    → the selected interestingness terms' union, minus
                          the liked doc itself
    - ids               → the stored ids that are not deleted
    """
    from .query import bool_doc_ids, phrase_doc_ids, posting_docs_terms

    spark, out_dir = s.spark, s.out_dir
    if plan.get("ids") is not None:
        return len(s._live_docs(plan["ids"]))
    if plan.get("rank_feature") is not None:
        # standalone feature query: matching set = docs holding any
        # feature field (rf_boosts never change the base set — they fall
        # through to the bool count below)
        return int(_rank_feature_scored(spark, out_dir, plan["rank_feature"]).count())
    if plan["phrase"] is not None:
        return phrase_doc_ids(
            spark, s, plan["phrase"], slop=plan["phrase_slop"]
        ).count()
    if plan.get("span_near") is not None:
        from .query import span_near_doc_ids

        sn = plan["span_near"]
        return span_near_doc_ids(
            spark, s, sn["clauses"], slop=sn["slop"],
            in_order=sn["in_order"],
            first_end=sn.get("first_end"), exclude=sn.get("exclude"),
            pre=sn.get("pre", 0), post=sn.get("post", 0),
        ).count()
    if plan.get("terms_set") is not None:
        from .query import terms_set_match

        ts = plan["terms_set"]
        return terms_set_match(spark, s, ts["terms"], ts["msm_field"]).count()
    if plan.get("nested") is not None:
        from .query import nested_filter_ids

        return nested_filter_ids(
            spark, s, plan["nested"]["path"], plan["nested"]["clauses"]
        ).count()
    if plan["mm"] is not None:
        from .query import _multi_match_plan

        mm_plan = _multi_match_plan(s, plan["mm"]["query"], plan["mm"]["fields"])
        if mm_plan is None:
            return 0
        _per_field, _tbs, scan_terms = mm_plan
        return posting_docs_terms(spark, s, scan_terms).count()
    if plan["expand"] is not None:
        kind, val, spec = plan["expand"]
        terms = s.expand_terms(
            kind, val, fuzziness=_fuzz_n(spec.get("fuzziness", 1), val)
        )
        if not terms:
            return 0
        return posting_docs_terms(spark, s, terms).count()
    if plan["mlt"] is not None:
        knobs = {
            k: plan["mlt"][k]
            for k in ("max_query_terms", "min_doc_freq", "min_term_freq")
            if k in plan["mlt"]
        }
        sel, self_id = s.mlt_terms(plan["mlt"]["like"], **knobs)
        if not sel:
            return 0
        ids = posting_docs_terms(spark, s, sel)
        if self_id is not None:
            from pyspark.sql import functions as F  # noqa: N812

            ids = ids.where(F.col("doc_id") != self_id)
        return ids.count()
    return bool_doc_ids(
        spark, s, plan["query"], must=plan["must"],
        must_not=plan["must_not"], min_should=plan["min_should"],
        filters=filters, ranges=ranges, or_groups=or_groups,
        not_atoms=not_atoms,
    ).count()


def _highlight_fragment(text: str, query: str, width: int = 160) -> str | None:
    """Plain-highlighter single fragment (the legacy default shape)."""
    frags = _highlight_fragments(text, query, fragment_size=width)
    return frags[0] if frags else None


def _highlight_fragments(
    text: str, query: str, *, fragment_size: int = 160,
    number_of_fragments: int = 1, pre_tag: str = "<em>",
    post_tag: str = "</em>", no_match_size: int = 0,
) -> list[str]:
    """Plain-highlighter fragments with the ES options that matter:
    ``fragment_size`` (window width, match centered),
    ``number_of_fragments`` (greedy non-overlapping windows over
    successive matches; 0 = ES's "no fragmenting" — the WHOLE field
    tagged as one fragment), ``pre_tags``/``post_tags`` (first tag pair),
    and ``no_match_size`` (leading text when nothing matches). Tagging is
    token-boundary and case-insensitive, every in-window occurrence."""
    import re

    from ..textutils import tokenize

    terms = sorted(set(tokenize(query)))
    if not terms:
        return []
    rx = re.compile(
        r"(?<![a-z0-9])(" + "|".join(re.escape(t) for t in terms) + r")(?![a-z0-9])",
        re.IGNORECASE,
    )
    tag = lambda mm: f"{pre_tag}{mm.group(0)}{post_tag}"  # noqa: E731
    if number_of_fragments == 0:
        whole = rx.sub(tag, text)
        return [whole] if rx.search(text) else (
            [text[:no_match_size]] if no_match_size else []
        )
    frags: list[str] = []
    used_end = -1
    for m in rx.finditer(text):
        if m.start() < used_end:
            continue
        lo = max(0, m.start() - fragment_size // 2)
        hi = min(len(text), lo + fragment_size)
        frags.append(rx.sub(tag, text[lo:hi]))
        used_end = hi
        if len(frags) >= number_of_fragments:
            break
    if not frags and no_match_size:
        return [text[:no_match_size]]
    return frags
