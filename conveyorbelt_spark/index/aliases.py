"""Index aliases + multi-index search.

The ES idiom the reference's daily indexes exist for: writers push to
concrete dated indexes (IndexNamer.cs:21-41 builds ``<prefix>-YYYY.MM.DD``
names), readers query one stable ALIAS spanning them (Kibana's
``logstash-*`` pattern / the ``_aliases`` add-remove API —
ElasticsearchClient.cs manages the concrete indexes precisely so bodies
can be sent at names like these). Here an index is a directory; the
registry is one ``aliases.json``; a search against an alias fans out and
merges.

Scoring semantics: ES's DEFAULT search type is query_then_fetch — each
index scores with its OWN statistics (df/avgdl), and the coordinating
node merges by score. ``search_body_multi`` reproduces exactly that:
per-index ``search_body`` (each a pruned distributed plan over that
index), then a driver merge of the size+from heads — the same shape as
the ES coordinating-node reduce. For merged-statistics ranking over a
time window (dfs_query_then_fetch-grade), ``DailySearcher`` and
``search_body_daily`` build one ``Searcher`` over the selected day
indexes, scoring with their summed statistics (index/daily.py).
"""

from __future__ import annotations

import glob as _glob
import json
import os
from functools import cmp_to_key

from pyspark.sql import SparkSession

from .dsl import UnsupportedDSL, _score_sort, search_body

_REG = "aliases.json"


def _load(registry_dir: str) -> dict[str, list[str]]:
    p = os.path.join(registry_dir, _REG)
    if not os.path.isfile(p):
        return {}
    with open(p) as f:
        return json.load(f)


def update_aliases(registry_dir: str, body: dict) -> dict:
    """ES ``_aliases``: ``{"actions": [{"add": {"index": ..., "alias":
    ...}}, {"remove": ...}, {"remove_index": ...}]}``. ``index`` may be a
    glob (resolved against the filesystem AT ACTION TIME, like ES
    wildcard adds); the registry stores the resolved concrete dirs.
    Atomic write (tmp + rename): readers never see a torn registry."""
    reg = _load(registry_dir)
    for action in (body or {}).get("actions", []):
        if not (isinstance(action, dict) and len(action) == 1):
            raise UnsupportedDSL(f"malformed alias action: {action!r}")
        op, spec = next(iter(action.items()))
        if op not in ("add", "remove", "remove_index"):
            raise UnsupportedDSL(f"unsupported alias action {op!r}")
        idx = spec.get("index")
        if op == "remove_index":
            for alias in list(reg):
                reg[alias] = [d for d in reg[alias] if d != idx]
                if not reg[alias]:
                    del reg[alias]
            continue
        alias = spec.get("alias")
        if not idx or not alias:
            raise UnsupportedDSL(f"alias {op} needs index and alias")
        if op == "add":
            dirs = sorted(_glob.glob(idx)) if any(
                c in idx for c in "*?[") else [idx]
            if not dirs:
                raise ValueError(f"alias add matched no index dirs: {idx!r}")
            cur = reg.setdefault(alias, [])
            for d in dirs:
                if d not in cur:
                    cur.append(d)
        else:  # remove
            cur = [d for d in reg.get(alias, []) if d != idx]
            if cur:
                reg[alias] = cur
            else:
                reg.pop(alias, None)
    os.makedirs(registry_dir, exist_ok=True)
    tmp = os.path.join(registry_dir, _REG + ".tmp")
    with open(tmp, "w") as f:
        json.dump(reg, f, indent=1, sort_keys=True)
    os.replace(tmp, os.path.join(registry_dir, _REG))
    return {"acknowledged": True}


def get_aliases(registry_dir: str, alias: str | None = None) -> dict:
    """ES GET ``_alias`` shape: {alias: [index dirs]} (one alias or all)."""
    reg = _load(registry_dir)
    if alias is None:
        return reg
    return {alias: reg.get(alias, [])}


def search_body_alias(
    spark: SparkSession, registry_dir: str, alias: str, body: dict,
) -> dict:
    """Execute an ES request body against an ALIAS: resolve the concrete
    index dirs from the registry and run ``search_body_multi``."""
    dirs = _load(registry_dir).get(alias)
    if not dirs:
        raise ValueError(f"unknown alias {alias!r}")
    return search_body_multi(spark, dirs, body)


def _cmp_sort(directions: list[bool]):
    """Comparator over hit['sort'] arrays: per-key asc/desc with None
    last, trailing keys (doc_id tiebreak) ascending."""

    def cmp(a, b):
        for i, (x, y) in enumerate(zip(a["sort"], b["sort"])):
            asc = directions[i] if i < len(directions) else True
            if x == y:
                continue
            if x is None:
                return 1
            if y is None:
                return -1
            lt = x < y
            return (-1 if lt else 1) if asc else (1 if lt else -1)
        return 0

    return cmp


def search_body_multi(spark: SparkSession, out_dirs: list[str], body: dict) -> dict:
    """One ES request body against SEVERAL indexes, ES query_then_fetch
    semantics: each index runs its own pruned plan and scores with its
    own statistics; the driver merges the per-index size+from heads —
    exactly the coordinating-node reduce, so cost per index is one
    ordinary search and the merge is O(indexes × (size+from)). Hits carry
    ``_index``. Scored bodies merge by (score desc, _id, _index); sorted
    bodies merge by their sort keys. Totals sum (relation eq only when
    every index reported eq). Aggs / collapse / rescore / suggest /
    search_after / knn compositions raise — the windowed daily path
    (``search_body_daily``) serves the agg-over-many-indexes shape with
    merged statistics."""
    body = dict(body or {})
    for clash in ("aggs", "collapse", "rescore", "suggest", "knn",
                  "search_after"):
        if body.get(clash) is not None:
            raise UnsupportedDSL(
                f"multi-index search does not compose with {clash!r} "
                f"(use the daily-window path for windowed aggs)"
            )
    size = int(body.get("size", 10))
    from_ = int(body.get("from", 0))
    sort_spec = body.get("sort")
    # ES indices_boost: per-index score multipliers, matched by the index
    # dir or its basename ("*" = every index)
    boosts: dict[str, float] = {}
    for entry in body.pop("indices_boost", None) or []:
        for name, factor in entry.items():
            boosts[str(name)] = float(factor)
    if boosts and sort_spec:
        raise UnsupportedDSL("indices_boost applies to scored merges only")

    def _boost(d: str) -> float:
        import os as _os

        base = _os.path.basename(_os.path.normpath(d))
        return boosts.get(d, boosts.get(base, boosts.get("*", 1.0)))

    sub = dict(body)
    sub["size"] = size + from_
    sub.pop("from", None)
    responses = [(d, search_body(spark, d, sub)) for d in out_dirs]
    hits = []
    total = 0
    relation = "eq"
    for d, resp in responses:
        t = resp["hits"]["total"]
        total += int(t["value"])
        if t.get("relation") != "eq":
            relation = "gte"
        b = _boost(d)
        for h in resp["hits"]["hits"]:
            h["_index"] = d
            if b != 1.0 and h.get("_score") is not None:
                h["_score"] = float(h["_score"]) * b
            hits.append(h)
    if sort_spec and not _score_sort(sort_spec):
        dirs_flags = []
        for item in sort_spec:
            if isinstance(item, dict):
                v = next(iter(item.values()))
                order = v.get("order", "asc") if isinstance(v, dict) else v
                dirs_flags.append(str(order) != "desc")
            else:
                dirs_flags.append(True)
        hits.sort(key=cmp_to_key(_cmp_sort(dirs_flags)))
    else:
        hits.sort(key=lambda h: (-h["_score"], h["_id"], h["_index"]))
    hits = hits[from_ : from_ + size]
    return {"hits": {"total": {"value": total, "relation": relation},
                     "hits": hits}}
