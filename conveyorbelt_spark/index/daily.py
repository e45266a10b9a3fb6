"""Time-sliced (daily) indexes — the reference's IndexNamer design realized.

The reference creates one Elasticsearch index per day
(``src/ConveyorBelt.Tooling/IndexNamer.cs:21-41`` names them
``prefix-yyyyMMdd``; ``Scheduling/MasterScheduler.cs:205-239`` creates the
upcoming day's index ahead of schedule) precisely so that a Kibana-style
"last 3 days" query touches 3 indexes and retention is a directory delete.

Layout here: ``root/day=YYYYMMDD/`` — each day a full, self-contained index
(segments / dictionary / manifest / docstore / stats.json) built by the
ordinary builder. That buys, with zero new index machinery:

- **query pruning**: a ``time_range=(lo, hi)`` search lists the day dirs
  overlapping the window and never opens any other day's files;
- **retention**: drop a day = ``rm -r root/day=D``;
- **bounded compaction**: only the hot (current) day accumulates delta
  runs; ``compact_segments`` runs per day on closed days once, ever;
- **ingest routing**: an incremental batch splits by event day and lands
  in its days' sub-indexes (normally 1–2 thanks to the grace window).

Serving: ``DailySearcher`` is a window view. Each query selects the days
overlapping its ``time_range`` and builds a ``query.Searcher`` over them —
the same serving searcher a single index uses, reading a list of day
roots. Scoring uses corpus statistics (n_docs, total_tokens → avgdl, and
per-term df) MERGED across the selected days — exact global stats over
the queried window, the equivalent of Elasticsearch's
``dfs_query_then_fetch`` (plain ES daily indexes score with per-shard df;
merged stats are strictly more consistent and are what the DuckDB oracle
computes). Day partitions slice the corpus disjointly (a doc belongs to its
``warc_ts`` day), so merged stats equal the stats of the window sub-corpus.

Granularity is the reference's: a daily index holds its whole day, so a
``time_range`` is honored at day resolution (callers wanting sub-day
filtering add a range filter on a stored ts column — same as ES).

Scale: selecting d days of a y-day corpus reads d/y of the segment bytes
before any term pruning even starts; per-day stats and tombstones are
cached by stats.json mtime, and the window's dictionary probe is one
dataset read over every selected day. Per-bucket groups simply
concatenate blocks from several days' runs, the multi-run shape the
kernel already handles.
"""

from __future__ import annotations

import datetime as dt
import glob
import os

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F  # noqa: N812

from .build import build_index, load_stats, write_docstore
from .query import _BLOCK_COLS, Searcher, _bool_plan, _Root, _score_kernel, _tombs

DAY_FMT = "yyyyMMdd"  # IndexNamer.cs:27 rendering (prefix-yyyyMMdd)


def day_str(ts: dt.datetime | dt.date) -> str:
    return f"{ts.year:04d}{ts.month:02d}{ts.day:02d}"


def day_dir(root: str, day: str) -> str:
    return os.path.join(root, f"day={day}")


def list_days(root: str) -> list[str]:
    return sorted(
        os.path.basename(d).split("=", 1)[1]
        for d in glob.glob(os.path.join(root, "day=*"))
        if os.path.isdir(d)
    )


def select_days(root: str, time_range: tuple | None) -> list[str]:
    """Day partitions overlapping [lo, hi) — THE pruning step: everything
    after this only ever opens files under the returned day dirs. ``None``
    bounds are open-ended; day resolution (a day is selected if any instant
    of it falls in the window)."""
    days = list_days(root)
    if time_range is None:
        return days
    lo, hi = time_range
    lo_d = day_str(lo) if lo is not None else None
    hi_d = day_str(hi) if hi is not None else None
    out = []
    for d in days:
        if lo_d is not None and d < lo_d:
            continue
        if hi_d is not None:
            # a day is excluded only if it starts at/after hi (exclusive
            # upper bound lands exactly on a midnight → that day is out)
            if d > hi_d or (d == hi_d and (hi.hour, hi.minute, hi.second) == (0, 0, 0)):
                continue
        out.append(d)
    return out


def build_daily_index(
    spark: SparkSession,
    docs: DataFrame,
    root: str,
    *,
    ts_col: str = "warc_ts",
    url_col: str = "url",
    text_col: str = "text",
    parallelism: int = 4,
    **build_kw,
) -> dict[str, dict]:
    """Build one sub-index per distinct ``ts_col`` day (the MasterScheduler
    creates-an-index-per-day loop, batch form). Each day's docs are selected
    with a pushed-down day predicate, so day N's build scans day N's data.

    Day builds are independent (disjoint dirs, disjoint data), so up to
    ``parallelism`` of them run as concurrent driver threads — Spark
    schedules their jobs side by side, overlapping the per-build fixed
    job overhead (a many-day backfill is otherwise a serial chain of small
    builds). Returns {day: stats}."""
    from concurrent.futures import ThreadPoolExecutor

    d = docs.withColumn("_day", F.date_format(ts_col, DAY_FMT))
    day_counts = {r[0]: int(r[1]) for r in d.groupBy("_day").count().collect()}
    days = sorted(day_counts)
    if "n_term_buckets" not in build_kw and days:
        # daily sub-indexes must share layout knobs (_merged_stats raises on
        # a mismatch), so resolve ONE adaptive term-bucket count for the
        # whole backfill — sized to the largest day — instead of letting
        # each day's build adapt to its own doc count
        from .build import _adaptive_term_buckets

        build_kw = {
            **build_kw,
            "n_term_buckets": _adaptive_term_buckets(max(day_counts.values())),
        }

    def one(day: str) -> dict:
        sub = d.where(F.col("_day") == day).drop("_day")
        return build_index(
            spark, sub, day_dir(root, day),
            url_col=url_col, text_col=text_col, **build_kw,
        )

    if parallelism <= 1 or len(days) <= 1:
        return {day: one(day) for day in days}
    with ThreadPoolExecutor(max_workers=min(parallelism, len(days))) as ex:
        results = list(ex.map(one, days))
    return dict(zip(days, results))


def daily_index_batch(
    spark: SparkSession,
    docs: DataFrame,
    root: str,
    batch_id: int | str,
    *,
    ts_col: str = "warc_ts",
    **index_kw,
) -> dict[str, bool]:
    """Incremental form: split the batch by event day and append each
    slice as a delta run of its day's sub-index (normally 1–2 days thanks
    to the schedule grace window). Idempotent per (day, batch) — the run id
    carries both."""
    from ..streaming.incremental import index_batch

    d = docs.withColumn("_day", F.date_format(ts_col, DAY_FMT))
    days = sorted(r[0] for r in d.select("_day").distinct().collect())
    if "n_term_buckets" not in index_kw:
        # a batch that opens a NEW day must match the existing days' layout
        # (adaptive builds may have chosen a non-default bucket count)
        for ex in list_days(root):
            sp = os.path.join(day_dir(root, ex), "stats.json")
            if os.path.exists(sp):
                index_kw = {
                    **index_kw,
                    "n_term_buckets": load_stats(day_dir(root, ex))["n_term_buckets"],
                }
                break
    out: dict[str, bool] = {}
    for day in days:
        sub = d.where(F.col("_day") == day).drop("_day")
        out[day] = index_batch(spark, sub, day_dir(root, day), batch_id, **index_kw)
    return out


def drop_days(root: str, *, before: dt.datetime | dt.date) -> list[str]:
    """Retention: delete every day partition strictly OLDER than ``before``
    (the reference deletes aged ES indexes by name; here it's a directory
    delete per day — no index rewrite, no tombstones). Returns the dropped
    day strings."""
    import shutil

    cut = day_str(before)
    dropped = []
    for d in list_days(root):
        if d < cut:
            shutil.rmtree(day_dir(root, d))
            dropped.append(d)
    return dropped


def compact_closed_days(
    spark: SparkSession, root: str, *, current_day: dt.datetime | dt.date | str,
) -> dict[str, dict]:
    """Fold every CLOSED day's delta runs into dense blocks (full
    ``compact_segments`` per day — each runs once, ever: only the hot
    current day keeps accumulating deltas). Days already compacted (a
    single ``compacted`` run) are skipped, so a nightly cron call is
    idempotent and O(yesterday), not O(history)."""
    from .build import compact_segments

    cur = current_day if isinstance(current_day, str) else day_str(current_day)
    out: dict[str, dict] = {}
    for d in list_days(root):
        if d >= cur:
            continue
        s = load_stats(day_dir(root, d))
        runs = s.get("committed_runs") or []
        if runs == ["compacted"]:
            continue  # already folded
        out[d] = compact_segments(spark, day_dir(root, d))
    return out


def _merged_stats(root: str, days: list[str], loader=None) -> dict:
    """Exact window-corpus stats: Σ n_docs / Σ total_tokens over the
    selected days' stats.json (driver-side, O(days) tiny file reads —
    ``loader`` lets the DailySearcher serve them from its mtime cache, so
    a long-lived handle pays the reads once, not per query). Layout knobs
    must agree across days (same builder config)."""
    loader = loader or (lambda d: load_stats(day_dir(root, d)))
    n_docs, total_tokens = 0, 0
    base: dict | None = None
    for day in days:
        s = loader(day)
        n_docs += s["n_docs"]
        total_tokens += s["total_tokens"]
        if base is None:
            base = s
        else:
            for k in ("k1", "b", "n_buckets", "n_term_buckets", "positions", "analyzer"):
                if s.get(k) != base.get(k):
                    raise ValueError(
                        f"day {day} config {k}={s.get(k)!r} differs from "
                        f"{base.get(k)!r}; daily sub-indexes must share a config"
                    )
    assert base is not None
    merged = {
        **base,
        "n_docs": n_docs,
        "total_tokens": total_tokens,
        "avgdl": total_tokens / n_docs if n_docs else 0.0,
    }
    # per-day read snapshots don't merge — reads consult each day's own
    merged.pop("committed_runs", None)
    return merged


class DailySearcher:
    """Window view over a daily-index root: every search takes a
    ``time_range=(lo, hi)`` (datetimes; either side None = open), selects
    the overlapping day sub-indexes BEFORE any file is opened, and builds a
    ``query.Searcher`` over them (``_window``). The serving methods —
    ``search_rows``, ``phrase_rows``, ``multi_match_rows``, ``mlt_terms``,
    ``more_like_this``, ``search_docs`` — are that Searcher's, so results
    are rank-identical to a single index built over exactly the window's
    documents (asserted in tests and by the q32 DuckDB oracle). The Spark
    window plans (``search``, ``bool_doc_ids``, aggregations, sorted
    export) union the selected days' scans in one plan."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        # per-day metadata caches keyed by the day's stats.json mtime (the
        # index version stamp): a long-lived serving handle reads each
        # day's stats/tombstones ONCE, not once per query per day
        self._stats_cache: dict[str, tuple[float, dict]] = {}
        self._tomb_cache: dict[str, tuple[float, dict]] = {}

    def _day_stats(self, day: str) -> dict:
        p = os.path.join(day_dir(self.root, day), "stats.json")
        m = os.path.getmtime(p)
        hit = self._stats_cache.get(day)
        if hit is not None and hit[0] == m:
            return hit[1]
        s = load_stats(day_dir(self.root, day))
        self._stats_cache[day] = (m, s)
        self._tomb_cache.pop(day, None)  # tombs derive from the same stamp
        return s

    def _day_tombs(self, day: str) -> dict:
        s = self._day_stats(day)
        m = self._stats_cache[day][0]
        hit = self._tomb_cache.get(day)
        if hit is not None and hit[0] == m:
            return hit[1]
        t = _tombs(day_dir(self.root, day), s)
        self._tomb_cache[day] = (m, t)
        return t

    def _window(self, time_range) -> Searcher | None:
        """A Searcher over the days overlapping ``time_range`` (None when
        no day does), scoring with their merged stats. Built per query from
        the mtime-cached day metadata, so it holds no term cache across
        calls and a warm window reads no stats.json."""
        days = select_days(self.root, time_range)
        if not days:
            return None
        roots: dict[str, _Root] = {}
        for d in days:
            tomb = self._day_tombs(d)  # refreshes the day's cached stats first
            m, s = self._stats_cache[d]
            roots[d] = _Root(day_dir(self.root, d), s, tomb, m)
        stats = _merged_stats(self.root, days, loader=lambda d: roots[d].stats)
        return Searcher._over(self.spark, self.root, stats, list(roots.values()))

    def search_rows(
        self, query: str, k: int = 10, *,
        time_range: tuple | None = None, prune: bool = True,
        must: str | None = None, must_not: str | None = None,
        min_should: int = 0,
        filters: dict | None = None, ranges: dict | None = None,
        or_groups: list | None = None, not_atoms: list | None = None,
        after: tuple[float, int] | None = None,
    ) -> list[tuple[int, float]]:
        """``Searcher.search_rows`` over the window: zero Spark jobs."""
        w = self._window(time_range)
        if w is None:
            return []
        return w.search_rows(
            query, k, prune, must=must, must_not=must_not, min_should=min_should,
            filters=filters, ranges=ranges, or_groups=or_groups,
            not_atoms=not_atoms, after=after,
        )

    def search(
        self, query: str, k: int = 10, *,
        time_range: tuple | None = None, prune: bool = True,
        must: str | None = None, must_not: str | None = None,
        filters: dict | None = None, ranges: dict | None = None,
    ) -> DataFrame:
        """Distributed path: one Spark scan over ONLY the selected days'
        segment dirs (pruning by path construction + tb partitions + term
        row groups), same kernel, global top-k."""
        empty = self.spark.createDataFrame([], "doc_id long, score double")
        w = self._window(time_range)
        if w is None:
            return empty
        plan = _bool_plan(
            self.spark, self.root, w.stats, query, must, must_not,
            lookup=w._entries, filters=filters, ranges=ranges,
            range_expand=w._range_expand,
        )
        if plan is None:
            return empty
        term_idf, must_terms, not_terms, tbs, scan_terms, _sp, fgroups = plan
        # one pruned read per selected day, unioned (a multi-root read trips
        # partition discovery on the day= ancestor dirs); each read keeps
        # its own tb-partition + term row-group pruning
        from functools import reduce

        def one_day(r):
            from .query import _seg_scan

            # _seg_scan: committed-run snapshot + EXPLICIT schema (no
            # per-day 1-task parquet schema-inference job)
            seg = _seg_scan(self.spark, r.dir, r.stats).where(
                F.col("tb").isin(tbs) & F.col("term").isin(scan_terms)
            )
            base = seg.select(*_BLOCK_COLS)
            if r.tomb:
                # deletes apply PER DAY before the union: day sub-indexes
                # reuse run names (full-g0, batch_N), so one merged
                # tombstone map would cross-contaminate days; block surgery
                # is row-local — no grouping needed here
                from .delete import apply_tombstones

                withrun = seg.select(*_BLOCK_COLS, "run")

                def strip(it, _t=r.tomb):
                    for pdf in it:
                        out = apply_tombstones(pdf, _t)
                        yield out.drop(columns=["run"])

                base = withrun.mapInPandas(strip, schema=base.schema)
            return base

        seg = reduce(DataFrame.unionByName, [one_day(r) for r in w._roots])
        kern = _score_kernel(
            term_idf, k, prune=prune, must_terms=must_terms, not_terms=not_terms,
            filter_groups=fgroups,
        )
        kern.k1, kern.b, kern.avgdl = w.stats["k1"], w.stats["b"], w.stats["avgdl"]
        local = seg.groupBy("bucket").applyInPandas(kern, schema="doc_id long, score double")
        return local.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)

    def bool_doc_ids(
        self, query: str = "", *,
        must: str | None = None, must_not: str | None = None,
        min_should: int = 0,
        filters: dict | None = None, ranges: dict | None = None,
        or_groups: list | None = None, not_atoms: list | None = None,
        time_range: tuple | None = None,
    ) -> DataFrame:
        """Windowed ``bool_doc_ids``: ONE plan over the whole window. The
        selected days' pruned (term, doc_id) scans are unioned (narrow —
        no per-day shuffle), deduplicated once, and pushed through the
        single bool hash aggregation. Day corpora are doc-disjoint, so the
        union is exact; every driver step (dictionary probes, range
        expansion, must-presence) is a metadata read — the whole thing
        costs one Spark action regardless of the day count (vs one job
        wave per day in the per-day formulation: a 90-day Kibana window is
        one scan, not 90 sequential waves of fixed overhead)."""
        from functools import reduce

        from ..textutils import analyze
        from .query import (
            _bool_match_ids,
            _expand_atoms,
            _filter_want,
            term_doc_pairs,
        )

        empty = self.spark.createDataFrame([], "doc_id long")
        w = self._window(time_range)
        if w is None:
            return empty
        az = w.stats.get("analyzer")
        should_terms = sorted(set(analyze(query, az))) if query else []
        must_terms = sorted(set(analyze(must, az))) if must else []
        not_terms = sorted(set(analyze(must_not, az))) if must_not else []
        # keyword terms are day-independent strings: the window's expansion
        # is the union of each day's range-sidecar probe
        range_expand = w._range_expand
        if not_atoms:
            not_terms = sorted(
                set(not_terms) | set(_expand_atoms(not_atoms, range_expand))
            )
        scoring = sorted(set(should_terms) | set(must_terms))
        fgroups: list[list[str]] = []
        if filters or ranges or or_groups:
            want = _filter_want(filters, ranges, range_expand, or_groups)
            if want is None:
                return empty
            fgroups = want
        if not scoring and not fgroups:
            return empty
        if must_terms:
            present = {e["term"] for e in w._entries(must_terms)}
            if any(mt not in present for mt in must_terms):
                return empty  # provably empty across the whole window
        flat = sorted({t for g in fgroups for t in g})
        all_terms = sorted(set(scoring) | set(not_terms) | set(flat))
        pairs = reduce(
            DataFrame.unionByName,
            [term_doc_pairs(self.spark, d, all_terms, distinct=False) for d in w._dirs],
        ).distinct()
        return _bool_match_ids(
            pairs, should_terms, must_terms, not_terms, min_should, fgroups
        )

    def facet_counts(
        self, facet_col: str, query: str = "", *,
        time_range: tuple | None = None,
        must: str | None = None, must_not: str | None = None,
        filters: dict | None = None, ranges: dict | None = None,
        k: int | None = None,
    ) -> list[tuple]:
        """Windowed ES terms-aggregation — the Kibana time-chart-breakdown
        shape ("top N <field> over the last 3 days") as ONE distributed
        plan: the window's matching ids (``bool_doc_ids`` above — unioned
        pruned scans, one dedup, one bool aggregation) join the unioned
        day docstores and hash-aggregate once. Counts over disjoint day
        corpora are additive, so one aggregation is exact at any
        matching-set size; job count is independent of the window width.
        Requires day indexes built with ``store_cols=(facet_col, ...)``."""
        days = select_days(self.root, time_range)
        if not days:
            return []
        hits = self.bool_doc_ids(
            query, must=must, must_not=must_not,
            filters=filters, ranges=ranges, time_range=time_range,
        )
        out = (
            self._window_docstore(days).join(hits, "doc_id")
            .groupBy(F.col(facet_col).alias("facet"))
            .agg(F.count("*").alias("n"))
            .orderBy(F.desc("n"), F.asc("facet"))
        )
        rows = (out.limit(k) if k else out).collect()
        return [(r.facet, int(r.n)) for r in rows]

    def _window_docstore(self, days: list[str]) -> DataFrame:
        """Union of the selected days' docstores: one lazy read per day
        dir (a multi-path read trips partition discovery on the day=
        ancestor dirs), narrow union — still one plan, one action. Schema
        comes from ONE driver-side pyarrow footer probe (day configs agree
        — enforced by _merged_stats) so no per-day schema-inference Spark
        job runs. Each day's scan resolves updated docs latest-version-
        wins (``_dedup_docstore_df`` — a no-op for single-run days)."""
        from functools import reduce

        import pyarrow.dataset as pds
        from pyspark.sql.pandas.types import from_arrow_schema

        from .query import _dedup_docstore_df

        store_schema = from_arrow_schema(
            pds.dataset(
                os.path.join(day_dir(self.root, days[0]), "docstore"),
                format="parquet", partitioning="hive",
            ).schema
        )
        return reduce(
            DataFrame.unionByName,
            [
                _dedup_docstore_df(
                    self.spark.read.schema(store_schema).parquet(
                        os.path.join(day_dir(self.root, d), "docstore")
                    ),
                    day_dir(self.root, d),
                )
                for d in days
            ],
        )

    def search_aggs(
        self, aggs: dict, query: str = "", *,
        time_range: tuple | None = None,
        must: str | None = None, must_not: str | None = None,
        min_should: int = 0,
        filters: dict | None = None, ranges: dict | None = None,
        or_groups: list | None = None, not_atoms: list | None = None,
    ) -> dict[str, DataFrame]:
        """Windowed ES search aggregations — THE Kibana workload
        (date_histogram / terms / stats / cardinality / percentiles over
        "the last N days"): the window's matching ids (one unioned plan,
        ``bool_doc_ids``) join the unioned day docstores once, then one
        hash aggregation per agg (``query.aggs_over_join``). Aggregations
        over disjoint day corpora compose exactly — same spec shape as the
        single-index ``search_aggs``."""
        from .query import aggs_over_join

        days = select_days(self.root, time_range)
        if not days:
            return {name: self.spark.createDataFrame([], "key string, n long")
                    for name in aggs}
        hits = self.bool_doc_ids(
            query, must=must, must_not=must_not, min_should=min_should,
            filters=filters, ranges=ranges, or_groups=or_groups,
            not_atoms=not_atoms, time_range=time_range,
        )
        store = self._window_docstore(days)
        # background for significant_terms = the WINDOW's corpus (the day
        # dirs the query selected), matching ES's per-index background
        return aggs_over_join(store.join(hits, "doc_id"), aggs, background=store)

    def search_sorted(
        self, query: str, sort: list[tuple[str, str]], k: int = 10, *,
        time_range: tuple | None = None,
        must: str | None = None, must_not: str | None = None,
        min_should: int = 0,
        filters: dict | None = None, ranges: dict | None = None,
        search_after: tuple | None = None,
        or_groups: list | None = None, not_atoms: list | None = None,
    ) -> DataFrame:
        """Windowed sort-by-field + search_after export (the ES
        PIT/search_after deep-pagination shape over a time window): the
        window's matching ids join the unioned day docstores, then the
        direction-aware order + lexicographic after-predicate
        (``query.sorted_over_join``) — page N+1 costs the same as page 1."""
        from .query import sorted_over_join

        days = select_days(self.root, time_range)
        if not days:
            return self.spark.createDataFrame([], "doc_id long")
        hits = self.bool_doc_ids(
            query, must=must, must_not=must_not, min_should=min_should,
            filters=filters, ranges=ranges, or_groups=or_groups,
            not_atoms=not_atoms, time_range=time_range,
        )
        return sorted_over_join(
            self._window_docstore(days).join(hits, "doc_id"), sort, k, search_after
        )

    def phrase_rows(
        self, phrase: str, k: int = 10, *, time_range: tuple | None = None,
        after: tuple[float, int] | None = None, slop: int = 0,
    ) -> list[tuple[int, float]]:
        """``Searcher.phrase_rows`` over the window (positional daily
        indexes): zero Spark jobs."""
        w = self._window(time_range)
        if w is None:
            return []
        return w.phrase_rows(phrase, k, after=after, slop=slop)

    def multi_match_rows(
        self, query: str, fields: list[str], k: int = 10, *,
        type: str = "best_fields",  # noqa: A002 — the ES parameter name
        prune: bool = True, time_range: tuple | None = None,
    ) -> list[tuple[int, float]]:
        """``Searcher.multi_match_rows`` over the window: per-term df and
        per-field avgdl (Σ field cf / n_docs) both merge across the
        selected days."""
        w = self._window(time_range)
        if w is None:
            return []
        return w.multi_match_rows(query, fields, k, type=type, prune=prune)

    def expand_terms(
        self, kind: str, value: str, *,
        fuzziness: int = 1, prefix_length: int = 1, max_expansions: int = 50,
        time_range: tuple | None = None,
    ) -> list[str]:
        """Windowed prefix/wildcard/regexp/fuzzy expansion: each selected
        day contributes its UNRANKED (term, df) candidates
        (``query.expansion_candidates`` — range-sidecar / k-deletes
        pruned), dfs SUM per term across the disjoint day corpora, and the
        ES df-desc ranking applies ONCE to the merged frame — exact global
        ranking (a union of per-day top-N would not be)."""
        from .query import _rank_expansions, expansion_candidates

        days = select_days(self.root, time_range)
        if not days:
            return []
        frames = [
            expansion_candidates(
                day_dir(self.root, d), kind, value,
                fuzziness=fuzziness, prefix_length=prefix_length,
            )
            for d in days
        ]
        frames = [f for f in frames if len(f)]
        if not frames:
            return []
        merged = (
            pd.concat(frames, ignore_index=True)
            .groupby("term", as_index=False, sort=True)["df"].sum()
        )
        return _rank_expansions(merged, max_expansions, value.lower())

    def expansion_rows(
        self, kind: str, value: str, k: int = 10, *,
        fuzziness: int = 1, prefix_length: int = 1, max_expansions: int = 50,
        time_range: tuple | None = None,
    ) -> list[tuple[int, float]]:
        """Windowed expansion query: the merged expansion bag scored as a
        SHOULD bag over the window (window-merged stats)."""
        terms = self.expand_terms(
            kind, value, fuzziness=fuzziness, prefix_length=prefix_length,
            max_expansions=max_expansions, time_range=time_range,
        )
        if not terms:
            return []
        return self.search_rows(" ".join(terms), k, time_range=time_range)

    def more_like_this(
        self, like, k: int = 10, *,
        time_range: tuple | None = None,
        max_query_terms: int = 25, min_doc_freq: int = 2, min_term_freq: int = 1,
        exclude_self: bool = True,
    ) -> list[tuple[int, float]]:
        """``Searcher.more_like_this`` over the window: interestingness
        against the window-merged dictionary; a doc_id ``like`` resolves
        from the selected days' docstores."""
        w = self._window(time_range)
        if w is None:
            return []
        return w.more_like_this(
            like, k, max_query_terms=max_query_terms, min_doc_freq=min_doc_freq,
            min_term_freq=min_term_freq, exclude_self=exclude_self,
        )

    def mlt_terms(
        self, like, *, time_range: tuple | None = None,
        max_query_terms: int = 25, min_doc_freq: int = 2, min_term_freq: int = 1,
    ) -> tuple[list[str], int | None]:
        """``Searcher.mlt_terms`` over the window (the bag exact totals
        count)."""
        w = self._window(time_range)
        if w is None:
            return [], None
        return w.mlt_terms(
            like, max_query_terms=max_query_terms, min_doc_freq=min_doc_freq,
            min_term_freq=min_term_freq,
        )

    def search_docs(
        self, query: str, k: int = 10, *,
        time_range: tuple | None = None,
        must: str | None = None, must_not: str | None = None,
    ) -> list[dict]:
        """``Searcher.search_docs`` over the window: stored columns resolve
        from the selected days' docstores."""
        w = self._window(time_range)
        if w is None:
            return []
        return w.search_docs(query, k, must=must, must_not=must_not)
