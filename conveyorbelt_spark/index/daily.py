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

Serving: ``DailySearcher`` is a window view holding only day selection,
the per-day mtime caches and ``_window``. Each query selects the days
overlapping its ``time_range`` and builds a ``query.Searcher`` over them —
the same serving searcher a single index uses, reading a list of day
roots — and every method delegates to it: the driver paths are its
methods, the Spark plans (``bm25_topk``, ``bool_doc_ids``,
``facet_counts_spark``, ``search_aggs``, ``search_sorted``) take it in
place of an index dir, and ``dsl.search_body_daily`` hands it to
``dsl.search_body``. This module holds no query plan.

Scoring uses corpus statistics (n_docs, total_tokens → avgdl, and
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
kernel already handles; a distributed plan unions the days' pruned scans
(each day's committed runs and tombstones applied first) before its one
dedup, aggregation or sort, so its Spark job count does not grow with
the window.
"""

from __future__ import annotations

import datetime as dt
import glob
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F  # noqa: N812

from .build import build_index, load_stats
from .query import (
    Searcher,
    _Root,
    _tombs,
    bm25_topk,
    bool_doc_ids,
    facet_counts_spark,
    search_aggs,
    search_sorted,
)

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
    """Window view over a daily-index root. It holds only day selection,
    the per-day mtime caches and ``_window``: every query takes a
    ``time_range=(lo, hi)`` (datetimes; either side None = open), selects
    the overlapping day sub-indexes BEFORE any file is opened, and builds a
    ``query.Searcher`` over them. Each method delegates to that window
    Searcher (or hands it to the module plan of the same name — the plans
    take a Searcher in place of an index dir), so results are
    rank-identical to a single index built over exactly the window's
    documents (asserted in tests and by the q32 DuckDB oracle). An empty
    window answers empty."""

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
        """``query.bm25_topk`` over the window: one Spark scan over ONLY
        the selected days' segment dirs, global top-k."""
        w = self._window(time_range)
        if w is None:
            return self.spark.createDataFrame([], "doc_id long, score double")
        return bm25_topk(
            self.spark, w, query, k, prune, must=must, must_not=must_not,
            filters=filters, ranges=ranges,
        )

    def bool_doc_ids(
        self, query: str = "", *,
        must: str | None = None, must_not: str | None = None,
        min_should: int = 0,
        filters: dict | None = None, ranges: dict | None = None,
        or_groups: list | None = None, not_atoms: list | None = None,
        time_range: tuple | None = None,
    ) -> DataFrame:
        """``query.bool_doc_ids`` over the window: ONE plan, one Spark
        action whatever the day count."""
        w = self._window(time_range)
        if w is None:
            return self.spark.createDataFrame([], "doc_id long")
        return bool_doc_ids(
            self.spark, w, query, must=must, must_not=must_not,
            min_should=min_should, filters=filters, ranges=ranges,
            or_groups=or_groups, not_atoms=not_atoms,
        )

    def facet_counts(
        self, facet_col: str, query: str = "", *,
        time_range: tuple | None = None,
        must: str | None = None, must_not: str | None = None,
        filters: dict | None = None, ranges: dict | None = None,
        k: int | None = None,
    ) -> list[tuple]:
        """``query.facet_counts_spark`` over the window — the Kibana
        "top N <field> over the last 3 days" shape as ONE distributed plan
        whose job count is independent of the window width. Requires day
        indexes built with ``store_cols=(facet_col, ...)``."""
        w = self._window(time_range)
        if w is None:
            return []
        rows = facet_counts_spark(
            self.spark, w, facet_col, query, must=must, must_not=must_not,
            k=k, filters=filters, ranges=ranges,
        ).collect()
        return [(r.facet, int(r.n)) for r in rows]

    def search_aggs(
        self, aggs: dict, query: str = "", *,
        time_range: tuple | None = None,
        must: str | None = None, must_not: str | None = None,
        min_should: int = 0,
        filters: dict | None = None, ranges: dict | None = None,
        or_groups: list | None = None, not_atoms: list | None = None,
    ) -> dict[str, DataFrame]:
        """``query.search_aggs`` over the window — THE Kibana workload
        (date_histogram / terms / stats / cardinality / percentiles over
        "the last N days"); the significant_terms background is the
        window's corpus."""
        w = self._window(time_range)
        if w is None:
            return {name: self.spark.createDataFrame([], "key string, n long")
                    for name in aggs}
        return search_aggs(
            self.spark, w, aggs, query, must=must, must_not=must_not,
            min_should=min_should, filters=filters, ranges=ranges,
            or_groups=or_groups, not_atoms=not_atoms,
        )

    def search_sorted(
        self, query: str, sort: list[tuple[str, str]], k: int = 10, *,
        time_range: tuple | None = None,
        must: str | None = None, must_not: str | None = None,
        min_should: int = 0,
        filters: dict | None = None, ranges: dict | None = None,
        search_after: tuple | None = None,
        or_groups: list | None = None, not_atoms: list | None = None,
    ) -> DataFrame:
        """``query.search_sorted`` over the window (sort-by-field +
        search_after export: page N+1 costs the same as page 1)."""
        w = self._window(time_range)
        if w is None:
            return self.spark.createDataFrame([], "doc_id long")
        return search_sorted(
            self.spark, w, query, sort, k, must=must, must_not=must_not,
            min_should=min_should, filters=filters, ranges=ranges,
            search_after=search_after, or_groups=or_groups, not_atoms=not_atoms,
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
        """``Searcher.expand_terms`` over the window: dfs sum per term
        across the disjoint day corpora before the one df-desc ranking."""
        w = self._window(time_range)
        if w is None:
            return []
        return w.expand_terms(
            kind, value, fuzziness=fuzziness, prefix_length=prefix_length,
            max_expansions=max_expansions,
        )

    def expansion_rows(
        self, kind: str, value: str, k: int = 10, *,
        fuzziness: int = 1, prefix_length: int = 1, max_expansions: int = 50,
        time_range: tuple | None = None,
    ) -> list[tuple[int, float]]:
        """``Searcher.expansion_rows`` over the window."""
        w = self._window(time_range)
        if w is None:
            return []
        return w.expansion_rows(
            kind, value, k, fuzziness=fuzziness, prefix_length=prefix_length,
            max_expansions=max_expansions,
        )

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
