"""BM25 top-k query engine over the segment files.

Two paths:

- ``bm25_topk`` (the engine): dictionary lookup (driver-side, tiny) →
  segment scan pruned by term-hash partition (``tb``) AND term predicate →
  per-bucket vectorized scoring kernel with block-max pruning and a bounded
  top-k → global ``orderBy(score desc, doc_id asc).limit(k)``.
  Buckets are disjoint docID ranges, so per-bucket top-k is exact and the
  final merge is trivial. Scoring accumulates per-doc in ascending-term
  order in float64 — bit-identical to the oracle (SURVEY §7 Phase 4
  rank-identity requirement).

- ``Searcher`` (the serving path): the same plan and kernel on the
  driver — zero Spark jobs per query — for one index dir or a window of
  day indexes (``index.daily``). The kernel runs ONCE per query over the
  whole doc range, fed each term's decoded postings over every bucket from
  a per-term cache; only cache misses read blocks (pyarrow).

Scale: a query touches only the parquet partitions of its terms' hash
buckets (partition pruning on ``tb``) and only matching ``term`` row groups
(predicate pushdown + min/max stats); the kernel parallelism is n_buckets.
"""

from __future__ import annotations

import math
import os
from typing import NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F  # noqa: N812

from ..functions.codecs import varint_decode
from ..textutils import tokenize
from .build import load_stats


def idf(n_docs: int, df: int) -> float:
    """ES/Lucene BM25 idf: ln(1 + (N - df + 0.5) / (df + 0.5))."""
    return math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))


def _committed(stats: dict) -> set[str] | None:
    """The read snapshot: run values recorded in stats.json at the last
    commit. Scans filtered by it never see uncommitted / orphaned run
    partitions (mid-write batches, compaction leftovers) — df and scores
    stay exact across every crash window. None (legacy stats) = no filter.
    ``full`` covers the full-build artifact namespace (dictionary/doclens
    run=full vs manifest runs full-g*)."""
    runs = stats.get("committed_runs")
    if not runs:
        return None
    return set(runs) | {"full"}


def _run_of(path: str) -> str | None:
    """run value encoded in a file path's run=... directory, if any."""
    for part in path.split(os.sep):
        if part.startswith("run="):
            return part[4:]
    return None


def _filter_committed_files(files: list[str], committed: set[str] | None) -> list[str]:
    if committed is None:
        return files
    return [f for f in files if (_run_of(f) is None or _run_of(f) in committed)]


def _lookup_terms(
    spark: SparkSession, out_dir: str | list[str], terms: list[str],
    n_term_buckets: int, committed: set[str] | None | list = None,
) -> list[dict]:
    """Driver-side dictionary probe (J1: tiny side — broadcast by value).

    Term buckets are computed with the pure-Python xxh64 twin, so the probe
    is partition-pruned (tb=...) before anything runs. For local/posix paths
    the pruned files are read directly with pyarrow on the driver in ONE
    dataset read — ZERO Spark jobs per query; non-posix paths fall back to
    a pruned Spark read per dir (term-sorted row groups → min/max pushdown).

    The dictionary may hold one full run plus per-batch delta runs
    (dictionary/tb=K/run=R/): entries are merged on read — Σ df / Σ cf /
    Σ n_blocks per term. ``out_dir`` may be a list of index dirs (a window
    of day indexes, ``committed`` then the list of their read snapshots):
    the sums run across every dir, still in one dataset read. A query
    touches only its terms' tb partitions, so the merge cost is per-query
    O(matched rows), never O(dictionary)."""
    import glob

    from ..functions.hashing import term_bucket

    if not terms:
        return []
    one = isinstance(out_dir, str)
    dirs = [out_dir] if one else list(out_dir)
    snaps = [committed] if one else list(committed or [None] * len(dirs))
    tb_of = {t: term_bucket(t, n_term_buckets) for t in terms}
    tbs = sorted(set(tb_of.values()))
    merged: dict[str, dict] = {}

    def add(rows) -> None:
        for row in rows:
            t = row["term"]
            e = merged.setdefault(
                t, {"term": t, "df": 0, "cf": 0, "n_blocks": 0, "tb": tb_of[t]}
            )
            e["df"] += row["df"]
            e["cf"] += row["cf"]
            e["n_blocks"] += row["n_blocks"]

    if all(os.path.isdir(f"{d}/dictionary") for d in dirs):
        import pyarrow.dataset as ds

        files = [
            f
            for d, snap in zip(dirs, snaps)
            for tb in tbs
            for f in _filter_committed_files(
                glob.glob(f"{d}/dictionary/tb={tb}/run=*/*.parquet"), snap
            ) + glob.glob(f"{d}/dictionary/tb={tb}/*.parquet")  # legacy flat layout
        ]
        if files:
            add(ds.dataset(files, format="parquet").to_table(
                filter=ds.field("term").isin(sorted(tb_of))
            ).to_pylist())
        return list(merged.values())

    for d, snap in zip(dirs, snaps):
        df = spark.read.parquet(f"{d}/dictionary").where(
            F.col("tb").isin(tbs) & F.col("term").isin(terms)
        )
        if snap is not None and "run" in df.columns:
            df = df.where(F.col("run").isin(sorted(snap)))
        add(r.asDict() for r in (
            df.groupBy("term")
            .agg(F.sum("df").alias("df"), F.sum("cf").alias("cf"),
                 F.sum("n_blocks").alias("n_blocks"))
            .collect()
        ))
    return list(merged.values())


class _TermPostings:
    """Decoded-on-demand posting blocks of one term: within one bucket (a
    Spark kernel task) or over every bucket (the driver). Blocks are ordered
    by (bucket, blk), ties in read order; buckets are disjoint doc-id
    ranges, so both shapes score the same."""

    __slots__ = (
        "docs", "blk_bounds", "blk_max_tf", "blk_min_dl", "tf_bufs", "dl_bufs",
        "blk_n", "pos_bufs", "_dedup_mask", "_sorted_docs",
    )

    def __init__(self, grp: pd.DataFrame):
        grp = grp.sort_values(["bucket", "blk"], kind="stable")
        n_arr = grp["n"].to_numpy()
        docs = [np.cumsum(varint_decode(bb, int(n))) for bb, n in zip(grp["docs"], n_arr)]
        self.docs = np.concatenate(docs).astype(np.int64) if docs else np.zeros(0, np.int64)
        ends = np.cumsum(n_arr)
        self.blk_bounds = np.concatenate(([0], ends))
        self.blk_max_tf = grp["max_tf"].to_numpy(dtype=np.float64)
        self.blk_min_dl = grp["min_dl"].to_numpy(dtype=np.float64)
        self.tf_bufs = list(grp["tfs"])
        self.dl_bufs = list(grp["dls"])
        self.blk_n = n_arr
        self.pos_bufs = list(grp["poss"]) if "poss" in grp.columns else None
        self._dedup_mask = None
        self._sorted_docs = None

    @property
    def sorted_docs(self) -> np.ndarray:
        """Globally sorted copy of ``docs`` for membership (searchsorted)
        haystacks. ``docs`` itself is sorted only WITHIN each run's blocks:
        a term whose bucket spans multiple delta runs (base + index_batch
        deltas with colliding blk numbers) concatenates in blk order and is
        globally unsorted — binary-searching it directly returns garbage
        membership."""
        if self._sorted_docs is None:
            d = self.docs
            self._sorted_docs = d if bool(np.all(d[1:] >= d[:-1])) else np.sort(d)
        return self._sorted_docs

    @property
    def has_dups(self) -> bool:
        """A doc re-ingested in a delta run (pre-compaction) posts twice."""
        d = self.sorted_docs
        return bool(np.any(d[1:] == d[:-1]))

    def positions_for(self, sel_mask: np.ndarray):
        """Positions of the postings selected by ``sel_mask`` (boolean over
        ``self.docs`` order). Returns (doc_ids, positions, dls): one row per
        (doc, position) occurrence, plus per-occurrence doc length — all
        vectorized, decoding only blocks containing a selected posting."""
        assert self.pos_bufs is not None, "index was built without positions"
        out_docs, out_pos, out_dl = [], [], []
        for bi in range(len(self.blk_n)):
            lo, hi = int(self.blk_bounds[bi]), int(self.blk_bounds[bi + 1])
            if not sel_mask[lo:hi].any():
                continue
            n = int(self.blk_n[bi])
            tf_blk = varint_decode(self.tf_bufs[bi], n).astype(np.int64)
            dl_blk = varint_decode(self.dl_bufs[bi], n).astype(np.int64)
            total = int(tf_blk.sum())
            gaps = varint_decode(self.pos_bufs[bi], total).astype(np.int64)
            bounds = np.concatenate(([0], np.cumsum(tf_blk)))
            cs = np.cumsum(gaps)
            base = np.repeat(
                np.concatenate(([0], cs[bounds[1:-1] - 1])), tf_blk
            )
            abs_pos = cs - base  # per-posting cumsum (first gap is absolute)
            rep = np.repeat(np.arange(n), tf_blk)  # posting index per position
            keep = sel_mask[lo:hi][rep]
            out_docs.append(self.docs[lo + rep[keep]])
            out_pos.append(abs_pos[keep])
            out_dl.append(dl_blk[rep[keep]])
        if not out_docs:
            z = np.array([], dtype=np.int64)
            return z, z, z
        return (
            np.concatenate(out_docs),
            np.concatenate(out_pos),
            np.concatenate(out_dl),
        )

    def tf_dl_at(self, i: int) -> tuple[int, int]:
        """Decode (tf, dl) for ONE posting index — the explain API's
        per-document probe (decodes only the block containing it)."""
        bi = int(np.searchsorted(self.blk_bounds, i, side="right") - 1)
        off = int(i - self.blk_bounds[bi])
        tf = varint_decode(self.tf_bufs[bi], int(self.blk_n[bi]))[off]
        dl = varint_decode(self.dl_bufs[bi], int(self.blk_n[bi]))[off]
        return int(tf), int(dl)

    def upper_bounds(self, k1: float, b: float, avgdl: float) -> np.ndarray:
        """Per-posting weight upper bound from block (max_tf, min_dl):
        w is monotone ↑tf and ↓dl, so w(max_tf, min_dl) bounds the block."""
        ub_blk = (self.blk_max_tf * (k1 + 1.0)) / (
            self.blk_max_tf + k1 * (1.0 - b + b * (self.blk_min_dl / avgdl))
        )
        return np.repeat(ub_blk, self.blk_n)

    def weights(self, k1: float, b: float, avgdl: float, blocks: np.ndarray | None = None) -> np.ndarray:
        """Exact per-posting w; decodes tf/dl only for the requested blocks
        (None = all). Returns the full-length array with NaN for undecoded
        positions when ``blocks`` is given."""
        if blocks is None:
            blocks = np.arange(len(self.blk_n))
        w = np.full(len(self.docs), np.nan)
        for bi in blocks:
            tf = varint_decode(self.tf_bufs[bi], int(self.blk_n[bi])).astype(np.float64)
            dl = varint_decode(self.dl_bufs[bi], int(self.blk_n[bi])).astype(np.float64)
            w[self.blk_bounds[bi] : self.blk_bounds[bi + 1]] = (tf * (k1 + 1.0)) / (
                tf + k1 * (1.0 - b + b * (dl / avgdl))
            )
        return w


class _TpCache:
    """Byte-accounted LRU over decoded ``_TermPostings``, one entry per
    (term, with_poss) holding that term's blocks over every bucket — the
    level above the Searcher's block-frame LRU: a warm driver query reads
    its postings here and never touches a frame. Decoded postings (int64
    numpy arrays) are strictly LARGER than the varint frames they came from, so an
    entry-count bound leaves real memory unbounded (a ~270-term range
    expansion of stopword-grade terms can hold GBs before a count guard
    trips, then drop everything at once — a latency cliff). Here every
    put is charged its ndarray ``.nbytes`` + buffer bytes and the
    least-recently-used entries are evicted until the budget holds; warm
    results stay bit-identical through any eviction pattern (entries are
    pure decode products of immutable frames)."""

    def __init__(self, budget_bytes: int = 64 << 20):
        from collections import OrderedDict

        self.budget = budget_bytes
        self._d: dict = OrderedDict()
        self._sizes: dict = {}
        self.total = 0

    @staticmethod
    def _tp_bytes(tp: _TermPostings) -> int:
        # decoded docs charged ×2 — sorted_docs lazily materializes an
        # equally-sized sorted copy for multi-run groups
        n = tp.docs.nbytes * 2
        for arr in (tp.blk_bounds, tp.blk_max_tf, tp.blk_min_dl):
            n += arr.nbytes
        n += getattr(tp.blk_n, "nbytes", 8 * len(tp.blk_n))
        for bufs in (tp.tf_bufs, tp.dl_bufs, tp.pos_bufs or []):
            n += sum(len(b) for b in bufs if b is not None)
        return n

    def get(self, key):
        tp = self._d.get(key)
        if tp is not None:
            self._d.move_to_end(key)
        return tp

    def put(self, key, tp: _TermPostings) -> None:
        old = self._sizes.pop(key, None)
        if old is not None:
            self.total -= old
            self._d.pop(key, None)
        size = self._tp_bytes(tp)
        self._d[key] = tp
        self._sizes[key] = size
        self.total += size
        while self._d and self.total > self.budget:
            # evicts even the fresh entry when it alone exceeds the budget
            # (callers hold the returned object; nothing giant stays pinned)
            k, _ = self._d.popitem(last=False)
            self.total -= self._sizes.pop(k, 0)

    def clear(self) -> None:
        self._d.clear()
        self._sizes.clear()
        self.total = 0

    def __len__(self) -> int:
        return len(self._d)


def _tp_for(grp: pd.DataFrame, term: str, cache: _TpCache) -> _TermPostings:
    """Decoded postings of ``term`` from its block frame, memoized in
    ``cache`` (the Searcher's, cleared with its other caches on index
    mutation) under (term, with_poss). ``grp`` must hold ALL of the term's
    blocks — a Spark task's one-bucket frame or a doc-range slice is never
    memoized. Bag and phrase frames differ (positions), hence the second
    key part."""
    key = (term, "poss" in grp.columns)
    tp = cache.get(key)
    if tp is None:
        tp = _TermPostings(grp)
        cache.put(key, tp)
    return tp


def _postings_of(pdf: pd.DataFrame) -> dict[str, _TermPostings]:
    """The Spark-side kernel adapter: one task's block frame → {term:
    decoded postings}, the input every kernel core takes."""
    return {term: _TermPostings(grp) for term, grp in pdf.groupby("term", sort=True)}


def _kernel_rows(res: pd.DataFrame) -> list[tuple[int, float]]:
    """A driver kernel result (already ranked) as [(doc_id, score)]."""
    return list(zip(res["doc_id"].tolist(), res["score"].tolist()))


def _tombs(out_dir: str, stats: dict) -> dict:
    """Loaded tombstone map for the committed delete snapshot ({} when the
    index has no deletes — the common fast path costs one dict lookup)."""
    if not stats.get("tombstone_runs"):
        return {}
    from .delete import load_tombstones

    return load_tombstones(out_dir, stats)


def _searcher(spark: SparkSession, out_dir: "str | Searcher") -> "Searcher":
    """The handle a distributed plan reads: ``out_dir`` is an index dir
    (a fresh one-root Searcher) or a Searcher (one index or a day window,
    at its current snapshot)."""
    if isinstance(out_dir, Searcher):
        out_dir._maybe_invalidate()
        return out_dir
    return Searcher(spark, out_dir)


def _seg_union(s: "Searcher", tbs, terms, cols: list[str]) -> DataFrame:
    """THE per-root read rule of every distributed posting plan: each root
    of ``s`` contributes its segment scan pruned to ``tbs`` partitions and
    ``terms`` row groups, restricted to its committed-run snapshot (run is
    a partition column, so whole directories prune), with ITS tombstones
    applied by block surgery; then the roots' scans union. Day indexes
    reuse run names (full-g0, batch_N), so one merged tombstone map would
    mix days. Surgery is row-local and the union narrow: one plan, one
    dedup/aggregation/sort downstream, whatever the root count. The
    schema is EXPLICIT (from the stats config), so no read runs Spark's
    1-task parquet schema-inference job."""
    from functools import reduce

    from .build import BLOCKS_POS_SCHEMA, BLOCKS_SCHEMA

    parts = []
    for r in s._roots:
        base = BLOCKS_POS_SCHEMA if r.stats.get("positions") else BLOCKS_SCHEMA
        seg = s.spark.read.schema(base + ", tb int, run string").parquet(
            f"{r.dir}/segments"
        )
        c = _committed(r.stats)
        if c is not None:
            seg = seg.where(F.col("run").isin(sorted(c)))
        seg = seg.where(F.col("tb").isin(tbs) & F.col("term").isin(terms))
        if not r.tomb:
            parts.append(seg.select(*cols))
            continue

        def strip(it, _t=r.tomb):
            from .delete import apply_tombstones

            for pdf in it:
                yield apply_tombstones(pdf, _t)[cols]

        # surgery rebuilds a touched block from its full block columns
        read = list(dict.fromkeys([*cols, *_BLOCK_COLS, "run"]))
        parts.append(
            seg.select(*read).mapInPandas(strip, schema=seg.select(*cols).schema)
        )
    return reduce(DataFrame.unionByName, parts)


# the empty kernel result (read-only: every consumer only reads it)
_EMPTY_HITS = pd.DataFrame(
    {"doc_id": pd.Series(dtype="int64"), "score": pd.Series(dtype="float64")}
)


def _topk_idx(scores: np.ndarray, doc_ids: np.ndarray, k: int) -> np.ndarray:
    """Indices of the top-k by (score desc, doc_id asc), DETERMINISTIC at
    the cut boundary. A plain ``argpartition(-scores, k-1)[:k]`` keeps an
    ARBITRARY subset of docs tied at the k-th score — two runs (or the
    kernel vs an oracle) can disagree on which tied docs survive. Here the
    k-th score is found with O(n) partition, docs strictly above it all
    survive, and the tie group is ordered by doc_id; only the candidates at
    or above the threshold pay the O(m log m) sort."""
    n = len(scores)
    if k <= 0:
        # ES "size": 0 (aggs-/count-only requests) reaches every kernel
        return np.arange(0)
    if n <= k:
        idx = np.arange(n)
        order = np.lexsort((doc_ids[idx], -scores[idx]))
        return idx[order]
    thr = np.partition(scores, n - k)[n - k]  # the k-th largest score
    cand = np.flatnonzero(scores >= thr)
    order = np.lexsort((doc_ids[cand], -scores[cand]))
    return cand[order][:k]


def _in_sorted(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Boolean mask: which elements of ``a`` appear in SORTED-unique ``b``."""
    if not len(b):
        return np.zeros(len(a), dtype=bool)
    pos = np.searchsorted(b, a)
    mask = pos < len(b)
    mask[mask] = b[pos[mask]] == a[mask]
    return mask


def _score_kernel(
    term_idf: dict[str, float],
    k: int,
    prune: bool = True,
    must_terms: tuple[str, ...] = (),
    not_terms: tuple[str, ...] = (),
    should_terms: tuple[str, ...] = (),
    min_should: int = 0,
    filter_groups: tuple[tuple[str, ...], ...] = (),
    after: tuple[float, int] | None = None,
    slice_mod: tuple[int, int] | None = None,
):
    """The BM25 kernel: boolean candidate set + block-max WAND pruning +
    exact rescoring. ES bool-query semantics: ``term_idf`` keys are the
    SCORING terms (should ∪ must); ``must_terms`` restrict candidates to
    docs containing every one; ``not_terms`` exclude docs containing any.

    One core, two inputs: a Spark task passes one bucket's block frame
    (``groupBy("bucket").applyInPandas``); the driver passes {term:
    _TermPostings} resolved over EVERY bucket from the Searcher's tp cache,
    one call per query. Buckets are disjoint doc-id ranges (a doc lives in
    exactly one), so filtering is complete in either shape and the top-k
    of the whole range equals the merge of the per-bucket top-ks.

    Phase 1 — θ seed: exact single-term scores (restricted to candidates)
    from the highest-idf present term; θ = its k-th best — a LOWER bound of
    the true k-th candidate score.
    Phase 2 — upper bounds: per-candidate Σ idf·block_max_w (block-max
    metadata only, no tf/dl decode). Candidates with ub < θ are pruned.
    Phase 3 — exact scoring of survivors, decoding only blocks that contain
    a survivor, accumulating per-doc in ascending-term order in float64
    (bit-identical to oracle.py).
    Results are provably identical to exhaustive scoring.

    Memory guard: ``score_bucket.max_candidates`` (attr, default None)
    bounds the decoded-postings working set of a FRAME input. A
    stopword-grade group on an under-bucketed index (df ~ N_docs/n_buckets
    postings landing in ONE kernel call) is then scored in doc-id RANGE
    SLICES: blocks are selected by their (min_doc, max_doc) metadata BEFORE
    decode, each slice scores only docs in its range (boundary blocks
    decode twice, docs never score twice), and the per-slice exact top-k
    merge is exact because slices tile the frame's id space. Degrades
    gracefully instead of OOM; proper sizing is still n_buckets ≳ max
    head-term df / max_candidates. (The driver hands a frame, not cached
    postings, whenever the query's dictionary df could pass the cap.)

    ``after`` = (score, doc_id) enables SCORE-ORDER search_after (ES deep
    relevance pagination): only docs strictly after that cursor in
    (score desc, doc_id asc) order survive. Scores are deterministic
    float64 sums, so the cursor score from page N compares EXACTLY on
    page N+1. WAND pruning is disabled on after-pages — θ bounds the
    CURRENT top-k, and an after-page's true results score below it, so
    pruning would drop them; the after-filter applies post-scoring,
    pre-top-k.

    ``slice_mod`` = (slice_id, max_slices) restricts candidates to the
    docs with ``doc_id % max_slices == slice_id`` — the ES sliced-scroll
    partition rule (hash(_id) % max; our ids ARE the hash). Slices are
    disjoint and tile the full result set, so N sliced scrolls drained in
    parallel are an exact partition of one unsliced export. Applied at
    candidate formation, before scoring — WAND θ then bounds the slice's
    own top-k, so pruning stays exact per slice."""
    terms_sorted = sorted(term_idf)
    must_terms = tuple(sorted(must_terms))
    not_terms = tuple(sorted(not_terms))
    should_terms = tuple(sorted(should_terms))

    def score_bucket(src):
        if isinstance(src, dict):
            return _score_postings(src)
        cap = getattr(score_bucket, "max_candidates", None)
        total = int(src["n"].sum())
        if not cap or total <= cap:
            return _score_postings(_postings_of(src))
        lo_all = int(src["min_doc"].min())
        hi_all = int(src["max_doc"].max()) + 1
        n_slices = int(math.ceil(total / cap))
        span = hi_all - lo_all
        edges = [lo_all + span * i // n_slices for i in range(n_slices)] + [hi_all]
        outs = []
        mind = src["min_doc"].to_numpy()
        maxd = src["max_doc"].to_numpy()
        for lo, hi in zip(edges[:-1], edges[1:]):
            if lo >= hi:
                continue
            sel = (maxd >= lo) & (mind < hi)
            if not sel.any():
                continue
            part = _score_postings(_postings_of(src[sel]), doc_range=(lo, hi))
            if len(part):
                outs.append(part)
        if not outs:
            return _EMPTY_HITS
        allr = pd.concat(outs, ignore_index=True)
        allr = allr.sort_values(
            ["score", "doc_id"], ascending=[False, True], kind="mergesort"
        )
        return allr.head(k).reset_index(drop=True)

    def _score_postings(
        per_term: dict[str, _TermPostings], doc_range: tuple[int, int] | None = None
    ) -> pd.DataFrame:
        empty = _EMPTY_HITS
        k1, b, avgdl = score_bucket.k1, score_bucket.b, score_bucket.avgdl
        abt = getattr(score_bucket, "avgdl_by_term", None)

        def _avg(t: str) -> float:
            # multi-field queries: each field-qualified term normalizes by
            # ITS field's average length (ES per-field BM25 norms)
            return abt.get(t, avgdl) if abt else avgdl
        # incremental indexes may re-ingest a doc in a delta segment —
        # dedup disables block pruning (block bookkeeping no longer
        # aligns), so fall back to exhaustive in that case
        if any(tp.has_dups for tp in per_term.values()):
            return _exhaustive(
                per_term, term_idf, terms_sorted, k, k1, b, avgdl, must_terms, not_terms,
                doc_range=doc_range, should_terms=should_terms, min_should=min_should,
                filter_groups=filter_groups, avgdl_by_term=abt, after=after,
                slice_mod=slice_mod,
            )
        if not any(t in per_term for t in terms_sorted):
            return empty

        all_docs = np.unique(
            np.concatenate([per_term[t].docs for t in terms_sorted if t in per_term])
        )
        if doc_range is not None:
            # boundary blocks carry out-of-slice docs; they score in their
            # own slice
            all_docs = all_docs[(all_docs >= doc_range[0]) & (all_docs < doc_range[1])]
            if not len(all_docs):
                return empty
        cand = all_docs
        if slice_mod is not None:
            cand = cand[cand % slice_mod[1] == slice_mod[0]]
            if not len(cand):
                return empty
        for mt in must_terms:
            tp = per_term.get(mt)
            if tp is None:
                return empty  # a required term absent from the doc range
            cand = cand[_in_sorted(cand, tp.sorted_docs)]
        if (min_should > 1 or (min_should == 1 and must_terms)) and len(cand):
            # ES minimum_should_match: keep docs matching ≥ m SHOULD terms.
            # m == 1 needs enforcing only alongside must terms — without
            # them every candidate already matches ≥1 scoring (should)
            # term; with them a doc matching musts alone must drop (ES
            # makes should REQUIRED once minimum_should_match is explicit)
            cnt = np.zeros(len(cand), dtype=np.int32)
            for st in should_terms:
                tp = per_term.get(st)
                if tp is not None:
                    cnt[_in_sorted(cand, tp.sorted_docs)] += 1
            cand = cand[cnt >= min_should]
        for nt in not_terms:
            tp = per_term.get(nt)
            if tp is not None:
                cand = cand[~_in_sorted(cand, tp.sorted_docs)]
        # ES filter context: each group is an OR over keyword terms, all
        # groups AND. Keyword postings live in the same doc-range bucket as
        # the doc's text postings, so filtering a bucket alone is complete.
        for grp in filter_groups:
            if not len(cand):
                return empty
            keep = np.zeros(len(cand), dtype=bool)
            present = False
            for ft in grp:
                tp = per_term.get(ft)
                if tp is not None:
                    present = True
                    keep |= _in_sorted(cand, tp.sorted_docs)
            if not present:
                return empty  # no doc in the range carries any group value
            cand = cand[keep]
        if not len(cand):
            return empty

        survivors = cand
        if after is None and prune and len(cand) > 4 * k:
            # phase 1: θ from the rarest present term's exact scores,
            # restricted to the candidate set (an unfiltered θ could exceed
            # the best achievable filtered score and over-prune)
            present = [t for t in terms_sorted if t in per_term]
            seed_term = max(present, key=lambda t: term_idf[t])
            tp = per_term[seed_term]
            smask = _in_sorted(tp.docs, cand)
            seed_scores = term_idf[seed_term] * tp.weights(k1, b, _avg(seed_term))[smask]
            if len(seed_scores) >= k:
                theta = np.partition(seed_scores, len(seed_scores) - k)[len(seed_scores) - k]
            else:
                theta = 0.0
            if theta > 0:
                # phase 2: block-max upper bounds per candidate
                ub = np.zeros(cand.shape, dtype=np.float64)
                for term in present:
                    tp2 = per_term[term]
                    pos = np.searchsorted(cand, tp2.docs)
                    ok = pos < len(cand)
                    member = _in_sorted(tp2.docs, cand)
                    ub[pos[ok & member]] += (
                        term_idf[term] * tp2.upper_bounds(k1, b, _avg(term))[ok & member]
                    )
                survivors = cand[ub >= theta]

        # phase 3: exact scores for survivors only
        scores = np.zeros(survivors.shape, dtype=np.float64)
        for term in terms_sorted:
            tp = per_term.get(term)
            if tp is None:
                continue
            if survivors is all_docs:
                blocks = None
            else:
                # blocks overlapping any survivor (min/max doc range test)
                lo = tp.docs[tp.blk_bounds[:-1]]
                hi = tp.docs[tp.blk_bounds[1:] - 1]
                has = np.searchsorted(survivors, lo) != np.searchsorted(
                    survivors, hi, side="right"
                )
                blocks = np.flatnonzero(has)
            w = tp.weights(k1, b, _avg(term), blocks)
            pos = np.searchsorted(survivors, tp.docs)
            ok = (pos < len(survivors)) & ~np.isnan(w)
            pos_ok = pos[ok]
            member = survivors[np.clip(pos_ok, 0, len(survivors) - 1)] == tp.docs[ok]
            idxs = pos_ok[member]
            scores[idxs] += term_idf[term] * w[ok][member]

        if after is not None:
            a_s, a_d = float(after[0]), int(after[1])
            keep = (scores < a_s) | ((scores == a_s) & (survivors > a_d))
            survivors, scores = survivors[keep], scores[keep]
            if not len(survivors):
                return empty
        idx = _topk_idx(scores, survivors, k)
        return pd.DataFrame({"doc_id": survivors[idx], "score": scores[idx]})

    return score_bucket


def _exhaustive(
    postings, term_idf, terms_sorted, k, k1, b, avgdl, must_terms=(), not_terms=(),
    doc_range=None, should_terms=(), min_should=0, filter_groups=(),
    avgdl_by_term=None, after=None, slice_mod=None,
) -> pd.DataFrame:
    """Fallback exhaustive scorer (handles duplicate doc_ids from deltas:
    keep-first in block order), with the same boolean candidate semantics
    as the pruned kernel, over the same {term: _TermPostings} input."""
    empty = _EMPTY_HITS
    per_term: dict[str, tuple[np.ndarray, np.ndarray]] = {}
    sorted_docs: dict[str, np.ndarray] = {}
    for term in sorted(postings):
        tp = postings[term]
        w = tp.weights(
            k1, b, avgdl_by_term.get(term, avgdl) if avgdl_by_term else avgdl
        )
        docs = tp.docs
        if len(docs) > 1:
            uniq, first_idx = np.unique(docs, return_index=True)
            if len(uniq) != len(docs):
                docs, w = uniq, w[first_idx]
        per_term[term] = (docs, w)
        # membership haystacks must be globally sorted (multi-run groups
        # concatenate in blk order — see _TermPostings.sorted_docs)
        sorted_docs[term] = docs if bool(np.all(docs[1:] >= docs[:-1])) else np.sort(docs)
    scoring = [t for t in terms_sorted if t in per_term]
    if not scoring:
        return empty
    all_docs = np.unique(np.concatenate([per_term[t][0] for t in scoring]))
    if doc_range is not None:
        all_docs = all_docs[(all_docs >= doc_range[0]) & (all_docs < doc_range[1])]
    cand = all_docs
    if slice_mod is not None:
        cand = cand[cand % slice_mod[1] == slice_mod[0]]
    for mt in must_terms:
        if mt not in per_term:
            return empty
        cand = cand[_in_sorted(cand, sorted_docs[mt])]
    if (min_should > 1 or (min_should == 1 and must_terms)) and len(cand):
        cnt = np.zeros(len(cand), dtype=np.int32)
        for st in should_terms:
            if st in per_term:
                cnt[_in_sorted(cand, sorted_docs[st])] += 1
        cand = cand[cnt >= min_should]
    for nt in not_terms:
        if nt in per_term:
            cand = cand[~_in_sorted(cand, sorted_docs[nt])]
    for grp in filter_groups:
        if not len(cand):
            return empty
        keep = np.zeros(len(cand), dtype=bool)
        present = False
        for ft in grp:
            if ft in per_term:
                present = True
                keep |= _in_sorted(cand, sorted_docs[ft])
        if not present:
            return empty
        cand = cand[keep]
    if not len(cand):
        return empty
    scores = np.zeros(cand.shape, dtype=np.float64)
    for term in scoring:
        docs, w = per_term[term]
        member = _in_sorted(docs, cand)
        pos = np.searchsorted(cand, docs[member])
        scores[pos] += term_idf[term] * w[member]
    if after is not None:
        a_s, a_d = float(after[0]), int(after[1])
        keep = (scores < a_s) | ((scores == a_s) & (cand > a_d))
        cand, scores = cand[keep], scores[keep]
        if not len(cand):
            return empty
    idx = _topk_idx(scores, cand, k)
    return pd.DataFrame({"doc_id": cand[idx], "score": scores[idx]})


_BLOCK_COLS = [
    "bucket", "term", "blk", "n", "min_doc", "max_doc",
    "max_tf", "min_dl", "docs", "tfs", "dls",
]
_POS_COLS = _BLOCK_COLS + ["poss"]


def _read_blocks_local(
    out_dir: str, tbs: list[int], terms: list[str], columns=None,
    committed: set[str] | None = None, with_run: bool = False,
):
    """Driver-side pyarrow read of the matched posting blocks (posix paths
    only): same pruning as the Spark scan — tb partition directories +
    term row-group stats — but zero Spark jobs; ``committed`` restricts to
    the stats.json read snapshot. ``with_run=True`` attaches each block's
    run partition value (needed to apply tombstones). Returns a pandas
    frame or None when the index isn't locally readable."""
    import glob

    cols = list(columns or _BLOCK_COLS)
    seg_dir = f"{out_dir}/segments"
    if not os.path.isdir(seg_dir):
        return None
    import pyarrow.dataset as ds

    frames = []
    for tb in tbs:
        files = _filter_committed_files(
            glob.glob(f"{seg_dir}/tb={tb}/run=*/*.parquet"), committed
        ) + glob.glob(f"{seg_dir}/tb={tb}/*.parquet")  # legacy flat layout
        if not files:
            continue
        if with_run:
            by_run: dict[str, list[str]] = {}
            for fp in files:
                run = _run_of(fp) or ""
                by_run.setdefault(run, []).append(fp)
            for run, fps in sorted(by_run.items()):
                tbl = ds.dataset(fps, format="parquet").to_table(
                    filter=ds.field("term").isin(terms), columns=cols
                )
                if tbl.num_rows:
                    pdf = tbl.to_pandas()
                    pdf["run"] = run
                    frames.append(pdf)
        else:
            tbl = ds.dataset(files, format="parquet").to_table(
                filter=ds.field("term").isin(terms), columns=cols
            )
            if tbl.num_rows:
                frames.append(tbl.to_pandas())
    out_cols = cols + (["run"] if with_run else [])
    if not frames:
        return pd.DataFrame(columns=out_cols)
    return pd.concat(frames, ignore_index=True)


def _score_local(
    src, term_idf: dict[str, float], k: int, stats: dict, prune: bool,
    must_terms: tuple[str, ...] = (), not_terms: tuple[str, ...] = (),
    max_candidates: int | None = None,
    should_terms: tuple[str, ...] = (), min_should: int = 0,
    filter_groups: tuple[tuple[str, ...], ...] = (),
    after: tuple[float, int] | None = None,
    slice_mod: tuple[int, int] | None = None,
    avgdl_by_term: dict[str, float] | None = None,
) -> list[tuple[int, float]]:
    """Run the scoring kernel in-driver, ONE call over the whole doc range:
    ``src`` is the Searcher's {term: _TermPostings} (from its tp cache,
    ``Searcher._kernel_input``) or, when ``max_candidates`` may bind, the
    block frame of every bucket, which the kernel slices by doc range."""
    kern = _score_kernel(
        term_idf, k, prune=prune, must_terms=must_terms, not_terms=not_terms,
        should_terms=should_terms, min_should=min_should, filter_groups=filter_groups,
        after=after, slice_mod=slice_mod,
    )
    kern.k1, kern.b, kern.avgdl = stats["k1"], stats["b"], stats["avgdl"]
    kern.max_candidates = max_candidates
    kern.avgdl_by_term = avgdl_by_term
    return _kernel_rows(kern(src))


MAX_RANGE_EXPANSIONS = 4096  # range filters expand to ≤ this many keyword terms


def _atom_terms(atom: tuple, range_expand) -> list[str]:
    """One filter ATOM → the raw index terms it matches. Atoms are the
    engine-level currency nested DSL bools compile to (``index.dsl``):

    - ``("eq", field, value)``      — one keyword posting term
    - ``("in", field, [values])``   — several keyword posting terms
    - ``("range", field, lo, hi)``  — inclusive string-order expansion
                                      against the sorted term_index
    - ``("exists", field)``         — EVERY indexed value of the field
                                      (the field's keyword-prefix range)
    - ``("tok", token)``            — a raw MAIN-FIELD token (non-scoring
                                      text constraint: ES match inside
                                      filter context)
    """
    from .build import KEYWORD_SEP

    kind = atom[0]
    if kind == "eq":
        _, field, val = atom
        return [f"{field}{KEYWORD_SEP}{val}"]
    if kind == "in":
        _, field, vals = atom
        return [f"{field}{KEYWORD_SEP}{v}" for v in vals]
    if kind == "tok":
        return [atom[1]]
    if kind == "range":
        _, field, lo, hi = atom
        lo_t = f"{field}{KEYWORD_SEP}{lo}"
        hi_t = f"{field}{KEYWORD_SEP}{hi}" + "\x00"  # inclusive upper bound
    elif kind == "exists":
        _, field = atom
        lo_t = f"{field}{KEYWORD_SEP}"
        hi_t = _range_hi(lo_t)
    else:
        raise ValueError(f"unknown filter atom kind {kind!r}")
    terms = range_expand(lo_t, hi_t)
    if len(terms) > MAX_RANGE_EXPANSIONS:
        raise ValueError(
            f"filter on {atom[1]!r} expands to {len(terms)} terms "
            f"(> {MAX_RANGE_EXPANSIONS}); index a coarser granularity "
            "keyword (e.g. a day string) for wide ranges"
        )
    return list(terms)


def _expand_atoms(atoms, range_expand) -> list[str]:
    """Flat expansion of several atoms (the must_not keyword set)."""
    out: set[str] = set()
    for atom in atoms or []:
        out.update(_atom_terms(atom, range_expand))
    return sorted(out)


def _filter_want(filters, ranges, range_expand, or_groups=None) -> list[list[str]] | None:
    """ES filter context → desired term groups (AND of OR-groups), before
    the dictionary probe. ``filters`` maps field → value or list of values
    (exact keyword terms); ``ranges`` maps field → (lo, hi) INCLUSIVE string
    bounds, expanded to the indexed keyword terms in that range via
    ``range_expand(lo_term, hi_term_exclusive)``; ``or_groups`` is a list
    of ATOM groups (see ``_atom_terms``) — each group is an OR across its
    atoms' terms (possibly across DIFFERENT fields: the nested-bool /
    Kibana multi-pill shape), all groups AND. Returns None when some group
    matches no indexed value (provably empty)."""
    from .build import KEYWORD_SEP

    want: list[list[str]] = []
    for field, vals in (filters or {}).items():
        vv = vals if isinstance(vals, (list, tuple, set)) else [vals]
        want.append([f"{field}{KEYWORD_SEP}{v}" for v in vv])
    for field, (lo, hi) in (ranges or {}).items():
        terms = _atom_terms(("range", field, lo, hi), range_expand)
        if not terms:
            return None
        want.append(sorted(terms))
    for grp in or_groups or []:
        terms = sorted({t for atom in grp for t in _atom_terms(atom, range_expand)})
        if not terms:
            return None
        want.append(terms)
    return want


def _resolve_filters(filters, ranges, lookup, range_expand, or_groups=None):
    """Probe the filter groups against the dictionary. Returns
    (filter_groups, extra_tbs, extra_scan_terms), or None when some group
    has no indexed member (no document can match)."""
    want = _filter_want(filters, ranges, range_expand, or_groups)
    if want is None:
        return None
    if not want:
        return (), set(), []
    flat = sorted({t for grp in want for t in grp})
    by_term = {e["term"]: e for e in lookup(flat)}
    groups, tbs, scan = [], set(), []
    for grp in want:
        present = tuple(sorted(t for t in grp if t in by_term))
        if not present:
            return None
        groups.append(present)
        scan.extend(present)
        tbs.update(int(by_term[t]["tb"]) for t in present)
    return tuple(groups), tbs, sorted(set(scan))


def _bool_plan(
    s: "Searcher", query: str, must: str | None, must_not: str | None,
    filters: dict | None = None,
    ranges: dict | None = None,
    or_groups: list | None = None,
    not_atoms: list | None = None,
):
    """Resolve the bool-query term sets against the dictionary. Returns
    (term_idf, must_terms, not_terms, tbs, scan_terms, should_present,
    filter_groups) or None when the result is provably empty (no scoring
    term indexed / a must term missing from the dictionary entirely / a
    filter group with no indexed member). ``or_groups`` adds cross-field
    OR filter groups and ``not_atoms`` keyword-level exclusions (both in
    ATOM form — see ``_atom_terms``; the nested-bool DSL compiles to
    these). Stats, dictionary probe and range expansion are ``s``'s."""
    from ..textutils import analyze

    az = s.stats.get("analyzer")
    should_terms = set(analyze(query, az)) if query else set()
    must_terms = set(analyze(must, az)) if must else set()
    not_terms = set(analyze(must_not, az)) if must_not else set()
    if not_atoms:
        # keyword-level must_not (raw index terms, never analyzed): they
        # ride the same not-set as analyzed text exclusions
        not_terms |= set(_expand_atoms(not_atoms, s._range_expand))
    scoring = sorted(should_terms | must_terms)  # ES: must terms also score
    entries = s._entries(sorted(set(scoring) | not_terms))
    by_term = {e["term"]: e for e in entries}
    term_idf = {
        t: idf(s.stats["n_docs"], int(by_term[t]["df"])) for t in scoring if t in by_term
    }
    if not term_idf:
        return None
    if any(mt not in by_term for mt in must_terms):
        return None  # a required term appears nowhere in the corpus
    not_found = tuple(sorted(t for t in not_terms if t in by_term))
    scan_terms = sorted(set(term_idf) | set(not_found))
    tb_set = {int(by_term[t]["tb"]) for t in scan_terms}
    filter_groups: tuple[tuple[str, ...], ...] = ()
    if filters or ranges or or_groups:
        resolved = _resolve_filters(
            filters, ranges, s._entries, s._range_expand, or_groups
        )
        if resolved is None:
            return None
        filter_groups, f_tbs, f_scan = resolved
        tb_set |= f_tbs
        scan_terms = sorted(set(scan_terms) | set(f_scan))
    tbs = sorted(tb_set)
    should_present = tuple(sorted(t for t in should_terms if t in by_term))
    return (
        term_idf, tuple(sorted(must_terms)), not_found, tbs, scan_terms,
        should_present, filter_groups,
    )


def bm25_topk(
    spark: SparkSession,
    out_dir: "str | Searcher",
    query: str,
    k: int | None = 10,
    prune: bool = True,
    must_not: str | None = None,
    must: str | None = None,
    max_candidates: int | None = None,
    min_should: int = 0,
    filters: dict | None = None,
    ranges: dict | None = None,
    or_groups: list | None = None,
    not_atoms: list | None = None,
    after: tuple[float, int] | None = None,
    slice_mod: tuple[int, int] | None = None,
) -> DataFrame:
    """Top-k (doc_id, score) for ``query``, ranked by (score desc, doc_id
    asc). ``prune=False`` disables block-max WAND (identical results —
    asserted in tests; pruning only skips work). ``max_candidates`` bounds
    each kernel task's decoded working set (doc-range slicing — see
    ``_score_kernel``); None = size for n_buckets ≳ head-term df / memory.

    ES bool-query surface: ``query`` = SHOULD (scores), ``must`` = terms
    every hit must contain (they score too), ``must_not`` = terms no hit
    may contain (J4), ``min_should`` = ES minimum_should_match (hits must
    match ≥ that many SHOULD terms). Filtering happens inside the
    per-bucket kernel — doc-range buckets make per-bucket exclusion
    complete, so no extra scan or anti-join is needed.

    ES FILTER CONTEXT (keyword fields indexed via ``keyword_cols``):
    ``filters`` = {field: value | [values]} exact keyword matches (list =
    OR), ``ranges`` = {field: (lo, hi)} inclusive string-order range over
    indexed values (expanded against the sorted term_index — encode
    numerics with ``sortable_int``). Filter terms never contribute score
    (ES filter-context semantics) — hits keep exactly the scores they'd
    have unfiltered.

    ``out_dir`` is an index dir or a Searcher (one index or a day window:
    every root's scan unions before the one kernel shuffle, ``_seg_union``)."""
    s = _searcher(spark, out_dir)
    empty = spark.createDataFrame([], "doc_id long, score double")
    plan = _bool_plan(
        s, query, must, must_not, filters=filters,
        ranges=ranges, or_groups=or_groups, not_atoms=not_atoms,
    )
    if plan is None:
        return empty
    term_idf, must_terms, not_terms, tbs, scan_terms, should_present, fgroups = plan
    if min_should > len(should_present):
        return empty  # fewer indexed SHOULD terms than required matches

    seg = _seg_union(s, tbs, scan_terms, _BLOCK_COLS)
    kern = _score_kernel(
        # k=None = the FULL scored matching set (collapse / rescore
        # consumers): the kernel skips per-bucket truncation and pruning
        # has nothing to cut, but the posting scan — the dominant cost —
        # is identical
        term_idf, (1 << 62) if k is None else k, prune=prune and k is not None,
        must_terms=must_terms, not_terms=not_terms,
        should_terms=should_present, min_should=min_should, filter_groups=fgroups,
        after=after, slice_mod=slice_mod,
    )
    kern.k1, kern.b, kern.avgdl = s.stats["k1"], s.stats["b"], s.stats["avgdl"]
    kern.max_candidates = max_candidates
    local = seg.groupBy("bucket").applyInPandas(kern, schema="doc_id long, score double")
    if k is None:
        return local
    return local.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


MAIN_FIELD_NAMES = ("", "text", "_text")


def _parse_fields(fields) -> list[tuple[str | None, float]]:
    """ES field spec: ["title^2", "text"] → [("title", 2.0), (None, 1.0)]
    (None = the main, unprefixed field)."""
    out = []
    for f in fields:
        name, _, boost = f.partition("^")
        b = float(boost) if boost else 1.0
        out.append((None if name in MAIN_FIELD_NAMES else name, b))
    return out


def _multi_match_plan(s: "Searcher", query, fields):
    """Per-field term/idf/avgdl resolution for multi_match over ``s``'s
    roots. Returns (per_field, tbs, scan_terms) where per_field = [(field,
    boost, term_idf, avgdl)] keeping only fields with ≥1 indexed term;
    None when nothing matches anywhere."""
    from ..textutils import analyze
    from .build import KEYWORD_SEP

    stats = s.stats
    toks = analyze(query, stats.get("analyzer"))
    if not toks:
        return None
    parsed = _parse_fields(fields)
    want: dict[str, list[str]] = {}
    all_terms: set[str] = set()
    for fname, _ in parsed:
        qual = [
            t if fname is None else f"{fname}{KEYWORD_SEP}{t}" for t in sorted(set(toks))
        ]
        want[fname or ""] = qual
        all_terms.update(qual)
    by_term = {e["term"]: e for e in s._entries(sorted(all_terms))}
    per_field, tbs, scan = [], set(), set()
    for fname, boost in parsed:
        qual = [t for t in want[fname or ""] if t in by_term]
        if not qual:
            continue
        term_idf = {
            t: boost * idf(stats["n_docs"], int(by_term[t]["df"])) for t in qual
        }
        avgdl = stats["avgdl"] if fname is None else field_avgdl(s._dirs, fname, stats)
        per_field.append((fname, boost, term_idf, avgdl))
        scan.update(qual)
        tbs.update(int(by_term[t]["tb"]) for t in qual)
    if not per_field:
        return None
    return per_field, sorted(tbs), sorted(scan)


def _merge_best_fields(per_field_rows: list[list[tuple[int, float]]], k: int):
    """dis_max with tie_breaker=0: score(doc) = max over fields. The union
    of per-field top-k contains the global top-k (if a doc is outside field
    f's top-k, ≥k docs beat its f-score, and each of those beats it
    globally), and a global top-k doc appears in its argmax field's top-k —
    so the union+max merge is exact."""
    best: dict[int, float] = {}
    for rows in per_field_rows:
        for d, s in rows:
            if s > best.get(d, float("-inf")):
                best[d] = s
    ranked = sorted(best.items(), key=lambda kv: (-kv[1], kv[0]))
    return ranked[:k]


def multi_match_topk(
    spark: SparkSession,
    out_dir: "str | Searcher",
    query: str,
    fields: list[str],
    k: int = 10,
    *,
    type: str = "best_fields",  # noqa: A002 — the ES parameter name
    prune: bool = True,
) -> DataFrame:
    """ES multi_match over an index built with ``field_cols``: search
    ``query`` across several analyzed fields with per-field boosts
    (``"title^2"``; ``"text"`` = the main field). ``type='best_fields'``
    (ES default) ranks by the best single field's BM25 score (dis_max,
    tie_breaker=0); ``type='most_fields'`` sums the per-field scores in ONE
    kernel pass (each field-qualified term normalized by ITS field's
    avgdl). Distributed path; `Searcher.multi_match_rows` is the serving
    twin (asserted identical in tests)."""
    s = _searcher(spark, out_dir)
    stats = s.stats
    empty = spark.createDataFrame([], "doc_id long, score double")
    plan = _multi_match_plan(s, query, fields)
    if plan is None:
        return empty
    per_field, tbs, scan_terms = plan
    seg = _seg_union(s, tbs, scan_terms, _BLOCK_COLS)
    if type == "most_fields":
        term_idf = {t: v for _, _, ti, _ in per_field for t, v in ti.items()}
        abt = {t: av for _, _, ti, av in per_field for t in ti}
        kern = _score_kernel(term_idf, k, prune=prune)
        kern.k1, kern.b, kern.avgdl = stats["k1"], stats["b"], stats["avgdl"]
        kern.max_candidates = None
        kern.avgdl_by_term = abt
        local = seg.groupBy("bucket").applyInPandas(
            kern, schema="doc_id long, score double"
        )
        return local.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
    if type != "best_fields":
        raise ValueError(f"unsupported multi_match type {type!r}")
    # best_fields: per-field top-k (each its own kernel over ITS terms,
    # scalar per-field avgdl), then the exact union+max merge
    rows_per_field = []
    for _fname, _boost, term_idf, avgdl in per_field:
        f_terms = sorted(term_idf)
        f_seg = seg.where(F.col("term").isin(f_terms))
        kern = _score_kernel(term_idf, k, prune=prune)
        kern.k1, kern.b, kern.avgdl = stats["k1"], stats["b"], avgdl
        kern.max_candidates = None
        local = f_seg.groupBy("bucket").applyInPandas(
            kern, schema="doc_id long, score double"
        )
        rows_per_field.append(
            [(r.doc_id, r.score) for r in
             local.orderBy(F.desc("score"), F.asc("doc_id")).limit(k).collect()]
        )
    merged = _merge_best_fields(rows_per_field, k)
    if not merged:
        return empty
    return spark.createDataFrame(
        [(int(d), float(s)) for d, s in merged], "doc_id long, score double"
    ).orderBy(F.desc("score"), F.asc("doc_id"))


_POS_KEY_SHIFT = 33  # doc-index key space above the position bits


def _mark_dups(tp: _TermPostings) -> None:
    """Delta-duplicate docs (re-ingested, pre-compaction) for the positional
    kernels: keep the first occurrence in block order — the
    builder/compaction keep-first rule. Memoized on ``tp``."""
    if tp._dedup_mask is None and tp.has_dups:
        _, first_idx = np.unique(tp.docs, return_index=True)
        keep = np.zeros(len(tp.docs), dtype=bool)
        keep[first_idx] = True
        tp._dedup_mask = keep


def _phrase_kernel(
    phrase_tokens: list[tuple[str, int]], idf_sum: float, k: int,
    after: tuple[float, int] | None = None, slop: int = 0,
    freqs: bool = False,
):
    """Phrase scorer (Lucene PhraseQuery semantics, pinned) over one
    bucket's block frame (Spark task) or the driver's {term:
    _TermPostings} over every bucket (one call per query):
    candidates = docs containing every distinct phrase term; a hit needs a
    start position p with the token of slot s at p+s for every (token, s);
    tf := phraseFreq (the number of such starts); score = (Σ idf over
    phrase tokens, duplicates included) · tfNorm(phraseFreq, dl).

    ``phrase_tokens`` is a list of (term, slot) pairs. For an unanalyzed
    index slots are 0..n-1 (exact adjacency); for an analyzed index the
    slots carry Lucene position-increment gaps — "quick over dog" with
    stopword "over" becomes [(quick,0),(dog,2)], requiring doc positions p
    and p+2. Fully vectorized: per-slot (candidate-doc-index,
    position−slot) keys intersected across slots.

    ``slop`` > 0 relaxes to ES match_phrase proximity with ANCHOR-WINDOW
    semantics (documented simplification of Lucene's SloppyPhraseScorer):
    an anchor is a slot-0 start x, and it matches when every later slot
    has a position within ±slop of its expected place x+slot; sloppyFreq =
    the number of matching anchors (each anchor counted once, no
    per-distance weighting). Reduces to the exact scorer at slop=0;
    transposed adjacent terms match at slop=2, one intervening token at
    slop=1 — the ES-documented thresholds."""
    distinct_terms = sorted({t for t, _ in phrase_tokens})

    def phrase_bucket(src):
        empty = _EMPTY_HITS
        k1, b, avgdl = phrase_bucket.k1, phrase_bucket.b, phrase_bucket.avgdl
        per_term = src if isinstance(src, dict) else _postings_of(src)
        for tp in per_term.values():
            _mark_dups(tp)
        if any(t not in per_term for t in distinct_terms):
            return empty

        cand = per_term[distinct_terms[0]].sorted_docs
        for t in distinct_terms[1:]:
            cand = cand[_in_sorted(cand, per_term[t].sorted_docs)]
        cand = np.unique(cand)
        if not len(cand):
            return empty

        keys_per_slot = []
        dl_by_cand: np.ndarray | None = None
        occ_cache: dict[str, tuple[np.ndarray, np.ndarray, np.ndarray]] = {}
        for t in distinct_terms:
            tp = per_term[t]
            sel = _in_sorted(tp.docs, cand)
            if tp._dedup_mask is not None:
                sel &= tp._dedup_mask
            occ_cache[t] = tp.positions_for(sel)
        # dl per candidate from the first distinct term's occurrences
        d0, _, l0 = occ_cache[distinct_terms[0]]
        first = np.ones(len(d0), dtype=bool)
        first[1:] = d0[1:] != d0[:-1]
        dl_by_cand = np.zeros(len(cand), dtype=np.float64)
        dl_by_cand[np.searchsorted(cand, d0[first])] = l0[first]

        if slop:
            # sloppy path: anchors = slot-0 starts; slot s needs a position
            # whose offset (pos - slot) lands in [x-slop, x+slop]. Encoded
            # with a +slop bias so offsets stay non-negative; the window
            # test is two searchsorted probes per slot over sorted keys —
            # no per-anchor python, no combinatorial tuple walk.
            t0, s0 = phrase_tokens[0]
            docs_0, pos_0, _ = occ_cache[t0]
            ok0 = pos_0 >= s0
            ci0 = np.searchsorted(cand, docs_0[ok0])
            inter = np.unique(
                (ci0.astype(np.int64) << _POS_KEY_SHIFT) + (pos_0[ok0] - s0)
            )
            for t, slot in phrase_tokens[1:]:
                if not len(inter):
                    break
                docs_t, pos_t, _ = occ_cache[t]
                ok = (pos_t - slot) >= -slop
                ci = np.searchsorted(cand, docs_t[ok])
                keys = np.unique(
                    (ci.astype(np.int64) << _POS_KEY_SHIFT)
                    + (pos_t[ok] - slot + slop)
                )
                lo = np.searchsorted(keys, inter)
                hi = np.searchsorted(keys, inter + 2 * slop, side="right")
                inter = inter[lo < hi]
        else:
            for t, slot in phrase_tokens:
                docs_t, pos_t, _ = occ_cache[t]
                ok = pos_t >= slot
                ci = np.searchsorted(cand, docs_t[ok])
                keys = (ci.astype(np.int64) << _POS_KEY_SHIFT) + (pos_t[ok] - slot)
                keys_per_slot.append(np.unique(keys))
            inter = keys_per_slot[0]
            for ks in keys_per_slot[1:]:
                if not len(inter):
                    break
                inter = np.intersect1d(inter, ks, assume_unique=True)
        if not len(inter):
            return empty

        hit_idx, pf = np.unique(inter >> _POS_KEY_SHIFT, return_counts=True)
        docs_hit = cand[hit_idx]
        dl = dl_by_cand[hit_idx]
        pf = pf.astype(np.float64)
        if freqs:
            # raw phraseFreq per doc (no idf, no length norm) — the
            # phrase-suggester language model's bigram/unigram counts
            return pd.DataFrame({"doc_id": docs_hit, "score": pf})
        w = (pf * (k1 + 1.0)) / (pf + k1 * (1.0 - b + b * (dl / avgdl)))
        scores = idf_sum * w
        if after is not None:
            # score-order search_after: strictly after (score desc, id asc)
            a_s, a_d = float(after[0]), int(after[1])
            keep = (scores < a_s) | ((scores == a_s) & (docs_hit > a_d))
            docs_hit, scores = docs_hit[keep], scores[keep]
            if not len(docs_hit):
                return empty
        if k is None:
            # uncapped: every matching doc (track_total_hits counting path)
            return pd.DataFrame({"doc_id": docs_hit, "score": scores})
        idx = _topk_idx(scores, docs_hit, k)
        return pd.DataFrame({"doc_id": docs_hit[idx], "score": scores[idx]})

    return phrase_bucket


def _phrase_plan(s: "Searcher", phrase):
    stats = s.stats
    if not stats.get("positions"):
        raise ValueError("phrase queries need an index built with positions=True")
    from ..textutils import analyze_with_slots

    # (term, slot) pairs; with an analyzer the slots keep position-increment
    # gaps across removed stopwords — the build-side twin stores the same
    # original-slot positions, so matching stays exact on analyzed indexes
    tok_slots = analyze_with_slots(phrase, stats.get("analyzer"))
    if not tok_slots:
        return None
    base = tok_slots[0][1]
    phrase_tokens = [(t, slot - base) for t, slot in tok_slots]
    distinct = sorted({t for t, _ in phrase_tokens})
    entries = {e["term"]: e for e in s._entries(distinct)}
    if any(t not in entries for t in distinct):
        return None  # some phrase term indexed nowhere → no hits
    idf_sum = sum(idf(stats["n_docs"], int(entries[t]["df"])) for t, _ in phrase_tokens)
    tbs = sorted({int(entries[t]["tb"]) for t in distinct})
    return phrase_tokens, idf_sum, tbs, distinct


def phrase_topk(
    spark: SparkSession, out_dir: "str | Searcher", phrase: str, k: int = 10,
    after: tuple[float, int] | None = None, slop: int = 0,
) -> DataFrame:
    """Distributed phrase search over a positional index: top-k docs
    containing the exact token sequence, scored Lucene-style (idf sum ×
    tfNorm(phraseFreq, dl)), ranked (score desc, doc_id asc). ``after`` =
    (score, doc_id) pages by score-order search_after (the predicate
    applies inside the kernel, pre-top-k — page N+1 costs page 1).
    ``slop`` relaxes to ES proximity matching (see ``_phrase_kernel``)."""
    s = _searcher(spark, out_dir)
    empty = spark.createDataFrame([], "doc_id long, score double")
    plan = _phrase_plan(s, phrase)
    if plan is None:
        return empty
    phrase_tokens, idf_sum, tbs, distinct = plan
    seg = _seg_union(s, tbs, distinct, _POS_COLS)
    kern = _phrase_kernel(phrase_tokens, idf_sum, k, after=after, slop=slop)
    kern.k1, kern.b, kern.avgdl = s.stats["k1"], s.stats["b"], s.stats["avgdl"]
    local = seg.groupBy("bucket").applyInPandas(kern, schema="doc_id long, score double")
    return local.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


def phrase_doc_ids(
    spark: SparkSession, out_dir: "str | Searcher", phrase: str, slop: int = 0
) -> DataFrame:
    """EVERY doc containing the phrase (no top-k, no cap) — the positional
    twin of ``bool_doc_ids``, distributed end to end: the same pruned
    positional scan and per-bucket phrase kernel as ``phrase_topk``, with
    the top-k slicing disabled. Feeds exact ``track_total_hits`` for
    match_phrase requests (over every root of a window Searcher too)."""
    s = _searcher(spark, out_dir)
    empty = spark.createDataFrame([], "doc_id long")
    plan = _phrase_plan(s, phrase)
    if plan is None:
        return empty
    phrase_tokens, idf_sum, tbs, distinct = plan
    seg = _seg_union(s, tbs, distinct, _POS_COLS)
    kern = _phrase_kernel(phrase_tokens, idf_sum, None, slop=slop)
    kern.k1, kern.b, kern.avgdl = s.stats["k1"], s.stats["b"], s.stats["avgdl"]
    return (
        seg.groupBy("bucket")
        .applyInPandas(kern, schema="doc_id long, score double")
        .select("doc_id")
    )


def _span_kernel(
    span_terms: list, slop: int, in_order: bool, idf_sum: float,
    k: int | None, after: tuple[float, int] | None = None,
    first_end: int | None = None,
    exclude: tuple[tuple[str, ...], int, int] | None = None,
):
    """span_near scorer over the positional postings (one bucket's frame or
    the driver's {term: _TermPostings}, as ``_phrase_kernel``) (Lucene
    SpanNearQuery, documented simplification for SINGLE-TERM clauses —
    the reference's ES indexes accept these bodies verbatim,
    ElasticsearchClient.cs:31-135): candidates = docs containing every
    clause term. ``in_order=True``: a match is a clause-1 position p from
    which the GREEDY MINIMAL chain p < q2 < … < qk (q_i = the smallest
    clause-i position after the previous link) ends inside the window —
    qk − p ≤ (k−1) + slop; the greedy chain reaches the window iff ANY
    ordered assignment does, so this is exact EXISTS semantics.
    ``in_order=False``: a match is any clause-term position p where EVERY
    clause term occurs in [p, p+(k−1)+slop] (p is the window minimum by
    construction — distinct terms can never share a position, so the
    assignment is automatically injective). spanFreq = the number of
    matching anchor positions; score = (Σ idf over clause terms) ·
    tfNorm(spanFreq, dl) — the same BM25 shape as the phrase scorer
    (Lucene weights each span by 1/(1+width) instead; we count anchors
    once and pin that in tests). Fully vectorized: doc-major
    (candidate-index << 33) + position keys, one searchsorted per clause
    per round — no per-anchor python.

    SPAN ALGEBRA EXTENSIONS (each clause may be an OR-GROUP of terms —
    Lucene SpanOrQuery: the clause's position set is the union of its
    members'; candidates need ≥1 member of EVERY clause):

    - ``first_end`` (Lucene SpanFirstQuery, single-clause): keep only
      matches whose span END ≤ first_end; width-1 spans end at pos+1, so
      anchors with position < first_end survive.
    - ``exclude = (terms, pre, post)`` (Lucene SpanNotQuery,
      single-clause): drop anchors within [p−pre, p+post] of any exclude
      term position (pre=post=0 = overlap-only, the ES default). Exclude
      terms never force candidacy."""
    clauses: list[tuple[str, ...]] = [
        (c,) if isinstance(c, str) else tuple(sorted(set(c)))
        for c in span_terms
    ]
    if (first_end is not None or exclude is not None) and len(clauses) != 1:
        raise ValueError("span_first/span_not take a single clause")
    distinct_terms = sorted({t for c in clauses for t in c})
    ex_terms: tuple[str, ...] = tuple(exclude[0]) if exclude else ()
    W = len(clauses) - 1 + slop

    def span_bucket(src):
        empty = _EMPTY_HITS
        k1, b, avgdl = span_bucket.k1, span_bucket.b, span_bucket.avgdl
        per_term = src if isinstance(src, dict) else _postings_of(src)
        for tp in per_term.values():
            _mark_dups(tp)
        present_clauses: list[tuple[str, ...]] = []
        for cl in clauses:
            members = tuple(t for t in cl if t in per_term)
            if not members:
                return empty  # no member indexed in the doc range
            present_clauses.append(members)
        cand = None
        for cl in present_clauses:
            docs_u = (
                per_term[cl[0]].sorted_docs if len(cl) == 1
                else np.unique(np.concatenate(
                    [per_term[t].sorted_docs for t in cl]
                ))
            )
            cand = docs_u if cand is None else cand[_in_sorted(cand, docs_u)]
        cand = np.unique(cand)
        if not len(cand):
            return empty
        dl_by_cand = np.zeros(len(cand), dtype=np.float64)

        def _term_keys(t: str) -> np.ndarray:
            tp = per_term[t]
            sel = _in_sorted(tp.docs, cand)
            if tp._dedup_mask is not None:
                sel &= tp._dedup_mask
            docs_t, pos_t, l_t = tp.positions_for(sel)
            first = np.ones(len(docs_t), dtype=bool)
            first[1:] = docs_t[1:] != docs_t[:-1]
            dl_by_cand[np.searchsorted(cand, docs_t[first])] = l_t[first]
            return (
                np.searchsorted(cand, docs_t).astype(np.int64)
                << _POS_KEY_SHIFT
            ) + pos_t

        clause_keys = [
            np.unique(
                _term_keys(cl[0]) if len(cl) == 1
                else np.concatenate([_term_keys(t) for t in cl])
            )
            for cl in present_clauses
        ]
        if in_order:
            anchors = clause_keys[0]
            cur = anchors
            alive = np.ones(len(anchors), dtype=bool)
            for kt in clause_keys[1:]:
                nxt = np.searchsorted(kt, cur, side="right")
                ok = nxt < len(kt)
                alive &= ok
                cur = np.where(ok, kt[np.minimum(nxt, len(kt) - 1)], cur)
            hits_keys = anchors[alive & (cur - anchors <= W)]
        else:
            allk = np.unique(np.concatenate(clause_keys))
            goodm = np.ones(len(allk), dtype=bool)
            for kt in clause_keys:
                lo = np.searchsorted(kt, allk)
                inb = lo < len(kt)
                v = kt[np.minimum(lo, len(kt) - 1)]
                goodm &= inb & (v <= allk + W)
            hits_keys = allk[goodm]
        if first_end is not None and len(hits_keys):
            pos_mask = (np.int64(1) << _POS_KEY_SHIFT) - 1
            hits_keys = hits_keys[(hits_keys & pos_mask) + 1 <= first_end]
        if exclude is not None and len(hits_keys):
            ex_present = [t for t in ex_terms if t in per_term]
            if ex_present:
                exk = np.unique(
                    np.concatenate([_term_keys(t) for t in ex_present])
                )
                pre, post = int(exclude[1]), int(exclude[2])
                lo = np.searchsorted(exk, hits_keys - pre, side="left")
                hi = np.searchsorted(exk, hits_keys + post, side="right")
                hits_keys = hits_keys[lo == hi]
        if not len(hits_keys):
            return empty
        hit_idx, pf = np.unique(hits_keys >> _POS_KEY_SHIFT, return_counts=True)
        docs_hit = cand[hit_idx]
        dl = dl_by_cand[hit_idx]
        pf = pf.astype(np.float64)
        w = (pf * (k1 + 1.0)) / (pf + k1 * (1.0 - b + b * (dl / avgdl)))
        scores = idf_sum * w
        if after is not None:
            a_s, a_d = float(after[0]), int(after[1])
            keep = (scores < a_s) | ((scores == a_s) & (docs_hit > a_d))
            docs_hit, scores = docs_hit[keep], scores[keep]
            if not len(docs_hit):
                return empty
        if k is None:
            return pd.DataFrame({"doc_id": docs_hit, "score": scores})
        idx = _topk_idx(scores, docs_hit, k)
        return pd.DataFrame({"doc_id": docs_hit[idx], "score": scores[idx]})

    return span_bucket


def _span_plan(s: "Searcher", clause_texts, exclude_texts=None):
    """span clause values → (clauses, exclude_terms, idf_sum, tbs).
    ``clause_texts`` items are a single span_term text or a LIST of texts
    (a span_or group — the clause's position set is the union); each text
    must analyze to exactly ONE token (span_term is a single-position
    span); duplicate terms across clauses are unsupported (their spans
    could overlap, which single-pass anchor counting cannot dedup).
    ``exclude_texts`` (span_not) resolve like a group but contribute no
    idf and never force candidacy; unindexed exclude terms drop out.
    Clause idf = max over indexed members (the dominant synonym — pinned
    in tests and oracle twins); a clause with NO indexed member matches
    nothing → None."""
    stats = s.stats
    if not stats.get("positions"):
        raise ValueError("span queries need an index built with positions=True")
    from ..textutils import analyze_with_slots

    def _one_token(c) -> str:
        toks = analyze_with_slots(str(c), stats.get("analyzer"))
        if len(toks) != 1:
            raise ValueError(
                f"span_term {c!r} must analyze to exactly one token, "
                f"got {[t for t, _ in toks]}"
            )
        return toks[0][0]

    clauses: list[tuple[str, ...]] = []
    for c in clause_texts:
        members = [c] if isinstance(c, str) else list(c)
        if not members:
            raise ValueError("span_or needs at least one clause")
        clauses.append(tuple(sorted({_one_token(m) for m in members})))
    flat = [t for cl in clauses for t in cl]
    if len(set(flat)) != len(flat):
        raise ValueError("span queries with duplicate clause terms are unsupported")
    ex_terms = sorted({_one_token(x) for x in (exclude_texts or [])})
    entries = {
        e["term"]: e for e in s._entries(sorted(set(flat) | set(ex_terms)))
    }
    kept: list[tuple[str, ...]] = []
    idf_sum = 0.0
    for cl in clauses:
        present = tuple(t for t in cl if t in entries)
        if not present:
            return None  # a whole clause indexed nowhere → no spans
        kept.append(present)
        idf_sum += max(
            idf(stats["n_docs"], int(entries[t]["df"])) for t in present
        )
    ex_present = tuple(t for t in ex_terms if t in entries)
    scan = [t for cl in kept for t in cl] + list(ex_present)
    tbs = sorted({int(entries[t]["tb"]) for t in scan})
    return kept, ex_present, idf_sum, tbs


def span_near_topk(
    spark: SparkSession, out_dir: "str | Searcher", clauses: list, k: int = 10,
    *, slop: int = 0, in_order: bool = True,
    after: tuple[float, int] | None = None,
    first_end: int | None = None,
    exclude: list | None = None, pre: int = 0, post: int = 0,
) -> DataFrame:
    """Distributed span search over the positional index: top-k docs with
    an in-window (ordered or unordered) occurrence of every clause (a
    span_term text or a span_or LIST of texts), scored idf_sum ×
    tfNorm(spanFreq, dl), ranked (score desc, doc_id asc). ``first_end``
    (span_first) and ``exclude``/``pre``/``post`` (span_not) take a
    single clause. Semantics in ``_span_kernel``."""
    s = _searcher(spark, out_dir)
    empty = spark.createDataFrame([], "doc_id long, score double")
    plan = _span_plan(s, clauses, exclude_texts=exclude)
    if plan is None:
        return empty
    kept, ex_present, idf_sum, tbs = plan
    scan_terms = sorted({t for cl in kept for t in cl} | set(ex_present))
    seg = _seg_union(s, tbs, scan_terms, _POS_COLS)
    kern = _span_kernel(
        kept, slop, in_order, idf_sum, k, after=after, first_end=first_end,
        exclude=(ex_present, pre, post) if exclude is not None else None,
    )
    kern.k1, kern.b, kern.avgdl = s.stats["k1"], s.stats["b"], s.stats["avgdl"]
    local = seg.groupBy("bucket").applyInPandas(
        kern, schema="doc_id long, score double"
    )
    return local.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


def span_near_doc_ids(
    spark: SparkSession, out_dir: "str | Searcher", clauses: list, *,
    slop: int = 0, in_order: bool = True,
    first_end: int | None = None,
    exclude: list | None = None, pre: int = 0, post: int = 0,
) -> DataFrame:
    """EVERY doc with a qualifying span (top-k off) — exact
    ``track_total_hits`` for span requests, same pruned positional
    scan and kernel as ``span_near_topk``."""
    s = _searcher(spark, out_dir)
    empty = spark.createDataFrame([], "doc_id long")
    plan = _span_plan(s, clauses, exclude_texts=exclude)
    if plan is None:
        return empty
    kept, ex_present, idf_sum, tbs = plan
    scan_terms = sorted({t for cl in kept for t in cl} | set(ex_present))
    seg = _seg_union(s, tbs, scan_terms, _POS_COLS)
    kern = _span_kernel(
        kept, slop, in_order, idf_sum, None, first_end=first_end,
        exclude=(ex_present, pre, post) if exclude is not None else None,
    )
    kern.k1, kern.b, kern.avgdl = s.stats["k1"], s.stats["b"], s.stats["avgdl"]
    return (
        seg.groupBy("bucket")
        .applyInPandas(kern, schema="doc_id long, score double")
        .select("doc_id")
    )


def posting_docs(spark: SparkSession, out_dir: str, terms_query: str) -> DataFrame:
    """All doc_ids containing ANY of the query's terms (pruned scan +
    decode-docs-only kernel) — the candidate generator for MUST_NOT (J4)
    and for boolean set ops."""
    from ..textutils import analyze

    s = _searcher(spark, out_dir)
    terms = sorted(set(analyze(terms_query, s.stats.get("analyzer"))))
    return posting_docs_terms(spark, s, terms)


def _term_scan(s: "Searcher", terms: list[str], cols: list[str]) -> DataFrame | None:
    """``_seg_union`` over the indexed subset of RAW ``terms`` (None when
    none is indexed anywhere in ``s``'s roots)."""
    entries = s._entries(sorted(set(terms)))
    if not entries:
        return None
    tbs = sorted({int(e["tb"]) for e in entries})
    return _seg_union(s, tbs, sorted({e["term"] for e in entries}), cols)


def posting_docs_terms(
    spark: SparkSession, out_dir: "str | Searcher", terms: list[str]
) -> DataFrame:
    """``posting_docs`` over RAW index terms (no query-side analysis) —
    the form multi_match totals need, whose field-qualified terms
    (``field␟token``) must not round-trip through the tokenizer."""
    seg = _term_scan(_searcher(spark, out_dir), terms, ["n", "docs"])
    if seg is None:
        return spark.createDataFrame([], "doc_id long")

    def decode(batches):
        for pdf in batches:
            outs = [
                np.cumsum(varint_decode(bb, int(n))).astype(np.int64)
                for bb, n in zip(pdf["docs"], pdf["n"])
            ]
            if outs:
                yield pd.DataFrame({"doc_id": np.unique(np.concatenate(outs))})

    return seg.mapInPandas(decode, schema="doc_id long").distinct()


def term_doc_pairs(
    spark: SparkSession, out_dir: "str | Searcher", terms: list[str]
) -> DataFrame:
    """Distinct (term, doc_id) pairs for the given terms — one pruned
    segment scan per root (tb partitions + term row groups), docs-column
    decode only (tf/dl/poss pruned away), one dedup over the union. The
    building block for distributed boolean set algebra over arbitrarily
    large matching sets."""
    seg = _term_scan(_searcher(spark, out_dir), terms, ["term", "n", "docs"])
    if seg is None:
        return spark.createDataFrame([], "term string, doc_id long")

    def decode(batches):
        for pdf in batches:
            outs = [
                pd.DataFrame(
                    {
                        "term": t,
                        "doc_id": np.cumsum(varint_decode(bb, int(n))).astype(np.int64),
                    }
                )
                for t, bb, n in zip(pdf["term"], pdf["docs"], pdf["n"])
            ]
            if outs:
                yield pd.concat(outs, ignore_index=True)

    return seg.mapInPandas(decode, schema="term string, doc_id long").distinct()


def term_doc_stats(
    spark: SparkSession, out_dir: "str | Searcher", terms: list[str]
) -> DataFrame:
    """(term, doc_id, tf, dl) rows for the given RAW index terms — the
    scored sibling of ``term_doc_pairs``: the same pruned segment scan
    (tb partitions + term row groups) also decoding the tf/dl varint
    frames, tombstones applied per root. The building block for scored
    set algebra whose per-doc term counts matter (terms_set)."""
    schema = "term string, doc_id long, tf long, dl long"
    seg = _term_scan(
        _searcher(spark, out_dir), terms, ["term", "n", "docs", "tfs", "dls"]
    )
    if seg is None:
        return spark.createDataFrame([], schema)

    def decode(batches):
        for pdf in batches:
            outs = []
            for t, bb, tb_, db_, n in zip(
                pdf["term"], pdf["docs"], pdf["tfs"], pdf["dls"], pdf["n"]
            ):
                n = int(n)
                outs.append(pd.DataFrame({
                    "term": t,
                    "doc_id": np.cumsum(varint_decode(bb, n)).astype(np.int64),
                    "tf": varint_decode(tb_, n).astype(np.int64),
                    "dl": varint_decode(db_, n).astype(np.int64),
                }))
            if outs:
                yield pd.concat(outs, ignore_index=True)

    return seg.mapInPandas(decode, schema=schema)


def terms_set_match(
    spark: SparkSession, out_dir: str, terms: list[str], msm_field: str
) -> DataFrame:
    """ES ``terms_set`` matching set, fully distributed: every doc
    containing ≥ m(doc) of ``terms``, where m(doc) is the doc's OWN value
    of the stored numeric field ``msm_field``
    (minimum_should_match_field). ``terms`` are EXACT index terms — ES
    does not analyze terms_set values. Score = Σ BM25 over the doc's
    matched terms (the bool-should sum), accumulated in ascending-term
    float64 order so it is bit-identical to the WAND kernel's.

    One pruned posting scan (term_doc_stats) → per-doc hash aggregation →
    join against the bucket-partitioned docstore for m(doc) (AQE
    broadcasts the aggregated side when small). Docs missing the field
    never match (ES raises per-shard; we drop — documented). Returns an
    unordered (doc_id, score) frame; callers top-k or count it."""
    s = _searcher(spark, out_dir)
    stats = s.stats
    entries = s._entries(sorted({str(t) for t in terms}))
    if not entries:
        return spark.createDataFrame([], "doc_id long, score double")
    k1, b, avgdl = stats["k1"], stats["b"], stats["avgdl"]
    idf_map = {e["term"]: idf(stats["n_docs"], int(e["df"])) for e in entries}
    pairs = term_doc_stats(spark, s, sorted(idf_map))
    imap = F.create_map(
        *[F.lit(x) for t, v in sorted(idf_map.items()) for x in (t, float(v))]
    )
    # idf × (tfNorm) with the kernel's exact fp association (idf * w,
    # w = num/denom) so scores are bit-identical to the WAND path
    w = imap[F.col("term")] * (
        (F.col("tf") * (k1 + 1.0))
        / (F.col("tf") + k1 * (1.0 - b + b * (F.col("dl") / float(avgdl))))
    )
    per_doc = (
        pairs.withColumn("_w", w)
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("_n"),
            F.aggregate(
                F.array_sort(F.collect_list(F.struct("term", "_w"))),
                F.lit(0.0),
                lambda acc, x: acc + x["_w"],
            ).alias("score"),
        )
    )
    store = _docstore_scan(spark, s).select(
        "doc_id", F.col(msm_field).cast("long").alias("_m")
    )
    return (
        per_doc.join(store, "doc_id")
        .where(F.col("_m").isNotNull() & (F.col("_n") >= F.col("_m")))
        .select("doc_id", "score")
    )


def _nested_elem_pred(clauses: list[tuple]):
    """Compile parsed nested sub-clauses into ONE element-level predicate
    (a lambda over the struct element) — ES nested semantics: every
    condition must hold on the SAME array element, which is exactly what
    a single F.exists(col, elem -> AND(...)) evaluates (a flattened
    object mapping would incorrectly match across elements)."""
    def pred(x):
        conds = []
        for kind, field, val in clauses:
            c = x[field]
            if kind == "term":
                conds.append(c == F.lit(val))
            elif kind == "terms":
                conds.append(c.isin(list(val)))
            elif kind == "exists":
                conds.append(c.isNotNull())
            else:  # range
                for op, bound in val.items():
                    lit = F.lit(bound)
                    conds.append(
                        c >= lit if op == "gte" else c > lit if op == "gt"
                        else c <= lit if op == "lte" else c < lit
                    )
        out = conds[0]
        for c in conds[1:]:
            out = out & c
        return out

    return pred


def nested_filter_ids(
    spark: SparkSession, out_dir: str, path: str, clauses: list[tuple]
) -> DataFrame:
    """ES ``nested`` query in filter context, fully distributed: doc_ids
    whose stored ``array<struct>`` column ``path`` contains AT LEAST ONE
    element satisfying every sub-clause (term / terms / range / exists
    on ``path.field`` subfields). One docstore scan (bucket-partitioned,
    latest-version resolved) with the predicate pushed into a single
    F.exists over the array — no explode, no shuffle beyond the scan.
    Null / absent arrays never match (ES: no nested docs → no match)."""
    store = _docstore_scan(spark, out_dir)
    cond = F.coalesce(
        F.exists(F.col(path), _nested_elem_pred(clauses)), F.lit(False)
    )
    return store.where(cond).select("doc_id")


def terms_set_topk(
    spark: SparkSession, out_dir: str, terms: list[str], msm_field: str, k: int
) -> DataFrame:
    """Top-k of ``terms_set_match`` by (score desc, doc_id asc) — the
    terms_set query's hit page."""
    return (
        terms_set_match(spark, out_dir, terms, msm_field)
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def bool_doc_ids(
    spark: SparkSession,
    out_dir: "str | Searcher",
    query: str = "",
    must: str | None = None,
    must_not: str | None = None,
    min_should: int = 0,
    filters: dict | None = None,
    ranges: dict | None = None,
    or_groups: list | None = None,
    not_atoms: list | None = None,
) -> DataFrame:
    """doc_ids of EVERY doc matching the bool query (no top-k, no cap) —
    fully distributed: one pruned (term, doc_id) scan, then a single hash
    aggregation per doc testing the must-count / should-count / any-not
    conditions (``min_should`` = ES minimum_should_match). The candidate
    generator for terms-aggregations (facets) and boolean set ops over
    matching sets too large to enumerate on the driver. ``or_groups`` /
    ``not_atoms`` are the nested-bool atom forms (see ``_atom_terms``).
    Over a window Searcher the days' pruned scans union before the one
    dedup and aggregation (day corpora are doc-disjoint, so it stays
    exact): one Spark action whatever the window width; every driver step
    (dictionary probe, range expansion, must-presence) is a metadata
    read."""
    from ..textutils import analyze

    s = _searcher(spark, out_dir)
    empty = spark.createDataFrame([], "doc_id long")
    az = s.stats.get("analyzer")
    should_terms = sorted(set(analyze(query, az))) if query else []
    must_terms = sorted(set(analyze(must, az))) if must else []
    not_terms = sorted(set(analyze(must_not, az))) if must_not else []
    if not_atoms:
        not_terms = sorted(set(not_terms) | set(_expand_atoms(not_atoms, s._range_expand)))
    scoring = sorted(set(should_terms) | set(must_terms))
    fgroups: list[list[str]] = []
    if filters or ranges or or_groups:
        want = _filter_want(filters, ranges, s._range_expand, or_groups)
        if want is None:
            return empty
        fgroups = want
    if not scoring and not fgroups:
        return empty
    if must_terms:
        # a must term indexed nowhere ⇒ provably empty (cheap driver check)
        present = {e["term"] for e in s._entries(must_terms)}
        if any(mt not in present for mt in must_terms):
            return empty
    flat_filters = sorted({t for g in fgroups for t in g})
    pairs = term_doc_pairs(
        spark, s, sorted(set(scoring) | set(not_terms) | set(flat_filters))
    )
    # the single hash aggregation: DISTINCT (term, doc_id) pairs in,
    # matching doc_ids out
    agg_cols = [
        F.sum(F.when(F.col("term").isin(must_terms), 1).otherwise(0)).alias("n_must"),
        F.max(F.when(F.col("term").isin(scoring), 1).otherwise(0)).alias("any_should"),
        # pairs are distinct, so this sums DISTINCT matched should terms
        F.sum(F.when(F.col("term").isin(should_terms), 1).otherwise(0)).alias("n_should"),
        F.max(F.when(F.col("term").isin(not_terms), 1).otherwise(0)).alias("any_not"),
    ] + [
        # filter context: per group, does the doc carry ANY group value?
        F.max(F.when(F.col("term").isin(list(g)), 1).otherwise(0)).alias(f"f{i}")
        for i, g in enumerate(fgroups)
    ]
    agg = pairs.groupBy("doc_id").agg(*agg_cols)
    cond = (
        (F.col("n_must") == len(must_terms))
        & (F.col("n_should") >= min_should)
        & (F.col("any_not") == 0)
    )
    if scoring:
        cond = cond & (F.col("any_should") == 1)
    # else: filter-only query (ES match_all + filter) — candidates come
    # from the keyword-term postings themselves
    for i in range(len(fgroups)):
        cond = cond & (F.col(f"f{i}") == 1)
    return agg.where(cond).select("doc_id")


def _docstore_scan(spark: SparkSession, out_dir: "str | Searcher") -> DataFrame:
    """Docstore read over an index dir or every root of a Searcher, with an
    EXPLICIT schema from one driver-side pyarrow footer probe (the first
    root's — window days share a config) — skips Spark's 1-task parquet
    schema-inference job on every facet/sort/agg query.

    Per root, multi-run docstores (incremental/update deltas) resolve each
    doc_id to that root's NEWEST run's row (manifest committed_at order) —
    an updated doc must surface its new stored version exactly once,
    matching the posting layer where the old version's postings are
    tombstoned. The single-run common case takes the plain scan, zero
    extra work; the dedup window only appears once deltas exist (a doc's
    versions share a bucket — doc-id top bits — so the exchange is
    bucket-local). The roots' scans then union (one lazy read per dir: a
    multi-path read trips partition discovery on the day= ancestors)."""
    from functools import reduce

    import pyarrow.dataset as pds
    from pyspark.sql import Window
    from pyspark.sql.pandas.types import from_arrow_schema

    from .build import docstore_run_rank

    dirs = out_dir._dirs if isinstance(out_dir, Searcher) else [out_dir]
    schema = from_arrow_schema(
        pds.dataset(
            os.path.join(dirs[0], "docstore"), format="parquet", partitioning="hive"
        ).schema
    )
    parts = []
    for d in dirs:
        df = spark.read.schema(schema).parquet(os.path.join(d, "docstore"))
        rank = docstore_run_rank(d)
        if len(rank) > 1:
            m = F.create_map(
                *[F.lit(x) for r, i in sorted(rank.items()) for x in (r, i)]
            )
            w = Window.partitionBy("doc_id").orderBy(F.desc("_ver"))
            df = (
                df.withColumn("_ver", m[F.col("run")])
                .withColumn("_vn", F.row_number().over(w))
                .where(F.col("_vn") == 1)
                .drop("_ver", "_vn")
            )
        parts.append(df)
    return reduce(DataFrame.unionByName, parts)


def facet_counts_spark(
    spark: SparkSession,
    out_dir: "str | Searcher",
    facet_col: str,
    query: str,
    *,
    must: str | None = None,
    must_not: str | None = None,
    k: int | None = None,
    filters: dict | None = None,
    ranges: dict | None = None,
) -> DataFrame:
    """ES terms-aggregation over the FULL matching set, distributed end to
    end: matching doc_ids (``bool_doc_ids``) ⋈ docstore → one hash
    aggregation on the stored facet column. No driver materialization and
    no hit cap — correct when a popular term matches 10^8 docs (the
    driver-side ``Searcher.facet_counts`` fast path saturates and escalates
    here instead of silently truncating). Ordered (count desc, value asc);
    ``k`` limits AFTER the full count (ES size semantics). Over a window
    Searcher, counts over the disjoint day corpora add up in the one
    aggregation."""
    s = _searcher(spark, out_dir)
    hits = bool_doc_ids(
        spark, s, query, must=must, must_not=must_not,
        filters=filters, ranges=ranges,
    )
    store = _docstore_scan(spark, s)
    out = (
        store.join(hits, "doc_id")
        .groupBy(F.col(facet_col).alias("facet"))
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("facet"))
    )
    return out.limit(k) if k is not None else out


def collapse_topk(
    spark: SparkSession,
    out_dir: "str | Searcher",
    query: str,
    field: str,
    k: int = 10,
    *,
    must: str | None = None,
    must_not: str | None = None,
    min_should: int = 0,
    filters: dict | None = None,
    ranges: dict | None = None,
    or_groups: list | None = None,
    not_atoms: list | None = None,
) -> DataFrame:
    """ES field collapsing: the top-k hits with at most ONE hit per
    distinct value of ``field`` (a stored docstore column) — each group
    represented by its best-scoring doc, groups ranked by that score
    (desc, doc_id tiebreak). Exactness needs every group's best doc
    BEFORE truncation, so the kernel scores the full matching set (k=None
    — same posting scan as top-k, no extra pass), the bucket-pruned
    docstore supplies the collapse key, and one window rank per key picks
    the group head. The window shuffle is on the collapse key — the only
    extra exchange vs plain top-k. Docs with a null key collapse into one
    null group (ES treats missing keys as one bucket unless the field is
    unmapped). Rows: (doc_id, score, <field>)."""
    from pyspark.sql import Window

    scored = bm25_topk(
        spark, out_dir, query, None, must=must, must_not=must_not,
        min_should=min_should, filters=filters, ranges=ranges,
        or_groups=or_groups, not_atoms=not_atoms,
    )
    store = _docstore_scan(spark, out_dir).select("doc_id", field)
    w = Window.partitionBy(field).orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        scored.join(store, "doc_id")
        .withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") == 1).drop("_rk")
        .orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
        .select("doc_id", "score", field)
    )


def collapse_groups(
    spark: SparkSession,
    out_dir: "str | Searcher",
    query: str,
    field: str,
    k: int = 10,
    inner_size: int = 3,
    *,
    must: str | None = None,
    must_not: str | None = None,
    min_should: int = 0,
    filters: dict | None = None,
    ranges: dict | None = None,
    or_groups: list | None = None,
    not_atoms: list | None = None,
) -> DataFrame:
    """Field collapsing WITH inner_hits: the top-k groups (ranked by their
    best doc, exactly ``collapse_topk``) plus each selected group's top
    ``inner_size`` members. Same full-set scoring + one window rank; the
    group-selection join broadcasts the k head keys (bounded by the page
    size), so the extra cost over plain collapsing is one broadcast
    semi-join — never a second posting scan. Rows: (doc_id, score,
    <field>, rk) with rk=1 the group head."""
    from pyspark.sql import Window

    scored = bm25_topk(
        spark, out_dir, query, None, must=must, must_not=must_not,
        min_should=min_should, filters=filters, ranges=ranges,
        or_groups=or_groups, not_atoms=not_atoms,
    )
    store = _docstore_scan(spark, out_dir).select("doc_id", field)
    w = Window.partitionBy(field).orderBy(F.desc("score"), F.asc("doc_id"))
    ranked = (
        scored.join(store, "doc_id")
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= int(inner_size))
        .localCheckpoint(eager=True)
    )
    heads = (
        ranked.where(F.col("rk") == 1)
        .orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
        .select(F.col(field).alias("_gk"))
    )
    return (
        ranked.join(F.broadcast(heads), ranked[field].eqNullSafe(heads["_gk"]))
        .drop("_gk")
        .orderBy(F.desc("score"), F.asc("doc_id"))
    )


def search_sorted(
    spark: SparkSession,
    out_dir: "str | Searcher",
    query: str,
    sort: list[tuple[str, str]],
    k: int = 10,
    *,
    must: str | None = None,
    must_not: str | None = None,
    min_should: int = 0,
    filters: dict | None = None,
    ranges: dict | None = None,
    search_after: tuple | None = None,
    or_groups: list | None = None,
    not_atoms: list | None = None,
) -> DataFrame:
    """ES sort-by-field + search_after: hits of a bool+filter query ordered
    by stored docstore columns instead of relevance, with cursor-style deep
    pagination. ``sort`` is [(field, 'asc'|'desc'), ...]; ``doc_id`` asc is
    appended as the final tiebreak (the ES _shard_doc analogue), so the
    total order is unambiguous. ``search_after`` is the LAST ROW's sort-key
    tuple (including the trailing doc_id) from the previous page; the next
    page applies the lexicographic after-predicate BEFORE the top-k, so
    page N+1 costs the same as page 1 — unlike from/size, which re-ranks
    offset+k rows. Fully distributed: matching ids (no cap) ⋈ docstore →
    filter → global sort → limit."""
    s = _searcher(spark, out_dir)
    hits = bool_doc_ids(
        spark, s, query, must=must, must_not=must_not,
        min_should=min_should, filters=filters, ranges=ranges,
        or_groups=or_groups, not_atoms=not_atoms,
    )
    joined = _docstore_scan(spark, s).join(hits, "doc_id")
    keys = list(sort) + [("doc_id", "asc")]
    joined = joined.select("doc_id", *[f for f, _ in sort if f != "doc_id"])
    if search_after is not None:
        if len(search_after) != len(keys):
            raise ValueError(
                f"search_after needs {len(keys)} values (sort keys + doc_id), "
                f"got {len(search_after)}"
            )
        # lexicographic "strictly after" predicate, per-key direction- AND
        # null-aware. With ES missing=_last ordering (nulls sort after every
        # value in both directions): a non-null cursor value is "beaten" by
        # larger/smaller non-nulls AND by every null-field row; a null
        # cursor value has nothing strictly after it at that key, and ties
        # only null-field rows.  (A bare `col > lit(v)` is NULL for null
        # rows, which silently dropped every missing-field doc from page 2
        # onward — the r05 VERDICT repro.)
        pred = None
        for i, (field, direction) in enumerate(keys):
            v = search_after[i]
            if v is None:
                beyond = F.lit(False)
            else:
                beyond = (
                    F.col(field) > F.lit(v)
                    if direction == "asc"
                    else F.col(field) < F.lit(v)
                ) | F.col(field).isNull()
            for j in range(i):
                vj = search_after[j]
                eq = (
                    F.col(keys[j][0]).isNull()
                    if vj is None
                    else F.col(keys[j][0]) == F.lit(vj)
                )
                beyond = beyond & eq
            pred = beyond if pred is None else (pred | beyond)
        joined = joined.where(pred)
    order = [
        # ES sorts missing values LAST by default in both directions
        # ("missing": "_last"); Spark's bare asc() is nulls-FIRST — use
        # the explicit nulls-last variants so single-index sorts agree
        # with the multi-index merge comparator (aliases._cmp_sort)
        F.col(f).asc_nulls_last() if d == "asc" else F.col(f).desc_nulls_last()
        for f, d in keys
    ]
    return joined.orderBy(*order).limit(k)


_DH_TRUNC = {
    "minute": "minute", "hour": "hour", "day": "day",
    "week": "week", "month": "month", "year": "year",
}

_DH_FIXED_S = {"ms": 0.001, "s": 1.0, "m": 60.0, "h": 3600.0, "d": 86400.0}


def _dh_spec(body: dict) -> tuple[str, object]:
    """date_histogram interval resolution across the three ES spellings
    (legacy ``interval``, ``calendar_interval``, ``fixed_interval``) →
    ``("trunc", unit)`` for calendar units or ``("fixed", step_seconds)``
    for N-unit fixed steps ("30s", "10m", "2h", "7d" — epoch-aligned
    floor, exactly ES's fixed_interval rounding)."""
    import re as _re

    if body.get("offset"):
        raise ValueError(
            "date_histogram offset is unsupported (numeric histogram "
            "offset is; shift the field instead)"
        )
    raw = (
        body.get("calendar_interval") or body.get("fixed_interval")
        or body.get("interval", "day")
    )
    if raw in _DH_TRUNC:
        return ("trunc", _DH_TRUNC[raw])
    m = _re.match(r"^(\d+)(ms|s|m|h|d)$", str(raw))
    if not m:
        raise ValueError(f"unsupported date_histogram interval {raw!r}")
    n, unit = int(m.group(1)), m.group(2)
    if n < 1:
        raise ValueError(f"unsupported date_histogram interval {raw!r}")
    if n == 1 and unit in ("m", "h", "d"):
        # 1m/1h/1d ≡ the calendar unit (identical epoch alignment)
        return ("trunc", {"m": "minute", "h": "hour", "d": "day"}[unit])
    return ("fixed", n * _DH_FIXED_S[unit])


def _dh_floor_py(t, spec: tuple) -> "dt.datetime":
    """Driver-side bucket floor for ONE datetime — used to align
    extended_bounds to the same buckets the data lands in."""
    import datetime as dt

    kind, p = spec
    if kind == "fixed":
        epoch = t.replace(tzinfo=dt.timezone.utc).timestamp() if t.tzinfo is None else t.timestamp()
        import math as _math

        return dt.datetime.utcfromtimestamp(_math.floor(epoch / p) * p)
    if p == "minute":
        return t.replace(second=0, microsecond=0)
    if p == "hour":
        return t.replace(minute=0, second=0, microsecond=0)
    if p == "day":
        return t.replace(hour=0, minute=0, second=0, microsecond=0)
    if p == "week":
        d0 = t.replace(hour=0, minute=0, second=0, microsecond=0)
        return d0 - dt.timedelta(days=d0.weekday())
    if p == "month":
        return t.replace(day=1, hour=0, minute=0, second=0, microsecond=0)
    return t.replace(month=1, day=1, hour=0, minute=0, second=0, microsecond=0)


_DH_MAX_EMPTY_BUCKETS = 100_000


def _dh_bucket_range(lo, hi, spec: tuple) -> list:
    """Every bucket key from floor(lo) to floor(hi) inclusive — the
    densified axis for ``min_doc_count: 0`` (``_densify_dh_df``).
    Bounded: a range that would yield > 100k empty buckets raises (a
    chart never wants it)."""
    import datetime as dt

    kind, p = spec
    lo, hi = _dh_floor_py(lo, spec), _dh_floor_py(hi, spec)
    out = []
    cur = lo
    while cur <= hi:
        out.append(cur)
        if len(out) > _DH_MAX_EMPTY_BUCKETS:
            raise ValueError(
                "min_doc_count=0 would densify more than 100k buckets — "
                "narrow the range or widen the interval"
            )
        if kind == "fixed":
            cur = cur + dt.timedelta(seconds=p)
        elif p == "minute":
            cur = cur + dt.timedelta(minutes=1)
        elif p == "hour":
            cur = cur + dt.timedelta(hours=1)
        elif p == "day":
            cur = cur + dt.timedelta(days=1)
        elif p == "week":
            cur = cur + dt.timedelta(days=7)
        elif p == "month":
            y, mth = divmod(cur.month, 12)
            cur = cur.replace(year=cur.year + y, month=mth + 1)
        else:
            cur = cur.replace(year=cur.year + 1)
    return out


def _dh_parse_bound(v) -> "dt.datetime":
    """extended_bounds value → datetime: epoch millis or an ISO string."""
    import datetime as dt

    if isinstance(v, (int, float)):
        return dt.datetime.utcfromtimestamp(float(v) / 1000.0)
    return dt.datetime.fromisoformat(str(v).replace("Z", "+00:00")).replace(tzinfo=None)


def _densify_dh_df(spark, base: "DataFrame", body: dict) -> "DataFrame":
    """date_histogram ``min_doc_count: 0``: left-join the aggregated
    buckets onto the full bucket axis (data range ∪ extended_bounds,
    driver-generated — the axis is chart-sized and capped at 100k; the
    COUNTS stay distributed). ES's gap-filled Kibana histogram."""
    spec = _dh_spec(body)
    mm = base.agg(F.min("key"), F.max("key")).first()
    lo, hi = mm[0], mm[1]
    eb = body.get("extended_bounds") or {}
    if eb.get("min") is not None:
        b = _dh_parse_bound(eb["min"])
        lo = b if lo is None else min(lo, b)
    if eb.get("max") is not None:
        b = _dh_parse_bound(eb["max"])
        hi = b if hi is None else max(hi, b)
    if lo is None or hi is None:
        return base.orderBy("key")
    axis = _dh_bucket_range(lo, hi, spec)
    span = spark.createDataFrame([(t,) for t in axis], "key timestamp")
    return (
        span.join(base, "key", "left")
        .select("key", F.coalesce("n", F.lit(0)).alias("n"))
        .orderBy("key")
    )


def _densify_hist_df(spark, base: "DataFrame", body: dict) -> "DataFrame":
    """histogram ``min_doc_count: 0`` — the numeric twin of
    ``_densify_dh_df``."""
    step = float(body["interval"])
    mm = base.agg(F.min("key"), F.max("key")).first()
    lo, hi = mm[0], mm[1]
    eb = body.get("extended_bounds") or {}
    if eb.get("min") is not None:
        lo = float(eb["min"]) if lo is None else min(lo, float(eb["min"]))
    if eb.get("max") is not None:
        hi = float(eb["max"]) if hi is None else max(hi, float(eb["max"]))
    if lo is None or hi is None:
        return base.orderBy("key")
    axis = _hist_bucket_range(
        float(lo), float(hi), step, float(body.get("offset", 0) or 0)
    )
    # join on the INTEGER bucket ordinal, not the float key: the driver
    # axis (lo + i*step) and Spark's bucket key (floor((x-off)/s)*s+off)
    # can differ by 1 ulp for non-integral interval/offset, which would
    # silently zero a real bucket's count (r05 ADVICE)
    a0 = float(axis[0])
    span = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate(axis)], "ord long, key double"
    )
    base_o = base.withColumn(
        "ord", F.round((F.col("key") - F.lit(a0)) / F.lit(step)).cast("long")
    ).drop("key")
    return (
        span.join(base_o, "ord", "left")
        .select("key", F.coalesce("n", F.lit(0)).alias("n"))
        .orderBy("key")
    )


def _hist_bucket_range(
    lo: float, hi: float, step: float, offset: float = 0.0,
) -> list[float]:
    """Numeric-histogram densified axis (min_doc_count: 0)."""
    import math as _math

    lo = _math.floor((lo - offset) / step) * step + offset
    hi = _math.floor((hi - offset) / step) * step + offset
    n = int(round((hi - lo) / step)) + 1
    if n > _DH_MAX_EMPTY_BUCKETS:
        raise ValueError(
            "min_doc_count=0 would densify more than 100k buckets — "
            "narrow the range or widen the interval"
        )
    return [lo + i * step for i in range(n)]


def search_aggs(
    spark: SparkSession,
    out_dir: "str | Searcher",
    aggs: dict,
    query: str = "",
    *,
    must: str | None = None,
    must_not: str | None = None,
    min_should: int = 0,
    filters: dict | None = None,
    ranges: dict | None = None,
    or_groups: list | None = None,
    not_atoms: list | None = None,
) -> dict[str, DataFrame]:
    """ES search aggregations over the FULL matching set of a bool query,
    distributed end to end (the Kibana visualization workload the reference
    serves from ES): one pruned posting scan resolves the matching doc_ids
    (``bool_doc_ids`` — no cap, no driver materialization), one
    bucket-aligned join against the docstore, then one hash aggregation per
    requested agg. ``aggs`` uses the ES request shape::

        {"by_day":   {"date_histogram": {"field": "ts", "interval": "day"}},
         "sizes":    {"histogram":      {"field": "n_chars", "interval": 100}},
         "langs":    {"terms":          {"field": "lang", "size": 10}},
         "length":   {"stats":          {"field": "n_chars"}},
         "uniq_src": {"cardinality":    {"field": "source"}},
         "p_len":    {"percentiles":    {"field": "n_chars",
                                         "percents": [50, 95, 99]}},
         "sig_src":  {"significant_terms": {"field": "source"}}}

    Returns {name: DataFrame}. ``cardinality`` uses HyperLogLog++-style
    ``approx_count_distinct`` like ES (pass ``"exact": True`` for a true
    countDistinct); ``percentiles`` uses ``percentile_approx`` (ES's
    t-digest analogue). Fields come from the docstore's stored columns
    (``write_docstore(extra_cols=...)``). Over a window Searcher the
    aggregations run once over the days' unioned join (aggregations over
    disjoint day corpora compose exactly), and the significant_terms /
    significant_text background is the window's corpus."""
    s = _searcher(spark, out_dir)
    hits = bool_doc_ids(
        spark, s, query, must=must, must_not=must_not,
        min_should=min_should, filters=filters, ranges=ranges,
        or_groups=or_groups, not_atoms=not_atoms,
    )
    store = _docstore_scan(spark, s)
    joined = store.join(hits, "doc_id")
    # significant_text needs the index itself (dictionary background) —
    # split it out of the joined-frame agg set
    st = {n: sp for n, sp in aggs.items() if "significant_text" in sp}
    rest = {n: sp for n, sp in aggs.items() if n not in st}
    out = aggs_over_join(joined, rest, background=store) if rest else {}
    for n, spec in st.items():
        out[n] = _significant_text_df(s, joined, n, spec["significant_text"])
    return out


def _significant_text_df(
    s: "Searcher", joined: DataFrame, name: str, body: dict,
) -> DataFrame:
    """ES significant_text: the analyzed TEXT terms that characterize the
    matching set vs the whole index (JLH, like significant_terms) — "what
    words make these logs different". Foreground = matched docs' stored
    text re-tokenized (one explode over the hit-bounded join, per-doc
    distinct); background = the index DICTIONARY's doc frequencies (an
    aggregated metadata read — the corpus is never re-scanned). Default
    analyzer chain only: a stopword/stemmer config would make the
    re-tokenization diverge from the dictionary's terms — reject, never
    mis-count. Rows: (key, doc_count, bg_count, score)."""
    from functools import reduce

    from .build import KEYWORD_SEP

    stats = s.stats
    if stats.get("analyzer"):
        raise ValueError(
            f"agg {name!r}: significant_text over an analyzer-configured "
            "index is unsupported (use significant_terms on a keyword "
            "field, or reindex without the analyzer)"
        )
    col = body["field"]
    if col not in joined.columns:
        raise ValueError(
            f"agg {name!r}: significant_text needs the stored text column "
            f"{col!r} (write_docstore(extra_cols=...))"
        )
    size = int(body.get("size", 10))
    min_dc = int(body.get("min_doc_count", 3))
    fg = (
        joined.where(F.col(col).isNotNull())
        .select(
            F.explode(
                F.array_distinct(
                    F.filter(
                        F.split(F.lower(F.col(col)), "[^a-z0-9]+"),
                        lambda t: t != "",
                    )
                )
            ).alias("key")
        )
        .groupBy("key").agg(F.count("*").alias("doc_count"))
    )
    bg = (
        reduce(DataFrame.unionByName, [
            s.spark.read.parquet(os.path.join(d, "dictionary")) for d in s._dirs
        ])
        .where(~F.col("term").contains(KEYWORD_SEP))
        .groupBy(F.col("term").alias("key"))
        .agg(F.sum("df").alias("bg_count"))
    )
    fgt = joined.agg(F.count("*").alias("fg_total"))
    bg_total = float(stats["n_docs"])
    fgp = F.col("doc_count") / F.col("fg_total")
    bgp = F.col("bg_count") / F.lit(bg_total)
    return (
        fg.join(bg, "key")
        .crossJoin(F.broadcast(fgt))
        .where(F.col("doc_count") >= min_dc)
        .withColumn("score", (fgp - bgp) * (fgp / bgp))
        .where(F.col("score") > 0)
        .orderBy(F.desc("score"), F.asc("key"))
        .select("key", "doc_count", "bg_count", "score")
        .limit(size)
    )


def _agg_spec(name: str, spec: dict) -> tuple[str, dict, dict | None]:
    """Validate one ES agg spec → (kind, body, sub_aggs). A spec holds
    exactly one agg type plus an optional ``aggs`` child block."""
    kinds = [k for k in spec if k != "aggs"]
    if len(kinds) != 1:
        raise ValueError(f"agg {name!r} must have exactly one type, got {list(spec)}")
    return kinds[0], spec[kinds[0]], spec.get("aggs")


def _bucket_expr(kind: str, body: dict):
    """The bucket-key column for a bucketing agg kind (shared by the flat
    and sub-bucket paths so their key semantics can never drift)."""
    col = body["field"]
    if kind == "terms":
        if body.get("missing") is not None:
            # ES missing: docs lacking the field bucket under this value
            return F.coalesce(F.col(col), F.lit(body["missing"]))
        return F.col(col)
    if kind == "date_histogram":
        dh_kind, p = _dh_spec(body)
        if dh_kind == "trunc":
            return F.date_trunc(p, F.col(col))
        return F.timestamp_seconds(
            F.floor(F.col(col).cast("double") / float(p)) * float(p)
        )
    if kind == "histogram":
        step = float(body["interval"])
        off = float(body.get("offset", 0) or 0)
        return F.floor((F.col(col) - off) / step) * step + off
    raise ValueError(f"agg kind {kind!r} is not a bucketing agg (cannot hold sub-aggs)")


def _keyed(df: DataFrame, kind: str, body: dict) -> DataFrame:
    """ES bucketing aggs skip docs missing the bucket field — unless a
    terms ``missing`` substitute value is configured."""
    if kind == "terms" and body.get("missing") is not None:
        return df
    return df.where(F.col(body["field"]).isNotNull())


_TREE_BUCKETS = ("terms", "date_histogram", "histogram")
_TREE_TERMINALS = ("range", "top_hits")


def _parse_agg_chain(name: str, pkind: str, pbody: dict, sub: dict):
    """Parse a bucketing agg plus its (arbitrarily nested) ``aggs``
    children into a flat CHAIN of levels — the rectangular subset of ES's
    agg tree. Each level is one bucketing agg (terms / date_histogram /
    histogram) carrying any number of METRIC siblings (stats, cardinality,
    percentiles, avg/sum/min/max/value_count), plus at most one child that
    expands rows: the next bucketing level, or a terminal ``range`` /
    ``top_hits`` (which must be the only child at its level). Two
    row-expanding children at one level cannot flatten into one
    rectangular frame and raise — ask for them as two sibling requests.

    Returns ``[(kind, body, metrics, terminal), ...]`` with
    ``metrics = [(child_name, kind, body)]`` and
    ``terminal = (child_name, "range"|"top_hits", body) | None`` (only
    ever set on the last level)."""
    levels = []
    kind, body, cur = pkind, pbody, sub
    while True:
        if kind not in _TREE_BUCKETS:
            raise ValueError(f"agg {name!r}: {kind!r} cannot hold sub-aggs")
        if int(body.get("min_doc_count", 1)) == 0:
            raise ValueError(
                f"agg {name!r}: min_doc_count=0 (gap filling) is supported "
                f"on flat date_histogram/histogram aggs only"
            )
        metrics: list[tuple[str, str, dict]] = []
        bucket_child = None
        terminal = None
        for cname, cspec in (cur or {}).items():
            ckind, cbody, csub = _agg_spec(cname, cspec)
            if ckind in _TREE_BUCKETS:
                if bucket_child is not None or terminal is not None:
                    raise ValueError(
                        f"agg {name!r}: at most one row-expanding sub-agg "
                        f"per level (a second bucketing child cannot "
                        f"flatten to one frame)"
                    )
                bucket_child = (ckind, cbody, csub)
            elif ckind in _TREE_TERMINALS:
                if csub is not None:
                    raise ValueError(
                        f"agg {name!r}: {ckind} sub-aggs are unsupported"
                    )
                if bucket_child is not None or terminal is not None:
                    raise ValueError(
                        f"agg {name!r}: at most one row-expanding sub-agg "
                        f"per level"
                    )
                terminal = (cname, ckind, cbody)
            elif ckind in ("stats", "cardinality", "percentiles") or ckind in _METRIC_FNS:
                if csub is not None:
                    raise ValueError(
                        f"agg {name!r}: metric agg {cname!r} cannot hold sub-aggs"
                    )
                metrics.append((cname, ckind, cbody))
            else:
                raise ValueError(f"unsupported sub-agg type {ckind!r} in {name!r}")
        if terminal is not None and metrics:
            raise ValueError(
                f"agg {name!r}: {terminal[1]} must be the only sub-agg at "
                f"its level"
            )
        levels.append((kind, body, metrics, terminal))
        if bucket_child is None:
            return levels
        kind, body, cur = bucket_child


def _tree_key_col(lvl: int) -> str:
    return "key" if lvl == 1 else ("child_key" if lvl == 2 else f"child_key{lvl}")


def _metric_exprs(cname: str, ckind: str, cbody: dict, prefixed: bool):
    """Column expressions + aliases for one metric sibling in an agg tree.
    Single metric child of a depth-1 parent keeps the legacy unprefixed
    names ("value", stats' count/min/max/avg/sum, p50…); everything else
    prefixes with the child's agg name so siblings can't collide."""
    p = f"{cname}_" if prefixed else ""
    col = cbody["field"]
    if ckind == "stats":
        return [
            F.count(col).alias(f"{p}count"),
            F.min(col).alias(f"{p}min"),
            F.max(col).alias(f"{p}max"),
            F.avg(col).alias(f"{p}avg"),
            F.sum(col).alias(f"{p}sum"),
        ]
    if ckind == "cardinality":
        fn = F.count_distinct if cbody.get("exact") else F.approx_count_distinct
        return [fn(F.col(col)).alias(cname if prefixed else "value")]
    if ckind == "percentiles":
        pcts = [float(x) for x in cbody.get("percents", [50.0, 95.0, 99.0])]
        return [
            F.percentile_approx(col, x / 100.0).alias(f"{p}p{x:g}") for x in pcts
        ]
    return [_METRIC_FNS[ckind](col).alias(cname if prefixed else "value")]


def _terms_order_keys(
    name: str, body: dict, metrics: list | None, *, prefixed: bool,
) -> list[tuple[str, bool]]:
    """ES terms-agg ``order`` → [(column, ascending)] bucket-selection
    keys, shared by the Spark and pandas twins so their top-``size``
    choice can never drift. ``order`` may be a dict (one criterion) or a
    list of dicts; keys are ``_count``, ``_key``, a SAME-LEVEL
    single-value metric sibling's name (avg/sum/min/max/value_count/
    cardinality/weighted_avg), or ``<stats-sibling>.<count|min|max|avg|
    sum>``. Default [count desc]; ES's key-asc tiebreak is always
    appended. Percentiles order keys are rejected (multi-value)."""
    order = body.get("order")
    if order is None:
        entries: list[tuple[str, str]] = []
    elif isinstance(order, dict):
        entries = list(order.items())
    elif isinstance(order, list):
        entries = [e for d in order for e in d.items()]
    else:
        raise ValueError(f"agg {name!r}: bad terms order {order!r}")
    colmap = {"_count": "_count", "_key": "_key", "_term": "_key"}
    for cname, ckind, _cbody in metrics or []:
        p = f"{cname}_" if prefixed else ""
        if ckind == "stats":
            for part in ("count", "min", "max", "avg", "sum"):
                colmap[f"{cname}.{part}"] = f"{p}{part}"
        elif ckind == "percentiles":
            continue
        else:
            colmap[cname] = cname if prefixed else "value"
    crits: list[tuple[str, bool]] = []
    for k, d in entries:
        dl = str(d).lower()
        if dl not in ("asc", "desc"):
            raise ValueError(f"agg {name!r}: order direction {d!r}")
        if k not in colmap:
            raise ValueError(
                f"agg {name!r}: order key {k!r} must be _key, _count, or a "
                f"single-value metric sibling declared at this level"
            )
        crits.append((colmap[k], dl == "asc"))
    if not crits:
        crits = [("_count", False)]
    if crits[-1][0] != "_key":
        crits.append(("_key", True))
    return crits


def _terms_incl_excl_col(key, body: dict):
    """ES terms-agg ``include``/``exclude`` → a Column predicate over the
    bucket key (list = exact membership, string = anchored regex — Java
    regex via rlike; the serving engine's ``_terms_incl_excl_ok`` uses
    re.fullmatch, same anchoring). Returns None when neither option is
    set."""
    conds = []
    inc, exc = body.get("include"), body.get("exclude")
    for spec, negate in ((inc, False), (exc, True)):
        if spec is None:
            continue
        if isinstance(spec, (list, tuple)):
            c = key.isin(list(spec))
        else:
            c = key.cast("string").rlike(f"^(?:{spec})$")
        conds.append(~c if negate else c)
    if not conds:
        return None
    out = conds[0]
    for c in conds[1:]:
        out = out & c
    return out


def _terms_incl_excl_ok(k, body: dict) -> bool:
    """pandas twin of ``_terms_incl_excl_col`` for one bucket key."""
    import re as _re

    inc, exc = body.get("include"), body.get("exclude")
    for spec, negate in ((inc, False), (exc, True)):
        if spec is None:
            continue
        if isinstance(spec, (list, tuple)):
            hit = k in list(spec)
        else:
            hit = _re.fullmatch(str(spec), str(k)) is not None
        if hit == negate:
            return False
    return True


def _pd_sort_buckets(items: list, crits: list[tuple[str, bool]], cell) -> None:
    """Stable multi-criteria in-place sort matching Spark's null ordering
    (asc → nulls first, desc → nulls last): one pass per criterion in
    reverse significance. ``cell(item, col)`` resolves a criterion column
    to its value."""
    for col, asc in reversed(crits):
        def k(item, _c=col):
            v = cell(item, _c)
            return (v is not None, v if v is not None else 0)

        items.sort(key=k, reverse=not asc)


def aggs_over_join(
    joined: DataFrame, aggs: dict, background: DataFrame | None = None,
) -> dict[str, DataFrame]:
    """The aggregation half of ``search_aggs``: ES-shaped agg specs over an
    already-joined (matching ids ⋈ stored columns) frame — one index's or
    a day window's union (``_docstore_scan``). A bucketing spec may carry
    ES sub-aggregations (``"aggs"``) nested to any depth with multiple
    metric siblings per level — the full Kibana split-series shape; see
    ``_sub_bucket_df`` for the flattening rules."""
    if len(aggs) > 1:
        # each agg is its own Spark action — materialize the matching-set
        # join once instead of re-running the posting scan per agg
        # (localCheckpoint, not persist: blocks are GC-released, r2 lesson)
        joined = joined.localCheckpoint(eager=True)
    out: dict[str, DataFrame] = {}
    pipelines: list[tuple[str, str, dict]] = []
    bucket_kinds: dict[str, str] = {}
    for name, spec in aggs.items():
        kind, body, sub = _agg_spec(name, spec)
        bucket_kinds[name] = kind
        if kind in _PIPELINE_KINDS:
            # sibling pipeline aggs run AFTER their parent bucket aggs
            pipelines.append((name, kind, body))
            continue
        if kind == "global":
            if background is None:
                raise ValueError(
                    f"agg {name!r}: global needs the index background "
                    "(serve via search_aggs / the DSL)"
                )
            if not sub or len(sub) != 1:
                raise ValueError(
                    f"agg {name!r}: global takes exactly one child agg"
                )
            # ES global: the child ignores the query — whole-index scope
            ((_cn, _cs),) = sub.items()
            out[name] = aggs_over_join(background, {_cn: _cs}, background)[_cn]
            continue
        if kind == "multi_terms":
            if sub is not None:
                raise ValueError(
                    f"agg {name!r}: multi_terms sub-aggs are unsupported"
                )
            fields = [t["field"] for t in body["terms"]]
            nn = joined
            for f in fields:
                nn = nn.where(F.col(f).isNotNull())
            df = (
                nn.groupBy(*fields)
                .agg(F.count("*").alias("n"))
                .orderBy(F.desc("n"), *[F.asc(f) for f in fields])
            )
            size = int(body.get("size", 10))
            out[name] = df.limit(size) if size else df
            continue
        if kind == "rare_terms":
            if sub is not None:
                raise ValueError(
                    f"agg {name!r}: rare_terms sub-aggs are unsupported"
                )
            mdc = int(body.get("max_doc_count", 1))
            out[name] = (
                joined.where(F.col(body["field"]).isNotNull())
                .groupBy(F.col(body["field"]).alias("key"))
                .agg(F.count("*").alias("n"))
                .where(F.col("n") <= mdc)
                .orderBy(F.asc("n"), F.asc("key"))
            )
            continue
        if kind == "date_range":
            exprs, stack = _date_range_agg_parts(body["field"], body["ranges"])
            out[name] = (
                joined.agg(*exprs).selectExpr(stack).orderBy("_rk")
                .select("key", "n")
            )
            continue
        if kind == "filter":
            out[name] = _filter_agg_df(joined, name, body, sub)
            continue
        if kind == "filters":
            exprs, stack = _filters_agg_parts(body["filters"])
            out[name] = (
                joined.agg(*exprs).selectExpr(stack).orderBy("_rk")
                .select("key", "n")
            )
            continue
        if kind == "adjacency_matrix":
            if sub is not None:
                raise ValueError(
                    f"agg {name!r}: adjacency_matrix sub-aggs are unsupported"
                )
            exprs, stack = _adjacency_agg_parts(
                body["filters"], str(body.get("separator", "&"))
            )
            # ES omits empty buckets; adjacency buckets order by key asc
            out[name] = (
                joined.agg(*exprs).selectExpr(stack)
                .where(F.col("n") > 0).orderBy("key").select("key", "n")
            )
            continue
        if kind == "auto_date_histogram":
            if sub is not None:
                raise ValueError(
                    f"agg {name!r}: auto_date_histogram sub-aggs are "
                    "unsupported"
                )
            col_ = body["field"]
            row = joined.agg(
                F.min(col_).alias("lo"), F.max(col_).alias("hi")
            ).collect()[0]
            unit = _auto_dh_unit(row["lo"], row["hi"], int(body.get("buckets", 10)))
            out[name] = (
                joined.where(F.col(col_).isNotNull())
                .groupBy(F.date_trunc(unit, F.col(col_)).alias("key"))
                .agg(F.count("*").alias("n"))
                .withColumn("interval", F.lit(unit))
                .orderBy("key")
            )
            continue
        if kind == "composite":
            if sub is not None:
                raise ValueError(
                    f"agg {name!r}: composite sub-aggs are unsupported"
                )
            out[name] = _composite_agg_df(joined, name, body)
            continue
        if kind == "significant_terms":
            if sub is not None:
                raise ValueError(
                    f"agg {name!r}: significant_terms sub-aggs are unsupported"
                )
            out[name] = _significant_terms_df(joined, name, body, background)
            continue
        if kind == "weighted_avg":
            # ES weighted_avg: sum(value·weight)/sum(weight), rows missing
            # either field excluded (ES skips docs lacking the value and
            # treats missing weight as skip absent a configured `missing`)
            vf, wf = body["value"]["field"], body["weight"]["field"]
            nn = joined.where(F.col(vf).isNotNull() & F.col(wf).isNotNull())
            out[name] = nn.agg(
                (F.sum(F.col(vf) * F.col(wf)) / F.sum(wf)).alias("value")
            )
            continue
        if kind == "top_metrics":
            if sub is not None:
                raise ValueError(
                    f"agg {name!r}: top_metrics sub-aggs are unsupported"
                )
            srt = body["sort"]
            if isinstance(srt, dict):
                ((sf, sdir),) = srt.items()
                if isinstance(sdir, dict):
                    sdir = sdir.get("order", "asc")
            else:
                sf, sdir = str(srt), "asc"
            mflds = [m["field"] for m in body.get("metrics") or []]
            if not mflds:
                raise ValueError(f"agg {name!r}: top_metrics needs metrics")
            tsize = int(body.get("size", 1))
            oby = [
                F.desc(sf) if str(sdir) == "desc" else F.asc(sf),
                F.asc("doc_id"),  # deterministic tiebreak (ES: shard order)
            ]
            out[name] = (
                joined.where(F.col(sf).isNotNull())
                .orderBy(*oby)
                .select(F.col(sf).alias("sort"), *mflds)
                .limit(tsize)
            )
            continue
        if sub is not None:
            out[name] = _sub_bucket_df(joined, name, kind, body, sub)
            continue
        col = body["field"]
        if kind == "missing":
            # ES missing agg: the bucket of hits WITHOUT the field
            out[name] = joined.agg(
                F.coalesce(
                    F.sum(F.when(F.col(col).isNull(), 1).otherwise(0)), F.lit(0)
                ).alias("n")
            )
            continue
        if kind == "terms":
            crits = _terms_order_keys(name, body, None, prefixed=True)
            flatcol = {"_count": "n", "_key": "key"}
            sel_t = _keyed(joined, kind, body)
            ie = _terms_incl_excl_col(_bucket_expr(kind, body), body)
            if ie is not None:
                sel_t = sel_t.where(ie)
            df = (
                sel_t
                .groupBy(_bucket_expr(kind, body).alias("key"))
                .agg(F.count("*").alias("n"))
                .orderBy(*[
                    (F.asc if a else F.desc)(flatcol[c]) for c, a in crits
                ])
            )
            # ES defaults terms-agg size to 10; an absent size must NOT
            # return the unbounded distinct set (a high-cardinality keyword
            # would otherwise be collected whole by the DSL serving path —
            # a driver OOM an ES user never hits). size=0 = explicit all.
            size = int(body.get("size", 10))
            out[name] = df.limit(size) if size else df
        elif kind in ("date_histogram", "histogram"):
            base = (
                _keyed(joined, kind, body)
                .groupBy(_bucket_expr(kind, body).alias("key"))
                .agg(F.count("*").alias("n"))
            )
            densify = _densify_dh_df if kind == "date_histogram" else _densify_hist_df
            if int(body.get("min_doc_count", 1)) == 0:
                out[name] = densify(joined.sparkSession, base, body)
            else:
                out[name] = base.orderBy("key")
        elif kind == "stats":
            out[name] = joined.agg(
                F.count(col).alias("count"),
                F.min(col).alias("min"),
                F.max(col).alias("max"),
                F.avg(col).alias("avg"),
                F.sum(col).alias("sum"),
            )
        elif kind == "cardinality":
            fn = F.count_distinct if body.get("exact") else F.approx_count_distinct
            out[name] = joined.agg(fn(F.col(col)).alias("value"))
        elif kind in _METRIC_FNS:
            out[name] = joined.agg(_METRIC_FNS[kind](col).alias("value"))
        elif kind == "range":
            exprs, stack = _range_agg_parts(col, body["ranges"])
            out[name] = (
                joined.agg(*exprs).selectExpr(stack).orderBy("_rk")
                .select("key", "n")
            )
        elif kind == "percentiles":
            pcts = [float(p) for p in body.get("percents", [50.0, 95.0, 99.0])]
            out[name] = joined.agg(
                *[
                    F.percentile_approx(col, p / 100.0).alias(f"p{p:g}")
                    for p in pcts
                ]
            )
        elif kind == "extended_stats":
            # ES extended_stats; variance/std_deviation are POPULATION
            # (ddof=0), the ES default
            out[name] = joined.agg(
                F.count(col).alias("count"),
                F.min(col).alias("min"),
                F.max(col).alias("max"),
                F.avg(col).alias("avg"),
                F.sum(col).alias("sum"),
                F.sum(F.col(col) * F.col(col)).alias("sum_of_squares"),
                F.var_pop(col).alias("variance"),
                F.stddev_pop(col).alias("std_deviation"),
            )
        elif kind == "percentile_ranks":
            # EXACT rank: % of observed values <= v (ES approximates with
            # t-digest; one conditional-sum pass here, no sort)
            nn = joined.where(F.col(col).isNotNull())
            out[name] = nn.agg(
                *[
                    (
                        F.sum(F.when(F.col(col) <= float(v), 1).otherwise(0))
                        * 100.0 / F.count("*")
                    ).alias(f"r{float(v):g}")
                    for v in body["values"]
                ]
            )
        elif kind == "median_absolute_deviation":
            # exact two-pass MAD: median via Spark's exact `percentile`
            # (linear interpolation — same as pandas/DuckDB median), the
            # 1-row median broadcast back over the hits
            nn = joined.where(F.col(col).isNotNull())
            med = nn.agg(F.expr(f"percentile({col}, 0.5)").alias("_med"))
            out[name] = (
                nn.crossJoin(F.broadcast(med))
                .agg(F.expr(f"percentile(abs({col} - _med), 0.5)").alias("value"))
            )
        elif kind == "string_stats":
            # ES string_stats: length stats + Shannon entropy (log2) over
            # the character distribution of all values
            nn = joined.where(F.col(col).isNotNull())
            base = nn.agg(
                F.count("*").alias("count"),
                F.min(F.length(col)).alias("min_length"),
                F.max(F.length(col)).alias("max_length"),
                F.avg(F.length(col)).alias("avg_length"),
            )
            ent = (
                nn.select(F.explode(F.split(F.col(col), "")).alias("c"))
                .where(F.length("c") == 1)
                .groupBy("c")
                .agg(F.count("*").alias("n"))
                .agg(
                    F.sum("n").alias("_N"),
                    F.sum(F.col("n") * F.log2("n")).alias("_S"),
                )
                .select(
                    F.when(
                        F.col("_N") > 0,
                        F.log2("_N") - F.col("_S") / F.col("_N"),
                    ).alias("entropy")
                )
            )
            out[name] = base.crossJoin(ent)
        else:
            raise ValueError(f"unsupported agg type {kind!r} in {name!r}")
    for name, kind, body in pipelines:
        if kind == "bucket_script":
            # per-bucket computed value from sibling metrics (ES embeds
            # this in the parent's aggs; here it is a top-level sibling
            # addressed via buckets_path, same as derivative)
            parent, colmap = _bucket_paths(out, name, body["buckets_path"])
            node = _parse_script(body["script"])
            pdfr = out[parent]
            if "key" not in pdfr.columns:
                raise ValueError(
                    f"agg {name!r}: bucket_script needs a keyed parent"
                )
            out[name] = pdfr.select(
                "key",
                _script_col(node, {p: F.col(c) for p, c in colmap.items()})
                .cast("double").alias("value"),
            )
            continue
        if kind == "bucket_selector":
            # filters the PARENT's buckets in place (ES drops buckets the
            # script rejects); later pipelines see the filtered frame
            parent, colmap = _bucket_paths(out, name, body["buckets_path"])
            node = _parse_script(body["script"])
            out[parent] = out[parent].where(
                _script_col(node, {p: F.col(c) for p, c in colmap.items()})
            )
            continue
        if kind == "bucket_sort":
            # re-sort / paginate the parent's buckets in place.
            # buckets_path names the parent (our sibling placement of
            # ES's embedded pipeline); sort fields are _count / _key /
            # metric columns
            parent = str(body["buckets_path"])
            if parent not in out:
                raise ValueError(
                    f"agg {name!r}: buckets_path parent {parent!r} is not "
                    f"an earlier bucket agg in this request"
                )
            pdfr = out[parent]
            cols = set(pdfr.columns)
            order = []
            for s in body.get("sort", []):
                f_, spec = (
                    next(iter(s.items())) if isinstance(s, dict) else (s, {})
                )
                cn = "key" if f_ == "_key" else _metric_colname(cols, f_)
                desc = (spec or {}).get("order", "asc") == "desc"
                order.append(F.col(cn).desc() if desc else F.col(cn).asc())
            if order:
                pdfr = pdfr.orderBy(*order)
            frm = int(body.get("from", 0))
            if frm:
                pdfr = pdfr.offset(frm)
            if body.get("size") is not None:
                pdfr = pdfr.limit(int(body["size"]))
            out[parent] = pdfr
            continue
        parent_df, colname = _pipeline_parent(out, name, body)
        if kind in ("moving_fn", "serial_diff"):
            from pyspark.sql import Window

            _series_parent_check(name, kind, body, bucket_kinds)
            if kind == "serial_diff":
                lagn = int(body.get("lag", 1))
                w = Window.orderBy("key")
                out[name] = parent_df.select(
                    "key",
                    (F.col(colname) - F.lag(colname, lagn).over(w))
                    .alias("value"),
                )
            else:
                # ES moving_fn, shift=0: the window is the `window`
                # buckets BEFORE the current one (current excluded);
                # an empty window yields null
                wsz = int(body["window"])
                fn = _MOVING_FNS[_moving_fn_name(body["script"])]
                w = Window.orderBy("key").rowsBetween(-wsz, -1)
                out[name] = parent_df.select(
                    "key", fn(colname).over(w).alias("value")
                )
            continue
        if kind in ("derivative", "cumulative_sum"):
            from pyspark.sql import Window

            _series_parent_check(name, kind, body, bucket_kinds)
            # the parent bucket frame is response-sized (bounded bucket
            # count), so the unpartitioned window is a non-issue
            if kind == "derivative":
                w = Window.orderBy("key")
                out[name] = parent_df.select(
                    "key",
                    (F.col(colname) - F.lag(colname).over(w)).alias("value"),
                )
            else:
                w = Window.orderBy("key").rowsBetween(
                    Window.unboundedPreceding, 0
                )
                out[name] = parent_df.select(
                    "key", F.sum(colname).over(w).alias("value")
                )
            continue
        if kind == "stats_bucket":
            out[name] = parent_df.agg(
                F.count(colname).alias("count"),
                F.min(colname).alias("min"),
                F.max(colname).alias("max"),
                F.avg(colname).alias("avg"),
                F.sum(colname).alias("sum"),
            )
        else:
            fn = {"avg_bucket": F.avg, "sum_bucket": F.sum,
                  "min_bucket": F.min, "max_bucket": F.max}[kind]
            out[name] = parent_df.agg(fn(colname).alias("value"))
    return out


_PIPELINE_KINDS = (
    "avg_bucket", "sum_bucket", "min_bucket", "max_bucket", "stats_bucket",
    "derivative", "cumulative_sum",
    "bucket_script", "bucket_selector", "bucket_sort",
    "moving_fn", "serial_diff",
)


def _parse_script(script: str):
    """ES painless SUBSET for bucket_script / bucket_selector /
    script_fields / runtime fields: ``params.x`` and ``doc['f'].value``
    references, numeric/string literals, ``+ - * / %``, comparisons,
    parentheses, unary minus, and ``&&`` / ``||``. Returns a validated
    python AST the two evaluators (Spark Column / per-row) walk —
    anything outside the subset raises, never silently misparses.
    Division by zero yields null on both paths (Spark SQL semantics;
    painless would raise or Infinity — we pick the SQL answer and
    document it). Doc refs resolve through the same params mapping under
    the key ``doc['f']`` — bucket-pipeline callers never populate those,
    so a doc ref in a bucket_script still raises."""
    import ast

    src = script.replace("&&", " and ").replace("||", " or ")
    try:
        tree = ast.parse(src, mode="eval")
    except SyntaxError as e:
        raise ValueError(f"unsupported script {script!r}: {e}") from None
    ok_binop = (ast.Add, ast.Sub, ast.Mult, ast.Div, ast.Mod)
    ok_cmp = (ast.Gt, ast.GtE, ast.Lt, ast.LtE, ast.Eq, ast.NotEq)

    def _is_doc_ref(n) -> bool:
        # doc['field'] — the script_fields / runtime-field accessor
        return (
            isinstance(n, ast.Subscript)
            and isinstance(n.value, ast.Name) and n.value.id == "doc"
            and isinstance(n.slice, ast.Constant)
            and isinstance(n.slice.value, str)
        )

    for node in ast.walk(tree):
        if isinstance(node, (ast.Expression, ast.Load)):
            continue
        if isinstance(node, ast.BinOp) and isinstance(node.op, ok_binop):
            continue
        if isinstance(node, ast.Compare) and all(
            isinstance(o, ok_cmp) for o in node.ops
        ):
            continue
        if isinstance(node, (ast.And, ast.Or, ast.BoolOp)):
            continue
        if isinstance(node, ast.UnaryOp) and isinstance(node.op, ast.USub):
            continue
        if isinstance(node, ast.Constant) and isinstance(
            node.value, (int, float, str)
        ):
            continue
        if isinstance(node, ast.Attribute) and isinstance(
            node.value, ast.Name
        ) and node.value.id == "params":
            continue
        if isinstance(node, ast.Attribute) and node.attr == "value" and _is_doc_ref(
            node.value
        ):
            continue
        if _is_doc_ref(node):
            continue
        if isinstance(node, ast.Name) and node.id in ("params", "doc"):
            continue
        if isinstance(node, (ast.Gt, ast.GtE, ast.Lt, ast.LtE, ast.Eq,
                             ast.NotEq, ast.Add, ast.Sub, ast.Mult,
                             ast.Div, ast.Mod, ast.USub)):
            continue
        raise ValueError(
            f"unsupported script construct {type(node).__name__} in {script!r}"
        )
    return tree.body


def _script_col(node, params):
    """Walk a ``_parse_script`` AST into a Spark Column (``params`` maps
    param name → Column)."""
    import ast

    if isinstance(node, ast.Attribute):
        key = _doc_ref_key(node)
        if key is not None:
            if key not in params:
                raise ValueError(f"script references unknown field {key}")
            return params[key]
        if node.attr not in params:
            raise ValueError(f"script references unknown param {node.attr!r}")
        return params[node.attr]
    if isinstance(node, ast.Constant):
        return F.lit(node.value)
    if isinstance(node, ast.UnaryOp):
        return -_script_col(node.operand, params)
    if isinstance(node, ast.BinOp):
        left, right = _script_col(node.left, params), _script_col(node.right, params)
        import ast as _a
        op = node.op
        if isinstance(op, _a.Add):
            return left + right
        if isinstance(op, _a.Sub):
            return left - right
        if isinstance(op, _a.Mult):
            return left * right
        if isinstance(op, _a.Div):
            return left / right
        return left % right
    if isinstance(node, ast.Compare):
        import ast as _a
        left = _script_col(node.left, params)
        outc = None
        for op, cmp_ in zip(node.ops, node.comparators):
            right = _script_col(cmp_, params)
            c = (
                (left > right) if isinstance(op, _a.Gt)
                else (left >= right) if isinstance(op, _a.GtE)
                else (left < right) if isinstance(op, _a.Lt)
                else (left <= right) if isinstance(op, _a.LtE)
                else (left == right) if isinstance(op, _a.Eq)
                else (left != right)
            )
            outc = c if outc is None else (outc & c)
            left = right
        return outc
    if isinstance(node, ast.BoolOp):
        import ast as _a
        parts = [_script_col(v, params) for v in node.values]
        c = parts[0]
        for p in parts[1:]:
            c = (c & p) if isinstance(node.op, _a.And) else (c | p)
        return c
    raise ValueError(f"unsupported script node {type(node).__name__}")


def _doc_ref_key(node) -> str | None:
    """``doc['f'].value`` Attribute node → its params key ``doc['f']``
    (None when the node is a plain ``params.x`` reference)."""
    import ast

    if (
        node.attr == "value"
        and isinstance(node.value, ast.Subscript)
        and isinstance(node.value.value, ast.Name)
        and node.value.value.id == "doc"
        and isinstance(node.value.slice, ast.Constant)
    ):
        return f"doc[{node.value.slice.value!r}]"
    return None


def _script_val(node, params):
    """Per-row twin of ``_script_col`` (``params`` maps name → value)."""
    import ast

    if isinstance(node, ast.Attribute):
        key = _doc_ref_key(node)
        if key is not None:
            return params[key]
        return params[node.attr]
    if isinstance(node, ast.Constant):
        return node.value
    if isinstance(node, ast.UnaryOp):
        return -_script_val(node.operand, params)
    if isinstance(node, ast.BinOp):
        left, right = _script_val(node.left, params), _script_val(node.right, params)
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
        left = _script_val(node.left, params)
        for op, cmp_ in zip(node.ops, node.comparators):
            right = _script_val(cmp_, params)
            ok = (
                (left > right) if isinstance(op, ast.Gt)
                else (left >= right) if isinstance(op, ast.GtE)
                else (left < right) if isinstance(op, ast.Lt)
                else (left <= right) if isinstance(op, ast.LtE)
                else (left == right) if isinstance(op, ast.Eq)
                else (left != right)
            )
            if not ok:
                return False
            left = right
        return True
    if isinstance(node, ast.BoolOp):
        vals = (_script_val(v, params) for v in node.values)
        return all(vals) if isinstance(node.op, ast.And) else any(vals)
    raise ValueError(f"unsupported script node {type(node).__name__}")


def eval_doc_script(node, params: dict, row: dict):
    """script_fields / runtime-field evaluation over ONE hit's stored
    row: ``doc['f'].value`` refs resolve to the row's columns. A missing
    or null operand, or a zero divisor, yields None and the caller omits
    the field (documented simplification — painless raises on a missing
    field unless the script guards with .size())."""
    import ast

    vals = dict(params)
    for n in ast.walk(node):
        if isinstance(n, ast.Attribute):
            key = _doc_ref_key(n)
            if key is not None:
                vals[key] = row.get(n.value.slice.value)
    if any(v is None for v in vals.values()):
        return None
    try:
        return _script_val(node, vals)
    except ZeroDivisionError:
        return None


def _metric_colname(cols, metric: str) -> str:
    """buckets_path metric segment → bucket-frame column: ``_count`` is
    the bucket doc count (``doc_count`` on a parent holding sub-aggs,
    ``n`` on a flat one); a named metric matches its column, falling back
    to the legacy unprefixed ``value`` a single metric child keeps."""
    if metric in ("_count", ""):
        return "doc_count" if "doc_count" in cols else "n"
    if metric in cols:
        return metric
    if "value" in cols:
        return "value"
    raise ValueError(
        f"buckets_path metric {metric!r} is not a column (has {sorted(cols)})"
    )


def _bucket_paths(out: dict, name: str, paths) -> tuple[str, dict]:
    """Resolve bucket_script / bucket_selector ``buckets_path`` ({param:
    "parent>metric"}) against the computed bucket frames. Every path must
    name the SAME parent — one frame in, one value per bucket out."""
    if isinstance(paths, str):
        paths = {"_value": paths}
    parents, colmap = set(), {}
    for p, path in paths.items():
        parent, _, metric = str(path).partition(">")
        if parent not in out:
            raise ValueError(
                f"agg {name!r}: buckets_path parent {parent!r} is not an "
                f"earlier bucket agg in this request"
            )
        parents.add(parent)
        colmap[p] = _metric_colname(set(out[parent].columns), metric)
    if len(parents) != 1:
        raise ValueError(
            f"agg {name!r}: bucket_script paths must share one parent, "
            f"got {sorted(parents)}"
        )
    return parents.pop(), colmap


_MOVING_FNS = {
    "unweightedAvg": F.avg, "sum": F.sum, "min": F.min, "max": F.max,
}


def _moving_fn_name(script: str) -> str:
    """``MovingFunctions.unweightedAvg(values)`` → ``unweightedAvg``."""
    import re

    m = re.fullmatch(r"\s*MovingFunctions\.(\w+)\(values\)\s*", script)
    if not m or m.group(1) not in _MOVING_FNS:
        raise ValueError(
            f"moving_fn supports MovingFunctions.{{{'|'.join(_MOVING_FNS)}}}"
            f"(values), got {script!r}"
        )
    return m.group(1)


def _series_parent_check(
    name: str, kind: str, body: dict, bucket_kinds: dict[str, str]
) -> None:
    """ES: derivative / cumulative_sum are SERIES pipelines — the parent
    must be an ordered histogram/date_histogram, not a terms ranking."""
    parent = str(body["buckets_path"]).partition(">")[0]
    pk = bucket_kinds.get(parent)
    if pk not in ("histogram", "date_histogram"):
        raise ValueError(
            f"agg {name!r}: {kind} needs a histogram/date_histogram "
            f"parent (got {pk!r})"
        )


def _pipeline_parent(out: dict, name: str, body: dict):
    """Resolve a sibling pipeline agg's ``buckets_path`` ("parent>metric",
    ES syntax; metric ``_count`` = the bucket doc counts) against the
    already-computed bucket frames. The metric runs over the parent's
    RETURNED buckets — after its size/order selection — exactly like ES."""
    path = str(body["buckets_path"])
    parent, _, metric = path.partition(">")
    if parent not in out:
        raise ValueError(
            f"agg {name!r}: buckets_path parent {parent!r} is not an "
            f"earlier bucket agg in this request"
        )
    return out[parent], _metric_colname(set(out[parent].columns), metric)


_METRIC_FNS = {
    "avg": F.avg, "sum": F.sum, "min": F.min, "max": F.max,
    "value_count": F.count,
}


def _range_key(spec: dict) -> str:
    """ES range-agg bucket key: custom "key" or "from-to" with * open."""
    if "key" in spec:
        return str(spec["key"])
    lo = f"{float(spec['from']):g}" if "from" in spec else "*"
    hi = f"{float(spec['to']):g}" if "to" in spec else "*"
    return f"{lo}-{hi}"


def _range_agg_parts(col: str, ranges: list[dict]):
    """ES range aggregation as ONE pass of conditional sums (ranges may
    OVERLAP — a doc can land in several buckets, so this is NOT a groupBy
    key): one agg row, stacked back to (key, n) bucket rows in spec
    order. from is inclusive, to exclusive (the ES contract)."""
    exprs = []
    for i, spec in enumerate(ranges):
        cond = F.lit(True) & F.col(col).isNotNull()
        if "from" in spec:
            cond = cond & (F.col(col) >= float(spec["from"]))
        if "to" in spec:
            cond = cond & (F.col(col) < float(spec["to"]))
        exprs.append(
            F.coalesce(F.sum(F.when(cond, 1).otherwise(0)), F.lit(0)).alias(f"_r{i}")
        )
    stack = (
        f"stack({len(ranges)}, "
        + ", ".join(
            f"'{_range_key(s)}', {i}, _r{i}" for i, s in enumerate(ranges)
        )
        + ") as (key, _rk, n)"
    )
    return exprs, stack


def _date_range_key(spec: dict) -> str:
    """ES date_range bucket key: custom "key" or "from-to" with * open."""
    if "key" in spec:
        return str(spec["key"])
    return f"{spec.get('from', '*')}-{spec.get('to', '*')}"


def _date_range_agg_parts(col: str, ranges: list[dict]):
    """ES date_range aggregation — the range agg over a timestamp column
    (from inclusive, to exclusive, overlap allowed, bucket order = spec
    order), bounds given as ISO strings and cast once per bucket."""
    exprs = []
    for i, spec in enumerate(ranges):
        cond = F.col(col).isNotNull()
        if "from" in spec:
            cond = cond & (F.col(col) >= F.lit(str(spec["from"])).cast("timestamp"))
        if "to" in spec:
            cond = cond & (F.col(col) < F.lit(str(spec["to"])).cast("timestamp"))
        exprs.append(
            F.coalesce(F.sum(F.when(cond, 1).otherwise(0)), F.lit(0)).alias(f"_d{i}")
        )
    stack = (
        f"stack({len(ranges)}, "
        + ", ".join(
            f"'{_date_range_key(s)}', {i}, _d{i}" for i, s in enumerate(ranges)
        )
        + ") as (key, _rk, n)"
    )
    return exprs, stack


_RANGE_OPS = {"gte": "__ge__", "gt": "__gt__", "lte": "__le__", "lt": "__lt__"}


def _clause_list(x) -> list:
    if x is None:
        return []
    return list(x) if isinstance(x, list) else [x]


def _filter_cond(clause: dict):
    """ES filter-context clause → a Spark boolean Column over the STORED
    columns of the matching set. These are the filter/filters-AGGREGATION
    predicates — ES evaluates them over the query's hits, so they are
    post-query bucket conditions, never posting-list pushdowns. Leaf
    conditions null-coalesce to false so bool.must_not keeps ES semantics
    (a doc missing the field matches the negation)."""
    if len(clause) != 1:
        raise ValueError(
            f"filter clause must have exactly one key, got {list(clause)}"
        )
    kind, body = next(iter(clause.items()))
    if kind == "term":
        f, v = next(iter(body.items()))
        v = v["value"] if isinstance(v, dict) else v
        return F.coalesce(F.col(f) == F.lit(v), F.lit(False))
    if kind == "terms":
        f, vs = next(iter(body.items()))
        return F.coalesce(F.col(f).isin(list(vs)), F.lit(False))
    if kind == "range":
        f, spec = next(iter(body.items()))
        cond = F.col(f).isNotNull()
        for op, v in spec.items():
            if op not in _RANGE_OPS:
                raise ValueError(f"unsupported range operator {op!r} on {f!r}")
            cond = cond & getattr(F.col(f), _RANGE_OPS[op])(F.lit(v))
        return F.coalesce(cond, F.lit(False))
    if kind == "exists":
        return F.col(body["field"]).isNotNull()
    if kind == "bool":
        cond = F.lit(True)
        for c in _clause_list(body.get("must")) + _clause_list(body.get("filter")):
            cond = cond & _filter_cond(c)
        shoulds = _clause_list(body.get("should"))
        if shoulds:
            oc = F.lit(False)
            for c in shoulds:
                oc = oc | _filter_cond(c)
            cond = cond & oc
        for c in _clause_list(body.get("must_not")):
            cond = cond & ~_filter_cond(c)
        return cond
    raise ValueError(f"unsupported filter-agg clause {kind!r}")


def _filters_agg_parts(specs: dict):
    """ES named-``filters`` aggregation as ONE pass of conditional sums
    (buckets may overlap — a doc can match several named filters, so this
    is NOT a groupBy): one agg row, stacked back to (key, n) rows in spec
    order (ES keyed-bucket order)."""
    exprs = [
        F.coalesce(
            F.sum(F.when(_filter_cond(c), 1).otherwise(0)), F.lit(0)
        ).alias(f"_f{i}")
        for i, c in enumerate(specs.values())
    ]
    names = ", ".join(
        f"""'{str(nm).replace("'", "''")}', {i}, _f{i}"""
        for i, nm in enumerate(specs)
    )
    return exprs, f"stack({len(specs)}, {names}) as (key, _rk, n)"


def _adjacency_agg_parts(specs: dict, sep: str):
    """ES ``adjacency_matrix``: one conditional-sum pass producing a
    bucket per named filter plus one per unordered filter PAIR (key
    "a&b", intersection count) — the co-occurrence matrix Kibana's graph
    visualizations consume. Like ``_filters_agg_parts`` this is one agg
    row stacked to (key, n); pairs are cheap expressions, not joins, so
    n filters cost n·(n+1)/2 counters in a single scan."""
    names = list(specs)
    conds = {nm: _filter_cond(c) for nm, c in specs.items()}
    keys: list[str] = []
    exprs = []
    for i, a in enumerate(names):
        for key, cond in [(a, conds[a])] + [
            (f"{a}{sep}{b}", conds[a] & conds[b]) for b in names[i + 1:]
        ]:
            exprs.append(
                F.coalesce(
                    F.sum(F.when(cond, 1).otherwise(0)), F.lit(0)
                ).alias(f"_f{len(keys)}")
            )
            keys.append(key)
    stacked = ", ".join(
        f"""'{k.replace("'", "''")}', _f{i}""" for i, k in enumerate(keys)
    )
    return exprs, f"stack({len(keys)}, {stacked}) as (key, n)"


_AUTO_DH_LADDER = (
    ("minute", 60), ("hour", 3600), ("day", 86400), ("week", 604800),
    ("month", 2592000), ("year", 31536000),
)


def _auto_dh_unit(lo, hi, buckets: int) -> str:
    """ES ``auto_date_histogram`` interval choice, reduced to the
    date_trunc ladder: the smallest calendar unit whose estimated bucket
    count fits the ``buckets`` target (ES picks from a finer
    multiple-ladder; truncation units keep both engines' bucket keys
    reproducible in plain SQL). Deterministic in (min, max, buckets)."""
    if lo is None or hi is None:
        return "day"
    span = max((hi - lo).total_seconds(), 0.0)
    for unit, secs in _AUTO_DH_LADDER:
        if span / secs + 1 <= buckets:
            return unit
    return "year"


def _filter_agg_df(
    joined: DataFrame, name: str, clause: dict, sub: dict | None
) -> DataFrame:
    """ES single-``filter`` bucket agg: the subset of hits matching a
    filter-context clause, with an optional child agg computed inside it
    (the "errors only" dashboard panel). Rows: ``(n)`` alone, or
    ``(doc_count, child cols…)`` — doc_count is the ES bucket count."""
    fsel = joined.where(_filter_cond(clause))
    if sub is None:
        return fsel.agg(F.count("*").alias("n"))
    if len(sub) != 1:
        raise ValueError(
            f"agg {name!r}: exactly one sub-agg is supported, got {list(sub)}"
        )
    ((cname, cspec),) = sub.items()
    ckind, cbody, csub = _agg_spec(cname, cspec)
    if csub is not None:
        raise ValueError(f"agg {name!r}: sub-aggs nest one level only")
    if ckind in ("terms", "date_histogram", "histogram"):
        cnt = fsel.agg(F.count("*").alias("doc_count"))
        df = (
            _keyed(fsel, ckind, cbody)
            .groupBy(_bucket_expr(ckind, cbody).alias("key"))
            .agg(F.count("*").alias("n"))
        )
        if ckind == "terms":
            df = df.orderBy(F.desc("n"), F.asc("key"))
            csize = int(cbody.get("size", 10))
            if csize:
                df = df.limit(csize)
            order = [F.desc("n"), F.asc("key")]
        else:
            order = [F.asc("key")]
        # the bucket count is one row — broadcast, no shuffle
        return (
            df.crossJoin(F.broadcast(cnt))
            .select("doc_count", "key", "n").orderBy(*order)
        )
    col = cbody["field"]
    dc = F.count("*").alias("doc_count")
    if ckind == "stats":
        return fsel.agg(
            dc,
            F.count(col).alias("count"),
            F.min(col).alias("min"),
            F.max(col).alias("max"),
            F.avg(col).alias("avg"),
            F.sum(col).alias("sum"),
        )
    if ckind == "cardinality":
        fn = F.count_distinct if cbody.get("exact") else F.approx_count_distinct
        return fsel.agg(dc, fn(F.col(col)).alias("value"))
    if ckind in _METRIC_FNS:
        return fsel.agg(dc, _METRIC_FNS[ckind](col).alias("value"))
    if ckind == "range":
        exprs, stack = _range_agg_parts(col, cbody["ranges"])
        return (
            fsel.agg(dc, *exprs).selectExpr("doc_count", stack)
            .orderBy("_rk").select("doc_count", "key", "n")
        )
    if ckind == "percentiles":
        pcts = [float(p) for p in cbody.get("percents", [50.0, 95.0, 99.0])]
        return fsel.agg(
            dc,
            *[F.percentile_approx(col, p / 100.0).alias(f"p{p:g}") for p in pcts],
        )
    raise ValueError(f"unsupported sub-agg type {ckind!r} in {name!r}")


def _composite_parts(body: dict) -> list[tuple[str, str, dict, bool]]:
    """ES composite ``sources`` → [(name, kind, spec, ascending)]. Each
    source is one named bucketing agg (terms / date_histogram /
    histogram); key order is per-source asc unless ``"order": "desc"``."""
    parts = []
    for src in body["sources"]:
        if len(src) != 1:
            raise ValueError(f"composite source must have one name, got {list(src)}")
        nm, spec = next(iter(src.items()))
        if len(spec) != 1:
            raise ValueError(
                f"composite source {nm!r} must hold one bucketing agg"
            )
        skind, sbody = next(iter(spec.items()))
        _bucket_expr(skind, sbody)  # validates the kind
        parts.append((nm, skind, sbody, sbody.get("order", "asc") != "desc"))
    return parts


def _significant_terms_df(
    joined: DataFrame, name: str, body: dict, background: DataFrame | None,
) -> DataFrame:
    """ES significant_terms aggregation (JLH heuristic, the ES default):
    terms of a stored field whose share of the query's MATCHING set
    (foreground) most exceeds their share of the whole index (background).
    score = (fg% − bg%) · (fg% / bg%); only positively-significant terms
    (fg% > bg%) with foreground doc_count ≥ min_doc_count (ES default 3)
    are buckets, top ``size`` (default 10) by score. Fully distributed:
    one hash agg over each side, an equi-join on the (small, aggregated)
    key sets, broadcast scalar totals — no driver materialization. Rows:
    (key, doc_count, bg_count, score) — the ES bucket fields."""
    if background is None:
        raise ValueError(
            f"agg {name!r}: significant_terms needs the index background "
            "(served via search_aggs / the DSL, not a bare joined frame)"
        )
    col = body["field"]
    size = int(body.get("size", 10))
    min_dc = int(body.get("min_doc_count", 3))
    fg = joined.groupBy(F.col(col).alias("key")).agg(F.count("*").alias("doc_count"))
    bg = background.groupBy(F.col(col).alias("key")).agg(
        F.count("*").alias("bg_count")
    )
    fgt = joined.agg(F.count("*").alias("fg_total"))
    bgt = background.agg(F.count("*").alias("bg_total"))
    fgp = F.col("doc_count") / F.col("fg_total")
    bgp = F.col("bg_count") / F.col("bg_total")
    return (
        fg.join(bg, "key")
        .crossJoin(F.broadcast(fgt))
        .crossJoin(F.broadcast(bgt))
        .where(F.col("key").isNotNull() & (F.col("doc_count") >= min_dc))
        .withColumn("score", (fgp - bgp) * (fgp / bgp))
        .where(F.col("score") > 0)
        .orderBy(F.desc("score"), F.asc("key"))
        .select("key", "doc_count", "bg_count", "score")
        .limit(size)
    )


def _composite_agg_df(joined: DataFrame, name: str, body: dict) -> DataFrame:
    """ES composite aggregation: the full (multi-source) bucket space
    paged in KEY order, ``size`` buckets per request, resumed with the
    previous page's last key tuple (``after``). This is the scale-safe
    facet walk: every page is groupBy → key-ordered take-N — the driver
    never holds more than one page, whatever the key cardinality (the
    contrast with a sized terms agg is the ES contract, not an
    optimization). Rows: (source names…, doc_count); the caller's
    after_key is the last row."""
    parts = _composite_parts(body)
    keyed = joined.select(
        *[_bucket_expr(k, b).alias(nm) for nm, k, b, _ in parts]
    )
    # ES composite omits buckets missing any source key (missing_bucket
    # defaults to false)
    for nm, *_ in parts:
        keyed = keyed.where(F.col(nm).isNotNull())
    df = keyed.groupBy(*[nm for nm, *_ in parts]).agg(
        F.count("*").alias("doc_count")
    )
    after = body.get("after")
    if after:
        # lexicographic after-predicate over the key tuple, respecting
        # each source's direction — evaluated inside the aggregation, not
        # by skipping rows on the driver
        cond = F.lit(False)
        eq = F.lit(True)
        for nm, _k, _b, asc in parts:
            aval = after[nm]
            c = F.col(nm)
            step = (c > F.lit(aval)) if asc else (c < F.lit(aval))
            cond = cond | (eq & step)
            eq = eq & (c == F.lit(aval))
        df = df.where(cond)
    order = [
        (F.asc(nm) if asc else F.desc(nm)) for nm, _k, _b, asc in parts
    ]
    size = int(body.get("size", 10))
    return df.orderBy(*order).limit(size)


def _th_sort(cbody: dict) -> list[tuple[str, bool]]:
    """ES top_hits sort spec → [(field, ascending)]. The hits reaching a
    sub-agg are an unscored matching SET (the agg path never ranks), so
    ``_score`` sort is rejected rather than silently wrong; no sort means
    doc_id order (deterministic, the tiebreak either way)."""
    out: list[tuple[str, bool]] = []
    for s in cbody.get("sort", []):
        if isinstance(s, str):
            field, order = s, "asc"
        else:
            field, spec = next(iter(s.items()))
            order = spec.get("order", "asc") if isinstance(spec, dict) else str(spec)
        if field == "_score":
            raise ValueError(
                "top_hits inside aggs sorts by stored fields only "
                "(the matching set is unscored here)"
            )
        out.append((field, order != "desc"))
    return out


_TH_INTERNAL = ("key", "doc_count", "doc_id", "rank", "bucket", "run")


def _th_source(cbody: dict, cols: list[str]) -> list[str]:
    """top_hits ``_source`` columns: the requested list, or every stored
    column minus the internal/partition ones (bucket/run are docstore
    layout, not document fields — and absent from the serving-path
    frame)."""
    src = cbody.get("_source")
    if src is None:
        return [c for c in cols if c not in _TH_INTERNAL]
    return [src] if isinstance(src, str) else list(src)


def _sub_bucket_df(
    joined: DataFrame, name: str, pkind: str, pbody: dict, sub: dict
) -> DataFrame:
    """ES sub-aggregations, generalized to the FULL Kibana shape: a
    bucketing agg (terms / date_histogram / histogram) holding multiple
    child aggs, nested to ANY depth — ``terms → {avg, max,
    date_histogram → {stats}}``. Flattened rectangular rows (ES returns a
    nested JSON tree; a DataFrame engine flattens it):

    - bucket keys: ``key`` (level 1), ``child_key`` (2), ``child_key3``…
    - bucket counts: ``doc_count`` (level 1), deeper levels ``n`` on the
      deepest bucket level, ``doc_count{lvl}`` on intermediate ones
    - metric siblings: prefixed by child name (``price_avg``, ``ids``) —
      except the legacy depth-1 single-metric shape which keeps the
      unprefixed names (``value``, stats' count/min/max/avg/sum)
    - a terminal ``range`` / ``top_hits`` must be the only child at its
      level and emits its legacy columns at the next key depth

    Semantics pinned to ES: terms keep top-``size`` buckets by
    (count desc, key asc) — globally at level 1, per parent bucket via a
    window rank below; docs with a null bucket field skip that level
    (pandas ``value_counts`` semantics, same as the flat terms agg).
    Scale: one groupBy per level over the matching set (one extra key per
    level) plus one join per descended level to select surviving buckets
    and carry their counts/metrics — broadcast only while every ancestor
    terms level is size-capped (a bounded bucket set), a plain shuffle
    join once any level is uncapped or a histogram."""
    from pyspark.sql import Window

    levels = _parse_agg_chain(name, pkind, pbody, sub)
    legacy = (
        len(levels) == 1 and len(levels[0][2]) == 1 and levels[0][3] is None
    )
    sel = joined
    group_cols: list[str] = []   # bucket-key columns so far (join keys)
    carry: list[str] = []        # every output column accumulated so far
    order_cols: list = []        # accumulated result ordering
    bounded = True               # parent bucket set provably small?
    final: DataFrame | None = None
    for i, (kind, body, metrics, terminal) in enumerate(levels):
        lvl = i + 1
        deepest = i == len(levels) - 1
        keycol = _tree_key_col(lvl)
        cnt = "doc_count" if lvl == 1 else (
            "n" if deepest and terminal is None else f"doc_count{lvl}"
        )
        mexprs = []
        for cname, ckind, cbody in metrics:
            mexprs += _metric_exprs(cname, ckind, cbody, prefixed=not legacy)
        mnames = _metric_names(metrics, prefixed=not legacy)
        keyed = _keyed(sel, kind, body).withColumn(keycol, _bucket_expr(kind, body))
        if kind == "terms":
            ie = _terms_incl_excl_col(F.col(keycol), body)
            if ie is not None:
                keyed = keyed.where(ie)
        parents = keyed.groupBy(*carry, keycol).agg(
            F.count("*").alias(cnt), *mexprs
        )
        if kind == "terms":
            crits = _terms_order_keys(name, body, metrics, prefixed=not legacy)
            obys = [
                (F.asc if a else F.desc)(
                    cnt if c == "_count" else (keycol if c == "_key" else c)
                )
                for c, a in crits
            ]
            size = int(body.get("size", 10))
            if size:
                if lvl == 1:
                    parents = parents.orderBy(*obys).limit(size)
                else:
                    w = Window.partitionBy(*group_cols).orderBy(*obys)
                    parents = (
                        parents.withColumn("_rk", F.row_number().over(w))
                        .where(F.col("_rk") <= size).drop("_rk")
                    )
            else:
                bounded = False
            order_cols += obys
        else:
            bounded = False
            order_cols += [F.asc(keycol)]
        group_cols = group_cols + [keycol]
        carry = carry + [keycol, cnt] + mnames
        if deepest and terminal is None:
            final = parents
            break
        # descend: keep only rows of surviving buckets, attach this
        # level's count/metric columns (parents re-selected to the new
        # columns so ancestor carries don't duplicate across the join)
        pj = parents.select(*group_cols, cnt, *mnames)
        sel = keyed.join(F.broadcast(pj) if bounded else pj, group_cols)
        if deepest:
            cname, ckind, cbody = terminal  # type: ignore[misc]
            tkey = _tree_key_col(lvl + 1)
            if ckind == "range":
                exprs, stack = _range_agg_parts(cbody["field"], cbody["ranges"])
                stack = stack.replace("as (key, _rk, n)", f"as ({tkey}, _rk, n)")
                final = (
                    sel.groupBy(*carry).agg(*exprs)
                    .selectExpr(*[f"`{c}`" for c in carry], stack)
                    .orderBy(*order_cols, F.asc("_rk"))
                    .select(*carry, tkey, "n")
                )
            else:  # top_hits
                size = int(cbody.get("size", 3))  # the ES top_hits default
                order = [
                    # ES puts missing sort values LAST either way
                    (F.asc_nulls_last(f) if asc else F.desc_nulls_last(f))
                    for f, asc in _th_sort(cbody)
                ] + [F.asc("doc_id")]
                w = Window.partitionBy(*group_cols).orderBy(*order)
                df = (
                    sel.withColumn("rank", F.row_number().over(w))
                    .where(F.col("rank") <= size)
                )
                src = [
                    c for c in _th_source(cbody, df.columns)
                    if c not in carry and c != "rank"
                ]
                final = (
                    df.select(*carry, "rank", "doc_id", *src)
                    .orderBy(*order_cols, F.asc("rank"))
                )
            break
    assert final is not None
    return final.orderBy(*order_cols) if levels[-1][3] is None else final


def _metric_names(metrics: list, *, prefixed: bool) -> list[str]:
    """The output column names `_metric_exprs` produces, in order (the
    serving engine's `_pd_metric_cells` uses the same names)."""
    names: list[str] = []
    for cname, ckind, cbody in metrics:
        p = f"{cname}_" if prefixed else ""
        if ckind == "stats":
            names += [f"{p}count", f"{p}min", f"{p}max", f"{p}avg", f"{p}sum"]
        elif ckind == "percentiles":
            pcts = [float(x) for x in cbody.get("percents", [50.0, 95.0, 99.0])]
            names += [f"{p}p{x:g}" for x in pcts]
        else:
            names.append(cname if prefixed else "value")
    return names


def _pd_bucket_key(pdf: pd.DataFrame, kind: str, body: dict) -> pd.Series:
    """pandas twin of ``_bucket_expr``: the bucket-key series, aligned
    with ``pdf``'s index (nulls propagate and counting drops them, as
    ``_keyed`` drops them on the Spark side)."""
    import numpy as np

    col = body["field"]
    vals = pdf[col] if col in getattr(pdf, "columns", []) else pd.Series(dtype=object)
    if kind == "terms":
        if body.get("missing") is not None:
            return vals.fillna(body["missing"]) if len(vals) else vals
        return vals
    if kind == "histogram":
        step = float(body["interval"])
        off = float(body.get("offset", 0) or 0)
        return np.floor((pd.to_numeric(vals) - off) / step) * step + off
    raise ValueError(f"agg kind {kind!r} is not a bucketing agg (cannot hold sub-aggs)")


def _key_out(k):
    """Native python value for an output key (Timestamp → datetime,
    numpy scalar → python scalar) — what Spark's Row.asDict() yields."""
    if isinstance(k, pd.Timestamp):
        return k.to_pydatetime()
    return k.item() if hasattr(k, "item") else k


# the agg kinds the driver-side engine (`_aggs_pandas`) serves — the ones
# the serving benchmarks measure; a request holding any other kind, at any
# depth, runs on the distributed plan (`Searcher.aggs_rows`)
_SERVING_AGG_KINDS = frozenset({
    "terms", "histogram", "significant_terms",
    "stats", "avg", "sum", "min", "max", "value_count",
})


def _agg_kinds(aggs: dict) -> set[str]:
    """Every agg kind named in a request, sub-aggs included."""
    kinds: set[str] = set()
    for spec in aggs.values():
        kinds.update(k for k in spec if k != "aggs")
        if isinstance(spec.get("aggs"), dict):
            kinds |= _agg_kinds(spec["aggs"])
    return kinds


def _aggs_pandas(
    pdf: pd.DataFrame, aggs: dict, bg_counts=None,
) -> dict[str, list[dict]]:
    """Driver-side engine for the serving kinds (``_SERVING_AGG_KINDS``:
    terms / histogram with gap fill, stats and the five single metrics,
    significant_terms, and sub-agg chains of those) over a pandas frame
    of the hits' stored columns — row-for-row identical to
    ``aggs_over_join``. ``Searcher.aggs_rows`` sends every other kind to
    the distributed plan before calling here. ``bg_counts`` (field →
    (value_counts, total) over the whole docstore,
    ``Searcher._background_counts``) supplies the significant_terms
    background."""
    out: dict[str, list[dict]] = {}
    for name, spec in aggs.items():
        kind, body, sub = _agg_spec(name, spec)
        if kind == "significant_terms":
            if sub is not None:
                raise ValueError(
                    f"agg {name!r}: significant_terms sub-aggs are unsupported"
                )
            out[name] = _sig_terms_pandas(pdf, name, body, bg_counts)
            continue
        if sub is not None:
            out[name] = _sub_bucket_pandas(pdf, name, kind, body, sub)
            continue
        if kind == "terms":
            vals = _pd_bucket_key(pdf, kind, body)
            c = vals.dropna().value_counts()
            # native key types (numpy scalars unwrapped): tie order (n desc,
            # key asc) must match the Spark path's — string-sorting a
            # numeric key would rank "100" before "99"
            rows = [
                (_key_out(k_), int(n)) for k_, n in c.items()
                if _terms_incl_excl_ok(_key_out(k_), body)
            ]
            _pd_sort_buckets(
                rows, _terms_order_keys(name, body, None, prefixed=True),
                lambda kv, cc: kv[1] if cc == "_count" else kv[0],
            )
            size = int(body.get("size", 10))  # ES default; 0 = explicit all
            if size:
                rows = rows[:size]
            out[name] = [{"key": k_, "n": n} for k_, n in rows]
        elif kind == "histogram":
            out[name] = _pd_histogram_rows(pdf, body)
        elif kind == "stats" or kind in _METRIC_FNS:
            out[name] = [_pd_metric_cells(name, kind, body, False, pdf)]
        else:
            raise ValueError(f"unsupported agg type {kind!r} in {name!r}")
    return out


def _pd_histogram_rows(pdf: pd.DataFrame, body: dict) -> list[dict]:
    """Flat histogram buckets in key order, gap-filled across the data
    range and ``extended_bounds`` when ``min_doc_count`` is 0 (the
    ``_densify_hist_df`` axis)."""
    c = _pd_bucket_key(pdf, "histogram", body).value_counts().sort_index()
    rows_kn = [(_key_out(k_), int(n)) for k_, n in c.items()]
    if int(body.get("min_doc_count", 1)) == 0:
        eb = body.get("extended_bounds") or {}
        got = dict(rows_kn)
        lo = min(got) if got else None
        hi = max(got) if got else None
        if eb.get("min") is not None:
            lo = float(eb["min"]) if lo is None else min(lo, float(eb["min"]))
        if eb.get("max") is not None:
            hi = float(eb["max"]) if hi is None else max(hi, float(eb["max"]))
        if lo is not None and hi is not None:
            step = float(body["interval"])
            axis = _hist_bucket_range(
                float(lo), float(hi), step, float(body.get("offset", 0) or 0),
            )
            # float-key dict lookups share the Spark path's 1-ulp
            # hazard — match buckets by integer ordinal instead
            a0 = float(axis[0])
            got_o = {
                int(round((float(k_) - a0) / step)): n for k_, n in got.items()
            }
            rows_kn = [
                (k_, got_o.get(int(round((float(k_) - a0) / step)), 0))
                for k_ in axis
            ]
    return [{"key": k_, "n": n} for k_, n in rows_kn]


def _sig_terms_pandas(
    pdf: pd.DataFrame, name: str, body: dict, bg_counts,
) -> list[dict]:
    """Serving twin of ``_significant_terms_df``: the same JLH arithmetic
    in the same operation order — (fg% − bg%) · (fg% / bg%) on float64 —
    so scores match the Spark doubles bit for bit."""
    if bg_counts is None:
        raise ValueError(
            f"agg {name!r}: significant_terms needs the index background "
            "(serve via Searcher.aggs_rows / search_aggs, not a bare frame)"
        )
    col = body["field"]
    size = int(body.get("size", 10))
    min_dc = int(body.get("min_doc_count", 3))
    vals = pdf[col] if col in getattr(pdf, "columns", []) else pd.Series(dtype=object)
    fg = vals.dropna().value_counts()
    fg_total = int(len(pdf))
    bgc, bg_total = bg_counts(col)
    rows = []
    for key, n in fg.items():
        n = int(n)
        if n < min_dc or key not in bgc.index:
            continue
        bn = int(bgc[key])
        fgp = n / fg_total
        bgp = bn / bg_total
        score = (fgp - bgp) * (fgp / bgp)
        if score > 0:
            rows.append((_key_out(key), n, bn, float(score)))
    rows.sort(key=lambda r: (-r[3], r[0]))
    return [
        {"key": k, "doc_count": n, "bg_count": bn, "score": sc}
        for k, n, bn, sc in rows[:size]
    ]


def _pd_metric(kind: str, vals: pd.Series):
    """pandas twin of the single-metric aggs (Spark null ↔ None)."""
    if kind == "value_count":
        return int(vals.count())
    v = pd.to_numeric(vals.dropna())
    if not len(v):
        return None
    if kind == "avg":
        return float(v.mean())
    return v.min().item() if kind == "min" else (
        v.max().item() if kind == "max" else v.sum().item()
    )


def _pd_metric_cells(
    cname: str, ckind: str, cbody: dict, prefixed: bool, sel: pd.DataFrame
) -> dict:
    """pandas twin of `_metric_exprs` for the serving metrics (stats and
    the single-value kinds): one metric's cells, named as `_metric_names`
    names them."""
    p = f"{cname}_" if prefixed else ""
    col = cbody["field"]
    vals = sel[col] if col in getattr(sel, "columns", []) else pd.Series(dtype=object)
    if ckind == "stats":
        v = pd.to_numeric(vals.dropna())
        return {
            f"{p}count": int(v.count()),
            f"{p}min": None if not len(v) else v.min().item(),
            f"{p}max": None if not len(v) else v.max().item(),
            f"{p}avg": None if not len(v) else float(v.mean()),
            f"{p}sum": None if not len(v) else v.sum().item(),
        }
    return {(cname if prefixed else "value"): _pd_metric(ckind, vals)}


def _sub_bucket_pandas(
    pdf: pd.DataFrame, name: str, pkind: str, pbody: dict, sub: dict
) -> list[dict]:
    """pandas twin of ``_sub_bucket_df`` for chains of serving kinds (no
    ``range`` / ``top_hits`` terminal — those escalate) — identical
    flattened rows in identical order, for the zero-Spark-job serving path
    (recursive over the agg chain; serving frames are top-k-bounded so a
    per-bucket loop is fine here)."""
    levels = _parse_agg_chain(name, pkind, pbody, sub)
    legacy = len(levels) == 1 and len(levels[0][2]) == 1

    def rec(sel: pd.DataFrame, i: int, prefix: dict) -> list[dict]:
        kind, body, metrics, _terminal = levels[i]
        lvl = i + 1
        deepest = i == len(levels) - 1
        keycol = _tree_key_col(lvl)
        cnt = "doc_count" if lvl == 1 else ("n" if deepest else f"doc_count{lvl}")
        pk = _pd_bucket_key(sel, kind, body)
        pc = pk.value_counts()
        buckets = [(k_, int(n)) for k_, n in pc.items()]
        if kind == "terms":
            buckets = [
                (k_, n) for k_, n in buckets
                if _terms_incl_excl_ok(_key_out(k_), body)
            ]
            crits = _terms_order_keys(name, body, metrics, prefixed=not legacy)
            metric_keys = {c for c, _ in crits} - {"_count", "_key"}
            deco: list[tuple] = []
            for k_raw, n in buckets:
                cells: dict = {}
                if metric_keys:
                    # ordering by a metric sibling: its value must exist
                    # BEFORE top-size selection (the Spark path computes
                    # metrics in the same groupBy; recomputed per hit-
                    # bounded serving bucket here)
                    bs = sel[(pk == k_raw).fillna(False)]
                    for cname, ckind, cbody in metrics:
                        cells.update(
                            _pd_metric_cells(cname, ckind, cbody, not legacy, bs)
                        )
                deco.append((k_raw, n, cells))
            _pd_sort_buckets(
                deco, crits,
                lambda t, cc: (
                    t[1] if cc == "_count"
                    else _key_out(t[0]) if cc == "_key" else t[2].get(cc)
                ),
            )
            buckets = [(k_, n) for k_, n, _ in deco]
            size = int(body.get("size", 10))
            if size:
                buckets = buckets[:size]
        else:
            buckets.sort(key=lambda kv: _key_out(kv[0]))
        rows: list[dict] = []
        for k_raw, n in buckets:
            bsel = sel[(pk == k_raw).fillna(False)]
            row = dict(prefix)
            row[keycol] = _key_out(k_raw)
            row[cnt] = n
            for cname, ckind, cbody in metrics:
                row.update(
                    _pd_metric_cells(cname, ckind, cbody, not legacy, bsel)
                )
            if deepest:
                rows.append(row)
            else:
                rows.extend(rec(bsel, i + 1, row))
        return rows

    return rec(pdf, 0, {})


def _range_hi(prefix: str) -> str:
    """Smallest string greater than every string with this prefix."""
    return prefix[:-1] + chr(ord(prefix[-1]) + 1) if prefix else "￿"


def _ti_files(out_dir: str, lo: str | None, hi: str | None) -> list[str] | None:
    """term_index files whose sidecar-recorded [min, max] overlaps
    [lo, hi) — the range-pruned open list, no footer reads. None when the
    index predates the term_index layout."""
    import json as _json

    from .build import TERM_RANGES_FILE

    ti_dir = os.path.join(out_dir, "term_index")
    sidecar = os.path.join(out_dir, TERM_RANGES_FILE)
    if not (os.path.isdir(ti_dir) and os.path.exists(sidecar)):
        return None
    with open(sidecar) as f:
        ranges = _json.load(f)
    return [
        os.path.join(ti_dir, rel)
        for rel, (mn, mx) in sorted(ranges.items())
        if (hi is None or mn < hi) and (lo is None or mx >= lo)
    ]


def field_caps(out_dir: str) -> dict:
    """ES ``_field_caps``: per-field capabilities derived from the index
    itself — the docstore's parquet schema supplies stored/aggregatable
    fields with their types (arrow → ES type names), and a bounded
    term_index probe per column (``field:`` keyword-prefix range — O(1)
    sidecar reads, never a dictionary scan) marks which are searchable
    (keyword- or field-qualified-indexed). The main text field is always
    searchable text. Response is the ES shape:
    ``{"fields": {name: {type: {"type", "searchable", "aggregatable"}}}}``."""
    import pyarrow.dataset as _ds

    from .build import KEYWORD_SEP

    caps: dict[str, dict] = {
        "text": {"text": {
            "type": "text", "searchable": True, "aggregatable": False,
        }},
    }
    _ARROW_ES = (
        ("timestamp", "date"), ("date", "date"), ("bool", "boolean"),
        ("int", "long"), ("float", "double"), ("double", "double"),
        ("string", "keyword"), ("large_string", "keyword"),
        ("binary", "binary"), ("list", "nested"), ("struct", "object"),
    )
    store = os.path.join(out_dir, "docstore")
    if os.path.isdir(store):
        schema = _ds.dataset(store, format="parquet", partitioning="hive").schema
        for name, typ in zip(schema.names, schema.types):
            if name in ("doc_id", "bucket", "run", "text"):
                continue
            ts = str(typ)
            es_type = next(
                (es for pref, es in _ARROW_ES if ts.startswith(pref)), "keyword"
            )
            lo = f"{name}{KEYWORD_SEP}"
            searchable = bool(len(_term_range(out_dir, lo, _range_hi(lo)).head(1)))
            caps[name] = {es_type: {
                "type": es_type, "searchable": searchable, "aggregatable": True,
            }}
    return {"fields": caps}


def _dict_files(out_dir: str) -> list[str]:
    """Every hash-dictionary file of an index dir (all runs)."""
    import glob as _glob

    return _glob.glob(f"{out_dir}/dictionary/tb=*/run=*/*.parquet") + _glob.glob(
        f"{out_dir}/dictionary/tb=*/*.parquet"
    )


def _range_files(dirs: list[str], lo: str | None, hi: str | None):
    """Files to scan for a [lo, hi) term range over index dirs: each dir's
    sidecar-pruned term_index files, or — for a dir predating the
    term_index layout — every hash-dictionary file (term-sorted row groups
    still prune via parquet min/max stats, but all footers are opened).
    Returns (term_index files, dictionary files)."""
    ti, dct = [], []
    for d in dirs:
        files = _ti_files(d, lo, hi)
        if files is None:
            dct += _dict_files(d)
        else:
            ti += files
    return ti, dct


def _range_scan(files: list[str], lo: str | None, hi: str | None, columns: list[str]):
    """One pyarrow dataset read of ``columns`` over ``files``, filtered to
    the [lo, hi) term range (None bounds are open)."""
    import pyarrow.dataset as ds

    flt = None
    if lo is not None:
        flt = ds.field("term") >= lo
    if hi is not None:
        f2 = ds.field("term") < hi
        flt = f2 if flt is None else (flt & f2)
    return ds.dataset(files, format="parquet").to_table(filter=flt, columns=columns)


def _term_range(out_dir: str | list[str], lo: str | None, hi: str | None) -> pd.DataFrame:
    """(term, df) rows over the [lo, hi) term range, term-sorted, df summed
    across runs — and across dirs when ``out_dir`` is a list (a window of
    day indexes: one dataset read over every dir's pruned files, not one
    probe per day)."""
    dirs = [out_dir] if isinstance(out_dir, str) else out_dir
    return _sum_df([
        _range_scan(files, lo, hi, ["term", "df"]).to_pandas()
        for files in _range_files(dirs, lo, hi) if files
    ])


def _sum_df(frames: list[pd.DataFrame]) -> pd.DataFrame:
    """(term, df) frames → one term-sorted frame, df summed per term."""
    frames = [f for f in frames if len(f)]
    if not frames:
        return pd.DataFrame({"term": pd.Series(dtype=object), "df": pd.Series(dtype="int64")})
    pdf = frames[0] if len(frames) == 1 else pd.concat(frames, ignore_index=True)
    return pdf.groupby("term", as_index=False, sort=True)["df"].sum()


def _range_cf_sum(out_dir: str | list[str], lo: str, hi: str) -> int:
    """Σ collection frequency over the [lo, hi) term range — the per-field
    total-token count for multi_match norms — over one dir or a list of
    them. Served from the sorted term_index (sidecar-pruned, cf column)
    when present; pre-cf layouts fall back to the hash-dictionary scan (cf
    always stored there)."""
    dirs = [out_dir] if isinstance(out_dir, str) else out_dir
    ti, dct = _range_files(dirs, lo, hi)
    total = 0
    if ti:
        try:
            tbl = _range_scan(ti, lo, hi, ["cf"])
            total = int(pd.Series(tbl["cf"].to_pandas()).sum()) if tbl.num_rows else 0
        except Exception:  # noqa: BLE001 — pre-cf term_index layout
            dct = [f for d in dirs for f in _dict_files(d)]
    if dct:
        tbl = _range_scan(dct, lo, hi, ["cf"])
        total += int(pd.Series(tbl["cf"].to_pandas()).sum()) if tbl.num_rows else 0
    return total


def field_avgdl(out_dir: str | list[str], field: str, stats: dict) -> float:
    """The field's average length for BM25 norms: Σ cf over its term range
    ÷ corpus n_docs (docs without the field count as length 0 — the
    deterministic convention; ES's per-field docCount refinement would need
    a per-field doc ledger)."""
    from .build import KEYWORD_SEP

    lo = field + KEYWORD_SEP
    total = _range_cf_sum(out_dir, lo, _range_hi(lo))
    n = stats.get("n_docs") or 0
    return (total / n) if n else 0.0


def _rank_expansions(
    pdf: pd.DataFrame, max_expansions: int, pattern: str = ""
) -> list[str]:
    """ES expansion rule: highest document frequency first, ties by term.
    Keyword-field terms (``field:value``) are filter-context internals —
    excluded from text-query expansions unless the pattern itself targets
    them (contains the separator)."""
    if not len(pdf):
        return []
    from .build import KEYWORD_SEP

    if KEYWORD_SEP not in pattern:
        pdf = pdf[~pdf["term"].str.contains(KEYWORD_SEP, regex=False, na=False)]
        if not len(pdf):
            return []
    pdf = pdf.sort_values(["df", "term"], ascending=[False, True], kind="mergesort")
    return pdf["term"].head(max_expansions).tolist()


def terms_enum(out_dir: str, string: str, size: int = 10) -> dict:
    """ES ``_terms_enum``: index terms starting with ``string``,
    TERM-SORTED (unlike query expansions' df-desc ranking), capped at
    ``size`` — the field-autocomplete probe. Keyword-field postings
    (``field:value`` internals) are excluded unless the prefix itself
    targets one. Served from the range-pruned term_index sidecar, zero
    Spark jobs. Response in the ES shape: {"terms": [...], "complete":
    bool} — ``complete`` is False when the cap truncated the
    enumeration."""
    from .build import KEYWORD_SEP

    pdf = expansion_candidates(out_dir, "prefix", string)
    terms = sorted(
        t for t in pdf["term"].tolist()
        if KEYWORD_SEP not in t or KEYWORD_SEP in string
    )
    return {"terms": terms[: int(size)], "complete": len(terms) <= int(size)}


def expansion_candidates(
    out_dir: str | list[str], kind: str, value: str, *,
    fuzziness: int = 1, prefix_length: int = 1,
) -> pd.DataFrame:
    """UNRANKED (term, df) expansion candidates — the probe half of every
    term expansion, which ``expand_*`` rank. Over a list of index dirs (a
    day window) df SUMS per term across the disjoint day corpora, so the
    one ranking after it is the exact global df-desc order (a union of
    per-day top-N would not be)."""
    import re as _re

    value = value.lower()
    empty = pd.DataFrame({"term": pd.Series(dtype=object), "df": pd.Series(dtype="int64")})
    if kind == "prefix":
        return _term_range(out_dir, value, _range_hi(value))
    if kind == "wildcard":
        lit = _re.match(r"^[^*?]*", value).group(0)
        lo, hi = (lit, _range_hi(lit)) if lit else (None, None)
        pdf = _term_range(out_dir, lo, hi)
        if not len(pdf):
            return empty
        rx = "^" + "".join(
            ".*" if c == "*" else "." if c == "?" else _re.escape(c) for c in value
        ) + "$"
        return pdf[pdf["term"].str.match(rx, na=False)]
    if kind == "regexp":
        lit = _re.match(r"^[a-z0-9]*", value).group(0)
        lo, hi = (lit, _range_hi(lit)) if lit else (None, None)
        pdf = _term_range(out_dir, lo, hi)
        if not len(pdf):
            return empty
        rx = _re.compile(value)
        keep = pdf["term"].map(lambda t: rx.fullmatch(t) is not None)
        return pdf[keep]
    if kind == "fuzzy":
        fuzziness = min(int(fuzziness), 2)
        pdf = None
        if prefix_length <= 0:
            dirs = [out_dir] if isinstance(out_dir, str) else out_dir
            probes = [_fuzzy_deletes_probe(d, value, fuzziness) for d in dirs]
            if all(p is not None for p in probes):
                pdf = _sum_df([p[0] for p in probes])
        if pdf is None:
            if prefix_length > 0:
                lit = value[:prefix_length]
                lo, hi = lit, _range_hi(lit)
            else:
                lo = hi = None
            pdf = _term_range(out_dir, lo, hi)
        if not len(pdf):
            return empty
        lens = pdf["term"].str.len()
        pdf = pdf[(lens >= len(value) - fuzziness) & (lens <= len(value) + fuzziness)]
        if not len(pdf):
            return empty
        keep = pdf["term"].map(lambda t: _edit_distance_le(value, t, fuzziness))
        return pdf[keep]
    raise ValueError(f"unknown expansion kind {kind!r}")


def expand_prefix(
    out_dir: str | list[str], prefix: str, max_expansions: int = 50
) -> list[str]:
    """Terms starting with ``prefix``, highest document frequency first,
    capped at ``max_expansions`` (the ES prefix-query expansion rule).
    Served from the term-sorted ``term_index`` copy via the range sidecar
    (opens only the overlapping data files, zero footers); pre-term_index
    layouts fall back to the full hash-dictionary metadata scan."""
    prefix = prefix.lower()
    return _rank_expansions(
        expansion_candidates(out_dir, "prefix", prefix), max_expansions, prefix
    )


def expand_wildcard(
    out_dir: str | list[str], pattern: str, max_expansions: int = 50
) -> list[str]:
    """ES wildcard-query expansion: ``*`` = any run, ``?`` = one char.
    The literal prefix before the first wildcard range-prunes the sorted
    term_index scan (``te*m`` reads only the ``te`` range); a leading
    wildcard degrades to a full term scan — exactly ES's documented
    warning for leading-wildcard queries."""
    pattern = pattern.lower()
    return _rank_expansions(
        expansion_candidates(out_dir, "wildcard", pattern), max_expansions, pattern
    )


def expand_regexp(
    out_dir: str | list[str], pattern: str, max_expansions: int = 50
) -> list[str]:
    """ES regexp-query expansion: dictionary terms fully matching the
    pattern (Python re syntax; ES uses Lucene's — the common operators
    agree). The literal prefix before the first metacharacter range-prunes
    the sorted term_index scan, like wildcard; a leading metacharacter
    degrades to a full term scan (ES documents the same warning)."""
    pattern = pattern.lower()
    return _rank_expansions(
        expansion_candidates(out_dir, "regexp", pattern), max_expansions, pattern
    )


def suggest_terms(
    out_dir: str, prefix: str, k: int = 10
) -> list[tuple[str, int]]:
    """ES completion-suggester analogue: the highest-document-frequency
    indexed terms completing ``prefix``, with their dfs (the suggester
    payload). Served from the sorted term_index via the range sidecar —
    zero parquet footers, zero Spark jobs."""
    from .build import KEYWORD_SEP

    prefix = prefix.lower()
    pdf = _term_range(out_dir, prefix, _range_hi(prefix))
    if not len(pdf):
        return []
    if KEYWORD_SEP not in prefix:
        pdf = pdf[~pdf["term"].str.contains(KEYWORD_SEP, regex=False, na=False)]
    pdf = pdf.sort_values(["df", "term"], ascending=[False, True], kind="mergesort")
    return [(r.term, int(r.df)) for r in pdf.head(k).itertuples()]


def term_suggest(
    out_dir: str, text: str, *, size: int = 5, max_edits: int = 2,
    prefix_length: int = 1, min_word_length: int = 4,
    suggest_mode: str = "missing",
) -> list[dict]:
    """ES term suggester ("did you mean"): per input token, the indexed
    terms within ``max_edits`` Levenshtein edits, as ES-shaped entries
    ``{"text", "offset", "length", "options": [{"text", "score",
    "freq"}]}``. ES-default knobs: max_edits=2, prefix_length=1 (shared
    first chars — also range-prunes the dictionary probe),
    min_word_length=4 (shorter tokens get empty options), suggest_mode
    "missing" (suggest only for unindexed tokens) / "popular" (only
    higher-freq corrections) / "always". Served from the sorted
    term_index sidecar (or the SymSpell k-deletes sidecar at
    prefix_length=0) — zero Spark jobs.

    Documented simplifications vs ES's DirectSpellChecker: score =
    1 − edit_distance / max(len(token), len(candidate)) (not Lucene's
    internal n-gram distance), options ordered (score desc, freq desc,
    term asc); input tokens come from the pinned raw tokenizer, so
    offsets index the lowercased raw text and suggestions are INDEX terms
    (stems, on an analyzed index)."""
    from ..textutils import TOKEN_RE
    from .build import KEYWORD_SEP

    if suggest_mode not in ("missing", "popular", "always"):
        raise ValueError(f"unknown suggest_mode {suggest_mode!r}")
    max_edits = min(int(max_edits), 2)
    out: list[dict] = []
    for m in TOKEN_RE.finditer(text.lower()):
        tok = m.group(0)
        entry = {
            "text": tok, "offset": m.start(), "length": len(tok), "options": [],
        }
        out.append(entry)
        if len(tok) < min_word_length:
            continue
        pdf = expansion_candidates(
            out_dir, "fuzzy", tok,
            fuzziness=max_edits, prefix_length=prefix_length,
        )
        if len(pdf):
            pdf = pdf[~pdf["term"].str.contains(KEYWORD_SEP, regex=False, na=False)]
        self_df = 0
        if len(pdf):
            hit = pdf[pdf["term"] == tok]
            if len(hit):
                self_df = int(hit["df"].iloc[0])
        if suggest_mode == "missing" and self_df > 0:
            continue
        opts = []
        for r in pdf.itertuples():
            cand, freq = r.term, int(r.df)
            if cand == tok:
                continue
            if suggest_mode == "popular" and freq <= self_df:
                continue
            ed = next(
                e for e in range(1, max_edits + 1)
                if _edit_distance_le(tok, cand, e)
            )
            opts.append((1.0 - ed / max(len(tok), len(cand)), freq, cand))
        opts.sort(key=lambda t: (-t[0], -t[1], t[2]))
        entry["options"] = [
            {"text": c, "score": sc, "freq": f} for sc, f, c in opts[:size]
        ]
    return out


def _edit_distance_le(a: str, b: str, k: int) -> bool:
    """Banded Levenshtein ≤ k (early-exit band DP; k is 1 or 2 here)."""
    la, lb = len(a), len(b)
    if abs(la - lb) > k:
        return False
    if a == b:
        return True
    prev = list(range(lb + 1))
    for i in range(1, la + 1):
        cur = [i] + [0] * lb
        best = cur[0]
        for j in range(1, lb + 1):
            cur[j] = min(
                prev[j] + 1,
                cur[j - 1] + 1,
                prev[j - 1] + (a[i - 1] != b[j - 1]),
            )
            best = min(best, cur[j])
        if best > k:
            return False
        prev = cur
    return prev[lb] <= k


def _fuzzy_deletes_probe(
    out_dir: str, term: str, fuzziness: int
) -> tuple[pd.DataFrame, int] | None:
    """SymSpell candidate probe against the k-deletes sidecar
    (``build.write_fuzzy_deletes``): generate the query's delete variants,
    hash them, open ONLY the matching hash-bucket partition dirs, and
    return the candidate (term, df) frame (guaranteed superset of the true
    fuzzy matches — the caller's DP verifies exactly). Returns
    (candidates, n_files_read); None when the sidecar is absent or was
    built with a smaller max_edits than requested."""
    import glob as _glob
    import json as _json

    import pyarrow.dataset as ds

    from .build import FUZZY_DELETES_DIR, FUZZY_DELETES_META, delete_hash, delete_variants

    meta_path = os.path.join(out_dir, FUZZY_DELETES_META)
    dd = os.path.join(out_dir, FUZZY_DELETES_DIR)
    if not (os.path.exists(meta_path) and os.path.isdir(dd)):
        return None
    with open(meta_path) as f:
        meta = _json.load(f)
    if fuzziness > int(meta["max_edits"]):
        return None
    hashes = sorted({delete_hash(v) for v in delete_variants(term, fuzziness)})
    buckets = sorted({h % int(meta["n_buckets"]) for h in hashes})
    by_run: dict[str, list[str]] = {}
    for b in buckets:
        for p in _glob.glob(os.path.join(dd, f"db={b}", "run=*", "*.parquet")):
            run = os.path.basename(os.path.dirname(p)).split("=", 1)[1]
            by_run.setdefault(run, []).append(p)
    empty = pd.DataFrame({"term": pd.Series(dtype=object), "df": pd.Series(dtype="int64")})
    if not by_run:
        return empty, 0
    n_files = sum(len(v) for v in by_run.values())
    parts = []
    for run, files in by_run.items():
        tbl = ds.dataset(files, format="parquet").to_table(
            filter=ds.field("delhash").isin(hashes), columns=["term", "df"]
        )
        if tbl.num_rows:
            # a term matches through SEVERAL of its delete variants — keep
            # one row per (term, run) before summing df ACROSS runs
            parts.append(tbl.to_pandas().drop_duplicates(subset=["term"]))
    if not parts:
        return empty, n_files
    pdf = pd.concat(parts, ignore_index=True)
    pdf = pdf.groupby("term", as_index=False, sort=True)["df"].sum()
    return pdf, n_files


def expand_fuzzy(
    out_dir: str | list[str],
    term: str,
    fuzziness: int = 1,
    prefix_length: int = 1,
    max_expansions: int = 50,
) -> list[str]:
    """ES fuzzy-query expansion: terms within ``fuzziness`` edits
    (CLASSIC Levenshtein, ES caps at 2 — documented divergence: ES
    defaults to Damerau, counting a transposition as ONE edit; here
    "ab"→"ba" costs two, i.e. ES's transpositions=false), sharing the
    first ``prefix_length`` chars (ES's prefix_length knob — it both
    matches user intent and range-prunes the sorted scan). Candidates are
    length-banded before the DP. Ranked df-desc like the other
    expansions.

    ``prefix_length=0`` (no shared-prefix pruning) consults the SymSpell
    k-deletes sidecar when the index carries one
    (``build.enable_fuzzy_deletes`` / ``build_index(fuzzy_deletes=True)``):
    the probe opens only the query variants' hash-bucket files — the
    parquet equivalent of Lucene's Levenshtein-automaton-over-FST walk —
    instead of scanning every dictionary term. Without the sidecar it
    falls back to the full sorted-copy scan (exact, but O(dictionary))."""
    term = term.lower()
    return _rank_expansions(
        expansion_candidates(
            out_dir, "fuzzy", term, fuzziness=fuzziness, prefix_length=prefix_length
        ),
        max_expansions, term,
    )


def index_info(spark: SparkSession, out_dir: str) -> dict:
    """Operational snapshot (the ES _stats/_cat analogue): corpus stats +
    per-run segment/posting counts from the manifest ledger — driver-side
    metadata reads only (one pyarrow manifest read), zero Spark jobs."""
    import datetime as dt

    from .build import _read_manifest
    from .delete import n_tombstoned

    def as_collected(ts) -> str:
        # the string a Spark collect() of the int96 column renders:
        # microsecond truncation, then local time (TimestampType.fromInternal)
        us = int(ts.value // 1000)
        return str(dt.datetime.fromtimestamp(us // 10**6).replace(microsecond=us % 10**6))

    stats = load_stats(out_dir)
    man = _read_manifest(
        os.path.join(out_dir, "manifest"),
        ["run_id", "n_postings", "n_blocks", "n_docs", "committed_at"],
    ).to_pandas()
    runs = [
        {
            "run_id": run_id,
            "n_postings": int(g["n_postings"].sum()),
            "n_blocks": int(g["n_blocks"].sum()),
            "n_docs": int(g["n_docs"].sum()),
            "committed_at": as_collected(g["committed_at"].max()),
        }
        for run_id, g in man.groupby("run_id", sort=True)
    ]

    return {
        "stats": stats,
        "n_runs": len(runs),
        "runs": runs,
        "total_postings": sum(r["n_postings"] for r in runs),
        "total_blocks": sum(r["n_blocks"] for r in runs),
        "n_deleted": n_tombstoned(out_dir, stats),
    }


def cat_indices(index_dirs: list[str]) -> list[dict]:
    """ES ``_cat/indices`` analogue over index directories: one ops row
    per index — ledger doc count, deleted (tombstoned) docs, committed
    runs, on-disk bytes. Metadata only (stats.json + tombstone ledgers +
    a directory walk), zero Spark jobs — the monitoring-loop call."""
    from .build import load_stats
    from .delete import n_tombstoned

    rows = []
    for d in sorted(index_dirs):
        stats = load_stats(d)
        nbytes = 0
        for root, _dirs, files in os.walk(d):
            for fn in files:
                try:
                    nbytes += os.path.getsize(os.path.join(root, fn))
                except OSError:
                    pass
        rows.append({
            "index": os.path.basename(os.path.normpath(d)),
            "path": d,
            "docs_count": int(stats["n_docs"]),
            "docs_deleted": int(n_tombstoned(d, stats)),
            "n_runs": len(stats.get("committed_runs") or []),
            "store_bytes": int(nbytes),
            "positions": bool(stats.get("positions")),
        })
    return rows


class _Root(NamedTuple):
    """One index dir a Searcher reads: its stats.json snapshot, the delete
    snapshot derived from it, and the stats.json mtime it was read at."""

    dir: str
    stats: dict
    tomb: dict
    mtime: float


class Searcher:
    """Reusable query handle: caches stats + dictionary probes.

    Serving mode (``mode='auto'``, default): when the index is a locally
    readable posix path, a query runs ENTIRELY on the driver — pyarrow
    reads exactly the matched posting blocks (tb partition + term row-group
    pruning, like the Spark scan) and the same scoring kernel ranks them —
    ZERO Spark jobs per query, the right architecture for a serving node
    (Spark builds the index; queries read it). ``mode='spark'`` forces the
    distributed scan (remote storage / huge candidate sets); results are
    identical (asserted in tests). ``mode='local'`` never falls back: an
    index that is not locally readable raises FileNotFoundError.

    Roots: a Searcher reads a list of index roots. ``Searcher(spark,
    out_dir)`` is the one-root case; ``index.daily.DailySearcher`` builds a
    window handle over the selected day indexes (``_over``). There the
    window's merged stats score, the dictionary probe, range expansion,
    term expansions and field norms each read every day dir in one dataset
    read; the docstore fetch, point-lookup liveness and significant_terms
    background read each day's docstore in turn. Each day's blocks are
    read with its own committed runs and tombstones before they
    concatenate (the multi-run shape the kernel handles), and every
    distributed plan takes the handle in place of an index dir and reads
    its roots the same way (``_seg_union``, ``_docstore_scan``), so
    ``dsl.search_body`` serves a window through the same request path.

    Staleness: every index mutation (index_batch, build_index,
    compact_segments) finishes by rewriting stats.json, so its mtime is the
    index's version stamp — each search checks it and, on change, reloads
    stats and drops the term cache (a long-lived Searcher then scores
    identically to a fresh ``bm25_topk`` on the same index)."""

    def __init__(
        self, spark: SparkSession, out_dir: str, mode: str = "auto",
        max_candidates: int | None = None, cache_terms: int = 4096,
        cache_bytes: int = 64 << 20, frozen_stats: dict | None = None,
    ):
        self.spark = spark
        self.out_dir = out_dir
        self.mode = mode
        self.max_candidates = max_candidates
        self.cache_terms = cache_terms
        self.cache_bytes = cache_bytes
        # frozen_stats = a point-in-time snapshot (see index.pit): the
        # handle pins this visibility state (committed runs, tombstone
        # set, BM25 stats) and NEVER invalidates on stats.json mtime —
        # mutations committed after the snapshot stay invisible
        self._frozen = frozen_stats is not None
        self.stats = frozen_stats if self._frozen else load_stats(out_dir)
        mtime = os.path.getmtime(os.path.join(out_dir, "stats.json"))
        self._roots = [_Root(out_dir, self.stats, _tombs(out_dir, self.stats), mtime)]
        self._reset_caches()

    @classmethod
    def _over(
        cls, spark: SparkSession, out_dir: str, stats: dict, roots: list[_Root]
    ) -> "Searcher":
        """Window handle over several index roots (``out_dir`` names their
        parent; ``stats`` are their merged stats). It is built per query
        from the caller's cached metadata, so it never reloads, and it runs
        in local mode."""
        s = cls.__new__(cls)
        s.spark, s.out_dir, s.mode = spark, out_dir, "local"
        s.max_candidates, s.cache_terms, s.cache_bytes = None, 4096, 64 << 20
        s._frozen, s.stats, s._roots = True, stats, roots
        s._reset_caches()
        return s

    def _reset_caches(self) -> None:
        """Fresh per-snapshot caches (at open and on every stats reload)."""
        from collections import OrderedDict

        self._term_cache: dict[str, dict | None] = {}
        # (term, with_poss) → post-tombstone block frame; the ES node-
        # query-cache analogue. Bounded LRU with a BYTE budget (default
        # 64 MiB, summed over the varint buffer columns) plus a term-count
        # cap: a stopword-grade term's block frame can be orders of
        # magnitude bigger than a rare term's, so counting terms alone
        # leaves the real memory unbounded. Invalidated with the stats
        # snapshot (deletes/batches/compactions clear it via mtime).
        self._block_cache: OrderedDict[tuple[str, bool], pd.DataFrame] = OrderedDict()
        self._block_cache_sizes: dict[tuple[str, bool], int] = {}
        self._block_cache_total = 0
        # (lo, hi) -> expanded keyword terms; range filters on hot serving
        # paths re-probe the term_index sidecar otherwise (mtime-invalidated
        # with everything else)
        self._range_cache: dict[tuple[str, str], list[str]] = {}
        # (term, with_poss) -> decoded _TermPostings over every bucket
        # (the driver kernels' input, one per query): byte-accounted LRU
        # with its own sibling budget — decoded int64 arrays outweigh the
        # varint frames the block LRU accounts; only its misses read frames
        self._tp_cache = _TpCache(self.cache_bytes)
        # Σ doc_freq over the committed dictionary (termvectors)
        self._sdf_cache: int | None = None
        # field -> (value_counts over the WHOLE docstore, total rows):
        # the significant_terms background, one pyarrow column read per
        # field per stats snapshot (mtime-invalidated like the rest)
        self._bg_cache: dict[str, tuple[pd.Series, int]] = {}

    @property
    def _dirs(self) -> list[str]:
        return [r.dir for r in self._roots]

    def _maybe_invalidate(self) -> None:
        if self._frozen:
            return
        try:
            m = os.path.getmtime(os.path.join(self.out_dir, "stats.json"))
        except OSError:
            return
        if m != self._roots[0].mtime:
            self.stats = load_stats(self.out_dir)
            self._reset_caches()
            self._roots = [_Root(self.out_dir, self.stats, _tombs(self.out_dir, self.stats), m)]

    def _range_expand(self, lo: str, hi: str) -> list[str]:
        key = (lo, hi)
        if key not in self._range_cache:
            self._range_cache[key] = _term_range(self._dirs, lo, hi)["term"].tolist()
        return self._range_cache[key]

    def _lookup_docs(
        self, doc_ids: list[int], runs: list[str] | None = None
    ) -> dict[int, dict]:
        """Stored rows of ``doc_ids`` from each root's docstore in turn
        (day corpora are doc-disjoint; stops once every id is found).
        ``runs`` pins the docstore runs a PIT snapshot sees."""
        from .build import lookup_docs

        meta: dict[int, dict] = {}
        missing = list(doc_ids)
        for r in self._roots:
            meta.update(lookup_docs(r.dir, missing, runs=runs, stats=r.stats))
            missing = [d for d in missing if d not in meta]
            if not missing:
                break
        return meta

    def _live_docs(self, doc_ids: list[int]) -> dict[int, dict]:
        """Point lookups under this snapshot's liveness rule: the stored
        rows of ``doc_ids`` minus the fully deleted ones — each root's
        rows judged by that root's tombstones (``dead_lookup_ids``, the
        rule mget and termvectors serve)."""
        from .build import lookup_docs
        from .delete import dead_lookup_ids

        live: dict[int, dict] = {}
        missing = sorted({int(d) for d in doc_ids})
        for r in self._roots:
            rows = lookup_docs(r.dir, missing, stats=r.stats)
            dead = dead_lookup_ids(r.dir, rows, r.stats, tomb=r.tomb)
            live.update((d, row) for d, row in rows.items() if d not in dead)
            missing = [d for d in missing if d not in rows]
            if not missing:
                break
        return live

    def _background_counts(self, field: str) -> tuple[pd.Series, int]:
        """significant_terms background: per-key doc counts of a stored
        field over EVERY root's whole docstore plus the total row count —
        one pyarrow single-column read per root (zero Spark jobs), cached
        per field until the next stats snapshot. Matches the distributed
        path's ``_docstore_scan`` exactly (every bucket/run partition, each
        root's latest version per doc, deleted docs included on both
        sides)."""
        if field not in self._bg_cache:
            import pyarrow.dataset as pds

            from .build import docstore_run_rank

            cols = []
            for r in self._roots:
                rank = docstore_run_rank(r.dir)
                dset = pds.dataset(
                    os.path.join(r.dir, "docstore"), format="parquet", partitioning="hive"
                )
                if len(rank) > 1:
                    t = dset.to_table(columns=[field, "doc_id", "run"]).to_pandas()
                    t["_v"] = t["run"].map(rank)
                    cols.append(t.sort_values(["doc_id", "_v"]).drop_duplicates(
                        "doc_id", keep="last"
                    )[field])
                else:
                    cols.append(dset.to_table(columns=[field]).column(field).to_pandas())
            col = cols[0] if len(cols) == 1 else pd.concat(cols, ignore_index=True)
            self._bg_cache[field] = (col.dropna().value_counts(), len(col))
        return self._bg_cache[field]

    @staticmethod
    def _frame_bytes(f: pd.DataFrame) -> int:
        """Byte accounting for one cached block frame: the varint buffer
        columns dominate; scalar columns cost ~8 B each per row."""
        n = len(f)
        total = 12 * 8 * n  # the scalar block columns
        for c in ("docs", "tfs", "dls", "poss"):
            if c in f.columns and n:
                total += int(sum(len(v) for v in f[c] if v is not None))
        return total

    def _cache_put(self, key: tuple[str, bool], f: pd.DataFrame) -> None:
        old = self._block_cache_sizes.pop(key, None)
        if old is not None:
            self._block_cache_total -= old
            self._block_cache.pop(key, None)
        size = self._frame_bytes(f)
        self._block_cache[key] = f
        self._block_cache_sizes[key] = size
        self._block_cache_total += size
        while self._block_cache and (
            self._block_cache_total > self.cache_bytes
            or len(self._block_cache) > self.cache_terms
        ):
            if len(self._block_cache) == 1 and self._block_cache_total <= self.cache_bytes:
                break
            k, _ = self._block_cache.popitem(last=False)
            self._block_cache_total -= self._block_cache_sizes.pop(k, 0)

    def _local_blocks(self, tbs, scan_terms, columns=None):
        """Pruned local block read with the delete snapshot applied and a
        term-keyed LRU over the block frames: repeat terms skip the parquet
        read entirely (head terms dominate real query logs). Driver kernels
        reach it only for tp-cache misses (``_postings``) or a frame the
        ``max_candidates`` guard slices (``_kernel_input``)."""
        with_poss = bool(columns) and "poss" in (columns or [])
        cached: dict[str, pd.DataFrame] = {}
        missing: list[str] = []
        for t in scan_terms:
            key = (t, with_poss)
            if key in self._block_cache:
                self._block_cache.move_to_end(key)
                cached[t] = self._block_cache[key]
            else:
                missing.append(t)
        frames = [f for f in cached.values() if len(f)]
        if missing:
            # tbs for ONLY the missing terms (the cached ones' tb dirs need
            # no touch); callers pass the union, so re-derive from entries
            ents = {e["term"]: e for e in self._entries(missing)}
            miss_tbs = sorted({int(e["tb"]) for e in ents.values()}) or list(tbs)
            parts = []
            for r in self._roots:
                b = _read_blocks_local(
                    r.dir, miss_tbs, missing, columns=columns,
                    committed=_committed(r.stats), with_run=bool(r.tomb),
                )
                if b is None:
                    if self.mode == "local":
                        raise FileNotFoundError(f"{r.dir}/segments is not locally readable")
                    return None  # not locally readable — caller falls back
                if r.tomb and len(b):
                    # per root: day indexes reuse run names (full-g0,
                    # batch_N), so one merged tombstone map would mix days
                    from .delete import apply_tombstones

                    b = apply_tombstones(b, r.tomb).drop(columns=["run"])
                parts.append(b)
            parts = [b for b in parts if len(b)] or parts[:1]
            blocks = parts[0] if len(parts) == 1 else pd.concat(parts, ignore_index=True)
            by_term = {t: g for t, g in blocks.groupby("term")} if len(blocks) else {}
            for t in missing:
                f = by_term.get(t)
                if f is None:
                    f = blocks.iloc[0:0]
                f = f.reset_index(drop=True)
                self._cache_put((t, with_poss), f)
                if len(f):
                    frames.append(f)
        if not frames:
            # preserve the schema of an empty read
            empty_cached = next(iter(cached.values()), None)
            if empty_cached is not None:
                return empty_cached.iloc[0:0]
            return pd.DataFrame(columns=list(columns or _BLOCK_COLS))
        return pd.concat(frames, ignore_index=True)

    def _postings(
        self, tbs, terms: list[str], columns=None
    ) -> dict[str, _TermPostings] | None:
        """{term: decoded postings over every bucket and root} — what a
        driver kernel takes. Warm terms come from the tp cache and touch no
        frame; misses read their frames in one ``_local_blocks`` call and
        decode once per term. Terms with no live posting drop out. None
        when the index is not locally readable."""
        with_poss = bool(columns) and "poss" in columns
        out = {t: self._tp_cache.get((t, with_poss)) for t in terms}
        missing = [t for t, tp in out.items() if tp is None]
        if missing:
            blocks = self._local_blocks(tbs, missing, columns)
            if blocks is None:
                return None
            by_term = {t: g for t, g in blocks.groupby("term", sort=False)}
            for t in missing:
                out[t] = _tp_for(by_term.get(t, blocks.iloc[0:0]), t, self._tp_cache)
        return {t: tp for t, tp in out.items() if len(tp.docs)}

    def _kernel_input(self, tbs, terms: list[str]):
        """The scoring kernel's driver input: cached postings, or the block
        frame when ``max_candidates`` may bind (Σ dictionary df bounds the
        live postings), so the kernel can slice it by doc range without
        decoding whole terms."""
        cap = self.max_candidates
        if cap and sum(int(e["df"]) for e in self._entries(terms)) > cap:
            return self._local_blocks(tbs, terms)
        return self._postings(tbs, terms)

    def _entries(self, terms: list[str]) -> list[dict]:
        missing = [t for t in terms if t not in self._term_cache]
        if missing:
            found = {e["term"]: e for e in _lookup_terms(
                self.spark, self._dirs, missing, self.stats["n_term_buckets"],
                committed=[_committed(r.stats) for r in self._roots],
            )}
            for t in missing:
                self._term_cache[t] = found.get(t)
        return [self._term_cache[t] for t in terms if self._term_cache[t] is not None]

    def search_rows(
        self, query: str, k: int = 10, prune: bool = True,
        must: str | None = None, must_not: str | None = None,
        min_should: int = 0, offset: int = 0,
        filters: dict | None = None, ranges: dict | None = None,
        or_groups: list | None = None, not_atoms: list | None = None,
        after: tuple[float, int] | None = None,
        slice_mod: tuple[int, int] | None = None,
    ) -> list[tuple[int, float]]:
        """Serving-path search: [(doc_id, score)] straight from the driver
        kernel — no DataFrame round trip at all (the py4j createDataFrame +
        collect costs ~3× the actual scoring at small k). Supports the full
        bool-query surface (query=SHOULD, must, must_not, min_should = ES
        minimum_should_match); ``offset`` pages like ES from/size (the
        kernel ranks the top offset+k then slices — same deep-pagination
        cost profile as ES), while ``after`` = (score, doc_id) pages by
        SCORE-ORDER search_after: page N+1 costs one exhaustive-scoring
        pass regardless of depth (no offset+k re-rank). ``slice_mod`` =
        (slice_id, max_slices) restricts results to docs with doc_id %
        max_slices == slice_id — the ES sliced-scroll partition (see
        ``_score_kernel``); combine with ``after`` for parallel deep
        export. Requires a locally readable index in mode auto/local; in
        mode spark it collects the distributed result."""
        if k <= 0:
            # ES "size": 0 — the canonical aggs-only request shape; the
            # WAND prune phase would otherwise np.partition at kth=len
            return []
        if offset:
            rows = self.search_rows(
                query, k + offset, prune, must=must, must_not=must_not,
                min_should=min_should, filters=filters, ranges=ranges,
                or_groups=or_groups, not_atoms=not_atoms, after=after,
                slice_mod=slice_mod,
            )
            return rows[offset : offset + k]
        self._maybe_invalidate()
        plan = _bool_plan(
            self, query, must, must_not, filters=filters, ranges=ranges,
            or_groups=or_groups, not_atoms=not_atoms,
        )
        if plan is None:
            return []
        term_idf, must_terms, not_terms, tbs, scan_terms, should_present, fgroups = plan
        if min_should > len(should_present):
            return []
        if self.mode in ("auto", "local"):
            src = self._kernel_input(tbs, scan_terms)
            if src is not None:
                return _score_local(
                    src, term_idf, k, self.stats, prune,
                    must_terms=must_terms, not_terms=not_terms,
                    max_candidates=self.max_candidates,
                    should_terms=should_present, min_should=min_should,
                    filter_groups=fgroups, after=after, slice_mod=slice_mod,
                )
        return [
            (r.doc_id, r.score)
            for r in bm25_topk(
                self.spark, self, query, k, prune, must_not=must_not, must=must,
                max_candidates=self.max_candidates, min_should=min_should,
                filters=filters, ranges=ranges, or_groups=or_groups,
                not_atoms=not_atoms, after=after, slice_mod=slice_mod,
            ).collect()
        ]

    def search_docs(
        self, query: str, k: int = 10, prune: bool = True,
        must: str | None = None, must_not: str | None = None,
    ) -> list[dict]:
        """Serving-path search with the stored document columns resolved
        (url, …): the ES-user experience — documents back, not internal
        ids. Requires the index to have been built/batched with
        ``store_docs=True`` (ids without a docstore row come back bare)."""
        rows = self.search_rows(query, k, prune, must=must, must_not=must_not)
        meta = self._lookup_docs([d for d, _ in rows])
        out = []
        for d, s in rows:
            row = dict(meta.get(d, {}))
            row.pop("bucket", None)
            row.pop("run", None)
            row.update({"doc_id": d, "score": s})
            out.append(row)
        return out

    def phrase_rows(
        self, phrase: str, k: int = 10,
        after: tuple[float, int] | None = None, slop: int = 0,
    ) -> list[tuple[int, float]]:
        """Serving-path phrase search over a positional index: the same
        phrase kernel as ``phrase_topk``, called once on the driver over
        the cached postings — zero Spark jobs. ``after`` = (score,
        doc_id) pages by score-order search_after; ``slop`` = ES proximity
        (see ``_phrase_kernel``)."""
        self._maybe_invalidate()
        plan = _phrase_plan(self, phrase)
        if plan is None:
            return []
        phrase_tokens, idf_sum, tbs, distinct = plan
        src = self._postings(tbs, distinct, columns=_POS_COLS)
        if src is None:
            return [
                (r.doc_id, r.score)
                for r in phrase_topk(
                    self.spark, self, phrase, k, after=after, slop=slop
                ).collect()
            ]
        kern = _phrase_kernel(phrase_tokens, idf_sum, k, after=after, slop=slop)
        kern.k1, kern.b, kern.avgdl = self.stats["k1"], self.stats["b"], self.stats["avgdl"]
        return _kernel_rows(kern(src))

    def termvectors(self, doc_id: int, *, term_statistics: bool = False) -> dict:
        """ES ``_termvectors`` (REALTIME semantics — the _source
        re-analysis path ES takes): the doc's STORED text is re-analyzed
        with the index analyzer, so the docstore must carry it
        (``write_docstore(extra_cols=("text",))``). Response in the ES
        shape: per-term ``term_freq`` + token ``position``s, and with
        ``term_statistics=True`` per-term ``doc_freq``/``ttf`` from the
        live dictionary plus ``field_statistics`` (doc_count, sum_ttf
        from stats.json; sum_doc_freq from one cached dictionary column
        scan — the one O(terms) stat, a distributed agg once the
        dictionary outgrows the driver). Zero Spark jobs."""
        from ..textutils import analyze_with_slots

        self._maybe_invalidate()
        row = self._live_docs([int(doc_id)]).get(int(doc_id))
        if row is None:
            return {"_id": int(doc_id), "found": False}
        if row.get("text") is None:
            raise ValueError(
                "termvectors needs the stored text — build the docstore "
                "with write_docstore(extra_cols=('text',))"
            )
        toks = analyze_with_slots(row["text"], self.stats.get("analyzer"))
        terms: dict[str, dict] = {}
        for t, p in toks:
            e = terms.setdefault(t, {"term_freq": 0, "tokens": []})
            e["term_freq"] += 1
            e["tokens"].append({"position": int(p)})
        fs = {
            "doc_count": int(self.stats["n_docs"]),
            "sum_ttf": int(self.stats.get("total_tokens") or 0),
        }
        if term_statistics:
            entries = {e["term"]: e for e in self._entries(sorted(terms))}
            for t, e in terms.items():
                de = entries.get(t)
                e["doc_freq"] = int(de["df"]) if de else 0
                e["ttf"] = int(de["cf"]) if de and "cf" in de else 0
            fs["sum_doc_freq"] = self._sum_doc_freq()
        return {
            "_id": int(doc_id),
            "found": True,
            "term_vectors": {
                "text": {
                    "field_statistics": fs,
                    "terms": dict(sorted(terms.items())),
                }
            },
        }

    def _sum_doc_freq(self) -> int:
        """Σ doc_freq over the committed dictionary (field_statistics),
        cached per Searcher snapshot."""
        if self._sdf_cache is not None:
            return self._sdf_cache
        import glob as _glob

        import pyarrow.parquet as pq

        total = 0
        for r in self._roots:
            committed = _committed(r.stats)
            for f in _glob.glob(
                os.path.join(r.dir, "dictionary", "tb=*", "run=*", "*.parquet")
            ):
                if committed is not None and _run_of(f) not in committed:
                    continue
                tbl = pq.read_table(f, columns=["df"])
                total += int(tbl["df"].to_pandas().sum()) if len(tbl) else 0
        self._sdf_cache = total
        return total

    def span_near_rows(
        self, clauses: list, k: int = 10, *,
        slop: int = 0, in_order: bool = True,
        after: tuple[float, int] | None = None,
        first_end: int | None = None,
        exclude: list | None = None, pre: int = 0, post: int = 0,
    ) -> list[tuple[int, float]]:
        """Serving-path span search: the same span kernel as
        ``span_near_topk``, called once on the driver over the cached
        postings — zero Spark jobs (semantics in ``_span_kernel``; clauses
        may be span_or lists; first_end/exclude = span_first/span_not)."""
        self._maybe_invalidate()
        plan = _span_plan(self, clauses, exclude_texts=exclude)
        if plan is None:
            return []
        kept, ex_present, idf_sum, tbs = plan
        scan_terms = sorted({t for cl in kept for t in cl} | set(ex_present))
        src = self._postings(tbs, scan_terms, columns=_POS_COLS)
        if src is None:
            return [
                (r.doc_id, r.score)
                for r in span_near_topk(
                    self.spark, self, clauses, k,
                    slop=slop, in_order=in_order, after=after,
                    first_end=first_end, exclude=exclude, pre=pre, post=post,
                ).collect()
            ]
        kern = _span_kernel(
            kept, slop, in_order, idf_sum, k, after=after,
            first_end=first_end,
            exclude=(ex_present, pre, post) if exclude is not None else None,
        )
        kern.k1, kern.b, kern.avgdl = (
            self.stats["k1"], self.stats["b"], self.stats["avgdl"]
        )
        return _kernel_rows(kern(src))

    def expand_terms(
        self, kind: str, value: str, *,
        fuzziness: int = 1, prefix_length: int = 1, max_expansions: int = 50,
    ) -> list[str]:
        """prefix/wildcard/regexp/fuzzy expansion over every root: the
        candidates' df sums across roots, then the ES df-desc ranking
        applies once (``expansion_candidates``)."""
        value = value.lower()
        return _rank_expansions(
            expansion_candidates(
                self._dirs, kind, value,
                fuzziness=fuzziness, prefix_length=prefix_length,
            ),
            max_expansions, value,
        )

    def expansion_rows(
        self, kind: str, value: str, k: int = 10, *,
        fuzziness: int = 1, prefix_length: int = 1, max_expansions: int = 50,
    ) -> list[tuple[int, float]]:
        """ES prefix/wildcard/regexp/fuzzy query: the expansion
        (``expand_terms``) scored as a SHOULD bag."""
        terms = self.expand_terms(
            kind, value, fuzziness=fuzziness, prefix_length=prefix_length,
            max_expansions=max_expansions,
        )
        if not terms:
            return []
        return self.search_rows(" ".join(terms), k)

    def prefix_rows(
        self, prefix: str, k: int = 10, max_expansions: int = 50
    ) -> list[tuple[int, float]]:
        """ES prefix-query analogue: the prefix's highest-df terms (≤
        max_expansions) as a SHOULD bag."""
        return self.expansion_rows("prefix", prefix, k, max_expansions=max_expansions)

    def wildcard_rows(
        self, pattern: str, k: int = 10, max_expansions: int = 50
    ) -> list[tuple[int, float]]:
        """ES wildcard-query analogue (``*``/``?``; the literal prefix
        range-prunes the sorted term_index)."""
        return self.expansion_rows("wildcard", pattern, k, max_expansions=max_expansions)

    def regexp_rows(
        self, pattern: str, k: int = 10, max_expansions: int = 50
    ) -> list[tuple[int, float]]:
        """ES regexp-query analogue (the literal prefix range-prunes the
        sorted term_index)."""
        return self.expansion_rows("regexp", pattern, k, max_expansions=max_expansions)

    def term_suggest(self, text: str, **kw) -> list[dict]:
        """ES term suggester ("did you mean") over this index — see
        module-level ``term_suggest`` for knobs and semantics."""
        self._maybe_invalidate()
        return term_suggest(self.out_dir, text, **kw)

    def explain(
        self, query: str, doc_id: int, *,
        must: str | None = None, must_not: str | None = None,
        min_should: int = 0,
        filters: dict | None = None, ranges: dict | None = None,
        or_groups: list | None = None, not_atoms: list | None = None,
    ) -> dict:
        """ES explain API: one document's BM25 score for a bool query,
        decomposed Lucene-style — a "sum of:" root with one weight node
        per matching scoring term whose idf × tfNorm children multiply to
        the node value; the node values sum EXACTLY to the kernel's score
        for the same query (pinned in tests — same float64 formula, same
        decoded postings). Non-scoring clauses explain membership only:
        a missing must term, a matching must_not term, an unsatisfied
        filter group, or too few should terms return
        ``{"matched": False, "description": why}`` (ES's matched:false),
        never a fabricated score. Main-field scoring only (multi_match
        per-field norms are served by ``multi_match_rows``; explaining
        them is not supported). Serving-path: pruned local block reads,
        zero Spark jobs."""
        self._maybe_invalidate()
        k1, b, avgdl = self.stats["k1"], self.stats["b"], self.stats["avgdl"]
        n_docs = self.stats["n_docs"]
        nomatch = lambda why: {
            "matched": False, "value": 0.0, "description": why, "details": [],
        }
        plan = _bool_plan(
            self, query, must, must_not, filters=filters, ranges=ranges,
            or_groups=or_groups, not_atoms=not_atoms,
        )
        if plan is None:
            return nomatch("no query term is indexed")
        term_idf, must_terms, not_terms, tbs, scan_terms, should_present, fgroups = plan
        postings = self._postings(tbs, scan_terms)
        if postings is None:
            raise FileNotFoundError(
                f"{self.out_dir}/segments is not locally readable — "
                "explain is a serving-path API"
            )
        found: dict[str, tuple[int, int]] = {}
        for term, tp in postings.items():
            idxs = np.nonzero(tp.docs == int(doc_id))[0]
            if len(idxs):
                # keep-first matches the kernel's delta-duplicate rule
                found[term] = tp.tf_dl_at(int(idxs[0]))
        for t in must_terms:
            if t not in found:
                return nomatch(f"required term {t!r} does not match")
        for t in not_terms:
            if t in found:
                return nomatch(f"must_not term {t!r} matches")
        for grp_terms in fgroups:
            if not any(t in found for t in grp_terms):
                return nomatch(f"filter group {tuple(grp_terms)!r} does not match")
        n_should = sum(1 for t in should_present if t in found)
        if min_should and n_should < min_should:
            return nomatch(
                f"{n_should} of {len(should_present)} should terms match "
                f"(minimum_should_match={min_should})"
            )
        scoring = sorted(t for t in term_idf if t in found)
        if not scoring:
            return nomatch("no scoring term matches")
        details = []
        total = 0.0
        for t in scoring:
            tf, dl = found[t]
            idf_v = float(term_idf[t])
            tfn = (tf * (k1 + 1.0)) / (tf + k1 * (1.0 - b + b * (dl / avgdl)))
            v = idf_v * tfn
            total += v
            details.append({
                "value": v,
                "description": f"weight(text:{t} in {int(doc_id)}) [BM25], product of:",
                "details": [
                    {
                        "value": idf_v,
                        "description": (
                            f"idf, ln(1 + (N - n + 0.5) / (n + 0.5)) with N={n_docs}"
                        ),
                        "details": [],
                    },
                    {
                        "value": tfn,
                        "description": (
                            f"tfNorm, (tf·(k1+1)) / (tf + k1·(1−b+b·dl/avgdl)), "
                            f"tf={tf}, k1={k1}, b={b}, dl={dl}, avgdl={avgdl:.6g}"
                        ),
                        "details": [],
                    },
                ],
            })
        return {
            "matched": True, "value": total, "description": "sum of:",
            "details": details,
        }

    def phrase_freq(self, phrase: str) -> int:
        """Total corpus phraseFreq of the exact token sequence (Σ per-doc
        start positions; a single token yields its collection frequency) —
        the phrase suggester's language-model counts, served by the
        freq-mode phrase kernel over pruned local block reads (zero Spark
        jobs warm). Needs an index built with positions=True."""
        self._maybe_invalidate()
        plan = _phrase_plan(self, phrase)
        if plan is None:
            return 0
        phrase_tokens, idf_sum, tbs, distinct = plan
        kern = _phrase_kernel(phrase_tokens, idf_sum, None, freqs=True)
        kern.k1, kern.b, kern.avgdl = (
            self.stats["k1"], self.stats["b"], self.stats["avgdl"]
        )
        src = self._postings(tbs, distinct, columns=_POS_COLS)
        if src is None:
            # not locally readable — one distributed freq job instead
            seg = _seg_union(self, tbs, distinct, _POS_COLS)
            local = seg.groupBy("bucket").applyInPandas(
                kern, schema="doc_id long, score double"
            )
            val = local.agg(F.sum("score")).collect()[0][0]
            return int(val or 0)
        return int(float(kern(src)["score"].sum()))

    def phrase_suggest(
        self, text: str, *, size: int = 5, max_edits: int = 2,
        prefix_length: int = 1, candidates_per_token: int = 5,
        max_errors: int = 1, discount: float = 0.4,
        confidence: float = 1.0, min_word_length: int = 4,
    ) -> list[dict]:
        """ES phrase suggester ("did you mean" with CONTEXT): per-token
        correction candidates (the term suggester's, suggest_mode=always)
        compose into whole-phrase candidates with ≤ ``max_errors``
        substituted tokens (ES default 1), ranked by a STUPID-BACKOFF
        bigram language model computed from the positional index itself:

            logP(w1..wn) = ln P(w1) + Σ ln P(wi | wi-1)
            P(wi | wi-1) = bigram(wi-1, wi) / cf(wi-1)       when seen
                         = discount × P(wi)                   (backoff, 0.4)
            P(w)         = (cf(w) + 1) / (total_tokens + 1)   (Laplace)

        with cf = collection frequency and bigram = corpus adjacency
        count, both served by ``phrase_freq`` (zero Spark jobs warm; the
        per-(pair) counts memoize across candidates). Returns one
        ES-shaped entry [{"text", "offset", "length", "options":
        [{"text", "score"}]}] — options ordered (score desc, text asc),
        kept only when they beat the input phrase's own score +
        ln(confidence) (the ES confidence contract on a log scale).
        Documented deviations: score IS the log-probability (ES reports
        an opaque internal LM score), and the shingle field ES pre-builds
        is replaced by live positional-adjacency counts. Needs
        positions=True."""
        from ..textutils import TOKEN_RE

        self._maybe_invalidate()
        low = text.lower()
        toks = [m.group(0) for m in TOKEN_RE.finditer(low)]
        if not toks:
            return []
        per_pos: list[list[str]] = []
        for tok in toks:
            ent = term_suggest(
                self.out_dir, tok, size=candidates_per_token,
                max_edits=max_edits, prefix_length=prefix_length,
                min_word_length=min_word_length, suggest_mode="always",
            )
            per_pos.append([o["text"] for o in ent[0]["options"]] if ent else [])
        orig = tuple(toks)
        cands = {orig}
        if int(max_errors) >= 1:
            for p, opts in enumerate(per_pos):
                for c in opts:
                    v = list(toks)
                    v[p] = c
                    cands.add(tuple(v))
        T = float(self.stats.get("total_tokens") or 0) or 1.0
        cf_cache: dict[str, int] = {}
        bg_cache: dict[tuple[str, str], int] = {}

        def cf(w: str) -> int:
            if w not in cf_cache:
                cf_cache[w] = self.phrase_freq(w)
            return cf_cache[w]

        def bg(a: str, b: str) -> int:
            if (a, b) not in bg_cache:
                bg_cache[(a, b)] = self.phrase_freq(f"{a} {b}")
            return bg_cache[(a, b)]

        def uni(w: str) -> float:
            return (cf(w) + 1.0) / (T + 1.0)

        def logp(ws: tuple[str, ...]) -> float:
            lp = math.log(uni(ws[0]))
            for a, b_ in zip(ws, ws[1:]):
                nb = bg(a, b_)
                # an adjacency occurrence implies an occurrence of its
                # first token, so nb > 0 ⇒ cf(a) ≥ nb > 0
                lp += (
                    math.log(nb / cf(a)) if nb > 0
                    else math.log(discount * uni(b_))
                )
            return lp

        base_lp = logp(orig)
        gate = base_lp + math.log(confidence) if confidence > 0 else float("-inf")
        scored = []
        for ws in cands:
            if ws == orig:
                continue
            lp = logp(ws)
            if lp > gate:
                scored.append((lp, " ".join(ws)))
        scored.sort(key=lambda t: (-t[0], t[1]))
        return [{
            "text": " ".join(toks), "offset": 0, "length": len(low),
            "options": [{"text": p, "score": lp} for lp, p in scored[:size]],
        }]

    def suggest(self, prefix: str, k: int = 10) -> list[tuple[str, int]]:
        """ES completion-suggester analogue: top-df term completions with
        their document frequencies (see ``suggest_terms``)."""
        self._maybe_invalidate()
        return suggest_terms(self.out_dir, prefix, k)

    def fuzzy_rows(
        self, term: str, k: int = 10, fuzziness: int = 1,
        prefix_length: int = 1, max_expansions: int = 50,
    ) -> list[tuple[int, float]]:
        """ES fuzzy-query analogue: edit-distance-≤ fuzziness expansion
        (shared prefix_length chars), scored as a SHOULD bag."""
        return self.expansion_rows(
            "fuzzy", term, k, fuzziness=fuzziness, prefix_length=prefix_length,
            max_expansions=max_expansions,
        )

    def multi_match_rows(
        self, query: str, fields: list[str], k: int = 10, *,
        type: str = "best_fields",  # noqa: A002 — the ES parameter name
        prune: bool = True,
    ) -> list[tuple[int, float]]:
        """Serving-path ES multi_match (see ``multi_match_topk``): per-field
        BM25 over field-qualified postings, dis_max (best_fields) or
        one-pass sum with per-field norms (most_fields). Zero Spark jobs on
        a locally readable index."""
        self._maybe_invalidate()
        plan = _multi_match_plan(self, query, fields)
        if plan is None:
            return []
        per_field, tbs, scan_terms = plan
        if type not in ("best_fields", "most_fields"):
            raise ValueError(f"unsupported multi_match type {type!r}")
        src = self._kernel_input(tbs, scan_terms)
        if src is None:
            rows = multi_match_topk(
                self.spark, self, query, fields, k, type=type, prune=prune
            ).collect()
            return [(r.doc_id, r.score) for r in rows]
        if type == "most_fields":
            term_idf = {t: v for _, _, ti, _ in per_field for t, v in ti.items()}
            abt = {t: av for _, _, ti, av in per_field for t in ti}
            return _score_local(
                src, term_idf, k, self.stats, prune,
                max_candidates=self.max_candidates, avgdl_by_term=abt,
            )
        rows_per_field = []
        for _fname, _boost, term_idf, avgdl in per_field:
            # the field's own terms: cache hits after the read above
            st = dict(self.stats, avgdl=avgdl)
            rows_per_field.append(
                _score_local(
                    self._kernel_input(tbs, sorted(term_idf)), term_idf, k, st, prune,
                    max_candidates=self.max_candidates,
                )
            )
        return [
            (int(d), float(s)) for d, s in _merge_best_fields(rows_per_field, k)
        ]

    def sorted_rows(
        self, query: str, sort: list[tuple[str, str]], k: int = 10, *,
        must: str | None = None, must_not: str | None = None,
        filters: dict | None = None, ranges: dict | None = None,
        search_after: tuple | None = None,
        or_groups: list | None = None, not_atoms: list | None = None,
    ) -> list[tuple]:
        """ES sort + search_after (see ``search_sorted``). Field sorting
        ranks the FULL matching set by docstore columns, so it runs on the
        distributed path regardless of mode — the serving fast path only
        covers relevance ranking, where the kernel's top-k bounds the work."""
        df = search_sorted(
            self.spark, self, query, sort, k,
            must=must, must_not=must_not, filters=filters, ranges=ranges,
            search_after=search_after, or_groups=or_groups, not_atoms=not_atoms,
        )
        return [tuple(r) for r in df.collect()]

    def more_like_this(
        self, like, k: int = 10, *,
        max_query_terms: int = 25, min_doc_freq: int = 2, min_term_freq: int = 1,
        exclude_self: bool = True,
    ) -> list[tuple[int, float]]:
        """ES more_like_this: select the ``like`` document's most
        interesting terms (Lucene's tf·idf interestingness, capped at
        ``max_query_terms``, terms rarer than ``min_doc_freq`` corpus docs
        or fewer than ``min_term_freq`` in-doc occurrences dropped) and run
        them as a SHOULD bag. ``like`` is raw text, or a doc_id resolved
        from the docstore (requires the index to store a ``text`` column:
        ``write_docstore(extra_cols=('text',))``)."""
        sel, self_id = self.mlt_terms(
            like, max_query_terms=max_query_terms,
            min_doc_freq=min_doc_freq, min_term_freq=min_term_freq,
        )
        if not sel:
            return []
        rows = self.search_rows(" ".join(sel), k + (1 if exclude_self else 0))
        if exclude_self and self_id is not None:
            rows = [(d, s) for d, s in rows if d != self_id]
        return rows[:k]

    def mlt_terms(
        self, like, *,
        max_query_terms: int = 25, min_doc_freq: int = 2, min_term_freq: int = 1,
    ) -> tuple[list[str], int | None]:
        """more_like_this term selection (Lucene tf·idf interestingness) —
        returns (selected_terms, self_doc_id). Factored out so the DSL's
        exact ``track_total_hits`` can count the same SHOULD bag the
        scoring path runs."""
        from collections import Counter

        self._maybe_invalidate()
        self_id = None
        if isinstance(like, int):
            self_id = like
            row = self._lookup_docs([like]).get(like)
            if row is None or "text" not in row or row["text"] is None:
                raise ValueError(
                    f"doc {like} has no stored text — build the docstore with "
                    "extra_cols=('text',) to use more_like_this by id"
                )
            text = row["text"]
        else:
            text = like
        from ..textutils import analyze

        tf = Counter(analyze(text, self.stats.get("analyzer")))
        if not tf:
            return [], self_id
        entries = {e["term"]: e for e in self._entries(sorted(tf))}
        scored_terms = []
        for t, f in tf.items():
            e = entries.get(t)
            if e is None or f < min_term_freq or int(e["df"]) < min_doc_freq:
                continue
            interest = f * idf(self.stats["n_docs"], int(e["df"]))
            scored_terms.append((interest, t))
        scored_terms.sort(key=lambda iv: (-iv[0], iv[1]))
        return [t for _, t in scored_terms[:max_query_terms]], self_id

    def search_highlight(
        self, query: str, k: int = 10, *,
        must: str | None = None, must_not: str | None = None,
        pre_tag: str = "<em>", post_tag: str = "</em>",
        frag_size: int = 120, text_col: str = "text",
    ) -> list[dict]:
        """ES plain-highlighter analogue: hits with a snippet of the STORED
        text (docstore must carry ``text_col`` via extra_cols) centered on
        the first query-term occurrence, every query-term occurrence inside
        the fragment wrapped in pre/post tags (token-boundary,
        case-insensitive — the analyzer's tokenization rule)."""
        import re as _re

        terms = sorted(set(tokenize(query)) | (set(tokenize(must)) if must else set()))
        rx = _re.compile(
            r"(?<![a-z0-9])(" + "|".join(_re.escape(t) for t in terms) + r")(?![a-z0-9])",
            _re.IGNORECASE,
        )
        rows = self.search_rows(query, k, must=must, must_not=must_not)
        meta = self._lookup_docs([d for d, _ in rows])
        out = []
        for d, s in rows:
            row = {"doc_id": d, "score": s}
            text = (meta.get(d) or {}).get(text_col)
            if text:
                m = rx.search(text)
                if m:
                    lo = max(0, m.start() - frag_size // 2)
                    hi = min(len(text), lo + frag_size)
                    frag = text[lo:hi]
                    row["highlight"] = (
                        ("…" if lo else "")
                        + rx.sub(pre_tag + r"\1" + post_tag, frag)
                        + ("…" if hi < len(text) else "")
                    )
            if "url" in (meta.get(d) or {}):
                row["url"] = meta[d]["url"]
            out.append(row)
        return out

    def facet_counts(
        self, query: str, facet_col: str, k: int = 10,
        must: str | None = None, must_not: str | None = None,
        max_hits: int = 100_000,
    ) -> list[tuple[str, int]]:
        """ES terms-aggregation analogue over the MATCHING set: counts of a
        stored docstore column's values among the hits, most-frequent first
        (ties by value asc). Serving-path fast path: the bool kernel
        enumerates hits and the bucket-pruned docstore resolves the facet
        column — zero Spark jobs. If the matching set SATURATES
        ``max_hits`` the counts would be silently wrong, so it escalates to
        the fully distributed ``facet_counts_spark`` path instead (same
        ordering, exact over any hit count)."""
        from collections import Counter

        rows = self.search_rows(query, max_hits, must=must, must_not=must_not)
        if len(rows) >= max_hits:
            return [
                (r["facet"], int(r["n"]))
                for r in facet_counts_spark(
                    self.spark, self, facet_col, query,
                    must=must, must_not=must_not, k=k,
                ).collect()
            ]
        meta = self._lookup_docs([d for d, _ in rows])
        c = Counter(
            meta[d][facet_col] for d, _ in rows if d in meta and facet_col in meta[d]
        )
        return sorted(c.items(), key=lambda kv: (-kv[1], str(kv[0])))[:k]

    def aggs_rows(
        self, aggs: dict, query: str = "", *,
        must: str | None = None, must_not: str | None = None,
        min_should: int = 0,
        filters: dict | None = None, ranges: dict | None = None,
        or_groups: list | None = None, not_atoms: list | None = None,
        max_hits: int = 100_000,
    ) -> dict[str, list[dict]]:
        """Search aggregations with the serving-path engine where it is
        measured (the dashboard workload): when every agg kind in
        ``aggs``, sub-aggs included, is a serving kind (terms /
        histogram, stats, avg / sum / min / max / value_count,
        significant_terms — ``_SERVING_AGG_KINDS``), the bool
        kernel enumerates hits, the bucket-pruned docstore resolves the
        agg fields, and pandas computes the aggregations — zero Spark
        jobs, rows identical to ``search_aggs``. Any other kind, a
        filter-only (match_all) request, and a matching set that
        saturates ``max_hits`` run the fully distributed ``search_aggs``
        instead, decided before the kernel runs, with its ES semantics
        (``cardinality`` approximates unless ``"exact": true``,
        ``percentiles`` approximates)."""
        scoring = bool((query or "").strip() or (must or "").strip())
        if scoring and _agg_kinds(aggs) <= _SERVING_AGG_KINDS:
            rows = self.search_rows(
                query, max_hits, must=must, must_not=must_not,
                min_should=min_should, filters=filters, ranges=ranges,
                or_groups=or_groups, not_atoms=not_atoms,
            )
            if len(rows) < max_hits:
                meta = self._lookup_docs([d for d, _ in rows])
                pdf = pd.DataFrame(list(meta.values())) if meta else pd.DataFrame()
                return _aggs_pandas(pdf, aggs, bg_counts=self._background_counts)
        # filter-only requests have no scoring terms for the kernel to
        # enumerate — candidates come from the keyword postings on the
        # distributed path
        out = search_aggs(
            self.spark, self, aggs, query, must=must,
            must_not=must_not, min_should=min_should,
            filters=filters, ranges=ranges, or_groups=or_groups,
            not_atoms=not_atoms,
        )
        return {name: [r.asDict() for r in df.collect()] for name, df in out.items()}

    def search(
        self, query: str, k: int = 10, prune: bool = True,
        must: str | None = None, must_not: str | None = None,
        min_should: int = 0,
        filters: dict | None = None, ranges: dict | None = None,
        or_groups: list | None = None, not_atoms: list | None = None,
    ) -> DataFrame:
        """``search_rows`` as a (doc_id, score) DataFrame; ``mode='spark'``
        returns the distributed ``bm25_topk`` plan over this handle."""
        kw = dict(
            must=must, must_not=must_not, min_should=min_should, filters=filters,
            ranges=ranges, or_groups=or_groups, not_atoms=not_atoms,
        )
        if self.mode == "spark":
            return bm25_topk(
                self.spark, self, query, k, prune,
                max_candidates=self.max_candidates, **kw,
            )
        return self.spark.createDataFrame(
            self.search_rows(query, k, prune, **kw), "doc_id long, score double"
        )
