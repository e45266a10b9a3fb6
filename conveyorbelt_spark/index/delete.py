"""Document deletes and updates: per-run tombstones, LSM-style.

The reference delegates the document lifecycle to Elasticsearch (delete /
update / delete-by-query APIs); Lucene implements them as per-segment
liveness marks purged at merge. This module is the same design over the
run-partitioned segment layout:

- a TOMBSTONE is a (doc_id, run) pair — "this doc is dead IN THIS RUN".
- ``delete_docs`` tombstones the ids across every run committed at delete
  time: the doc disappears from search entirely.
- ``update_docs`` = delete (old runs) + ``index_batch`` (a NEW run the
  tombstones don't cover) — the new version is visible, the old one is
  not, with no rewrite of any existing segment file.
- read paths apply tombstones by BLOCK SURGERY (``apply_tombstones``):
  blocks whose (run, doc-range) can't contain a dead doc pass through
  untouched (the fast path — metadata test only); touched blocks are
  decoded, the dead postings dropped, and the block re-encoded with
  recomputed block-max metadata, so every kernel downstream (WAND, bool,
  phrase, facets) runs unchanged on an index that simply no longer
  contains those postings.
- corpus stats (df / n_docs / avgdl) keep counting deleted docs until
  compaction — exactly Lucene's docFreq-includes-deletes behavior — and
  ``compact_segments`` / ``compact_runs`` purge dead postings physically
  and drop the consumed tombstones.

Commit protocol: tombstone parquet first, then the ``tombstone_runs`` list
in stats.json (the read snapshot — readers ignore unlisted tombstone
files). A crash in between leaves an invisible orphan; the deterministic
tombstone-run id makes a retry overwrite it idempotently. Scale: tombstone
volume between compactions is the delete rate × compaction cadence; the
driver holds (doc_id, run) int pairs only.
"""

from __future__ import annotations

import hashlib
import json
import os
import re

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F  # noqa: N812

from ..functions.codecs import varint_decode, varint_encode_ex

TOMB_SCHEMA = "doc_id long, run string"


def _stats_path(out_dir: str) -> str:
    return os.path.join(out_dir, "stats.json")


def _tomb_dir(out_dir: str) -> str:
    return os.path.join(out_dir, "tombstones")


def delete_docs(
    spark: SparkSession,
    out_dir: str,
    doc_ids,
    *,
    runs: list[str] | None = None,
    op_id: str | None = None,
) -> int:
    """Tombstone ``doc_ids`` (list of ints or a DataFrame with a doc_id
    column) across ``runs`` (default: every committed segment run). Returns
    the number of (doc_id, run) tombstone rows written. Idempotent per
    ``op_id`` (default: deterministic from the ids+runs), which must match
    ``[A-Za-z0-9_-]+``: it names a partition directory, and characters
    Spark escapes there would commit tombstones the row count can't find."""
    from .build import load_stats

    if op_id is not None and not re.fullmatch(r"[A-Za-z0-9_-]+", op_id):
        raise ValueError(f"op_id must match [A-Za-z0-9_-]+, got {op_id!r}")
    stats = load_stats(out_dir)
    runs = sorted(runs if runs is not None else stats.get("committed_runs") or [])
    if not runs:
        return 0
    if isinstance(doc_ids, DataFrame):
        ids_df = doc_ids.select(F.col("doc_id").cast("long")).distinct()
    else:
        ids = sorted({int(d) for d in doc_ids})
        if not ids:
            return 0
        ids_df = spark.createDataFrame([(d,) for d in ids], "doc_id long").distinct()
    if op_id is None:
        if isinstance(doc_ids, DataFrame):
            raise ValueError("op_id is required when doc_ids is a DataFrame")
        h = hashlib.md5(json.dumps([ids, runs]).encode()).hexdigest()[:12]
        op_id = f"del_{h}"
    runs_df = spark.createDataFrame([(r,) for r in runs], "run string")
    tomb = ids_df.crossJoin(F.broadcast(runs_df)).withColumn("trun", F.lit(op_id))
    (
        tomb.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("trun")
        .parquet(_tomb_dir(out_dir))
    )
    # row count from the just-written partition's parquet FOOTERS — a
    # tomb.count() here would recompute the whole lineage (for
    # delete_by_query that is the entire matching-set search, twice)
    import pyarrow.dataset as _pds

    n = _pds.dataset(
        os.path.join(_tomb_dir(out_dir), f"trun={op_id}"), format="parquet"
    ).count_rows()
    # THE commit: list the tombstone run in stats.json (also bumps the file
    # mtime, invalidating any live Searcher snapshot)
    with open(_stats_path(out_dir)) as f:
        s = json.load(f)
    truns = list(dict.fromkeys((s.get("tombstone_runs") or []) + [op_id]))
    s["tombstone_runs"] = truns
    with open(_stats_path(out_dir), "w") as f:
        json.dump(s, f, indent=2)
    return int(n)


def delete_by_query(
    spark: SparkSession,
    out_dir: str,
    query: str = "",
    *,
    must: str | None = None,
    must_not: str | None = None,
    filters: dict | None = None,
    ranges: dict | None = None,
    op_id: str,
) -> int:
    """ES _delete_by_query: resolve the FULL matching doc set (distributed,
    uncapped — ``bool_doc_ids``) and tombstone it. ``op_id`` names the
    operation for idempotent retry."""
    from .query import bool_doc_ids

    hits = bool_doc_ids(
        spark, out_dir, query, must=must, must_not=must_not,
        filters=filters, ranges=ranges,
    )
    return delete_docs(spark, out_dir, hits, op_id=op_id)


def update_docs(
    spark: SparkSession,
    docs: DataFrame,
    out_dir: str,
    batch_id: int | str,
    *,
    url_col: str = "url",
    **index_kw,
) -> bool:
    """ES bulk update (full reindex of each doc, the reference's push
    semantics): tombstone the docs' CURRENT versions across the runs
    committed so far, then append the new versions as a fresh delta run the
    tombstones don't cover. A doc not previously indexed updates cleanly
    (its tombstone rows match nothing). Crash between the two steps hides
    the old version before the new one lands — the retry (same batch_id,
    same deterministic op) converges.

    Replay safety (at-least-once redelivery): if this update's run is
    ALREADY committed in the manifest, the first attempt finished — its
    delete step already tombstoned the old versions — so the replay skips
    the delete entirely (tombstoning at that point would hit the NEW
    versions: directly in their own run, or inside the ``compacted`` run
    once a compaction has folded them) and lets ``index_batch`` no-op on
    the committed run_id. For a replay of a MID-crashed update (run not
    yet committed) the delete scope still excludes the target run, so a
    partially-written delta is never self-tombstoned."""
    from ..functions.tokenize import with_doc_id
    from ..streaming.incremental import _committed_runs, index_batch
    from .build import load_stats

    run_id = f"batch_{batch_id}"
    man_dir = os.path.join(out_dir, "manifest")
    if run_id not in _committed_runs(spark, man_dir):
        stats = load_stats(out_dir)
        runs = [r for r in (stats.get("committed_runs") or []) if r != run_id]
        ids_df = (with_doc_id(docs, url_col) if url_col else docs).select("doc_id")
        if runs:
            delete_docs(spark, out_dir, ids_df, runs=runs, op_id=f"upd_{batch_id}")
    return index_batch(
        spark, docs, out_dir, batch_id, url_col=url_col, **index_kw
    )


def load_tombstones(out_dir: str, stats: dict | None = None) -> dict[str, np.ndarray]:
    """{segment run → sorted dead doc_ids}, restricted to the committed
    ``tombstone_runs`` snapshot. Driver-side pyarrow read (tombstones are
    two int/str columns; volume is bounded by the compaction cadence)."""
    import glob

    import pyarrow.dataset as ds

    if stats is None:
        from .build import load_stats

        stats = load_stats(out_dir)
    truns = stats.get("tombstone_runs") or []
    if not truns:
        return {}
    files: list[str] = []
    for t in truns:
        files.extend(glob.glob(os.path.join(_tomb_dir(out_dir), f"trun={t}", "*.parquet")))
    if not files:
        return {}
    tbl = ds.dataset(files, format="parquet").to_table(columns=["doc_id", "run"])
    pdf = tbl.to_pandas()
    out: dict[str, np.ndarray] = {}
    for run, grp in pdf.groupby("run"):
        out[str(run)] = np.unique(grp["doc_id"].to_numpy(dtype=np.int64))
    return out


def _in_sorted(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    if not len(b):
        return np.zeros(len(a), dtype=bool)
    pos = np.searchsorted(b, a)
    mask = pos < len(b)
    mask[mask] = b[pos[mask]] == a[mask]
    return mask


_GSUF_RE = re.compile(r"-g\d+$")


def _base_to_segs(committed: list[str]) -> dict[str, list[str]]:
    """Committed segment runs grouped by their docstore-run base (a full
    build's run_id R writes segments R-g0..R-gN but one docstore run R;
    incremental batches use R for both)."""
    out: dict[str, list[str]] = {}
    for r in committed:
        out.setdefault(_GSUF_RE.sub("", r), []).append(r)
    return out


def dead_lookup_ids(
    out_dir: str,
    rows: dict[int, dict],
    stats: dict | None = None,
    tomb: dict[str, np.ndarray] | None = None,
) -> set[int]:
    """The point-lookup liveness rule: of ``rows`` (doc_id → newest
    docstore row, from ``lookup_docs`` — each carries its ``run``), the
    doc_ids that are FULLY DELETED. A doc is dead iff every committed
    segment run its newest stored version maps to is tombstoned for it —
    the same visibility the posting kernel serves, evaluated from the
    docstore side. A later unrelated batch commit cannot resurrect a
    deleted doc (its own runs stay tombstoned); an update genuinely does
    (the new row's run has no tombstone). Rows whose run maps to no
    committed segment run (a ``storefold-`` row, or post-compaction
    renames) fall back to the conservative all-committed-runs test —
    pair physical purges with ``compact_docstore(purge_deleted=True)``.
    Driver-side; tombstone volume is bounded by the compaction cadence.
    Pass a Searcher's preloaded ``tomb`` snapshot to skip the read."""
    if stats is None:
        from .build import load_stats

        stats = load_stats(out_dir)
    committed = list(stats.get("committed_runs") or [])
    if tomb is None:
        tomb = load_tombstones(out_dir, stats)
    if not committed or not tomb:
        return set()
    segs_of = _base_to_segs(committed)
    tomb_sets = {r: set(int(i) for i in ids) for r, ids in tomb.items()}
    dead: set[int] = set()
    for did, row in rows.items():
        segs = segs_of.get(str(row.get("run"))) or committed
        if segs and all(did in tomb_sets.get(s, ()) for s in segs):
            dead.add(int(did))
    return dead


def drop_dead_store_rows(spark, out_dir: str, store, stats: dict | None = None):
    """Distributed twin of ``dead_lookup_ids`` over a (deduped) docstore
    scan: drop rows whose doc is fully deleted. One pass over the
    tombstone parquet (bounded, AQE broadcasts it) grouped per (doc_id,
    base run) and compared against the base's committed segment-run
    count; rows with an unrecognized run fall back to the
    all-committed-runs test. No-op (the unmodified plan) when the index
    has no tombstones."""
    from .build import load_stats

    if stats is None:
        stats = load_stats(out_dir)
    truns = stats.get("tombstone_runs") or []
    committed = sorted(stats.get("committed_runs") or [])
    tdir = _tomb_dir(out_dir)
    if not truns or not committed or not os.path.isdir(tdir):
        return store
    tomb = (
        spark.read.parquet(tdir)
        .where(F.col("trun").isin(truns))
        .where(F.col("run").isin(committed))
        .select("doc_id", "run")
        .distinct()
    )
    segs_of = _base_to_segs(committed)
    base_n = F.create_map(
        *[F.lit(x) for b, s in sorted(segs_of.items()) for x in (b, len(s))]
    )
    tomb_base = (
        tomb.withColumn("base", F.regexp_replace("run", r"-g\d+$", ""))
        .groupBy("doc_id", "base")
        .agg(F.countDistinct("run").alias("_nt"))
    )
    dead_pairs = (
        tomb_base.where(F.col("_nt") == base_n[F.col("base")])
        .select("doc_id", F.col("base").alias("run"))
    )
    dead_all = (
        tomb.groupBy("doc_id")
        .agg(F.countDistinct("run").alias("_nt"))
        .where(F.col("_nt") == len(committed))
        .select("doc_id")
    )
    # ONE docstore scan: two left joins against the (bounded, broadcast)
    # dead frames, then a single filter — a union of per-case anti-joins
    # would read the 100 TB store twice
    known = F.col("run").isin(sorted(segs_of))
    dp = dead_pairs.withColumn("_dp", F.lit(True))
    da = dead_all.withColumn("_da", F.lit(True))
    out = (
        store.join(F.broadcast(dp), ["doc_id", "run"], "left")
        .join(F.broadcast(da), ["doc_id"], "left")
        .where(
            ~(
                (known & F.coalesce(F.col("_dp"), F.lit(False)))
                | (~known & F.coalesce(F.col("_da"), F.lit(False)))
            )
        )
        .drop("_dp", "_da")
    )
    return out


def apply_tombstones(pdf: pd.DataFrame, tomb: dict[str, np.ndarray]) -> pd.DataFrame:
    """Block surgery: return ``pdf`` (a segment-block frame WITH its ``run``
    column) as if the tombstoned postings were never indexed. Blocks whose
    (run, min_doc..max_doc) cannot contain a dead doc pass through by a
    pure metadata test; touched blocks are decoded, dead postings dropped,
    and re-encoded with recomputed (n, min/max_doc, sum/max_tf, min_dl[,
    poss]) so block-max WAND stays exact. Emptied blocks are removed."""
    if not tomb or pdf is None or not len(pdf):
        return pdf
    if "run" not in pdf.columns:
        raise ValueError("apply_tombstones needs the run column on the block frame")
    runs = pdf["run"].to_numpy()
    min_d = pdf["min_doc"].to_numpy()
    max_d = pdf["max_doc"].to_numpy()
    # vectorized per-run interval test (compaction purges whole batches
    # through here): a block needs surgery iff its run has a tombstoned id
    # inside [min_doc, max_doc]
    need = np.zeros(len(pdf), dtype=bool)
    for run, ids in tomb.items():
        if not len(ids):
            continue
        sel = runs == run
        if not sel.any():
            continue
        j = np.searchsorted(ids, min_d[sel])
        inb = j < len(ids)
        hit = inb & (ids[np.minimum(j, len(ids) - 1)] <= max_d[sel])
        need[sel] = hit
    if not need.any():
        return pdf
    has_pos = "poss" in pdf.columns
    keep_rows = pdf[~need]
    rebuilt: list[dict] = []
    for row in pdf[need].itertuples(index=False):
        d = row._asdict()
        n = int(d["n"])
        docs = np.cumsum(varint_decode(d["docs"], n)).astype(np.int64)
        alive = ~_in_sorted(docs, tomb[d["run"]])
        if alive.all():
            rebuilt.append(d)  # range overlapped but no member — unchanged
            continue
        if not alive.any():
            continue  # whole block dead
        tf = varint_decode(d["tfs"], n).astype(np.int64)
        dl = varint_decode(d["dls"], n).astype(np.int64)
        d2, tf2, dl2 = docs[alive], tf[alive], dl[alive]
        gaps = np.empty_like(d2)
        gaps[0] = d2[0]
        gaps[1:] = np.diff(d2)
        d["docs"] = varint_encode_ex(gaps.astype(np.uint64))[0].tobytes()
        d["tfs"] = varint_encode_ex(tf2.astype(np.uint64))[0].tobytes()
        d["dls"] = varint_encode_ex(dl2.astype(np.uint64))[0].tobytes()
        if has_pos and d.get("poss") is not None:
            total = int(tf.sum())
            gaps_p = varint_decode(d["poss"], total)
            _, lens = varint_encode_ex(gaps_p.astype(np.uint64))
            off = np.concatenate(([0], np.cumsum(lens)))
            tf_cum = np.concatenate(([0], np.cumsum(tf)))
            d["poss"] = b"".join(
                d["poss"][off[tf_cum[i]] : off[tf_cum[i + 1]]]
                for i in range(n)
                if alive[i]
            )
        d["n"] = int(alive.sum())
        d["min_doc"] = int(d2[0])
        d["max_doc"] = int(d2[-1])
        d["sum_tf"] = int(tf2.sum())
        d["max_tf"] = int(tf2.max())
        d["min_dl"] = int(dl2.min())
        rebuilt.append(d)
    parts = [keep_rows] if len(keep_rows) else []
    if rebuilt:
        parts.append(pd.DataFrame(rebuilt, columns=list(pdf.columns)))
    if not parts:
        return pdf.iloc[0:0]
    return pd.concat(parts, ignore_index=True)


def n_tombstoned(out_dir: str, stats: dict | None = None) -> int:
    """Distinct dead doc count (operational metric for index_info)."""
    tomb = load_tombstones(out_dir, stats)
    if not tomb:
        return 0
    return int(len(np.unique(np.concatenate(list(tomb.values())))))
