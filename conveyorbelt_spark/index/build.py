"""Inverted-index build: tokenize → salted shuffle → compressed posting blocks.

The distributed re-expression of the half the reference delegates to
Elasticsearch (SURVEY.md §7 Phase 3; reference pushes raw docs via
NestBatchPusher.cs:47-98 and lets ES build the index — here we ARE the index).

Pipeline (all DataFrame ops + two Arrow kernels, no per-row Python):

  documents(url, text)
    → doc_id = xxhash64(url) >>> 1                (deterministic identity,
                                                   SURVEY §1.4)
    → pass 1: doc lengths + corpus stats           (cheap, no explode shuffle)
    → pass 2: (term, doc_id, tf, dl) tuples
    → bucket = top bits of doc_id                  (RANGE bucket: per-(term,
      bucket) posting runs are disjoint docID ranges, so the per-term merge
      is ordered block concatenation — no re-sort, no decode. This is the
      salt that defuses head-term skew: the reference's
      Modulo10MinuteTableShardScheduler.cs:13-28 pattern, but range-aligned.)
    → repartition(term, bucket) + sortWithinPartitions(term, bucket, doc_id)
    → block builder kernel: 128-doc blocks, delta-gap+varint docIDs,
      varint tf & dl, block-max score metadata
    → segments parquet partitioned by (term-hash bucket, run) — query-time
      partition pruning on ``tb``; ``run`` makes every write an idempotent
      dynamic-partition overwrite (a replayed/crashed run replaces its own
      partitions instead of duplicating blocks)
    → dictionary parquet (per-run deltas, merged on read), per-(run, bucket)
      lineage manifest carrying the doc-count/token ledger that stats.json
      is derived from.

Commit protocol (reference analogue: LastOffsetPoint advanced only
after push, MinuteTableShardScheduler.cs:44):
  segments (overwrite run=R) → dictionary delta (overwrite run=R) →
  manifest rows for R (append = THE commit) → stats.json (derived from
  manifest, self-healing on replay).
A crash anywhere before the manifest append leaves only uncommitted
``run=R`` partitions, which the next attempt overwrites (streaming) or the
resume path deletes (batch) — no duplicated postings, no double-counted
stats in either crash window.

Scale notes (100 TB / 10^12 docs): the only wide shuffle is (term, bucket);
bucket count bounds per-task skew for stopword-grade terms (df ~ N) at
N_postings/n_buckets, and n_buckets scales with cluster size without
changing file layout. Pass 1 is a narrow scan. Dictionary aggregation reads
only block metadata columns (column pruning keeps the binary columns out).
Incremental batches do O(delta) work: the manifest/dictionary/stats updates
all derive from the batch's own pruned ``run=R`` partitions, never from a
re-read of the whole index (the per-run partition count grows until
``compact_segments`` folds the deltas back into one run).
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import shutil
import time
import uuid
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as pds
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F  # noqa: N812

from ..functions.codecs import varint_encode_ex
from ..functions.tokenize import tokenize_to_postings, tokenize_to_postings_pos, with_doc_id
from ..textutils import BM25_B, BM25_K1, TOKEN_RE

BLOCKS_SCHEMA = (
    "term string, bucket int, blk int, n int, min_doc long, max_doc long, "
    "sum_tf long, max_tf long, min_dl long, docs binary, tfs binary, dls binary"
)
BLOCKS_POS_SCHEMA = BLOCKS_SCHEMA + ", poss binary"
DEFAULT_N_BUCKETS = 16
DEFAULT_BLOCK_SIZE = 128
DEFAULT_TERM_BUCKETS = 64


# the block-reorg exchange is skipped when the corpus is small enough that
# the builder stage's AQE-coalesced task count is ~n_term_buckets or less
# (postings bytes ≈ docs × a few hundred B vs AQE's 1 MB min partition →
# ~1250 docs of postings per task), so files-per-tb-dir stays a handful
# without the extra shuffle
_REORG_DOCS_PER_BUCKET = 1250


def _adaptive_term_buckets(n_docs: int) -> int:
    """Scale the term-hash bucket count with corpus size instead of pinning
    it to one constant (guide §2: partitioning must be derived from input
    size, not tuned to a fixed cluster).  Target ~2.5k docs of postings per
    bucket, power of two, floor 8, capped at DEFAULT_TERM_BUCKETS (the
    explicit ``n_term_buckets`` argument overrides it).  Query-side pruning
    reads the chosen value from stats.json, so any value is self-consistent."""
    b = 8
    while b < DEFAULT_TERM_BUCKETS and n_docs > b * 2500:
        b *= 2
    return b


def _bucket_col(n_buckets: int):
    """Range bucket = top log2(n_buckets) bits of the non-negative doc_id."""
    bits = int(np.log2(n_buckets))
    assert 2**bits == n_buckets, "n_buckets must be a power of two"
    return F.shiftrightunsigned(F.col("doc_id"), 63 - bits).cast("int")


def _dyn_overwrite(df: DataFrame, path: str, partition_cols: tuple[str, ...]) -> None:
    """Idempotent write: dynamic partition overwrite replaces exactly the
    partitions present in ``df`` (this run's), leaving other runs intact."""
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_cols)
        .parquet(path)
    )


def _run_dirs(root: str) -> list[tuple[str, str]]:
    """[(dir, run_value)] for every run=... partition directory under root."""
    out = []
    for d in glob.glob(os.path.join(root, "**", "run=*"), recursive=True):
        if os.path.isdir(d):
            out.append((d, os.path.basename(d).split("=", 1)[1]))
    return out


def _clean_uncommitted_runs(root: str, committed: set[str]) -> int:
    """Delete run partitions that have no manifest commit (the crash window
    between a segment write and its manifest append). Returns dirs removed."""
    n = 0
    for d, run_val in _run_dirs(root):
        if run_val not in committed:
            shutil.rmtree(d)
            n += 1
    return n


MANIFEST_SCHEMA = pa.schema(
    [
        ("bucket", pa.int32()),
        ("n_terms", pa.int64()),
        ("n_blocks", pa.int64()),
        ("n_postings", pa.int64()),
        ("checksum", pa.int64()),
        ("sum_dl", pa.int64()),
        ("n_docs", pa.int64()),
        ("committed_at", pa.timestamp("ns")),
        ("run_id", pa.string()),
        ("run", pa.string()),
    ]
)
_BLOCK_COUNTS = ("n_terms", "n_blocks", "n_postings", "checksum")


def _delta_manifest_rows(delta_blocks: DataFrame) -> list:
    """One per-bucket metadata aggregation over a run's blocks — the
    collectable half of the manifest commit (≤ n_buckets rows), checksum
    over block METADATA only (no read of the binary posting columns).
    ``sum_dl`` = Σ sum_tf over main-field blocks (keyword/extra-field
    postings excluded: keyword tf is 0 and extra analyzed fields keep
    their own length stats)."""
    return (
        delta_blocks.groupBy("bucket")
        .agg(
            F.countDistinct("term").alias("n_terms"),
            F.count("*").alias("n_blocks"),
            F.sum("n").alias("n_postings"),
            F.sum(
                F.crc32(F.concat_ws("|", "term", "blk", "n", "min_doc", "max_doc"))
            ).alias("checksum"),
            F.sum(
                F.when(
                    ~F.col("term").contains(KEYWORD_SEP), F.col("sum_tf")
                ).otherwise(F.lit(0))
            ).alias("sum_dl"),
        )
        .collect()
    )


def _manifest_for_run(
    delta_rows: list, ledger: dict[int, tuple[int, int]], run_id: str, run_val: str,
) -> list[dict]:
    """Per-bucket lineage rows for one run: its block aggregates
    (``_delta_manifest_rows``) beside its doc ledger ``{bucket: (n_docs,
    sum_dl)}``. A bucket in either side gets a row, zeros where the other
    side has none; ``n_docs``/``sum_dl`` feed the stats.json derivation
    (Σ over committed manifest rows)."""
    blk = {int(r["bucket"]): r for r in delta_rows}
    now = time.time()
    rows = []
    for bkt in sorted(set(blk) | set(ledger)):
        a = blk.get(bkt)
        n_docs, sum_dl = ledger.get(bkt, (0, 0))
        rows.append(
            {
                **{c: int(a[c]) if a else 0 for c in _BLOCK_COUNTS},
                "bucket": bkt,
                "sum_dl": int(sum_dl),
                "n_docs": int(n_docs),
                "committed_at": now,
                "run_id": run_id,
                "run": run_val,
            }
        )
    return rows


def _fold_markers(run_ids, run_val: str) -> list[dict]:
    """bucket=-1 zero rows keeping folded run_ids known to
    ``_committed_runs`` (a replayed foreachBatch epoch stays a no-op after
    a compaction) without counting toward stats."""
    now = time.time()
    return [
        {**dict.fromkeys(_BLOCK_COUNTS + ("sum_dl", "n_docs"), 0),
         "bucket": -1, "committed_at": now, "run_id": rid, "run": run_val}
        for rid in sorted(run_ids)
    ]


def _manifest_table(rows: list[dict]) -> pa.Table:
    """Manifest rows (``committed_at`` in epoch seconds) → an Arrow table."""
    arrays = []
    for field in MANIFEST_SCHEMA:
        vals = [r[field.name] for r in rows]
        if field.name == "committed_at":
            vals = [int(v * 1e9) for v in vals]
        arrays.append(pa.array(vals, type=field.type))
    return pa.Table.from_arrays(arrays, schema=MANIFEST_SCHEMA)


def _write_manifest_file(man_dir: str, tbl: pa.Table) -> None:
    """One parquet part file, int96 timestamps (the Spark writer's
    encoding, so older Spark-written manifests read back alongside)."""

    os.makedirs(man_dir, exist_ok=True)
    path = os.path.join(man_dir, f"part-{uuid.uuid4().hex}.parquet")
    pq.write_table(tbl, path, use_deprecated_int96_timestamps=True)


def _append_manifest(man_dir: str, rows: list[dict]) -> None:
    """THE commit of a build group or batch: the manifest has one
    driver-side writer — the ledger is runs × buckets rows, tiny — so a
    commit is one parquet file appended with pyarrow."""
    _write_manifest_file(man_dir, _manifest_table(rows))


def _read_manifest(man_dir: str, columns: list[str] | None = None) -> pa.Table:
    """The committed manifest ledger as one Arrow table (empty when no part
    file exists: an empty first batch writes none). Read errors on real
    files — permissions, corruption — surface rather than read as empty."""
    if os.path.isdir(man_dir):
        dset = pds.dataset(man_dir, format="parquet")
        if dset.files:
            return dset.to_table(columns=columns or MANIFEST_SCHEMA.names)
    empty = MANIFEST_SCHEMA.empty_table()
    return empty.select(columns) if columns else empty


def _compacting(live: str) -> str:
    """Fresh ``<live>_compacting`` dir path for a rebuilt copy of ``live``
    (a crashed attempt's leftover is removed)."""
    tmp = live + "_compacting"
    if os.path.isdir(tmp):
        shutil.rmtree(tmp)
    return tmp


def _swap_in(tmp: str, live: str) -> str:
    """Rename-swap a rebuilt tree into place — NOT one atomic rename: posix
    can't rename onto a non-empty dir, so ``live`` moves aside to
    ``<live>_old`` first. Returns that path; the caller deletes it once the
    new tree is verified (a crash between the renames leaves it intact
    for manual recovery)."""
    old = live + "_old"
    if os.path.isdir(old):
        shutil.rmtree(old)
    os.rename(live, old)
    os.rename(tmp, live)
    return old


def _rewrite_manifest(out_dir: str, drop_runs, rows: list[dict]) -> None:
    """THE commit of a compaction: the manifest becomes its rows outside
    ``drop_runs`` (None drops all) plus ``rows``, written to
    ``manifest_compacting`` and swapped in by rename (a crash before the
    swap leaves the old manifest live)."""

    man_dir = os.path.join(out_dir, "manifest")
    keep = _read_manifest(man_dir)
    if drop_runs is None:
        keep = keep.slice(0, 0)
    else:
        keep = keep.filter(pc.invert(pc.is_in(keep["run"], pa.array(sorted(drop_runs), pa.string()))))
    tbl = pa.concat_tables(
        [keep.select(MANIFEST_SCHEMA.names).cast(MANIFEST_SCHEMA), _manifest_table(rows)]
    )
    man_tmp = _compacting(man_dir)
    _write_manifest_file(man_tmp, tbl)
    shutil.rmtree(_swap_in(man_tmp, man_dir))


def _run_recency(out_dir: str, runs: list[str]) -> dict[str, float]:
    """Run name → epoch seconds of its newest commit: the manifest's max
    committed_at per run_id; a ``storefold-<epoch_us>-<hash>`` docstore run
    carries its epoch in the name instead."""
    ts: dict[str, float] = {}
    pdf = _read_manifest(
        os.path.join(out_dir, "manifest"), ["run_id", "committed_at"]
    ).to_pandas()
    if len(pdf):
        for r, t in pdf.groupby("run_id")["committed_at"].max().items():
            ts[str(r)] = t.timestamp() if hasattr(t, "timestamp") else float(t)
    for r in runs:
        fts = _storefold_ts(r)
        if fts is not None:
            ts[r] = fts
    return ts


def refresh_stats(spark: SparkSession, out_dir: str, defaults: dict | None = None) -> dict:
    """Derive stats.json from the committed manifest ledger (tiny read):
    n_docs = Σ per-run-per-bucket doc counts, total_tokens = Σ sum_dl.
    Exact while runs ingest disjoint docs; a re-ingested doc drifts the
    totals until ``compact_segments`` recounts from doclens. Config knobs
    come from the existing stats.json (or ``defaults`` on first write)."""
    stats_path = os.path.join(out_dir, "stats.json")
    keys = ("k1", "b", "n_buckets", "block_size", "n_term_buckets", "positions", "analyzer")
    fallback = {"positions": False, "analyzer": None}
    cfg: dict = {}
    if os.path.exists(stats_path):
        with open(stats_path) as f:
            prev = json.load(f)
        cfg = {k: prev.get(k, fallback.get(k)) for k in keys}
    elif defaults:
        cfg = {k: defaults.get(k, fallback.get(k)) for k in keys}
    tbl = _read_manifest(os.path.join(out_dir, "manifest"), ["run", "bucket", "n_docs", "sum_dl"])
    n_docs = int(pc.sum(tbl.column("n_docs")).as_py() or 0)
    total_tokens = int(pc.sum(tbl.column("sum_dl")).as_py() or 0)
    # the committed-run set IS the read snapshot: query paths scan only
    # these run partitions, so uncommitted/orphaned partitions (mid-write
    # batches, tiered-compaction leftovers) are invisible — exact df/scores
    # across every crash window. Bounded by the compaction cadence (fold
    # marker rows, bucket<0, excluded).
    bk = tbl.column("bucket").to_numpy(zero_copy_only=False)
    runs = tbl.column("run").to_pylist()
    committed_runs = sorted({r for r, b in zip(runs, bk) if b >= 0})
    stats = {
        "n_docs": n_docs,
        "total_tokens": total_tokens,
        "avgdl": total_tokens / n_docs if n_docs else 0.0,
        "committed_runs": committed_runs,
        **cfg,
    }
    # deletes survive stats refreshes: the tombstone snapshot is index
    # state, not a derived quantity (compaction clears it explicitly)
    if os.path.exists(stats_path):
        with open(stats_path) as f:
            old = json.load(f)
        if old.get("tombstone_runs"):
            stats["tombstone_runs"] = old["tombstone_runs"]
    os.makedirs(out_dir, exist_ok=True)
    with open(stats_path, "w") as f:
        json.dump(stats, f, indent=2)
    return stats


def _doclens_kernel(batches):
    """Pass-1 kernel: token count per doc (no explode — cheap)."""
    for pdf in batches:
        toks = pdf["text"].str.lower().str.findall(TOKEN_RE)
        yield pd.DataFrame(
            {"doc_id": pdf["doc_id"].astype("int64"), "dl": toks.str.len().astype("int64")}
        )


KEYWORD_SEP = ":"  # not a TOKEN_RE character — keyword terms can't collide with text terms


def keyword_term(field: str, value) -> str:
    """The indexed term for an exact (not analyzed) keyword field value —
    the Lucene/ES keyword-field design: filters are postings intersections,
    never docstore scans. Values compare as strings; encode numerics with
    ``sortable_int`` so range filters order correctly."""
    return f"{field}{KEYWORD_SEP}{value}"


def sortable_int(n: int, width: int = 12) -> str:
    """Zero-padded encoding whose string order equals numeric order for
    0 ≤ n < 10^width (use for numeric keyword fields and range filters)."""
    if n < 0:
        raise ValueError("sortable_int encodes non-negative ints only")
    return str(int(n)).zfill(width)


def sortable_int_col(col, width: int = 12):
    """Spark-column twin of ``sortable_int``."""
    return F.lpad(F.col(col).cast("long").cast("string"), width, "0")


def keyword_postings(
    docs: DataFrame, keyword_cols, positions: bool = False,
) -> DataFrame:
    """(doc_id, term=field:value, tf=0, dl=0) rows for each keyword column —
    pure JVM expressions, no shuffle of their own (they ride the tokenize
    shuffle). tf=0 keeps every corpus-stat invariant intact (sum_dl = Σ tf,
    BM25 weight 0); keyword terms are filter-context only and never score.
    A column may also be given as ("name", column_expression) to index a
    derived value (e.g. a sortable day string from a timestamp)."""
    parts = []
    for kc in keyword_cols:
        name, expr = kc if isinstance(kc, tuple) else (kc, F.col(kc).cast("string"))
        one = docs.where(expr.isNotNull()).select(
            "doc_id",
            F.concat(F.lit(name + KEYWORD_SEP), expr.cast("string")).alias("term"),
            F.lit(0).cast("long").alias("tf"),
            F.lit(0).cast("long").alias("dl"),
        )
        parts.append(one)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    if positions:
        out = out.withColumn("posb", F.lit(bytearray(b"")).cast("binary"))
    return out


def field_postings(
    docs: DataFrame, field_cols, positions: bool = False,
    analyzer: dict | None = None,
) -> DataFrame:
    """Analyzed ADDITIONAL-field postings (ES multi-field mappings: the
    reference's analyzed columns beyond the main text, e.g. csUriStem in
    mappings/AzureIisLog.json): each extra column is tokenized like text
    and indexed under ``field:token`` terms carrying the FIELD's own tf and
    dl — per-field BM25 falls out of the ordinary machinery because the
    namespaced terms have their own df/cf in the dictionary. The main text
    column stays unprefixed (back-compatible single-field queries)."""
    tokenizer = tokenize_to_postings_pos if positions else tokenize_to_postings
    parts = []
    for fc in field_cols:
        name, expr = fc if isinstance(fc, tuple) else (fc, F.col(fc).cast("string"))
        sub = docs.select("doc_id", expr.cast("string").alias("text"))
        toks = tokenizer(sub, "doc_id", "text", analyzer=analyzer)
        toks = toks.withColumn(
            "term", F.concat(F.lit(name + KEYWORD_SEP), F.col("term"))
        )
        parts.append(toks)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _make_block_builder(block_size: int, with_positions: bool = False):
    """Kernel: sorted (term,bucket,doc_id) runs → compressed posting blocks.
    ``with_positions`` carries each posting's pre-encoded position bytes
    (``posb`` from the positional tokenizer) into a per-block ``poss``
    concatenation — decodable because position COUNTS are the tfs.

    Receives Arrow batches in partition-sort order; a (term,bucket) group may
    span batches, so the tail group is carried between batches — memory is
    bounded by one group's bucket slice, which the range bucketing bounds.

    Block-max metadata is (max_tf, min_dl), NOT a precomputed score: the
    BM25 weight is monotone increasing in tf and decreasing in dl, so
    w(max_tf, min_dl, avgdl) evaluated at QUERY time is a valid per-block
    upper bound — which means the build needs no corpus-stats pre-pass at
    all (avgdl is derived after the fact from dictionary cf totals).
    """

    def encode_groups(pdf: pd.DataFrame) -> pd.DataFrame:
        docs = pdf["doc_id"].to_numpy().astype(np.uint64)
        tfs = pdf["tf"].to_numpy().astype(np.uint64)
        dls = pdf["dl"].to_numpy().astype(np.uint64)
        terms = pdf["term"].to_numpy()
        buckets = pdf["bucket"].to_numpy()
        posb = pdf["posb"].to_numpy() if with_positions else None

        # drop duplicate doc_ids within a (term,bucket) run (dup urls):
        # rows are sorted, so dups are adjacent — keep the first (lowest
        # tf/dl, deterministic via the sort key). This replaces a full-text
        # dropDuplicates shuffle upstream.
        first = np.ones(len(pdf), dtype=bool)
        first[1:] = (
            (terms[1:] != terms[:-1]) | (buckets[1:] != buckets[:-1]) | (docs[1:] != docs[:-1])
        )
        if not first.all():
            docs, tfs, dls = docs[first], tfs[first], dls[first]
            terms, buckets = terms[first], buckets[first]
            if posb is not None:
                posb = posb[first]
            pdf = pdf[first]

        # group starts where (term, bucket) changes
        new_grp = np.ones(len(pdf), dtype=bool)
        new_grp[1:] = (terms[1:] != terms[:-1]) | (buckets[1:] != buckets[:-1])
        grp_id = np.cumsum(new_grp) - 1
        grp_start_idx = np.flatnonzero(new_grp)
        pos_in_grp = np.arange(len(pdf)) - grp_start_idx[grp_id]
        blk_in_grp = pos_in_grp // block_size

        # block starts: new group or block_size boundary
        new_blk = new_grp | (pos_in_grp % block_size == 0)
        blk_starts = np.flatnonzero(new_blk)
        blk_ends = np.empty_like(blk_starts)
        blk_ends[:-1] = blk_starts[1:] - 1
        blk_ends[-1] = len(pdf) - 1
        n_per_blk = blk_ends - blk_starts + 1

        # delta-gap docIDs with restart at each block start (block first
        # docID absolute → blocks independently decodable)
        gaps = np.empty_like(docs)
        gaps[1:] = docs[1:] - docs[:-1]
        gaps[blk_starts] = docs[blk_starts]

        doc_buf, doc_len = varint_encode_ex(gaps)
        tf_buf, tf_len = varint_encode_ex(tfs)
        dl_buf, dl_len = varint_encode_ex(dls)

        max_tf = np.maximum.reduceat(tfs.astype(np.int64), blk_starts)
        min_dl = np.minimum.reduceat(dls.astype(np.int64), blk_starts)
        sum_tf = np.add.reduceat(tfs.astype(np.int64), blk_starts)

        doc_off = np.concatenate(([0], np.cumsum(doc_len)))
        tf_off = np.concatenate(([0], np.cumsum(tf_len)))
        dl_off = np.concatenate(([0], np.cumsum(dl_len)))
        doc_bytes_all = doc_buf.tobytes()
        tf_bytes_all = tf_buf.tobytes()
        dl_bytes_all = dl_buf.tobytes()

        rows = {
            "term": terms[blk_starts],
            "bucket": buckets[blk_starts].astype("int32"),
            "blk": blk_in_grp[blk_starts].astype("int32"),
            "n": n_per_blk.astype("int32"),
            "min_doc": docs[blk_starts].astype("int64"),
            "max_doc": docs[blk_ends].astype("int64"),
            "sum_tf": sum_tf,
            "max_tf": max_tf,
            "min_dl": min_dl,
            "docs": [
                doc_bytes_all[doc_off[s] : doc_off[e + 1]]
                for s, e in zip(blk_starts, blk_ends)
            ],
            "tfs": [
                tf_bytes_all[tf_off[s] : tf_off[e + 1]] for s, e in zip(blk_starts, blk_ends)
            ],
            "dls": [
                dl_bytes_all[dl_off[s] : dl_off[e + 1]] for s, e in zip(blk_starts, blk_ends)
            ],
        }
        if posb is not None:
            rows["poss"] = [
                b"".join(posb[s : e + 1]) for s, e in zip(blk_starts, blk_ends)
            ]
        return pd.DataFrame(rows)

    def run(batches):
        carry: pd.DataFrame | None = None
        for pdf in batches:
            if carry is not None and len(carry):
                pdf = pd.concat([carry, pdf], ignore_index=True)
            if not len(pdf):
                continue
            # hold back the last (term, bucket) group — it may continue in
            # the next batch
            last_term = pdf["term"].iloc[-1]
            last_bucket = pdf["bucket"].iloc[-1]
            tail = (pdf["term"] == last_term) & (pdf["bucket"] == last_bucket)
            carry = pdf[tail]
            head = pdf[~tail]
            if len(head):
                yield encode_groups(head)
        if carry is not None and len(carry):
            yield encode_groups(carry)

    return run


def _normalise_docs(
    docs: DataFrame, url_col: str | None, text_col: str, keyword_cols, field_cols,
) -> tuple[DataFrame, list, list]:
    """The build input shape: (doc_id, text, __kw_<name>..., __ff_<name>...).
    Keyword and field expressions resolve against the FULL input row, then
    ride the narrowing select as materialized columns. Returns that frame
    plus the (name, column) pairs ``keyword_postings``/``field_postings``
    take. ``url_col=None``: the input already carries a stable doc_id."""

    def resolve(cols, prefix):
        pairs = [c if isinstance(c, tuple) else (c, F.col(c).cast("string")) for c in cols]
        return (
            [expr.cast("string").alias(f"{prefix}{name}") for name, expr in pairs],
            [(name, F.col(f"{prefix}{name}")) for name, _ in pairs],
        )

    kw_sel, kw_cols = resolve(keyword_cols, "__kw_")
    ff_sel, ff_cols = resolve(field_cols, "__ff_")
    base = with_doc_id(docs, url_col) if url_col else docs
    return base.select("doc_id", F.col(text_col).alias("text"), *kw_sel, *ff_sel), kw_cols, ff_cols


def _tag_run(blocks: DataFrame, n_term_buckets: int, run_val: str) -> DataFrame:
    return blocks.withColumn(
        "tb", F.pmod(F.xxhash64("term"), F.lit(n_term_buckets)).cast("int")
    ).withColumn("run", F.lit(run_val))


def _reorg(blocks: DataFrame, n_term_buckets: int) -> DataFrame:
    """Second (small) shuffle of the already-compressed blocks so each
    term-hash dir gets one file instead of one per upstream task — shuffle
    volume = compressed index size, a fraction of the raw tokenize shuffle;
    term-sorted row groups let parquet min/max stats prune term lookups."""
    return blocks.repartition(n_term_buckets, "tb").sortWithinPartitions("term", "bucket", "blk")


def _run_blocks(
    docs: DataFrame, kw_cols: list, ff_cols: list, run_val: str, *,
    n_buckets: int, block_size: int, n_term_buckets: int, positions: bool,
    analyzer: dict | None,
) -> DataFrame:
    """Normalised docs → one run's posting blocks, tagged with tb and run,
    BEFORE any block reorg (each caller owns its reorg rule): tokenize (+
    keyword and analyzed-field postings, same analyzer as the text) →
    range bucket → (term, bucket) shuffle — the one wide shuffle — sorted
    by (term, bucket, doc_id, tf, dl) so duplicate doc_ids keep-first
    deterministically, matching the compaction sort → block builder."""
    tokenizer = tokenize_to_postings_pos if positions else tokenize_to_postings
    tokens = tokenizer(docs, "doc_id", "text", analyzer=analyzer)
    if kw_cols:
        tokens = tokens.unionByName(keyword_postings(docs, kw_cols, positions))
    if ff_cols:
        tokens = tokens.unionByName(field_postings(docs, ff_cols, positions, analyzer=analyzer))
    blocks = (
        tokens.withColumn("bucket", _bucket_col(n_buckets))
        .repartition("term", "bucket")
        .sortWithinPartitions("term", "bucket", "doc_id", "tf", "dl")
        .mapInPandas(
            _make_block_builder(block_size, with_positions=positions),
            schema=BLOCKS_POS_SCHEMA if positions else BLOCKS_SCHEMA,
        )
    )
    return _tag_run(blocks, n_term_buckets, run_val)


class _Overlap(ThreadPoolExecutor):
    """Driver threads running Spark work that is independent of the
    caller's next jobs, so the two overlap (guide §2.6: back-fill executors
    freed by another job's tail). Leaving the ``with`` block waits for
    every submitted call — whether the block ends normally or raises — so
    no background Spark work outlives a failed build or commit; on a clean
    exit the first failed call re-raises."""

    def __init__(self) -> None:
        super().__init__()
        self._futs: list = []

    def submit(self, fn, /, *args, **kwargs):
        fut = super().submit(fn, *args, **kwargs)
        self._futs.append(fut)
        return fut

    def __exit__(self, exc_type, exc, tb):
        super().__exit__(exc_type, exc, tb)
        if exc_type is None:
            for fut in self._futs:
                fut.result()
        return False


def build_index(
    spark: SparkSession,
    docs: DataFrame,
    out_dir: str,
    *,
    url_col: str = "url",
    text_col: str = "text",
    n_buckets: int = DEFAULT_N_BUCKETS,
    block_size: int = DEFAULT_BLOCK_SIZE,
    n_term_buckets: int | None = None,
    k1: float = BM25_K1,
    b: float = BM25_B,
    commit_groups: int = 1,
    resume: bool = False,
    run_id: str = "full",
    store_docs: bool = False,
    store_cols: tuple = (),
    positions: bool = False,
    keyword_cols: tuple = (),
    field_cols: tuple = (),
    analyzer: dict | None = None,
    fuzzy_deletes: bool | dict = False,
) -> dict:
    """Build the full index under ``out_dir``. Returns the stats dict.

    ``fuzzy_deletes=True`` (or a {"max_edits", "n_buckets"} dict) also
    builds the SymSpell k-deletes sidecar so ``prefix_length=0`` fuzzy
    queries probe hash buckets instead of scanning the dictionary; kept in
    step by refresh_dictionary / incremental deltas thereafter.

    ``analyzer`` opts into the ES-custom-analyzer chain
    ({"stopwords": "english"|[...], "min_len": n, "stem": "s"}) applied
    vectorized at build AND automatically to queries (persisted in
    stats.json — index and query agree by construction). Composes with
    ``positions`` via Lucene position-increment gaps: a removed stopword
    leaves a hole in the position stream rather than shifting later
    tokens, and the query side (``analyze_with_slots``) matches phrases on
    the same original-slot offsets.

    ``keyword_cols`` names columns (or ("name", expr) pairs) indexed as
    exact keyword terms (``field:value``, tf=0) for ES filter-context
    queries — see ``keyword_postings``. ``field_cols`` names columns
    ANALYZED as additional searchable fields (``field:token`` postings with
    per-field tf/dl) for multi_match queries — see ``field_postings``.

    ``commit_groups`` splits the doc-id bucket space into sequential commit
    units: each unit's segment files are written *before* its manifest rows
    (the reference's offset-after-push ordering,
    MinuteTableShardScheduler.cs:44). ``resume=True`` skips buckets whose
    manifest rows already exist AND deletes segment run-partitions that were
    written without a manifest commit (the crash window between the segment
    write and the manifest append), so re-running a killed build yields
    identical segments with no duplicated blocks (tests/test_resume.py).
    A resume hashes terms with the bucket count the committed groups
    used: ``layout.json`` records it before the first commit group and is
    deleted once stats.json holds it; a resume without ``n_term_buckets``
    reads it from there, and one passing a different value raises
    ValueError.
    """
    # NO dropDuplicates here: a global dedup would shuffle the full text
    # twice. Duplicate urls are removed where they're already adjacent —
    # doclens via a (doc_id → min dl) agg, postings inside the sorted block
    # builder — so the only wide shuffle over text-derived data is the
    # (term, bucket) tokenize shuffle itself.
    from ..textutils import analyzer_config

    analyzer = analyzer_config(analyzer)
    docs_in = docs
    docs, kw_cols, ff_cols = _normalise_docs(docs, url_col, text_col, keyword_cols, field_cols)

    seg_dir = os.path.join(out_dir, "segments")
    man_dir = os.path.join(out_dir, "manifest")
    layout_path = os.path.join(out_dir, "layout.json")
    done: set[int] = set()
    committed_tb = None  # the term-hash bucket count of the committed groups
    if resume and os.path.isdir(man_dir):
        man_prev = _read_manifest(man_dir, ["bucket", "run"])
        done = set(man_prev.column("bucket").to_pylist())
        for p in (os.path.join(out_dir, "stats.json"), layout_path):
            if os.path.exists(p):
                with open(p) as f:
                    committed_tb = json.load(f).get("n_term_buckets", DEFAULT_TERM_BUCKETS)
                break
        if n_term_buckets is not None and committed_tb not in (None, n_term_buckets):
            raise ValueError(
                f"resume with n_term_buckets={n_term_buckets}, but the committed "
                f"groups of {out_dir} hash terms into {committed_tb}"
            )
        _clean_uncommitted_runs(seg_dir, set(man_prev.column("run").to_pylist()))
    else:
        for sub in ("segments", "manifest", "dictionary", "doclens"):
            p = os.path.join(out_dir, sub)
            if os.path.isdir(p):
                shutil.rmtree(p)
        for name in ("stats.json", "layout.json"):
            p = os.path.join(out_dir, name)
            if os.path.exists(p):
                os.remove(p)  # a stale config must not outlive its index

    with _Overlap() as bg:
        # the docstore is independent of every index artifact — its
        # scan+write overlaps the build's jobs
        docstore_fut = None
        if store_docs or store_cols:
            docstore_fut = bg.submit(
                write_docstore, spark, docs_in, out_dir, run_id, url_col,
                extra_cols=store_cols, n_buckets=n_buckets,
            )

        bucket_expr = _bucket_col(n_buckets)

        # ---- pass 1: per-bucket distinct doc counts (JVM-only agg over doc
        # ids; buckets partition the id space so Σ = N — no tokenize
        # pre-pass, avgdl falls out of the manifest's sum_dl ledger)
        bstats = {
            int(r["bucket"]): int(r["nd"])
            for r in docs.groupBy(bucket_expr.alias("bucket"))
            .agg(F.countDistinct("doc_id").alias("nd"))
            .collect()
        }

        total_docs = sum(bstats.values())
        if n_term_buckets is None:
            # resuming must hash terms like the groups already committed;
            # otherwise derive the term-hash bucket count from the corpus
            # size pass 1 just gave us (guide §2: scale-adaptive
            # partitioning)
            n_term_buckets = (
                committed_tb if committed_tb is not None
                else _adaptive_term_buckets(total_docs)
            )
        # stats.json lands only when the build finishes: until then this
        # records the count for a resume
        os.makedirs(out_dir, exist_ok=True)
        with open(layout_path, "w") as f:
            json.dump({"n_term_buckets": n_term_buckets}, f)

        # ---- pass 2: postings → blocks, committed bucket-group at a time
        all_buckets = [bkt for bkt in range(n_buckets) if bkt not in done]
        groups = [
            all_buckets[i :: commit_groups] for i in range(commit_groups)
        ] if commit_groups > 1 else [all_buckets]
        groups = [g for g in groups if g]

        dict_fut = None
        for gi, group in enumerate(groups):
            run_val = f"{run_id}-g{min(group)}"
            # pre-filter docs BY DOC-ID RANGE before tokenizing, so c commit
            # groups tokenize each doc once, not c times (bucket = top bits)
            docs_g = docs.where(bucket_expr.isin(group)) if len(group) < n_buckets else docs
            blocks = _run_blocks(
                docs_g, kw_cols, ff_cols, run_val, n_buckets=n_buckets,
                block_size=block_size, n_term_buckets=n_term_buckets,
                positions=positions, analyzer=analyzer,
            )
            # Input-size-adaptive reorg (guide §2.4 — remove shuffles
            # outright): below the threshold AQE has already coalesced the
            # builder stage to ~n_term_buckets tasks or fewer, so the per-tb
            # file count is tiny without the extra exchange (the builder's
            # output is still (term,bucket,blk)-sorted within each task,
            # keeping parquet min/max pruning intact). Larger corpora keep
            # it: one file per tb dir is what the serving path's footer
            # probes are sized for.
            if total_docs > n_term_buckets * _REORG_DOCS_PER_BUCKET:
                blocks = _reorg(blocks, n_term_buckets)
            _dyn_overwrite(blocks, seg_dir, ("tb", "run"))
            if gi == len(groups) - 1:
                # every group's segments are on disk — the full-dictionary
                # refresh (segments scan → dictionary + term_index) is
                # independent of the manifest commit below. A dictionary
                # without the last manifest row is exactly what the resume
                # path already rebuilds.
                dict_fut = bg.submit(refresh_dictionary, spark, out_dir, n_term_buckets)
            # manifest AFTER segment write (commit ordering); aggregates
            # come from THIS run's partitions only (pruned read). sum_dl per
            # bucket = Σ tf over kept MAIN-field postings (= Σ doc lengths,
            # every text token lands in exactly one posting).
            delta_rows = _delta_manifest_rows(
                spark.read.parquet(seg_dir).where(F.col("run") == run_val)
            )
            sum_dl = {int(r["bucket"]): int(r["sum_dl"]) for r in delta_rows}
            ledger = {bkt: (bstats.get(bkt, 0), sum_dl.get(bkt, 0)) for bkt in group}
            _append_manifest(man_dir, _manifest_for_run(delta_rows, ledger, run_id, run_val))

        if dict_fut is not None:
            dict_fut.result()
        else:  # no groups ran (fully-resumed build): refresh synchronously
            refresh_dictionary(spark, out_dir, n_term_buckets)

        stats = refresh_stats(
            spark,
            out_dir,
            defaults={
                "k1": k1,
                "b": b,
                "n_buckets": n_buckets,
                "block_size": block_size,
                "n_term_buckets": n_term_buckets,
                "positions": positions,
                "analyzer": analyzer,
            },
        )
        os.remove(layout_path)  # stats.json records the count now
        if fuzzy_deletes:
            kw = fuzzy_deletes if isinstance(fuzzy_deletes, dict) else {}
            enable_fuzzy_deletes(spark, out_dir, **kw)
        if docstore_fut is not None:
            docstore_fut.result()  # surface any docstore failure before returning
    return stats


def write_docstore(
    spark: SparkSession,
    docs: DataFrame,
    out_dir: str,
    run_val: str = "full",
    url_col: str = "url",
    *,
    extra_cols: tuple[str, ...] = (),
    n_buckets: int | None = None,
) -> None:
    """(doc_id → url [+ extra columns]) sidecar, bucket-partitioned by the
    doc-id top bits so a search result's ids resolve with a partition-pruned
    read (the ES '_source' half: the reference's users get documents back,
    not internal ids). Run-keyed like every other artifact — idempotent
    overwrite, O(delta) for incremental batches. ``n_buckets`` skips the
    stats.json read (lets build_index overlap the docstore write with the
    index build, before stats.json exists)."""
    stats = {"n_buckets": n_buckets} if n_buckets else load_stats(out_dir)
    # url_col=None → input already carries doc_id (keep a url column if one
    # exists so search_docs still resolves something human-readable)
    base = with_doc_id(docs, url_col) if url_col else docs
    url_expr = (
        F.col(url_col).alias("url")
        if url_col
        else (F.col("url") if "url" in docs.columns else F.lit(None).cast("string").alias("url"))
    )
    d = (
        base.select("doc_id", url_expr, *extra_cols)
        .dropDuplicates(["doc_id"])
        .withColumn("bucket", _bucket_col(stats["n_buckets"]))
        .withColumn("run", F.lit(run_val))
    )
    _dyn_overwrite(d, os.path.join(out_dir, "docstore"), ("bucket", "run"))


def docstore_runs(out_dir: str) -> list[str]:
    """Distinct run partition values present in the docstore (one driver
    listing — the same cost every dataset probe already pays)."""
    store = os.path.join(out_dir, "docstore")
    return sorted(
        {
            os.path.basename(d).split("=", 1)[1]
            for d in glob.glob(os.path.join(store, "bucket=*", "run=*"))
        }
    )


def _storefold_ts(run: str) -> float | None:
    """Embedded microsecond epoch of a ``storefold-<epoch_us>-<hash>``
    run name (None for every other run)."""
    if not run.startswith("storefold-"):
        return None
    parts = run.split("-")
    if len(parts) == 3 and parts[1].isdigit():
        return int(parts[1]) / 1e6
    return None


def docstore_run_rank(out_dir: str) -> dict[str, int]:
    """Docstore run → recency rank (higher = newer). Docstore runs are
    run_id-keyed (write_docstore gets index_batch's run_id), so recency
    comes from the manifest's committed_at ledger — max per run_id;
    ``storefold-`` runs (compact_docstore output) carry their epoch IN
    the name, strictly newer than every run they folded. Runs known to
    neither rank oldest; ties break by name, so the order is
    deterministic. Used by every docstore reader to resolve an updated
    doc to its NEWEST stored version (update_docs appends the new
    version as a delta docstore run; the old run's row stays on disk
    until a ``compact_docstore`` fold)."""
    runs = docstore_runs(out_dir)
    ts = _run_recency(out_dir, runs) if len(runs) > 1 else {}
    order = sorted(runs, key=lambda r: (ts.get(r, float("-inf")), r))
    return {r: i for i, r in enumerate(order)}


def compact_docstore(spark: SparkSession, out_dir: str, *,
                     purge_deleted: bool = False) -> int:
    """Fold every docstore run into ONE latest-version-wins run, giving
    readers back the single-run no-window scan (the docstore twin of
    ``compact_runs``; run it on the same ops cadence). The fold run's
    name embeds max(source recency) + 1 µs — ``storefold-<epoch_us>-
    <md5(sources)>`` — so it outranks everything it folded from the
    moment it lands: a crash between the fold write and the old-run
    removals leaves readers picking the fold's rows (correct — they ARE
    the latest versions), and a retry converges. Any post-fold update
    delta gets a strictly later manifest committed_at, so it outranks
    the fold in turn. ``purge_deleted=True`` also drops fully deleted
    docs' rows (the ES merge-expunges-deletes analogue; changes the
    significant_terms background denominator exactly like an ES merge
    would). Returns the number of old run partitions removed."""

    from .query import _docstore_scan

    runs = docstore_runs(out_dir)
    if len(runs) <= 1 and not purge_deleted:
        return 0
    ts = _run_recency(out_dir, runs)  # the rank rule's recency, for the name's epoch
    max_us = max(int(ts.get(r, 0) * 1e6) for r in runs)
    h = hashlib.md5("|".join(sorted(runs)).encode()).hexdigest()[:8]
    new_run = f"storefold-{max_us + 1:020d}-{h}"

    merged = _docstore_scan(spark, out_dir)  # latest-version-wins
    if purge_deleted:
        from .delete import drop_dead_store_rows

        merged = drop_dead_store_rows(spark, out_dir, merged)
    merged = merged.withColumn("run", F.lit(new_run))
    _dyn_overwrite(merged, os.path.join(out_dir, "docstore"), ("bucket", "run"))

    removed = 0
    store = os.path.join(out_dir, "docstore")
    for d in glob.glob(os.path.join(store, "bucket=*", "run=*")):
        if os.path.basename(d) != f"run={new_run}":
            shutil.rmtree(d, ignore_errors=True)
            removed += 1
    return removed


def lookup_docs(
    out_dir: str, doc_ids: list[int], runs: list[str] | None = None,
    stats: dict | None = None,
) -> dict[int, dict]:
    """Driver-side pyarrow resolve of doc ids → stored columns, pruned to
    the ids' bucket partitions (zero Spark jobs, serving-path companion to
    Searcher.search_rows). Multi-version docs (updated: one row per
    docstore run) resolve to the NEWEST run's row — same rule as the
    distributed ``_docstore_scan``. ``runs`` restricts visibility to the
    named docstore runs (a point-in-time snapshot — see ``index.pit``):
    versions written after the snapshot resolve to the OLD row. ``stats``
    is the caller's stats.json snapshot (a Searcher's), read when None."""
    import pyarrow.dataset as ds

    store = os.path.join(out_dir, "docstore")
    if not os.path.isdir(store) or not doc_ids:
        return {}
    if stats is None:
        stats = load_stats(out_dir)
    bits = int(np.log2(stats["n_buckets"]))
    rank = docstore_run_rank(out_dir)
    run_set = None if runs is None else {str(r) for r in runs}
    by_bucket: dict[int, list[int]] = {}
    for did in doc_ids:
        by_bucket.setdefault(did >> (63 - bits), []).append(did)
    out: dict[int, dict] = {}
    for bkt, ids in sorted(by_bucket.items()):
        bdir = os.path.join(store, f"bucket={bkt}")
        if not os.path.isdir(bdir):
            continue
        flt = ds.field("doc_id").isin(ids)
        if run_set is not None:
            flt = flt & ds.field("run").isin(sorted(run_set))
        tbl = ds.dataset(bdir, format="parquet", partitioning="hive").to_table(
            filter=flt
        )
        for row in tbl.to_pylist():
            prev = out.get(row["doc_id"])
            if prev is None or rank.get(str(row.get("run")), -1) >= rank.get(
                str(prev.get("run")), -1
            ):
                out[row["doc_id"]] = row
    return out


def write_doclens(spark: SparkSession, docs: DataFrame, out_dir: str,
                  url_col: str = "url", text_col: str = "text") -> None:
    """Optional (doc_id, dl) sidecar — not needed by the query path (dl is
    denormalized into the postings); used by compaction for exact stat
    recounts and for debugging/analytics."""
    d = with_doc_id(docs, url_col).select("doc_id", F.col(text_col).alias("text"))
    (
        d.mapInPandas(_doclens_kernel, schema="doc_id long, dl long")
        .groupBy("doc_id")
        .agg(F.min("dl").alias("dl"))
        .withColumn("run", F.lit("full"))
        .write.mode("overwrite")
        .partitionBy("run")
        .parquet(os.path.join(out_dir, "doclens"))
    )


def refresh_dictionary(spark: SparkSession, out_dir: str, n_term_buckets: int) -> None:
    """(Re)derive the FULL term dictionary from segment block metadata —
    metadata-only columns, the binary posting columns are pruned away.
    Replaces any per-run delta dictionaries with a single run=full layout.
    Incremental batches do NOT call this (O(index) rewrite): they append a
    run=<batch> delta that the query path merges on read."""
    seg = spark.read.parquet(os.path.join(out_dir, "segments"))
    dict_dir = os.path.join(out_dir, "dictionary")
    dictionary = seg.groupBy("term", "tb").agg(
        F.sum("n").alias("df"),
        F.sum("sum_tf").alias("cf"),
        F.count("*").alias("n_blocks"),
    ).withColumn("run", F.lit("full"))
    dictionary.repartition(n_term_buckets, "tb").sortWithinPartitions("term").write.mode(
        "overwrite"
    ).partitionBy("tb", "run").parquet(dict_dir)
    # derive the sidecars from the JUST-WRITTEN dictionary parquet, not from
    # the aggregation lineage: reusing ``dictionary`` would re-run the whole
    # segment scan + groupBy once for repartitionByRange's sampling pass,
    # once for the term_index write and once more for the fuzzy kernel
    # (guide §1.2: don't compute things twice) — the read-back is a tiny
    # metadata-only parquet scan instead
    dict_read = spark.read.parquet(dict_dir).drop("run")
    write_term_index(
        dict_read, out_dir, "full", replace=True,
        n_files=max(1, n_term_buckets // 8),
    )
    # keep the fuzzy k-deletes sidecar in step if the index opted in
    meta_path = os.path.join(out_dir, FUZZY_DELETES_META)
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            meta = json.load(f)
        write_fuzzy_deletes(
            dict_read, out_dir, "full",
            max_edits=meta["max_edits"], n_buckets=meta["n_buckets"], replace=True,
        )


TERM_RANGES_FILE = "term_ranges.json"


def write_term_index(
    dictionary: DataFrame,
    out_dir: str,
    run_val: str,
    *,
    replace: bool = False,
    n_files: int | None = None,
) -> None:
    """Term-SORTED dictionary copy + range sidecar — the FST-role structure
    for prefix/wildcard/fuzzy expansion. The primary dictionary is HASH
    partitioned (point lookups prune to one tb), so every one of its files
    spans the whole term space and a prefix query must open every footer.
    This copy is range-partitioned and sorted by term; ``term_ranges.json``
    records each file's (min_term, max_term), so an expansion opens ZERO
    footers and only the 1–2 data files overlapping its range — at web
    scale (10^8 terms, 64 range files) a prefix touches ~1/64 of the
    dictionary bytes. Incremental batches append a run=<batch> delta here
    exactly like the hash dictionary; expansions merge runs on read."""
    ti_dir = os.path.join(out_dir, "term_index")
    if "cf" not in dictionary.columns:
        dictionary = dictionary.withColumn("cf", F.lit(0).cast("long"))
    # cf rides along so per-FIELD corpus stats (Σ cf over a field's
    # term range → field avgdl for multi_match) are a pruned range read
    d = dictionary.select("term", "df", "cf").withColumn("run", F.lit(run_val))
    nf = n_files or max(2, DEFAULT_TERM_BUCKETS // 8)
    if nf <= 2:
        # small index: one sorted file — coalesce avoids the range-
        # partitioner's extra sampling job (range layout buys nothing when
        # every expansion reads the single file anyway)
        d = d.coalesce(1).sortWithinPartitions("term")
    else:
        d = d.repartitionByRange(nf, "term").sortWithinPartitions("term")
    if replace:
        if os.path.isdir(ti_dir):
            shutil.rmtree(ti_dir)
        d.write.mode("overwrite").partitionBy("run").parquet(ti_dir)
    else:
        _dyn_overwrite(d, ti_dir, ("run",))

    # sidecar: per-file term range from the just-written footers (write-time
    # metadata reads; query time opens no footer at all)
    sidecar = os.path.join(out_dir, TERM_RANGES_FILE)
    ranges: dict[str, list[str]] = {}
    if not replace and os.path.exists(sidecar):
        with open(sidecar) as f:
            ranges = json.load(f)
        ranges = {
            rel: mm for rel, mm in ranges.items()
            if not rel.startswith(f"run={run_val}/") and os.path.exists(os.path.join(ti_dir, rel))
        }
    for path in glob.glob(os.path.join(ti_dir, f"run={run_val}", "*.parquet")):
        md = pq.ParquetFile(path).metadata
        ti = next(
            i for i in range(md.num_columns) if md.schema.column(i).name == "term"
        )
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(ti).statistics
            if st is not None and st.has_min_max:
                mins.append(st.min)
                maxs.append(st.max)
        if mins:
            rel = os.path.relpath(path, ti_dir)
            ranges[rel] = [min(mins), max(maxs)]
    with open(sidecar, "w") as f:
        json.dump(ranges, f, indent=0, sort_keys=True)


FUZZY_DELETES_DIR = "fuzzy_deletes"
FUZZY_DELETES_META = "fuzzy_deletes.json"


def delete_variants(term: str, max_edits: int) -> set[str]:
    """All strings reachable from ``term`` by deleting ≤ ``max_edits``
    characters, including ``term`` itself — the SymSpell candidate key
    set: if levenshtein(q, t) ≤ k then deletes(q, k) ∩ deletes(t, k) ≠ ∅,
    so hash-joining the two delete sets yields a guaranteed superset of
    the true fuzzy matches (the banded DP then verifies exactly)."""
    out = {term}
    frontier = {term}
    for _ in range(max_edits):
        nxt = set()
        for t in frontier:
            for i in range(len(t)):
                nxt.add(t[:i] + t[i + 1 :])
        out |= nxt
        frontier = nxt
    return out


def delete_hash(s: str) -> int:
    """Stable 63-bit key for a delete variant (md5-derived: deterministic
    across processes/runs, unlike PYTHONHASHSEED-dependent hash())."""
    return int.from_bytes(hashlib.md5(s.encode()).digest()[:8], "big") >> 1


def write_fuzzy_deletes(
    dictionary: DataFrame,
    out_dir: str,
    run_val: str,
    *,
    max_edits: int = 1,
    n_buckets: int = 32,
    replace: bool = False,
) -> None:
    """SymSpell k-deletes sidecar — the dictionary-scale structure for
    ``prefix_length=0`` fuzzy queries (ES/Lucene walk a Levenshtein
    automaton over the term FST; over parquet the equivalent O(1)-probe
    structure is a precomputed delete-variant hash join). Layout:
    ``fuzzy_deletes/db=<hash bucket>/run=<run>/`` rows of
    (delhash, term, df) sorted by delhash, so a query opens only its
    variants' hash-bucket dirs (≤ |variants| of ``n_buckets``) and parquet
    row-group stats prune inside each file. Space is Σ_terms (1 + len)
    rows at max_edits=1 (ES's default fuzziness band); delta runs append
    their own partitions (merge-on-read df sums, like the term_index)."""
    from pyspark.sql import functions as _F  # noqa: N812

    nb = int(n_buckets)
    me = int(max_edits)

    def gen(batches):
        for pdf in batches:
            db, dh, tm, dfv = [], [], [], []
            for term, dfval in zip(pdf["term"], pdf["df"]):
                for v in delete_variants(term, me):
                    h = delete_hash(v)
                    db.append(h % nb)
                    dh.append(h)
                    tm.append(term)
                    dfv.append(int(dfval))
            yield pd.DataFrame({"db": db, "delhash": dh, "term": tm, "df": dfv})

    d = (
        dictionary.select("term", "df")
        # keyword-field terms are filter-context internals — never fuzzy
        .where(~F.col("term").contains(KEYWORD_SEP))
        .mapInPandas(gen, schema="db int, delhash long, term string, df long")
        .withColumn("run", _F.lit(run_val))
        .repartition(nb, "db")
        .sortWithinPartitions("delhash")
    )
    dd = os.path.join(out_dir, FUZZY_DELETES_DIR)
    if replace:
        if os.path.isdir(dd):
            shutil.rmtree(dd)
        d.write.mode("overwrite").partitionBy("db", "run").parquet(dd)
    else:
        _dyn_overwrite(d, dd, ("db", "run"))
    with open(os.path.join(out_dir, FUZZY_DELETES_META), "w") as f:
        json.dump({"max_edits": me, "n_buckets": nb}, f)


def enable_fuzzy_deletes(
    spark: SparkSession, out_dir: str, *, max_edits: int = 1, n_buckets: int = 32
) -> None:
    """Opt an existing index into the k-deletes fuzzy sidecar (build it
    from the current merged dictionary; refresh_dictionary and incremental
    deltas keep it in step afterwards)."""
    dict_df = spark.read.parquet(os.path.join(out_dir, "dictionary"))
    merged = dict_df.groupBy("term").agg(F.sum("df").alias("df"))
    # write the meta FIRST so a crash mid-build re-runs on the next refresh
    with open(os.path.join(out_dir, FUZZY_DELETES_META), "w") as f:
        json.dump({"max_edits": int(max_edits), "n_buckets": int(n_buckets)}, f)
    write_fuzzy_deletes(
        merged, out_dir, "full", max_edits=max_edits, n_buckets=n_buckets, replace=True
    )


def write_dictionary_delta(
    delta_blocks: DataFrame, out_dir: str, n_term_buckets: int, run_val: str
) -> None:
    """O(delta) dictionary update: aggregate ONE run's blocks into a
    run-partitioned delta; ``_lookup_terms`` merges deltas on read
    (Σ df / Σ cf per term). Idempotent via dynamic partition overwrite."""
    agg = delta_blocks.groupBy("term", "tb").agg(
        F.sum("n").alias("df"),
        F.sum("sum_tf").alias("cf"),
        F.count("*").alias("n_blocks"),
    )
    d = (
        agg.withColumn("run", F.lit(run_val))
        .repartition(n_term_buckets, "tb")
        .sortWithinPartitions("term")
    )
    dict_dir = os.path.join(out_dir, "dictionary")
    _dyn_overwrite(d, dict_dir, ("tb", "run"))
    # sidecars read the just-written delta partition back (pruned to this
    # run) instead of re-running the block aggregation once per sidecar
    agg_read = (
        delta_blocks.sparkSession.read.parquet(dict_dir)
        .where(F.col("run") == run_val)
        .drop("run")
    )
    # keep the sorted expansion copy in step (O(delta), few range files)
    write_term_index(agg_read, out_dir, run_val, n_files=2)
    # and the fuzzy k-deletes sidecar (only if the index opted in at build)
    if os.path.exists(os.path.join(out_dir, FUZZY_DELETES_META)):
        with open(os.path.join(out_dir, FUZZY_DELETES_META)) as f:
            meta = json.load(f)
        write_fuzzy_deletes(
            agg_read, out_dir, run_val,
            max_edits=meta["max_edits"], n_buckets=meta["n_buckets"],
        )


def load_stats(out_dir: str) -> dict:
    with open(os.path.join(out_dir, "stats.json")) as f:
        return json.load(f)


def _recompact_df(
    seg: DataFrame, stats: dict, block_size: int, run_val: str, tomb: dict | None = None,
) -> DataFrame:
    """Re-encode a set of segment blocks into dense ``block_size`` blocks
    under one new run. Delta segments interleave same-(term,bucket) blocks
    with colliding blk numbers and a group may span Arrow batches, so:
    decode preserving group contiguity, hold back the boundary group, sort
    each run of COMPLETE groups by (term,bucket,doc_id,tf,dl) (the build's
    dedup sort key), and feed the block builder one continuous sorted
    stream. Positional indexes re-slice each posting's position bytes by
    re-deriving the canonical varint boundaries (positions travel through
    compaction byte-identical). Used by full compaction (all committed
    runs) and tiered compaction (a subset of delta runs). ``tomb`` ({run →
    sorted dead doc_ids}) purges tombstoned postings while they're decoded
    anyway — the Lucene merge-drops-deletes step at zero extra cost."""
    pos_flag = bool(stats.get("positions"))

    def recode(batches):
        from ..functions.codecs import varint_decode

        if tomb:
            from .delete import apply_tombstones

            batches = (apply_tombstones(pdf, tomb) for pdf in batches)

        builder = _make_block_builder(block_size, with_positions=pos_flag)
        base_cols = ["term", "bucket", "doc_id", "tf", "dl"] + (["posb"] if pos_flag else [])

        def decode_rows(pdf: pd.DataFrame) -> pd.DataFrame:
            outs = []
            poss_col = pdf["poss"] if pos_flag else [None] * len(pdf)
            for term, bucket, n, docs_b, tfs_b, dls_b, poss_b in zip(
                pdf["term"], pdf["bucket"], pdf["n"], pdf["docs"], pdf["tfs"], pdf["dls"],
                poss_col,
            ):
                tf = varint_decode(tfs_b, int(n)).astype(np.int64)
                d = np.cumsum(varint_decode(docs_b, int(n))).astype(np.int64)
                frame = {
                    "term": term,
                    "bucket": bucket,
                    "doc_id": d,
                    "tf": tf,
                    "dl": varint_decode(dls_b, int(n)).astype(np.int64),
                }
                if pos_flag:
                    total = int(tf.sum())
                    gaps = varint_decode(poss_b, total)
                    _, lens = varint_encode_ex(gaps.astype(np.uint64))
                    off = np.concatenate(([0], np.cumsum(lens)))
                    tf_cum = np.concatenate(([0], np.cumsum(tf)))
                    frame["posb"] = [
                        poss_b[off[tf_cum[i]] : off[tf_cum[i + 1]]] for i in range(int(n))
                    ]
                outs.append(pd.DataFrame(frame))
            return (
                pd.concat(outs, ignore_index=True)
                if outs
                else pd.DataFrame(columns=base_cols)
            )

        def complete_group_chunks():
            carry: pd.DataFrame | None = None
            for pdf in batches:
                decoded = decode_rows(pdf)
                if carry is not None and len(carry):
                    decoded = pd.concat([carry, decoded], ignore_index=True)
                if not len(decoded):
                    continue
                lt = decoded["term"].iloc[-1]
                lb = decoded["bucket"].iloc[-1]
                tail = (decoded["term"] == lt) & (decoded["bucket"] == lb)
                carry = decoded[tail]
                head = decoded[~tail]
                if len(head):
                    yield head.sort_values(
                        ["term", "bucket", "doc_id", "tf", "dl"], kind="mergesort"
                    )
            if carry is not None and len(carry):
                yield carry.sort_values(
                    ["term", "bucket", "doc_id", "tf", "dl"], kind="mergesort"
                )

        yield from builder(complete_group_chunks())

    blocks = (
        seg.repartition("term", "bucket")
        .sortWithinPartitions("term", "bucket", "blk")
        .mapInPandas(recode, schema=BLOCKS_POS_SCHEMA if pos_flag else BLOCKS_SCHEMA)
    )
    return _reorg(_tag_run(blocks, stats["n_term_buckets"], run_val), stats["n_term_buckets"])



def _fold_doclens(spark: SparkSession, dl_src: DataFrame, tomb: dict, run_val: str) -> DataFrame:
    """doclens rows → one deduplicated run (keep min dl, the builder's
    keep-first rule). Tombstoned (doc, run) rows drop first — an UPDATED
    doc keeps its new run's row, a DELETED doc loses every row."""
    if tomb:
        rows = [(int(d), r) for r, ids in tomb.items() for d in ids]
        dead = F.broadcast(spark.createDataFrame(rows, "doc_id long, run string"))
        dl_src = dl_src.join(dead, ["doc_id", "run"], "left_anti")
    return dl_src.groupBy("doc_id").agg(F.min("dl").alias("dl")).withColumn("run", F.lit(run_val))


def _collect_ledger(df: DataFrame) -> dict[int, tuple[int, int]]:
    """(bucket, n_docs, sum_dl) rows → {bucket: (n_docs, sum_dl)} (one tiny
    collect: ≤ n_buckets rows)."""
    return {int(r["bucket"]): (int(r["n_docs"]), int(r["sum_dl"] or 0)) for r in df.collect()}


def _doclens_ledger(doclens: DataFrame, n_buckets: int) -> dict[int, tuple[int, int]]:
    """Per-bucket doc ledger of a (doc_id, dl) frame."""
    return _collect_ledger(
        doclens.groupBy(_bucket_col(n_buckets).alias("bucket"))
        .agg(F.count("*").alias("n_docs"), F.sum("dl").alias("sum_dl"))
    )


def _doc_ledger_from_segments(seg: DataFrame) -> dict[int, tuple[int, int]]:
    """Exact per-bucket doc ledger decoded from posting blocks: one narrow
    scan of the (bucket, n, docs, dls) columns (binary posting payloads
    for tf stay pruned). A doc's text postings all carry the same dl;
    keyword postings carry dl=0, so max(dl) per doc is the text dl."""

    def decode(batches):
        from ..functions.codecs import varint_decode as vd

        for pdf in batches:
            outs = []
            for bucket, n, docs_b, dls_b in zip(
                pdf["bucket"], pdf["n"], pdf["docs"], pdf["dls"]
            ):
                d = np.cumsum(vd(docs_b, int(n))).astype(np.int64)
                dl = vd(dls_b, int(n)).astype(np.int64)
                outs.append(pd.DataFrame({"bucket": int(bucket), "doc_id": d, "dl": dl}))
            if outs:
                yield pd.concat(outs, ignore_index=True)

    rows = (
        seg.where(~F.col("term").contains(KEYWORD_SEP))
        .select("bucket", "n", "docs", "dls")
        .mapInPandas(decode, "bucket int, doc_id long, dl long")
    )
    per_doc = rows.groupBy("bucket", "doc_id").agg(F.max("dl").alias("dl"))
    return _collect_ledger(
        per_doc.groupBy("bucket").agg(F.count("*").alias("n_docs"), F.sum("dl").alias("sum_dl"))
    )


def _manifest_ledger(man: pa.Table) -> dict[int, tuple[int, int]]:
    """Per-bucket Σ n_docs / Σ sum_dl over manifest rows (fold markers,
    bucket<0, excluded) — the ledger carried forward when nothing forces
    an exact recount."""
    agg = man.filter(pc.greater_equal(man["bucket"], 0)).group_by("bucket").aggregate(
        [("n_docs", "sum"), ("sum_dl", "sum")]
    )
    return {
        int(bkt): (int(n), int(sdl))
        for bkt, n, sdl in zip(
            agg["bucket"].to_pylist(), agg["n_docs_sum"].to_pylist(), agg["sum_dl_sum"].to_pylist()
        )
    }


def _gc_tombstones(spark: SparkSession, out_dir: str, live_runs: set[str]) -> None:
    """Drop tombstone rows whose segment run no longer exists (their dead
    postings were physically purged by a fold). Clears the store when
    nothing survives; otherwise consolidates survivors into one new
    committed tombstone run."""

    from .delete import _tomb_dir, load_tombstones

    stats = load_stats(out_dir)
    tomb = load_tombstones(out_dir, stats)
    td = _tomb_dir(out_dir)
    survivors = [(int(d), r) for r, ids in tomb.items() if r in live_runs for d in ids]
    stats_path = os.path.join(out_dir, "stats.json")
    with open(stats_path) as f:
        s = json.load(f)
    if not survivors:
        s.pop("tombstone_runs", None)
        with open(stats_path, "w") as f:
            json.dump(s, f, indent=2)
        if os.path.isdir(td):
            shutil.rmtree(td)
        return

    gc_id = "gc_" + hashlib.md5(
        json.dumps(sorted(s.get("tombstone_runs") or [])).encode()
    ).hexdigest()[:12]
    df = spark.createDataFrame(survivors, "doc_id long, run string").withColumn(
        "trun", F.lit(gc_id)
    )
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("trun")
        .parquet(td)
    )
    s["tombstone_runs"] = [gc_id]
    with open(stats_path, "w") as f:
        json.dump(s, f, indent=2)
    # reclaim superseded tombstone partitions
    for d in os.listdir(td):
        if d.startswith("trun=") and d != f"trun={gc_id}":
            shutil.rmtree(os.path.join(td, d))


def compact_segments(
    spark: SparkSession,
    out_dir: str,
    *,
    block_size: int | None = None,
) -> dict:
    """Hierarchical merge: defragment delta segments into full-size blocks.

    After many incremental batches a (term, bucket) group accumulates many
    short tail blocks (one per batch). Compaction re-sorts each group's
    postings, drops duplicate doc_ids (keep-first, same rule as the
    builder), and re-encodes into dense ``block_size`` blocks — the
    LSM/Lucene segment-merge step. Because per-(term,bucket) runs are
    disjoint docID ranges, the merge never crosses buckets; the shuffle
    moves only compressed blocks.

    Swap protocol (``_swap_in``): new segments land in
    ``segments_compacting``, are renamed into place with the old tree moved
    to ``segments_old``, and the old tree goes only once the new one reads
    back. A concurrent reader during the swap window may fail and should
    retry.
    Only manifest-committed runs are compacted — an in-flight streaming
    batch's uncommitted run partitions are left in place for its replay to
    overwrite. The manifest is REWRITTEN as one compacted row set (plus
    fold marker rows preserving replay-idempotence for old run_ids), the
    doclens deltas are folded into one deduplicated run, and stats.json is
    recounted exactly from doclens (healing any drift from re-ingested
    docs). Returns {"blocks_before": .., "blocks_after": ..}.
    """
    stats = load_stats(out_dir)
    block_size = block_size or stats["block_size"]
    seg_dir = os.path.join(out_dir, "segments")
    tmp_dir = _compacting(seg_dir)
    old_man = _read_manifest(os.path.join(out_dir, "manifest"))
    committed_runs = set(old_man.column("run").to_pylist())

    from .delete import load_tombstones

    tomb = load_tombstones(out_dir, stats)

    seg = spark.read.parquet(seg_dir).where(F.col("run").isin(sorted(committed_runs)))
    blocks_before = seg.count()

    recompacted = _recompact_df(seg, stats, block_size, "compacted", tomb=tomb)
    recompacted.write.mode("overwrite").partitionBy("tb", "run").parquet(tmp_dir)

    # carry over any UNCOMMITTED run partitions (in-flight streaming batch):
    # their replay will overwrite them in the new layout too
    for d, run_val in _run_dirs(seg_dir):
        if run_val not in committed_runs:
            tb_name = os.path.basename(os.path.dirname(d))
            dst = os.path.join(tmp_dir, tb_name, f"run={run_val}")
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            shutil.copytree(d, dst)

    old_dir = _swap_in(tmp_dir, seg_dir)
    refresh_dictionary(spark, out_dir, stats["n_term_buckets"])

    seg2 = spark.read.parquet(seg_dir).where(F.col("run") == "compacted")
    blocks_after = seg2.count()
    # verified readable → the old tree can go
    shutil.rmtree(old_dir)

    # exact doc ledger: doclens deltas → one deduplicated run, recount
    # n_docs/sum_dl per bucket. The doclens sidecar only supports an exact
    # recount when it COVERS every committed segment run (a build_index
    # base run writes none; a mixed base+batch index has a partial sidecar
    # — recounting from it would undercount the corpus)
    dl_dir = os.path.join(out_dir, "doclens")
    dl_covers = False
    if os.path.isdir(dl_dir):
        dl_runs = {run_val for _, run_val in _run_dirs(dl_dir)}
        dl_covers = committed_runs <= dl_runs
    if dl_covers:
        dl_tmp = _compacting(dl_dir)
        _fold_doclens(spark, spark.read.parquet(dl_dir), tomb, "compacted").write.partitionBy(
            "run"
        ).parquet(dl_tmp)
        shutil.rmtree(_swap_in(dl_tmp, dl_dir))
        ledger = _doclens_ledger(spark.read.parquet(dl_dir), stats["n_buckets"])
    elif tomb or os.path.isdir(dl_dir):
        # deletes happened and/or the sidecar is partial: recount EXACTLY
        # from the purged compacted postings (one narrow docs/dls scan);
        # a partial sidecar is discarded (the compacted recount supersedes)
        ledger = _doc_ledger_from_segments(seg2)
        if os.path.isdir(dl_dir):
            shutil.rmtree(dl_dir)
    else:
        # no doclens sidecar (plain build_index output): carry the ledger
        # sums forward per bucket
        ledger = _manifest_ledger(old_man)

    _rewrite_manifest(
        out_dir, None,
        _manifest_for_run(_delta_manifest_rows(seg2), ledger, "compact", "compacted")
        + _fold_markers(set(old_man.column("run_id").to_pylist()), "compacted"),
    )
    refresh_stats(spark, out_dir)
    if tomb:
        # every pre-compaction run was replaced — consumed tombstones go
        live = {run_val for _, run_val in _run_dirs(seg_dir)}
        _gc_tombstones(spark, out_dir, live)
    return {"blocks_before": int(blocks_before), "blocks_after": int(blocks_after)}


def compact_runs(
    spark: SparkSession,
    out_dir: str,
    runs: list[str],
    *,
    block_size: int | None = None,
) -> dict:
    """Tiered (partial) compaction: fold ONLY the given committed delta
    runs into one dense run, leaving every other run's files untouched —
    the Lucene TieredMergePolicy analogue. At web scale a full
    ``compact_segments`` rewrite is prohibitive once the base run is
    large; the steady state is: many small batch deltas → periodically
    ``compact_runs(smallest K deltas)`` → occasionally fold mid-size runs.
    Cost is O(selected runs), never O(index).

    New-run identity is DETERMINISTIC (``tier-<md5 of folded run names>``),
    so a crashed/repeated call is idempotent. Sequencing and crash
    windows:

    1. new run's segments / dictionary delta / term_index delta / doclens
       are written (dynamic partition overwrite — a retry rewrites them).
       Crash here: folded runs still committed and intact; the new run is
       uncommitted; duplicate identical postings are handled by the
       kernel's keep-first dedup, and the next ``_clean_uncommitted_runs``
       or retry reclaims the partials.
    2. the manifest is REWRITTEN without the folded runs' rows, with the
       new run's rows (carrying the folded rows' n_docs/sum_dl ledger —
       totals unchanged), plus tombstones for the folded run_ids (replays
       stay no-ops). This is THE commit (same rename-swap dance as full
       compaction).
    3. the folded runs' partitions are deleted from segments / dictionary /
       term_index / doclens. Crash between 2 and 3 leaves orphan
       (now-uncommitted) run dirs: a retry or any resume's
       ``_clean_uncommitted_runs`` removes them; until then queries stay
       rank-correct (duplicate postings dedup to one) though df is
       transiently double-counted for the folded terms.

    Returns {"folded_runs": .., "blocks_before": .., "blocks_after": ..}.
    """
    stats = load_stats(out_dir)
    block_size = block_size or stats["block_size"]
    seg_dir = os.path.join(out_dir, "segments")
    man_dir = os.path.join(out_dir, "manifest")
    runs = sorted(set(runs))
    new_run = "tier-" + hashlib.md5("|".join(runs).encode()).hexdigest()[:12]

    old_man = _read_manifest(man_dir)
    committed = set(old_man.column("run").to_pylist())
    present = [r for r in runs if r in committed]
    if present != runs:
        missing = sorted(set(runs) - set(present))
        if not present and all(
            run_val != new_run for _, run_val in _run_dirs(seg_dir)
        ):
            raise ValueError(f"runs not committed (nothing to fold): {missing}")
        if present and missing:
            raise ValueError(f"refusing partial fold; uncommitted runs: {missing}")
    if not present:
        # phase-3 retry: the fold already committed; just reclaim leftovers
        removed = _clean_uncommitted_runs(seg_dir, committed)
        for sub in ("dictionary", "term_index", "doclens"):
            p = os.path.join(out_dir, sub)
            if os.path.isdir(p):
                _clean_uncommitted_runs(p, committed | {"full", "compacted"})
        return {"folded_runs": 0, "blocks_before": 0, "blocks_after": 0, "cleanup": removed}

    from .delete import load_tombstones

    tomb_all = load_tombstones(out_dir, stats)
    tomb_folded = {r: ids for r, ids in tomb_all.items() if r in set(runs)}

    seg = spark.read.parquet(seg_dir).where(F.col("run").isin(runs))
    blocks_before = seg.count()

    # --- 1. new-run artifacts (uncommitted until the manifest swap)
    recompacted = _recompact_df(seg, stats, block_size, new_run, tomb=tomb_folded)
    _dyn_overwrite(recompacted, seg_dir, ("tb", "run"))
    new_seg = spark.read.parquet(seg_dir).where(F.col("run") == new_run)
    blocks_after = new_seg.count()
    write_dictionary_delta(new_seg, out_dir, stats["n_term_buckets"], new_run)
    dl_dir = os.path.join(out_dir, "doclens")
    folded_dl = False
    if os.path.isdir(dl_dir):
        dl_runs = {run_val for _, run_val in _run_dirs(dl_dir)}
        if set(runs) & dl_runs:
            dl_src = spark.read.parquet(dl_dir).where(F.col("run").isin(runs))
            _dyn_overwrite(_fold_doclens(spark, dl_src, tomb_folded, new_run), dl_dir, ("run",))
            folded_dl = True

    # --- 2. manifest swap = the commit
    folded_rows = old_man.filter(pc.is_in(old_man["run"], pa.array(runs, pa.string())))
    if tomb_folded and folded_dl:
        # exact: recount the folded portion from its purged doclens
        ledger = _doclens_ledger(
            spark.read.parquet(dl_dir).where(F.col("run") == new_run), stats["n_buckets"]
        )
    elif tomb_folded:
        # exact: recount from the purged compacted postings themselves
        ledger = _doc_ledger_from_segments(new_seg)
    else:
        ledger = _manifest_ledger(folded_rows)
    _rewrite_manifest(
        out_dir, runs,
        _manifest_for_run(_delta_manifest_rows(new_seg), ledger, new_run, new_run)
        + _fold_markers(set(folded_rows.column("run_id").to_pylist()), new_run),
    )

    # --- 3. reclaim the folded runs' partitions
    roots = ["segments", "dictionary", "term_index", FUZZY_DELETES_DIR] + (
        ["doclens"] if folded_dl else []
    )
    for sub in roots:
        p = os.path.join(out_dir, sub)
        if not os.path.isdir(p):
            continue
        for d, run_val in _run_dirs(p):
            if run_val in runs:
                shutil.rmtree(d)
    # term_index sidecar: drop folded-run entries (files are gone)
    sidecar = os.path.join(out_dir, TERM_RANGES_FILE)
    if os.path.exists(sidecar):
        with open(sidecar) as f:
            ranges = json.load(f)
        ti_dir = os.path.join(out_dir, "term_index")
        ranges = {
            rel: mm for rel, mm in ranges.items()
            if os.path.exists(os.path.join(ti_dir, rel))
        }
        with open(sidecar, "w") as f:
            json.dump(ranges, f, indent=0, sort_keys=True)

    refresh_stats(spark, out_dir)
    if tomb_all:
        # tombstones whose runs were just folded are consumed (their dead
        # postings are physically gone); keep only those targeting runs
        # that still exist
        live = {run_val for _, run_val in _run_dirs(seg_dir)}
        _gc_tombstones(spark, out_dir, live)
    return {
        "folded_runs": len(runs),
        "blocks_before": int(blocks_before),
        "blocks_after": int(blocks_after),
        "new_run": new_run,
    }


def pick_tier(spark: SparkSession, out_dir: str, max_runs: int = 8) -> list[str]:
    """Tiered-merge policy helper: when more than ``max_runs`` committed
    runs exist, return the smallest-by-postings half (≥2) to fold next —
    call ``compact_runs`` on the result. Reads only the manifest ledger."""
    man = _read_manifest(os.path.join(out_dir, "manifest"), ["bucket", "run", "n_postings"])
    agg = man.filter(pc.greater_equal(man["bucket"], 0)).group_by("run").aggregate(
        [("n_postings", "sum")]
    )
    sizes = sorted(zip(agg["n_postings_sum"].to_pylist(), agg["run"].to_pylist()))
    if len(sizes) <= max_runs:
        return []
    k = max(2, len(sizes) - max_runs + 1)
    return [run for _, run in sizes[:k]]


def reindex(
    spark: SparkSession, src_dir: str, dest_dir: str, **build_kw
) -> int:
    """ES ``_reindex``: rebuild a NEW index at ``dest_dir`` from the
    source index's stored documents (its docstore must carry the text —
    the ES _source contract) under new settings (``analyzer``,
    ``positions``, ``n_buckets``, …, any ``build_index`` kwarg). Live
    docs only, newest versions only: the docstore scan resolves each doc
    latest-version-wins, then ``drop_dead_store_rows`` removes fully
    deleted docs (every committed segment run the newest stored version
    maps to is tombstoned — the kernel's visibility rule seen from the
    docstore; an update-replayed doc stays live, a later unrelated batch
    cannot resurrect a deleted one). The destination docstore carries
    the same stored columns. Returns the number of documents reindexed.

    Scale shape: one docstore scan → anti-join (tombstones are a
    broadcast-sized parquet) → the standard build pipeline (salted
    shuffle, sorted posting blocks, manifests) — no driver
    materialization of documents anywhere."""
    from .query import _docstore_scan

    stats = load_stats(src_dir)
    store = _docstore_scan(spark, src_dir)
    if "text" not in store.columns:
        raise ValueError(
            "reindex needs the stored text — build the source docstore "
            "with write_docstore(extra_cols=('text',))"
        )
    from .delete import drop_dead_store_rows

    store = drop_dead_store_rows(spark, src_dir, store, stats)
    build_index(
        spark, store.select("doc_id", "text"), dest_dir,
        url_col=None, **build_kw,
    )
    extra = tuple(
        c for c in store.columns
        if c not in ("doc_id", "text", "url", "bucket", "run")
    )
    write_docstore(
        spark,
        store.select(
            "doc_id", *(("url",) if "url" in store.columns else ()),
            "text", *extra,
        ),
        dest_dir, url_col=None, extra_cols=("text",) + extra,
    )
    return int(load_stats(dest_dir)["n_docs"])
