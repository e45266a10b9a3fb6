"""Structured-Streaming half of the engine (SURVEY.md §2.10, §7 Phase 5).

Reference analogues:
- EventHub consumer per source, checkpoint ≤1/min
  (EventHub/EventHubConsumer.cs:33-108)  → readStream + checkpointLocation
- GracePeriodMinutes late-data allowance (W1,
  MinuteTableShardScheduler.cs:27-32)     → withWatermark
- 1-minute shards / daily indexes (W2)    → F.window / days(ts)
- idempotent re-delivery via deterministic ids (NestBatchPusher.cs:71)
  → manifest-gated batch commits (a replayed foreachBatch epoch is a no-op)

``index_batch`` turns one batch of documents into one committed delta run
through the same write path as ``build_index`` (``index/build.py``): the
shared input normaliser and tokenize → (term, bucket) shuffle → block
builder pipeline (text, keyword and analyzed-field postings all use the
index's analyzer), then the block reorg every batch takes. All of it
derives from the batch's own data — O(delta) work per micro-batch,
independent of total index size (Lucene-style segment model;
``compact_runs``/``compact_segments`` fold deltas back periodically).
``index_stream`` and ``incremental_index_stream`` call it once per
foreachBatch micro-batch, turning the builder into a streaming conveyor.
df/idf come from the merge-on-read dictionary, avgdl from the manifest
ledger in stats.json, so a query over base+delta segments scores exactly.

Commit order: doclens + segments → dictionary delta (overlapped with the
two ledger collects, joined before the commit — and on any failure) →
manifest append (THE commit) → stats.json → docstore. Every artifact is
a dynamic-partition overwrite keyed by the batch's run, so a
foreachBatch epoch replayed after a crash anywhere before the manifest
append simply rewrites its own partitions; after the append, the run_id
gate (a driver-side manifest read, no Spark job) makes it a no-op.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F  # noqa: N812

from ..functions.tokenize import tokenize_to_postings
from ..index.build import (
    DEFAULT_BLOCK_SIZE,
    DEFAULT_N_BUCKETS,
    DEFAULT_TERM_BUCKETS,
    _append_manifest,
    _delta_manifest_rows,
    _doclens_kernel,
    _doclens_ledger,
    _dyn_overwrite,
    _manifest_for_run,
    _normalise_docs,
    _Overlap,
    _read_manifest,
    _reorg,
    _run_blocks,
    load_stats,
    refresh_stats,
    write_dictionary_delta,
)
from ..textutils import BM25_B, BM25_K1


def _committed_runs(spark: SparkSession, man_dir: str) -> set[str]:
    return set(_read_manifest(man_dir, ["run_id"]).column("run_id").to_pylist())


def index_batch(
    spark: SparkSession,
    docs: DataFrame,
    out_dir: str,
    batch_id: int | str,
    *,
    url_col: str = "url",
    text_col: str = "text",
    n_buckets: int = DEFAULT_N_BUCKETS,
    block_size: int = DEFAULT_BLOCK_SIZE,
    n_term_buckets: int = DEFAULT_TERM_BUCKETS,
    k1: float = BM25_K1,
    b: float = BM25_B,
    refresh_dict: bool = True,
    exact_stats: bool = False,
    store_docs: bool = False,
    store_cols: tuple = (),
    positions: bool = False,
    keyword_cols: tuple = (),
    field_cols: tuple = (),
    analyzer: dict | None = None,
) -> bool:
    """Append one batch of documents as a delta segment run. O(delta): the
    doclens/dictionary/manifest/stats updates all derive from this batch's
    own (pruned) data — nothing re-reads or rewrites the existing index.

    Idempotent: if the manifest already has this batch's run_id the call is
    a no-op (replayed foreachBatch epochs after a failure do nothing — the
    reference's advance-offset-after-push ordering); a replay of a batch
    that crashed MID-write overwrites its own run partitions.

    ``exact_stats=True`` anti-joins this batch's doc ids against the
    existing doclens so a doc re-ingested across batches isn't double-
    counted in n_docs/avgdl. That is a column-pruned O(total docs) id scan
    per batch — at very large scale leave it False (default) and let
    ``compact_segments``'s exact recount heal any drift; the config flag
    exists for pipelines that re-ingest heavily between compactions.
    Returns True if work was done."""
    from ..textutils import analyzer_config

    run_id = f"batch_{batch_id}"
    man_dir = os.path.join(out_dir, "manifest")
    cfg = {
        "k1": k1, "b": b, "n_buckets": n_buckets,
        "block_size": block_size, "n_term_buckets": n_term_buckets,
        "positions": positions, "analyzer": analyzer_config(analyzer),
    }
    stats_path = os.path.join(out_dir, "stats.json")
    if os.path.exists(stats_path):
        prev = load_stats(out_dir)
        cfg = {k: prev.get(k, cfg[k]) for k in cfg}  # the index's layout knobs win
    if run_id in _committed_runs(spark, man_dir):
        # self-heal the crash window between manifest append and stats write
        refresh_stats(spark, out_dir, defaults=cfg)
        return False

    docs_in = docs
    docs, kw_cols, ff_cols = _normalise_docs(docs, url_col, text_col, keyword_cols, field_cols)

    # --- doclens delta (O(batch)); persisted: it feeds both the run write
    # and the per-bucket doc ledger
    if cfg.get("analyzer"):
        # the cheap no-explode length kernel counts RAW tokens; with an
        # analyzer the ledger must count post-filter lengths — derive dl
        # from the analyzer-aware tokenize (empty-after-analysis docs keep
        # a dl=0 row via the left join)
        dls = tokenize_to_postings(
            docs, "doc_id", "text", analyzer=cfg["analyzer"]
        ).groupBy("doc_id").agg(F.min("dl").alias("dl"))
        doclens = (
            docs.select("doc_id").distinct()
            .join(dls, "doc_id", "left")
            .na.fill({"dl": 0})
        )
    else:
        doclens = (
            docs.mapInPandas(_doclens_kernel, schema="doc_id long, dl long")
            .groupBy("doc_id")
            .agg(F.min("dl").alias("dl"))
        )
    dl_dir = os.path.join(out_dir, "doclens")
    if exact_stats and os.path.isdir(dl_dir):
        # exclude THIS run's partition: a replay after a mid-crash would
        # otherwise anti-join away its own (already written, uncommitted)
        # docs, committing n_docs=0 for a run with real postings
        prev_ids = (
            spark.read.parquet(dl_dir)
            .where(F.col("run") != run_id)
            .select("doc_id")
        )
        doclens = doclens.join(prev_ids, "doc_id", "left_anti")
    doclens = doclens.persist()
    _dyn_overwrite(doclens.withColumn("run", F.lit(run_id)), dl_dir, ("run",))

    # --- posting blocks for this run (the one wide shuffle); a batch always
    # takes the block reorg: one file per tb dir keeps serving probes flat
    # as runs accumulate between compactions
    blocks = _run_blocks(
        docs, kw_cols, ff_cols, run_id, n_buckets=cfg["n_buckets"],
        block_size=cfg["block_size"], n_term_buckets=cfg["n_term_buckets"],
        positions=cfg["positions"], analyzer=cfg["analyzer"],
    )
    seg_dir = os.path.join(out_dir, "segments")
    _dyn_overwrite(_reorg(blocks, cfg["n_term_buckets"]), seg_dir, ("tb", "run"))

    # --- delta-only derived artifacts (partition-pruned read of run=<this>).
    # The dictionary delta is independent of the ledger collects, so it
    # overlaps them; it is joined BEFORE the commit so the crash ordering
    # (segments → derived deltas → manifest append) is unchanged.
    delta = spark.read.parquet(seg_dir).where(F.col("run") == run_id)
    with _Overlap() as bg:
        dict_fut = None
        if refresh_dict:
            dict_fut = bg.submit(
                write_dictionary_delta, delta, out_dir, cfg["n_term_buckets"], run_id
            )
        # sum_dl/n_docs come from DOCLENS (not the blocks): under
        # exact_stats the anti-joined ledger counts only NEW docs while the
        # blocks carry every posting — the ledger side is authoritative.
        ledger = _doclens_ledger(doclens, cfg["n_buckets"])
        man_rows = _manifest_for_run(_delta_manifest_rows(delta), ledger, run_id, run_id)
        if dict_fut is not None:
            dict_fut.result()  # derived deltas land before the commit
    _append_manifest(man_dir, man_rows)  # ← THE commit
    doclens.unpersist()
    refresh_stats(spark, out_dir, defaults=cfg)
    if store_docs or store_cols:
        from ..index.build import write_docstore

        write_docstore(spark, docs_in, out_dir, run_id, url_col, extra_cols=store_cols)
    return True


def index_stream(
    spark: SparkSession,
    stream_df: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    *,
    available_now: bool = False,
    trigger_seconds: int = 30,
    compact_every: int | None = None,
    **index_kw,
):
    """Index ANY unbounded streaming DataFrame — rate / rate-micro-batch /
    socket / a Kafka-API-shaped source — through the same foreachBatch delta
    pipeline as the file conveyor. This is the reference's Event Hub path
    (EventHubConsumer.cs:33-51: per-partition processors parse each message
    stream; :91-108: checkpoint at most once per minute → trigger +
    checkpointLocation here).

    ``compact_every=N`` closes the LSM loop in-stream: after every N NEW
    batches the delta runs fold into dense blocks (compact_segments), which
    also recounts stats exactly and keeps the run-partition count bounded.
    Returns the StreamingQuery."""
    done = {"n": 0}

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if index_batch(spark, batch_df, out_dir, batch_id, **index_kw):
            done["n"] += 1
            if compact_every and done["n"] % compact_every == 0:
                from ..index.build import compact_segments

                compact_segments(spark, out_dir)

    writer = stream_df.writeStream.foreachBatch(sink).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()


def message_bus_docs(
    spark: SparkSession,
    rows_per_batch: int = 500,
    *,
    start_timestamp_ms: int = 0,
    advance_ms_per_batch: int = 60_000,
    terms_per_doc: int = 12,
) -> DataFrame:
    """Deterministic unbounded message stream shaped like the input table
    (url, warc_ts, html, text, lang) — the sandbox stand-in for an Event
    Hub/Kafka topic. Built on ``rate-micro-batch`` so every micro-batch's
    contents are reproducible across restarts (messages are a pure function
    of the monotone ``value``), which is what makes the replay-idempotence
    of ``index_batch`` testable end to end. All synthesis is JVM-side."""
    raw = (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", str(rows_per_batch))
        .option("startTimestamp", str(start_timestamp_ms))
        .option("advanceMillisPerBatch", str(advance_ms_per_batch))
        .load()
    )
    words = [
        F.format_string("term%05d", F.pmod(F.col("value") * F.lit(p) + F.lit(i), F.lit(7919)))
        for i, p in enumerate([3, 5, 7, 11, 13, 17, 19, 23, 29, 31, 37, 41][:terms_per_doc])
    ]
    return raw.select(
        F.format_string("https://stream.example/msg/%d", F.col("value")).alias("url"),
        F.col("timestamp").alias("warc_ts"),
        F.lit(None).cast("binary").alias("html"),
        F.concat_ws(" ", *words).alias("text"),
        F.lit("en").alias("lang"),
    )


KAFKA_MESSAGE_SCHEMA = (
    "key binary, value binary, topic string, partition int, offset long, "
    "timestamp timestamp, timestampType int"
)


def kafka_messages_to_docs(
    msgs: DataFrame,
    *,
    value_format: str = "json",
    text_field: str = "text",
    url_field: str = "url",
    lang_field: str = "lang",
) -> DataFrame:
    """Kafka-API-shaped messages → the engine's input-table shape
    (url, warc_ts, html, text, lang). Works on the exact column set Spark's
    kafka source emits (key/value binary, topic, partition, offset,
    timestamp) — batch or streaming — so a real broker plugs in by swapping
    the source, nothing downstream changes (the reference's per-partition
    EventHub processors ↔ the source's partition parallelism,
    EventHubConsumer.cs:33-51).

    ``value_format='json'``: fields pulled from the JSON value with a
    deterministic (topic, partition, offset) url fallback — the reference's
    idempotent-id recipe for messages without natural keys.
    ``value_format='raw'``: whole value as text."""
    val = F.col("value").cast("string")
    fallback_url = F.format_string(
        "kafka://%s/%d/%d", F.col("topic"), F.col("partition"), F.col("offset")
    )
    if value_format == "json":
        url = F.coalesce(F.get_json_object(val, f"$.{url_field}"), fallback_url)
        text = F.coalesce(F.get_json_object(val, f"$.{text_field}"), F.lit(""))
        lang = F.coalesce(F.get_json_object(val, f"$.{lang_field}"), F.lit("und"))
    elif value_format == "raw":
        url, text, lang = fallback_url, F.coalesce(val, F.lit("")), F.lit("und")
    else:
        raise ValueError(f"unknown value_format: {value_format!r}")
    return msgs.select(
        url.alias("url"),
        F.col("timestamp").alias("warc_ts"),
        F.lit(None).cast("binary").alias("html"),
        text.alias("text"),
        lang.alias("lang"),
    )


def incremental_index_stream(
    spark: SparkSession,
    input_path: str,
    out_dir: str,
    checkpoint_dir: str,
    schema: str = "url string, warc_ts timestamp, html binary, text string, lang string",
    *,
    available_now: bool = True,
    trigger_seconds: int = 30,
    max_files_per_trigger: int = 1,
    **index_kw,
):
    """File-source streaming conveyor: new parquet files under
    ``input_path`` are tokenized and appended as delta segments.
    30 s trigger ↔ the reference's schedule loop (WorkerRole.cs:233-247);
    ``checkpointLocation`` ↔ its 1-min stream checkpoints. Supports the
    same ``compact_every`` cadence as ``index_stream``. Returns the
    StreamingQuery (caller awaits/stops)."""
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .parquet(input_path)
    )
    return index_stream(
        spark,
        stream,
        out_dir,
        checkpoint_dir,
        available_now=available_now,
        trigger_seconds=trigger_seconds,
        **index_kw,
    )


def streaming_minute_metrics(
    events: DataFrame,
    *,
    ts_col: str = "ts",
    key_cols: tuple[str, ...] = ("event_type",),
    value_col: str = "value",
    grace_minutes: int = 5,
) -> DataFrame:
    """W1+W2+A1 in one streaming op: watermark = GracePeriodMinutes, tumbling
    1-minute window, count/sum/min/max/avg quintet (the InsightMetrics shape
    computed natively instead of ingested pre-aggregated)."""
    return (
        events.withColumn("_ts", F.col(ts_col).cast("timestamp"))
        .withWatermark("_ts", f"{grace_minutes} minutes")
        .groupBy(F.window("_ts", "1 minute").alias("win"), *key_cols)
        .agg(
            F.count("*").alias("count"),
            F.sum(value_col).alias("total"),
            F.min(value_col).alias("minimum"),
            F.max(value_col).alias("maximum"),
            F.avg(value_col).alias("average"),
        )
        .select(F.col("win.start").alias("minute"), *key_cols, "count", "total", "minimum", "maximum", "average")
    )
