"""Structured Streaming variant of the incremental sync engine.

The reference's streaming loop (async cursor → 5000-doc buffers →
upsert per batch, /root/reference/src/services/etl.py:226-240) maps to
Structured Streaming micro-batches with a ``foreachBatch`` keyed merge
(T1-T7):

- **T1 micro-batching**: the stream source chunks files/offsets into
  micro-batches (``maxFilesPerTrigger`` as the batch-size knob);
- **T2 checkpoint/resume**: Spark's checkpointLocation replaces the
  hand-rolled ``sync_metadata`` high-water mark — offsets commit only
  after the batch's merge completes;
- **T3 effectively-once**: the merge is idempotent by key, so replayed
  micro-batches collapse — same story as the reference's ON CONFLICT
  upsert;
- **T5 late data**: unlike the reference's strict ``$gt`` (which loses
  equal-timestamp stragglers), a replayed or late row simply re-merges.

The transformation pipeline (normalize → lineage → merge) is shared
verbatim with the batch engine — one code path, two execution modes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from qms_datawarehouse_spark.operators.merge import merge_upsert, merge_upsert_atomic
from qms_datawarehouse_spark.transform import clean_records
from qms_datawarehouse_spark.warehouse import ParquetWarehouse

EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def stream_sync(
    spark: SparkSession,
    source_dir: str,
    warehouse: ParquetWarehouse,
    table: str,
    source_name: str = "stream",
    key: str = "event_id",
    cursor_col: str = "ts",
    checkpoint_dir: str | None = None,
    schema: T.StructType = EVENTS_SCHEMA,
    max_files_per_trigger: int = 10,
) -> StreamingQuery:
    """Start a file-source stream that keeps ``table`` upserted.

    Each micro-batch runs the same normalize→lineage→merge pipeline as
    the batch engine; offsets commit after the merge's atomic swap, so
    a crash replays the batch into an idempotent sink (at-least-once
    delivery, effectively-once state).
    """
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(source_dir)
    )

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        cleaned = clean_records(batch_df, source_name=source_name)
        merge_upsert(warehouse, table, cleaned, key=key, order_col=cursor_col)

    writer = stream.writeStream.foreachBatch(process_batch).outputMode("update")
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()


def deduped_stream(
    spark: SparkSession,
    source_dir: str,
    key: str = "event_id",
    watermark: str = "1 hour",
    schema: T.StructType = EVENTS_SCHEMA,
) -> DataFrame:
    """Streaming exact dedup within the watermark horizon. This is
    the T5 fix the reference lacks: an equal-timestamp or replayed
    row inside the grace window collapses instead of duplicating —
    and state for keys older than the watermark is EVICTED, so memory
    is O(window), not O(stream).

    ``dropDuplicatesWithinWatermark``, not ``dropDuplicates``: with a
    plain ``dropDuplicates([key])`` the watermark only evicts state
    when the event-time column is part of the dedup key — on a
    key-only subset the state store grows forever (the classic
    unbounded-state trap). The WithinWatermark variant keys state on
    ``key`` alone AND expires each entry once the watermark passes
    its event time."""
    return (
        spark.readStream.schema(schema)
        .parquet(source_dir)
        .withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark([key])
    )


def windowed_counts_stream(
    spark: SparkSession,
    source_dir: str,
    watermark: str = "10 minutes",
    window_len: str = "1 hour",
    schema: T.StructType = EVENTS_SCHEMA,
) -> DataFrame:
    """Streaming tumbling-window aggregation with late-data handling
    (T9 + T5): watermark bounds state, windows finalize once the
    watermark passes — the grace period the reference lacks."""
    from pyspark.sql import functions as F

    return (
        spark.readStream.schema(schema)
        .parquet(source_dir)
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", window_len), F.col("event_type"))
        .agg(F.count("*").alias("n"), F.sum("value").alias("total_value"))
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n",
            "total_value",
        )
    )


def stream_ingest_dedup(
    stream_df: DataFrame,
    warehouse: ParquetWarehouse,
    corpus_table: str | None = None,
    index_table: str | None = None,
    checkpoint_dir: str | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    available_now: bool = False,
    on_result=None,
) -> StreamingQuery:
    """Streaming corpus ingestion through the LSH near-dup admission
    gate: every micro-batch probes the persistent band index
    (O(batch) partition-pruned reads, never the corpus), admits only
    non-near-dups, and commits corpus upsert + index append.

    ``stream_df`` is ANY streaming DataFrame carrying ``id_col`` +
    ``text_col`` (file source, docstore connector, rate-shaped test
    feed) — the gate doesn't care where documents come from, but
    ``id_col`` must be castable to long (the corpus key); an epoch
    carrying a non-numeric id fails loudly before any write.

    Delivery: at-least-once replay into convergent state. A replayed
    batch's docs are already corpus rows; the gate's band join skips
    self-pairs, the keyed merge upserts the identical row, and the
    index rebuild is deterministic — so replays collapse
    (effectively-once, T3) exactly like the batch engine's sync.

    ``on_result(epoch_id, IngestResult)`` observes per-epoch
    admission stats (accepted/rejected/pairs) for monitoring without
    a second scan of anything.
    """
    from qms_datawarehouse_spark.operators import incremental_dedup as inc

    corpus_table = corpus_table or inc.CORPUS_TABLE
    index_table = index_table or inc.INDEX_TABLE

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        from pyspark.sql import functions as F

        # the corpus key is a numeric doc_id; a non-numeric source id
        # ('doc-1') would either throw an opaque executor-side
        # CAST_INVALID_INPUT (ANSI mode) or cast to NULL and collapse
        # every such row onto ONE NULL key in the corpus merge
        # (non-ANSI) — and a genuinely NULL source id collapses the
        # same way, so NULL is invalid too. Probe with try_cast and
        # fail the epoch with a clear error instead (offsets don't
        # commit, nothing is lost). try_cast of a NULL input yields
        # NULL, so this one predicate catches both non-numeric AND
        # genuinely NULL ids.
        bad = batch_df.filter(F.col(id_col).try_cast("long").isNull())
        bad_row = bad.select(id_col).take(1)
        if bad_row:
            raise ValueError(
                f"stream_ingest_dedup requires numeric {id_col!r} values; "
                f"got {bad_row[0][0]!r} (epoch {epoch_id})"
            )
        docs = batch_df.select(
            F.col(id_col).try_cast("long").alias("doc_id"),
            F.col(text_col).alias("text"),
        )
        res = inc.ingest_dedup(
            warehouse, docs, corpus_table=corpus_table, index_table=index_table
        )
        if on_result is not None:
            on_result(epoch_id, res)

    writer = stream_df.writeStream.foreachBatch(process_batch).outputMode(
        "update"
    )
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_ingest_semantic(
    stream_df: DataFrame,
    warehouse: ParquetWarehouse,
    corpus_table: str | None = None,
    centroid_table: str | None = None,
    checkpoint_dir: str | None = None,
    id_col: str = "vec_id",
    embedding_col: str = "embedding",
    available_now: bool = False,
    on_result=None,
) -> StreamingQuery:
    """Streaming embedding ingestion through the SemDeDup admission
    gate — ``semantic_gate.ingest_semantic`` lifted to a live pipeline
    exactly as ``stream_ingest_dedup`` lifts the MinHash gate: every
    micro-batch is assigned to the persistent centroid cells (first
    epoch trains them, K ∝ batch via km_scaled_k), probed against the
    STORED members of its touched cells only (cell-partitioned reads,
    never the corpus), and the admitted vectors commit via a partial
    write of the touched cells.

    Delivery: at-least-once replay into convergent state. A replayed
    batch's vectors are already corpus rows sharing their own cell at
    cos=1.0 — but the gate's cross-corpus probe skips self-pairs by
    id inequality, the in-batch stage is id-ordered, and the partial
    write re-derives the same touched-cell content, so replays
    collapse (effectively-once, T3 — pinned in
    tests/test_streaming_semantic.py).

    ``on_result(epoch_id, SemanticIngestResult)`` observes per-epoch
    admission stats (accepted/rejected + capped pair report)."""
    from qms_datawarehouse_spark.operators import semantic_gate as sg

    corpus_table = corpus_table or sg.CORPUS_TABLE
    centroid_table = centroid_table or sg.CENTROID_TABLE

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        from pyspark.sql import functions as F

        # same loud-failure contract as stream_ingest_dedup: the
        # corpus key is a numeric vec_id; non-numeric or NULL ids
        # fail the epoch before any write (offsets don't commit)
        bad = batch_df.filter(F.col(id_col).try_cast("long").isNull())
        bad_row = bad.select(id_col).take(1)
        if bad_row:
            raise ValueError(
                f"stream_ingest_semantic requires numeric {id_col!r} "
                f"values; got {bad_row[0][0]!r} (epoch {epoch_id})"
            )
        vecs = batch_df.select(
            F.col(id_col).try_cast("long").alias("vec_id"),
            F.col(embedding_col).alias("embedding"),
        )
        res = sg.ingest_semantic(
            warehouse,
            vecs,
            corpus_table=corpus_table,
            centroid_table=centroid_table,
        )
        if on_result is not None:
            on_result(epoch_id, res)

    writer = stream_df.writeStream.foreachBatch(process_batch).outputMode(
        "update"
    )
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_ingest_image_phash(
    stream_df: DataFrame,
    warehouse: ParquetWarehouse,
    corpus_table: str | None = None,
    index_table: str | None = None,
    checkpoint_dir: str | None = None,
    id_col: str = "doc_id",
    content_col: str = "content",
    available_now: bool = False,
    on_result=None,
) -> StreamingQuery:
    """Streaming binary-payload ingestion through the perceptual-hash
    admission gate — ``phash_gate.ingest_image_phash`` lifted to a
    live pipeline exactly as the MinHash and SemDeDup gates are:
    every micro-batch dHashes its payloads (Arrow-batched, the
    pluggable decode seam), probes ONLY the band-index partitions its
    band values hash into, and the admitted hashes commit via keyed
    upsert + index rebuild.

    Delivery: at-least-once replay into convergent state — a replayed
    payload's only Hamming-0 stored neighbor is its own row, which
    the probe's id-inequality skips, and the keyed upsert re-derives
    identical state (effectively-once, T3 — pinned in
    tests/test_phash_gate.py). Startup self-heal: the gate's two
    commits (corpus upsert, then index rebuild) are not atomic, so a
    crash between them leaves hash rows the band probe can't see;
    ``reconcile_phash_index`` runs ONCE here, before the first epoch,
    and re-derives any missing band rows from the stored hashes.

    ``on_result(epoch_id, PhashIngestResult)`` observes per-epoch
    admission stats."""
    from qms_datawarehouse_spark.operators import phash_gate as pg

    corpus_table = corpus_table or pg.CORPUS_TABLE
    index_table = index_table or pg.INDEX_TABLE
    pg.reconcile_phash_index(
        warehouse, corpus_table=corpus_table, index_table=index_table
    )

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        from pyspark.sql import functions as F

        # same loud-failure contract as the other gates: numeric ids
        # only; the epoch fails before any write (offsets don't commit)
        bad = batch_df.filter(F.col(id_col).try_cast("long").isNull())
        bad_row = bad.select(id_col).take(1)
        if bad_row:
            raise ValueError(
                f"stream_ingest_image_phash requires numeric {id_col!r} "
                f"values; got {bad_row[0][0]!r} (epoch {epoch_id})"
            )
        payloads = batch_df.select(
            F.col(id_col).try_cast("long").alias("doc_id"),
            F.col(content_col).cast("binary").alias("content"),
        )
        res = pg.ingest_image_phash(
            warehouse,
            payloads,
            corpus_table=corpus_table,
            index_table=index_table,
        )
        if on_result is not None:
            on_result(epoch_id, res)

    writer = stream_df.writeStream.foreachBatch(process_batch).outputMode(
        "update"
    )
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_ingest_audio_fingerprint(
    stream_df: DataFrame,
    warehouse: ParquetWarehouse,
    corpus_table: str | None = None,
    index_table: str | None = None,
    checkpoint_dir: str | None = None,
    id_col: str = "doc_id",
    content_col: str = "content",
    available_now: bool = False,
    on_result=None,
) -> StreamingQuery:
    """Streaming audio-payload ingestion through the fingerprint
    admission gate — ``phash_gate.ingest_audio_fingerprint`` lifted to
    a live pipeline exactly as the image twin above: same delivery
    contract (at-least-once replay into convergent state), same
    startup self-heal (``reconcile_phash_index`` over the AUDIO state
    tables — the reconcile is kernel-independent because the hash IS
    the stored state), different Arrow-batched kernel."""
    from qms_datawarehouse_spark.operators import phash_gate as pg

    corpus_table = corpus_table or pg.AUDIO_CORPUS_TABLE
    index_table = index_table or pg.AUDIO_INDEX_TABLE
    pg.reconcile_phash_index(
        warehouse, corpus_table=corpus_table, index_table=index_table
    )

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        from pyspark.sql import functions as F

        bad = batch_df.filter(F.col(id_col).try_cast("long").isNull())
        bad_row = bad.select(id_col).take(1)
        if bad_row:
            raise ValueError(
                f"stream_ingest_audio_fingerprint requires numeric "
                f"{id_col!r} values; got {bad_row[0][0]!r} "
                f"(epoch {epoch_id})"
            )
        payloads = batch_df.select(
            F.col(id_col).try_cast("long").alias("doc_id"),
            F.col(content_col).cast("binary").alias("content"),
        )
        res = pg.ingest_audio_fingerprint(
            warehouse,
            payloads,
            corpus_table=corpus_table,
            index_table=index_table,
        )
        if on_result is not None:
            on_result(epoch_id, res)

    writer = stream_df.writeStream.foreachBatch(process_batch).outputMode(
        "update"
    )
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_apply_changes(
    stream_df: DataFrame,
    warehouse: ParquetWarehouse,
    table: str,
    key: str = "_id",
    seq_col: str = "_seq",
    op_col: str = "_op",
    checkpoint_dir: str | None = None,
    available_now: bool = False,
    on_stats=None,
) -> StreamingQuery:
    """Streaming CDC apply: every micro-batch of a sequenced change
    feed (upserts + deletes) resolves and commits through
    ``operators.cdc.apply_changes``. The T-contract carries over from
    stream_sync: offsets commit after the apply, and a replayed epoch
    converges (sequence comparison + tombstones make the apply
    idempotent AND out-of-order safe — a late epoch re-delivered
    around a delete cannot resurrect the row).

    ``on_stats(epoch_id, ApplyChangesStats)`` observes per-epoch
    apply counts (upserts/deletes/suppressed)."""
    from qms_datawarehouse_spark.operators.cdc import apply_changes

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        stats = apply_changes(
            warehouse, table, batch_df, key=key, seq_col=seq_col,
            op_col=op_col,
        )
        if on_stats is not None:
            on_stats(epoch_id, stats)

    writer = stream_df.writeStream.foreachBatch(process_batch).outputMode(
        "update"
    )
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_split_sync(
    spark: SparkSession,
    source_dir: str,
    warehouse: ParquetWarehouse,
    accept_table: str,
    quarantine_table: str,
    accept_predicate: str,
    source_name: str = "stream",
    key: str = "event_id",
    cursor_col: str = "ts",
    checkpoint_dir: str | None = None,
    schema: T.StructType = EVENTS_SCHEMA,
    max_files_per_trigger: int = 10,
) -> StreamingQuery:
    """Expectations-style split sync: every micro-batch routes rows
    passing ``accept_predicate`` (a SQL boolean expression) into
    ``accept_table`` and the rest into ``quarantine_table`` — and
    PUBLISHES BOTH ATOMICALLY via a multi-table transaction, so a
    monitor joining accept-vs-quarantine counts never sees a batch
    half-applied (the DLT expectations pattern, with the cross-table
    torn-commit window closed).

    Each epoch is one ``merge_upsert_atomic`` call over both tables:
    the same order-aware keyed merge as stream_sync (a late row older
    than the stored one never overwrites it), staged as O(touched-
    bucket) partial versions pinned to the base each merge read, with
    one joint commit. A replayed epoch re-merges idempotently (T3).
    Offsets commit only after the transaction, so a crash replays
    into idempotent state."""
    from pyspark.sql import functions as F

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(source_dir)
    )

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        cleaned = clean_records(batch_df, source_name=source_name)
        merge_upsert_atomic(
            warehouse,
            {
                accept_table: cleaned.filter(F.expr(accept_predicate)),
                quarantine_table: cleaned.filter(~F.expr(accept_predicate)),
            },
            key=key,
            order_col=cursor_col,
        )

    writer = stream.writeStream.foreachBatch(process_batch).outputMode("update")
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()
