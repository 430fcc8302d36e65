"""Structured Streaming ingest: documents stream → incremental tile index.

The batch engine's extraction + tile-assign composes unchanged onto a
``readStream`` source because every operator is a stateless projection
(extract → cell assign) up to the final aggregation.  The streaming sink
maintains the per-(doc, res) tile sets with a watermark on ingest time so
late media/span updates within the window still merge.

Reference has no streaming (SURVEY §2.1 negative findings); this is engine
surface for the 10^12-doc design point where the corpus arrives continuously.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .. import schemas
from ..functions import geo
from ..functions.portable import SPARK
from ..operators import extract


def read_document_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int = 4
) -> DataFrame:
    """File-source stream of documents parquet (one dir, files appear over
    time — the local stand-in for a Kafka/Iceberg CDC feed)."""
    return (
        spark.readStream.schema(schemas.DOCUMENTS)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
        .withColumn("ingest_ts", F.current_timestamp())
    )


def streaming_tile_assign(doc_stream: DataFrame, res: int = 8) -> DataFrame:
    """Stream of per-document hex/quad cell assignments (stateless part)."""
    nodes = (
        doc_stream.select("doc_id", "ingest_ts", F.posexplode("spans").alias("p", "span"))
        .where(F.col("span.kind") == "osm_node")
        .select(
            "doc_id",
            "ingest_ts",
            F.from_json(F.col("span.text"), schemas.NODE_PAYLOAD).alias("n"),
        )
        .select("doc_id", "ingest_ts", F.col("n.lat").alias("lat"), F.col("n.lon").alias("lon"))
    )
    return nodes.select(
        "doc_id",
        "ingest_ts",
        F.expr(geo.hex_cell("lat", "lon", res, SPARK)).alias("hex_cell"),
        F.expr(geo.quad_cell("lat", "lon", res, SPARK)).alias("quad_cell"),
    )


def run_stream_to_parquet(
    assigned: DataFrame,
    out_path: str,
    checkpoint_path: str,
    await_seconds: float | None = None,
):
    """Append-mode sink with exactly-once file commit via the checkpoint dir."""
    q = (
        assigned.withWatermark("ingest_ts", "30 seconds")
        .writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    if await_seconds is not None:
        q.awaitTermination(await_seconds)
    return q


def streaming_cell_sessions(
    events: DataFrame,
    ts_col: str = "ts",
    gap: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Session-window aggregation per (user, cell): dynamic-length sessions
    that close after ``gap`` of inactivity — the streaming twin of the batch
    ``events_sessionize`` query, expressed with the built-in session_window
    (state bounded by the watermark, sessions merge as late rows arrive).

    Works identically on a batch DataFrame (session_window is supported in
    both modes), which is what the stream==batch equivalence test pins.
    """
    # event-time watermarks require TIMESTAMP (LTZ); source tables carry NTZ.
    # The cast uses the session timezone identically in stream and batch.
    events = events.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(F.col(ts_col), gap), F.col("user_id"))
        .agg(
            F.count("*").alias("n_events"),
            # per-row 1e-6 quantization BEFORE the fold: the session sum is an
            # exact integer, order-free under any micro-batch arrival order
            F.sum(F.expr("cast(floor(value * 1.0e6 + 0.5e0) as bigint)")).alias(
                "sum_value_q6"
            ),
        )
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
            "sum_value_q6",
        )
    )


def streaming_dedup_exact(
    stream_df: DataFrame,
    text_col: str = "text",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming exact dedup: emit the first-seen row per content hash and
    drop duplicates that arrive within the watermark
    (``dropDuplicatesWithinWatermark`` — keyed state-store entries with
    event-time TTL).  Unlike plain ``dropDuplicates``, state is bounded by
    watermark × arrival rate instead of growing with corpus lifetime — the
    only viable shape at a 10^12-doc firehose; duplicates separated by more
    than the watermark re-emit (the documented trade-off, downstream
    compaction catches them)."""
    hashed = stream_df.withColumn("ingest_ts", F.current_timestamp()).withColumn(
        "content_hash", F.md5(F.col(text_col))
    )
    return hashed.withWatermark("ingest_ts", watermark).dropDuplicatesWithinWatermark(
        ["content_hash"]
    )


def streaming_interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str = "user_id",
    ts_col: str = "ts",
    lookback: str = "interval 24 hours",
    watermark: str = "60 days",
) -> DataFrame:
    """Stream-stream inner interval join: every (left, right) pair with the
    same key and ``right.ts ∈ [left.ts − lookback, left.ts]``.

    Both sides carry an event-time watermark + the two-sided time-range
    condition, which is exactly what lets Structured Streaming EVICT join
    state: a buffered right row is droppable once the left watermark passes
    ``right.ts + lookback`` (and vice versa), so state is
    O(rate × (lookback + watermark delay)), never the full history.  The
    emitted pair set is the batch join's — matches appear when the second
    side arrives, each pair exactly once.

    The replay gate runs with a watermark delay wider than the fixture's
    whole time span so no fixture row is ever dropped by arrival-order
    jitter (file-source replay order is not ts order); production sets the
    delay to the lateness SLA, which is what bounds state.
    """
    # Watermarks require TIMESTAMP (with zone); the fixture's ts is NTZ.
    # The cast uses the session timezone identically in stream and batch.
    l = left.select(
        F.col(key).alias("k"),
        F.col(ts_col).cast("timestamp").alias("lts"),
        F.col("event_id").alias("left_event_id"),
    ).withWatermark("lts", watermark)
    r = right.select(
        F.col(key).alias("k2"),
        F.col(ts_col).cast("timestamp").alias("rts"),
        F.col("event_id").alias("right_event_id"),
    ).withWatermark("rts", watermark)
    return l.join(
        r,
        F.expr(f"k = k2 AND rts >= lts - {lookback} AND rts <= lts"),
        "inner",
    ).select("left_event_id", "right_event_id")


def stream_upsert_to_catalog(
    stream_df: DataFrame,
    catalog_root: str,
    table: str,
    keys: list[str],
    checkpoint: str,
):
    """foreachBatch upsert sink into the snapshot catalog — the streaming
    MERGE INTO: per micro-batch, last-write-wins dedup within the batch,
    anti-join replaces matching keys in the current snapshot, and the merged
    table commits as a NEW immutable snapshot.

    Exactly-once across restarts: the committed snapshot metadata carries
    ``batch_id``; a replayed micro-batch (same checkpoint, crash between
    sink write and offset commit) sees ``batch_id <= last committed`` and
    SKIPS — the Structured Streaming idempotent-sink contract, implemented
    against our own catalog instead of Delta/Iceberg jars.

    Scale: the anti-join is keyed (shuffle on the upsert key); the rewrite
    cost is the current snapshot, which is the compaction trade every
    copy-on-write table format makes — for huge tables, partition the
    catalog table and rewrite only touched partitions.
    """
    from ..sources.catalog import SnapshotCatalog

    def upsert(batch_df: DataFrame, batch_id: int):
        spark = batch_df.sparkSession
        cat = SnapshotCatalog(spark, catalog_root)
        cur_meta = cat.current_snapshot(table)
        last = cur_meta.get("batch_id", -1) if cur_meta else -1
        if batch_id <= last:
            return  # replayed batch — already committed
        fresh = batch_df.dropDuplicates(keys)
        if cur_meta:
            merged = cat.read(table).join(fresh.select(keys), keys, "left_anti").unionByName(fresh)
        else:
            merged = fresh
        cat.commit(merged, table, mode="overwrite", extra_meta={"batch_id": batch_id})

    return (
        stream_df.writeStream.foreachBatch(upsert)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def windowed_event_counts(
    stream: DataFrame,
    ts_col: str = "ts",
    watermark: str = "30 seconds",
    window: str = "1 minute",
) -> DataFrame:
    """Watermarked tumbling-window counts in APPEND mode semantics: a window
    emits once, when the watermark passes its end; events arriving after
    that are DROPPED (the bounded-state contract — without the watermark,
    state at 10^12 events grows forever)."""
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("win"))
        .agg(F.count("*").alias("n"))
        .select(F.col("win.start").alias("win_start"), "n")
    )


def dropped_by_watermark(progresses) -> int:
    """Late-data accounting from the engine's own metrics: total
    numRowsDroppedByWatermark across a query's progress events — the number
    production pipelines alert on (silent late-drop is a data-loss bug;
    visible late-drop is a latency/SLA decision)."""
    total = 0
    for p in progresses:
        for op in (p.get("stateOperators") or []):
            total += int(op.get("numRowsDroppedByWatermark", 0) or 0)
    return total


def streaming_hopping_hist(
    events: DataFrame,
    ts_col: str = "ts",
    window: str = "2 hours",
    slide: str = "1 hour",
    watermark: str = "365 days",
    bucket_w: float = 25.0,
    n_buckets: int = 8,
) -> DataFrame:
    """Hopping-window value histogram: overlapping windows (each event lands
    in window/slide of them) × clamped value buckets — the sliding
    dashboard aggregate (p95 trend panels, rate heatmaps).  Works
    identically on a batch frame; with availableNow + complete mode the
    emitted window set is arrival-order-independent, so a batch hopping
    re-derivation is an exact oracle."""
    events = events.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    bucket = (
        f"least({n_buckets - 1}, greatest(0, "
        f"cast(floor(value / {bucket_w!r}e0) as int)))"
    )
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(
            F.window(F.col(ts_col), window, slide).alias("w"),
            F.expr(bucket).alias("bucket"),
        )
        .agg(F.count("*").alias("n"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("bucket"),
            F.col("n"),
        )
    )
