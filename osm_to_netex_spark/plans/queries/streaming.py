"""Structured Streaming queries, each replayed from files with an
availableNow trigger.  The arrival-order-independent ones are
oracle-gated; the custom stateful HLL stream is rows-only.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ...functions import geo
from ...functions.portable import DUCK, SPARK, concat_str, prand
from ...sources import documents as docs_src
from ...streaming import stateful, stream as st
from ..convert_queries import FIXTURE_CORPUS
from .corpus import register_geometry_views


def q_streaming_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming path end to end: replay the committed fixture
    corpus as a file-source stream, run the availableNow tile-assign with a
    checkpoint, read the committed sink back and aggregate per cell.
    ORACLE-GATED: the per-cell index is arrival-order-independent, so a
    DuckDB span-explode + cell-math re-derivation over the SAME fixture
    parquet is an exact oracle for the streamed result."""
    tmp = tempfile.mkdtemp(prefix="graft_stream_")
    src, out, ckpt = f"{tmp}/src", f"{tmp}/out", f"{tmp}/ckpt"
    corpus = spark.read.parquet(FIXTURE_CORPUS)
    corpus.repartition(8).write.mode("overwrite").parquet(src)
    assigned = st.streaming_tile_assign(st.read_document_stream(spark, src), res=8)
    st.run_stream_to_parquet(assigned, out, ckpt).awaitTermination()
    return (
        spark.read.parquet(out)
        .groupBy("quad_cell")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.countDistinct("hex_cell").alias("n_hex"),
        )
    )


def q_streaming_tiles_oracle() -> str:
    return f"""
        with nodes as (
            select doc_id,
                   cast(cast(span.text as json)->'$.lat' as double) as lat,
                   cast(cast(span.text as json)->'$.lon' as double) as lon
            from (select doc_id, unnest(spans) as span
                  from read_parquet('{FIXTURE_CORPUS}')) t
            where span.kind = 'osm_node'
        )
        select {geo.quad_cell('lat', 'lon', 8, DUCK)} as quad_cell,
               cast(count(distinct doc_id) as bigint) as n_docs,
               cast(count(distinct {geo.hex_cell('lat', 'lon', 8, DUCK)}) as bigint) as n_hex
        from nodes group by 1
    """


def q_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup over a replayed document stream
    (dropDuplicatesWithinWatermark, availableNow, parquet sink + checkpoint).
    ORACLE-GATED despite being a streaming query: the surviving content-hash
    SET is arrival-order-independent, so `select distinct md5(text)` is an
    exact batch oracle for the streamed result."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    tmp = tempfile.mkdtemp(prefix="graft_sdedup_")
    src, out, ckpt = f"{tmp}/src", f"{tmp}/out", f"{tmp}/ckpt"
    docs.repartition(8).write.mode("overwrite").parquet(src)
    stream_df = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(src)
    )
    deduped = st.streaming_dedup_exact(stream_df)
    (
        deduped.select("content_hash")
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    return spark.read.parquet(out).select("content_hash").distinct()


def q_streaming_dedup_oracle() -> str:
    return "select distinct md5(text) as content_hash from documents"


def q_streaming_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming running top-k docs per cell via custom bounded state
    (applyInPandasWithState, k entries/cell).  ORACLE-GATED: the score is a
    deterministic portable hash of doc_id, so the final top-k set is
    arrival-order-independent and a DuckDB window-rank over the same
    fixture re-derives it exactly."""
    tmp = tempfile.mkdtemp(prefix="graft_topk_")
    corpus = spark.read.parquet(FIXTURE_CORPUS)
    corpus.repartition(8).write.mode("overwrite").parquet(f"{tmp}/src")
    assigned = st.streaming_tile_assign(
        st.read_document_stream(spark, f"{tmp}/src"), res=8
    )
    score = prand(concat_str(["'score:'", "doc_id"], SPARK), SPARK)
    scored = assigned.selectExpr("quad_cell", "doc_id", f"{score} as score")
    stateful.run_stateful_to_memory(
        spark, stateful.stateful_topk_per_cell(scored, k=3), name="q_topk"
    )
    w = Window.partitionBy("quad_cell")
    return (
        spark.table("q_topk")
        .withColumn("mx", F.max("seen").over(w))
        .where("seen = mx")
        .selectExpr("quad_cell", "doc_id", "round(score, 9) as score")
    )


def q_streaming_topk_oracle() -> str:
    score = prand(concat_str(["'score:'", "doc_id"], DUCK), DUCK)
    return f"""
        with nodes as (
            select doc_id,
                   cast(cast(span.text as json)->'$.lat' as double) as lat,
                   cast(cast(span.text as json)->'$.lon' as double) as lon
            from (select doc_id, unnest(spans) as span
                  from read_parquet('{FIXTURE_CORPUS}')) t
            where span.kind = 'osm_node'
        ),
        assigned as (
            select distinct doc_id, {geo.quad_cell('lat', 'lon', 8, DUCK)} as quad_cell
            from nodes
        ),
        ranked as (
            select quad_cell, doc_id, {score} as score,
                   row_number() over (partition by quad_cell
                                      order by {score} desc, doc_id asc) as rn
            from assigned
        )
        select quad_cell, doc_id, round(score, 9) as score from ranked where rn <= 3
    """


def q_streaming_stateful_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState): per-cell
    bounded-state HLL distinct-doc sketch, update-mode memory sink, availableNow.
    Rows-only: deterministic (register max is order-independent), no SQL oracle."""
    tmp = tempfile.mkdtemp(prefix="graft_hll_")
    corpus = docs_src.synthesize_corpus(spark, n_docs=400, n_zones=16, n_groups=4, n_points=120)
    corpus.repartition(8).write.mode("overwrite").parquet(f"{tmp}/src")
    assigned = st.streaming_tile_assign(
        st.read_document_stream(spark, f"{tmp}/src"), res=8
    ).select("doc_id", "quad_cell")
    stateful.run_stateful_to_memory(
        spark, stateful.stateful_cell_counts(assigned), name="q_hll"
    )
    w = Window.partitionBy("quad_cell").orderBy(F.col("n_rows").desc())
    return (
        spark.table("q_hll")
        .withColumn("rk", F.row_number().over(w))
        .where("rk = 1")
        .select("quad_cell", "n_rows", "n_docs_est")
    )


def q_streaming_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """session_window sessions over a replayed event stream (availableNow,
    complete mode): the streaming twin of events_sessionize.  ORACLE-GATED:
    the session set is arrival-order-independent, so a DuckDB lag+cumsum
    re-derivation (with session_window's >=gap break semantics and
    end = last_ts + gap) is an exact batch oracle; timestamps compare as
    fractional epoch seconds (session tz pinned UTC), immune to
    timestamp-to-string formatting differences."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    tmp = tempfile.mkdtemp(prefix="graft_sess_")
    ev.repartition(5).write.mode("overwrite").parquet(f"{tmp}/src")
    stream_df = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(f"{tmp}/src")
    )
    sess = st.streaming_cell_sessions(stream_df, gap="30 minutes", watermark="365 days")
    q = (
        sess.writeStream.format("memory")
        .queryName("q_sessions")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table("q_sessions").selectExpr(
        "user_id",
        "round(unix_micros(session_start) / 1.0e6, 6) as session_start",
        "round(unix_micros(session_end) / 1.0e6, 6) as session_end",
        "n_events",
        "sum_value_q6",
    )


def q_streaming_sessions_oracle() -> str:
    # session_window semantics: strict merge (break when gap >= 1800s);
    # window end = last event + gap
    g = "epoch(ts) - epoch(lag(ts) over w)"
    return f"""
        with flagged as (
            select user_id, event_id, ts, value,
                   case when ({g}) is null or ({g}) >= 1800 then 1 else 0 end as brk
            from events
            window w as (partition by user_id order by ts asc, event_id asc)
        ),
        sessioned as (
            select user_id, ts, value,
                   cast(sum(brk) over (partition by user_id order by ts asc, event_id asc
                                  rows between unbounded preceding and current row)
                        as bigint) as session_idx
            from flagged
        )
        select user_id,
               round(epoch(min(ts)), 6) as session_start,
               round(epoch(max(ts)) + 1800, 6) as session_end,
               cast(count(*) as bigint) as n_events,
               cast(sum(cast(floor(value * 1.0e6 + 0.5e0) as bigint)) as bigint)
                   as sum_value_q6
        from sessioned group by user_id, session_idx
    """


# oracle-gated despite streaming: output set is arrival-order-independent
def q_streaming_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join (purchase ← preceding 24 h of clicks per
    user), replayed from files with availableNow.  ORACLE-GATED: the emitted
    pair set is arrival-order-independent (each qualifying pair exactly
    once), so the batch interval join is an exact oracle."""
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    tmp = tempfile.mkdtemp(prefix="graft_ssjoin_")
    src, out, ckpt = f"{tmp}/src", f"{tmp}/out", f"{tmp}/ckpt"
    events.repartition(8).write.mode("overwrite").parquet(src)

    def side(tp: str) -> DataFrame:
        return (
            spark.readStream.schema(events.schema)
            .option("maxFilesPerTrigger", 3)
            .parquet(src)
            .where(F.col("event_type") == tp)
        )

    joined = st.streaming_interval_join(side("purchase"), side("click"))
    (
        joined.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    return spark.read.parquet(out).select("left_event_id", "right_event_id")


def q_streaming_interval_join_oracle() -> str:
    return """
        select p.event_id as left_event_id, c.event_id as right_event_id
        from events p join events c
          on p.user_id = c.user_id
         and p.event_type = 'purchase' and c.event_type = 'click'
         and c.ts >= p.ts - interval 24 hour and c.ts <= p.ts
    """


def q_streaming_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming per-user OLS trend via applyInPandasWithState: exact
    integer moment state (order-free by algebra), replayed availableNow.
    ORACLE-GATED — the rare custom stateful op whose final state is provably
    arrival-independent, so DuckDB re-derives it exactly."""
    register_geometry_views(spark, sf_dir)
    tmp = tempfile.mkdtemp(prefix="graft_trend_")
    spark.table("events").repartition(6).write.mode("overwrite").parquet(f"{tmp}/src")
    ev_schema = spark.table("events").schema
    stream = (
        spark.readStream.schema(ev_schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(f"{tmp}/src")
    )
    epoch0 = "timestamp_ntz'2024-01-01 00:00:00'"
    xy = stream.selectExpr(
        "user_id",
        f"cast(timestampdiff(SECOND, {epoch0}, ts) as bigint) as x",
        "cast(floor(value * 100.0e0 + 0.5e0) as bigint) as y",
    )
    stateful.run_stateful_to_memory(
        spark, stateful.stateful_trend(xy), name="q_trend_state"
    )
    w = Window.partitionBy("user_id")
    final = (
        spark.table("q_trend_state")
        .withColumn("mx", F.max("n").over(w))
        .where("n = mx")
        .dropDuplicates(["user_id"])
    )
    denom = "(n * sxx - sx * sx)"
    slope = f"(cast(n * sxy - sx * sy as double) / cast({denom} as double))"
    intercept = f"((cast(sy as double) - {slope} * cast(sx as double)) / cast(n as double) / 100.0e0)"
    return final.selectExpr(
        "user_id",
        "cast(n as bigint) as n",
        f"case when n >= 2 and {denom} <> 0 then round({slope} / 100.0e0, 9) end as slope",
        f"case when n >= 2 and {denom} <> 0 then round({intercept}, 9) end as intercept",
    )


def q_streaming_trend_oracle() -> str:
    denom = "(n * sxx - sx * sx)"
    slope = f"(cast(n * sxy - sx * sy as double) / cast({denom} as double))"
    intercept = f"((cast(sy as double) - {slope} * cast(sx as double)) / cast(n as double) / 100.0e0)"
    return f"""
        with xy as (
            select user_id,
                   cast(epoch_us(ts) // 1000000 - epoch_us(timestamp '2024-01-01 00:00:00') // 1000000 as bigint) as x,
                   cast(floor(value * 100.0e0 + 0.5e0) as bigint) as y
            from events
        ),
        agg as (
            select user_id, cast(count(*) as bigint) as n,
                   sum(x) as sx, sum(y) as sy, sum(x*y) as sxy, sum(x*x) as sxx
            from xy group by user_id
        )
        select user_id, n,
               case when n >= 2 and {denom} <> 0 then round({slope} / 100.0e0, 9) end as slope,
               case when n >= 2 and {denom} <> 0 then round({intercept}, 9) end as intercept
        from agg"""


def q_stream_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment: the events stream joined per-micro-batch to
    a broadcast static dimension (customer→nation), availableNow replay.
    ORACLE-GATED: enrichment is stateless, so the final set is
    arrival-independent — the batch join re-derives it exactly."""
    register_geometry_views(spark, sf_dir)
    tmp = tempfile.mkdtemp(prefix="graft_enrich_")
    spark.table("events").repartition(6).write.mode("overwrite").parquet(f"{tmp}/src")
    ev_schema = spark.table("events").schema
    stream = (
        spark.readStream.schema(ev_schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(f"{tmp}/src")
    )
    dim = F.broadcast(
        spark.table("customer")
        .join(spark.table("nation"), F.col("c_nationkey") == F.col("n_nationkey"))
        .selectExpr("c_custkey", "n_name as nation")
    )
    enriched = stream.join(dim, stream["user_id"] == dim["c_custkey"], "left").selectExpr(
        "event_id", "user_id", "event_type", "coalesce(nation, 'UNKNOWN') as nation"
    )
    q = (
        enriched.writeStream.format("memory").queryName("q_enrich")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    return spark.table("q_enrich")


def q_stream_enrich_oracle() -> str:
    return """
        select e.event_id, e.user_id, e.event_type,
               coalesce(n.n_name, 'UNKNOWN') as nation
        from events e
        left join customer c on e.user_id = c.c_custkey
        left join nation n on c.c_nationkey = n.n_nationkey"""


def q_streaming_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hopping-window (2h window / 1h slide) value histogram over a replayed
    event stream — every event lands in TWO overlapping windows; complete
    mode + availableNow makes the emitted set arrival-order-independent, so
    a batch hopping re-derivation is an exact oracle.  Timestamps compare
    as fractional epoch seconds (the streaming_sessions convention)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    tmp = tempfile.mkdtemp(prefix="graft_shist_")
    ev.repartition(5).write.mode("overwrite").parquet(f"{tmp}/src")
    stream_df = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(f"{tmp}/src")
    )
    hist = st.streaming_hopping_hist(stream_df)
    q = (
        hist.writeStream.format("memory")
        .queryName("q_shist")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table("q_shist").selectExpr(
        "round(unix_micros(window_start) / 1.0e6, 6) as window_start",
        "bucket",
        "cast(n as bigint) as n",
    )


def q_streaming_hist_oracle() -> str:
    # hopping replay: each event belongs to the two 2h windows starting at
    # date_trunc(hour) and date_trunc(hour) - 1h
    return """
        with e as (
            select value,
                   date_trunc('hour', ts) - to_hours(o.o) as w_start
            from events, unnest([0, 1]) o(o)
        )
        select round(epoch(w_start), 6) as window_start,
               cast(least(7, greatest(0, cast(floor(value / 25.0e0) as int)))
                    as int) as bucket,
               cast(count(*) as bigint) as n
        from e group by 1, 2"""


QUERIES = {
    "streaming_interval_join": (
        q_streaming_interval_join, q_streaming_interval_join_oracle,
    ),
    "streaming_dedup": (q_streaming_dedup, q_streaming_dedup_oracle),
    "streaming_sessions": (q_streaming_sessions, q_streaming_sessions_oracle),
    "streaming_tiles": (q_streaming_tiles, q_streaming_tiles_oracle),
    "streaming_topk": (q_streaming_topk, q_streaming_topk_oracle),
    "streaming_trend": (q_streaming_trend, q_streaming_trend_oracle),
    "stream_enrich": (q_stream_enrich, q_stream_enrich_oracle),
    "streaming_hist": (q_streaming_hist, q_streaming_hist_oracle),
}
