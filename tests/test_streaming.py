"""Structured Streaming: stream result must equal the batch plan's result."""

from pyspark.sql import functions as F

from osm_to_netex_spark.functions import geo
from osm_to_netex_spark.functions.portable import SPARK
from osm_to_netex_spark.operators import extract
from osm_to_netex_spark.sources import documents as docs_src
from osm_to_netex_spark.streaming import stream
from tests.support import SF


def test_stream_tile_assign_matches_batch(spark, corpus, tmp_path):
    src = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    docs_src.write_documents(corpus, src, partitions=6)

    st = stream.read_document_stream(spark, src, max_files_per_trigger=2)
    assigned = stream.streaming_tile_assign(st, res=8)
    q = stream.run_stream_to_parquet(assigned, out, ckpt)
    q.awaitTermination(120)

    got = {
        (r.doc_id, r.hex_cell, r.quad_cell)
        for r in spark.read.parquet(out).select("doc_id", "hex_cell", "quad_cell").collect()
    }
    batch = extract.extract_nodes(corpus).select(
        "doc_id",
        F.expr(geo.hex_cell("lat", "lon", 8, SPARK)).alias("hex_cell"),
        F.expr(geo.quad_cell("lat", "lon", 8, SPARK)).alias("quad_cell"),
    )
    expect = {(r.doc_id, r.hex_cell, r.quad_cell) for r in batch.collect()}
    assert got == expect


def test_stream_is_incremental_and_exactly_once(spark, corpus, tmp_path):
    """Re-running the stream over the same checkpoint emits nothing new."""
    src = str(tmp_path / "in2")
    out = str(tmp_path / "out2")
    ckpt = str(tmp_path / "ckpt2")
    docs_src.write_documents(corpus, src, partitions=4)

    st = stream.read_document_stream(spark, src)
    q = stream.run_stream_to_parquet(stream.streaming_tile_assign(st, res=8), out, ckpt)
    q.awaitTermination(120)
    n1 = spark.read.parquet(out).count()

    q2 = stream.run_stream_to_parquet(
        stream.streaming_tile_assign(stream.read_document_stream(spark, src), res=8), out, ckpt
    )
    q2.awaitTermination(120)
    n2 = spark.read.parquet(out).count()
    assert n1 == n2 > 0


def test_stateful_hll_matches_batch_oracle(spark, corpus, tmp_path):
    """applyInPandasWithState per-cell HLL: final streaming state equals the
    batch oracle over the same rows, and the estimate is within HLL error of
    the exact distinct count."""
    from pyspark.sql import Window

    from osm_to_netex_spark.streaming import stateful

    src = str(tmp_path / "in_hll")
    docs_src.write_documents(corpus, src, partitions=6)
    st = stream.read_document_stream(spark, src, max_files_per_trigger=2)
    assigned = stream.streaming_tile_assign(st, res=8).select("doc_id", "quad_cell")
    counts = stateful.stateful_cell_counts(assigned)
    stateful.run_stateful_to_memory(spark, counts, name="hll_test")

    # latest update per cell = max n_rows (monotone)
    w = Window.partitionBy("quad_cell").orderBy(F.col("n_rows").desc())
    final = (
        spark.table("hll_test")
        .withColumn("rk", F.row_number().over(w))
        .where("rk = 1")
        .drop("rk")
    )
    got = {r.quad_cell: (r.n_rows, r.n_docs_est) for r in final.collect()}

    batch_rows = extract.extract_nodes(corpus).select(
        "doc_id", F.expr(geo.quad_cell("lat", "lon", 8, SPARK)).alias("quad_cell")
    )
    oracle = {
        r.quad_cell: (r.n_rows, r.n_docs_est)
        for r in stateful.batch_hll_oracle(batch_rows).collect()
    }
    assert got == oracle  # stream == batch, including the sketch registers

    exact = {
        r.quad_cell: r.n
        for r in batch_rows.groupBy("quad_cell")
        .agg(F.countDistinct("doc_id").alias("n"))
        .collect()
    }
    for cell, (_rows, est) in got.items():
        assert abs(est - exact[cell]) <= max(3, 0.35 * exact[cell])


def test_stateful_hll_partitioning_invariant(spark, corpus, tmp_path):
    """Register max is order/partitioning independent: different file layout
    and trigger sizes produce the identical final state."""
    from pyspark.sql import Window

    from osm_to_netex_spark.streaming import stateful

    finals = []
    for i, (parts, per_trigger) in enumerate([(3, 1), (9, 4)]):
        src = str(tmp_path / f"in_inv{i}")
        docs_src.write_documents(corpus, src, partitions=parts)
        st = stream.read_document_stream(spark, src, max_files_per_trigger=per_trigger)
        assigned = stream.streaming_tile_assign(st, res=8).select("doc_id", "quad_cell")
        counts = stateful.stateful_cell_counts(assigned)
        stateful.run_stateful_to_memory(spark, counts, name=f"hll_inv{i}")
        w = Window.partitionBy("quad_cell").orderBy(F.col("n_rows").desc())
        final = (
            spark.table(f"hll_inv{i}")
            .withColumn("rk", F.row_number().over(w))
            .where("rk = 1")
        )
        finals.append({r.quad_cell: (r.n_rows, r.n_docs_est) for r in final.collect()})
    assert finals[0] == finals[1]


def test_stream_session_windows_match_batch(spark, tmp_path):
    """session_window sessions computed over a finite stream (availableNow,
    complete mode) equal the same aggregation run as one batch job — the
    dynamic-gap stateful operator gives identical sessions either way."""
    ev = spark.read.parquet(f"{SF}/events.parquet")
    src = str(tmp_path / "ev_src")
    ev.repartition(5).write.mode("overwrite").parquet(src)

    # files arrive in arbitrary event-time order, so the watermark must
    # exceed the corpus's full time span for a finite replay — otherwise
    # rows in later micro-batches are "late" and their sessions cannot
    # merge with already-finalized state
    st = spark.readStream.schema(ev.schema).option("maxFilesPerTrigger", 2).parquet(src)
    sess = stream.streaming_cell_sessions(st, gap="30 minutes", watermark="90 days")
    q = (
        sess.writeStream.format("memory")
        .queryName("sess_test")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r.user_id, str(r.session_start), str(r.session_end), r.n_events, r.sum_value_q6)
        for r in spark.table("sess_test").collect()
    }
    batch = stream.streaming_cell_sessions(spark.read.parquet(src), gap="30 minutes", watermark="90 days")
    expect = {
        (r.user_id, str(r.session_start), str(r.session_end), r.n_events, r.sum_value_q6)
        for r in batch.collect()
    }
    assert got == expect and len(got) > 50


def test_streaming_dedup_drops_cross_batch_duplicates(spark, tmp_path):
    """Duplicates split across files (one file per micro-batch) must be
    dropped by the keyed state store, not just within-batch; the sink must
    hold exactly one row per distinct text BEFORE any batch-side distinct."""
    from osm_to_netex_spark.streaming import stream as st

    texts = ["alpha", "beta", "gamma", "alpha", "beta", "delta"]
    src = str(tmp_path / "src")
    for i, t in enumerate(texts):  # one parquet file per doc
        spark.createDataFrame([(i, t)], ["doc_id", "text"]).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    stream_df = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    (
        st.streaming_dedup_exact(stream_df)
        .select("doc_id", "text", "content_hash")
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    rows = spark.read.parquet(out).collect()
    assert len(rows) == 4  # alpha beta gamma delta — dups dropped
    assert sorted({r["text"] for r in rows}) == ["alpha", "beta", "delta", "gamma"]


def test_streaming_topk_cross_batch_displacement(spark, tmp_path):
    """A higher-scored doc arriving in a LATER micro-batch must displace an
    earlier top-k entry (cross-batch state), and re-arrivals must not
    occupy two slots."""
    from osm_to_netex_spark.streaming import stateful

    batches = [
        [(1, "a", 0.5), (1, "b", 0.4)],
        [(1, "c", 0.9), (1, "a", 0.5)],   # c displaces; a re-arrives
        [(1, "d", 0.1)],                   # below top-2, ignored
    ]
    src = str(tmp_path / "src")
    for rows in batches:
        spark.createDataFrame(rows, "quad_cell long, doc_id string, score double") \
            .coalesce(1).write.mode("append").parquet(src)
    stream = spark.readStream.schema("quad_cell long, doc_id string, score double") \
        .option("maxFilesPerTrigger", 1).parquet(src)
    stateful.run_stateful_to_memory(
        spark, stateful.stateful_topk_per_cell(stream, k=2), name="tk_test"
    )
    from pyspark.sql import Window

    w = Window.partitionBy("quad_cell")
    pdf = (
        spark.table("tk_test")
        .withColumn("mx", F.max("seen").over(w))
        .where("seen = mx")
        .collect()
    )
    got = sorted((r["doc_id"], r["score"]) for r in pdf)
    assert got == [("a", 0.5), ("c", 0.9)]


def test_streaming_interval_join_matches_batch(spark, tmp_path):
    """Stream-stream interval join emits exactly the batch interval join's
    pair set: each (purchase, click-within-preceding-24h, same user) pair
    exactly once, regardless of file-replay arrival order."""
    from pyspark.sql import functions as F

    ev = spark.read.parquet(f"{SF}/events.parquet")
    src = str(tmp_path / "src")
    ev.repartition(6).write.mode("overwrite").parquet(src)

    def side(tp):
        return (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 2)
            .parquet(src)
            .where(F.col("event_type") == tp)
        )

    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    (
        stream.streaming_interval_join(side("purchase"), side("click"))
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    got = {(r.left_event_id, r.right_event_id) for r in spark.read.parquet(out).collect()}

    b = spark.read.parquet(src)
    p = b.where("event_type = 'purchase'").select(
        F.col("user_id").alias("k"), F.col("ts").alias("lts"), F.col("event_id").alias("l_id")
    )
    c = b.where("event_type = 'click'").select(
        F.col("user_id").alias("k2"), F.col("ts").alias("rts"), F.col("event_id").alias("r_id")
    )
    expect = {
        (r.l_id, r.r_id)
        for r in p.join(
            c, F.expr("k = k2 AND rts >= lts - interval 24 hours AND rts <= lts")
        ).collect()
    }
    assert got == expect and len(got) > 10


def test_stateful_trend_batching_invariant(spark, tmp_path):
    """Integer moment state is order/batch independent: 1-file-per-trigger
    and all-at-once replays produce identical final moments."""
    import pandas as pd

    from osm_to_netex_spark.streaming import stateful

    src = str(tmp_path / "ev")
    spark.sql("""
        select cast(id % 5 as bigint) as user_id,
               cast(id * 37 % 1000 as bigint) as x,
               cast((id * 13) % 400 as bigint) as y
        from range(200)
    """).repartition(8).write.parquet(src)
    schema = "user_id bigint, x bigint, y bigint"

    def run(max_files, name):
        stream = (spark.readStream.schema(schema)
                  .option("maxFilesPerTrigger", max_files).parquet(src))
        stateful.run_stateful_to_memory(spark, stateful.stateful_trend(stream), name=name)
        df = spark.table(name).toPandas()
        final = df.sort_values("n").groupby("user_id").tail(1)
        return {tuple(r) for r in final[["user_id", "n", "sx", "sy", "sxy", "sxx"]].itertuples(index=False)}

    assert run(1, "tr_a") == run(16, "tr_b") and len(run(16, "tr_c")) == 5


def test_stream_upsert_to_catalog(spark, tmp_path):
    """foreachBatch upsert: within-batch dedup, key replacement across
    batches, and replay idempotence (same checkpoint, re-run → no change)."""
    from osm_to_netex_spark.sources.catalog import SnapshotCatalog
    from osm_to_netex_spark.streaming import stream as st

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    root = str(tmp_path / "wh")

    spark.createDataFrame(
        [(1, "a", 1), (2, "b", 1), (2, "b2", 1)], ["k", "v", "rev"]
    ).coalesce(1).write.mode("append").parquet(src)

    def run():
        s = (spark.readStream.schema("k bigint, v string, rev bigint")
             .option("maxFilesPerTrigger", 1).parquet(src))
        q = st.stream_upsert_to_catalog(s, root, "t", ["k"], ckpt)
        q.awaitTermination()

    run()
    cat = SnapshotCatalog(spark, root)
    first = {r.k: r.v for r in cat.read("t").collect()}
    assert set(first) == {1, 2}  # within-batch dedup kept one row per key

    # second file: updates k=2, inserts k=3
    spark.createDataFrame(
        [(2, "B", 2), (3, "c", 2)], ["k", "v", "rev"]
    ).coalesce(1).write.mode("append").parquet(src)
    run()
    got = {r.k: r.v for r in cat.read("t").collect()}
    assert got[2] == "B" and got[3] == "c" and got[1] == "a"
    n_snapshots = len(cat.snapshots("t"))

    # replay with the same checkpoint: no new data → no new snapshot
    run()
    assert len(cat.snapshots("t")) == n_snapshots
    assert {r.k: r.v for r in cat.read("t").collect()} == got


def test_streaming_hopping_hist_matches_batch(spark, tmp_path):
    """Hopping windows: the streamed (window, bucket, n) set must equal the
    same aggregation run as one batch job, and each event must contribute
    to exactly TWO overlapping windows."""
    ev = spark.read.parquet(f"{SF}/events.parquet")
    src = str(tmp_path / "hist_src")
    ev.repartition(5).write.mode("overwrite").parquet(src)
    st = spark.readStream.schema(ev.schema).option("maxFilesPerTrigger", 2).parquet(src)
    q = (
        stream.streaming_hopping_hist(st)
        .writeStream.format("memory")
        .queryName("hist_test")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (str(r.window_start), int(r.bucket), int(r.n))
        for r in spark.table("hist_test").collect()
    }
    batch = stream.streaming_hopping_hist(spark.read.parquet(src))
    want = {
        (str(r.window_start), int(r.bucket), int(r.n)) for r in batch.collect()
    }
    assert got == want and len(got) > 100
    assert sum(n for _, _, n in got) == 2 * ev.count()
