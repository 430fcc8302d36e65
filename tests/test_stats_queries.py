"""Histogram quantile sketch + z-score anomaly: semantics on testdata."""

from osm_to_netex_spark.plans.queries import stats as STATS, text as TEXT, tpch as TPCH

SF = "/root/testdata/sf0.001"


def test_hist_quantiles_bracket_exact(spark):
    rows = STATS.q_hist_quantiles(spark, SF).collect()
    assert len(rows) == 5  # one per event_type
    for r in rows:
        # estimates must be finite, ordered, and within one bucket width of
        # the exact percentile (bucket width 5.0)
        assert r.est_p5 <= r.est_p9 <= r.est_p99
        assert abs(r.est_p5 - r.exact_p5) <= 5.0
        assert abs(r.est_p9 - r.exact_p9) <= 5.0
        # p99 rank falls in the sparse tail at n≈200: percentile_cont
        # interpolates between order stats that may span buckets, so the
        # histogram estimate is only bucket-accurate to a few widths there
        assert abs(r.est_p99 - r.exact_p99) <= 15.0


def test_anomaly_flags_are_3_sigma(spark):
    out = STATS.q_anomaly(spark, SF).collect()
    assert all(abs(r.z) > 3.0 for r in out)
    # the synthetic value distribution is heavy-tailed → outliers exist
    assert len(out) > 0
    # and they are rare (< 2% of events)
    n_events = spark.read.parquet(f"{SF}/events.parquet").count()
    assert len(out) < 0.02 * n_events


def test_winsorize_bounds_and_clipping(spark):
    rows = STATS.q_winsorize(spark, SF).collect()
    assert all(0.0 <= r.scaled <= 1.0 for r in rows)
    # the tails must actually clip: some rows at exactly 0 and exactly 1
    assert any(r.scaled == 0.0 for r in rows)
    assert any(r.scaled == 1.0 for r in rows)


def test_incremental_rollup_merge_equals_full(spark):
    rows = STATS.q_incremental_rollup(spark, SF).collect()
    assert len(rows) == 5
    for r in rows:
        assert r.n_merged == r.n_full
        assert r.sum_merged == r.sum_full
        assert r.hll_merged == r.hll_full


def test_bpe_pairs_reference(spark):
    # pure-Python reference over the same corpus slice
    import duckdb as dk
    import collections

    docs = dk.sql(f"select text from '{SF}/documents.parquet'").fetchall()
    import re
    counts = collections.Counter()
    vocab = collections.Counter()
    for (t,) in docs:
        for w in re.split(r"[^a-z0-9]+", t.lower()):
            if w:
                vocab[w] += 1
    for w, f in vocab.items():
        for i in range(len(w) - 1):
            counts[w[i:i+2]] += f
    expect = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:50]
    got = [(r.pair, r.pair_count) for r in TEXT.q_bpe_pairs(spark, SF).collect()]
    assert got == expect


def test_cdc_scd2_consistency(spark):
    cdc = {r.k: r for r in TPCH.q_cdc_apply(spark, SF).collect()}
    scd = TPCH.q_scd2(spark, SF).collect()
    # deleted keys (key % 7 == 0 with multi-version) are absent from the
    # applied state but present in history
    hist_keys = {r.k for r in scd}
    assert set(cdc) <= hist_keys
    deleted = {r.k for r in scd if r.op == "D"}
    assert deleted and deleted.isdisjoint(cdc)
    # exactly one current row per surviving key, and it matches the applied state
    current = [r for r in scd if r.is_current]
    assert len(current) == len(cdc)
    for r in current:
        assert cdc[r.k].val == r.val and cdc[r.k].seq == r.seq


def test_eqfreq_bins_are_balanced(spark):
    rows = STATS.q_eqfreq_bins(spark, SF).collect()
    import collections
    per = collections.Counter((r.event_type, r.bucket) for r in rows)
    by_type = collections.defaultdict(list)
    for (t, b), c in per.items():
        by_type[t].append((b, c))
    for t, bs in by_type.items():
        assert sorted(b for b, _ in bs) == list(range(8))
        counts = [c for _, c in bs]
        assert max(counts) - min(counts) <= 1  # equal frequency ± rounding


def test_cohort_and_transitions_shape(spark):
    coh = STATS.q_cohort(spark, SF).collect()
    # offset 0 row exists for every cohort and counts all its users
    by_cohort = {}
    for r in coh:
        by_cohort.setdefault(r.cohort, {})[r.offset_w] = r.n_users
    for c, offs in by_cohort.items():
        assert 0 in offs
        assert all(offs[0] >= n for o, n in offs.items())  # retention <= cohort size

    tr = STATS.q_transitions(spark, SF).collect()
    n_events = spark.read.parquet(f"{SF}/events.parquet").count()
    n_users = spark.read.parquet(f"{SF}/events.parquet").select("user_id").distinct().count()
    # each user's chain has len-1 transitions
    assert sum(r.n for r in tr) == n_events - n_users


def test_rolling_stats_frame_boundary(spark):
    """RANGE frame includes an event exactly 3600 s earlier, excludes one a
    microsecond older, and the quantized sum is the exact integer total."""
    spark.sql("drop view if exists events")
    spark.createDataFrame(
        [
            (1, "2024-01-01 00:00:00.000000", 10, "a", 1.5, ""),
            (2, "2024-01-01 01:00:00.000000", 10, "a", 2.25, ""),   # t1 - 3600s ago included
            (3, "2024-01-01 01:00:00.000001", 10, "a", 4.0, ""),    # evicts event 1
            (4, "2024-01-02 00:00:00.000000", 11, "a", 7.0, ""),    # other user
        ],
        "event_id long, ts string, user_id long, event_type string, value double, props string",
    ).selectExpr(
        "event_id", "cast(ts as timestamp_ntz) as ts", "user_id",
        "event_type", "value", "props"
    ).createOrReplaceTempView("events")
    rows = {r.event_id: r for r in spark.sql(STATS._rolling_stats_sql("spark")).collect()}
    assert rows[2].n_1h == 2 and rows[2].sum_1h_q == 3_750_000
    assert rows[3].n_1h == 2 and rows[3].sum_1h_q == 6_250_000
    assert rows[4].n_1h == 1 and rows[4].sum_1h_q == 7_000_000
    spark.catalog.dropTempView("events")
    spark._graft_geo_views = None  # force view re-registration downstream
