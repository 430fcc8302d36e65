"""Temporal operators: as-of (point-in-time) join.

The classic formulation is a range self-join (`l JOIN r ON key AND r.ts <=
l.ts` + keep max r.ts) — quadratic within key/time skew and un-broadcastable
at corpus scale.  This implementation is the merge form: UNION the two
sides, ONE window per key ordered by (ts, side, tiebreak...), and carry the
right side's payload forward with `last(..., ignorenulls=True)`.  One
shuffle on the key, per-key sort, zero joins — the plan a 1000-executor
cluster wants (Structured Streaming's stream-stream interval join is the
streaming analogue; this is the batch shape).

Reference parity: the reference has no temporal surface; this belongs to
the training-data/event-analytics tier (events table).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    keys: list[str],
    ts_col: str,
    payload_cols: list[str],
    strict: bool = False,
    right_order_cols: list[str] | None = None,
    prefix: str = "asof_",
) -> DataFrame:
    """Attach, to every left row, the payload of the most recent right row
    with ``right.ts <= left.ts`` (``<`` when strict) for the same key(s).

    * left rows with no earlier right row get nulls (left-outer semantics);
    * equal-ts right rows are visible to the left row iff not strict;
    * among right candidates with identical (key, ts), the greatest by
      ``right_order_cols`` wins (pass e.g. an id column for determinism —
      without it, ties are data-dependent like any unordered SQL).

    Payload columns land as ``{prefix}{col}``.  The payload travels as ONE
    struct so a right row whose payload field is null cannot be patched
    column-wise from an older row.
    """
    if ts_col not in left.columns or ts_col not in right.columns:
        raise ValueError(f"both sides need ts column {ts_col!r}")
    order_extra = right_order_cols or []

    # side marker orders equal-ts rows: for <= the right row must sort
    # BEFORE the left row (visible), for < strictly AFTER (invisible).
    right_side, left_side = (1, 0) if strict else (0, 1)

    payload_t = right.select(
        F.struct(*[F.col(c) for c in payload_cols]).alias("__p")
    ).schema["__p"].dataType

    l = left.select(
        *keys,
        F.col(ts_col),
        F.lit(left_side).alias("__side"),
        F.lit(None).cast(payload_t).alias("__p"),
        *[
            F.lit(None).cast(right.schema[c].dataType).alias(f"__o_{c}")
            for c in order_extra
        ],
        F.struct(*[F.col(c) for c in left.columns]).alias("__row"),
    )
    r = right.select(
        *keys,
        F.col(ts_col),
        F.lit(right_side).alias("__side"),
        F.struct(*[F.col(c) for c in payload_cols]).alias("__p"),
        *[F.col(c).alias(f"__o_{c}") for c in order_extra],
        F.lit(None).cast(l.schema["__row"].dataType).alias("__row"),
    )

    w = (
        Window.partitionBy(*keys)
        .orderBy(
            F.col(ts_col).asc(),
            F.col("__side").asc(),
            *[F.col(f"__o_{c}").asc_nulls_first() for c in order_extra],
        )
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = l.unionByName(r).withColumn(
        "__asof", F.last("__p", ignorenulls=True).over(w)
    )
    out_cols = [F.col(f"__row.{c}").alias(c) for c in left.columns] + [
        F.col(f"__asof.{c}").alias(f"{prefix}{c}") for c in payload_cols
    ]
    return carried.where(F.col("__row").isNotNull()).select(*out_cols)


def date_interval_join(
    points: DataFrame,
    intervals: DataFrame,
    point_date: str,
    start_date: str,
    end_date: str,
    bucket_days: int = 7,
    how: str = "inner",
) -> DataFrame:
    """Range join `points.d BETWEEN intervals.start AND intervals.end`, as a
    bucketed EQUI-join + exact refine.

    The naive formulation is a theta-join — Spark plans it as
    BroadcastNestedLoop/cartesian, quadratic and un-shufflable.  Bucketing
    days into `bucket_days`-wide buckets turns it into: point → one bucket;
    interval → explode(sequence(start_bucket, end_bucket)) (fan-out
    |interval|/bucket + 1); equi-join on bucket; refine with the exact
    BETWEEN.  One hash-partitioned shuffle, AQE-splittable, fan-out
    controlled by `bucket_days` (match it to the typical interval length).
    """
    p = points.withColumn(
        "__b",
        F.floor(F.datediff(F.col(point_date).cast("date"), F.lit("1970-01-01").cast("date")) / bucket_days),
    )
    iv = (
        intervals.withColumn(
            "__bs",
            F.floor(F.datediff(F.col(start_date).cast("date"), F.lit("1970-01-01").cast("date")) / bucket_days),
        )
        .withColumn(
            "__be",
            F.floor(F.datediff(F.col(end_date).cast("date"), F.lit("1970-01-01").cast("date")) / bucket_days),
        )
        .withColumn("__b", F.explode(F.sequence("__bs", "__be")))
        .drop("__bs", "__be")
    )
    refined = p.join(iv, "__b", how).where(
        F.col(point_date).cast("date").between(
            F.col(start_date).cast("date"), F.col(end_date).cast("date")
        )
    )
    return refined.drop("__b")


def trend_fit(
    events: DataFrame,
    group_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    value_scale: int = 100,
    time_unit_s: int = 1,
) -> DataFrame:
    """Per-group OLS trend line y = slope·x + intercept — (group, n, slope,
    intercept), slope in value-units per ``time_unit_s`` seconds, x measured
    from the group's FIRST event (so intercept = fitted value at min ts).

    Exactness discipline (the reason this is value-hash-gateable): x is
    centered integer seconds, y is half-up-quantized by ``value_scale`` —
    every Σx, Σy, Σxy, Σx² is an exact bigint fold (order-free, map-side
    combinable), and slope/intercept perform the ONLY floating divisions at
    the end in a fixed op order.  Bound: |Σx²| < 2^63 holds for ~10^4 events
    per group over a year at second resolution; for denser/longer groups
    raise ``time_unit_s`` (hour-unit buys 3600²×) — a parameter, not a
    redesign.

    Shape: one window (min ts per group) + one aggregation, both keyed on
    the group — the agg reuses the window's hash partitioning, so the whole
    fit is one shuffle.  Groups with n < 2 or zero time variance emit null
    slope/intercept.
    """
    # NTZ-safe integer micros: timestampdiff is timezone-free, matching
    # DuckDB's epoch_us on the same NTZ values
    x = (
        f"cast(timestampdiff(MICROSECOND, timestamp_ntz'1970-01-01 00:00:00', {ts_col})"
        f" div (1000000 * {time_unit_s}) as bigint)"
    )
    y = f"cast(floor({value_col} * {value_scale}.0e0 + 0.5e0) as bigint)"
    w = Window.partitionBy("grp")
    staged = (
        events.selectExpr(f"{group_col} as grp", f"{x} as __x", f"{y} as __y")
        .withColumn("__x0", F.min("__x").over(w))
        .selectExpr("grp", "(__x - __x0) as xc", "__y as yc")
    )
    agg = staged.groupBy("grp").agg(
        F.count("*").alias("n"),
        F.sum("xc").alias("sx"),
        F.sum("yc").alias("sy"),
        F.sum(F.expr("xc * yc")).alias("sxy"),
        F.sum(F.expr("xc * xc")).alias("sxx"),
    )
    denom = "(n * sxx - sx * sx)"
    slope = f"(cast(n * sxy - sx * sy as double) / cast({denom} as double))"
    intercept = (
        f"((cast(sy as double) - {slope} * cast(sx as double)) / cast(n as double)"
        f" / {float(value_scale)!r}e0)"
    )
    return agg.selectExpr(
        f"grp as {group_col}",
        "cast(n as bigint) as n",
        f"case when n >= 2 and {denom} <> 0 then round({slope} / {float(value_scale)!r}e0, 9) end as slope",
        f"case when n >= 2 and {denom} <> 0 then round({intercept}, 9) end as intercept",
    )


def trend_fit_oracle_sql(
    table: str = "events",
    group_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    value_scale: int = 100,
    time_unit_s: int = 1,
) -> str:
    """DuckDB replay: same centering, same integer folds, same op order."""
    x = f"cast(epoch_us({ts_col}) // (1000000 * {time_unit_s}) as bigint)"
    y = f"cast(floor({value_col} * {value_scale}.0e0 + 0.5e0) as bigint)"
    denom = "(n * sxx - sx * sx)"
    slope = f"(cast(n * sxy - sx * sy as double) / cast({denom} as double))"
    intercept = (
        f"((cast(sy as double) - {slope} * cast(sx as double)) / cast(n as double)"
        f" / {float(value_scale)!r}e0)"
    )
    return f"""
        with staged as (
            select {group_col} as grp, {x} as __x, {y} as yc
            from {table}
        ),
        centered as (
            select grp, __x - min(__x) over (partition by grp) as xc, yc
            from staged
        ),
        agg as (
            select grp, count(*) as n,
                   sum(xc) as sx, sum(yc) as sy,
                   sum(xc * yc) as sxy, sum(xc * xc) as sxx
            from centered group by grp
        )
        select grp as {group_col},
               cast(n as bigint) as n,
               case when n >= 2 and {denom} <> 0
                    then round({slope} / {float(value_scale)!r}e0, 9) end as slope,
               case when n >= 2 and {denom} <> 0
                    then round({intercept}, 9) end as intercept
        from agg"""


EPOCH_NTZ = "timestamp_ntz'1970-01-01 00:00:00'"


def funnel(
    events: DataFrame,
    stages: list[str],
    group_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Ordered conversion funnel: per group, the FIRST time each stage was
    reached strictly after the previous stage — (group, n_stages,
    t1..tk as integer epoch micros, null once the chain breaks).

    The standard product-analytics query (view → click → purchase), done as
    k chained conditional-min aggregations: stage i is
    ``min(ts WHERE type = stages[i] AND ts > t_{i-1})`` per group.  Each
    step is one partial-agg shuffle on the group key + one equi-join back to
    the (tiny relative to events) per-group frontier; Catalyst pushes the
    stage's type filter into the scan.  k is the funnel length (small
    constant), so the whole thing is k scans of a type-partitioned events
    table — at 100 TB you'd bucket events by group and ride the layout
    (sources/layout.py), which removes the join shuffles entirely.

    Timestamps are NTZ → integer micros via timezone-free timestampdiff, so
    every comparison and min is exact integer arithmetic.
    """
    x = f"cast(timestampdiff(MICROSECOND, {EPOCH_NTZ}, {ts_col}) as bigint)"
    base = events.selectExpr(
        f"{group_col} as grp", f"{x} as __t", f"{type_col} as __ty"
    )
    frontier = base.select("grp").distinct()
    outs = []
    prev = None
    for i, stage in enumerate(stages, start=1):
        ev_i = base.where(F.col("__ty") == stage)
        if prev is None:
            step = ev_i.groupBy("grp").agg(F.min("__t").alias(f"t{i}"))
        else:
            step = (
                ev_i.join(prev, "grp")
                .where(F.col("__t") > F.col(f"t{i-1}"))
                .groupBy("grp")
                .agg(F.min("__t").alias(f"t{i}"))
            )
        prev = step.select("grp", f"t{i}") if prev is None else (
            prev.join(step.select("grp", f"t{i}"), "grp")
        )
        outs.append(prev.select("grp", f"t{i}"))
    result = frontier
    for i, o in enumerate(outs, start=1):
        result = result.join(o, "grp", "left")
    reached = " + ".join(f"cast(t{i} is not null as int)" for i in range(1, len(stages) + 1))
    return result.selectExpr(
        f"grp as {group_col}",
        f"cast({reached} as bigint) as n_stages",
        *[f"t{i}" for i in range(1, len(stages) + 1)],
    )


def funnel_oracle_sql(
    stages: list[str],
    table: str = "events",
    group_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> str:
    """DuckDB replay: identical chained conditional mins."""
    x = f"cast(epoch_us({ts_col}) as bigint)"
    ctes = [
        f"base as (select {group_col} as grp, {x} as __t, {type_col} as __ty from {table})",
        "f0 as (select distinct grp from base)",
    ]
    for i, stage in enumerate(stages, start=1):
        if i == 1:
            ctes.append(
                f"s1 as (select grp, min(__t) as t1 from base where __ty = '{stage}' group by grp)"
            )
        else:
            ctes.append(
                f"s{i} as (select b.grp, min(b.__t) as t{i} from base b "
                f"join s{i-1} p on b.grp = p.grp "
                f"where b.__ty = '{stage}' and b.__t > p.t{i-1} group by b.grp)"
            )
    reached = " + ".join(f"cast(t{i} is not null as int)" for i in range(1, len(stages) + 1))
    joins = " ".join(f"left join s{i} on f0.grp = s{i}.grp" for i in range(1, len(stages) + 1))
    cols = ", ".join(f"t{i}" for i in range(1, len(stages) + 1))
    return f"""
        with {', '.join(ctes)}
        select f0.grp as {group_col},
               cast({reached} as bigint) as n_stages,
               {cols}
        from f0 {joins}"""


def gap_fill(
    events: DataFrame,
    bucket_s: int = 3600,
    group_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    value_scale: int = 100,
) -> DataFrame:
    """Regular-grid resampling with linear interpolation — (group, bucket,
    value, filled): every ``bucket_s``-second bucket between a group's first
    and last event, observed buckets carrying their mean, missing buckets
    linearly interpolated between the surrounding observations.

    The time-series-densification staple (sensor/metrics pipelines).  Float
    discipline: per-bucket means are Σ(quantized int)/n — one deterministic
    division; the interpolation v_prev + (v_next−v_prev)·Δ/span is a fixed
    IEEE op sequence over those deterministic doubles, so the whole grid is
    value-hash-gateable.

    Shape: one partial-agg shuffle to (group, bucket) means; per-group
    explode(sequence(min,max)) builds the grid (fan-out = time span, the
    densification itself); two windows on the group carry the previous/next
    observation — every stage keyed on the group, reusing one partitioning.
    """
    x = (
        f"cast(timestampdiff(MICROSECOND, {EPOCH_NTZ}, {ts_col})"
        f" div (cast(1000000 as bigint) * {bucket_s}) as bigint)"
    )
    y = f"cast(floor({value_col} * {value_scale}.0e0 + 0.5e0) as bigint)"
    obs = (
        events.selectExpr(f"{group_col} as grp", f"{x} as bucket", f"{y} as yq")
        .groupBy("grp", "bucket")
        .agg(F.sum("yq").alias("sy"), F.count("*").alias("n"))
        .selectExpr(
            "grp", "bucket",
            f"(cast(sy as double) / cast(n as double) / {float(value_scale)!r}e0) as v",
        )
    )
    grid = (
        obs.groupBy("grp")
        .agg(F.min("bucket").alias("b0"), F.max("bucket").alias("b1"))
        .selectExpr("grp", "explode(sequence(b0, b1)) as bucket")
    )
    g = grid.join(obs, ["grp", "bucket"], "left")
    wp = (
        Window.partitionBy("grp").orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wn = (
        Window.partitionBy("grp").orderBy(F.col("bucket").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = (
        g.withColumn("pv", F.last("v", ignorenulls=True).over(wp))
        .withColumn("pb", F.last(F.expr("case when v is not null then bucket end"), ignorenulls=True).over(wp))
        .withColumn("nv", F.last("v", ignorenulls=True).over(wn))
        .withColumn("nb", F.last(F.expr("case when v is not null then bucket end"), ignorenulls=True).over(wn))
    )
    interp = (
        "pv + (nv - pv) * (cast(bucket - pb as double) / cast(nb - pb as double))"
    )
    return filled.selectExpr(
        f"grp as {group_col}",
        "bucket",
        f"round(case when v is not null then v else {interp} end, 9) as value",
        "(v is null) as filled",
    )


def gap_fill_oracle_sql(
    bucket_s: int = 3600,
    table: str = "events",
    group_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    value_scale: int = 100,
) -> str:
    """DuckDB replay: same buckets, same means, same interpolation ops."""
    x = f"cast(epoch_us({ts_col}) // (cast(1000000 as bigint) * {bucket_s}) as bigint)"
    y = f"cast(floor({value_col} * {value_scale}.0e0 + 0.5e0) as bigint)"
    interp = (
        "pv + (nv - pv) * (cast(bucket - pb as double) / cast(nb - pb as double))"
    )
    return f"""
        with obs as (
            select grp, bucket,
                   (cast(sum(yq) as double) / cast(count(*) as double)
                    / {float(value_scale)!r}e0) as v
            from (select {group_col} as grp, {x} as bucket, {y} as yq from {table}) e
            group by grp, bucket
        ),
        grid as (
            select grp, unnest(generate_series(min(bucket), max(bucket))) as bucket
            from obs group by grp
        ),
        g as (select grid.grp, grid.bucket, obs.v
              from grid left join obs on grid.grp = obs.grp and grid.bucket = obs.bucket),
        filled as (
            select grp, bucket, v,
                   last_value(v ignore nulls) over wp as pv,
                   last_value(case when v is not null then bucket end ignore nulls) over wp as pb,
                   last_value(v ignore nulls) over wn as nv,
                   last_value(case when v is not null then bucket end ignore nulls) over wn as nb
            from g
            window wp as (partition by grp order by bucket
                          rows between unbounded preceding and current row),
                   wn as (partition by grp order by bucket desc
                          rows between unbounded preceding and current row)
        )
        select grp as {group_col}, bucket,
               round(case when v is not null then v else {interp} end, 9) as value,
               (v is null) as filled
        from filled"""


def interval_merge(
    events: DataFrame,
    group_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    dur_scale_us: int = 3_000_000,
) -> DataFrame:
    """Overlapping-interval dissolve (interval union per key) — the validity-
    period consolidation the reference's ValidBetween semantics imply
    (`OsmToNetexMapper.java:219-238` builds one ValidBetween per zone; a
    multi-source feed needs overlapping validity windows merged per entity).

    Each event becomes the interval [t, t + floor(value·100+.5)·dur_scale_us]
    in integer epoch micros; intervals per ``group_col`` are merged when they
    overlap or touch, returning (group, island, start_us, end_us, n_events).

    Scale shape: ONE shuffle on the group key; the sweep (running max of
    interval ends over strictly-preceding rows → gap flag → running sum =
    island id) is two frames over the same per-key sort, which Spark executes
    as a single Window exchange+sort.  Integer micros end-to-end — bit-exact
    across engines, no float accumulation.
    """
    s = f"cast(timestampdiff(MICROSECOND, {EPOCH_NTZ}, {ts_col}) as bigint)"
    e = f"{s} + cast(floor({value_col} * 100.0e0 + 0.5e0) as bigint) * {dur_scale_us}"
    iv = events.selectExpr(
        f"{group_col} as grp", f"{s} as s_us", f"{e} as e_us", "event_id"
    )
    w_pre = (
        Window.partitionBy("grp")
        .orderBy(F.col("s_us").asc(), F.col("e_us").asc(), F.col("event_id").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy("grp")
        .orderBy(F.col("s_us").asc(), F.col("e_us").asc(), F.col("event_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    flagged = (
        iv.withColumn("pre_end", F.max("e_us").over(w_pre))
        .withColumn(
            "brk",
            F.when(
                F.col("pre_end").isNull() | (F.col("s_us") > F.col("pre_end")), 1
            ).otherwise(0),
        )
        .withColumn("island", F.sum("brk").over(w_run))
    )
    return (
        flagged.groupBy("grp", "island")
        .agg(
            F.min("s_us").alias("start_us"),
            F.max("e_us").alias("end_us"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .selectExpr(
            f"grp as {group_col}", "island", "start_us", "end_us", "n_events"
        )
    )


def interval_merge_oracle_sql(
    table: str = "events",
    group_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    dur_scale_us: int = 3_000_000,
) -> str:
    """DuckDB replay: identical integer sweep."""
    s = f"cast(epoch_us({ts_col}) as bigint)"
    e = f"{s} + cast(floor({value_col} * 100.0e0 + 0.5e0) as bigint) * {dur_scale_us}"
    return f"""
        with iv as (
            select {group_col} as grp, {s} as s_us, {e} as e_us, event_id
            from {table}
        ),
        flagged as (
            select grp, s_us, e_us, event_id,
                   case when max(e_us) over w_pre is null
                             or s_us > max(e_us) over w_pre
                        then 1 else 0 end as brk
            from iv
            window w_pre as (partition by grp order by s_us asc, e_us asc, event_id asc
                             rows between unbounded preceding and 1 preceding)
        ),
        islands as (
            select grp, s_us, e_us,
                   cast(sum(brk) over (partition by grp order by s_us asc, e_us asc, event_id asc
                                  rows between unbounded preceding and current row)
                        as bigint) as island
            from flagged
        )
        select grp as {group_col}, island,
               min(s_us) as start_us, max(e_us) as end_us,
               count(*) as n_events
        from islands group by grp, island"""


# ---------------------------------------------------------------------------
# Headway analysis (service-frequency stats per stream)
# ---------------------------------------------------------------------------
def headway_sql(d: str, table: str = "events") -> str:
    """Transit-style headway statistics per (event_type, hour-of-day): the
    gap between consecutive events of a type (ordered by ts, event_id) is
    the 'headway'; each gap is attributed to the hour of its LATER event.

    Integer end-to-end: timestamps become epoch micros (the engine-wide
    NTZ-safe idiom), gaps are integer differences, per-group sums/max fold
    exactly; mean_s is the single final division of exact operands.
    Output: (event_type, hour, n_gaps, mean_s, max_s).

    Scale: one keyed window shuffle on event_type + one map-side-combined
    groupBy — the same shape as rolling_stats."""
    if d == "spark":
        us = (
            "cast(timestampdiff(MICROSECOND, "
            "timestamp_ntz'1970-01-01 00:00:00', ts) as bigint)"
        )
        lag = "lag(us) over (partition by event_type order by us, event_id)"
    else:
        us = "cast(epoch_us(ts) as bigint)"
        lag = "lag(us) over (partition by event_type order by us, event_id)"
    idiv = "div" if d == "spark" else "//"
    hour = f"cast((us {idiv} 3600000000) % 24 as int)"
    return f"""
        with t as (
            select event_type, event_id, {us} as us from {table}
        ),
        gaps as (
            select event_type, us, ({lag}) as prev_us from t
        )
        select event_type, {hour} as hour,
               cast(count(*) as bigint) as n_gaps,
               (cast(sum(us - prev_us) as double)
                / (1000000.0e0 * cast(count(*) as double))) as mean_s,
               (cast(max(us - prev_us) as double) / 1000000.0e0) as max_s
        from gaps where prev_us is not null
        group by event_type, {hour}
    """


# ---------------------------------------------------------------------------
# CUSUM changepoint detection (one-sided, integer-exact)
# ---------------------------------------------------------------------------
def cusum_sql(
    d: str,
    table: str = "events",
    slack_q: int = 50_000,
    threshold_q: int = 2_000_000,
) -> str:
    """Per-user one-sided CUSUM drift detector (Page 1954) over the event
    stream, closed-form instead of recursive: with y_t = x_t − mean − slack
    and S_t = Σ_{j<=t} y_j, the recursive C_t = max(0, C_{t−1} + y_t)
    equals S_t − min(0, min_{j<=t} S_j) — two ordinary window frames (prefix
    sum + running min) over ONE per-user sort, no recursion, no UDF.

    Exactness: values quantized to 1e-6 integer units before any fold; the
    per-user mean uses the positive-numerator floor-division trick (offset
    by 1e12 per row) so Spark's truncating ``div`` and DuckDB's flooring
    ``//`` agree.  Alarm fires when C_t exceeds ``threshold_q``.

    Scale: one shuffle on user_id; both windows run in the same sort; the
    mean join is a per-user aggregate broadcast back by the same key —
    Catalyst keeps it inside the window exchange."""
    idiv = "div" if d == "spark" else "//"
    off = 10**12
    return f"""
        with q as (
            select user_id, event_id, ts,
                   cast(floor(value * 1.0e6 + 0.5e0) as bigint) as xq
            from {table}
        ),
        m as (
            select user_id,
                   cast((sum(xq + {off}) {idiv} count(*)) - {off} as bigint)
                       as mean_q
            from q group by user_id
        ),
        y as (
            select q.user_id, q.event_id, q.ts,
                   q.xq - m.mean_q - {int(slack_q)} as yq
            from q join m using (user_id)
        ),
        s as (
            select user_id, event_id, ts,
                   cast(sum(yq) over w as bigint) as s_q
            from y
            window w as (partition by user_id order by ts asc, event_id asc
                         rows between unbounded preceding and current row)
        ),
        r as (
            select user_id, event_id, s_q,
                   cast(min(s_q) over w2 as bigint) as smin_q
            from s
            window w2 as (partition by user_id order by ts asc, event_id asc
                          rows between unbounded preceding and current row)
        )
        select user_id, event_id,
               cast(s_q - least(smin_q, 0) as bigint) as cusum_q,
               (s_q - least(smin_q, 0)) > {int(threshold_q)} as alarm
        from r"""
