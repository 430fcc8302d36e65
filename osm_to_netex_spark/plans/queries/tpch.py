"""TPC-H query shapes and relational operators over the TPC-H tables:
multi-way joins, semi-join reduction, market baskets, skylines, record
linkage, CDC/SCD2 history and compaction planning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ...functions.portable import DUCK, SPARK
from ...operators import basket, bloom, linkage, skyline, temporal
from .corpus import register_geometry_views


def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date range join: per order, how many lineitems (of ANY order) shipped
    within [o_orderdate, o_orderdate+7d] — bucketed equi-join + refine (the
    scalable form); the oracle runs the naive BETWEEN theta-join."""
    register_geometry_views(spark, sf_dir)
    orders = spark.table("orders").select(
        "o_orderkey",
        F.col("o_orderdate").cast("date").alias("d0"),
        F.date_add(F.col("o_orderdate").cast("date"), 7).alias("d1"),
    )
    # the point side is keyless vs the interval side, so result size is
    # |points in window| × |orders| / date-span — scope the point side (returned
    # small-quantity shipments, ~5% of lineitem) to keep the workload the
    # range-join pattern, not an intentionally quadratic blow-up: unscoped at
    # sf0.1 the join legitimately emits ~285M pairs (benched at 130s)
    items = spark.table("lineitem").where(
        "l_returnflag = 'R' and l_quantity <= 10"
    ).select(F.col("l_shipdate").alias("sd"))
    joined = temporal.date_interval_join(
        items, orders, point_date="sd", start_date="d0", end_date="d1", bucket_days=7
    )
    return joined.groupBy("o_orderkey").agg(
        F.count(F.lit(1)).alias("n_shipped_in_window")
    )


def q_range_join_oracle() -> str:
    return """
        select o.o_orderkey as o_orderkey,
               cast(count(*) as bigint) as n_shipped_in_window
        from orders o join lineitem l
          on cast(l.l_shipdate as date)
             between cast(o.o_orderdate as date)
                 and cast(o.o_orderdate as date) + interval 7 day
        where l.l_returnflag = 'R' and l.l_quantity <= 10
        group by o.o_orderkey
    """


def q_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter semi-join reduction: filter built over big-spender
    custkeys (orders > 40k), probed by every customer; output carries the
    deterministic might_contain verdict AND exact membership, so the false
    positives themselves are value-hash-gated."""
    register_geometry_views(spark, sf_dir)
    keys = (
        spark.table("orders")
        .where("o_totalprice > 40000.0e0")
        .selectExpr("o_custkey as k")
        .distinct()
    )
    bits = bloom.bloom_build(keys, "k", m_bits=2048, k_hashes=3)
    probes = spark.table("customer").selectExpr("c_custkey as k")
    out = bloom.bloom_probe(probes, bits, "k", m_bits=2048, k_hashes=3)
    actual = keys.selectExpr("k", "true as actual")
    return out.join(actual, "k", "left").selectExpr(
        "k as cust_key", "might_contain", "coalesce(actual, false) as actual"
    )


def q_bloom_oracle() -> str:
    bits = ", ".join(
        bloom.bit_expr("k", s, 2048, DUCK) for s in range(3)
    )
    return f"""
        with keys as (select distinct o_custkey as k from orders
                      where o_totalprice > 40000.0e0),
        bts as (select distinct bit from (
            {' union all '.join(f'select {bloom.bit_expr("k", s, 2048, DUCK)} as bit from keys' for s in range(3))}
        )),
        probes as (select c_custkey as k from customer),
        pr as (select k, unnest([{bits}]) as bit from probes),
        hits as (select k from pr join bts using (bit)
                 group by k having count(*) = 3)
        select p.k as cust_key,
               (h.k is not null) as might_contain,
               (kk.k is not null) as actual
        from probes p
        left join hits h on p.k = h.k
        left join keys kk on p.k = kk.k"""


def _cdc_log_sql(d: str) -> str:
    """Deterministic CDC log synthesized from orders: each key emits 1-3
    versions (seq), the last being a DELETE for every 7th key; value and
    timestamp derive from (key, seq)."""
    n_versions = "(1 + o_orderkey % 3)"
    if d == SPARK:
        seq_rows = f"lateral view explode(sequence(1, {n_versions})) t as seq"
        dcol = "date_add(o_orderdate, cast(seq as int))"
    else:
        seq_rows = f"cross join unnest(generate_series(1, {n_versions})) t(seq)"
        dcol = "o_orderdate + to_days(cast(seq as int))"
    return f"""
        select o_orderkey as k, cast(seq as bigint) as seq,
               case when seq = {n_versions} and o_orderkey % 7 = 0 then 'D'
                    when seq = 1 then 'I' else 'U' end as op,
               round(o_totalprice + seq * 0.25e0, 2) as val,
               {dcol} as valid_from
        from orders {seq_rows}"""


def q_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC log → final table state: latest version per key wins, deletes
    drop the key — ONE partial-aggregated struct-max per key (no window
    sort of the log)."""
    register_geometry_views(spark, sf_dir)
    return spark.sql(f"""
        with log as ({_cdc_log_sql(SPARK)}),
        latest as (
            select k, max(struct(seq, op, val)) as m
            from log group by k
        )
        select k, m.seq as seq, m.val as val
        from latest where m.op <> 'D'""")


def q_cdc_apply_oracle() -> str:
    return f"""
        with log as ({_cdc_log_sql(DUCK)}),
        latest as (
            select k, max(struct_pack(seq := seq, op := op, val := val)) as m
            from log group by k
        )
        select k, (m).seq as seq, (m).val as val
        from latest where (m).op <> 'D'"""


def q_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type-2 history from the CDC log: one
    validity interval per version (valid_from, valid_to = next version's
    start or null, is_current), one window on the key."""
    register_geometry_views(spark, sf_dir)
    return spark.sql(f"""
        with log as ({_cdc_log_sql(SPARK)})
        select k, seq, op, val,
               cast(valid_from as string) as valid_from,
               cast(lead(valid_from) over (partition by k order by seq) as string) as valid_to,
               (lead(valid_from) over (partition by k order by seq) is null and op <> 'D') as is_current
        from log""")


def q_scd2_oracle() -> str:
    return f"""
        with log as ({_cdc_log_sql(DUCK)})
        select k, seq, op, val,
               cast(cast(valid_from as date) as varchar) as valid_from,
               cast(cast(lead(valid_from) over (partition by k order by seq) as date) as varchar) as valid_to,
               (lead(valid_from) over (partition by k order by seq) is null and op <> 'D') as is_current
        from log"""


# ---------------------------------------------------------------------------
# fuzzy record linkage (blocked edit-distance join)
# ---------------------------------------------------------------------------
_FUZZY_MUL = 2654435761  # Knuth multiplicative constant — portable int arith


def _dirty_names_sql(d: str) -> str:
    """Deterministically corrupt each part name: delete the character at
    position 1 + (p_partkey·MUL mod len) — pure integer arithmetic and
    substr, identical in both engines."""
    k = f"(1 + ((p_partkey * {_FUZZY_MUL}) % length(p_name)))"
    return f"""
        select p_partkey as rec_id,
               concat(substr(p_name, 1, {k} - 1), substr(p_name, {k} + 1))
                   as dirty_name
        from part"""


def q_fuzzy_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution: corrupted part names matched back to the clean
    name dictionary under levenshtein<=2 — broadcast dictionary, length-band
    prefilter, bounded-DP distance, one map-side argmin (linkage.py)."""
    register_geometry_views(spark, sf_dir)
    dirty = spark.sql(_dirty_names_sql(SPARK))
    clean = spark.table("part").select(F.col("p_name").alias("name"))
    return linkage.fuzzy_match(
        dirty, clean, dirty_key="rec_id", dirty_col="dirty_name",
        clean_col="name", max_dist=2,
    )


def q_fuzzy_match_oracle() -> str:
    return f"""
        with dirty as ({_dirty_names_sql(DUCK)}),
        clean as (select distinct p_name as name from part),
        cand as (
            select d.rec_id, d.dirty_name, c.name,
                   levenshtein(d.dirty_name, c.name) as dist
            from dirty d join clean c
              on abs(length(d.dirty_name) - length(c.name)) <= 2
        ),
        ranked as (
            select rec_id, dirty_name, name as match_name, dist,
                   row_number() over (partition by rec_id
                                      order by dist asc, name asc) as rn
            from cand where dist <= 2
        )
        select rec_id, dirty_name, match_name, dist from ranked where rn = 1"""


# ---------------------------------------------------------------------------
# 2-D skyline (Pareto frontier)
# ---------------------------------------------------------------------------
def q_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto frontier of parts — minimal price, maximal size — via the
    bucketed two-phase plan (skyline.py): distinct-first, per-bucket window,
    cross-bucket prefix max.  Oracle is the O(n²) NOT EXISTS dominance
    definition; agreement proves the linear plan exact."""
    register_geometry_views(spark, sf_dir)
    sky = skyline.skyline2d(
        spark.table("part"), "p_retailprice", "p_size", n_buckets=64
    )
    return sky.selectExpr(
        "x as price", "cast(y as int) as size", "n_rows as n_parts"
    )


def q_skyline_oracle() -> str:
    return """
        with pairs as (
            select p_retailprice as price, p_size as size,
                   count(*) as n_parts
            from part group by 1, 2
        )
        select price, size, n_parts from pairs p
        where not exists (
            select 1 from pairs q
            where q.price <= p.price and q.size >= p.size
              and (q.price < p.price or q.size > p.size))"""


# ---------------------------------------------------------------------------
# frequent itemset pairs (a-priori market basket)
# ---------------------------------------------------------------------------
def q_frequent_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence: part pairs sharing >=3 orders, with lift
    — distinct-first, a-priori singleton prefilter before the pair join,
    broadcast supports (basket.py)."""
    register_geometry_views(spark, sf_dir)
    return basket.frequent_pairs(spark.table("lineitem"), min_support=3)


def q_frequent_pairs_oracle() -> str:
    return basket.frequent_pairs_oracle_sql(min_support=3)


# ---------------------------------------------------------------------------
# star-schema rollup (TPC-H Q5 shape)
# ---------------------------------------------------------------------------
def _star_rollup_sql(d: str) -> str:
    """Revenue by region/nation through the full dimension chain
    lineitem→orders→customer→nation→region.  Per-row revenue
    l_extendedprice·(1−l_discount) is a deterministic IEEE product,
    quantized to int 1e-4 units BEFORE the sum so group totals are
    order-free integers.  Shape: two fact-sized hash joins (lineitem⨝orders,
    orders⨝customer — sort-merge + AQE at scale), then broadcast snowflake
    dims (nation, region); aggregation map-side combines on (region,
    nation)."""
    rev = (
        "cast(floor(l_extendedprice * (1.0e0 - l_discount) * 1.0e4 + 0.5e0)"
        " as bigint)"
    )
    return f"""
        select r_name as region, n_name as nation,
               count(*) as n_lines, cast(sum({rev}) as bigint) as revenue_q4
        from lineitem
        join orders   on l_orderkey  = o_orderkey
        join customer on o_custkey   = c_custkey
        join nation   on c_nationkey = n_nationkey
        join region   on n_regionkey = r_regionkey
        group by r_name, n_name"""


def q_star_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_geometry_views(spark, sf_dir)
    return spark.sql(_star_rollup_sql(SPARK))


def q_star_rollup_oracle() -> str:
    return _star_rollup_sql(DUCK)


# ---------------------------------------------------------------------------
# TPC-H classics: Q1 pricing summary, Q3 shipping priority, Q18 big orders
# ---------------------------------------------------------------------------
def _tpch_q1_sql(d: str) -> str:
    """TPC-H Q1 shape: per (returnflag, linestatus) pricing summary over
    lineitems shipped before the cutoff.  Every per-row money/qty term is
    quantized to int 1e-4 units BEFORE its sum (order-free bigint folds);
    the averages are single double divisions at the end."""
    q4 = lambda x: f"cast(floor(({x}) * 1.0e4 + 0.5e0) as bigint)"  # noqa: E731
    disc = "l_extendedprice * (1.0e0 - l_discount)"
    charge = f"({disc}) * (1.0e0 + l_tax)"
    return f"""
        select l_returnflag, l_linestatus,
               count(*) as count_order,
               cast(sum({q4('l_quantity')}) as bigint) as sum_qty_q4,
               cast(sum({q4('l_extendedprice')}) as bigint) as sum_base_q4,
               cast(sum({q4(disc)}) as bigint) as sum_disc_q4,
               cast(sum({q4(charge)}) as bigint) as sum_charge_q4,
               round(cast(sum({q4('l_quantity')}) as double)
                     / (cast(count(*) as double) * 1.0e4), 9) as avg_qty,
               round(cast(sum({q4('l_extendedprice')}) as double)
                     / (cast(count(*) as double) * 1.0e4), 9) as avg_price
        from lineitem
        where l_shipdate <= timestamp '2000-06-01 00:00:00'
        group by l_returnflag, l_linestatus"""


def q_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One fact-scan aggregate with map-side combine; the shipdate filter is
    pushed to the parquet scan."""
    register_geometry_views(spark, sf_dir)
    return spark.sql(_tpch_q1_sql(SPARK))


def q_tpch_q1_oracle() -> str:
    return _tpch_q1_sql(DUCK)


def _tpch_q3_sql(d: str) -> str:
    """TPC-H Q3 shape: top-10 open orders by pending revenue — orders placed
    before the cutoff with lineitems shipping after it.  Revenue quantized
    per row; the global top-10 is a TakeOrderedAndProject on the integer
    (revenue, orderkey) pair — fully deterministic."""
    rev = ("cast(floor(l_extendedprice * (1.0e0 - l_discount) * 1.0e4 + 0.5e0)"
           " as bigint)")
    od = ("date_format(o_orderdate, 'yyyy-MM-dd')" if d == SPARK
          else "strftime(o_orderdate, '%Y-%m-%d')")
    return f"""
        select o_orderkey, {od} as orderdate,
               o_orderpriority, cast(sum({rev}) as bigint) as revenue_q4
        from orders join lineitem on l_orderkey = o_orderkey
        where o_orderdate < timestamp '1998-06-01 00:00:00'
          and l_shipdate  > timestamp '1998-06-01 00:00:00'
        group by o_orderkey, {od}, o_orderpriority
        order by revenue_q4 desc, o_orderkey
        limit 10"""


def q_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_geometry_views(spark, sf_dir)
    return spark.sql(_tpch_q3_sql(SPARK))


def q_tpch_q3_oracle() -> str:
    return _tpch_q3_sql(DUCK)


def _tpch_q18_sql(d: str) -> str:
    """TPC-H Q18 shape: large-volume orders — orders whose total quantity
    exceeds the threshold, with their customer.  The HAVING prunes on the
    pre-joined fact aggregate (semi-join shape: aggregate lineitem FIRST,
    then join the survivors to orders/customer — the fact table crosses the
    join boundary once, at order granularity)."""
    qq = "cast(floor(l_quantity * 1.0e4 + 0.5e0) as bigint)"
    od = ("date_format(o_orderdate, 'yyyy-MM-dd')" if d == SPARK
          else "strftime(o_orderdate, '%Y-%m-%d')")
    return f"""
        with big as (
            select l_orderkey, cast(sum({qq}) as bigint) as total_qty_q4
            from lineitem group by l_orderkey
            having sum({qq}) > 1500000
        )
        select c_custkey, c_name, o_orderkey,
               {od} as orderdate, total_qty_q4
        from big
        join orders on o_orderkey = l_orderkey
        join customer on c_custkey = o_custkey"""


def q_tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_geometry_views(spark, sf_dir)
    return spark.sql(_tpch_q18_sql(SPARK))


def q_tpch_q18_oracle() -> str:
    return _tpch_q18_sql(DUCK)


def _tpch_q4_sql(d: str) -> str:
    """TPC-H Q4 shape (priority counts over a semi-join): orders in a
    quarter with AT LEAST ONE late-shipping lineitem (exists → left-semi),
    counted by priority.  The testdata lineitem carries no commitdate, so
    'late' = shipped more than 60 days after order date — same plan shape
    (date-windowed fact scan, semi-join on the key, tiny group-by), pure
    integer output."""
    lag = (
        "l_shipdate > o_orderdate + interval 60 days" if d == SPARK
        else "l_shipdate > o_orderdate + interval 60 day"
    )
    return f"""
        select o_orderpriority, cast(count(*) as bigint) as order_count
        from orders
        where o_orderdate >= timestamp '1998-01-01 00:00:00'
          and o_orderdate <  timestamp '1998-07-01 00:00:00'
          and exists (
            select 1 from lineitem
            where l_orderkey = o_orderkey and {lag}
          )
        group by o_orderpriority
    """


def q_tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q4 shape: EXISTS decorrelates to a left-semi join; the fact crosses
    the join once at order granularity."""
    register_geometry_views(spark, sf_dir)
    return spark.sql(_tpch_q4_sql(SPARK))


def q_tpch_q4_oracle() -> str:
    return _tpch_q4_sql(DUCK)


def _tpch_q12_sql(d: str) -> str:
    """TPC-H Q12 shape (conditional aggregation after a fact join): per
    l_returnflag (the testdata's stand-in for shipmode), count high- vs
    low-priority orders among lineitems shipping in a window — integer
    conditional sums, one join, one tiny group-by."""
    return f"""
        select l_returnflag,
               cast(sum(case when o_orderpriority in ('1-URGENT', '2-HIGH')
                        then 1 else 0 end) as bigint) as high_line_count,
               cast(sum(case when o_orderpriority not in ('1-URGENT', '2-HIGH')
                        then 1 else 0 end) as bigint) as low_line_count
        from lineitem join orders on l_orderkey = o_orderkey
        where l_shipdate >= timestamp '1998-01-01 00:00:00'
          and l_shipdate <  timestamp '1998-07-01 00:00:00'
        group by l_returnflag
    """


def q_tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q12 shape: windowed fact scan (PushedFilters on l_shipdate) joined to
    orders, conditional integer sums."""
    register_geometry_views(spark, sf_dir)
    return spark.sql(_tpch_q12_sql(SPARK))


def q_tpch_q12_oracle() -> str:
    return _tpch_q12_sql(DUCK)


def _tpch_q7_sql(d: str) -> str:
    """TPC-H Q7 shape (volume shipping between nation pairs by year): the
    two-dimension-chain fact join — lineitem→orders→customer→nation crossed
    with lineitem→supplier→nation — revenue quantized per row to int 1e-4
    BEFORE the sum, grouped by (supp_nation, cust_nation, year)."""
    yr = (
        "year(l_shipdate)" if d == SPARK
        else "cast(date_part('year', l_shipdate) as bigint)"
    )
    rev = (
        "cast(floor(l_extendedprice * (1.0e0 - l_discount) * 1.0e4 + 0.5e0)"
        " as bigint)"
    )
    return f"""
        select n1.n_name as supp_nation, n2.n_name as cust_nation,
               cast({yr} as bigint) as l_year,
               count(*) as n_lines,
               cast(sum({rev}) as bigint) as revenue_q4
        from lineitem
        join supplier on s_suppkey   = l_suppkey
        join orders   on o_orderkey  = l_orderkey
        join customer on c_custkey   = o_custkey
        join nation n1 on n1.n_nationkey = s_nationkey
        join nation n2 on n2.n_nationkey = c_nationkey
        where n1.n_nationkey <> n2.n_nationkey
        group by n1.n_name, n2.n_name, {yr}"""


def q_tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q7 shape: fact-sized hash joins to both dimension chains (broadcast
    snowflake dims), map-side-combined aggregate on the pair-year key."""
    register_geometry_views(spark, sf_dir)
    return spark.sql(_tpch_q7_sql(SPARK))


def q_tpch_q7_oracle() -> str:
    return _tpch_q7_sql(DUCK)


def _tpch_q10_sql(d: str) -> str:
    """TPC-H Q10 shape (returned-item revenue ranking): customers ranked by
    revenue lost to returns in a quarter — fact join + group by customer +
    deterministic global top-20 on the integer (revenue, custkey) pair."""
    rev = (
        "cast(floor(l_extendedprice * (1.0e0 - l_discount) * 1.0e4 + 0.5e0)"
        " as bigint)"
    )
    return f"""
        select c_custkey, c_name, n_name,
               count(*) as n_lines,
               cast(sum({rev}) as bigint) as revenue_q4
        from lineitem
        join orders   on o_orderkey  = l_orderkey
        join customer on c_custkey   = o_custkey
        join nation   on n_nationkey = c_nationkey
        where l_returnflag = 'R'
          and o_orderdate >= timestamp '1998-01-01 00:00:00'
          and o_orderdate <  timestamp '1998-07-01 00:00:00'
        group by c_custkey, c_name, n_name
        order by revenue_q4 desc, c_custkey asc
        limit 20"""


def q_tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q10 shape: pushed returnflag+date filters, broadcast dims, top-20 via
    TakeOrderedAndProject on an integer key."""
    register_geometry_views(spark, sf_dir)
    return spark.sql(_tpch_q10_sql(SPARK))


def q_tpch_q10_oracle() -> str:
    return _tpch_q10_sql(DUCK)


# ---------------------------------------------------------------------------
# TPC-H Q5 (local supplier volume)
# ---------------------------------------------------------------------------
def _tpch_q5_sql(d: str) -> str:
    """TPC-H Q5 shape — local-supplier volume per nation within a region/
    date window: the six-table snowflake join with the customer-and-
    supplier-same-nation correlation predicate (the join-order stress case
    Q7 doesn't exercise: the c↔s nation equality closes a CYCLE in the
    join graph).  Revenue quantized per row to int 1e-4 before the sum
    (the engine's TPC-H idiom).

    Scale: fact-sized hash joins against broadcast snowflake dimensions;
    one map-side-combined aggregate on nation."""
    return """
        select n_name,
               cast(count(*) as bigint) as n_lines,
               cast(sum(cast(floor(l_extendedprice * (1.0e0 - l_discount)
                    * 1.0e4 + 0.5e0) as bigint)) as bigint) as revenue_q4
        from customer
        join orders   on o_custkey   = c_custkey
        join lineitem on l_orderkey  = o_orderkey
        join supplier on s_suppkey   = l_suppkey
                     and s_nationkey = c_nationkey
        join nation   on n_nationkey = c_nationkey
        join region   on r_regionkey = n_regionkey
        where r_name = 'ASIA'
          and o_orderdate >= date '1996-01-01'
          and o_orderdate <  date '1997-01-01'
        group by n_name"""


def q_tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_geometry_views(spark, sf_dir)
    return spark.sql(_tpch_q5_sql(SPARK))


def q_tpch_q5_oracle() -> str:
    return _tpch_q5_sql(DUCK)


# ---------------------------------------------------------------------------
# TPC-H Q6 and Q14 shapes (filters-only agg; join with ratio-of-sums)
# ---------------------------------------------------------------------------
def _tpch_q6_sql(d: str) -> str:
    """TPC-H Q6 shape — the forecasting-revenue-change scan: ONE fact table,
    THREE pushed-down range predicates, no join, no group — the purest
    predicate-pushdown / scan-throughput probe in the suite.  Revenue
    (extendedprice × discount) quantized per row to int 1e-4 before the sum
    (the engine's TPC-H idiom)."""
    return """
        select cast(count(*) as bigint) as n_lines,
               cast(sum(cast(floor(l_extendedprice * l_discount
                    * 1.0e4 + 0.5e0) as bigint)) as bigint) as revenue_q4
        from lineitem
        where l_shipdate >= timestamp '1996-01-01 00:00:00'
          and l_shipdate <  timestamp '1997-01-01 00:00:00'
          and l_discount >= 0.03e0 and l_discount <= 0.05e0
          and l_quantity < 24.0e0"""


def q_tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_geometry_views(spark, sf_dir)
    return spark.sql(_tpch_q6_sql(SPARK))


def q_tpch_q6_oracle() -> str:
    return _tpch_q6_sql(DUCK)


def _tpch_q14_sql(d: str) -> str:
    """TPC-H Q14 shape — promo revenue share: fact→part join with a
    CONDITIONAL numerator over the same aggregate pass (promo vs total), a
    ratio of two integer-quantized sums, one final division; the testdata's
    p_type carries real 'PROMO ...' values so the predicate is verbatim."""
    promo = "p_type like 'PROMO%'"
    rev = "cast(floor(l_extendedprice * (1.0e0 - l_discount) * 1.0e4 + 0.5e0) as bigint)"
    return f"""
        select cast(sum(case when {promo} then {rev} else 0 end) as bigint)
                   as promo_rev_q4,
               cast(sum({rev}) as bigint) as total_rev_q4,
               round(100.0e0 * cast(sum(case when {promo} then {rev} else 0 end)
                     as double) / cast(sum({rev}) as double), 9) as promo_pct
        from lineitem
        join part on p_partkey = l_partkey
        where l_shipdate >= timestamp '1996-09-01 00:00:00'
          and l_shipdate <  timestamp '1996-10-01 00:00:00'"""


def q_tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_geometry_views(spark, sf_dir)
    return spark.sql(_tpch_q14_sql(SPARK))


def q_tpch_q14_oracle() -> str:
    return _tpch_q14_sql(DUCK)


def _tpch_q17_sql(d: str) -> str:
    """TPC-H Q17 shape — small-quantity-order revenue: the CORRELATED
    scalar-subquery pattern (l_quantity < 0.2 · per-part average), planned
    as a per-part aggregate joined back to the fact.  The fractional
    predicate is made integer-exact: l_quantity is integral in this data,
    so q < 0.2·(sum/cnt) ⟺ 5·q·cnt < sum — bigint comparison, no float
    average anywhere (a parallel double avg would be fold-order-dependent).

    Scale: one map-side-combined per-part aggregate, broadcast back; the
    fact is scanned twice (agg + probe) — the standard Q17 plan."""
    return """
        select cast(count(*) as bigint) as n_lines,
               cast(sum(cast(floor(l_extendedprice * 1.0e4 + 0.5e0) as bigint))
                    as bigint) as revenue_q4
        from lineitem
        join part on p_partkey = l_partkey
        join (select l_partkey as pk,
                     cast(sum(cast(l_quantity as bigint)) as bigint) as sq,
                     cast(count(*) as bigint) as cnt
              from lineitem group by l_partkey) a on a.pk = l_partkey
        where p_brand in ('Brand#1', 'Brand#2', 'Brand#3')
          and 5 * cast(l_quantity as bigint) * cnt < sq"""


def q_tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_geometry_views(spark, sf_dir)
    return spark.sql(_tpch_q17_sql(SPARK))


def q_tpch_q17_oracle() -> str:
    return _tpch_q17_sql(DUCK)


def _tpch_q15_sql(d: str) -> str:
    """TPC-H Q15 shape — top supplier(s) by 3-month revenue: the
    argmax-over-aggregate pattern (view + global max + equality join in the
    original), planned as one supplier aggregate reused for both the max
    and the probe.  Revenue integer-quantized per row before the sum, so
    the global max and the equality filter are exact bigint comparisons —
    ties kept, as the spec requires."""
    return """
        with rev as (
            select l_suppkey as supplier_no,
                   cast(sum(cast(floor(l_extendedprice * (1.0e0 - l_discount)
                        * 1.0e4 + 0.5e0) as bigint)) as bigint) as total_q4
            from lineitem
            where l_shipdate >= timestamp '1996-01-01 00:00:00'
              and l_shipdate <  timestamp '1996-04-01 00:00:00'
            group by l_suppkey
        )
        select s_suppkey, s_name, total_q4
        from supplier join rev on supplier_no = s_suppkey
        where total_q4 = (select max(total_q4) from rev)"""


def q_tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_geometry_views(spark, sf_dir)
    return spark.sql(_tpch_q15_sql(SPARK))


def q_tpch_q15_oracle() -> str:
    return _tpch_q15_sql(DUCK)


# per-row integer quantization of money expressions (exact IEEE-double
# product then floor — bit-identical across both engines)
_REV_Q4 = (
    "cast(floor(l_extendedprice * (1.0e0 - l_discount) * 1.0e4 + 0.5e0)"
    " as bigint)"
)
_PRICE_Q4 = "cast(floor(l_extendedprice * 1.0e4 + 0.5e0) as bigint)"


def _ep(d: str):
    # tz-free epoch seconds (see _sessionize_sql, plans/queries/stats.py)
    if d == SPARK:
        return lambda c: (
            "(timestampdiff(MICROSECOND, timestamp_ntz'1970-01-01 00:00:00', "
            f"{c}) / 1.0e6)"
        )
    return lambda c: f"epoch({c})"


def _year(d: str):
    if d == SPARK:
        return lambda c: f"cast(year({c}) as bigint)"
    return lambda c: f"cast(date_part('year', {c}) as bigint)"


def _spark_runner(sql_builder):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        register_geometry_views(spark, sf_dir)
        return spark.sql(sql_builder(SPARK))

    return run


# ---------------------------------------------------------------------------
# Q2 — minimum-cost supplier (correlated scalar MIN subquery)
# ---------------------------------------------------------------------------
def _tpch_q2_sql(d: str) -> str:
    """TPC-H Q2 shape — for each qualifying part, the region's suppliers
    achieving the MINIMUM supply cost, via a correlated scalar-min
    subquery re-scanning the cost relation.  Supply cost is stood in by
    the supplier's best observed unit price for the part
    (min l_extendedprice/l_quantity over their shipments), quantized to
    int 1e-4 per row before the min so the correlated comparison is an
    exact bigint equality.

    Scale: the cost relation is one map-side-combined aggregate of the
    fact keyed (part, supplier); Catalyst rewrites the correlated min as
    a per-part aggregate + join (no per-row re-execution); the dimension
    probes are broadcasts."""
    return """
        with cost as (
            select l_partkey as pk, l_suppkey as sk,
                   cast(min(cast(floor(l_extendedprice / l_quantity * 1.0e4
                        + 0.5e0) as bigint)) as bigint) as unit_cost_q4
            from lineitem
            group by l_partkey, l_suppkey
        ),
        rcost as (
            select c.pk, c.sk, c.unit_cost_q4, s_name, n_name, s_acctbal
            from cost c
            join supplier on s_suppkey = c.sk
            join nation on n_nationkey = s_nationkey
            join region on r_regionkey = n_regionkey
            where r_name = 'EUROPE'
        )
        select p_partkey, sk as s_suppkey, s_name, n_name, unit_cost_q4,
               cast(floor(s_acctbal * 1.0e2 + 0.5e0) as bigint) as s_acctbal_q2
        from part
        join rcost on pk = p_partkey
        where p_size between 10 and 20 and p_type = 'STANDARD'
          and unit_cost_q4 = (select min(r2.unit_cost_q4) from rcost r2
                              where r2.pk = p_partkey)"""


# ---------------------------------------------------------------------------
# Q8 — national market share (two-level conditional-share aggregate)
# ---------------------------------------------------------------------------
def _tpch_q8_sql(d: str) -> str:
    """TPC-H Q8 shape — a nation's share of a region's order volume for a
    part type, per year: the 8-table join chain (fact → part, →
    orders → customer → nation → region on the demand side, → supplier →
    nation on the supply side) feeding a conditional-share aggregate.
    Both share terms are exact bigint sums of per-row-quantized revenue;
    the share itself is one final division of exact operands.

    Scale: dimension chain is all broadcasts; one shuffle on the tiny
    (year) grouping after map-side partial aggregation."""
    yr = _year(d)("o_orderdate")
    return f"""
        with vol as (
            select {yr} as o_year, {_REV_Q4} as rev_q4, n2.n_name as supp_nation
            from lineitem
            join part on p_partkey = l_partkey
            join orders on o_orderkey = l_orderkey
            join customer on c_custkey = o_custkey
            join nation n1 on n1.n_nationkey = c_nationkey
            join region on r_regionkey = n1.n_regionkey
            join supplier on s_suppkey = l_suppkey
            join nation n2 on n2.n_nationkey = s_nationkey
            where r_name = 'ASIA' and p_type = 'PROMO'
              and o_orderdate >= timestamp '1996-01-01 00:00:00'
              and o_orderdate <  timestamp '1998-01-01 00:00:00'
        )
        select o_year,
               cast(sum(case when supp_nation = 'NATION_2' then rev_q4
                        else 0 end) as bigint) as nation_rev_q4,
               cast(sum(rev_q4) as bigint) as total_rev_q4,
               round(cast(sum(case when supp_nation = 'NATION_2' then rev_q4
                          else 0 end) as double)
                     / cast(sum(rev_q4) as double), 9) as mkt_share
        from vol
        group by o_year"""


# ---------------------------------------------------------------------------
# Q9 — product-type profit (LIKE-filtered fact, two-sided money terms)
# ---------------------------------------------------------------------------
def _tpch_q9_sql(d: str) -> str:
    """TPC-H Q9 shape — profit by supplier nation and year over a
    LIKE-filtered part set: revenue minus cost where ps_supplycost·qty is
    stood in by p_retailprice·qty (no partsupp in the testdata).  Each
    money term is quantized per row; the difference and the sum are exact
    bigint arithmetic.

    Scale: part LIKE filter broadcast-prunes the fact before the
    supplier/nation/orders broadcasts; one (nation, year) shuffle."""
    yr = _year(d)("o_orderdate")
    cost = "cast(floor(p_retailprice * l_quantity * 1.0e4 + 0.5e0) as bigint)"
    return f"""
        select n_name as nation, {yr} as o_year,
               cast(sum({_REV_Q4} - {cost}) as bigint) as profit_q4
        from lineitem
        join part on p_partkey = l_partkey
        join supplier on s_suppkey = l_suppkey
        join nation on n_nationkey = s_nationkey
        join orders on o_orderkey = l_orderkey
        where p_name like '%red%'
        group by n_name, {yr}"""


# ---------------------------------------------------------------------------
# Q11 — important stock (scalar-fraction-of-total threshold)
# ---------------------------------------------------------------------------
def _tpch_q11_sql(d: str) -> str:
    """TPC-H Q11 shape — groups whose aggregate value exceeds a fixed
    fraction of the global total (scalar subquery over the same
    aggregate).  Stock value is stood in by per-part revenue.  TPC-H's
    fixed fraction scales with 1/SF; with a fixed part universe the
    scale-free equivalent is a mean-relative threshold — value > 1.2×
    the mean part value, i.e. value·n_parts·10 > total·12 — expressed as
    integer cross-multiplication, so no float threshold exists anywhere
    and the gate stays non-trivially selective at every SF (~17% of
    parts qualify).

    Scale: one map-side-combined per-part aggregate; the global total is
    a 1-row scalar broadcast back — the same two-pass plan TPC-H
    prescribes, with no re-scan of the fact."""
    return f"""
        with val as (
            select l_partkey as p_partkey,
                   cast(sum({_PRICE_Q4}) as bigint) as value_q4
            from lineitem
            group by l_partkey
        )
        select p_partkey, value_q4
        from val
        where value_q4 * (select cast(count(*) as bigint) from val) * 10
              > (select cast(sum(value_q4) as bigint) from val) * 12"""


# ---------------------------------------------------------------------------
# Q13 — customer order-count distribution (outer join + double aggregate)
# ---------------------------------------------------------------------------
def _tpch_q13_sql(d: str) -> str:
    """TPC-H Q13 shape — the distribution of per-customer order counts:
    LEFT OUTER join with the filter in the join condition (so zero-order
    customers survive with count 0), then a second aggregate over the
    first.  The comment NOT LIKE filter is stood in by o_orderpriority.

    Scale: outer join shuffles on custkey with the filter pushed into the
    join; the histogram re-aggregation is over |customers| rows."""
    return """
        with c_orders as (
            select c_custkey, cast(count(o_orderkey) as bigint) as c_count
            from customer
            left join orders on o_custkey = c_custkey
                 and o_orderpriority <> '1-URGENT'
            group by c_custkey
        )
        select c_count, cast(count(*) as bigint) as custdist
        from c_orders
        group by c_count"""


# ---------------------------------------------------------------------------
# Q16 — supplier diversity per part group (NOT IN + COUNT DISTINCT)
# ---------------------------------------------------------------------------
def _tpch_q16_sql(d: str) -> str:
    """TPC-H Q16 shape — distinct suppliers per (brand, type, size band)
    excluding a NOT IN supplier subquery (complaint suppliers stood in by
    negative account balance) and an excluded brand list.  partsupp is
    stood in by the lineitem (part, supplier) incidence.

    Scale: the NOT IN set is a broadcast null-aware anti join (supplier
    is a dimension); count(distinct) expands to a two-level aggregate —
    both shuffles are keyed on the tiny group space."""
    return """
        with inc as (
            select distinct l_partkey as pk, l_suppkey as sk
            from lineitem
            where l_suppkey not in (
                select s_suppkey from supplier where s_acctbal < 0.0e0)
        )
        select p_brand, p_type,
               cast(case when p_size < 15 then 0 else 1 end as bigint)
                   as size_band,
               cast(count(distinct sk) as bigint) as supplier_cnt
        from inc
        join part on p_partkey = pk
        where p_brand not in ('Brand#1', 'Brand#2')
        group by p_brand, p_type, case when p_size < 15 then 0 else 1 end"""


# ---------------------------------------------------------------------------
# Q19 — disjunctive predicate join (OR of conjunct bands)
# ---------------------------------------------------------------------------
def _tpch_q19_sql(d: str) -> str:
    """TPC-H Q19 shape — revenue under an OR of three conjunctive
    (brand, size band, quantity band) predicates spanning the join: the
    classic disjunctive-pushdown test.  p_container is stood in by
    p_size bands.

    Scale: Catalyst extracts the common join key and pushes the
    per-branch constraints below the broadcast join; the OR does not
    force a cartesian."""
    return f"""
        select cast(count(*) as bigint) as n_lines,
               cast(sum({_REV_Q4}) as bigint) as revenue_q4
        from lineitem
        join part on p_partkey = l_partkey
        where (p_brand = 'Brand#11' and p_size between 1 and 5
               and l_quantity between 1.0e0 and 11.0e0)
           or (p_brand = 'Brand#12' and p_size between 1 and 10
               and l_quantity between 10.0e0 and 20.0e0)
           or (p_brand = 'Brand#13' and p_size between 1 and 15
               and l_quantity between 20.0e0 and 30.0e0)"""


# ---------------------------------------------------------------------------
# Q20 — excess-stock suppliers (nested IN semi-join chain)
# ---------------------------------------------------------------------------
def _tpch_q20_sql(d: str) -> str:
    """TPC-H Q20 shape — suppliers in given nations who shipped more than
    a threshold quantity of some LIKE-prefixed part: IN (grouped subquery
    with HAVING) nested over IN (dimension filter) — the two-level
    semi-join chain.  partsupp availability is stood in by shipped
    quantity per (supplier, part).

    Scale: both INs plan as semi joins; the inner part filter broadcasts,
    the grouped HAVING is one map-side-combined aggregate of the fact."""
    return """
        select s_suppkey, s_name
        from supplier
        join nation on n_nationkey = s_nationkey
        where n_name in ('NATION_3', 'NATION_4', 'NATION_5')
          and s_suppkey in (
              select l_suppkey
              from lineitem
              where l_partkey in (
                  select p_partkey from part where p_name like 'red%')
              group by l_suppkey, l_partkey
              having sum(cast(l_quantity as bigint)) > 50)"""


# ---------------------------------------------------------------------------
# Q21 — suppliers who kept orders waiting (EXISTS + NOT EXISTS)
# ---------------------------------------------------------------------------
def _tpch_q21_sql(d: str) -> str:
    """TPC-H Q21 shape — on multi-supplier finished orders, count per
    supplier the lines where THAT supplier was the unique latest shipper
    and shipped late: correlated EXISTS (another supplier participated)
    plus correlated NOT EXISTS (nobody shipped after them) on the same
    fact.  Lateness (receipt > commit in the reference schema) is stood
    in by ship-lag > 60 days after the order date.

    Scale: Catalyst plans EXISTS/NOT EXISTS as left-semi / null-aware
    anti joins shuffled on orderkey — co-partitioned with the fact scan,
    no per-row subquery execution."""
    ep = _ep(d)
    late = f"({ep('l1.l_shipdate')} - {ep('o_orderdate')}) > 5184000.0e0"
    return f"""
        select s_name, cast(count(*) as bigint) as numwait
        from supplier
        join lineitem l1 on l1.l_suppkey = s_suppkey
        join orders on o_orderkey = l1.l_orderkey
        where o_orderstatus = 'F'
          and {late}
          and exists (
              select 1 from lineitem l2
              where l2.l_orderkey = l1.l_orderkey
                and l2.l_suppkey <> l1.l_suppkey)
          and not exists (
              select 1 from lineitem l3
              where l3.l_orderkey = l1.l_orderkey
                and l3.l_suppkey <> l1.l_suppkey
                and l3.l_shipdate > l1.l_shipdate)
        group by s_name"""


# ---------------------------------------------------------------------------
# Q22 — global-avg threshold + anti join (scalar subquery over aggregate)
# ---------------------------------------------------------------------------
def _tpch_q22_sql(d: str) -> str:
    """TPC-H Q22 shape — customers above the positive-balance average of
    their country group with no recent orders: scalar subqueries for the
    global average plus a correlated NOT EXISTS anti join.  The phone
    country code is stood in by c_nationkey mod 10; "never ordered"
    (vacuous in this data — every customer has orders) becomes "no order
    since 2000-01-01".  The average test is integer cross-multiplication
    (bal_q2 · n_pos > sum_pos_q2): no float average exists.

    Scale: the scalar aggregate is a 1-row broadcast; NOT EXISTS plans as
    an anti join on custkey against the date-pruned orders scan."""
    return """
        with pos as (
            select cast(sum(cast(floor(c_acctbal * 1.0e2 + 0.5e0) as bigint))
                        as bigint) as sum_q2,
                   cast(count(*) as bigint) as n
            from customer
            where c_acctbal > 0.0e0 and (c_nationkey % 10) in (1, 3, 5, 7, 9)
        )
        select cast(c_nationkey % 10 as bigint) as cntrycode,
               cast(count(*) as bigint) as numcust,
               cast(sum(cast(floor(c_acctbal * 1.0e2 + 0.5e0) as bigint))
                    as bigint) as totacctbal_q2
        from customer
        where (c_nationkey % 10) in (1, 3, 5, 7, 9)
          and cast(floor(c_acctbal * 1.0e2 + 0.5e0) as bigint)
              * (select n from pos) > (select sum_q2 from pos)
          and not exists (
              select 1 from orders
              where o_custkey = c_custkey
                and o_orderdate >= timestamp '2000-01-01 00:00:00')
        group by c_nationkey % 10"""


_SHAPES = {
    "tpch_q2": _tpch_q2_sql,
    "tpch_q8": _tpch_q8_sql,
    "tpch_q9": _tpch_q9_sql,
    "tpch_q11": _tpch_q11_sql,
    "tpch_q13": _tpch_q13_sql,
    "tpch_q16": _tpch_q16_sql,
    "tpch_q19": _tpch_q19_sql,
    "tpch_q20": _tpch_q20_sql,
    "tpch_q21": _tpch_q21_sql,
    "tpch_q22": _tpch_q22_sql,
}


# ---------------------------------------------------------------------------
# Compaction planning (target-size bin assignment per partition)
# ---------------------------------------------------------------------------
_CP_TARGET = 4096  # bytes per output file at test scale


def _compaction_sql(d: str) -> str:
    """Compaction plan per source partition: documents stand in for data
    files (bytes = text length), and each partition's files are packed
    into target-size output bins by cumulative byte offset — bin =
    (cum_bytes − bytes) div target, the standard rewrite-planner split
    (Iceberg's bin-packing order is deterministic file order; ours is
    doc_id).  Output: per (source, bin) the file count, byte total, and
    the id range — everything a rewrite action needs.

    Scale: ONE partition-keyed ordered window (cumulative sum) + one
    (partition, bin) map-side-combined aggregate; the planner never
    touches file contents, only the manifest-sized metadata relation."""
    div = "div" if d == SPARK else "//"
    return f"""
        with files as (
            select source, doc_id,
                   cast(length(text) as bigint) as bytes,
                   cast(sum(length(text)) over (
                       partition by source order by doc_id
                       rows unbounded preceding) as bigint) as cum_bytes
            from documents
        )
        select source,
               cast((cum_bytes - bytes) {div} {_CP_TARGET} as bigint) as bin_id,
               cast(count(*) as bigint) as n_files,
               cast(sum(bytes) as bigint) as total_bytes,
               cast(min(doc_id) as bigint) as first_file,
               cast(max(doc_id) as bigint) as last_file
        from files
        group by source, (cum_bytes - bytes) {div} {_CP_TARGET}"""


def q_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    spark.read.parquet(f"{sf_dir}/documents.parquet").createOrReplaceTempView(
        "documents"
    )
    return spark.sql(_compaction_sql(SPARK))


def q_compaction_oracle() -> str:
    return _compaction_sql(DUCK)


def _pareto_sql(d: str) -> str:
    """ABC/Pareto analysis of revenue concentration over parts: rank
    parts by revenue, classify A/B/C at the 80%/95% cumulative-share
    cuts, and report per class the part count and exact revenue share —
    the 80/20 statement every inventory/BI stack opens with.  The class
    cut is integer cross-multiplication (cum·100 ≤ 80·total — no float
    percentage anywhere); ranking ties break by part key.

    Scale: one map-side-combined per-part aggregate, ONE ordered window
    over the part table (dimension-sized, never the fact), a 3-row
    class aggregate."""
    return """
        with val as (
            select l_partkey as pk,
                   cast(sum(cast(floor(l_extendedprice * 1.0e4 + 0.5e0)
                        as bigint)) as bigint) as rev_q4
            from lineitem group by l_partkey
        ),
        tot as (select cast(sum(rev_q4) as bigint) as total from val),
        ranked as (
            select pk, rev_q4,
                   cast(sum(rev_q4) over (order by rev_q4 desc, pk asc
                        rows unbounded preceding) as bigint) as cum_q4
            from val
        ),
        classed as (
            select pk, rev_q4,
                   case when cum_q4 * 100 <= (select total from tot) * 80
                        then 'A'
                        when cum_q4 * 100 <= (select total from tot) * 95
                        then 'B'
                        else 'C' end as abc
            from ranked
        )
        select abc,
               cast(count(*) as bigint) as n_parts,
               cast(sum(rev_q4) as bigint) as class_rev_q4,
               round(cast(sum(rev_q4) as double)
                     / cast((select total from tot) as double), 9)
                   as rev_share
        from classed
        group by abc"""


def q_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_geometry_views(spark, sf_dir)
    return spark.sql(_pareto_sql(SPARK))


def q_pareto_oracle() -> str:
    return _pareto_sql(DUCK)


QUERIES = {
    "range_join": (q_range_join, q_range_join_oracle),
    "bloom": (q_bloom, q_bloom_oracle),
    "cdc_apply": (q_cdc_apply, q_cdc_apply_oracle),
    "scd2": (q_scd2, q_scd2_oracle),
    "fuzzy_match": (q_fuzzy_match, q_fuzzy_match_oracle),
    "skyline": (q_skyline, q_skyline_oracle),
    "frequent_pairs": (q_frequent_pairs, q_frequent_pairs_oracle),
    "star_rollup": (q_star_rollup, q_star_rollup_oracle),
    "tpch_q1": (q_tpch_q1, q_tpch_q1_oracle),
    "tpch_q3": (q_tpch_q3, q_tpch_q3_oracle),
    "tpch_q18": (q_tpch_q18, q_tpch_q18_oracle),
    "tpch_q4": (q_tpch_q4, q_tpch_q4_oracle),
    "tpch_q12": (q_tpch_q12, q_tpch_q12_oracle),
    "tpch_q7": (q_tpch_q7, q_tpch_q7_oracle),
    "tpch_q10": (q_tpch_q10, q_tpch_q10_oracle),
    "tpch_q5": (q_tpch_q5, q_tpch_q5_oracle),
    "tpch_q6": (q_tpch_q6, q_tpch_q6_oracle),
    "tpch_q14": (q_tpch_q14, q_tpch_q14_oracle),
    "tpch_q17": (q_tpch_q17, q_tpch_q17_oracle),
    "tpch_q15": (q_tpch_q15, q_tpch_q15_oracle),
    **{
        name: (_spark_runner(builder), (lambda b: lambda: b(DUCK))(builder))
        for name, builder in _SHAPES.items()
    },
    "compaction_plan": (q_compaction, q_compaction_oracle),
    "pareto_abc": (q_pareto, q_pareto_oracle),
}
