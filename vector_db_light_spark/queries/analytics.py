"""Advanced analytics queries: grouping sets, sliding + native session
windows, skew-salted two-phase aggregation, exact quantiles, multi-way
dim joins, histograms (SURVEY.md §2.4/§2.7 gap rows at full width)."""

from __future__ import annotations

from pyspark.sql import functions as F

from .._registry_core import load, register
from ..obs import materialize


# ---------------------------------------------------------------------------
# GROUPING SETS (beyond rollup/cube): priority-only, status-only, and grand
# total in one pass.
# ---------------------------------------------------------------------------

@register(
    "priority_grouping_sets",
    """
SELECT o_orderpriority, o_orderstatus,
       grouping(o_orderpriority) + 2 * grouping(o_orderstatus) AS gid,
       count(*) AS n, round(sum(o_totalprice), 2) AS total_price
FROM orders
GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
ORDER BY gid, o_orderpriority NULLS FIRST, o_orderstatus NULLS FIRST
""",
)
def priority_grouping_sets(spark, sf_dir):
    orders = load(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("_orders_gs")
    return spark.sql(
        """
        SELECT o_orderpriority, o_orderstatus,
               grouping(o_orderpriority) + 2 * grouping(o_orderstatus) AS gid,
               count(*) AS n, round(sum(o_totalprice), 2) AS total_price
        FROM _orders_gs
        GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
        ORDER BY gid, o_orderpriority NULLS FIRST, o_orderstatus NULLS FIRST
        """
    )


# ---------------------------------------------------------------------------
# Sliding windows: 1-hour windows every 30 minutes (each event in 2 windows).
# Oracle: the two candidate aligned starts, unioned.
# ---------------------------------------------------------------------------

_SLIDE_US = 30 * 60 * 1_000_000
_WIN_US = 2 * _SLIDE_US


@register(
    "sliding_hourly_events",
    f"""
WITH starts AS (
  SELECT event_id, event_type, value,
         make_timestamp((epoch_us(ts) // {_SLIDE_US}) * {_SLIDE_US}) AS window_start
  FROM events
  UNION ALL
  SELECT event_id, event_type, value,
         make_timestamp((epoch_us(ts) // {_SLIDE_US}) * {_SLIDE_US} - {_SLIDE_US})
  FROM events
)
SELECT window_start, event_type, count(*) AS n, round(sum(value), 2) AS total_value
FROM starts
GROUP BY 1, 2
ORDER BY window_start, event_type
""",
)
def sliding_hourly_events(spark, sf_dir):
    events = load(spark, sf_dir, "events")
    return (
        events.groupBy(
            F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "total_value")
        .orderBy("window_start", "event_type")
    )


# ---------------------------------------------------------------------------
# Native session windows (F.session_window, 30-min gap) vs the gaps-and-
# islands oracle. session_window.end = last event + gap.
# ---------------------------------------------------------------------------

@register(
    "session_window_native",
    """
WITH flagged AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sessions AS (
  SELECT user_id, ts,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS session_id
  FROM flagged
)
SELECT user_id,
       min(ts) AS session_start,
       max(ts) + INTERVAL 30 MINUTE AS session_end,
       count(*) AS n_events
FROM sessions
GROUP BY user_id, session_id
ORDER BY user_id, session_start
""",
)
def session_window_native(spark, sf_dir):
    events = load(spark, sf_dir, "events")
    return (
        events.groupBy(
            F.session_window("ts", "30 minutes").alias("sw"), "user_id"
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
        )
        .orderBy("user_id", "session_start")
    )


# ---------------------------------------------------------------------------
# Skew-salted aggregation: two-phase (salted partial -> final) with results
# identical to the direct groupBy — the standard hot-key defense when one
# group key dominates. Oracle: the direct aggregation.
# ---------------------------------------------------------------------------

@register(
    "salted_hot_key_agg",
    """
SELECT l_returnflag, count(*) AS n, round(sum(l_extendedprice), 2) AS total
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
)
def salted_hot_key_agg(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    salted = li.withColumn("_salt", F.pmod(F.col("l_orderkey"), F.lit(16)))
    partial = salted.groupBy("l_returnflag", "_salt").agg(
        F.count(F.lit(1)).alias("pn"), F.sum("l_extendedprice").alias("ps")
    )
    return (
        partial.groupBy("l_returnflag")
        .agg(F.sum("pn").alias("n"), F.round(F.sum("ps"), 2).alias("total"))
        .orderBy("l_returnflag")
    )


# ---------------------------------------------------------------------------
# Exact interpolated quantiles per group.
# ---------------------------------------------------------------------------

@register(
    "price_quantiles_per_segment",
    """
SELECT c_mktsegment,
       round(quantile_cont(o_totalprice, 0.5), 4) AS median_price,
       round(quantile_cont(o_totalprice, 0.9), 4) AS p90_price,
       count(*) AS n_orders
FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
GROUP BY c_mktsegment
ORDER BY c_mktsegment
""",
)
def price_quantiles_per_segment(spark, sf_dir):
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    joined = orders.join(F.broadcast(cust), cust["c_custkey"] == orders["o_custkey"])
    return (
        joined.groupBy("c_mktsegment")
        .agg(
            F.round(F.percentile("o_totalprice", F.lit(0.5)), 4).alias("median_price"),
            F.round(F.percentile("o_totalprice", F.lit(0.9)), 4).alias("p90_price"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .orderBy("c_mktsegment")
    )


# ---------------------------------------------------------------------------
# TPC-H Q5 shape: 5-way join with dim-chain broadcast + group-agg.
# ---------------------------------------------------------------------------

@register(
    "revenue_by_nation",
    """
SELECT n.n_name AS nation,
       round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
       count(*) AS n_lineitems
FROM lineitem l
JOIN orders o ON o.o_orderkey = l.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN nation n ON n.n_nationkey = c.c_nationkey
JOIN region r ON r.r_regionkey = n.n_regionkey
WHERE r.r_name IN ('ASIA', 'EUROPE')
  AND o.o_orderdate >= TIMESTAMP '1995-01-01'
GROUP BY n.n_name
ORDER BY revenue DESC, nation
""",
)
def revenue_by_nation(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp_ntz")
    )
    cust = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region").filter(
        F.col("r_name").isin("ASIA", "EUROPE")
    )
    dims = cust.join(F.broadcast(nation), cust["c_nationkey"] == nation["n_nationkey"]).join(
        F.broadcast(region), nation["n_regionkey"] == region["r_regionkey"]
    )
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(dims), orders["o_custkey"] == dims["c_custkey"])
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
        .orderBy(F.col("revenue").desc(), "nation")
    )


# ---------------------------------------------------------------------------
# TPC-H Q14 shape: conditional-aggregate ratio per ship month. The share
# divides the two ROUNDED sums, so the one float division is engine-exact.
# ---------------------------------------------------------------------------

@register(
    "promo_revenue_share",
    """
WITH m AS (
  SELECT date_trunc('month', l.l_shipdate) AS ship_month,
         round(sum(CASE WHEN p.p_type = 'PROMO'
                        THEN l.l_extendedprice * (1 - l.l_discount)
                        ELSE 0 END), 2) AS promo_revenue,
         round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS total_revenue
  FROM lineitem l
  JOIN part p ON p.p_partkey = l.l_partkey
  GROUP BY 1
)
SELECT ship_month, promo_revenue, total_revenue,
       CASE WHEN total_revenue > 0 THEN promo_revenue / total_revenue
            ELSE 0.0 END AS promo_share
FROM m
ORDER BY ship_month
""",
)
def promo_revenue_share(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    m = (
        li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .groupBy(F.date_trunc("month", "l_shipdate").alias("ship_month"))
        .agg(
            F.round(
                F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0.0))), 2
            ).alias("promo_revenue"),
            F.round(F.sum(rev), 2).alias("total_revenue"),
        )
    )
    return m.select(
        "ship_month",
        "promo_revenue",
        "total_revenue",
        F.when(
            F.col("total_revenue") > 0,
            F.col("promo_revenue") / F.col("total_revenue"),
        )
        .otherwise(F.lit(0.0))
        .alias("promo_share"),
    ).orderBy("ship_month")


# ---------------------------------------------------------------------------
# TPC-H Q15 shape: top supplier(s) by quarterly revenue. The global max is
# a 1-row aggregate BROADCAST back against the per-supplier revenues —
# never a single-partition global window.
# ---------------------------------------------------------------------------

@register(
    "top_supplier_revenue",
    """
WITH rev AS (
  SELECT l_suppkey,
         round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_rev
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate < TIMESTAMP '1996-04-01'
  GROUP BY 1
)
SELECT s.s_suppkey, s.s_name, r.total_rev
FROM rev r
JOIN supplier s ON s.s_suppkey = r.l_suppkey
WHERE r.total_rev = (SELECT max(total_rev) FROM rev)
ORDER BY s.s_suppkey
""",
)
def top_supplier_revenue(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp_ntz"))
    )
    supp = load(spark, sf_dir, "supplier")
    rev = li.groupBy("l_suppkey").agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "total_rev"
        )
    )
    mx = rev.agg(F.max("total_rev").alias("_mx"))
    return (
        rev.join(F.broadcast(mx), rev["total_rev"] == mx["_mx"])
        .join(F.broadcast(supp), rev["l_suppkey"] == supp["s_suppkey"])
        .select("s_suppkey", "s_name", "total_rev")
        .orderBy("s_suppkey")
    )


# ---------------------------------------------------------------------------
# TPC-H Q8 shape: one nation's share of yearly order revenue (conditional
# aggregate over a broadcast dim chain; share divides the rounded sums).
# ---------------------------------------------------------------------------

@register(
    "nation_market_share",
    """
WITH y AS (
  SELECT year(o.o_orderdate) AS order_year,
         round(sum(CASE WHEN n.n_name = 'NATION_3' THEN o.o_totalprice
                        ELSE 0 END), 2) AS nation_rev,
         round(sum(o.o_totalprice), 2) AS total_rev
  FROM orders o
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n ON n.n_nationkey = c.c_nationkey
  GROUP BY 1
)
SELECT order_year, nation_rev, total_rev,
       CASE WHEN total_rev > 0 THEN nation_rev / total_rev ELSE 0.0 END
         AS market_share
FROM y
ORDER BY order_year
""",
)
def nation_market_share(spark, sf_dir):
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    dims = cust.join(
        F.broadcast(nation), cust["c_nationkey"] == nation["n_nationkey"]
    ).select("c_custkey", "n_name")
    y = (
        orders.join(F.broadcast(dims), orders["o_custkey"] == dims["c_custkey"])
        .groupBy(F.year("o_orderdate").alias("order_year"))
        .agg(
            F.round(
                F.sum(
                    F.when(F.col("n_name") == "NATION_3", F.col("o_totalprice"))
                    .otherwise(F.lit(0.0))
                ),
                2,
            ).alias("nation_rev"),
            F.round(F.sum("o_totalprice"), 2).alias("total_rev"),
        )
    )
    return y.select(
        "order_year",
        "nation_rev",
        "total_rev",
        F.when(F.col("total_rev") > 0, F.col("nation_rev") / F.col("total_rev"))
        .otherwise(F.lit(0.0))
        .alias("market_share"),
    ).orderBy("order_year")


# ---------------------------------------------------------------------------
# Histogram binning (fixed-width buckets).
# ---------------------------------------------------------------------------

@register(
    "price_histogram",
    """
SELECT CAST(floor(o_totalprice / 50000) AS BIGINT) AS bucket,
       count(*) AS n,
       round(min(o_totalprice), 2) AS bucket_min,
       round(max(o_totalprice), 2) AS bucket_max
FROM orders
GROUP BY 1
ORDER BY bucket
""",
)
def price_histogram(spark, sf_dir):
    orders = load(spark, sf_dir, "orders")
    bucket = F.floor(F.col("o_totalprice") / 50000).cast("bigint")
    return (
        orders.groupBy(bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("o_totalprice"), 2).alias("bucket_min"),
            F.round(F.max("o_totalprice"), 2).alias("bucket_max"),
        )
        .orderBy("bucket")
    )


# ---------------------------------------------------------------------------
# RANGE-frame window: trailing 7-day revenue over the daily grain. Revenue
# moves through the frame as exact BIGINT cents — integer window sums are
# engine-exact, so no float fold-order surface exists (the one rounding,
# daily-sum -> cents, follows the repo round-identically rule). The window
# runs over the PRE-AGGREGATED day table (bounded by the calendar, ~2.4k
# rows regardless of corpus size), never the fact rows; partition by year
# if the grain table ever outgrew one task.
# ---------------------------------------------------------------------------

@register(
    "trailing_7d_revenue",
    """
WITH daily AS (
  SELECT date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS day_num,
         CAST(round(sum(o_totalprice) * 100) AS BIGINT) AS day_cents
  FROM orders
  GROUP BY 1
)
SELECT day_num,
       day_cents,
       CAST(sum(day_cents) OVER w AS BIGINT) AS rev_7d_cents,
       CAST(count(*) OVER w AS BIGINT) AS n_days
FROM daily
WINDOW w AS (ORDER BY day_num RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
ORDER BY day_num
""",
)
def trailing_7d_revenue(spark, sf_dir):
    from pyspark.sql import Window

    orders = load(spark, sf_dir, "orders")
    daily = (
        orders.groupBy(
            F.datediff(
                F.to_date("o_orderdate"), F.to_date(F.lit("1992-01-01"))
            ).alias("day_num")
        )
        .agg(
            F.round(F.sum("o_totalprice") * 100)
            .cast("long")
            .alias("day_cents")
        )
    )
    w = Window.orderBy("day_num").rangeBetween(-6, 0)
    return daily.select(
        "day_num",
        "day_cents",
        F.sum("day_cents").over(w).alias("rev_7d_cents"),
        F.count(F.lit(1)).over(w).alias("n_days"),
    ).orderBy("day_num")


# ---------------------------------------------------------------------------
# Approximate distinct counting — the 100 TB scale path for cardinality
# (exact COUNT(DISTINCT) shuffles every distinct value; HLL++ ships a
# constant-size sketch per partition). Oracle trick: the exact counts are
# hash-verified as real columns on both sides, while the sketch is checked
# through a WITHIN-10%-OF-EXACT boolean the oracle pins to TRUE — if Spark's
# HLL estimate ever drifts past the bound, the boolean flips and the driver
# hash-mismatches. At rsd=0.02 a 10% bound is a ~5-sigma margin — wide
# enough that a regenerated fixture cannot flip it by estimator luck
# (ADVICE r5: the old 5% bound was only ~2.5 sigma per group).
# ---------------------------------------------------------------------------

@register(
    "approx_distinct_users",
    """
SELECT event_type,
       CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
       CAST(count(*) AS BIGINT) AS n_events,
       TRUE AS approx_within_10pct
FROM events
GROUP BY event_type
ORDER BY event_type
""",
)
def approx_distinct_users(spark, sf_dir):
    events = load(spark, sf_dir, "events")
    agg = events.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("bigint").alias("exact_users"),
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.approx_count_distinct("user_id", rsd=0.02).alias("_approx"),
    )
    within = (
        F.abs(F.col("_approx") - F.col("exact_users"))
        <= 0.10 * F.col("exact_users")
    )
    return agg.select(
        "event_type",
        "exact_users",
        "n_events",
        within.alias("approx_within_10pct"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# Approximate quantiles — same verified-bound pattern as
# approx_distinct_users: exact interpolated percentiles are hash-verified
# (parity already proven by price_quantiles_per_segment); percentile_approx
# (GK sketch, accuracy 10000) must land within 5% relative error of exact
# or the pinned boolean flips. At 100 TB the sketch is the only option —
# exact per-group percentiles sort every group.
# ---------------------------------------------------------------------------

@register(
    "approx_price_quantiles",
    """
SELECT c_mktsegment,
       round(quantile_cont(o_totalprice, 0.5), 4) AS median_price,
       round(quantile_cont(o_totalprice, 0.9), 4) AS p90_price,
       TRUE AS approx_within_5pct
FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
GROUP BY c_mktsegment
ORDER BY c_mktsegment
""",
)
def approx_price_quantiles(spark, sf_dir):
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    joined = orders.join(F.broadcast(cust), cust["c_custkey"] == orders["o_custkey"])
    agg = joined.groupBy("c_mktsegment").agg(
        F.round(F.percentile("o_totalprice", F.lit(0.5)), 4).alias("median_price"),
        F.round(F.percentile("o_totalprice", F.lit(0.9)), 4).alias("p90_price"),
        F.percentile_approx("o_totalprice", F.lit(0.5), F.lit(10000)).alias("_a50"),
        F.percentile_approx("o_totalprice", F.lit(0.9), F.lit(10000)).alias("_a90"),
    )
    within = (
        F.abs(F.col("_a50") - F.col("median_price")) <= 0.05 * F.col("median_price")
    ) & (F.abs(F.col("_a90") - F.col("p90_price")) <= 0.05 * F.col("p90_price"))
    return agg.select(
        "c_mktsegment",
        "median_price",
        "p90_price",
        within.alias("approx_within_5pct"),
    ).orderBy("c_mktsegment")


# ---------------------------------------------------------------------------
# Z-order layout: Morton-interleave (custkey-bucket, orderdate-bucket) and
# show that every 1024-row "file" of the z-sorted layout covers a bounded
# range in BOTH dimensions — the min/max stats multi-dim pruning needs.
# ---------------------------------------------------------------------------

def _morton_sql(x: str, y: str, bits: int = 8) -> str:
    terms = []
    for i in range(bits):
        terms.append(f"((({x} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({y} >> {i}) & 1) << {2 * i + 1})")
    return "(" + " | ".join(terms) + ")"


@register(
    "zorder_layout_ranges",
    f"""
WITH pts AS (
  SELECT o_orderkey,
         o_custkey % 256 AS x,
         date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) % 256
           AS y
  FROM orders
),
keyed AS (
  SELECT *, {_morton_sql('x', 'y')} AS zkey FROM pts
),
filed AS (
  SELECT *, (row_number() OVER (ORDER BY zkey, o_orderkey) - 1) // 1024
              AS file_id
  FROM keyed
)
SELECT file_id, count(*) AS n_rows,
       min(x) AS min_x, max(x) AS max_x,
       min(y) AS min_y, max(y) AS max_y,
       min(zkey) AS zmin, max(zkey) AS zmax
FROM filed
GROUP BY 1
ORDER BY 1
""",
)
def zorder_layout_ranges(spark, sf_dir):
    """Write-time z-order clustering, measured: per 1024-row file the
    min/max of BOTH bucketed dimensions stays narrow (a single-column sort
    would pin one dim and spread the other across its full range). The
    global row_number here is the write path's sort — a one-off layout
    cost, not a query-path operator; at cluster scale it is the usual
    repartitionByRange(zkey) + local sort, and readers prune files from
    parquet min/max stats with no engine support."""
    from ..plans.zorder import morton_key

    orders = load(spark, sf_dir, "orders")
    from pyspark.sql.window import Window

    pts = orders.select(
        "o_orderkey",
        (F.col("o_custkey") % 256).alias("x"),
        (
            F.datediff(
                F.col("o_orderdate").cast("date"), F.lit("1992-01-01").cast("date")
            )
            % 256
        )
        .cast("bigint")
        .alias("y"),
    )
    keyed = pts.withColumn("zkey", morton_key(F.col("x"), F.col("y")))
    w = Window.orderBy("zkey", "o_orderkey")
    filed = keyed.withColumn("rn", F.row_number().over(w)).withColumn(
        "file_id", F.expr("(rn - 1) div 1024")
    )
    return (
        filed.groupBy("file_id")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("x").alias("min_x"),
            F.max("x").alias("max_x"),
            F.min("y").alias("min_y"),
            F.max("y").alias("max_y"),
            F.min("zkey").alias("zmin"),
            F.max("zkey").alias("zmax"),
        )
        .orderBy("file_id")
    )


# ---------------------------------------------------------------------------
# Per-user EWMA: a recurrence (not window-expressible) as a deterministic
# time-ordered left fold — bit-identical doubles on both engines, so the
# EWMA column ships unrounded.
# ---------------------------------------------------------------------------

@register(
    "ewma_per_user",
    """
WITH lst AS (
  SELECT user_id,
         list_transform(
           list_sort(list({'ts_us': epoch_us(CAST(ts AS TIMESTAMP)),
                           'event_id': event_id,
                           'v': value::DOUBLE})),
           s -> s.v) AS vals
  FROM events
  GROUP BY user_id
)
SELECT user_id,
       CAST(len(vals) AS BIGINT) AS n_events,
       vals[len(vals)] AS last_value,
       list_reduce(vals,
                   (a, b) -> '0.2'::DOUBLE * b + '0.8'::DOUBLE * a) AS ewma
FROM lst
ORDER BY user_id
""",
)
def ewma_per_user(spark, sf_dir):
    """EWMA(alpha=0.2) of each user's event values in (ts, event_id)
    order. DuckDB's list_reduce seeds with the first element; the Spark
    fold mirrors that exactly (aggregate over slice(2..) seeded with
    element 1), so both engines run the identical IEEE op sequence."""
    from ..operators.relational import ewma_per_key

    ev = load(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        "value",
    )
    return ewma_per_key(
        ev, "user_id", ["ts_us", "event_id"], "value", alpha=0.2
    ).orderBy("user_id")


# ---------------------------------------------------------------------------
# Incremental aggregate state: the Spark side folds TWO batch states
# together (operators/incremental.py); the oracle computes the single-pass
# answer over the full table — the hash match PROVES merge == direct,
# which only holds because sums are exact integers (cents).
# ---------------------------------------------------------------------------

@register(
    "incremental_agg_state",
    """
SELECT event_type,
       count(*) AS n,
       CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS sum_cents,
       CAST(min(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS min_cents,
       CAST(max(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS max_cents
FROM events
GROUP BY event_type
ORDER BY event_type
""",
)
def incremental_agg_state(spark, sf_dir):
    """Two daily batches (event_id parity split) folded into one state via
    merge_agg_state; history is never rescanned. Decomposability is exact
    because values are summed as integer cents — the oracle's single-pass
    aggregate hash-matches the two-pass merge bit for bit."""
    from ..operators.incremental import agg_state, merge_agg_state

    ev = load(spark, sf_dir, "events").select(
        "event_type",
        "event_id",
        F.round(F.col("value") * 100, 0).cast("bigint").alias("v_cents"),
    )
    b1 = agg_state(ev.filter(F.col("event_id") % 2 == 0), "event_type")
    b2 = agg_state(ev.filter(F.col("event_id") % 2 == 1), "event_type")
    return merge_agg_state(b1, b2, "event_type").orderBy("event_type")


# ---------------------------------------------------------------------------
# Remaining rank-function family in one checkable row set: rank,
# dense_rank, percent_rank, cume_dist over acctbal per segment. All four
# derive from integer rank arithmetic (divisions of small exact ints), so
# the doubles are bit-identical cross-engine without rounding.
# ---------------------------------------------------------------------------

@register(
    "rank_functions_per_segment",
    """
WITH top3 AS (
  SELECT c_mktsegment, c_custkey, c_acctbal,
         rank()         OVER w AS rnk,
         dense_rank()   OVER w AS drnk,
         percent_rank() OVER w AS prnk,
         cume_dist()    OVER w AS cdist,
         row_number()   OVER w AS rn
  FROM customer
  WINDOW w AS (PARTITION BY c_mktsegment
               ORDER BY c_acctbal DESC, c_custkey ASC)
)
SELECT c_mktsegment, c_custkey, c_acctbal, rnk, drnk, prnk, cdist
FROM top3 WHERE rn <= 3
ORDER BY c_mktsegment, rn
""",
)
def rank_functions_per_segment(spark, sf_dir):
    from pyspark.sql.window import Window

    cust = load(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey").asc()
    )
    return (
        cust.select(
            "c_mktsegment",
            "c_custkey",
            "c_acctbal",
            F.rank().over(w).alias("rnk"),
            F.dense_rank().over(w).alias("drnk"),
            F.percent_rank().over(w).alias("prnk"),
            F.cume_dist().over(w).alias("cdist"),
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") <= 3)
        .drop("rn")
        .orderBy("c_mktsegment", F.col("c_acctbal").desc(), "c_custkey")
    )


# ---------------------------------------------------------------------------
# Ordered string aggregation: per-priority CSV of the 5 highest-value
# order keys — Spark's array_join(array_agg inside a sorted window) vs
# DuckDB's string_agg(... ORDER BY), byte-identical when the order is
# fully pinned.
# ---------------------------------------------------------------------------

@register(
    "priority_top_orders_csv",
    """
WITH ranked AS (
  SELECT o_orderpriority, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_orderpriority
                            ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
  FROM orders
)
SELECT o_orderpriority,
       string_agg(o_orderkey::VARCHAR, ',' ORDER BY rn) AS top_keys_csv,
       CAST(count(*) AS BIGINT) AS n
FROM ranked WHERE rn <= 5
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
)
def priority_top_orders_csv(spark, sf_dir):
    from pyspark.sql.window import Window

    orders = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    ranked = orders.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= 5
    )
    return (
        ranked.groupBy("o_orderpriority")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("rn", "o_orderkey"))
                    ),
                    lambda s: s["o_orderkey"].cast("string"),
                ),
                ",",
            ).alias("top_keys_csv"),
            F.count(F.lit(1)).cast("bigint").alias("n"),
        )
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# Dataset profiling: per-column null/distinct/min/max stats of orders in
# one pass-per-column union — the first query any pipeline runs against a
# new table. Min/max are NUMERICALLY encoded per type (ids raw, doubles
# as cents, timestamps as unix micros, strings via an md5-derived BIGINT
# of the extreme value) because raw double/timestamp-to-string rendering
# is engine-specific.
# ---------------------------------------------------------------------------

_PROFILE_COLS_SQL = """
  SELECT 'o_orderkey' AS col_name, count(o_orderkey) AS n_nonnull,
         count(DISTINCT o_orderkey) AS n_distinct,
         CAST(min(o_orderkey) AS BIGINT) AS min_enc,
         CAST(max(o_orderkey) AS BIGINT) AS max_enc FROM orders
  UNION ALL
  SELECT 'o_custkey', count(o_custkey), count(DISTINCT o_custkey),
         CAST(min(o_custkey) AS BIGINT), CAST(max(o_custkey) AS BIGINT)
  FROM orders
  UNION ALL
  SELECT 'o_orderstatus', count(o_orderstatus),
         count(DISTINCT o_orderstatus),
         ('0x' || substr(md5(min(o_orderstatus)), 1, 12))::BIGINT,
         ('0x' || substr(md5(max(o_orderstatus)), 1, 12))::BIGINT
  FROM orders
  UNION ALL
  SELECT 'o_orderpriority', count(o_orderpriority),
         count(DISTINCT o_orderpriority),
         ('0x' || substr(md5(min(o_orderpriority)), 1, 12))::BIGINT,
         ('0x' || substr(md5(max(o_orderpriority)), 1, 12))::BIGINT
  FROM orders
  UNION ALL
  SELECT 'o_totalprice', count(o_totalprice),
         count(DISTINCT o_totalprice),
         CAST(round(min(o_totalprice) * 100, 0) AS BIGINT),
         CAST(round(max(o_totalprice) * 100, 0) AS BIGINT)
  FROM orders
  UNION ALL
  SELECT 'o_orderdate', count(o_orderdate),
         count(DISTINCT o_orderdate),
         epoch_us(CAST(min(o_orderdate) AS TIMESTAMP)),
         epoch_us(CAST(max(o_orderdate) AS TIMESTAMP))
  FROM orders
"""


@register(
    "table_profile_orders",
    f"""
SELECT col_name, CAST(n_nonnull AS BIGINT) AS n_nonnull,
       CAST(n_distinct AS BIGINT) AS n_distinct, min_enc, max_enc
FROM ({_PROFILE_COLS_SQL})
ORDER BY col_name
""",
)
def table_profile_orders(spark, sf_dir):
    """One profiling row per column. At 100 TB run the distincts as
    approx_count_distinct (the HLL++ tier) and all columns in ONE
    aggregate pass — the exact per-column union here keeps the oracle
    strict; the shape (stats row per column) is what downstream schema
    monitors consume."""
    orders = load(spark, sf_dir, "orders")

    def _md5_enc(c):
        return F.conv(F.substring(F.md5(c), 1, 12), 16, 10).cast("bigint")

    def prof(col_name, min_enc, max_enc):
        return orders.agg(
            F.lit(col_name).alias("col_name"),
            F.count(col_name).cast("bigint").alias("n_nonnull"),
            F.countDistinct(col_name).cast("bigint").alias("n_distinct"),
            min_enc.alias("min_enc"),
            max_enc.alias("max_enc"),
        )

    parts = [
        prof(
            "o_orderkey",
            F.min("o_orderkey").cast("bigint"),
            F.max("o_orderkey").cast("bigint"),
        ),
        prof(
            "o_custkey",
            F.min("o_custkey").cast("bigint"),
            F.max("o_custkey").cast("bigint"),
        ),
        prof(
            "o_orderstatus",
            _md5_enc(F.min("o_orderstatus")),
            _md5_enc(F.max("o_orderstatus")),
        ),
        prof(
            "o_orderpriority",
            _md5_enc(F.min("o_orderpriority")),
            _md5_enc(F.max("o_orderpriority")),
        ),
        prof(
            "o_totalprice",
            F.round(F.min("o_totalprice") * 100, 0).cast("bigint"),
            F.round(F.max("o_totalprice") * 100, 0).cast("bigint"),
        ),
        prof(
            "o_orderdate",
            F.unix_micros(F.min("o_orderdate").cast("timestamp")),
            F.unix_micros(F.max("o_orderdate").cast("timestamp")),
        ),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("col_name")


# ---------------------------------------------------------------------------
# Exact integer PageRank (operators/graph.py) over the symmetrized
# customer<->supplier transaction graph: 2 damped rounds, all mass in
# BIGINT micro-units (integer division throughout) so the iterative
# algorithm hash-matches an unrolled DuckDB replay exactly — the same
# fixed-point strategy as kmeans_lloyd. Top-20 suppliers by centrality.
# ---------------------------------------------------------------------------

def _pr_round_sql(t: int) -> str:
    return f"""
i{t} AS (
  SELECT e.dst AS node,
         CAST(SUM(r.rank_u6 // d.out_deg) AS BIGINT) AS inc
  FROM edges e
  JOIN r{t - 1} r ON r.node = e.src
  JOIN deg d ON d.src = e.src
  GROUP BY 1
),
r{t} AS (
  SELECT n.node,
         CAST(150000 + (85 * COALESCE(i.inc, 0)) // 100 AS BIGINT) AS rank_u6
  FROM nodes n LEFT JOIN i{t} i ON i.node = n.node
)"""


@register(
    "pagerank_suppliers",
    f"""
WITH pairs AS (
  SELECT DISTINCT 'c' || CAST(o.o_custkey AS VARCHAR) AS c,
                  's' || CAST(l.l_suppkey AS VARCHAR) AS s
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
),
edges AS (
  SELECT c AS src, s AS dst FROM pairs
  UNION ALL
  SELECT s AS src, c AS dst FROM pairs
),
deg AS (SELECT src, COUNT(*) AS out_deg FROM edges GROUP BY 1),
nodes AS (SELECT DISTINCT src AS node FROM edges),
r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS rank_u6 FROM nodes),
{_pr_round_sql(1)},
{_pr_round_sql(2)}
SELECT node, rank_u6 FROM r2
WHERE node LIKE 's%'
ORDER BY rank_u6 DESC, node ASC
LIMIT 20
""",
)
def pagerank_suppliers(spark, sf_dir):
    """Supplier centrality on the customer<->supplier graph: a quality/
    importance prior of the kind web-corpus pipelines compute from link
    graphs, here over transaction edges. Symmetrized, so no dangling
    nodes exist and every rank stays integer-exact."""
    from ..operators.graph import pagerank_exact

    orders = load(spark, sf_dir, "orders")
    lineitem = load(spark, sf_dir, "lineitem")
    pairs = (
        orders.join(lineitem, orders.o_orderkey == lineitem.l_orderkey)
        .select(
            F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("c"),
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("s"),
        )
        .distinct()
    )
    edges = pairs.select(F.col("c").alias("src"), F.col("s").alias("dst")).unionAll(
        pairs.select(F.col("s").alias("src"), F.col("c").alias("dst"))
    )
    ranks = pagerank_exact(edges, iters=2)
    return (
        ranks.filter(F.col("node").startswith("s"))
        .orderBy(F.col("rank_u6").desc(), F.col("node").asc())
        .limit(20)
    )


# ---------------------------------------------------------------------------
# DIRECTED PageRank with dangling-mass redistribution (VERDICT r8 #5):
# the customer -> supplier purchase graph is genuinely directed — every
# supplier is a rank SINK (out-degree 0), so without redistribution 85%
# of the graph's mass simply evaporates each round. Same integer
# micro-unit recipe; the per-round dangling total D and its per-node
# share D div N stay BIGINT, so the whole loop replays bit-identically.
# ---------------------------------------------------------------------------

def _prd_round_sql(t: int) -> str:
    return f"""
d{t} AS (
  SELECT CAST(COALESCE(SUM(r.rank_u6), 0) AS BIGINT) AS dmass
  FROM r{t - 1} r LEFT JOIN deg dg ON dg.src = r.node
  WHERE dg.src IS NULL
),
s{t} AS (SELECT CAST(dmass // nn.n AS BIGINT) AS share FROM d{t}, nn),
i{t} AS (
  SELECT e.dst AS node,
         CAST(SUM(r.rank_u6 // dg.out_deg) AS BIGINT) AS inc
  FROM edges e
  JOIN r{t - 1} r ON r.node = e.src
  JOIN deg dg ON dg.src = e.src
  GROUP BY 1
),
r{t} AS MATERIALIZED (
  SELECT n.node,
         CAST(150000 + (85 * (COALESCE(i.inc, 0) + s.share)) // 100
              AS BIGINT) AS rank_u6
  FROM nodes n LEFT JOIN i{t} i ON i.node = n.node, s{t} s
)"""


@register(
    "pagerank_directed_dangling",
    f"""
WITH pairs AS (
  SELECT DISTINCT 'c' || CAST(o.o_custkey AS VARCHAR) AS c,
                  's' || CAST(l.l_suppkey AS VARCHAR) AS s
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
),
edges AS (SELECT c AS src, s AS dst FROM pairs),
deg AS (SELECT src, COUNT(*) AS out_deg FROM edges GROUP BY 1),
nodes AS MATERIALIZED (
  SELECT src AS node FROM edges UNION SELECT dst AS node FROM edges
),
nn AS (SELECT COUNT(*) AS n FROM nodes),
r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS rank_u6 FROM nodes),
{_prd_round_sql(1)},
{_prd_round_sql(2)}
SELECT node, rank_u6 FROM r2
ORDER BY rank_u6 DESC, node ASC
LIMIT 20
""",
)
def pagerank_directed_dangling(spark, sf_dir):
    """Supplier centrality on the DIRECTED customer -> supplier purchase
    graph (operators/graph.py::pagerank_directed): suppliers never buy, so
    all of them are dangling sinks — the round's sink mass D redistributes
    as D div N to every node before damping (Page et al. 1999 §2.6),
    keeping total mass ~conserved (pinned by the mass-conservation test)
    instead of decaying 0.85x per round. Top-20 nodes land on suppliers
    because all edge mass flows c -> s."""
    from ..operators.graph import pagerank_directed

    orders = load(spark, sf_dir, "orders")
    lineitem = load(spark, sf_dir, "lineitem")
    pairs = (
        orders.join(lineitem, orders.o_orderkey == lineitem.l_orderkey)
        .select(
            F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("c"),
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("s"),
        )
        .distinct()
    )
    edges = pairs.select(F.col("c").alias("src"), F.col("s").alias("dst"))
    ranks = pagerank_directed(edges, iters=2)
    return ranks.orderBy(F.col("rank_u6").desc(), F.col("node").asc()).limit(20)


# ---------------------------------------------------------------------------
# Robust outlier detection: per-event-type median and MAD (median absolute
# deviation) computed by EXACT RANK SELECTION — no float aggregation
# exists anywhere (median/MAD are order statistics picked from parquet
# doubles; the only arithmetic is |x - m| and one scaled comparison), so
# the classic |x - median| > 3 * MAD flag is engine-exact. The z-score
# variant needs mean/stddev — order-dependent float sums — which is why
# robust statistics are ALSO the right determinism choice, not just the
# right statistics choice.
# ---------------------------------------------------------------------------

def _median_by_rank_sql(src: str, val: str, part: str) -> str:
    """Lower-median via row_number selection (deterministic tie-break on
    the value then rn ordering is value asc only — duplicates are fine,
    any element with the median rank has the median VALUE)."""
    return f"""
  SELECT {part}, {val} AS med FROM (
    SELECT {part}, {val},
           row_number() OVER (PARTITION BY {part} ORDER BY {val} ASC) AS rn,
           count(*) OVER (PARTITION BY {part}) AS n
    FROM {src}
  ) WHERE rn = (n + 1) // 2
"""


@register(
    "events_robust_outliers",
    f"""
WITH ev AS (
  SELECT user_id, event_type, value FROM events
),
med AS ({_median_by_rank_sql('ev', 'value', 'event_type')}),
dev AS (
  SELECT e.user_id, e.event_type, e.value,
         abs(e.value - m.med) AS adev, m.med
  FROM ev e JOIN med m USING (event_type)
),
mad AS ({_median_by_rank_sql('dev', 'adev', 'event_type')})
SELECT d.event_type, CAST(count(*) AS BIGINT) AS n_events,
       CAST(SUM(CASE WHEN d.adev > 3 * m2.med THEN 1 ELSE 0 END) AS BIGINT)
         AS n_outliers
FROM dev d JOIN mad m2 USING (event_type)
GROUP BY 1
ORDER BY 1
""",
)
def events_robust_outliers(spark, sf_dir):
    """Per-type outlier counts under the 3-MAD rule. Two rank-selection
    passes (each: one window shuffle on event_type) + a broadcast of the
    per-type medians; at scale swap the exact rank for approx_percentile
    when +-epsilon medians are acceptable — the flag rule is unchanged."""
    from pyspark.sql.window import Window

    ev = load(spark, sf_dir, "events").select("user_id", "event_type", "value")

    def median_of(df, val):
        w = Window.partitionBy("event_type").orderBy(F.col(val).asc())
        wc = Window.partitionBy("event_type")
        return (
            df.withColumn("_rn", F.row_number().over(w))
            .withColumn("_n", F.count(F.lit(1)).over(wc))
            .filter(F.col("_rn") == F.expr("(_n + 1) div 2"))
            .select("event_type", F.col(val).alias("med"))
        )

    med = median_of(ev, "value")
    dev = ev.join(F.broadcast(med), "event_type").select(
        "user_id",
        "event_type",
        "value",
        F.abs(F.col("value") - F.col("med")).alias("adev"),
    )
    mad = median_of(dev, "adev").withColumnRenamed("med", "mad")
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(
                F.when(F.col("adev") > 3 * F.col("mad"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_outliers"),
        )
        .orderBy("event_type")
    )


@register(
    "butterfly_supplier_pairs",
    # bipartite clustering: butterflies (2x2 bicliques) are the bipartite
    # analogue of triangles. Wedges are centered on the CUSTOMER side —
    # the low-degree side of this graph — so the expansion is
    # sum deg(c)^2 over ~10-70 suppliers/customer, never the supplier
    # side's deg^2 over thousands of customers
    """
WITH pairs AS (
  SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
),
wedge AS (
  SELECT a.c, a.s AS s1, b.s AS s2
  FROM pairs a JOIN pairs b ON a.c = b.c AND a.s < b.s
),
sp AS (
  SELECT s1, s2, CAST(count(*) AS BIGINT) AS n_common
  FROM wedge GROUP BY 1, 2
)
SELECT s1, s2, n_common,
       CAST(n_common * (n_common - 1) // 2 AS BIGINT) AS n_butterflies
FROM sp
ORDER BY n_common DESC, s1 ASC, s2 ASC
LIMIT 20
""",
)
def butterfly_supplier_pairs(spark, sf_dir):
    """Top supplier pairs by shared-customer count in the customer x
    supplier bipartite graph, with each pair's butterfly (2x2-biclique)
    count C(n_common, 2) — the bipartite cohesion signal behind
    co-purchase affinity and recommender candidate generation. Wedges
    pivot on the customer (low-degree) side; at 100 TB add a degree cap
    or hash-sample hub customers before the self-join — the standard
    exact-to-approximate butterfly degradation."""
    orders = load(spark, sf_dir, "orders")
    lineitem = load(spark, sf_dir, "lineitem")
    pairs = materialize(  # consumed by both wedge sides
        orders.join(lineitem, orders.o_orderkey == lineitem.l_orderkey)
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .distinct()
    )
    a = pairs.select("c", F.col("s").alias("s1"))
    b = pairs.select("c", F.col("s").alias("s2"))
    wedge = a.join(b, "c").filter(F.col("s1") < F.col("s2"))
    sp = wedge.groupBy("s1", "s2").agg(
        F.count(F.lit(1)).cast("long").alias("n_common")
    )
    return (
        sp.select(
            "s1",
            "s2",
            "n_common",
            F.expr("n_common * (n_common - 1) div 2")
            .cast("long")
            .alias("n_butterflies"),
        )
        .orderBy(F.desc("n_common"), F.asc("s1"), F.asc("s2"))
        .limit(20)
    )


@register(
    "graph_cohesion_summary",
    # one-row structural profile of the co-purchase graph: node/edge
    # counts, open wedges sum C(deg, 2), and the exact triangle total —
    # the global clustering coefficient is 3*n_triangles / n_wedges,
    # left as the two integer columns (a float ratio would re-open
    # division-parity exposure for zero information gain)
    """
WITH co AS MATERIALIZED (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
),
deg AS MATERIALIZED (
  SELECT node, CAST(count(*) AS BIGINT) AS d
  FROM (SELECT u AS node FROM co UNION ALL SELECT v FROM co)
  GROUP BY 1
),
oriented AS MATERIALIZED (
  SELECT CASE WHEN du.d < dv.d OR (du.d = dv.d AND co.u < co.v)
              THEN co.u ELSE co.v END AS s,
         CASE WHEN du.d < dv.d OR (du.d = dv.d AND co.u < co.v)
              THEN co.v ELSE co.u END AS t
  FROM co JOIN deg du ON du.node = co.u JOIN deg dv ON dv.node = co.v
)
SELECT
  (SELECT CAST(count(*) AS BIGINT) FROM deg) AS n_nodes,
  (SELECT CAST(count(*) AS BIGINT) FROM co) AS n_edges,
  (SELECT CAST(coalesce(sum(d * (d - 1) // 2), 0) AS BIGINT) FROM deg)
    AS n_wedges,
  (SELECT CAST(count(*) AS BIGINT)
   FROM oriented e1
   JOIN oriented e2 ON e2.s = e1.t
   JOIN oriented e3 ON e3.s = e1.s AND e3.t = e2.t) AS n_triangles
""",
)
def graph_cohesion_summary(spark, sf_dir):
    """Global cohesion profile of the co-purchase graph in one row —
    nodes, edges, open wedges, exact triangles (clustering coefficient =
    3*n_triangles/n_wedges, reader-side). Reuses the degree-oriented
    enumeration, so the triangle term stays hub-safe at 100 TB."""
    from ..operators.graph import count_triangles

    lineitem = load(spark, sf_dir, "lineitem")
    a = lineitem.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("u"))
    b = lineitem.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("v"))
    co = materialize(  # degrees + edge count + triangles
        a.join(b, "ok")
        .filter(F.col("u") < F.col("v"))
        .select("u", "v")
        .distinct()
    )
    deg = (
        co.select(F.explode(F.array(F.col("u"), F.col("v"))).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("d"))
    )
    base = deg.agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes"),
        F.coalesce(F.sum(F.expr("d * (d - 1) div 2")), F.lit(0))
        .cast("long")
        .alias("n_wedges"),
    )
    edges = co.agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
    tri = count_triangles(co, src="u", dst="v").agg(
        F.coalesce(F.expr("sum(n_triangles) div 3"), F.lit(0))
        .cast("long")
        .alias("n_triangles")
    )
    return (
        base.crossJoin(edges)  # three 1-row aggregates
        .crossJoin(tri)
        .select("n_nodes", "n_edges", "n_wedges", "n_triangles")
    )


@register(
    "triangle_delta_incremental",
    # incremental maintenance: the Spark side enumerates ONLY triangles
    # touching a new edge (three delta-anchored wedge joins, distinct-ed
    # on the oriented triple); the oracle takes the equivalent but
    # fixture-affordable route — full enumeration filtered to any-new —
    # so a hash match proves the anchored streams cover exactly the
    # delta. "New" edges are pairs whose EVERY supporting order is in
    # the new tranche (orderkey % 10 = 0): pall EXCEPT pold.
    """
WITH pall AS MATERIALIZED (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
),
pold AS MATERIALIZED (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  WHERE a.l_orderkey % 10 != 0
),
delta AS MATERIALIZED (
  SELECT u, v FROM pall EXCEPT SELECT u, v FROM pold
),
deg AS MATERIALIZED (
  SELECT node, CAST(count(*) AS BIGINT) AS d
  FROM (SELECT u AS node FROM pall UNION ALL SELECT v FROM pall)
  GROUP BY 1
),
oriented AS MATERIALIZED (
  SELECT CASE WHEN du.d < dv.d OR (du.d = dv.d AND p.u < p.v)
              THEN p.u ELSE p.v END AS s,
         CASE WHEN du.d < dv.d OR (du.d = dv.d AND p.u < p.v)
              THEN p.v ELSE p.u END AS t
  FROM pall p JOIN deg du ON du.node = p.u JOIN deg dv ON dv.node = p.v
),
tri_new AS MATERIALIZED (
  SELECT t.a, t.b, t.c FROM (
    SELECT e1.s AS a, e1.t AS b, e2.t AS c
    FROM oriented e1
    JOIN oriented e2 ON e2.s = e1.t
    JOIN oriented e3 ON e3.s = e1.s AND e3.t = e2.t
  ) t
  WHERE EXISTS (SELECT 1 FROM delta d
                WHERE d.u = LEAST(t.a, t.b) AND d.v = GREATEST(t.a, t.b))
     OR EXISTS (SELECT 1 FROM delta d
                WHERE d.u = LEAST(t.b, t.c) AND d.v = GREATEST(t.b, t.c))
     OR EXISTS (SELECT 1 FROM delta d
                WHERE d.u = LEAST(t.a, t.c) AND d.v = GREATEST(t.a, t.c))
),
corners AS (
  SELECT a AS node FROM tri_new
  UNION ALL SELECT b FROM tri_new
  UNION ALL SELECT c FROM tri_new
)
SELECT node, CAST(count(*) AS BIGINT) AS n_new_triangles
FROM corners GROUP BY node
ORDER BY n_new_triangles DESC, node ASC
LIMIT 20
""",
)
def triangle_delta_incremental(spark, sf_dir):
    """Top-20 parts by triangles CREATED by the newest order tranche's
    co-purchase edges — operators/graph.py::triangle_delta, which probes
    the graph only with the new edges (|delta| x degree work) instead of
    re-enumerating the persisted graph's triangles; equals the full
    recount difference (test-pinned on random graphs)."""
    from ..operators.graph import triangle_delta

    lineitem = load(spark, sf_dir, "lineitem")

    def pairs(li):
        a = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("u"))
        b = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("v"))
        return (
            a.join(b, "ok").filter(F.col("u") < F.col("v")).select("u", "v").distinct()
        )

    pall = pairs(lineitem)
    pold = pairs(lineitem.filter(F.col("l_orderkey") % 10 != 0))
    delta = pall.subtract(pold)
    return (
        triangle_delta(pold, delta, src="u", dst="v")
        .orderBy(F.desc("n_new_triangles"), F.asc("node"))
        .limit(20)
    )


@register(
    "butterfly_sampled_quality",
    # the exact-to-approximate degradation documented in SCALE.md, made
    # measurable: hash-sample customers at rate 1/4 (deterministic md5
    # bucket — engine-replayable, unlike rand()), count butterflies on
    # the sample, scale by 1/p^2 = 16 (a butterfly survives iff BOTH its
    # customers are sampled). All-integer outputs; the reader judges the
    # estimator against the exact count in the same row.
    """
WITH pairs AS (
  SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
),
sp AS (
  SELECT a.s AS s1, b.s AS s2, CAST(count(*) AS BIGINT) AS n_common
  FROM pairs a JOIN pairs b ON a.c = b.c AND a.s < b.s
  GROUP BY 1, 2
),
spl AS (
  SELECT a.s AS s1, b.s AS s2, CAST(count(*) AS BIGINT) AS n_common
  FROM pairs a JOIN pairs b ON a.c = b.c AND a.s < b.s
  WHERE ('0x' || substr(md5(CAST(a.c AS VARCHAR)), 1, 4))::BIGINT % 4 = 0
  GROUP BY 1, 2
)
SELECT
  (SELECT CAST(coalesce(sum(n_common * (n_common - 1) // 2), 0) AS BIGINT)
   FROM sp) AS n_exact,
  (SELECT CAST(coalesce(sum(n_common * (n_common - 1) // 2), 0) AS BIGINT)
   FROM spl) AS n_sampled,
  (SELECT CAST(16 * coalesce(sum(n_common * (n_common - 1) // 2), 0) AS BIGINT)
   FROM spl) AS n_estimated
""",
)
def butterfly_sampled_quality(spark, sf_dir):
    """Quality audit of the sampled butterfly estimator: exact count vs
    the 1/16-scaled count over a deterministic 1/4 customer hash-sample
    — the knob SCALE.md prescribes when hub pivots make the exact wedge
    expansion infeasible. Hash-bucket sampling (not rand()) keeps the
    estimate bit-identical across engines and partitionings."""
    orders = load(spark, sf_dir, "orders")
    lineitem = load(spark, sf_dir, "lineitem")
    pairs = materialize(  # wedge sides + sampled wedge sides
        orders.join(lineitem, orders.o_orderkey == lineitem.l_orderkey)
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .distinct()
    )

    def total(p):
        a = p.select("c", F.col("s").alias("s1"))
        b = p.select("c", F.col("s").alias("s2"))
        sp = (
            a.join(b, "c")
            .filter(F.col("s1") < F.col("s2"))
            .groupBy("s1", "s2")
            .agg(F.count(F.lit(1)).cast("long").alias("n_common"))
        )
        return sp.agg(
            F.coalesce(
                F.sum(F.expr("n_common * (n_common - 1) div 2")), F.lit(0)
            )
            .cast("long")
            .alias("n")
        )

    sampled = pairs.filter(
        F.expr(
            "cast(conv(substr(md5(cast(c as string)), 1, 4), 16, 10) as bigint) % 4 = 0"
        )
    )
    exact = total(pairs).select(F.col("n").alias("n_exact"))
    est = total(sampled).select(
        F.col("n").alias("n_sampled"),
        (F.lit(16) * F.col("n")).cast("long").alias("n_estimated"),
    )
    return exact.crossJoin(est)  # two 1-row aggregates


_KCORE_K, _KCORE_ROUNDS = 3, 10


def _kcore_round_sql(r: int) -> str:
    # AS MATERIALIZED is load-bearing: DuckDB inlines plain CTEs, and each
    # round references the previous one ~4x — the unrolled chain would
    # inline 4^rounds copies of the base scan (found live as "Too many
    # open files" at rounds=10)
    return f"""
b{r} AS MATERIALIZED (
  SELECT node
  FROM (SELECT u AS node FROM e{r - 1} UNION ALL SELECT v FROM e{r - 1})
  GROUP BY node HAVING count(*) < {_KCORE_K}
),
e{r} AS MATERIALIZED (
  SELECT u, v FROM e{r - 1}
  WHERE u NOT IN (SELECT node FROM b{r})
    AND v NOT IN (SELECT node FROM b{r})
),
s{r} AS (
  SELECT CAST({r} AS INT) AS round,
         CAST(count(DISTINCT node) AS BIGINT) AS n_nodes,
         CAST(count(*) // 2 AS BIGINT) AS n_edges
  FROM (SELECT u AS node FROM e{r} UNION ALL SELECT v FROM e{r})
)"""


@register(
    "kcore_peel_trajectory",
    # iterative peel, replayed exactly: the trajectory is all-integer
    # (node/edge counts), so the unrolled-CTE oracle matches every round
    # bit-for-bit regardless of partitioning — the pagerank/kmeans
    # fixed-point convention applied to subgraph mining
    f"""
WITH e0 AS MATERIALIZED (
  SELECT u, v FROM (
    SELECT a.l_partkey AS u, b.l_partkey AS v, count(*) AS support
    FROM lineitem a JOIN lineitem b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY 1, 2
  ) WHERE support >= 2
),
s0 AS (
  SELECT CAST(0 AS INT) AS round,
         CAST(count(DISTINCT node) AS BIGINT) AS n_nodes,
         CAST(count(*) // 2 AS BIGINT) AS n_edges
  FROM (SELECT u AS node FROM e0 UNION ALL SELECT v FROM e0)
),
{",".join(_kcore_round_sql(r) for r in range(1, _KCORE_ROUNDS + 1))}
{" UNION ALL ".join(f"SELECT * FROM s{r}" for r in range(0, _KCORE_ROUNDS + 1))}
ORDER BY round
""",
)
def kcore_peel_trajectory(spark, sf_dir):
    """Peel trajectory of the 3-core of the support->=2 co-purchase graph
    (parts co-ordered at least twice): 10 peel rounds reach the fixpoint
    on this fixture (the tail rows flatten), each round one degree
    aggregation + two anti-joins over a per-round checkpointed edge
    table — operators/graph.py::kcore_peel."""
    from ..operators.graph import kcore_peel

    lineitem = load(spark, sf_dir, "lineitem")
    a = lineitem.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("u")
    )
    b = lineitem.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("v")
    )
    co = (
        a.join(b, "ok")
        .filter(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("support"))
        .filter(F.col("support") >= 2)
        .select("u", "v")
    )
    return kcore_peel(co, k=_KCORE_K, rounds=_KCORE_ROUNDS, src="u", dst="v").orderBy(
        "round"
    )


@register(
    "triangle_count_parts",
    # degree-ordered orientation makes every triangle enumerable exactly
    # once and bounds each node's wedge fan-out by its oriented
    # out-degree; the (degree, id) tie-break keeps the orientation —
    # hence the whole computation — bit-identical across engines
    """
WITH co AS (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
),
deg AS (
  SELECT node, CAST(count(*) AS BIGINT) AS d FROM (
    SELECT u AS node FROM co UNION ALL SELECT v AS node FROM co
  ) GROUP BY 1
),
oriented AS (
  SELECT CASE WHEN du.d < dv.d OR (du.d = dv.d AND co.u < co.v)
              THEN co.u ELSE co.v END AS s,
         CASE WHEN du.d < dv.d OR (du.d = dv.d AND co.u < co.v)
              THEN co.v ELSE co.u END AS t
  FROM co JOIN deg du ON du.node = co.u JOIN deg dv ON dv.node = co.v
),
tri AS (
  SELECT e1.s AS a, e1.t AS b, e2.t AS c
  FROM oriented e1
  JOIN oriented e2 ON e2.s = e1.t
  JOIN oriented e3 ON e3.s = e1.s AND e3.t = e2.t
),
corners AS (
  SELECT a AS node FROM tri
  UNION ALL SELECT b FROM tri
  UNION ALL SELECT c FROM tri
)
SELECT node, CAST(count(*) AS BIGINT) AS n_triangles
FROM corners GROUP BY node
ORDER BY n_triangles DESC, node ASC
LIMIT 20
""",
)
def triangle_count_parts(spark, sf_dir):
    """Top-20 parts by triangle participation in the co-purchase graph
    (parts appearing on the same order) — the local-clustering signal
    behind community detection and catalog-quality scoring. The edge
    build is a self-join of lineitem on its own key (co-located when the
    table is bucketed by orderkey); the count itself is
    operators/graph.py::count_triangles — degree-oriented, so hub parts
    cannot explode the wedge join at 100 TB."""
    from ..operators.graph import count_triangles

    lineitem = load(spark, sf_dir, "lineitem")
    a = lineitem.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("u")
    )
    b = lineitem.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("v")
    )
    co = (
        a.join(b, "ok")
        .filter(F.col("u") < F.col("v"))
        .select("u", "v")
        .distinct()
    )
    per_node = count_triangles(co, src="u", dst="v")
    return per_node.orderBy(
        F.desc("n_triangles"), F.asc("node")
    ).limit(20)


@register(
    "supplier_degree_histogram",
    """
WITH pairs AS (
  SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
),
deg AS (
  SELECT s, CAST(count(*) AS BIGINT) AS degree FROM pairs GROUP BY 1
)
SELECT degree, CAST(count(*) AS BIGINT) AS n_suppliers
FROM deg GROUP BY 1
ORDER BY degree
""",
)
def supplier_degree_histogram(spark, sf_dir):
    """Degree distribution of the customer<->supplier graph pagerank runs
    on — the structural sanity check before any centrality number is
    trusted (a near-uniform histogram means centrality differences are
    real signal, a power law means hubs dominate). Two partial-aggregated
    shuffles; the distinct is the same pairs build as pagerank_suppliers."""
    orders = load(spark, sf_dir, "orders")
    lineitem = load(spark, sf_dir, "lineitem")
    pairs = (
        orders.join(lineitem, orders.o_orderkey == lineitem.l_orderkey)
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .distinct()
    )
    deg = pairs.groupBy("s").agg(F.count(F.lit(1)).cast("long").alias("degree"))
    return (
        deg.groupBy("degree")
        .agg(F.count(F.lit(1)).cast("long").alias("n_suppliers"))
        .orderBy("degree")
    )


# ---------------------------------------------------------------------------
# Co-visitation matrix (session-based co-occurrence): the recsys / corpus-
# linking primitive — for every item, the top-k items sharing a (user,
# hour) session, ranked by distinct-session co-count. The item is the
# integer `k` in the events props JSON (real JSON extraction on both
# engines: get_json_object / json_extract_string, mirroring
# json_props_extract); the session key is an integer epoch-hour bucket
# (epoch_us // 3.6e9 — the CLAUDE.md timestamp rule). Scale shape: pair
# fan-out is bounded per session (distinct items per user-hour is small;
# cap with a per-session WindowGroupLimit at 100 TB), the (a, b) count is
# one shuffle, and the per-anchor top-k is WindowGroupLimit-reduced.
# ---------------------------------------------------------------------------

_COVIS_K = 5
_HOUR_US = 3_600_000_000


@register(
    "covisitation_topk",
    f"""
WITH ev AS (
  SELECT user_id,
         epoch_us(CAST(ts AS TIMESTAMP)) // {_HOUR_US} AS hour_bucket,
         CAST(json_extract_string(props, '$.k') AS BIGINT) AS item
  FROM events
),
session_items AS (
  SELECT DISTINCT user_id, hour_bucket, item FROM ev WHERE item IS NOT NULL
),
pairs AS (
  SELECT a.item AS k_a, b.item AS k_b,
         CAST(count(*) AS BIGINT) AS n_sessions
  FROM session_items a
  JOIN session_items b
    ON a.user_id = b.user_id AND a.hour_bucket = b.hour_bucket
   AND a.item != b.item
  GROUP BY 1, 2
),
ranked AS (
  SELECT k_a, k_b, n_sessions,
         row_number() OVER (PARTITION BY k_a
                            ORDER BY n_sessions DESC, k_b ASC) AS rk
  FROM pairs
)
SELECT k_a, k_b, n_sessions, CAST(rk AS INT) AS rk
FROM ranked WHERE rk <= {_COVIS_K}
""",
)
def covisitation_topk(spark, sf_dir):
    """'Users who touched X in a session also touched Y': distinct items
    per (user, epoch-hour) session, within-session pair counts over
    distinct sessions, top-{_COVIS_K} neighbors per anchor item."""
    from pyspark.sql.window import Window

    from .._registry_core import load_events

    ev = load(spark, sf_dir, "events").select(
        "user_id",
        F.expr(f"unix_micros(cast(ts as timestamp)) div {_HOUR_US}").alias(
            "hour_bucket"
        ),
        # real JSON extraction (get_json_object), not a whitespace-sensitive
        # regexp — a props row without "k" yields NULL (filtered below)
        F.get_json_object("props", "$.k").cast("bigint").alias("item"),
    )
    si = ev.filter(F.col("item").isNotNull()).distinct()
    a = si.alias("a")
    b = si.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.hour_bucket") == F.col("b.hour_bucket"))
            & (F.col("a.item") != F.col("b.item")),
        )
        .groupBy(
            F.col("a.item").alias("k_a"), F.col("b.item").alias("k_b")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_sessions"))
    )
    w = Window.partitionBy("k_a").orderBy(
        F.col("n_sessions").desc(), F.col("k_b").asc()
    )
    # No final orderBy: the driver compare is order-insensitive and a global
    # range sort's sampling pass would re-execute the pair-join pipeline.
    return pairs.withColumn("rk", F.row_number().over(w).cast("int")).filter(
        F.col("rk") <= _COVIS_K
    )


# ---------------------------------------------------------------------------
# Label-propagation communities (operators/graph.label_propagation):
# synchronous LPA with the smallest-label tie-break over the symmetrized
# customer<->supplier graph — the deterministic variant of the classic
# community detector, unrolled per round in the oracle exactly like
# pagerank_suppliers. Output: community sizes after 2 rounds.
# ---------------------------------------------------------------------------

def _lpa_round_sql(t: int) -> str:
    return f"""
c{t} AS (
  SELECT e.dst AS n, l.label, count(*) AS c
  FROM edges e JOIN l{t - 1} l ON l.node = e.src
  GROUP BY 1, 2
),
l{t} AS MATERIALIZED (
  SELECT n AS node, label FROM (
    SELECT n, label,
           row_number() OVER (PARTITION BY n
                              ORDER BY c DESC, label ASC) AS rk
    FROM c{t}
  ) WHERE rk = 1
)"""


@register(
    "lpa_communities",
    f"""
WITH pairs AS (
  SELECT DISTINCT 'c' || CAST(o.o_custkey AS VARCHAR) AS c,
                  's' || CAST(l.l_suppkey AS VARCHAR) AS s
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
),
edges AS (
  SELECT c AS src, s AS dst FROM pairs
  UNION ALL
  SELECT s AS src, c AS dst FROM pairs
),
nodes AS (SELECT DISTINCT src AS node FROM edges),
l0 AS (SELECT node, node AS label FROM nodes),
{_lpa_round_sql(1)},
{_lpa_round_sql(2)}
SELECT label, CAST(count(*) AS BIGINT) AS n_members
FROM l2
GROUP BY label
ORDER BY n_members DESC, label ASC
LIMIT 20
""",
)
def lpa_communities(spark, sf_dir):
    """Top-20 communities by size after 2 deterministic LPA rounds on the
    transaction graph — the community structure a curation pipeline uses
    to cap per-community sampling (the graph analogue of per-source
    quotas)."""
    from ..operators.graph import label_propagation

    orders = load(spark, sf_dir, "orders")
    lineitem = load(spark, sf_dir, "lineitem")
    pairs = (
        orders.join(lineitem, orders.o_orderkey == lineitem.l_orderkey)
        .select(
            F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("c"),
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("s"),
        )
        .distinct()
    )
    edges = pairs.select(F.col("c").alias("src"), F.col("s").alias("dst")).unionAll(
        pairs.select(F.col("s").alias("src"), F.col("c").alias("dst"))
    )
    labels = label_propagation(edges, iters=2)
    return (
        labels.groupBy("label")
        .agg(F.count(F.lit(1)).cast("long").alias("n_members"))
        .orderBy(F.col("n_members").desc(), F.col("label").asc())
        .limit(20)
    )


# ---------------------------------------------------------------------------
# WEIGHTED PageRank (operators/graph.pagerank_weighted): rank splits
# proportionally to integer edge weights (distinct-order counts between a
# customer and a supplier) instead of uniformly — purchase INTENSITY
# drives centrality. Same integer recipe; contribution is
# (rank * w) div W_out(src).
# ---------------------------------------------------------------------------

def _prw_round_sql(t: int) -> str:
    return f"""
wi{t} AS (
  SELECT e.dst AS node,
         CAST(SUM((r.rank_u6 * e.w) // wt.w_out) AS BIGINT) AS inc
  FROM edges e
  JOIN wr{t - 1} r ON r.node = e.src
  JOIN wtot wt ON wt.src = e.src
  GROUP BY 1
),
wr{t} AS MATERIALIZED (
  SELECT n.node,
         CAST(150000 + (85 * COALESCE(i.inc, 0)) // 100 AS BIGINT) AS rank_u6
  FROM nodes n LEFT JOIN wi{t} i ON i.node = n.node
)"""


@register(
    "pagerank_weighted_suppliers",
    f"""
WITH pairs AS (
  SELECT 'c' || CAST(o.o_custkey AS VARCHAR) AS c,
         's' || CAST(l.l_suppkey AS VARCHAR) AS s,
         CAST(count(DISTINCT o.o_orderkey) AS BIGINT) AS w
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  GROUP BY 1, 2
),
edges AS (
  SELECT c AS src, s AS dst, w FROM pairs
  UNION ALL
  SELECT s AS src, c AS dst, w FROM pairs
),
wtot AS (SELECT src, CAST(SUM(w) AS BIGINT) AS w_out FROM edges GROUP BY 1),
nodes AS (SELECT DISTINCT src AS node FROM edges),
wr0 AS (SELECT node, CAST(1000000 AS BIGINT) AS rank_u6 FROM nodes),
{_prw_round_sql(1)},
{_prw_round_sql(2)}
SELECT node, rank_u6 FROM wr2
WHERE node LIKE 's%'
ORDER BY rank_u6 DESC, node ASC
LIMIT 20
""",
)
def pagerank_weighted_suppliers(spark, sf_dir):
    """Top-20 suppliers by purchase-intensity-weighted centrality: edge
    weight = distinct orders between the pair, rank splits as
    (rank * w) div W_out — all BIGINT, bit-exact replay."""
    from ..operators.graph import pagerank_weighted

    orders = load(spark, sf_dir, "orders")
    lineitem = load(spark, sf_dir, "lineitem")
    pairs = (
        orders.join(lineitem, orders.o_orderkey == lineitem.l_orderkey)
        .groupBy(
            F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("c"),
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("s"),
        )
        .agg(F.count_distinct("o_orderkey").cast("long").alias("w"))
    )
    edges = pairs.select(
        F.col("c").alias("src"), F.col("s").alias("dst"), "w"
    ).unionAll(
        pairs.select(F.col("s").alias("src"), F.col("c").alias("dst"), "w")
    )
    ranks = pagerank_weighted(edges, iters=2)
    return (
        ranks.filter(F.col("node").startswith("s"))
        .orderBy(F.col("rank_u6").desc(), F.col("node").asc())
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Key-skew diagnostics (round 10): the pre-shuffle profiling pass that
# decides salting/AQE-skew handling — hottest-key shares (the
# single-partition ceiling of a shuffle on that key) and an all-BIGINT
# Gini of the key-count distribution (rank-weighted sum is invariant
# under tied-count permutations, so no tie-break subtleties). One row per
# audited fact-table key.
# ---------------------------------------------------------------------------

def _skew_sql(table: str, key: str, label: str) -> str:
    return f"""
  SELECT '{label}' AS key_name,
         CAST(sum(c) AS BIGINT) AS n_rows,
         CAST(count(*) AS BIGINT) AS n_keys,
         CAST(max(CASE WHEN rd = 1 THEN c ELSE 0 END) * 1000000
              // sum(c) AS BIGINT) AS top1_share_u6,
         CAST(sum(CASE WHEN rd <= 10 THEN c ELSE 0 END) * 1000000
              // sum(c) AS BIGINT) AS top10_share_u6,
         CAST((((2 * sum(i * c) - (count(*) + 1) * sum(c)) // sum(c))
               * 1000000
               + (((2 * sum(i * c) - (count(*) + 1) * sum(c)) % sum(c))
               * 1000000) // sum(c)) // count(*) AS BIGINT) AS gini_u6
  FROM (
    SELECT c,
           row_number() OVER (ORDER BY c ASC, k ASC) AS i,
           row_number() OVER (ORDER BY c DESC, k ASC) AS rd
    FROM (SELECT {key} AS k, CAST(count(*) AS BIGINT) AS c
          FROM {table} GROUP BY 1)
  )"""


_SKEW_KEYS = (
    ("events", "user_id", "events.user_id"),
    ("lineitem", "l_suppkey", "lineitem.l_suppkey"),
    ("lineitem", "l_partkey", "lineitem.l_partkey"),
    ("orders", "o_custkey", "orders.o_custkey"),
)


@register(
    "key_skew_diagnostics",
    "\nUNION ALL\n".join(_skew_sql(t, k, lbl) for t, k, lbl in _SKEW_KEYS),
)
def key_skew_diagnostics(spark, sf_dir):
    """Skew profile of the four hottest shuffle keys in the schema
    (operators/relational.key_skew_stats): per key, row/key counts, top-1
    and top-10 key shares, and the Gini of the count distribution — the
    numbers that justify salted_hot_key_agg's existence before a job
    straggles. Each key costs one count shuffle + dictionary-scale rank
    passes; the four 1-row results union."""
    from ..operators.relational import key_skew_stats

    out = None
    for table, key, label in _SKEW_KEYS:
        d = key_skew_stats(load(spark, sf_dir, table), key, label)
        out = d if out is None else out.unionByName(d)
    return out


# ---------------------------------------------------------------------------
# Multi-touch attribution (round 10): each purchase distributes EXACTLY
# 1e6 credit micro-units over the user's click/view touches in the prior
# 24h — linear and U-shaped (40/20/40) models with remainder-to-last
# rules, so Σcredit == 1e6 x attributed purchases in BIGINTs on any
# engine/partitioning. The Spark side runs the bucketed (user, time-
# bucket) equi-join (range_self_join pattern); the oracle runs the
# blocking-free theta join — the fuzzy-tier "truth oracle validates the
# blocking" discipline.
# ---------------------------------------------------------------------------

_ATTR_W_US = 86_400 * 1_000_000


@register(
    "attribution_multi_touch",
    f"""
WITH e AS (
  SELECT user_id, event_id, event_type, props,
         epoch_us(CAST(ts AS TIMESTAMP)) AS us
  FROM events
),
p AS (SELECT user_id, us AS pus, event_id AS pid
      FROM e WHERE event_type = 'purchase'),
t AS (SELECT user_id, us AS tus, event_id AS tid,
             COALESCE(CAST(json_extract_string(props, '$.k') AS BIGINT), -1)
               AS item
      FROM e WHERE event_type IN ('click', 'view')),
pairs AS (
  SELECT p.pid, t.item, t.tus, t.tid
  FROM p JOIN t ON t.user_id = p.user_id
   AND t.tus >= p.pus - {_ATTR_W_US}
   AND (t.tus < p.pus OR (t.tus = p.pus AND t.tid < p.pid))
),
ranked AS (
  SELECT item, pid,
         row_number() OVER (PARTITION BY pid ORDER BY tus, tid) AS rk,
         count(*) OVER (PARTITION BY pid) AS n
  FROM pairs
)
SELECT item,
       CAST(count(*) AS BIGINT) AS n_touches,
       CAST(sum(CASE WHEN rk < n THEN 1000000 // n
                     ELSE 1000000 - (1000000 // n) * (n - 1) END)
            AS BIGINT) AS linear_u6,
       CAST(sum(CASE WHEN n = 1 THEN 1000000
                     WHEN n = 2 THEN 500000
                     WHEN rk = 1 THEN 400000
                     WHEN rk = n
                       THEN 400000 + 200000 - (200000 // (n - 2)) * (n - 2)
                     ELSE 200000 // (n - 2) END)
            AS BIGINT) AS ushape_u6
FROM ranked
GROUP BY item
""",
)
def attribution_multi_touch(spark, sf_dir):
    """Per-item conversion credit under linear and U-shaped multi-touch
    models (operators/relational.multi_touch_attribution): the
    'which items drive purchases' table a recommendation/ads pipeline
    feeds back into training-data weighting."""
    from ..operators.relational import multi_touch_attribution

    from .._registry_core import load_events

    return multi_touch_attribution(load_events(spark, sf_dir))


# ---------------------------------------------------------------------------
# CUSUM drift detection (round 12): the data-drift monitor a production
# ingest pipeline runs per entity. All-BIGINT via the prefix-sum closed
# form S_t = P_t - min(0, min P_j) (operators/relational.cusum_per_key) —
# window-expressible, no fold; found live that DuckDB 1.0's list_reduce
# REBINDS struct fields mid-step (a.s sees the new value), so struct-fold
# twins are unsafe there anyway.
# ---------------------------------------------------------------------------

_CUSUM_CUT = "2024-01-16 00:00:00"
_CUSUM_SLACK = 2_000   # cents of allowed drift per event
_CUSUM_H = 100_000     # detection threshold, cents


@register(
    "cusum_drift_detection",
    f"""
WITH ev AS (
  SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
         CAST(round((value + CASE WHEN user_id % 7 = 0
                                   AND CAST(ts AS TIMESTAMP)
                                       >= TIMESTAMP '{_CUSUM_CUT}'
                              THEN 200.0 ELSE 0.0 END) * 100, 0)
              AS BIGINT) AS v_cents,
         CASE WHEN CAST(ts AS TIMESTAMP) >= TIMESTAMP '{_CUSUM_CUT}'
              THEN 1 ELSE 0 END AS is_post
  FROM events
),
mu AS (
  SELECT user_id,
         CAST(sum(v_cents) AS BIGINT) // CAST(count(*) AS BIGINT)
           AS mu_cents,
         CAST(count(*) AS BIGINT) AS n_pre
  FROM ev WHERE is_post = 0 GROUP BY 1
),
np AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS n_post
  FROM ev WHERE is_post = 1 GROUP BY 1
),
dev AS (
  SELECT e.user_id, e.ts_us, e.event_id,
         e.v_cents - m.mu_cents - {_CUSUM_SLACK} AS x,
         m.mu_cents
  FROM ev e
  JOIN mu m ON m.user_id = e.user_id
  JOIN np ON np.user_id = e.user_id
  WHERE m.n_pre >= 3 AND np.n_post >= 3
),
p AS (
  SELECT user_id, mu_cents, ts_us, event_id,
         CAST(sum(x) OVER (PARTITION BY user_id
                           ORDER BY ts_us, event_id
                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS p
  FROM dev
),
s AS (
  SELECT user_id, mu_cents,
         p - least(CAST(0 AS BIGINT),
                   CAST(min(p) OVER (PARTITION BY user_id
                                     ORDER BY ts_us, event_id
                                     ROWS UNBOUNDED PRECEDING)
                        AS BIGINT)) AS s
  FROM p
)
SELECT user_id,
       CAST(user_id % 7 = 0 AS INT) AS shifted,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(min(mu_cents) AS BIGINT) AS mu_cents,
       CAST(max(s) AS BIGINT) AS s_max,
       CAST(max(s) >= {_CUSUM_H} AS INT) AS detected
FROM s GROUP BY 1, 2
""",
)
def cusum_drift_detection(spark, sf_dir):
    """Per-user CUSUM drift detection with a PLANTED level shift: users
    with user_id % 7 == 0 get +200.00 added to every event value from
    2024-01-16 on; the baseline mean comes from each user's pre-cut
    events (integer division of exact cents), and the one-sided CUSUM
    statistic S_t accumulates post-baseline deviations above a
    2000-cent slack. Everything stays BIGINT via the prefix-sum closed
    form (operators/relational.cusum_per_key), so both engines agree
    bit-for-bit — DuckDB 1.0's list_reduce rebinds struct fields
    mid-step (found live, probed: {{'s': a.s+b.v, 'chk': a.s}} yields
    chk == the NEW s), so the window form is the only safe twin shape
    for this family as well as the scalable one. Users need >= 3 events
    on each side of the cut to be scored. sf0.01: PERFECT separation —
    all 22 shifted users detected, 0 of 128 unshifted false-positive
    (max unshifted excursion stays under the 100k-cent threshold at the
    2000-cent slack)."""
    from ..operators.relational import cusum_per_key

    cut = F.to_timestamp(F.lit(_CUSUM_CUT))
    ev = load(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        F.round(
            (
                F.col("value")
                + F.when(
                    (F.col("user_id") % 7 == 0)
                    & (F.col("ts").cast("timestamp") >= cut),
                    F.lit(200.0),
                ).otherwise(F.lit(0.0))
            )
            * 100,
            0,
        )
        .cast("long")
        .alias("v_cents"),
        (F.col("ts").cast("timestamp") >= cut).cast("int").alias("is_post"),
    )
    mu = (
        ev.filter(F.col("is_post") == 0)
        .groupBy("user_id")
        .agg(
            F.expr("sum(v_cents) div count(*)").cast("long").alias(
                "mu_cents"
            ),
            F.count(F.lit(1)).cast("long").alias("n_pre"),
        )
    )
    np_ = (
        ev.filter(F.col("is_post") == 1)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_post"))
    )
    dev = (
        ev.join(F.broadcast(mu), "user_id")
        .join(F.broadcast(np_), "user_id")
        .filter((F.col("n_pre") >= 3) & (F.col("n_post") >= 3))
        .select(
            "user_id",
            "ts_us",
            "event_id",
            (F.col("v_cents") - F.col("mu_cents") - F.lit(_CUSUM_SLACK))
            .cast("long")
            .alias("x"),
            "mu_cents",
        )
    )
    stats = cusum_per_key(dev, "user_id", ["ts_us", "event_id"], "x")
    return stats.join(
        F.broadcast(mu.select("user_id", "mu_cents")), "user_id"
    ).select(
        "user_id",
        (F.col("user_id") % 7 == 0).cast("int").alias("shifted"),
        "n_events",
        "mu_cents",
        "s_max",
        (F.col("s_max") >= _CUSUM_H).cast("int").alias("detected"),
    )
