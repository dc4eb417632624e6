"""Declared query inventory: every SURVEY.md §2 operator family as a
(spark_fn, oracle_sql) pair over the driver corpus (TESTDATA.md).

Numeric-stability contract with the DuckDB oracle: double-typed money/qty
columns are accumulated as ``DECIMAL(18,2)`` (exact) in BOTH engines and
cast to ``DOUBLE`` only at the end; averages are a single double division
of exact operands. This makes value-hashes bit-identical regardless of
aggregation order — which a distributed engine must not depend on.

Timestamps: the corpus stores parquet INT64 micros; with a UTC session
both engines see identical wall-clock fields, and outputs that must hash
stably are reduced to epoch seconds / extracted ints / DATE.

Each Spark function takes ``(spark, sf_dir)`` and aliases every computed
column identically to its oracle SQL (driver contract requirement).
"""

from __future__ import annotations

from collections.abc import Callable

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .sources.parquet import register_views, table

__all__ = ["SPARK_QUERIES", "ORACLE_SQL", "flagship_corpus_match"]


def _dec(c, scale: int = 2):
    col = F.col(c) if isinstance(c, str) else c
    return col.cast(f"decimal(18,{scale})")


# --------------------------------------------------------------------------
# Relational inventory (SURVEY.md §2.2-2.6)
# --------------------------------------------------------------------------


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash aggregate with decimal-exact sums (TPC-H Q1 shape; SURVEY A4)."""
    li = table(spark, sf_dir, "lineitem")
    disc_price = _dec("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - _dec("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2001-09-01").cast("date"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(_dec("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.sum(disc_price).cast("double").alias("sum_disc_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .withColumn("avg_qty", F.col("sum_qty") / F.col("count_order"))
    )


def q_filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Predicate + projection + computed scalar (SURVEY P1-P8)."""
    c = table(spark, sf_dir, "customer")
    return c.filter((F.col("c_acctbal") > 5000) & (F.col("c_mktsegment") == "BUILDING")).select(
        "c_custkey",
        F.upper(F.col("c_name")).alias("name_upper"),
        _dec("c_acctbal").cast("double").alias("acctbal"),
        (_dec("c_acctbal") * F.lit(2).cast("decimal(18,2)")).cast("double").alias("acctbal_x2"),
    )


def q_join_nation_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-way broadcastable equi join + agg (SURVEY J2)."""
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .filter(F.col("r_name").isin("ASIA", "EUROPE"))
        .groupBy("r_name", "n_name")
        .agg(
            F.count(F.lit(1)).alias("customers"),
            F.sum(_dec("c_acctbal")).cast("double").alias("total_acctbal"),
        )
    )


def q_join_orders_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact⋈dim join + per-segment aggregate (SURVEY J2/A4)."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("order_count"),
            F.sum(_dec("o_totalprice")).cast("double").alias("revenue"),
        )
    )


def q_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi: customers having ≥1 'F'-status order, counted by nation."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).alias("customers_with_f_orders"))
    )


def q_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti: customers with no orders at all."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name", "c_nationkey"
    )


def q_outer_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join preserving order-less customers (0 counts)."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(
            F.count(F.col("o_orderkey")).alias("order_count"),
            F.coalesce(F.sum(_dec("o_totalprice")), F.lit(0).cast("decimal(18,2)"))
            .cast("double")
            .alias("spend"),
        )
    )


def q_topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k with deterministic tiebreak (SURVEY W1/W2)."""
    o = table(spark, sf_dir, "orders")
    return (
        o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(10)
        .select("o_orderkey", "o_custkey", _dec("o_totalprice").cast("double").alias("totalprice"))
    )


def q_window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer top-3 orders via dense_rank (SURVEY W2/W3 analog)."""
    o = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
    return (
        o.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select(
            "o_custkey",
            "o_orderkey",
            _dec("o_totalprice").cast("double").alias("totalprice"),
            "rk",
        )
    )


def q_window_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running frame sum per customer in date order (SURVEY W-family)."""
    o = table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.col("o_orderdate"), F.col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.sum(_dec("o_totalprice")).over(w).cast("double").alias("running_spend"),
    )


def q_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 analog [EXT]: top-10 unshipped orders by revenue for one
    market segment.  3-table join where BOTH filters sit on the scans
    (pushed) and the dimension side (filtered customer keys) broadcasts;
    revenue aggregates through decimal for hash stability; top-10 via
    the sort-limit TakeOrderedAndProject path."""
    c = table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderdate") < "1999-01-01")
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > "1999-01-01")
    revenue = F.sum(
        (_dec("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - _dec("l_discount"))).cast(
            "decimal(38,4)"
        )
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c.select("c_custkey")), o.o_custkey == F.col("c_custkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(revenue.cast("double").alias("revenue"))
        .select(
            "l_orderkey",
            F.unix_timestamp("o_orderdate").alias("o_orderdate_s"),
            "o_orderpriority",
            "revenue",
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
    )


def q_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 analog [EXT]: revenue per nation where customer and
    supplier share the nation, one region, one order-year.  The 6-table
    join: fact lineitem keeps its partitioning through the orderkey
    shuffle; customer/supplier/nation/region dims broadcast; the
    c_nationkey = s_nationkey condition closes the join cycle."""
    r = table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = table(spark, sf_dir, "nation").join(
        F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey")
    )
    c = table(spark, sf_dir, "customer")
    s = table(spark, sf_dir, "supplier")
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1998-01-01")
    )
    li = table(spark, sf_dir, "lineitem")
    revenue = F.sum(
        (_dec("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - _dec("l_discount"))).cast(
            "decimal(38,4)"
        )
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(
            F.broadcast(c),
            (o.o_custkey == c.c_custkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(revenue.cast("double").alias("revenue"))
    )


def q_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 analog [EXT]: top-20 customers by revenue lost to
    returns in one quarter.  Filters pushed to both fact scans, nation
    broadcast, single aggregate keyed by the customer attributes."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1997-01-01") & (F.col("o_orderdate") < "1997-07-01")
    )
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = table(spark, sf_dir, "nation")
    revenue = F.sum(
        (_dec("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - _dec("l_discount"))).cast(
            "decimal(38,4)"
        )
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(revenue.cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


def q_window_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offset window functions (SURVEY W-family [EXT]): previous/next
    order and inter-order gap per customer, plus a spend quartile via
    ntile.  Both windows share the per-customer partitioning, so Catalyst
    plans ONE exchange + two sorts — the shuffle is paid once."""
    o = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    w_spend = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.lag("o_orderkey", 1).over(w).alias("prev_order"),
        F.lead("o_orderkey", 1).over(w).alias("next_order"),
        F.datediff(F.col("o_orderdate"), F.lag("o_orderdate", 1).over(w)).alias(
            "days_since_prev"
        ),
        F.ntile(4).over(w_spend).alias("spend_quartile"),
    )


def q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
        )
    )


def q_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(F.count(F.lit(1)).alias("cnt"))


def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4: explicit grouping sets — (status, priority) and (status) and ()
    in one aggregation pass (Catalyst expands to Expand + single hash agg)."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority, COUNT(*) AS cnt,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
        """
    )


def q_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return li.select("l_returnflag", "l_linestatus").distinct()


def q_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("distinct_parts"),
        F.countDistinct("l_suppkey").alias("distinct_supps"),
    )


def q_approx_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 sketch aggregate (SURVEY §2.5): HyperLogLog++ cardinality per
    return flag — the aggregate a 100 TB pipeline actually uses, since
    exact COUNT(DISTINCT) shuffles every distinct key while the sketch
    shuffles a fixed few KB per group.

    Spark's HLL++ and DuckDB's HLL give different point estimates, so
    the portable (hash-checkable) output is the exact count plus a
    bounded-relative-error flag: estimate/exact within ±10% (both
    engines target ~2-5% rsd, so the envelope holds deterministically
    on both)."""
    li = table(spark, sf_dir, "lineitem")
    ratio = F.col("_approx").cast("double") / F.col("exact_parts").cast("double")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_partkey").alias("exact_parts"),
            F.approx_count_distinct("l_partkey", 0.05).alias("_approx"),
        )
        .select(
            "l_returnflag",
            "exact_parts",
            ratio.between(0.9, 1.1).alias("approx_within_10pct"),
        )
    )


def q_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group (SURVEY A4 [EXT]).

    ``percentile`` is the exact linear-interpolation aggregate (sorts
    each group's values); at 100 TB the drop-in scale path is
    ``approx_percentile`` (KLL-style sketch, fixed memory per group,
    mergeable map-side) — exact here because the oracle must hash-match.
    l_quantity values are small integers stored as double, so the
    interpolation arithmetic is exact in both engines; rounding is
    belt-and-braces."""
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.percentile("l_quantity", 0.25), 6).alias("qty_p25"),
        F.round(F.percentile("l_quantity", 0.5), 6).alias("qty_p50"),
        F.round(F.percentile("l_quantity", 0.75), 6).alias("qty_p75"),
        F.count(F.lit(1)).alias("cnt"),
    )


def q_pivot_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot / crosstab (SURVEY A4 [EXT]): order counts and revenue per
    nation × order status, statuses as columns.

    ``pivot`` is given the EXPLICIT value list — without it Spark runs
    an eager distinct job at plan-build time to discover the columns,
    an extra pass over the fact table that a 100 TB plan can't afford.
    The dimension side (customer⋈nation) is broadcast so the only fact
    shuffle is the final per-nation aggregate; revenue sums go through
    decimal for cross-engine exactness."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    dim = F.broadcast(c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey))
    return (
        o.join(dim, o.o_custkey == dim.c_custkey)
        .groupBy("n_name")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(_dec("o_totalprice")).cast("double").alias("revenue"),
        )
    )


def q_stats_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates per group (SURVEY A4 [EXT]): sample
    stddev, sample covariance, and Pearson correlation of quantity vs
    extended price per return flag.

    Built-in ``corr``/``covar_samp``/``stddev`` are the scale path, but
    their double accumulation is summation-order-dependent, so the
    cross-engine hash could flip on the last ulp.  Instead the moments
    (Σx, Σy, Σxy, Σx², Σy²) are accumulated EXACTLY in decimal — both
    inputs have ≤2 decimals so every product has ≤4 — and the closed
    forms are evaluated in double on those exact sums: deterministic,
    still one partial-aggregable pass, same shuffle shape as the
    built-ins."""
    li = table(spark, sf_dir, "lineitem")
    x, y = _dec("l_quantity"), _dec("l_extendedprice")
    sums = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(x).cast("double").alias("sx"),
        F.sum(y).cast("double").alias("sy"),
        F.sum((x * y).cast("decimal(38,4)")).cast("double").alias("sxy"),
        F.sum((x * x).cast("decimal(38,4)")).cast("double").alias("sxx"),
        F.sum((y * y).cast("decimal(38,4)")).cast("double").alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    cov_n = n * sxy - sx * sy
    var_x = n * sxx - sx * sx
    var_y = n * syy - sy * sy
    return sums.select(
        "l_returnflag",
        n.cast("bigint").alias("cnt"),
        F.round(F.sqrt(var_x / (n * (n - 1))), 6).alias("stddev_qty"),
        F.round(F.sqrt(var_y / (n * (n - 1))), 6).alias("stddev_price"),
        F.round(cov_n / (n * (n - 1)), 6).alias("covar_qty_price"),
        F.round(cov_n / F.sqrt(var_x * var_y), 6).alias("corr_qty_price"),
    )


def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION / INTERSECT / EXCEPT tagged into one result (SURVEY A1/A4)."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    rich = c.filter(F.col("c_acctbal") > 8000).select(F.col("c_custkey").alias("k"))
    buyers = o.select(F.col("o_custkey").alias("k")).distinct()
    return (
        rich.union(buyers).distinct().select(F.lit("union").alias("op"), "k")
        .unionByName(rich.intersect(buyers).select(F.lit("intersect").alias("op"), "k"))
        .unionByName(rich.exceptAll(buyers).distinct().select(F.lit("except").alias("op"), "k"))
    )


def q_string_scalars(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper(F.col("p_name")).alias("name_upper"),
        F.substring(F.col("p_name"), 1, 5).alias("name_prefix"),
        F.length(F.col("p_name")).alias("name_len"),
        F.regexp_extract(F.col("p_brand"), r"#(\d+)", 1).cast("int").alias("brand_num"),
        F.concat_ws("|", F.col("p_type"), F.col("p_brand")).alias("type_brand"),
        F.replace(F.col("p_name"), F.lit(" "), F.lit("_")).alias("name_snake"),
    )


def q_date_scalars(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("order_year"),
        F.month("o_orderdate").alias("order_month"),
        F.dayofmonth("o_orderdate").alias("order_day"),
        F.date_trunc("month", F.col("o_orderdate")).cast("date").cast("string").alias("month_start"),
        F.datediff(F.lit("2002-01-01").cast("date"), F.col("o_orderdate").cast("date")).alias(
            "days_to_2002"
        ),
    )


def q_math_scalars(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(_dec("l_extendedprice") * _dec("l_discount"), 2).cast("double").alias("discount_amt"),
        F.abs(F.col("l_quantity") - 25.0).cast("double").alias("qty_dev"),
        F.least(F.col("l_tax"), F.col("l_discount")).cast("double").alias("min_rate"),
        F.greatest(F.col("l_tax"), F.col("l_discount")).cast("double").alias("max_rate"),
        F.floor(F.col("l_quantity")).cast("long").alias("qty_floor"),
    )


def q_case_when(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    bucket = (
        F.when(F.col("o_totalprice") < 50000, "small")
        .when(F.col("o_totalprice") < 200000, "medium")
        .otherwise("large")
    )
    return (
        o.select("o_orderstatus", bucket.alias("price_bucket"))
        .groupBy("o_orderstatus", "price_bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def q_json_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON scalar extraction + agg (SURVEY F14 on events.props)."""
    e = table(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("int")
    return (
        e.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


def q_time_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch tumbling window over events (streaming-equivalent shape,
    SURVEY §2.9); epoch seconds keep the hash tz-proof."""
    e = table(spark, sf_dir, "events")
    w = F.window(F.col("ts"), "10 minutes")
    return (
        e.groupBy(w.alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(_dec("value")).cast("double").alias("sum_value"),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).alias("bucket_start"),
            "event_type",
            "cnt",
            "sum_value",
        )
    )


# --------------------------------------------------------------------------
# [EXT] LLM-data-pipeline operators (SURVEY §2.10) — oracle-checkable subset
# --------------------------------------------------------------------------


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via content hash-group: keeper id + duplicate count."""
    d = table(spark, sf_dir, "documents")
    return (
        d.groupBy(F.md5(F.col("text")).alias("content_hash"))
        .agg(
            F.min("doc_id").alias("keeper_doc_id"),
            F.count(F.lit(1)).alias("copies"),
        )
    )


def q_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the stateful streaming dedup
    (streaming/windows.py::dedup_within_watermark, §2.9): synthesize
    duplicate deliveries (every 10th event redelivered one minute
    later), then keep the FIRST arrival per event_id — exactly what
    ``dropDuplicatesWithinWatermark`` emits when the horizon covers the
    redelivery lag.  Fully oracle-expressible as a row_number window;
    the stream≡batch equivalence itself is pinned in
    tests/test_streaming.py."""
    e = table(spark, sf_dir, "events").select("event_id", "ts", "user_id", "event_type", "value")
    redelivered = e.filter(F.col("event_id") % 10 == 0).withColumn(
        "ts", F.col("ts") + F.expr("INTERVAL 1 MINUTE")
    )
    delivered = e.unionByName(redelivered)
    w = Window.partitionBy("event_id").orderBy(F.col("ts"), F.col("user_id"))
    return (
        delivered.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "event_id",
            F.unix_timestamp("ts").alias("ts_s"),
            "user_id",
            "event_type",
            "value",
        )
    )


def q_stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the watermarked stream-stream interval join
    (streaming/windows.py::click_error_interval_join, §2.9): same
    builder, static input (``withWatermark`` is a no-op in batch; inner
    interval joins emit on match, so stream ≡ batch — pinned in
    tests/test_streaming.py).  Fully oracle-checkable."""
    from .streaming.windows import click_error_interval_join

    e = table(spark, sf_dir, "events")
    return click_error_interval_join(
        e.filter(F.col("event_type") == "click"),
        e.filter(F.col("event_type") == "error"),
    )


def q_stateful_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the custom stateful streaming operator
    (streaming/windows.py::running_user_totals, §2.9): the final state
    per user — event count and 6-dp value total — equals a plain
    grouped aggregate over the same events.  The stream≡batch
    equivalence is pinned in tests/test_streaming.py; this query makes
    the operator's semantics oracle-checkable.  Value sums go through
    decimal (inputs have 2 decimals) so the hash can't flip on
    double summation order."""
    e = table(spark, sf_dir, "events")
    return e.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.round(F.sum(_dec("value")).cast("double"), 6).alias("total"),
    )


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (operators/temporal.py): every error event picks up
    the latest click by the same user at or before its timestamp —
    union + running-last window, one shuffle on user_id, no range
    explosion.  Oracle: DuckDB ``ASOF LEFT JOIN``."""
    from .operators.temporal import asof_join

    e = table(spark, sf_dir, "events")
    errors = e.filter(F.col("event_type") == "error").select("event_id", "ts", "user_id", "value")
    clicks = e.filter(F.col("event_type") == "click").select("user_id", "ts", "value")
    joined = asof_join(errors, clicks, on="user_id", right_payload=["ts", "value"])
    return joined.select(
        "event_id",
        "user_id",
        F.unix_timestamp("ts").alias("ts_s"),
        "value",
        F.unix_timestamp("ts_asof").alias("click_ts_s"),
        F.col("value_asof").alias("click_value"),
    )


def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval/range join (operators/temporal.py): events joined into
    overlapping value bands [i·20, i·20+30) through fixed-width bucket
    equi-join — no BroadcastNestedLoopJoin, no cartesian."""
    from .operators.temporal import range_join_buckets

    e = table(spark, sf_dir, "events").select("event_id", "value")
    bands = spark.range(25).select(
        F.col("id").alias("band_id"),
        (F.col("id") * 20.0).alias("lo"),
        (F.col("id") * 20.0 + 30.0).alias("hi"),
    )
    return range_join_buckets(
        e, bands, point_col="value", lo_col="lo", hi_col="hi", bucket_width=20.0
    ).select("event_id", "band_id", "value")


def q_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 history (operators/temporal.py::scd2_intervals): the
    per-user event_type change stream collapsed into half-open validity
    intervals with version numbers — the standard dimension-history
    build of a warehouse ingest pipeline.  One shuffle on user_id; the
    (ts, event_id) order key is unique, so interval boundaries are
    deterministic and hash-checkable."""
    from .operators.temporal import scd2_intervals

    e = table(spark, sf_dir, "events").select("user_id", "ts", "event_id", "event_type")
    iv = scd2_intervals(e, key="user_id", order_by=["ts", "event_id"], attrs=["event_type"])
    return iv.select(
        "user_id",
        "event_type",
        F.unix_timestamp("valid_from").alias("valid_from_s"),
        F.unix_timestamp("valid_to").alias("valid_to_s"),
        "is_current",
        "version",
    )


def q_dq_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass per-column data-quality profile over lineitem
    (operators/profiling.py::profile_columns) — completeness,
    cardinality, and native-type min/max for the snapshot-promotion
    gate.  distinct="exact" here because HLL estimates are
    engine-specific; "approx" is the documented 100 TB default."""
    from .operators.profiling import profile_columns

    li = table(spark, sf_dir, "lineitem")
    return profile_columns(
        li,
        ["l_orderkey", "l_linenumber", "l_returnflag", "l_linestatus"],
        distinct="exact",
    )


def q_apply_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC MERGE/upsert (operators/cdc.py::apply_changes): events replay
    as a change batch onto the customer balance snapshot — last writer
    per key wins ('error' events delete, everything else upserts the
    event value).  One max_by aggregate + one full-outer join; values
    pass straight from parquet to output, so the result is bit-exact."""
    from .operators.cdc import apply_changes

    c = table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("k"), F.col("c_acctbal").alias("val")
    )
    e = table(spark, sf_dir, "events").select(
        F.col("user_id").alias("k"),
        "ts",
        "event_id",
        F.when(F.col("event_type") == "error", F.lit("D")).otherwise(F.lit("U")).alias("op"),
        F.col("value").alias("val"),
    )
    return apply_changes(c, e, key="k", seq_cols=["ts", "event_id"], op_col="op")


def q_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV cardinality sketch (functions/sketches.py::kmv_distinct):
    approximate distinct l_partkey per return flag.  Unlike the HLL++
    twin (q_approx_count_distinct, envelope-checked only), the KMV
    estimate is a pure function of the data + md5_60, so the
    approximation itself — estimator error included — hash-matches the
    DuckDB replay.  k=64 keeps the estimator (not the exact-small) path
    exercised at sf0.01."""
    from .functions.sketches import kmv_distinct

    li = table(spark, sf_dir, "lineitem")
    return kmv_distinct(li, ["l_returnflag"], "l_partkey", k=64, hash_fn="md5_60")


def q_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroids on an integer fixed-point grid
    (operators/simsearch.py::fixed_point_centroids) — class means for
    nearest-class-mean / k-means init, made hash-checkable by snapping
    components to a 2^20 grid and summing exactly in int64 (a float
    centroid is partition-order-dependent and could never match)."""
    from .operators.simsearch import fixed_point_centroids

    emb = table(spark, sf_dir, "embeddings")
    return fixed_point_centroids(emb)


def q_window_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions over orders (SURVEY A4/W extension):
    ntile quartiles, percent_rank, cume_dist, nth_value — the remaining
    standard-SQL window surface.  (o_totalprice, o_orderkey) is a unique
    order key, so every function is deterministic; percent_rank and
    cume_dist are single int/int divisions, bit-stable in both engines."""
    o = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderstatus").orderBy("o_totalprice", "o_orderkey")
    return o.select(
        "o_orderkey",
        "o_orderstatus",
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
        F.nth_value("o_orderkey", 3).over(w).alias("third_key"),
    )


def q_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manually salted skew join (plans/skew.py::salted_join) declared
    as a driver-checked query: events (the skewed fact, salted by
    event_id hash) joined to the customer dimension (exploded
    salt-fold) must equal the oracle's plain join exactly — salting may
    move rows between reducers, never change the result."""
    from .plans.skew import salted_join

    e = table(spark, sf_dir, "events").select(
        F.col("user_id").alias("k"), "event_id", "value"
    )
    c = table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("k"), "c_mktsegment"
    )
    return salted_join(e, c, on="k", salt_src="event_id", salt=8).select(
        "event_id", "k", "value", "c_mktsegment"
    )


CMS_PROBE_TERMS = ["table", "spark", "vector", "join", "quantum"]


def q_cms_term_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch term counts (functions/sketches.py::
    cms_term_counts): corpus occurrences of a probe-term list estimated
    from a fixed 4x1024 counter grid — bounded memory regardless of
    vocabulary.  md5_60 hashing makes the sketch (over-counts included)
    bit-replayable in DuckDB; 'quantum' is absent from the synthetic
    vocabulary, so its row pins the collision floor."""
    from .functions.sketches import cms_term_counts

    d = table(spark, sf_dir, "documents")
    return cms_term_counts(d, CMS_PROBE_TERMS, depth=4, width=1024, hash_fn="md5_60")


def q_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group percentile clipping (operators/profiling.py::winsorize):
    event values clamped to their event_type's [p5, p95] — DISCRETE
    percentiles selected by integer rank, so bounds and clipped values
    are bit-exact in both engines (percentile_cont interpolation would
    not be)."""
    from .operators.profiling import winsorize

    e = table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    return winsorize(e, "value", group_cols=["event_type"])


def q_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) layout key over two event dimensions
    (functions/layout.py::zorder_key) — the multi-column clustering key
    save_sorted_layout sorts by so parquet zone maps prune on BOTH
    user_id and value ranges.  The oracle rebuilds the identical
    interleaving from zorder_sql, so the exact key is hash-checked."""
    from .functions.layout import zorder_key

    e = table(spark, sf_dir, "events")
    x = F.pmod(F.col("user_id"), F.lit(256))
    y = F.least(F.greatest(F.floor("value"), F.lit(0)), F.lit(255))
    return e.select(
        "event_id",
        x.alias("x"),
        y.alias("y"),
        zorder_key([x, y], bits=8).alias("zkey"),
    )


def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting + quality-score shape over documents (SURVEY §2.10)."""
    d = table(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    return d.select(
        "doc_id",
        "lang",
        F.length(F.col("text")).alias("n_chars_computed"),
        F.size(words).alias("n_words"),
        (F.length(F.col("text")) - F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))).alias(
            "n_spaces"
        ),
    )


def q_doc_lang_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    return d.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("docs"),
        F.sum("n_chars").alias("total_chars"),
        (F.sum("n_chars").cast("double") / F.count(F.lit(1))).alias("avg_chars"),
    )


def q_time_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sliding window (10 min / 5 min hop) — each event lands in
    exactly two windows (streaming-equivalent shape, SURVEY §2.9)."""
    e = table(spark, sf_dir, "events")
    w = F.window(F.col("ts"), "10 minutes", "5 minutes")
    return (
        e.groupBy(w.alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(_dec("value")).cast("double").alias("sum_value"),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).alias("bucket_start"),
            "event_type",
            "cnt",
            "sum_value",
        )
    )


def q_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization per user (5-minute inactivity gap) via
    Spark's native session_window (SURVEY §2.9)."""
    e = table(spark, sf_dir, "events")
    return (
        e.groupBy(F.session_window(F.col("ts"), "5 minutes").alias("w"), F.col("user_id"))
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(_dec("value")).cast("double").alias("sum_value"),
        )
        .select(
            "user_id",
            F.unix_timestamp(F.col("w.start")).alias("session_start"),
            F.unix_timestamp(F.col("w.end")).alias("session_end"),
            "cnt",
            "sum_value",
        )
    )


def q_ngram_jaccard_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact bigram-shingle Jaccard ≥ 0.5 pairs (operators/dedup.py) via
    the fused count-join; lossless, fully oracle-checkable."""
    from .operators.dedup import ngram_jaccard_pairs

    d = table(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(d, threshold=0.5, shingle_n=2)


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs resolved into clusters (operators/graph.py
    connected components over the exact-Jaccard pair stream): one row
    per clustered doc with its cluster root and the cluster size —
    the keeper-selection step of a dedup pipeline.  Fully
    oracle-checkable (DuckDB recursive CTE reaches the same unique
    fixpoint)."""
    from .operators.graph import connected_components, near_dup_graph

    d = table(spark, sf_dir, "documents")
    pairs = near_dup_graph(d, materialize=False)
    comp = connected_components(pairs)
    w_sz = Window.partitionBy("cluster_id")
    return comp.select(
        F.col("id").alias("doc_id"),
        "cluster_id",
        F.count(F.lit(1)).over(w_sz).alias("cluster_size"),
        (F.col("id") == F.col("cluster_id")).alias("is_keeper"),
    )


def q_incremental_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC near-dup maintenance (operators/graph.py::incremental_near_dup):
    docs with doc_id % 5 == 0 arrive as the ingestion delta against the
    remaining base snapshot with its cached pair list; cached edges
    between surviving docs are reused verbatim, only delta×snapshot
    pairs are scored fresh (delta-probe countjoin), components rerun
    over the merged edges.  The result must equal a FULL recompute on
    the unified corpus, so the oracle is the dedup_clusters SQL — the
    incremental path is hash-checked against the from-scratch answer."""
    from .operators.graph import incremental_near_dup, near_dup_graph

    d = table(spark, sf_dir, "documents")
    delta = d.filter(F.col("doc_id") % 5 == 0)
    base = d.filter(F.col("doc_id") % 5 != 0)
    cached = near_dup_graph(base, materialize=False)
    return incremental_near_dup(base, delta, base_pairs=cached)


def q_incremental_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC maintenance of the cluster labels themselves
    (operators/graph.py::incremental_cluster_update): docs with
    doc_id % 5 == 0 arrive as the ingestion delta, base docs with
    doc_id % 11 == 0 are deleted outright; cached (id, cluster_id)
    rows of UNTOUCHED components flow through verbatim and connected
    components rerun only over the affected subgraph (components
    containing a retired id or a fresh-edge endpoint) — the
    incremental_near_dup successor that also skips the CC rerun on
    the unchanged part of the cluster graph.  The result must equal a
    FULL dedup_clusters recompute on the unified corpus, so the oracle
    is the dedup_clusters SQL over documents minus the deletions."""
    from .operators.graph import (
        connected_components,
        incremental_cluster_update,
        near_dup_graph,
    )

    d = table(spark, sf_dir, "documents")
    delta = d.filter(F.col("doc_id") % 5 == 0)
    base = d.filter(F.col("doc_id") % 5 != 0)
    removed = base.filter(F.col("doc_id") % 11 == 0).select("doc_id")
    pairs = near_dup_graph(base)
    cached = connected_components(pairs).localCheckpoint(eager=False)
    return incremental_cluster_update(
        base, delta, cached, base_pairs=pairs, removed=removed
    )


def q_incremental_refresh_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The round-10 incremental stages composed end-to-end — ONE CDC
    batch (delta = doc_id % 5 == 0 upserts, deletes = base docs with
    doc_id % 11 == 0) maintaining BOTH derived corpus structures at
    once: the MinHash-LSH band index (operators/lsh_index.py, unchanged
    docs' signatures reused verbatim) and the near-dup cluster labels
    (operators/graph.py::incremental_cluster_update, untouched
    components passed through verbatim, components rerun only on the
    affected subgraph).  Output: one refresh-summary row per surviving
    doc — band count, cluster membership, keeper flag (unclustered docs
    are their own keeper, size 1).  The result must equal a FULL
    rebuild of both structures on the unified corpus, so the oracle
    joins the band-index rebuild SQL with the dedup_clusters rebuild
    SQL — the warehouse refresh contract at 100 TB, where neither
    structure can be rebuilt from scratch per batch."""
    from .operators.graph import (
        connected_components,
        incremental_cluster_update,
        near_dup_graph,
    )
    from .operators.lsh_index import incremental_band_index, minhash_band_index

    d = table(spark, sf_dir, "documents")
    delta = d.filter(F.col("doc_id") % 5 == 0)
    base = d.filter(F.col("doc_id") % 5 != 0)
    removed = base.filter(F.col("doc_id") % 11 == 0).select("doc_id")

    idx = incremental_band_index(minhash_band_index(base), delta, removed)
    n_bands = idx.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_bands")
    )

    pairs = near_dup_graph(base)
    cached = connected_components(pairs).localCheckpoint(eager=False)
    clusters = incremental_cluster_update(
        base, delta, cached, base_pairs=pairs, removed=removed
    )

    nb = n_bands.select(F.col("doc_id").alias("b_id"), "n_bands")
    cl = clusters.select(
        F.col("doc_id").alias("c_id"), "cluster_id", "cluster_size", "is_keeper"
    )
    j = nb.join(cl, nb["b_id"] == cl["c_id"], "full_outer")
    return j.select(
        F.coalesce("b_id", "c_id").cast("long").alias("doc_id"),
        F.coalesce("n_bands", F.lit(0)).cast("long").alias("n_bands"),
        F.col("c_id").isNotNull().alias("clustered"),
        F.coalesce("cluster_id", F.coalesce("b_id", "c_id"))
        .cast("long")
        .alias("cluster_id"),
        F.coalesce("cluster_size", F.lit(1)).cast("long").alias("cluster_size"),
        F.coalesce("is_keeper", F.lit(True)).alias("is_keeper"),
    )


def q_minhash_lsh_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup candidates, exact-Jaccard verified.

    Oracle-checkable against plain exact Jaccard: the operator
    exact-verifies every LSH candidate, so its output differs from the
    exact pairs only by band-collision misses — and on this corpus the
    duplicate pairs sit at J≈0.9 where 8 bands × 4 rows has miss
    probability (1-J⁴)⁸ ≈ 1e-4 per pair; measured recall is exactly
    1.0 at sf0.01 AND sf0.1 (every one of the 25 / 256 exact pairs is
    recovered), so the declared oracle is the exact-Jaccard SQL."""
    from .operators.dedup import minhash_lsh_pairs

    d = table(spark, sf_dir, "documents")
    return minhash_lsh_pairs(d, threshold=0.3)


def q_simhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash fingerprint pairs within Hamming ≤ 3.

    Declared with ``hash_fn="md5_60"`` (60-bit word hash from md5's top
    15 hex chars) so DuckDB can compute bit-identical word hashes and the
    FULL algebra — majority bits, banding, pigeonhole join, Hamming
    verify — is hash-checked by the oracle.  The operator's scale default
    stays xxhash64 (pytest pins md5_60 ≡ xxhash64 up to the hash choice
    via the exact-Hamming differential)."""
    from .operators.dedup import simhash_pairs

    d = table(spark, sf_dir, "documents")
    return simhash_pairs(d, max_hamming=3, hash_fn="md5_60")


def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine near-duplicate pairs over embeddings (oracle via DuckDB
    list_cosine_similarity; cosine rounded to 6 dp both sides)."""
    from .operators.dedup import embedding_near_dup

    emb = table(spark, sf_dir, "embeddings")
    return embedding_near_dup(emb, threshold=0.5)


def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-5 neighbors for every 10th vector (similarity
    search baseline; oracle-checkable)."""
    from .operators.simsearch import cosine_topk_exact

    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 10 == 0)
    return cosine_topk_exact(emb, queries, k=5)


def q_bitext_mine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Margin-based bitext mining
    (operators/simsearch.py::bitext_margin_mine): even-label vectors
    mined against odd-label vectors (the two "languages"), ratio margin
    over each side's k=4 neighborhood density, mutual-best pairs only —
    the LASER/CCMatrix parallel-corpus recipe.  All selection
    arithmetic int64 (grid cosines, exact denominator sums, ONE integer
    floor division per pair)."""
    from .operators.simsearch import bitext_margin_mine

    emb = table(spark, sf_dir, "embeddings")
    return bitext_margin_mine(
        emb.filter(F.col("label") % 2 == 0),
        emb.filter(F.col("label") % 2 == 1),
        k=4,
    )


def q_mmr_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR-diversified top-5 (operators/simsearch.py::mmr_topk): greedy
    relevance-minus-redundancy selection (lambda=0.7) from each query's
    exact top-20 pool — the retrieval-diversification pass of a RAG
    stack.  All comparisons on the rounded 1e-6 cosine grid with id
    tiebreaks; the oracle unrolls the 5 selection rounds as CTEs."""
    from .operators.simsearch import mmr_topk

    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 10 == 0)
    return mmr_topk(emb, queries, k=5, pool=20, lam_permille=700)


def q_kcenter_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-center greedy coreset selection
    (operators/simsearch.py::kcenter_select): 8 farthest-point centers
    over the embeddings table on the integer cosine-distance grid —
    the diversity-based data-selection pass.  The oracle unrolls the 8
    rounds (1-row argmax center + running min-distance update) as
    MATERIALIZED CTEs."""
    from .operators.simsearch import kcenter_select

    return kcenter_select(table(spark, sf_dir, "embeddings"), k=8)


def q_lsh_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH approximate top-5 — now HASH-CHECKED: the
    declared query pins ``nbits=6`` (the operator default stays adaptive
    in N) and uses the md5-derived plane family, whose constants the
    DuckDB oracle regenerates from the same single source
    (``simsearch.lsh_plane``).  Both engines fold every dot product in
    the same left-to-right order, so the signature sign tests and the
    cosine ranks are bit-identical — the oracle replays bucketing,
    candidate generation, and re-ranking exactly.  Recall vs exact is
    additionally asserted in tests."""
    from .operators.simsearch import lsh_cosine_topk

    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 10 == 0)
    return lsh_cosine_topk(emb, queries, k=5, nbits=6, hash_fn="md5_60")



def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID + quality score + token counts per document
    (functions/text.py; fully oracle-checkable)."""
    from .functions.text import split_words, lang_id, quality_score, token_counts

    d = table(spark, sf_dir, "documents")
    # Words split once in a materialized projection — every scalar below
    # references the array attribute, not a re-split of the text.
    staged = d.select("doc_id", "text", split_words(F.col("text")).alias("_w"))
    counts = token_counts(F.col("text"), words=F.col("_w"))
    return staged.select(
        "doc_id",
        lang_id(F.col("text"), words=F.col("_w")).alias("lang_guess"),
        quality_score(F.col("text"), words=F.col("_w")).alias("quality"),
        counts["ws_tokens"].alias("ws_tokens"),
        counts["bpe_pretokens"].alias("bpe_pretokens"),
    )


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bottom-k md5 k-gram sketch fingerprint per document
    (functions/text.py; oracle-checkable bit-for-bit)."""
    from .functions.text import doc_fingerprint, ws_normalize

    d = table(spark, sf_dir, "documents")
    return d.select("doc_id", ws_normalize(F.col("text")).alias("_norm")).select(
        "doc_id", doc_fingerprint(F.col("_norm"), normalized=True).alias("fingerprint")
    )


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: corpus docs sharing any 4-gram with the
    synthetic eval slice (doc_id % 97 == 0) are flagged.  Declared with
    the md5_60 gram hash so the whole broadcast-join + count-distinct
    pipeline is hash-checked (operators/cleaning.py).  n=4 flags ~1.6%
    of this corpus — the dense synthetic vocabulary needs a shorter gram
    than GPT-3's 13 to see any overlap at all."""
    from .operators.cleaning import decontaminate_ngrams

    d = table(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") % 97 == 0)
    corpus = d.filter(F.col("doc_id") % 97 != 0)
    return decontaminate_ngrams(corpus, bench, n=4, min_hits=1, hash_fn="md5_60")


def q_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct-trigram cardinality per language
    (functions/sketches.py::hll_distinct): p=8/m=256 registers built per
    (lang, source) then MAX-MERGED down to lang (the warehouse
    per-partition sketch-merge pattern, in-plan), raw estimate as one
    exact wide-integer division — bit_length via length(bin(w)), no
    float log anywhere, so the estimate itself hash-checks."""
    from .functions.sketches import hll_distinct
    from .operators.cleaning import _ngram_strings

    d = table(spark, sf_dir, "documents")
    grams = d.select(
        "lang", "source", F.explode(_ngram_strings("text", 3)).alias("gram")
    )
    return hll_distinct(
        grams, value_col="gram", group_cols=["lang"], merge_from=["source"]
    )


def q_eval_contamination_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reverse leakage audit (operators/cleaning.py::
    eval_contamination_report): per EVAL item (doc_id % 97 == 0), how
    many corpus docs share a 4-gram and how many of its grams are
    seen — the report an eval owner uses to drop burned items.  Bench
    grams broadcast with ids; only hits shuffle."""
    from .operators.cleaning import eval_contamination_report

    d = table(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") % 97 == 0)
    corpus = d.filter(F.col("doc_id") % 97 != 0)
    return eval_contamination_report(corpus, bench, n=4, hash_fn="md5_60")


def q_decontaminate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Surgical span-level decontamination
    (operators/cleaning.py::decontaminate_spans): positional 4-grams
    shared with the eval slice (doc_id % 97 == 0) poison their word
    positions; the poisoned union is cut and each doc rebuilt from
    surviving words — the StarCoder/The-Stack treatment that keeps
    training tokens whole-doc dropping (q_decontaminate) wastes.
    md5_60 gram hash; rebuilt text hash-checked end to end."""
    from .operators.cleaning import decontaminate_spans

    d = table(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") % 97 == 0)
    corpus = d.filter(F.col("doc_id") % 97 != 0)
    return decontaminate_spans(corpus, bench, n=4, hash_fn="md5_60")


def q_fuzzy_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FUZZY benchmark decontamination
    (operators/cleaning.py::fuzzy_decontaminate): corpus docs that are
    MinHash-LSH near-duplicates (shingle Jaccard ≥ 0.3) of any doc in
    the synthetic eval slice (doc_id % 5 == 0) — catches paraphrased
    leakage that exact n-gram overlap misses.  Declared oracle is the
    exact cross-Jaccard SQL: the operator exact-verifies every band
    collision, and on this corpus contaminated pairs sit at J≈0.9
    where 8 bands × 4 rows has miss probability ≈1e-4 per pair
    (measured recall 1.0 — same argument as minhash_lsh_dedup);
    recall == 1.0 is additionally pinned in pytest."""
    from .operators.cleaning import fuzzy_decontaminate

    d = table(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") % 5 == 0)
    corpus = d.filter(F.col("doc_id") % 5 != 0)
    return fuzzy_decontaminate(corpus, bench, threshold=0.3)


def q_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition stats + C4-style keep flag — pure
    codegen expressions, no shuffle (operators/cleaning.py).  Bigrams at
    a 5% duplicate ratio split this corpus ~85/15 (3-grams are almost
    never repeated in the synthetic text)."""
    from .operators.cleaning import repetition_stats

    d = table(spark, sf_dir, "documents")
    return repetition_stats(d, n=2, max_ratio=0.05)


def q_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified mixture sampling: down-weight the
    over-represented languages (en to 35%, zh to 90%) via a seeded
    per-doc hash threshold — reproducible sampling with no RNG state
    (operators/cleaning.py)."""
    from .operators.cleaning import mixture_sample

    d = table(spark, sf_dir, "documents")
    return mixture_sample(d, {"en": 0.35, "zh": 0.9}, seed="mix").select(
        "doc_id", "lang", "source"
    )


def q_unimax_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UniMax budget allocation (Chung et al. 2023;
    operators/cleaning.py::unimax_mixture): water-fill a 1.5x-corpus
    training-token budget across languages with a 2-epoch repetition
    cap — closed-form level via one window pass over the per-lang
    aggregate, all exact int64; small languages fund to their cap,
    large ones share the leftover equally."""
    from .operators.cleaning import unimax_mixture

    d = table(spark, sf_dir, "documents")
    return unimax_mixture(d, strata_col="lang", epoch_cap=2, budget_permille=1500)


def q_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled mixture sampling
    (operators/cleaning.py::temperature_mixture): per-LANG keep rates
    (n_min/n_i)^0.5 derived from the corpus itself (temperature-2 /
    mBERT exponent sampling — lang is the skewed stratum: en is ~3.4x
    the rarest language, so its keep rate is ~0.54), thresholds on the
    2^60 grid via IEEE sqrt (correctly rounded in both engines — pow is
    not), seeded md5_60 keep test.  Docs selected: (doc_id, lang,
    source)."""
    from .operators.cleaning import temperature_mixture

    d = table(spark, sf_dir, "documents")
    return temperature_mixture(
        d, stratum_col="lang", alpha=0.5, seed="temp"
    ).select("doc_id", "lang", "source")


def q_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style statistical quality score: mean unigram log-prob of
    each doc under the corpus's own unigram LM
    (functions/text.py::unigram_logprob_scores; fully oracle-checkable —
    rounded to 6 dp)."""
    from .functions.text import unigram_logprob_scores

    d = table(spark, sf_dir, "documents")
    return unigram_logprob_scores(d)


def q_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM quality score (add-0.5 smoothing) — word-order-aware
    perplexity stand-in (functions/text.py::bigram_logprob_scores)."""
    from .functions.text import bigram_logprob_scores

    d = table(spark, sf_dir, "documents")
    return bigram_logprob_scores(d)


def q_backoff_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stupid-backoff trigram LM score
    (functions/text.py::backoff_logprob_scores): counts trained on the
    doc_id % 3 != 0 slice, ALL docs scored — held-out docs exercise the
    bigram/unigram backoff branches (hash-checked via the n_backoff1/2
    counters), training docs never back off by construction."""
    from .functions.text import backoff_logprob_scores

    d = table(spark, sf_dir, "documents")
    return backoff_logprob_scores(d, train_pred=F.col("doc_id") % 3 != 0)


def q_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style global span dedup: the corpus keeps one occurrence of
    every distinct 10-word span and documents are rebuilt from surviving
    spans (operators/cleaning.py::span_dedup).  Declared with the md5_60
    span hash so the explode -> min-struct winner aggregate -> hash join
    -> ordered reassembly pipeline is hash-checked end to end, including
    the rebuilt text."""
    from .operators.cleaning import span_dedup

    d = table(spark, sf_dir, "documents")
    return span_dedup(d, span_words=10, hash_fn="md5_60")


def q_exact_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal exact-repeated substrings at span granularity
    (operators/cleaning.py::exact_substring_spans): Lee et al. 2022
    ExactSubstr dedup restated distributively — stride-1 8-word gram
    hashes, global count >= 2 (self-repeats included), repeated
    positions merged into maximal islands by two per-doc windows.
    md5_60 gram hash so the explode -> count -> join -> gap-and-island
    merge is hash-checked end to end."""
    from .operators.cleaning import exact_substring_spans

    d = table(spark, sf_dir, "documents")
    return exact_substring_spans(d, gram_words=8, hash_fn="md5_60")


def q_phash_image_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual image near-dup dedup (multimodal/phash.py): REAL PPM
    decode → integer grayscale → 8×8 block means → integer-DCT pHash →
    7×9-bit Hamming banding (pigeonhole-perfect recall at Hamming ≤ 6)
    → exact bit_count(xor) verify.  Per-image summary rows (phash,
    neighbor count, keeper) so the full algebra is hash-checked even on
    a dup-free corpus; the synthetic PPM raster is byte-computable from
    the text column (the multimodal_image_features device), so the
    oracle replays decode → DCT → banding entirely in integer SQL."""
    from .multimodal.columns import synthesize_media_assets
    from .multimodal.phash import phash_near_dup_summary

    d = table(spark, sf_dir, "documents")
    return phash_near_dup_summary(synthesize_media_assets(d))


def q_video_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual VIDEO near-dup dedup (multimodal/phash.py::
    video_phash_dedup): native frame sampling (every 10th frame, byte
    chunks) → per-frame integer-DCT pHash under the fake-decode
    convention (frame byte p → pixel p of a 12×16 grayscale raster,
    cycled) → frame-level 7×9-bit Hamming banding + exact bit_count
    verify → pair similarity = matched-frame fraction ≥ 50% (pure
    int64 threshold).  Per-video summary rows (frame count, xor frame
    signature, near-dup count, keeper) so the whole algebra
    hash-checks even on a dup-free corpus; frame bytes replay in SQL
    via the hex-slice device (multimodal_frame_sample)."""
    from .multimodal.columns import synthesize_media_assets
    from .multimodal.phash import video_phash_dedup

    d = table(spark, sf_dir, "documents")
    return video_phash_dedup(synthesize_media_assets(d))


def q_incremental_lsh_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC maintenance of the MinHash-LSH band-signature index
    (operators/lsh_index.py): docs with doc_id % 7 == 0 arrive as the
    ingestion delta, base docs with doc_id % 11 == 0 are deletes;
    unchanged docs' signatures are reused verbatim from the cached
    index (anti-joins only — no re-shingling), only delta docs are
    signed fresh.  The result must be row-identical to a full index
    rebuild on the unified corpus, so the oracle computes that rebuild
    directly (md5_60 signatures — replayable end to end)."""
    from .operators.lsh_index import incremental_band_index, minhash_band_index

    d = table(spark, sf_dir, "documents")
    delta = d.filter(F.col("doc_id") % 7 == 0)
    base = d.filter(F.col("doc_id") % 7 != 0)
    dead = base.filter(F.col("doc_id") % 11 == 0).select("doc_id")
    cached = minhash_band_index(base)
    return incremental_band_index(cached, delta, dead)


def q_sketch_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic mergeable quantile sketch
    (functions/sketches.py::sketch_quantiles): KLL-style in role, with
    hash-coordinated subsampling instead of randomized compaction so
    the estimate — sampling error included — is a pure function of the
    data and hash-checks in DuckDB (the kmv_distinct/hll_distinct
    treatment, for quantiles).  Values are l_extendedprice on the
    exact cent grid; row keys are (orderkey, linenumber)."""
    from .functions.sketches import sketch_quantiles

    li = table(spark, sf_dir, "lineitem").select(
        F.floor(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
        F.concat_ws("-", F.col("l_orderkey"), F.col("l_linenumber")).alias("rk"),
    )
    return sketch_quantiles(li, value_col="cents", key_col="rk", k=256)


def q_boilerplate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet/RefinedWeb line-frequency boilerplate removal
    (operators/cleaning.py::boilerplate_spans): 10-word spans occurring
    in more than 2 distinct documents are chrome and removed from EVERY
    document (vs span_dedup's keep-first), docs rebuilt from surviving
    spans.  md5_60 span hash so the count-distinct frequency table, the
    anti join, and the ordered reassembly are hash-checked end to
    end."""
    from .operators.cleaning import boilerplate_spans

    d = table(spark, sf_dir, "documents")
    return boilerplate_spans(d, span_words=10, max_docs=2, hash_fn="md5_60")


def q_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon character entropy per doc
    (functions/text.py::char_entropy_scores) — the gibberish/noise
    cleaning signal; character indexing is UTF-8-character-based in
    both engines so zh docs count identically."""
    from .functions.text import char_entropy_scores

    return char_entropy_scores(table(spark, sf_dir, "documents"))


def q_charngram_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cavnar-Trenkle char-trigram language ID
    (functions/text.py::charngram_langid): per-language top-100 trigram
    profiles, per-doc top-20 profiles, integer out-of-place distance,
    argmin prediction with the correctness flag hash-checked — the
    classical langid method beside the stopword heuristic
    (doc_lang_profile)."""
    from .functions.text import charngram_langid

    return charngram_langid(table(spark, sf_dir, "documents"))


def q_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-law fit per source: OLS slope/intercept of ln(freq) on
    ln(rank) over each source's top-50 terms — the corpus-card statistic
    that flags machine-generated or templated sources (natural text
    slopes cluster near -1; flat slopes mean templating).  Bounded
    per-group term lists (50), exact integer ranks, ln the only
    transcendental, everything else one partial-combining aggregate."""
    from .functions.text import split_words

    d = table(spark, sf_dir, "documents")
    tf = (
        d.select("source", F.explode(split_words(F.col("text"))).alias("w"))
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    wr = Window.partitionBy("source").orderBy(F.desc("c"), "w")
    top = tf.withColumn("rnk", F.row_number().over(wr)).filter(F.col("rnk") <= 50)
    xy = top.select(
        "source",
        F.log(F.col("rnk").cast("double")).alias("x"),
        F.log(F.col("c").cast("double")).alias("y"),
    )
    agg = xy.groupBy("source").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sx2"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sx2") - F.col("sx") * F.col("sx")
    )
    return agg.select(
        "source",
        F.col("n").cast("long").alias("n_terms"),
        F.round(slope, 6).alias("zipf_slope"),
        F.round((F.col("sy") - slope * F.col("sx")) / F.col("n"), 6).alias(
            "zipf_intercept"
        ),
    )


def q_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style rule-based quality gate (functions/text.py): word
    count, mean word length, symbol ratio, alpha-word ratio, stopword
    hits -> per-rule booleans + combined pass.  min_words=40 splits this
    corpus (10-99 words/doc) non-trivially, and min_stopword_hits=1
    because the synthetic vocabulary contains exactly one stopword
    ('the' — 382/500 docs); the default of 2 would zero out `passes`.
    Pure codegen, no shuffle."""
    from .functions.text import gopher_quality

    d = table(spark, sf_dir, "documents")
    return gopher_quality(d, min_words=40, min_stopword_hits=1)


def q_model_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frozen fasttext-class quality model (functions/quality_model.py):
    logistic-regression logit over 64 hashed word-unigram buckets,
    weights distilled offline from the gopher gate and frozen as 1e6-grid
    int64 literals — inference is ONE per-row integer fold, no UDF, no
    shuffle, no model file.  The model-based cleaning signal beside the
    rule-based gopher_quality; pytest pins ≥85% agreement between the
    two gates."""
    from .functions.quality_model import model_quality_scores

    return model_quality_scores(table(spark, sf_dir, "documents"))


def q_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance resampling (operators/dsir.py): hashed
    uni+bigram bag-of-words models for the target slice (source =
    'src0') vs the raw pool, add-1-smoothed log-ratio weights on the
    1e6 integer grid, every raw doc scored and globally ranked
    (ordered_index — one range shuffle), top 25% selected.  The
    deterministic (noise-free Gumbel-top-k) variant of Xie et al. 2023;
    fully hash-checked including the rank column."""
    from .operators.dsir import dsir_select

    d = table(spark, sf_dir, "documents")
    return dsir_select(
        d, F.col("source") == "src0", n_buckets=256, select_frac=0.25
    )


def q_epoch_upsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic epoch-based mixture upsampling
    (operators/cleaning.py::epoch_upsample): src0 sees 2.5 epochs (2
    copies + seeded-hash 50% third), src1 is downsampled to 0.25, src2
    dropped, src3 1.5, everything else 1 epoch — the Llama-style data
    recipe, exercising the integer, fractional, zero and default paths."""
    from .operators.cleaning import epoch_upsample

    d = table(spark, sf_dir, "documents")
    return epoch_upsample(
        d, {"src0": 2.5, "src1": 0.25, "src2": 0.0, "src3": 1.5}, stratum_col="source"
    ).withColumn("copy", F.col("copy").cast("long"))


def q_shared_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplicate pairs (operators/dedup.py::
    shared_substring_pairs): document pairs sharing a verbatim run of
    >= 10 words, via 5-word seed grams chained along match diagonals —
    the Lee-et-al-style substring dedup that catches verbatim copies
    Jaccard misses.  md5_60 seeds make the whole seed->join->islands
    algebra hash-checked."""
    from .operators.dedup import shared_substring_pairs

    d = table(spark, sf_dir, "documents")
    return shared_substring_pairs(d, seed_n=5, min_words=10, hash_fn="md5_60")


def q_shared_substring_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowed exact-substring pairs (operators/dedup.py::
    shared_substring_pairs with winnow_window=4): MOSS-style
    content-defined seed selection shrinks the seed stream ~4x before
    the self-join — the 100 TB configuration of the substring dedup —
    while every >= 8-word run still yields a diagonal match and the
    reported length is a lower bound within 6 words of the truth.
    Selection is a pure function of content, so the whole
    winnow -> join -> gap-chain algebra is hash-checked."""
    from .operators.dedup import shared_substring_pairs

    d = table(spark, sf_dir, "documents")
    return shared_substring_pairs(
        d, seed_n=5, min_words=10, hash_fn="md5_60", winnow_window=4
    )


def _synthetic_url(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents with a deterministic synthetic ``url`` column (the
    corpus carries no URLs; VERDICT r6 #8 says derive one from
    source+id).  Variants exercise every normalization rule: www. and
    cdn. prefixes, trailing slash, utm query, fragment — so documents
    sharing (source, doc_id % 40) collapse under normalization."""
    d = table(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://"),
        F.when(F.col("doc_id") % 4 == 0, F.lit("www.")).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 3 == 0, F.lit("cdn.")).otherwise(F.lit("")),
        F.col("source"),
        F.lit(".com/p/"),
        (F.col("doc_id") % 40).cast("string"),
        F.when(F.col("doc_id") % 2 == 0, F.lit("/")).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 5 == 0, F.lit("?utm_source=feed")).otherwise(
            F.lit("")
        ),
        F.when(F.col("doc_id") % 7 == 0, F.lit("#frag")).otherwise(F.lit("")),
    )
    return d.withColumn("url", url)


_SYNTHETIC_URL_SQL = """
      SELECT doc_id, text,
             'https://'
             || (CASE WHEN doc_id % 4 = 0 THEN 'www.' ELSE '' END)
             || (CASE WHEN doc_id % 3 = 0 THEN 'cdn.' ELSE '' END)
             || source || '.com/p/' || (doc_id % 40)::VARCHAR
             || (CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END)
             || (CASE WHEN doc_id % 5 = 0 THEN '?utm_source=feed' ELSE '' END)
             || (CASE WHEN doc_id % 7 = 0 THEN '#frag' ELSE '' END) AS url
      FROM documents"""

_NORM_URL_SQL = """
      SELECT doc_id, text,
             regexp_replace(regexp_replace(regexp_replace(regexp_replace(
               regexp_replace(lower(url), '^https?://', ''),
               '^www\\.', ''), '#.*$', ''), '\\?.*$', ''), '/$', '')
               AS norm_url
      FROM u"""


def q_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-normalized exact dedup (operators/web.py::url_dedup): one row
    per normalized URL with the min-doc_id keeper and collapse count —
    the cheapest dedup pass of a web-corpus pipeline (re-crawls and
    tracking-parameter variants collapse before any text is shingled)."""
    from .operators.web import url_dedup

    return url_dedup(_synthetic_url(spark, sf_dir))


def q_domain_priors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain quality priors (operators/web.py::
    domain_quality_priors): registrable-domain grouping with
    within-domain duplication and mean-length priors on the int64
    millionths grid — the whole-host boost/demote signal of
    CCNet/RefinedWeb-style curation."""
    from .operators.web import domain_quality_priors

    return domain_quality_priors(_synthetic_url(spark, sf_dir))


def q_blocklist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-boundary blocklist gate (functions/text.py::
    blocklist_filter): C4-style zero-tolerance severe terms +
    RefinedWeb-style soft-density rule on an exact integer ppm grid —
    pure map-side codegen, term lists folded into the plan.  Default
    lists drawn from the synthetic vocabulary split the corpus ~56/44
    on the soft rule."""
    from .functions.text import blocklist_filter

    return blocklist_filter(table(spark, sf_dir, "documents"))


def q_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style per-language head/middle/tail perplexity buckets
    (functions/text.py::perplexity_buckets): unigram-LM scores ranked
    per language WITHOUT the single-reducer `ntile OVER (PARTITION BY
    lang)` — the rank comes from the one-shuffle ordered_index over
    (lang, -score, doc_id) and the bucket from closed-form NTILE
    arithmetic; the oracle states the plain window, the hash check
    proves the two spellings equivalent."""
    from .functions.text import perplexity_buckets

    return perplexity_buckets(table(spark, sf_dir, "documents"))


def q_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (operators/pq.py::pq_topk): per-subspace
    integer codebooks (Gonzalez seeding + pinned Lloyd rounds on the
    global-scale int8 grid), 16 subspaces x 4-bit codes (32x smaller
    than float32), asymmetric table-lookup distances pruning to 100
    candidates, exact full-width refine — the FAISS ADC+refine shape,
    every stage bit-replayed by a generated unrolled-CTE oracle;
    recall@5 vs the exact scan 0.96 (pytest-pinned).  Same query set
    as cosine_topk (vec_id % 10 == 0)."""
    from .operators.pq import pq_topk

    return pq_topk(table(spark, sf_dir, "embeddings"))


def q_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF + PQ composition (operators/pq.py::ivfpq_topk) — FAISS
    IVFADC, the production billion-vector ANN layout: grid-kmeans
    coarse cells on the GLOBAL int8 grid, one shared PQ codebook set
    trained on cell RESIDUALS, per-query 4-of-8-cell probe, ADC
    table-lookup scan over only probed cells' code lists, exact
    full-width refine of the top 100 — both pruning axes of its two
    hash-checked halves (grid_ivf_topk's cell pruning, pq_topk's byte
    codes) in one pipeline, every stage bit-replayed by the generated
    unrolled-CTE oracle (_ivfpq_oracle_sql).  Same query set as
    cosine_topk (vec_id % 10 == 0)."""
    from .operators.pq import ivfpq_topk

    return ivfpq_topk(table(spark, sf_dir, "embeddings"))


def q_opq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rotated product quantization (operators/opq.py::opq_topk): a
    deterministic ±1 sign diagonal + unnormalized Walsh–Hadamard
    butterfly (the structured-rotation OPQ family — FJLT / FAISS
    OPQMatrix) decorrelates subspaces in ONE codegen projection pass,
    then the unchanged pq_topk ADC+refine pipeline.  The rotation is a
    fixed binary expression tree, bit-identical in both engines, and
    orthogonal×√d — rankings are against the same ground truth as
    pq_topk, so recall is directly comparable (pytest-pinned)."""
    from .operators.opq import opq_topk

    return opq_topk(table(spark, sf_dir, "embeddings"))


def q_grid_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic k-means over int8-quantized embeddings
    (operators/clustering.py::grid_kmeans): farthest-point-seeded
    centers, exact int64 squared distances, truncating-integer updates —
    the hash-checkable clustering representative for cluster-based
    curation (SemDeDup cells, cluster-balanced sampling) that float
    KMeans cannot provide (VERDICT r6 #5).  k=10 matches the synthetic
    label cluster count; 4 Lloyd rounds pinned with the oracle."""
    from .operators.clustering import grid_kmeans

    return grid_kmeans(table(spark, sf_dir, "embeddings"), k=10)


def q_cluster_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-balanced coreset selection
    (operators/clustering.py::cluster_balanced_sample): the 20 vectors
    closest to their centroid from each of the 10 grid_kmeans cells —
    the SemDeDup-style cluster-balanced curation pass the deterministic
    clustering was built to enable.  Oracle = the grid_kmeans
    unrolled-CTE mirror wrapped with the per-cluster selection
    window."""
    from .operators.clustering import cluster_balanced_sample

    return cluster_balanced_sample(
        table(spark, sf_dir, "embeddings"), k=10, n_per=20
    )


def q_grid_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN over the grid_kmeans coarse quantizer
    (operators/clustering.py::grid_ivf_topk): probe the 4 nearest of 10
    cells per query, exact int64 scoring within probed inverted lists,
    top-5 — the hash-checkable IVF representative that a float-KMeans
    IVF could not be (MLlib centroid reductions are not bit-stable
    across engines).  Recall vs the same-grid brute force is pinned
    >= 0.55 in pytest."""
    from .operators.clustering import grid_ivf_topk

    return grid_ivf_topk(
        table(spark, sf_dir, "embeddings"), k_cells=10, n_probe=4, k=5
    )


def q_grid_pca(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dominant principal component on the int64 grid
    (operators/pca.py::grid_pca): global int8 quantization, truncating
    integer centering, exact int64 scatter, 8 power-iteration rounds
    with pure-integer renormalization, sign-canonicalized projection —
    the hash-checkable PCA representative (all-but-the-top / OPQ seed /
    spread-axis partitioning) that float SVD cannot be."""
    from .operators.pca import grid_pca

    return grid_pca(table(spark, sf_dir, "embeddings"))


def q_pca_residual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-but-the-top embedding correction
    (operators/pca.py::pca_residual): exact integer rejection of the
    grid_pca dominant direction — r = c*|v|^2 - v*(c.v), one integer
    downscale — the standard common-mode removal before similarity
    search.  The residual array is serialized to CSV (the
    embedding_quantize convention) so the driver's pandas canonicalizer
    — which cannot sort nested columns — hash checks every component
    exactly."""
    from .operators.pca import pca_residual

    r = pca_residual(table(spark, sf_dir, "embeddings"))
    return r.select(
        "vec_id",
        F.concat_ws(",", F.col("resid").cast("array<string>")).alias("resid_csv"),
    )


def q_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 scalar quantization of the embedding column
    (operators/simsearch.py::quantize_embeddings): per-vector max-abs
    scale + round-half-up codes — 4x smaller vectors for shuffle/storage
    at 100 TB.  Codes serialized to CSV so the driver hash checks every
    component exactly."""
    from .operators.simsearch import quantize_embeddings

    e = table(spark, sf_dir, "embeddings")
    q = quantize_embeddings(e)
    return q.select(
        "vec_id",
        F.round("scale", 6).alias("scale_r"),
        F.concat_ws(",", F.col("q")).alias("q_csv"),
    )


def q_quantized_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 neighbors by int8-quantized cosine
    (operators/simsearch.py::quantized_cosine_topk): integer dot
    products are bit-reproducible in any engine, so unlike the float
    GEMM this ANN scoring path is hash-checked exactly; same query set
    as cosine_topk (vec_id % 10 == 0)."""
    from .operators.simsearch import quantized_cosine_topk

    e = table(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") % 10 == 0)
    return quantized_cosine_topk(e, queries, k=5)


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling without replacement
    (operators/cleaning.py::weighted_sample): the 100 documents with the
    highest Efraimidis-Spirakis priorities ln(u)/n_chars — "sample
    proportional to length" as a distributed top-k
    (TakeOrderedAndProject, no global sort).  Priorities round to 6 dp
    before ranking so the DuckDB oracle replays the selection exactly."""
    from .operators.cleaning import weighted_sample

    d = table(spark, sf_dir, "documents")
    return weighted_sample(d, 100, weight_col="n_chars", seed="wsample").select(
        "doc_id", "n_chars", "priority"
    )


def q_novelty_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document 3-gram novelty (operators/cleaning.py::
    novelty_stats): fraction of a doc's distinct grams appearing nowhere
    else — the RefinedWeb-style duplication-fraction signal.  md5_60
    gram hashes make the explode -> df agg -> unhinted join -> per-doc
    ratio pipeline hash-checked end to end."""
    from .operators.cleaning import novelty_stats

    d = table(spark, sf_dir, "documents")
    return novelty_stats(d, n=3, hash_fn="md5_60")


def q_corpus_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental corpus diff (operators/cleaning.py::corpus_diff):
    added/removed/changed/unchanged per doc id between two synthesized
    snapshots of the corpus (old drops doc_id%7==0 and appends ' v1' to
    doc_id%5==0 texts; new drops doc_id%3==0) — the delta-first
    primitive of incremental pipelines.  One full-outer hash join;
    content compares as md5, so the oracle replays it exactly."""
    from .operators.cleaning import corpus_diff

    d = table(spark, sf_dir, "documents")
    old = d.filter(F.col("doc_id") % 7 != 0).select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 5 == 0, F.lit(" v1")).otherwise(F.lit("")),
        ).alias("text"),
    )
    new = d.filter(F.col("doc_id") % 3 != 0)
    return corpus_diff(old, new)


def q_doc_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer fixed-point PageRank (operators/graph.py::pagerank) over
    a deterministic synthetic citation graph on the documents table
    (doc -> (doc*7+1) mod N scatter edges + doc -> doc div 10 hub edges,
    self-loops dropped) — the link-authority quality signal of
    web-corpus curation, and the second iterative operator beside
    connected components.  All-integer arithmetic makes the 5 rounds
    bit-identical in DuckDB's unrolled-CTE replay (a float PageRank
    would hash-diverge on reduction order)."""
    from .operators.graph import pagerank

    d = table(spark, sf_dir, "documents")
    n = d.count()
    e1 = d.select(
        F.col("doc_id").alias("src"), ((F.col("doc_id") * 7 + 1) % n).alias("dst")
    )
    e2 = d.select(F.col("doc_id").alias("src"), F.expr("doc_id div 10").alias("dst"))
    edges = e1.union(e2).filter(F.col("src") != F.col("dst"))
    return pagerank(edges, iterations=5)


def q_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum ordering: every document's 0-based global rank by
    quality score (best first, doc_id tiebreak) via the two-phase total
    sort of operators/ordering.py::ordered_index — ONE range shuffle,
    no single-partition window over the data (the naive
    row_number-over-empty-window spelling serializes the corpus through
    one task).  The emitted index is the true global rank, so the oracle
    replays it with a plain window."""
    from .functions.text import split_words, quality_score
    from .operators.ordering import ordered_index

    d = table(spark, sf_dir, "documents")
    staged = d.select("doc_id", "text", split_words(F.col("text")).alias("_w"))
    scored = staged.select(
        "doc_id", quality_score(F.col("text"), words=F.col("_w")).alias("quality")
    )
    return ordered_index(scored, [F.col("quality").desc()], tiebreak="doc_id")


def q_token_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget-constrained corpus selection: take documents in
    (quality desc, doc_id) order until 25% of the corpus's tokens are
    spent — the fixed-compute data-selection pass ("best docs that fit
    the training budget").  The global running token sum comes from
    operators/ordering.py::ordered_cumsum (range shuffle + balanced
    pid-window, never a single-task window); the budget is one exact
    integer floor division of the corpus token total (1-row broadcast,
    allowlisted).  A doc is selected iff it STARTS before the budget
    boundary."""
    from .functions.text import split_words, quality_score
    from .operators.ordering import ordered_cumsum

    d = table(spark, sf_dir, "documents")
    staged = d.select("doc_id", "text", split_words(F.col("text")).alias("_w"))
    scored = staged.select(
        "doc_id",
        quality_score(F.col("text"), words=F.col("_w")).alias("quality"),
        F.size("_w").cast("long").alias("n_tokens"),
    )
    cum = ordered_cumsum(
        scored,
        [F.col("quality").desc()],
        tiebreak="doc_id",
        value_col="n_tokens",
        cumsum_col="cum_tokens",
    )
    budget = cum.groupBy().agg(
        F.expr("sum(n_tokens) div 4").cast("long").alias("_budget")
    )
    return cum.crossJoin(F.broadcast(budget)).select(
        "doc_id",
        "quality",
        "n_tokens",
        "cum_tokens",
        (F.col("cum_tokens") - F.col("n_tokens") < F.col("_budget")).alias(
            "selected"
        ),
    )


def q_pipeline_select_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed data-SELECTION pipeline (the round-6b complement to
    pipeline_clean_corpus): gopher rule gate -> frozen model-quality
    gate -> temperature-scaled lang rebalance (rates derived from the
    SURVIVING corpus — composition order matters and is hash-checked)
    -> token-budget selection (top 25% of surviving tokens in quality
    order).  Returns the selected documents.  Oracle = CTE-chained
    composition of the four already-hash-checked stage oracles."""
    from .functions.quality_model import model_quality_scores
    from .functions.text import split_words, quality_score, gopher_quality
    from .operators.cleaning import temperature_mixture
    from .operators.ordering import ordered_cumsum

    d = table(spark, sf_dir, "documents")
    gp = (
        gopher_quality(d, min_words=40, min_stopword_hits=1)
        .filter("passes")
        .select("doc_id")
    )
    mq = model_quality_scores(d).filter("keep").select("doc_id")
    surv = d.join(gp, "doc_id").join(mq, "doc_id")
    mixed = temperature_mixture(surv, stratum_col="lang", alpha=0.5, seed="pipe")
    staged = mixed.select(
        "doc_id", "lang", "source", "text", split_words(F.col("text")).alias("_w")
    )
    scored = staged.select(
        "doc_id",
        "lang",
        "source",
        quality_score(F.col("text"), words=F.col("_w")).alias("quality"),
        F.size("_w").cast("long").alias("n_tokens"),
    )
    cum = ordered_cumsum(
        scored,
        [F.col("quality").desc()],
        tiebreak="doc_id",
        value_col="n_tokens",
        cumsum_col="cum_tokens",
    )
    budget = cum.groupBy().agg(
        F.expr("sum(n_tokens) div 4").cast("long").alias("_budget")
    )
    return (
        cum.crossJoin(F.broadcast(budget))
        .filter(F.col("cum_tokens") - F.col("n_tokens") < F.col("_budget"))
        .select("doc_id", "lang", "source", "quality", "n_tokens", "cum_tokens")
    )


def q_leak_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-aware train/val/test split: near-dup clusters (exact
    Jaccard >= 0.5 pairs -> connected components) are placed whole, so
    duplicated documents can never straddle train and eval
    (operators/cleaning.py::leak_safe_split)."""
    from .operators.cleaning import leak_safe_split
    from .operators.graph import near_dup_graph

    d = table(spark, sf_dir, "documents")
    pairs = near_dup_graph(d, materialize=False)
    return leak_safe_split(d, pairs)


def q_select_keepers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware keeper selection: each near-dup cluster keeps its
    longest document (max n_chars, min doc_id tiebreak) — the
    pairs -> clusters -> keepers end of the dedup pipeline
    (operators/cleaning.py::select_keepers)."""
    from .operators.cleaning import select_keepers
    from .operators.graph import near_dup_graph

    d = table(spark, sf_dir, "documents")
    pairs = near_dup_graph(d, materialize=False)
    return select_keepers(d, pairs, quality_col="n_chars")


def q_pack_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy fixed-budget sequence packing over hash buckets — the
    pre-training batch-packing step (operators/packing.py).  The pack
    assignment is a pure function of the corpus, so the DuckDB oracle
    replays the greedy fill exactly with a recursive CTE."""
    from .operators.packing import pack_documents

    d = table(spark, sf_dir, "documents")
    return pack_documents(d, budget=256, n_buckets=32)


def q_pack_attention_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token spans inside each pack
    (operators/packing.py::pack_attention_spans): the block-diagonal
    attention-mask metadata packed pretraining needs — start/end token
    offsets per doc via one running-sum window over pack-sized
    partitions.  Oracle = the pack recursive-CTE mirror with the span
    window as its final select."""
    from .operators.packing import pack_attention_spans

    d = table(spark, sf_dir, "documents")
    return pack_attention_spans(d, budget=256, n_buckets=32)


def q_pipeline_pack_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The round-7 curation stages composed end-to-end as ONE declared
    query: gopher quality gate -> CCNet line-frequency boilerplate
    removal -> SURGICAL span-level decontamination (eval slice doc_id %
    97 == 0) -> fixed-budget packing with per-document attention spans.
    Every stage is the hash-checked single operator declared elsewhere;
    this entry pins the COMPOSITION semantics (the boilerplate
    frequency table counts only gate survivors; decontamination grams
    run over the REBUILT text; fully-emptied docs drop before packing)
    under a CTE-chained DuckDB twin replaying all four stages."""
    from .functions.text import gopher_quality
    from .operators.cleaning import boilerplate_spans, decontaminate_spans
    from .operators.packing import pack_attention_spans
    from .plans.staging import stage

    d = table(spark, sf_dir, "documents")
    gq = gopher_quality(d, min_words=40, min_stopword_hits=1)
    kept = stage(d.join(gq.filter("passes").select("doc_id"), "doc_id"))
    bp = boilerplate_spans(kept, span_words=10, max_docs=2, hash_fn="md5_60")
    bench = d.filter(F.col("doc_id") % 97 == 0)
    corpus = bp.filter(F.col("doc_id") % 97 != 0).select("doc_id", "text")
    ds = decontaminate_spans(corpus, bench, n=4, hash_fn="md5_60")
    clean = ds.filter(F.col("text") != "").select("doc_id", "text")
    return pack_attention_spans(clean, budget=256, n_buckets=32)


def q_pipeline_clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus-cleaning pipeline as ONE declared query:
    gopher quality gate -> near-dup keeper dedup over a SINGLE staged
    pair graph -> benchmark decontamination -> deterministic mixture
    rebalance -> greedy sequence packing.  Every stage is the
    hash-checked single operator declared elsewhere; this entry pins
    the COMPOSITION semantics — filter ordering, shared cluster map,
    the staged pair job running once (operators/graph.py::
    near_dup_graph) — under the same oracle gate, with a CTE-chained
    DuckDB twin replaying all five stages."""
    from .functions.text import gopher_quality
    from .operators.cleaning import (
        decontaminate_ngrams,
        mixture_sample,
        select_keepers,
    )
    from .operators.graph import near_dup_graph
    from .operators.packing import pack_documents
    from .plans.staging import stage

    d = table(spark, sf_dir, "documents")
    # 1. rule-based quality gate (same thresholds as gopher_quality);
    #    `kept` feeds THREE consumers (pair graph, keeper ranking, the
    #    dedup join), so it materializes once — same staging rationale
    #    as the pair graph itself (measured: the gopher agg+join
    #    re-executed per consumer cost ~8s of the sf0.1 pipeline)
    gq = gopher_quality(d, min_words=40, min_stopword_hits=1)
    kept = stage(d.join(gq.filter("passes").select("doc_id"), "doc_id"))
    # 2. near-dup dedup: ONE staged pair derivation + component map;
    #    at 100 TB the graph is materialized once and every consumer
    #    reads the stored rows
    _pairs, clusters = near_dup_graph(kept, with_components=True)
    keep_ids = (
        select_keepers(kept, clusters=clusters, quality_col="n_chars")
        .filter("is_keeper")
        .select("doc_id")
    )
    deduped = kept.join(keep_ids, "doc_id")
    # 3. benchmark decontamination: the eval slice (doc_id % 97 == 0)
    #    is removed outright and docs sharing any 4-gram with it drop;
    #    `corpus` feeds the flag derivation AND the clean join — stage it
    bench = d.filter(F.col("doc_id") % 97 == 0)
    corpus = stage(deduped.filter(F.col("doc_id") % 97 != 0))
    flags = decontaminate_ngrams(corpus, bench, n=4, min_hits=1, hash_fn="md5_60")
    clean = corpus.join(flags.filter("NOT contaminated").select("doc_id"), "doc_id")
    # 4. deterministic mixture rebalance (seeded hash threshold).
    #    `mixed` feeds the packer AND the final metadata join, but the
    #    recompute above the staged `corpus` is cheap — a checkpoint
    #    here measured SLOWER (21s vs 19s: the barrier costs more than
    #    the saved recompute), so it stays lazy.
    mixed = mixture_sample(clean, {"en": 0.35, "zh": 0.9}, seed="mix")
    # 5. greedy fixed-budget packing into training sequences
    packed = pack_documents(mixed, budget=256, n_buckets=32)
    return packed.join(mixed.select("doc_id", "lang", "source"), "doc_id").select(
        "doc_id", "lang", "source", "bucket", "n_tokens", "pack_seq"
    )


def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document (functions/text.py [EXT]; fully
    oracle-checkable — rank is computed on the rounded score so double
    ulp differences in ``ln`` cannot flip the ordering)."""
    from .functions.text import tfidf_top_terms

    d = table(spark, sf_dir, "documents")
    return tfidf_top_terms(d, k=3)


def q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking (LLM-pipeline [EXT]): split each
    document into 50-token chunks with stride 40 (10-token overlap) —
    the standard pre-tokenization shaping for training corpora.

    All native (functions/text.py::chunk_documents): no Python, no
    shuffle at all — chunking is embarrassingly parallel per document."""
    from .functions.text import chunk_documents

    d = table(spark, sf_dir, "documents")
    return chunk_documents(d, chunk_size=50, stride=40)


def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing (LLM-pipeline [EXT]): count and mask emails and
    phone numbers.  The synthetic corpus contains no PII, so a
    deterministic fraction of documents gets one appended (email for
    doc_id%7==0, phone for doc_id%11==0) before redaction — the same
    synthesize-then-operate pattern as the watermark-dedup twin.  All
    native regex (codegen); per-document, so no shuffle."""
    d = table(spark, sf_dir, "documents")
    aug = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 7 == 0,
                F.concat(F.lit(" contact user"), F.col("doc_id"), F.lit("@example.com")),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 11 == 0,
                F.concat(
                    F.lit(" call 415-555-"),
                    F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
                ),
            ).otherwise(F.lit("")),
        ).alias("t"),
    )
    email_re = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
    phone_re = r"\d{3}-\d{3}-\d{4}"
    return aug.select(
        "doc_id",
        F.regexp_count(F.col("t"), F.lit(email_re)).alias("emails"),
        F.regexp_count(F.col("t"), F.lit(phone_re)).alias("phones"),
        F.length(
            F.regexp_replace(F.regexp_replace("t", email_re, "[EMAIL]"), phone_re, "[PHONE]")
        ).alias("redacted_len"),
        F.right(
            F.regexp_replace(F.regexp_replace("t", email_re, "[EMAIL]"), phone_re, "[PHONE]"),
            F.lit(60),
        ).alias("tail"),
    )


def q_pii_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII span extraction via the arrow-optimized Python UDTF
    (functions/spans.py, SURVEY §2.7 U3): [start, end) offsets of each
    synthesized email/phone — offsets are the one regex product native
    functions can't emit.  Fully oracle-checkable because the synthesis
    appends PII at arithmetically known positions, so DuckDB can compute
    the expected spans exactly — the oracle verifies the UDTF's offset
    math, not just row counts."""
    from .functions.spans import register_regex_spans

    register_regex_spans(spark)
    d = table(spark, sf_dir, "documents")
    aug = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 7 == 0,
                F.concat(F.lit(" contact user"), F.col("doc_id"), F.lit("@example.com")),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 11 == 0,
                F.concat(
                    F.lit(" call 415-555-"),
                    F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
                ),
            ).otherwise(F.lit("")),
        ).alias("t"),
    )
    aug.createOrReplaceTempView("pii_aug")
    email_re = r"[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
    phone_re = r"\\d{3}-\\d{3}-\\d{4}"
    return spark.sql(
        f"""
        SELECT doc_id, 'email' AS kind, s.start, s.end, s.match
        FROM pii_aug, LATERAL regex_spans(t, '{email_re}') s
        UNION ALL
        SELECT doc_id, 'phone' AS kind, s.start, s.end, s.match
        FROM pii_aug, LATERAL regex_spans(t, '{phone_re}') s
        """
    )


def q_multimodal_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL PPM-decode image features (mean-RGB + luminance histogram)
    via mapInPandas (multimodal/columns.py) — now HASH-CHECKED: the
    synthetic PPM raster is byte-computable from the text column, so the
    oracle replays decode + mean + float32-normalized histogram with
    ascii()/REAL arithmetic in DuckDB.  Arrays flatten to scalar columns
    (h0..h15) at this query surface so the driver's canonicalizer can
    sort and hash the rows; the library operator keeps the array form."""
    from .multimodal.columns import image_features, synthesize_media_assets

    d = table(spark, sf_dir, "documents")
    feats = image_features(synthesize_media_assets(d))
    return feats.select(
        "asset_id",
        "width",
        "height",
        F.round(F.col("mean_rgb")[0], 6).alias("mean_r"),
        F.round(F.col("mean_rgb")[1], 6).alias("mean_g"),
        F.round(F.col("mean_rgb")[2], 6).alias("mean_b"),
        *[
            F.round(F.col("histogram")[i].cast("double"), 6).alias(f"h{i}")
            for i in range(16)
        ],
    )


def q_multimodal_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL PCM16 audio features (numpy decode) via mapInPandas — now
    HASH-CHECKED via the hex-of-bytes trick (byte 2k of the payload is
    hex chars [4k, 4k+2)), with peak projected as its exact int16
    magnitude: peak = k/32768 is dyadic, where decimal-rounding ties
    exist and Python (half-even) and DuckDB (half-away) disagree; the
    6-dp rounding error times 32768 is < 0.5, so the integer recovers
    exactly.  duration_s is omitted at this surface for the same reason
    (n/16000 lands on exact .xxxxxx5 doubles; it is a pure function of
    n_samples anyway).  rms survives: sqrt output never sits on a
    decimal tie."""
    from .multimodal.columns import audio_features, synthesize_media_assets

    d = table(spark, sf_dir, "documents")
    feats = audio_features(synthesize_media_assets(d))
    return feats.select(
        "asset_id",
        "n_samples",
        "rms",
        F.round(F.col("peak") * 32768).cast("long").alias("peak_i16"),
    )


def q_multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native frame-index sampling over video payloads.  The declared
    query projects the frame bytes as a hex string: DuckDB 1.0 has no
    BLOB substring, but byte slice [i, i+n) of a payload is exactly hex
    chars [2i, 2(i+n)) of ``hex(payload)`` — so the whole operator
    (synthesis → explode → byte slicing) is oracle-checkable."""
    from .multimodal.columns import sample_video_frames, synthesize_media_assets

    d = table(spark, sf_dir, "documents")
    frames = sample_video_frames(synthesize_media_assets(d), every_n=10)
    return frames.select("asset_id", "frame_idx", F.hex("frame_data").alias("frame_hex"))


def q_ml_train_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MLlib RandomForest train/eval on corpus-derived labeled pairs
    (SURVEY §2.8 M1-M6; rows-only — model training has no SQL oracle).

    Self-checking: every row carries ``accuracy``/``auc`` plus a
    ``passed`` flag (accuracy >= 0.85 AND AUC >= 0.85 — the reference's
    pickled model advertises ~90%, ``TRAINED_MODELS/
    model_40000(Accu~90).pkl``), and a degraded model yields ZERO rows —
    so the driver's rows-only check asserts model quality, not just
    that a report came back."""
    from pyspark.ml.evaluation import (
        BinaryClassificationEvaluator,
        MulticlassClassificationEvaluator,
    )

    from .ml.pipeline import evaluation_report, labeled_pairs_from_corpus, train_match_classifier

    pairs = labeled_pairs_from_corpus(spark, sf_dir)
    _, predictions = train_match_classifier(pairs, num_trees=20)
    predictions = predictions.localCheckpoint()  # scored once, read by 3 evaluators
    acc = MulticlassClassificationEvaluator(
        labelCol="label", predictionCol="prediction", metricName="accuracy"
    ).evaluate(predictions)
    auc = BinaryClassificationEvaluator(
        labelCol="label", rawPredictionCol="rawPrediction", metricName="areaUnderROC"
    ).evaluate(predictions)
    passed = acc >= 0.85 and auc >= 0.85
    report = evaluation_report(predictions).select(
        "*",
        F.round(F.lit(acc), 6).alias("accuracy"),
        F.round(F.lit(auc), 6).alias("auc"),
        F.lit(passed).alias("passed"),
    )
    return report.filter(F.lit(passed))


def q_bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter decontamination: same eval split as `decontaminate`
    (doc_id % 97) but membership goes through a fixed-size 65536-bit
    Bloom filter with 3 md5_60-derived hash functions — the
    constant-memory scale path (operators/cleaning.py).  The flagged set
    INCLUDES the filter's false positives; with deterministic bit
    positions that exact set is replayed by the DuckDB oracle."""
    from .operators.cleaning import bloom_decontaminate

    d = table(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") % 97 == 0)
    corpus = d.filter(F.col("doc_id") % 97 != 0)
    return bloom_decontaminate(corpus, bench, n=4, m_bits=1 << 16, k=3, hash_fn="md5_60")


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-quota stratified sample: 5 documents per source, selected by
    seeded-hash rank (operators/cleaning.py::stratified_sample)."""
    from .operators.cleaning import stratified_sample

    d = table(spark, sf_dir, "documents")
    return stratified_sample(d, strata_col="source", id_col="doc_id", n_per_stratum=5)


def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-16 corpus vocabulary + per-document OOV token rate
    (functions/text.py::vocab_oov_stats)."""
    from .functions.text import vocab_oov_stats

    d = table(spark, sf_dir, "documents")
    return vocab_oov_stats(d, vocab_size=16)


def q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Term -> df + first-10-doc posting sample
    (functions/text.py::inverted_index)."""
    from .functions.text import inverted_index

    d = table(spark, sf_dir, "documents")
    return inverted_index(d, max_postings=10)


def q_containment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric shingle-containment near-dup pairs — catches subset
    duplicates Jaccard misses (operators/dedup.py::ngram_containment_pairs).
    2-gram shingles at 0.5 keep the pair count corpus-meaningful on the
    dense synthetic vocabulary."""
    from .operators.dedup import ngram_containment_pairs

    d = table(spark, sf_dir, "documents")
    return ngram_containment_pairs(d, threshold=0.5, shingle_n=2)


def q_containment_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV-sketch containment pairs — the bounded-state scale path the
    exact containment baseline names
    (operators/dedup.py::minhash_containment_pairs).  md5_60 hashing and
    the integer-product estimator make the ENTIRE approximation —
    candidates, estimate, threshold, false-sharing included —
    bit-replayable in DuckDB, so the sketch itself is hash-checked, not
    just spot-tested.  k=16 at 2-gram shingles keeps per-doc state at 16
    longs vs the exact operator's full shingle set."""
    from .operators.dedup import minhash_containment_pairs

    d = table(spark, sf_dir, "documents")
    return minhash_containment_pairs(
        d, threshold=0.4, shingle_n=2, sketch_k=16, hash_fn="md5_60"
    )


def q_window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-RANGE window frame: per-user rolling 1-hour sum/count over
    events, ordered by epoch second (SURVEY A4/W extension).  RANGE
    includes all peer rows with the same second in both engines; sums
    are decimal-exact."""
    e = table(spark, sf_dir, "events")
    sec = F.unix_timestamp("ts")
    w = (
        Window.partitionBy("user_id")
        .orderBy(sec)
        .rangeBetween(-3600, Window.currentRow)
    )
    return e.select(
        "event_id",
        "user_id",
        sec.alias("ts_sec"),
        F.sum(_dec("value")).over(w).cast("double").alias("rolling_sum"),
        F.count(F.lit(1)).over(w).alias("rolling_cnt"),
    )


def q_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregation (plans/skew.py::salted_count) — the
    hot-key-safe groupBy(count) whose result must be IDENTICAL to the
    plain aggregate the oracle runs.  Declares the skew tooling as a
    driver-checked query instead of pytest-only."""
    from .plans.skew import salted_count

    e = table(spark, sf_dir, "events")
    return salted_count(e, key="event_type", salt_src="event_id", salt=8)


def q_correlated_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17-shape correlated scalar subqueries through the SQL
    surface: small-quantity line items vs 1/5 of the part's average
    order quantity.  Declared as raw SQL (not DataFrame calls) so the
    parser + Catalyst's subquery DECORRELATION are the engine features
    under test — each scalar subquery must rewrite to an aggregate +
    join, never a per-row re-execution.  The predicate is cross-
    multiplied to exact integer/decimal arithmetic (``5·qty·cnt <
    sum``) so no engine computes a divided average."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT l1.l_partkey AS partkey,
               CAST(SUM(CAST(l1.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                 AS small_qty_revenue,
               COUNT(*) AS n_items
        FROM lineitem l1
        WHERE CAST(l1.l_quantity AS DECIMAL(18,2)) * 5 *
              (SELECT COUNT(*) FROM lineitem l2
               WHERE l2.l_partkey = l1.l_partkey)
              < (SELECT SUM(CAST(l3.l_quantity AS DECIMAL(18,2)))
                 FROM lineitem l3 WHERE l3.l_partkey = l1.l_partkey)
        GROUP BY l1.l_partkey
        """
    )


def q_correlated_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS / NOT EXISTS via the SQL surface (decorrelates
    to semi + anti joins): customers holding an open high-value order
    but no filled one."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT c.c_custkey, c.c_mktsegment
        FROM customer c
        WHERE EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderstatus = 'O'
                        AND o.o_totalprice > 150000)
          AND NOT EXISTS (SELECT 1 FROM orders o2
                          WHERE o2.o_custkey = c.c_custkey
                            AND o2.o_orderstatus = 'F')
        """
    )


def q_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-valued-logic corners on one result: null-producing NULLIF,
    null-safe equality (`<=>` / IS NOT DISTINCT FROM), COALESCE
    fallback, and grouping where NULL is its own key."""
    e = table(spark, sf_dir, "events")
    tagged = e.select(
        F.nullif(F.col("event_type"), F.lit("click")).alias("et_nullable"),
        F.get_json_object("props", "$.missing_key").alias("absent"),
        "value",
    )
    return tagged.groupBy("et_nullable").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("et_nullable").alias("n_nonnull"),  # count(col) skips NULLs
        F.sum(
            F.when(F.col("et_nullable").eqNullSafe(F.col("absent")), 1).otherwise(0)
        ).alias("n_nullsafe_eq"),  # NULL <=> NULL is TRUE, 'x' <=> NULL is FALSE
        F.sum(F.when(F.coalesce("et_nullable", F.lit("fallback")) == "fallback", 1)
              .otherwise(0)).alias("n_fallback"),
    )


def q_time_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top spender per hour bucket: time-bucketed grouping composed with
    per-bucket ranking — the rollup+leaderboard shape of event
    analytics.  Decimal-exact sums; rank ties broken by user id."""
    e = table(spark, sf_dir, "events")
    hourly = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy(
            F.date_trunc("hour", F.col("ts")).alias("bucket"),
            "user_id",
        )
        .agg(F.sum(_dec("value")).alias("spend"))
    )
    w = Window.partitionBy("bucket").orderBy(F.col("spend").desc(), F.col("user_id").asc())
    return (
        hourly.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select(
            F.unix_timestamp("bucket").alias("bucket_sec"),
            "user_id",
            F.col("spend").cast("double").alias("spend"),
            "rnk",
        )
    )


def q_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synchronous label-propagation communities over the near-dup
    graph (operators/graph.py::label_propagation): 4 rounds of
    deterministic neighbor-majority (ties to the smallest label) —
    the community structure CC's any-bridge merging cannot see.
    Oracle unrolls the 4 rounds as MATERIALIZED CTEs over the same
    exact-Jaccard pair derivation dedup_clusters uses."""
    from .operators.graph import label_propagation, near_dup_graph

    d = table(spark, sf_dir, "documents")
    return label_propagation(near_dup_graph(d, materialize=False), rounds=4)


def q_graph_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic random walks over the near-dup graph
    (operators/graph.py::graph_walks): 3 seeded-hash steps from every
    node — the node2vec/DeepWalk positive-pair sampler with the RNG
    replaced by md5_60(seed:start:step) % degree, so the entire walk
    table is hash-checked against a 3-step unrolled oracle."""
    from .operators.graph import graph_walks, near_dup_graph

    d = table(spark, sf_dir, "documents")
    return graph_walks(near_dup_graph(d, materialize=False), steps=3)


def q_graph_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row corpus card of the near-dup graph: node/edge/wedge/
    triangle counts, global transitivity (3*tri/wedges) and degree
    assortativity (Pearson over edge-endpoint degrees; symmetric
    marginals so r = (n*Sxy - Sx^2)/(n*Sx2 - Sx^2)) — the structural
    summary read before trusting transitive dedup merges.  All
    sufficient statistics are exact int64 over the STAGED pair graph
    (one derivation feeds degrees, wedges, triangles, assortativity);
    the two ratios are one double division each, rounded to 6 dp."""
    from .operators.graph import near_dup_graph

    d = table(spark, sf_dir, "documents")
    pairs = near_dup_graph(d)  # staged: 4 consumers below
    edges = pairs.select(F.col("doc_a").alias("s"), F.col("doc_b").alias("d")).unionByName(
        pairs.select(F.col("doc_b").alias("s"), F.col("doc_a").alias("d"))
    )
    deg = edges.groupBy("s").agg(F.count(F.lit(1)).alias("deg"))
    base = deg.agg(
        F.count(F.lit(1)).alias("nodes"),
        F.sum(F.col("deg") * (F.col("deg") - 1) / 2).cast("long").alias("wedges"),
    )
    ecnt = pairs.agg(F.count(F.lit(1)).alias("edges"))
    p1 = pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
    p2 = pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("c"))
    p3 = pairs.select(F.col("doc_a").alias("b"), F.col("doc_b").alias("c"))
    tri = (
        p1.join(p2, "a")
        .filter(F.col("c") > F.col("b"))
        .join(p3, ["b", "c"])
        .agg(F.count(F.lit(1)).alias("tri"))
    )
    exy = (
        edges.join(deg.select(F.col("s"), F.col("deg").alias("dx")), "s")
        .join(
            deg.select(F.col("s").alias("d"), F.col("deg").alias("dy")), "d"
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("dx").alias("sx"),
            F.sum(F.col("dx") * F.col("dy")).alias("sxy"),
            F.sum(F.col("dx") * F.col("dx")).alias("sx2"),
        )
    )
    out = (
        base.crossJoin(F.broadcast(ecnt))
        .crossJoin(F.broadcast(tri))
        .crossJoin(F.broadcast(exy))
    )
    trans = F.when(
        F.col("wedges") > 0,
        F.round(3 * F.col("tri").cast("double") / F.col("wedges"), 6),
    ).otherwise(F.lit(0.0))
    denom = F.col("n") * F.col("sx2") - F.col("sx") * F.col("sx")
    assort = F.when(
        denom != 0,
        F.round(
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sx")).cast("double")
            / denom,
            6,
        ),
    ).otherwise(F.lit(0.0))
    return out.select(
        F.col("nodes").cast("long").alias("nodes"),
        F.col("edges").cast("long").alias("edges"),
        F.col("wedges").cast("long").alias("wedges"),
        F.col("tri").cast("long").alias("triangles"),
        trans.alias("transitivity"),
        assort.alias("assortativity"),
    )


def q_doc_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangles in the exact-Jaccard near-dup graph (operators/graph.py
    ::triangles, degree-oriented node-iterator): ordered (a, b, c)
    triples.  Cohesion check on the same pair stream dedup_clusters
    consumes — triangle-free chains flag risky transitive merges."""
    from .operators.graph import near_dup_graph, triangles

    d = table(spark, sf_dir, "documents")
    # triangles consumes the edge list 4x (degree agg, orientation join
    # x2, closing semi-join): stage the pair derivation once.
    pairs = near_dup_graph(d)
    return triangles(pairs)


def q_bpe_tokenize_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the trained BPE merges to the corpus
    (operators/bpe.py::bpe_tokenize_docs): one row per emitted token —
    the BPE APPLY path.  The distinct corpus word table replays the 8
    learned pairs in order (identical run-parity rule; out-of-lexicon
    words start as characters and absorb whatever merges apply), then
    documents join their exploded word positions against the per-word
    segmentation."""
    from .operators.bpe import bpe_tokenize_docs

    return bpe_tokenize_docs(
        table(spark, sf_dir, "documents"), n_merges=8, max_words=1000
    )


def q_unigram_lm_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM (SentencePiece-style) tokenizer training
    (operators/unigram_lm.py::unigram_lm_train): 2 hard-EM rounds over
    the lexicon's substring-candidate table, int64-grid costs, lattice
    counts from min-plus-closure DPs, deterministic pruning.  Returns
    the final (token, freq, cost_grid) vocabulary — the tokenizer
    artifact beside BPE's merge table; the oracle replays every round
    as generated unrolled CTEs with pinned round counts."""
    from .operators.unigram_lm import unigram_lm_train

    vocab, _segs = unigram_lm_train(
        table(spark, sf_dir, "documents"), max_words=1000, vocab_size=64, em_rounds=2
    )
    return vocab


def q_unigram_lm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Final unigram-LM segmentation of the lexicon (same training run
    as unigram_lm_vocab): each word's chosen minimum-cost tokenization
    under the learned costs — shortest-token-first among
    suffix-optimal edges, path recovered by a boolean-semiring closure.
    Hash equality checks the DP + tie rule end to end, not just the
    vocabulary."""
    from .operators.unigram_lm import unigram_lm_train

    _vocab, segs = unigram_lm_train(
        table(spark, sf_dir, "documents"), max_words=1000, vocab_size=64, em_rounds=2
    )
    return segs


def q_unigram_tokenize_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the trained unigram-LM tokenizer to the corpus
    (operators/unigram_lm.py::unigram_tokenize_docs): one row per
    emitted token — the tokenizer APPLY path.  The distinct corpus word
    table is segmented once under the final learned costs (words
    outside the capped lexicon still segment via the single-char
    coverage guarantee); documents then join their exploded word
    positions against the per-word segmentation, so corpus-sized work
    is one explode + one hash join."""
    from .operators.unigram_lm import unigram_tokenize_docs

    return unigram_tokenize_docs(
        table(spark, sf_dir, "documents"), max_words=1000, vocab_size=64, em_rounds=2
    )


def q_grouped_udaf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom UDAF surface (SURVEY §2.7): per-event-type median absolute
    deviation of `value` via an Arrow GROUPED_AGG pandas UDF — the
    robust-dispersion statistic no Catalyst builtin provides in one
    aggregate.  The UDF replicates DuckDB's quantile_cont interpolation
    literally — ``lo + (hi - lo) * 0.5`` on the two middle doubles, NOT
    pandas' ``(lo + hi) / 2`` (the formulas can differ by 1 ulp, which a
    6-dp round does not always absorb) — so the hash check is exact by
    construction, not by luck.  Scale note: grouped-agg UDFs ship each
    group through Arrow — right for LOW-cardinality keys like event_type
    (5 groups); high-cardinality robust stats go through
    approx_percentile instead."""
    import numpy as np

    e = table(spark, sf_dir, "events")

    def _median_interp(a: "np.ndarray") -> float:
        # DuckDB quantile_cont(0.5): lo + (hi - lo) * 0.5
        a = np.sort(a)
        n = len(a)
        mid = (n - 1) // 2
        if n % 2:
            return float(a[mid])
        lo, hi = float(a[mid]), float(a[mid + 1])
        return lo + (hi - lo) * 0.5

    @F.pandas_udf("double")
    def mad(v: pd.Series) -> float:
        a = v.to_numpy(dtype="float64")
        med = _median_interp(a)
        return _median_interp(np.abs(a - med))

    # Spark disallows mixing a GROUPED_AGG pandas UDF with non-pandas
    # aggregates in one agg; the count rides a separate aggregate on the
    # same key (5 rows a side — the join is noise).
    mads = e.groupBy("event_type").agg(F.round(mad("value"), 6).alias("mad_value"))
    counts = e.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_events"))
    return mads.join(counts, "event_type")


def q_enrich_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dimension-enrichment join + segment rollup: events joined to the
    customer dimension (broadcast — dimensions are executor-memory sized
    by design) and aggregated by market segment.  This is the batch twin
    of the stream-static join (streaming/windows.py::enrich_stream;
    stream ≡ batch pinned in tests/test_streaming.py)."""
    e = table(spark, sf_dir, "events")
    c = table(spark, sf_dir, "customer")
    return (
        e.join(F.broadcast(c), e.user_id == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(_dec("value")).cast("double").alias("total_value"),
            F.count_distinct("user_id").alias("n_users"),
        )
    )


def q_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom Python DataSource scan (sources/pydatasource.py): 5000
    deterministic rows generated across 8 planned input partitions, then
    aggregated per bucket — proves the source extension point feeds the
    normal distributed pipeline.  payload_hash is md5_60(i), replayed by
    the DuckDB oracle from generate_series."""
    from .sources.pydatasource import register

    register(spark)
    src = spark.read.format("hashstream").option("n", 5000).option("buckets", 16).load()
    return src.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("i").alias("sum_i"),
        F.min("payload_hash").alias("min_hash"),
        F.max("payload_hash").alias("max_hash"),
    )


def q_lateral_topk_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL derived table with ORDER BY + LIMIT — the
    top-k-per-outer-row join written the SQL way.  Catalyst must
    decorrelate it into a WindowGroupLimit + one hash join (plan pinned
    in tests): per-customer top-2 orders WITHOUT re-running the inner
    query per outer row."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT c.c_custkey, t.o_orderkey,
               CAST(CAST(t.o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS totalprice
        FROM customer c,
        LATERAL (SELECT o_orderkey, o_totalprice FROM orders o
                 WHERE o.o_custkey = c.c_custkey
                 ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
        """
    )


def q_variant_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured VARIANT processing (Spark 4 data model): props
    parsed once to a VARIANT column, fields extracted with typed
    variant_get paths, aggregated per event type.  VARIANT keeps the
    parsed tree in a compact binary form — at scale this replaces
    re-parsing the JSON string per field reference (json_events does
    string extraction; this is the engine-native path)."""
    e = table(spark, sf_dir, "events")
    parsed = e.select(
        "event_type", F.parse_json("props").alias("v")
    ).select(
        "event_type",
        F.try_variant_get("v", "$.k", "long").alias("k"),
        F.try_variant_get("v", "$.missing", "long").alias("absent"),
    )
    return parsed.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("k").alias("sum_k"),
        F.max("k").alias("max_k"),
        F.count("absent").alias("n_absent"),  # typed get of a missing path -> NULL
    )


def q_unpivot_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational UNPIVOT (melt): the wide per-flag aggregate turns into
    (flag, measure, value) long form — decimal-exact sums so the melted
    doubles hash match."""
    li = table(spark, sf_dir, "lineitem")
    wide = li.groupBy("l_returnflag").agg(
        F.sum(_dec("l_quantity")).cast("double").alias("qty"),
        F.sum(_dec("l_extendedprice")).cast("double").alias("price"),
        F.sum(_dec("l_discount")).cast("double").alias("discount"),
    )
    return wide.unpivot("l_returnflag", ["qty", "price", "discount"], "measure", "value")


def q_mode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic MODE aggregate: most frequent value-bucket per event
    type, ties broken toward the smallest bucket (Spark's
    mode(col, deterministic=true); the oracle replays the same tiebreak
    with a (count desc, value asc) rank)."""
    e = table(spark, sf_dir, "events")
    bucketed = e.select(
        "event_type", F.floor(F.col("value") / 50).cast("long").alias("bucket")
    )
    return bucketed.groupBy("event_type").agg(
        F.mode("bucket", True).alias("mode_bucket"),
        F.count(F.lit(1)).alias("n_events"),
    )


_RECURSIVE_CTE_SQL = """
    WITH RECURSIVE walk(id, anc, depth) AS (
      SELECT c_custkey, CAST(floor(c_custkey / 10) AS BIGINT), CAST(1 AS BIGINT)
      FROM customer WHERE c_custkey > 0
      UNION ALL
      SELECT id, CAST(floor(anc / 10) AS BIGINT), depth + 1
      FROM walk WHERE anc > 0)
    SELECT id, max(depth) AS depth_to_root, count(*) AS n_ancestors
    FROM walk GROUP BY id
"""


def q_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE through the SQL surface (Spark 4.1 WITH RECURSIVE):
    walk the implicit digit-stripping hierarchy (parent = custkey / 10)
    to the root, reporting each customer's depth and ancestor count.
    Arithmetic is floor-then-cast (Spark truncates double->bigint casts
    while DuckDB rounds them — an explicit floor removes the dialect
    divergence), which keeps the SAME SQL text valid in both engines — the oracle is this query verbatim, so what is checked is
    the recursion semantics themselves (iterate-until-empty UNION ALL),
    not a reimplementation.  The engine's iterative DataFrame loops
    (connected components, PageRank) cover the same shape procedurally;
    this covers it declaratively."""
    register_views(spark, sf_dir)
    return spark.sql(_RECURSIVE_CTE_SQL)


def q_collection_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collection-type surface: arrays built per row, transformed with
    higher-order functions (transform / filter / aggregate / zip_with —
    all codegen'd lambda expressions, no UDF), plus a JSON-derived map
    column.  Integer arithmetic end to end so the fold results are
    order-independent and hash-exact."""
    e = table(spark, sf_dir, "events")
    base = e.select(
        "event_id",
        F.sequence(F.lit(1), (F.col("event_id") % 8 + 3).cast("int")).alias("arr"),
        F.from_json("props", "map<string,bigint>").alias("m"),
    )
    squares = F.transform(F.col("arr"), lambda x: x * x)
    return base.select(
        "event_id",
        F.size("arr").alias("arr_len"),
        F.aggregate(squares, F.lit(0).cast("long"), lambda acc, x: acc + x).alias(
            "sum_squares"
        ),
        F.size(F.filter(F.col("arr"), lambda x: x % 2 == 0)).alias("n_even"),
        F.aggregate(
            F.zip_with(F.col("arr"), F.reverse(F.col("arr")), lambda a, b: a * b),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("dot_reversed"),
        F.element_at(F.col("m"), "k").alias("k_value"),
        F.size(F.map_keys(F.col("m"))).alias("n_keys"),
    )


def q_session_dynamic_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic-gap sessionization: each event extends its session by a
    PER-EVENT gap (errors hold sessions open 10 min, everything else
    5 min) — `session_window` with a gap *expression*, the feature fixed
    gaps can't emulate.  Timestamps are truncated to whole seconds
    before windowing so the oracle's integer gaps-and-islands replay
    (running max of event-end vs next start) is bit-exact.  Spark
    merges an event landing EXACTLY at the session end (touch counts as
    overlap — probed empirically at sf0.1, where second-truncation
    produces exact touches), so the oracle starts a new session only
    when start > running end, strictly."""
    from .streaming.windows import session_dynamic_gap_agg

    return session_dynamic_gap_agg(table(spark, sf_dir, "events"))


def q_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel (operators/analytics.py::funnel_steps): users who
    viewed, then clicked strictly later, then purchased strictly later —
    each within 24 h of the previous step.  Chained conditional-min
    windows over ONE user_id Exchange; interval arithmetic (never
    unix_timestamp truncation) keeps the time bound microsecond-exact
    in both engines."""
    from .operators.analytics import funnel_steps

    return funnel_steps(
        table(spark, sf_dir, "events"),
        ["view", "click", "purchase"],
        within_s=86400,
    )


def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention matrix (operators/analytics.py::
    cohort_retention): cohort by Monday of first-event week, distinct
    active users per (cohort, week offset).  One window shuffle + one
    distinct over user-weeks."""
    from .operators.analytics import cohort_retention

    return cohort_retention(table(spark, sf_dir, "events"))


def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Next-event Markov transitions (operators/analytics.py::
    path_transitions): lag window per user over (ts, event_id), gap
    <= 30 min, top 20 transitions with deterministic ties.  The gap uses
    whole-second semantics (unix_timestamp floor == date_diff('second')
    boundary counting — identical by construction)."""
    from .operators.analytics import path_transitions

    return path_transitions(table(spark, sf_dir, "events"), max_gap_s=1800, top_n=20)


def q_gapfill_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly gap-fill with LOCF + linear interpolation
    (operators/analytics.py::gapfill_locf) on a fixed-point 1e6 integer
    grid — the slope is floor of ONE IEEE double division, so every
    filled value is bit-reproducible in DuckDB.  Grid bounded per user
    by that user's own [min, max] hour."""
    from .operators.analytics import gapfill_locf

    g = gapfill_locf(table(spark, sf_dir, "events"))
    return g.select(
        "user_id",
        F.unix_timestamp("hour_ts").alias("hour_s"),
        "value_fp",
        "locf_fp",
        "filled_fp",
        "fill_kind",
    )


def q_hierarchical_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-aggregate contract (operators/analytics.py::
    rollup_reaggregate): the DAILY aggregate is derived from the HOURLY
    partials (sum of decimal sums), never from raw events; the oracle
    computes the daily grain directly — hash equality proves
    reaggregation loses nothing."""
    from .operators.analytics import rollup_reaggregate

    _hourly, daily = rollup_reaggregate(table(spark, sf_dir, "events"))
    return daily.select(
        "day",
        "event_type",
        F.col("sum_value").cast("double").alias("sum_value"),
        "n_events",
    )


def q_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: shipping volume between two nations in both
    directions by year.  Five-table join (lineitem ⋈ supplier ⋈ orders ⋈
    customer ⋈ nation×2) — the dimension sides broadcast, lineitem is
    the only big scan; revenue in DECIMAL(18,2)."""
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    s = table(spark, sf_dir, "supplier")
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    n1 = n.select(F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation"))
    n2 = n.select(F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation"))
    rev = (F.col("l_extendedprice").cast("decimal(18,2)")
           * (F.lit(1).cast("decimal(18,2)") - F.col("l_discount").cast("decimal(18,2)")))
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | (
        (F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1")
    )
    return (
        li.filter(
            (F.col("l_shipdate") >= "1995-01-01") & (F.col("l_shipdate") < "1997-01-01")
        )
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), s.s_nationkey == F.col("s_nk"))
        .join(F.broadcast(n2), c.c_nationkey == F.col("c_nk"))
        .filter(pair)
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(F.sum(rev).cast("double").alias("revenue"))
    )


def q_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (no partsupp table in the corpus, so profit is
    discounted revenue): profit by supplier nation × order year for
    parts of one brand.  Part/supplier/nation broadcast; orders joins
    on the shuffled orderkey."""
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    s = table(spark, sf_dir, "supplier")
    p = table(spark, sf_dir, "part")
    n = table(spark, sf_dir, "nation")
    rev = (F.col("l_extendedprice").cast("decimal(18,2)")
           * (F.lit(1).cast("decimal(18,2)") - F.col("l_discount").cast("decimal(18,2)")))
    return (
        li.join(F.broadcast(p.filter(F.col("p_brand") == "Brand#1")),
                li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(F.col("n_name").alias("nation"),
                 F.year("o_orderdate").alias("o_year"))
        .agg(F.sum(rev).cast("double").alias("profit"))
    )


def q_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: the supplier(s) with maximum revenue in a
    quarter.  The max is a 1-row aggregate equi-joined back on the
    revenue value (decimal-exact, so the equality is safe) — a
    BroadcastHashJoin, not a nested loop."""
    li = table(spark, sf_dir, "lineitem")
    s = table(spark, sf_dir, "supplier")
    rev_expr = (F.col("l_extendedprice").cast("decimal(18,2)")
                * (F.lit(1).cast("decimal(18,2)") - F.col("l_discount").cast("decimal(18,2)")))
    rev = (
        li.filter(
            (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1996-04-01")
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(F.sum(rev_expr).alias("total_revenue"))
    )
    mx = rev.agg(F.max("total_revenue").alias("_mx"))
    return (
        rev.join(F.broadcast(mx), rev.total_revenue == F.col("_mx"))
        .join(F.broadcast(s), F.col("supplier_no") == s.s_suppkey)
        .select("s_suppkey", "s_name",
                F.col("total_revenue").cast("double").alias("total_revenue"))
    )


def q_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: large-volume orders (sum of quantities > 300)
    with their customer.  The having-filter runs on the grouped
    lineitem BEFORE joining orders/customer, so only qualifying
    orderkeys reach the join."""
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("sum_qty"))
        .filter(F.col("sum_qty") > 300)
    )
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select("c_custkey", "c_name", "o_orderkey",
                F.to_date("o_orderdate").alias("o_orderdate"),
                "o_totalprice",
                F.col("sum_qty").cast("double").alias("sum_qty"))
    )


def q_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: monthly PROMO revenue share.  Both sums are
    decimal-exact; the percentage is ONE double division per row —
    deterministic in any IEEE engine (the functions/sketches.py
    device)."""
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part")
    rev = (F.col("l_extendedprice").cast("decimal(18,2)")
           * (F.lit(1).cast("decimal(18,2)") - F.col("l_discount").cast("decimal(18,2)")))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy(F.date_trunc("month", "l_shipdate").cast("date").alias("month"))
        .agg(
            F.sum(F.when(F.col("p_type") == "PROMO", rev)
                  .otherwise(F.lit(0).cast("decimal(18,2)"))).alias("_promo"),
            F.sum(rev).alias("_total"),
        )
        .select(
            "month",
            (F.lit(100.0) * F.col("_promo").cast("double")
             / F.col("_total").cast("double")).alias("promo_pct"),
        )
    )


def q_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: distribution of customers by how many orders
    they placed (including zero).  Left join + two partial-combining
    aggregates; the second groups at most max-order-count keys."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(
        F.count(F.lit(1)).alias("custdist")
    )


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup (operators/simsearch.py::
    semantic_dedup): LSH-cell partition + int8-quantized pure-integer
    similarity predicate + deterministic keep-the-smallest-id rule.
    md5_60 planes and integer arithmetic make the FULL flagged set
    (false negatives across cell boundaries included — the paper's own
    trade) bit-reproducible in DuckDB.  threshold_pct=30 because the
    synthetic embeddings are near-orthogonal (max pairwise cosine
    ≈0.51) — a real corpus would run 95+; the predicate path exercised
    is identical."""
    from .operators.simsearch import semantic_dedup

    return semantic_dedup(
        table(spark, sf_dir, "embeddings"),
        nbits=4,
        threshold_pct=30,
        hash_fn="md5_60",
    )


def q_source_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source KL divergence vs the corpus unigram distribution
    (functions/text.py::source_kl_divergence) — the mixture-drift
    monitor of a data recipe.  Per-term contributions floor onto a 1e-9
    int64 grid before summing, so the total is partition-order-free and
    replays exactly in DuckDB."""
    from .functions.text import source_kl_divergence

    return source_kl_divergence(table(spark, sf_dir, "documents"))


def q_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact rolling lower-median over the last 7 events per user —
    the robust-statistics window shape approx_percentile can't serve
    deterministically.  Values on the fixed-point 1e6 grid; the frame
    list is sorted per row (frame ≤ 7 elements, so the per-row cost is
    constant) and the lower median is an integer pick — no
    interpolation, bit-exact in any engine."""
    e = table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-6, Window.currentRow)
    )
    vfp = F.floor(F.col("value") * 1000000).cast("long")
    vals = F.sort_array(F.collect_list(vfp).over(w))
    n = F.size(vals)
    return e.select(
        "user_id",
        "event_id",
        vfp.alias("value_fp"),
        n.cast("long").alias("n_in_frame"),
        F.element_at(vals, ((n + 1) / 2).cast("int")).alias("rolling_med_fp"),
    )


def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE merge training (operators/bpe.py::bpe_train):
    8 merge rounds over the top-1000-word lexicon of the documents
    corpus.  The corpus is scanned once for word frequencies; every
    round then works on the vocabulary-bounded symbol table — the
    Sennrich-style lexicon formulation that makes tokenizer training
    corpus-size-independent after the first aggregate.  The ordered
    merge table is the tokenizer artifact; the oracle replays all 8
    rounds as unrolled CTEs."""
    from .operators.bpe import bpe_train

    merges, _segs = bpe_train(
        table(spark, sf_dir, "documents"), n_merges=8, max_words=1000
    )
    return merges


def q_bpe_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Final BPE segmentation of the lexicon after the 8 learned merges
    (same training run as bpe_merges) — one row per (word, position,
    symbol).  Hash equality here checks the MERGE APPLICATION path
    (left-to-right non-overlap, run parity on aa-type pairs), not just
    the winner selection."""
    from .operators.bpe import bpe_train

    _merges, segs = bpe_train(
        table(spark, sf_dir, "documents"), n_merges=8, max_words=1000
    )
    return segs


def q_tokenizer_compression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility/compression metrics per document under the
    trained 8-merge BPE: token count, word count, character mass and
    chars-per-token — THE standard corpus-fit metric when choosing a
    tokenizer (higher compression = fewer tokens per byte = cheaper
    training).  Pure aggregate over the hash-checked apply path."""
    from .operators.bpe import bpe_tokenize_docs

    tok = bpe_tokenize_docs(
        table(spark, sf_dir, "documents"), n_merges=8, max_words=1000
    )
    return tok.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.countDistinct("wpos").alias("n_words"),
        F.sum(F.length("sym")).cast("long").alias("n_chars"),
        F.round(
            F.sum(F.length("sym")).cast("double") / F.count(F.lit(1)), 6
        ).alias("chars_per_token"),
    )


def q_multimodal_audio_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Energy-based VAD segmentation of the PCM16 payloads
    (multimodal/columns.py::audio_energy_segments): 32-sample frames,
    EXACT int64 squared-sample energies, above-mean gate by integer
    cross-multiplication, gaps-and-islands merge — every step integer,
    so the oracle replays decode-to-segments bit-for-bit via the
    hex-of-bytes trick."""
    from .multimodal.columns import audio_energy_segments, synthesize_media_assets

    d = table(spark, sf_dir, "documents")
    return audio_energy_segments(synthesize_media_assets(d), frame=32)


def q_wordpiece_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed WordPiece merge training
    (operators/wordpiece.py::wordpiece_train): 8 rounds over the same
    top-1000-word lexicon as bpe_merges, but each round merges the pair
    maximizing the LIKELIHOOD score count(ab)/(count(a)*count(b)) —
    the BERT-tokenizer criterion — compared on the 1e6 log grid.  The
    oracle replays all 8 rounds as unrolled CTEs with per-round symbol
    counts (MATERIALIZED — the multiply-referenced-CTE lesson)."""
    from .operators.wordpiece import wordpiece_train

    merges, _segs = wordpiece_train(
        table(spark, sf_dir, "documents"), n_merges=8, max_words=1000
    )
    return merges


def q_wordpiece_tokenize_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WordPiece APPLY path: the trained 8-merge table replayed over
    the DISTINCT corpus word table (the shared
    operators/bpe.py::replay_merges_over_docs), documents joined back
    by word — one row per emitted token.  Same scale shape as
    bpe_tokenize_docs: corpus-sized work is one explode + one hash
    join; the replay is distinct-word-bounded."""
    from .operators.wordpiece import wordpiece_tokenize_docs

    return wordpiece_tokenize_docs(
        table(spark, sf_dir, "documents"), n_merges=8, max_words=1000
    )


def q_stream_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the stream-stream LEFT OUTER interval join
    (streaming/windows.py::error_click_left_join): errors left-joined
    to same-user clicks in the preceding 10 minutes, NULL click when
    none.  In streaming the NULL rows are watermark-gated (a statement
    about the future); the batch plan emits them all — the stream ≡
    batch-minus-unfinalizable-tail relation is pinned in
    tests/test_streaming.py."""
    from .streaming.windows import error_click_left_join

    e = table(spark, sf_dir, "events")
    return error_click_left_join(
        e.filter(F.col("event_type") == "error"),
        e.filter(F.col("event_type") == "click"),
    )


def q_zscore_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type z-score anomaly detection over event values — the
    monitoring query of a metrics warehouse.  The stats_agg device:
    moments accumulate EXACTLY in decimal (values carry 2 decimals),
    the closed-form mean/std evaluate in double on those exact sums
    with the identical expression shape as the oracle, and z rounds to
    6 dp.  One aggregate + one broadcast-sized join back on the type
    key; the row filter |z| >= 3 prunes to the anomaly set."""
    e = table(spark, sf_dir, "events")
    dec = F.col("value").cast("decimal(18,2)")
    stats = e.groupBy(F.col("event_type").alias("_t")).agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(dec).cast("double").alias("s1"),
        F.sum((dec * dec).cast("decimal(38,4)")).cast("double").alias("s2"),
    )
    n, s1, s2 = F.col("n"), F.col("s1"), F.col("s2")
    z_raw = (F.col("value") - s1 / n) / F.sqrt(
        (n * s2 - s1 * s1) / (n * (n - 1))
    )
    # filter on the RAW z like the oracle does — filtering the rounded
    # value would disagree on a z in [2.9999995, 3)
    return (
        e.join(stats, e.event_type == F.col("_t"))
        .filter(F.abs(z_raw) >= 3)
        .select(
            "event_id",
            "event_type",
            "value",
            F.round(z_raw, 6).alias("zscore"),
        )
    )


def q_sampled_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-state approximate quantiles from a DETERMINISTIC sample:
    per group, the 256 rows with the smallest seeded md5_60 hash form
    the sample (a uniform draw that replays bit-for-bit — the
    stratified_sample device), and p25/p50/p75 are integer-rank picks
    from the sorted sample (the winsorize rank formula, no
    interpolation).  This is the scale path next to the exact
    `quantiles` query: state per group is 256 values regardless of
    group size, the cut is WindowGroupLimit-pushed, and unlike
    approx_percentile the result is engine-reproducible.  Sampling
    error vs the exact quantiles is pinned in pytest, not here."""
    from .functions.text import md5_60

    li = table(spark, sf_dir, "lineitem")
    h = md5_60(
        F.concat(
            F.lit("qs:"),
            F.col("l_orderkey").cast("string"),
            F.lit(":"),
            F.col("l_linenumber").cast("string"),
        )
    )
    w = Window.partitionBy("l_returnflag").orderBy(F.col("_h").asc())
    sampled = (
        li.select("l_returnflag", F.col("l_extendedprice").alias("v"), h.alias("_h"))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= 256)
    )
    arr = F.sort_array(F.collect_list("v"))
    n = F.size(arr)

    def pick(p: int):
        rank = F.greatest(F.lit(1), ((n * p + 99) / 100).cast("int"))
        return F.element_at(arr, rank)

    return sampled.groupBy("l_returnflag").agg(
        n.alias("n_sampled"),
        pick(25).alias("p25"),
        pick(50).alias("p50"),
        pick(75).alias("p75"),
    )


def q_similarity_join_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked edit-distance similarity join with per-key top-k — the
    reference's core semantic (J1+W2, main.py:163-169) in a fully
    ORACLE-CHECKED form: both engines implement unit-cost Levenshtein
    natively, so unlike the flagship's thefuzz-parity scorer (rows-only
    by design) this variant hash-checks end to end.  Blocking on the
    name's last digit (10 buckets) replaces the cross product with an
    equi-join — the plans/blocking.py recall-for-cost trade, stated in
    the output by construction.  Deterministic top-3 per customer by
    (distance asc, supplier name asc) through a WindowGroupLimit-pushed
    rank."""
    c = table(spark, sf_dir, "customer").filter(F.col("c_custkey") % 25 == 0)
    s = table(spark, sf_dir, "supplier")
    cb = c.select("c_name", F.substring("c_name", -1, 1).alias("_bk"))
    sb = s.select("s_name", F.substring("s_name", -1, 1).alias("_bk"))
    w = Window.partitionBy("c_name").orderBy(F.col("distance").asc(), F.col("s_name").asc())
    return (
        cb.join(sb, "_bk")
        .select(
            "c_name",
            "s_name",
            F.levenshtein("c_name", "s_name").alias("distance"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
    )


def q_ratio_to_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Share-of-total reporting (Oracle's RATIO_TO_REPORT shape):
    revenue by customer nation with each nation's share of the global
    total.  The share window runs over the ALREADY-AGGREGATED nation
    table (≤ |nation| rows), so the single-partition Exchange it needs
    is free — the raw lineitem never sees a global window.  Decimal
    sums; the share is one double division per row."""
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    rev = (F.col("l_extendedprice").cast("decimal(18,2)")
           * (F.lit(1).cast("decimal(18,2)") - F.col("l_discount").cast("decimal(18,2)")))
    per_nation = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(F.sum(rev).alias("_rev"))
    )
    total = Window.partitionBy()
    return per_nation.select(
        "nation",
        F.col("_rev").cast("double").alias("revenue"),
        F.round(
            F.col("_rev").cast("double")
            / F.sum("_rev").over(total).cast("double"),
            6,
        ).alias("revenue_share"),
    )


def q_fs_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi–Sunter probabilistic record linkage over blocked pairs
    (operators/linkage.py) — the principled superset of the reference's
    hand-weighted scorer (main.py:25-90).  Integer log-odds weights on
    a 1e6 grid make the score a sum of int64 literals (bit-exact in any
    engine); the three-way match/possible/non-match rule drops the
    non-match region before any downstream shuffle."""
    from .operators.linkage import fs_score_pairs

    c = table(spark, sf_dir, "customer").filter(F.col("c_custkey") % 5 == 0)
    s = table(spark, sf_dir, "supplier")
    pairs = (
        c.select("c_name", F.substring("c_name", -1, 1).alias("_bk"))
        .join(s.select("s_name", F.substring("s_name", -1, 1).alias("_bk")), "_bk")
        .drop("_bk")
    )
    return fs_score_pairs(
        pairs, "c_name", "s_name", lev_max=8, upper=5_000_000, lower=-2_500_000
    )


def q_ewma_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user fixed-point EWMA of event values (alpha = 0.2 on a 1e6
    integer grid, operators/analytics.py::ewma_fixed_point).  The
    sequential recurrence runs per key under ONE Exchange; integer
    floor at every step is what lets a recursive-CTE oracle replay it
    bit-exactly — a float EWMA could not be hash-checked."""
    from .operators.analytics import ewma_fixed_point

    e = table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "ts",
        F.floor(F.col("value") * F.lit(1000000.0)).cast("long").alias("x"),
    )
    out = ewma_fixed_point(e, "user_id", ["ts", "event_id"], "x", alpha_1e6=200_000)
    return out.select(
        "user_id",
        "event_id",
        "ewma_fp",
        (F.col("ewma_fp") / F.lit(1000000.0)).alias("ewma"),
    )


def q_skyline_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline / Pareto frontier of orders — maximize total price,
    minimize order date; keep orders no other order strictly beats on
    both (operators/analytics.py::skyline_2d).  Partition-local prune +
    one window over the distinct-price LEVEL table, never the data."""
    from .operators.analytics import skyline_2d

    pts = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_totalprice",
        F.unix_timestamp("o_orderdate").cast("long").alias("order_epoch"),
    )
    sky = skyline_2d(pts, "o_totalprice", "order_epoch")
    return sky.select("o_orderkey", "o_totalprice", "order_epoch")


def q_schema_union_evolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution union (S10 surface): two snapshots with
    different column sets merge by NAME with missing columns
    null-filled (``unionByName(allowMissingColumns=True)``, the
    DataFrame form of reading mixed-schema parquet with mergeSchema).
    The oracle is DuckDB's UNION ALL BY NAME — identical semantics."""
    d = table(spark, sf_dir, "documents")
    v1 = d.filter(F.col("doc_id") % 2 == 0).select("doc_id", "lang", "n_chars")
    v2 = d.filter(F.col("doc_id") % 2 == 1).select("doc_id", "source")
    return v1.unionByName(v2, allowMissingColumns=True)


def q_string_agg_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (LISTAGG/string_agg shape): per
    nation, the sorted distinct market segments as one CSV string.
    ``collect_set`` is order-nondeterministic in a distributed engine,
    so ``array_sort`` before ``array_join`` is what makes the string
    reproducible — the mirror of the oracle's ORDER BY inside
    string_agg."""
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.array_join(F.array_sort(F.collect_set("c_mktsegment")), ",").alias(
                "segments"
            ),
        )
    )


def q_bloom_join_reduce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime Bloom semi-join reduction (plans/runtime_filter.py): a
    selective customer predicate compresses to an 8 KiB literal bitset
    probed MAP-SIDE on the orders scan, so the join Exchange carries
    only (near-)matching fact rows.  The oracle is the PLAIN join —
    hash equality proves false positives die in the real join and no
    row is ever lost."""
    from .plans.runtime_filter import bloom_reduce_join

    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer").filter(
        (F.col("c_mktsegment") == "BUILDING") & (F.col("c_acctbal") > 9000)
    )
    joined = bloom_reduce_join(o, c, "o_custkey", "c_custkey")
    return joined.select(
        "o_orderkey", "o_custkey", "c_name", _dec("o_totalprice").cast("double").alias("totalprice")
    )


def q_equi_width_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """20-bin equi-width histogram of order totals
    (operators/profiling.py::equi_width_histogram): a 1-row min/max
    stats pass (allowlisted 1-row broadcast) + one partial-combining
    aggregate on the computed bin.  IEEE-identical bucket arithmetic in
    both engines."""
    from .operators.profiling import equi_width_histogram

    return equi_width_histogram(
        table(spark, sf_dir, "orders"), "o_totalprice", n_bins=20
    )


def q_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution (operators/analytics.py): purchases
    attributed to the latest same-user click within 7 days via ONE
    as-of carry — never a per-conversion subquery (the oracle's
    LATERAL is the semantic spec, not the plan)."""
    from .operators.analytics import attribution_last_touch

    att = attribution_last_touch(
        table(spark, sf_dir, "events"),
        conversion_type="purchase",
        touch_type="click",
        window_s=7 * 86400,
    )
    return att.select(
        "conv_id",
        "user_id",
        F.unix_timestamp("conv_ts").cast("long").alias("conv_ts_s"),
        "touch_id",
        F.unix_timestamp("touch_ts").cast("long").alias("touch_ts_s"),
    )


def q_expect_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expectation gate (operators/profiling.py::apply_expectations):
    per-rule violation counts over orders plus the total quarantined
    row count — the promotion-gate summary of a data contract.  Rules
    are pure codegen predicates; the summary is one aggregate over the
    exploded failed-rule names."""
    from .operators.profiling import apply_expectations

    o = table(spark, sf_dir, "orders")
    rules = {
        "totalprice_positive": F.col("o_totalprice") > 0,
        "totalprice_below_cap": F.col("o_totalprice") < 450000.0,
        "status_known": F.col("o_orderstatus").isin("O", "F", "P"),
        "priority_format": F.col("o_orderpriority").rlike("^[1-5]-"),
    }
    _, quarantine = apply_expectations(o, rules)
    per_rule = (
        quarantine.select(F.explode("violations").alias("rule"))
        .groupBy("rule")
        .agg(F.count(F.lit(1)).alias("n_fail"))
    )
    total = quarantine.agg(F.count(F.lit(1)).alias("n_fail")).select(
        F.lit("_total_quarantined").alias("rule"), "n_fail"
    )
    return per_rule.unionByName(total)


def q_agg_state_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance (operators/cdc.py): per-user
    aggregate state over pre-cutoff events merged with the delta batch
    of post-cutoff events.  The oracle aggregates ALL events directly —
    hash equality proves merge(agg(A), agg(B)) == agg(A ∪ B) exactly
    (decimal monoid)."""
    from .operators.cdc import agg_state_of, merge_agg_state

    e = table(spark, sf_dir, "events")
    cutoff = F.lit("2024-03-01 00:00:00").cast("timestamp")
    state = agg_state_of(e.filter(F.col("ts") < cutoff), ["user_id"], "value")
    delta = agg_state_of(e.filter(F.col("ts") >= cutoff), ["user_id"], "value")
    m = merge_agg_state(state, delta, ["user_id"])
    return m.select(
        "user_id",
        "n",
        F.col("sum_value").cast("double").alias("sum_value"),
        F.col("min_value").cast("double").alias("min_value"),
        F.col("max_value").cast("double").alias("max_value"),
    )


def q_bfs_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-depth BFS (operators/graph.py::bfs_hops): minimum hop
    distance (≤3) from the seed set doc_id % 100 == 0 over the
    exact-Jaccard near-dup graph — the blast-radius / label-spread
    propagation query.  Layered frontier expansion, one equi-join per
    round; the oracle is a depth-limited recursive CTE."""
    from .operators.graph import bfs_hops, near_dup_graph

    d = table(spark, sf_dir, "documents")
    pairs = near_dup_graph(d, materialize=False)
    seeds = d.filter(F.col("doc_id") % 100 == 0).select(F.col("doc_id").alias("id"))
    return bfs_hops(
        pairs, seeds, max_hops=3, src_col="doc_a", dst_col="doc_b", seed_col="id"
    ).select(F.col("id").alias("doc_id"), "hops")


def q_chi_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence test of order status × priority
    (operators/profiling.py::chi_square_independence): exact int64
    cross-multiplied cell deviations, IEEE-identical double division,
    contributions floored onto a 1e-9 grid so the summed statistic is
    order-independent and hash-checkable — no transcendentals."""
    from .operators.profiling import chi_square_independence

    o = table(spark, sf_dir, "orders").select(
        F.col("o_orderstatus").alias("status"),
        F.col("o_orderpriority").alias("priority"),
    )
    return chi_square_independence(o, "status", "priority")


def q_calendar_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-dimension build + enrichment: generate every day of
    1996 with warehouse attributes (dow/week/month/quarter/weekend) and
    left-join the per-day order aggregates — zero-order days MUST
    appear with zeros (the gap-preserving join every reporting layer
    needs).  The day spine comes from ``sequence()`` — generated, not
    scanned — and the join is broadcast (366 rows)."""
    days = (
        spark.range(1)
        .select(
            F.explode(
                F.sequence(
                    F.lit("1996-01-01").cast("date"), F.lit("1996-12-31").cast("date")
                )
            ).alias("day")
        )
    )
    o = table(spark, sf_dir, "orders").filter(F.year("o_orderdate") == 1996)
    per_day = o.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(_dec("o_totalprice")).alias("_rev"),
    )
    dow = F.dayofweek("day") - F.lit(1)  # 0 = Sunday, matching date_part('dow')
    return (
        F.broadcast(days)
        .join(per_day, "day", "left")
        .select(
            "day",
            dow.alias("dow"),
            F.weekofyear("day").alias("week"),
            F.month("day").alias("month"),
            F.quarter("day").alias("quarter"),
            dow.isin(0, 6).alias("is_weekend"),
            F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
            F.coalesce(F.col("_rev"), F.lit(0).cast("decimal(18,2)"))
            .cast("double")
            .alias("revenue"),
        )
    )


def q_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnosis (plans/skew.py::key_skew_profile): the
    10 heaviest o_custkey values with count, share of all rows, and
    rank — the profile that decides between a plain, salted, or
    AQE-skew join.  Per-task top-k; share denominator from one scalar
    aggregate over the key counts."""
    from .plans.skew import key_skew_profile

    return key_skew_profile(table(spark, sf_dir, "orders"), "o_custkey", top_n=10)


def q_scd2_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time dimension lookup against the SCD2 history: each
    purchase is enriched with the user's regime (event_type run)
    valid AT the purchase timestamp.  Because SCD2 intervals partition
    time per key, 'the interval containing ts' equals 'the last
    interval starting at or before ts' — so the lookup is ONE as-of
    carry (operators/temporal.py::asof_join), never a per-row interval
    scan; the oracle's LATERAL interval probe is the semantic spec,
    not the plan.  Rare same-valid_from interval ties (two runs
    starting on one timestamp, split by the event_id order key) are
    pre-resolved to the highest version — the superseding run."""
    from .operators.temporal import asof_join, scd2_intervals

    e = table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    iv = scd2_intervals(
        e, key="user_id", order_by=["ts", "event_id"], attrs=["event_type"]
    )
    dim = (
        iv.groupBy("user_id", F.col("valid_from").alias("vf"))
        .agg(
            F.max_by("event_type", "version").alias("regime"),
            F.max("version").alias("version"),
        )
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"), "user_id", "ts"
    )
    j = asof_join(
        purchases, dim, on="user_id", left_ts="ts", right_ts="vf",
        right_payload=["regime", "version"],
    )
    return j.select(
        "p_id",
        "user_id",
        F.unix_timestamp("ts").cast("long").alias("ts_s"),
        F.col("regime_asof").alias("regime"),
        F.col("version_asof").alias("version"),
    )


def q_rolling_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-24h distinct active users per observed hour (the
    DAU-style engagement metric): user-hours dedupe first, then each
    user-hour is exploded to the 24 window ends it can serve — a
    bounded ×24 fan-out of the ALREADY-DEDUPED user-hour table, never
    of raw events — and the count-distinct runs per window end.
    Windows are reported only for hours that actually occur (semi-join
    against observed hours), so no global min/max pass is needed."""
    e = table(spark, sf_dir, "events")
    uh = e.select(
        "user_id",
        F.unix_timestamp(F.date_trunc("hour", "ts")).cast("long").alias("h_s"),
    ).distinct()
    hours = uh.select("h_s").distinct()
    cover = uh.select(
        "user_id", "h_s", F.explode(F.sequence(F.lit(0), F.lit(23))).alias("k")
    ).select("user_id", (F.col("h_s") + F.col("k") * 3600).alias("hour_s"))
    return (
        cover.join(hours, cover.hour_s == hours.h_s, "left_semi")
        .groupBy("hour_s")
        .agg(F.count_distinct("user_id").alias("active_users"))
    )


def q_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit: quasi-identifier combinations (status,
    priority, order day) occurring fewer than k=5 times — the re-
    identification risk gate a privacy-preserving release pipeline
    runs before publishing.  One partial-combining aggregate plus a
    post-aggregate filter; at 100 TB the combo table is the small
    side."""
    o = table(spark, sf_dir, "orders")
    return (
        o.groupBy(
            F.col("o_orderstatus").alias("status"),
            F.col("o_orderpriority").alias("priority"),
            F.to_date("o_orderdate").alias("day"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") < 5)
    )


def q_seq_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE-lite sequence pattern matching: each user's
    event stream collapses to an ordered initial string (deterministic
    struct sort by ts, event_id) and the view→click→purchase pattern
    ``v[^p]*c[^p]*p`` is counted with leftmost non-overlapping regex
    semantics — identical in Java regex and RE2.  One user Exchange;
    per-user strings are bounded by per-user history."""
    e = table(spark, sf_dir, "events")
    seq = e.groupBy("user_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            F.col("ts"),
                            F.col("event_id"),
                            F.substring("event_type", 1, 1).alias("c"),
                        )
                    )
                ),
                lambda x: x["c"],
            ),
            "",
        ).alias("seq")
    )
    n = F.regexp_count(F.col("seq"), F.lit(r"v[^p]*c[^p]*p"))
    return seq.select(
        "user_id",
        F.length("seq").alias("n_events"),
        n.alias("n_funnels"),
        (n > 0).alias("converted"),
    )


def q_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average value per (user, day)
    (operators/analytics.py::twap): integer cents × epoch-second
    durations summed as int64 (order-free), ONE double division at the
    end; single-observation days yield NULL.  The metric a plain AVG
    gets wrong under bursty updates."""
    from .operators.analytics import twap

    e = table(spark, sf_dir, "events").withColumn("day", F.to_date("ts"))
    return twap(e, ["user_id", "day"])


def q_survivorship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Golden-record survivorship (operators/linkage.py::
    survivorship_merge): entity groups collapse to one record with
    per-FIELD rules — longest-then-smallest name, max balance,
    most-frequent-then-smallest segment — the MDM merge step after
    record linkage.  All rules are aggregates over one group Exchange;
    the mode pre-counts on the tiny (group, value) table."""
    from .operators.linkage import survivorship_merge

    g = table(spark, sf_dir, "customer").withColumn(
        "grp", F.col("c_custkey") % 200
    )
    return survivorship_merge(
        g,
        "grp",
        {
            "c_name": "longest_then_min",
            "c_acctbal": "max",
            "c_mktsegment": "mode_min",
        },
    )


def q_rand_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """±1 random projection of 64-d embeddings to 8 integer components
    (operators/simsearch.py::random_projection): components quantize to
    a 1e6 grid first so the dot products are order-free int64 sums —
    per-row codegen over literal sign arrays, zero shuffles; the oracle
    SQL is GENERATED from the same sign source
    (random_projection_sql), so the exact projection hash-checks."""
    from .operators.simsearch import random_projection

    return random_projection(table(spark, sf_dir, "embeddings"))


def q_knn_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN classification by majority vote: every 10th vector's 5
    exact-cosine neighbors (the hash-checked cosine_topk path) vote
    with their labels; ties break to the smallest label (the mode_min
    convention).  Votes and the winner are aggregates over the tiny
    (query, label) table."""
    from .operators.simsearch import cosine_topk_exact

    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 10 == 0)
    knn = cosine_topk_exact(emb, queries, k=5)
    labels = emb.select("vec_id", "label")
    # No broadcast hint: labels is a corpus-sized projection (every
    # vector's label) — at 100 TB the hint is an executor OOM.  The
    # equi-join on vec_id shuffles correctly and AQE broadcasts it
    # whenever it is genuinely small.
    votes = (
        knn.join(labels, knn.neighbor_id == labels.vec_id)
        .groupBy("query_id", "label")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    pred = votes.groupBy("query_id").agg(
        F.min_by(
            F.col("label"), F.struct((-F.col("cnt")).alias("nc"), F.col("label"))
        ).alias("pred_label"),
        F.max("cnt").alias("votes"),
    )
    truth = emb.select(F.col("vec_id").alias("query_id"), F.col("label").alias("true_label"))
    return pred.join(truth, "query_id").select(
        "query_id",
        "pred_label",
        "votes",
        "true_label",
        (F.col("pred_label") == F.col("true_label")).alias("correct"),
    )


def q_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample conversion A/B test: users split by user_id parity,
    conversion = any purchase event; the pooled z² statistic is one
    IEEE expression chain over exactly representable integer counts,
    floored onto a 1e-9 grid (the chi_square device — deterministic,
    no transcendentals).  One user-level aggregate + one 1-row final
    aggregate."""
    e = table(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(
        (
            F.sum((F.col("event_type") == "purchase").cast("int")) >= 15
        ).cast("int").alias("conv")
    )
    v = (F.col("user_id") % 2).alias("variant")
    s = per_user.select(v, "conv").groupBy().agg(
        F.count(F.when(F.col("variant") == 0, 1)).alias("n0"),
        F.sum(F.when(F.col("variant") == 0, F.col("conv"))).alias("c0"),
        F.count(F.when(F.col("variant") == 1, 1)).alias("n1"),
        F.sum(F.when(F.col("variant") == 1, F.col("conv"))).alias("c1"),
    )
    p0 = F.col("c0").cast("double") / F.col("n0").cast("double")
    p1 = F.col("c1").cast("double") / F.col("n1").cast("double")
    pp = (F.col("c0") + F.col("c1")).cast("double") / (
        F.col("n0") + F.col("n1")
    ).cast("double")
    den = pp * (F.lit(1.0) - pp) * (
        F.lit(1.0) / F.col("n0").cast("double")
        + F.lit(1.0) / F.col("n1").cast("double")
    )
    z2 = F.when(den != 0, ((p0 - p1) * (p0 - p1)) / den)
    return s.select(
        "n0", "c0", "n1", "c1",
        p0.alias("rate0"),
        p1.alias("rate1"),
        F.floor(z2 * F.lit(1000000000.0)).cast("long").alias("z2_grid"),
    )


def q_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-20 for the query {spark, join, window}
    (functions/text.py::bm25_topk): per-term contributions floored onto
    a 1e-9 grid then summed as int64 (order-free), postings filtered to
    query terms before any aggregate, 1-row N/avgdl broadcast."""
    from .functions.text import bm25_topk

    return bm25_topk(
        table(spark, sf_dir, "documents"), ["spark", "join", "window"]
    )


def q_trend_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user OLS value trend (operators/analytics.py::trend_slope):
    x anchored to each key's own first hour keeps all five sufficient
    statistics exactly double-representable, so the closed-form slope
    is one IEEE expression over exact operands — floored to a grid."""
    from .operators.analytics import trend_slope

    return trend_slope(table(spark, sf_dir, "events"), ["user_id"])


def q_dp_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differentially-private per-(lang, source) document counts
    (operators/profiling.py::dp_noisy_counts): Laplace noise by
    inverse-CDF from a seeded md5_60 uniform — the release replays
    bit-identically, completing the privacy family with k_anonymity."""
    from .operators.profiling import dp_noisy_counts

    return dp_noisy_counts(
        table(spark, sf_dir, "documents"), ["lang", "source"], epsilon=1.0
    )


def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation: per-user Recency (seconds before the
    2024-02-01 anchor), Frequency (purchase count) and Monetary (cents)
    quintiled with ntile(5) under unique total orders (metric, user_id)
    — deterministic bucket boundaries in any engine — and concatenated
    into the classic 3-digit segment code.  The global ntile windows
    run over the PER-USER table (one row per user), the standard
    practice; raw events never see a global window."""
    e = table(spark, sf_dir, "events")
    anchor = F.lit("2024-02-01 00:00:00").cast("timestamp")
    per_user = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            (
                F.unix_timestamp(anchor) - F.unix_timestamp(F.max("ts"))
            ).cast("long").alias("recency_s"),
            F.count(F.lit(1)).alias("frequency"),
            F.sum(F.floor(F.col("value") * F.lit(100.0)).cast("long")).alias(
                "monetary_cents"
            ),
        )
    )
    w_r = Window.orderBy(F.col("recency_s").asc(), F.col("user_id").asc())
    w_f = Window.orderBy(F.col("frequency").desc(), F.col("user_id").asc())
    w_m = Window.orderBy(F.col("monetary_cents").desc(), F.col("user_id").asc())
    return per_user.select(
        "user_id",
        "recency_s",
        "frequency",
        "monetary_cents",
        F.ntile(5).over(w_r).alias("r_q"),
        F.ntile(5).over(w_f).alias("f_q"),
        F.ntile(5).over(w_m).alias("m_q"),
    ).withColumn(
        "segment",
        F.col("r_q") * 100 + F.col("f_q") * 10 + F.col("m_q"),
    )


def q_shortest_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-round Bellman–Ford (operators/graph.py::bellman_ford_k) over
    the near-dup graph with integer dissimilarity weights
    (1e6 − floor(jaccard·1e6)) from the doc_id % 100 seed set: minimum
    path cost using ≤ 4 edges.  Integer weights keep every candidate
    distance an exact int64 sum; the oracle is a depth-limited
    recursive CTE over the same weighted edges."""
    from .operators.graph import bellman_ford_k, near_dup_graph

    d = table(spark, sf_dir, "documents")
    pairs = near_dup_graph(d, materialize=False)
    weighted = pairs.select(
        "doc_a",
        "doc_b",
        (F.lit(1000000) - F.floor(F.col("jaccard") * F.lit(1000000.0))).cast(
            "long"
        ).alias("w"),
    )
    seeds = d.filter(F.col("doc_id") % 100 == 0).select(F.col("doc_id").alias("id"))
    return bellman_ford_k(
        weighted, seeds, k=4, src_col="doc_a", dst_col="doc_b"
    ).select(F.col("id").alias("doc_id"), "dist")


def q_join_size_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based join cardinality estimation
    (functions/sketches.py::cms_join_size_estimate): the URGENT and
    HIGH order partitions' self-join size on o_custkey estimated from
    two 4×1024 count-min grids vs the exact count-table product — the
    optimizer's join-sizing device, bit-replayable because every cell
    is integer arithmetic over md5_60 positions."""
    from .functions.sketches import cms_join_size_estimate

    o = table(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderpriority") == "1-URGENT")
    b = o.filter(F.col("o_orderpriority") == "2-HIGH")
    return cms_join_size_estimate(a, "o_custkey", b, "o_custkey")


def q_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (suppliers-who-kept-orders-waiting analog over
    this corpus's columns): suppliers with a RETURNED line ('R') in a
    multi-supplier order where NO other supplier's line was returned —
    the semi-join + anti-join pair over the SAME fact table that makes
    Q21 the hardest relational shape.  Declared as raw SQL so
    Catalyst's EXISTS/NOT-EXISTS decorrelation into left-semi and
    left-anti hash joins is the feature under test.  Deterministic
    top-10 by (count desc, name)."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT s_name, count(*) AS numwait
        FROM supplier, lineitem l1
        WHERE s_suppkey = l1.l_suppkey
          AND l1.l_returnflag = 'R'
          AND EXISTS (
            SELECT 1 FROM lineitem l2
            WHERE l2.l_orderkey = l1.l_orderkey
              AND l2.l_suppkey <> l1.l_suppkey)
          AND NOT EXISTS (
            SELECT 1 FROM lineitem l3
            WHERE l3.l_orderkey = l1.l_orderkey
              AND l3.l_suppkey <> l1.l_suppkey
              AND l3.l_returnflag = 'R')
        GROUP BY s_name
        ORDER BY numwait DESC, s_name
        LIMIT 10
        """
    )


def q_idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: customers with above-average positive balance
    and no orders SINCE 2000, grouped by market segment — an uncorrelated scalar
    subquery (decorrelated to a 1-row aggregate) plus NOT EXISTS
    (left-anti join).  The above-average predicate is CROSS-MULTIPLIED
    (``bal·n > Σbal`` in exact decimals) so no engine compares against
    a summation-order-dependent divided average — the
    ``correlated_subquery`` device."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT c_mktsegment AS segment,
               count(*) AS n_customers,
               CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
        FROM customer c
        WHERE CAST(c_acctbal AS DECIMAL(18,2))
              * (SELECT count(*) FROM customer WHERE c_acctbal > 0.0)
              > (SELECT SUM(CAST(c_acctbal AS DECIMAL(18,2)))
                 FROM customer WHERE c_acctbal > 0.0)
          AND NOT EXISTS (
            SELECT 1 FROM orders o
            WHERE o.o_custkey = c.c_custkey
              AND o.o_orderdate >= TIMESTAMP '2000-01-01')
        GROUP BY c_mktsegment
        """
    )


def q_multimodal_audio_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCM16 decimation by 4 with an in-kernel encode/decode roundtrip
    (multimodal/columns.py::resample_audio): integer features over the
    RE-ENCODED payload (count, order-free Σ|s|, int16 peak), replayed
    in DuckDB by keeping hex sample k iff k ≡ 0 (mod 4)."""
    from .multimodal.columns import resample_audio, synthesize_media_assets

    d = table(spark, sf_dir, "documents")
    return resample_audio(synthesize_media_assets(d), factor=4)


def q_multimodal_image_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2×2 image tiling over REAL PPM decodes
    (multimodal/columns.py::image_tile_stats): per-tile pixel count and
    int64 channel-byte sum — integer-only outputs make the decode+crop
    path hash-checkable; the oracle reconstructs each tile from the
    synthesis recipe with row/col arithmetic over the raster index."""
    from .multimodal.columns import image_tile_stats, synthesize_media_assets

    d = table(spark, sf_dir, "documents")
    return image_tile_stats(synthesize_media_assets(d), tiles=2)


def q_table_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-free table fingerprint of orders
    (operators/profiling.py::table_digest): int64 sum (mod 2^64) of a
    60-bit row hash over the canonical projection — the integrity
    check for verifying a migration or engine port moved every row,
    i.e. this repo's oracle methodology packaged as an operator.
    Map-side, one scalar aggregate, digests of shards FOLD (the
    decimal-sum monoid)."""
    from .operators.profiling import table_digest

    o = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_orderpriority",
        F.unix_timestamp("o_orderdate").cast("long").alias("od_s"),
        F.floor(F.col("o_totalprice") * F.lit(100.0)).cast("long").alias("cents"),
    )
    return table_digest(
        o, ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority", "od_s", "cents"]
    )


def q_copurchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence mining: the top-20 part pairs
    ordered together most often.  The pair explosion is a SELF-JOIN ON
    THE ORDER KEY with ``pk_a < pk_b`` — fan-out bounded by
    (lines-per-order choose 2), never an unkeyed cross product (a
    pathological megabasket would need the ``plans/blocking.py``
    df-cap; order sizes here are schema-bounded).  Distinct parts per
    order first so quantity rows don't inflate support counts;
    deterministic cut by (support desc, pair asc) via per-task
    top-k."""
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey").distinct()
    a = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk_a"))
    b = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk_b"))
    pairs = a.join(b, "ok").filter(F.col("pk_a") < F.col("pk_b"))
    return (
        pairs.groupBy("pk_a", "pk_b")
        .agg(F.count(F.lit(1)).alias("support"))
        .orderBy(F.col("support").desc(), F.col("pk_a").asc(), F.col("pk_b").asc())
        .limit(20)
    )


def q_hilbert_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D Hilbert-curve layout key over two event dimensions
    (functions/layout.py::with_hilbert_key) — the no-jump alternative to
    zorder_key for the same save_sorted_layout clustering: a Hilbert
    range is a few compact rectangles, so zone maps prune range
    predicates on either dimension with fewer false row groups.  The
    oracle replays the identical quadrant walk from hilbert_sql_2d
    (generated from the same loop), so the exact key — rotations and
    all — is hash-checked."""
    from .functions.layout import with_hilbert_key

    e = table(spark, sf_dir, "events")
    x = F.pmod(F.col("user_id"), F.lit(64))
    y = F.least(F.greatest(F.floor("value"), F.lit(0)), F.lit(63))
    return with_hilbert_key(e, x, y, bits=6).select("event_id", "hx", "hy", "hkey")


def q_interval_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sweep-line interval concurrency per day
    (operators/analytics.py::interval_concurrency): peak and
    time-weighted average number of simultaneously-active sessions,
    each event opening an interval of 60·(1 + event_id mod 30) seconds.
    Deltas collapse per distinct timestamp before ONE per-day running
    sum; peak/integral are exact int64, the average is one IEEE
    division."""
    from .operators.analytics import interval_concurrency

    e = table(spark, sf_dir, "events").select(
        F.to_date("ts").alias("day"),
        F.unix_timestamp("ts").cast("long").alias("start_s"),
        (F.lit(60) * (F.lit(1) + F.col("event_id") % 30)).cast("long").alias("dur_s"),
    )
    return interval_concurrency(e, "day")


def q_minhash_est_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash sketch-accuracy audit
    (operators/dedup.py::minhash_estimate_audit): for every true
    near-dup pair, the 16-permutation signature estimate of Jaccard
    next to the exact shingle Jaccard, both on an integer 1e-9 grid.
    Signatures use md5_60 per-permutation hashes, so the oracle
    computes IDENTICAL signatures and the match counts hash-check —
    the measure-don't-guess gate before trusting num_perm at 100 TB."""
    from .operators.dedup import minhash_estimate_audit

    d = table(spark, sf_dir, "documents")
    return minhash_estimate_audit(d, num_perm=16, threshold=0.3)


def q_feature_minmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension min-max feature scaling of embeddings (ML feature
    prep): components quantize to a 1e6 integer grid (float32→double
    widening is exact, one IEEE multiply + floor), per-dim min/max are
    exact integer aggregates over one dim-keyed Exchange, and the
    scaled value is an integer floor division onto a 1e-6 grid.  The
    64-row stats table joins back broadcast — bounded by the embedding
    DIMENSION by construction, never by corpus size."""
    emb = table(spark, sf_dir, "embeddings")
    q = (
        emb.select("vec_id", F.posexplode("embedding").alias("dim", "_v"))
        .select(
            "vec_id", "dim", F.floor(F.col("_v").cast("double") * 1e6).cast("long").alias("q")
        )
    )
    stats = q.groupBy("dim").agg(F.min("q").alias("_mn"), F.max("q").alias("_mx"))
    return (
        q.join(F.broadcast(stats), "dim")
        .select(
            "vec_id",
            "dim",
            "q",
            F.when(F.col("_mx") > F.col("_mn"), F.expr("((q - _mn) * 1000000) DIV (_mx - _mn)"))
            .otherwise(F.lit(0))
            .cast("long")
            .alias("scaled_grid"),
        )
    )


def q_ml_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class precision/recall/F1 from the kNN classifier's
    hash-checked predictions (q_knn_label): TP/FP/FN are exact integer
    counts over the confusion matrix; the metric grids are integer
    floor divisions on a 1e-9 grid (f1 from the grids themselves, so
    every output is int64).  Closes the ML-evaluation loop as a
    hash-checked query (ml_train_eval's RF metrics stay rows-only —
    training is not SQL-replayable; this classifier is)."""
    res = q_knn_label(spark, sf_dir)
    cm = res.groupBy("true_label", "pred_label").agg(F.count(F.lit(1)).alias("n"))
    per_true = cm.groupBy(F.col("true_label").alias("label")).agg(
        F.sum("n").alias("n_true"),
        F.sum(F.when(F.col("pred_label") == F.col("true_label"), F.col("n")).otherwise(0)).alias(
            "tp"
        ),
    )
    per_pred = cm.groupBy(F.col("pred_label").alias("label")).agg(F.sum("n").alias("n_pred"))
    joined = (
        per_true.join(per_pred, "label", "full_outer")
        .select(
            "label",
            F.coalesce(F.col("tp"), F.lit(0)).alias("tp"),
            (F.coalesce(F.col("n_pred"), F.lit(0)) - F.coalesce(F.col("tp"), F.lit(0))).alias(
                "fp"
            ),
            (F.coalesce(F.col("n_true"), F.lit(0)) - F.coalesce(F.col("tp"), F.lit(0))).alias(
                "fn"
            ),
        )
    )
    m = joined.select(
        "label",
        "tp",
        "fp",
        "fn",
        F.expr("CASE WHEN tp + fp > 0 THEN (tp * 1000000000) DIV (tp + fp) END").alias(
            "prec_grid"
        ),
        F.expr("CASE WHEN tp + fn > 0 THEN (tp * 1000000000) DIV (tp + fn) END").alias(
            "rec_grid"
        ),
    )
    return m.select(
        "label",
        "tp",
        "fp",
        "fn",
        "prec_grid",
        "rec_grid",
        F.expr(
            "CASE WHEN prec_grid IS NOT NULL AND rec_grid IS NOT NULL"
            " AND prec_grid + rec_grid > 0"
            " THEN (2 * prec_grid * rec_grid) DIV (prec_grid + rec_grid) END"
        ).alias("f1_grid"),
    )


def q_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: NATION_1 suppliers' share of ECONOMY-part
    revenue sold to ASIA customers, by year.  Both sums decimal-exact
    (promo_revenue device), ONE double division per year; the share
    nation is a CASE over the supplier-side nation join."""
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    s = table(spark, sf_dir, "supplier")
    p = table(spark, sf_dir, "part")
    n1 = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    n2 = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_regionkey").alias("c_rk")
    )
    r = table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    rev = (
        F.col("l_extendedprice").cast("decimal(18,2)")
        * (F.lit(1).cast("decimal(18,2)") - F.col("l_discount").cast("decimal(18,2)"))
    )
    base = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(n1), s.s_nationkey == F.col("s_nk"))
        .join(F.broadcast(n2), c.c_nationkey == F.col("c_nk"))
        .join(F.broadcast(r), F.col("c_rk") == r.r_regionkey)
        .filter(F.col("p_type") == "ECONOMY")
        .filter(F.year("o_orderdate").between(1995, 1996))
    )
    return (
        base.groupBy(F.year("o_orderdate").cast("int").alias("o_year"))
        .agg(
            F.sum(
                F.when(F.col("supp_nation") == "NATION_1", rev).otherwise(
                    F.lit(0).cast("decimal(18,2)")
                )
            ).alias("_nat"),
            F.sum(rev).alias("_tot"),
        )
        .select(
            "o_year",
            (F.col("_nat").cast("double") / F.col("_tot").cast("double")).alias(
                "mkt_share"
            ),
        )
    )


def q_returned_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: the 20 customers losing the most revenue to
    returns (l_returnflag = 'R') in 1995, with nation.  Revenue is
    decimal-exact; the cut is deterministic (revenue_cents desc,
    custkey) via per-task top-k; the final double cast is display
    only — ordering happens on exact cents."""
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    o = table(spark, sf_dir, "orders").filter(F.year("o_orderdate") == 1995)
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    rev = (
        F.col("l_extendedprice").cast("decimal(18,2)")
        * (F.lit(1).cast("decimal(18,2)") - F.col("l_discount").cast("decimal(18,2)"))
    )
    per_cust = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        # explicit floor: decimal→long CAST truncates in Spark but ROUNDS
        # in DuckDB — floor is floor everywhere (the sum has scale 4, so
        # ×100 leaves a .50 residue exactly on half-cent boundaries)
        .agg(F.floor(F.sum(rev) * 100).cast("long").alias("revenue_cents"))
    )
    return per_cust.orderBy(
        F.col("revenue_cents").desc(), F.col("c_custkey").asc()
    ).limit(20)


def q_bracket_predicate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: revenue under an OR-of-AND bracket predicate
    (three brand/size/quantity brackets).  The disjunction references
    BOTH join sides, so Catalyst splits it: per-side implied filters
    (quantity ranges, brand IN-list) push into the scans and the
    residual OR evaluates on the join output — the plan-shape this
    query exists to exercise.  One decimal-exact aggregate."""
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part")
    rev = (
        F.col("l_extendedprice").cast("decimal(18,2)")
        * (F.lit(1).cast("decimal(18,2)") - F.col("l_discount").cast("decimal(18,2)"))
    )
    bracket = (
        (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 15)
        )
        | (
            (F.col("p_brand") == "Brand#17")
            & F.col("p_size").between(1, 25)
            & F.col("l_quantity").between(10, 30)
        )
        | (
            (F.col("p_brand") == "Brand#25")
            & F.col("p_size").between(1, 35)
            & F.col("l_quantity").between(20, 45)
        )
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .filter(bracket)
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(rev).cast("double").alias("revenue"),
        )
    )


def q_part_promotion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: suppliers who shipped MORE THAN HALF of their
    all-time SMALL-part quantity during 1995 — the nested
    grouped-HAVING semi-join (no partsupp table in this corpus, so
    availqty becomes the supplier's own shipment history).  The
    above-uniform-share predicate is CROSS-MULTIPLIED on exact
    integer quantities (6·q95 > q_all, i.e. a 1995 share above 1/6 —
    well over the ~1/7 a uniform spread across this corpus's ship
    years would give) — no division anywhere."""
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part").filter(F.col("p_type") == "SMALL")
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    qty = F.floor(F.col("l_quantity")).cast("long")
    per_supp = (
        li.join(F.broadcast(p.select("p_partkey")), li.l_partkey == F.col("p_partkey"))
        .groupBy("l_suppkey")
        .agg(
            F.sum(F.when(F.year("l_shipdate") == 1995, qty).otherwise(0)).alias("q95"),
            F.sum(qty).alias("q_all"),
        )
        .filter(F.lit(6) * F.col("q95") > F.col("q_all"))
    )
    return (
        s.join(per_supp, s.s_suppkey == F.col("l_suppkey"), "left_semi")
        .join(F.broadcast(n), F.col("s_nationkey") == n.n_nationkey)
        .select("s_suppkey", "s_name", "n_name")
    )


def q_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point detection over the 1996 daily order-count
    series: the classic statistic S_i = Σ_{j<=i}(x_j - mean) localized
    where the level shifts — kept EXACT by cross-multiplying the mean
    away (s_scaled_i = n·C_i − i·T with C the prefix sum, T the total,
    n the day count: = n·S_i, same argmax).  The change-point is the
    earliest day attaining max |s_scaled|.  Windows run over the
    PRE-AGGREGATED daily table (≤ 366 rows) — raw orders are touched
    by one partial-combining aggregate only."""
    o = table(spark, sf_dir, "orders").filter(F.year("o_orderdate") == 1996)
    daily = o.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.count(F.lit(1)).alias("x")
    )
    w = Window.orderBy("day")
    wall = Window.partitionBy()
    cum = daily.select(
        "day",
        "x",
        F.row_number().over(w).cast("long").alias("i"),
        F.sum("x").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("c"),
        F.sum("x").over(wall).alias("t"),
        F.count(F.lit(1)).over(wall).alias("n"),
    )
    scored = cum.select(
        "day",
        "x",
        (F.col("n") * F.col("c") - F.col("i") * F.col("t")).alias("s_scaled"),
    )
    with_mx = scored.withColumn("_mx", F.max(F.abs("s_scaled")).over(wall))
    peak = with_mx.withColumn(
        "_pday",
        F.min(F.when(F.abs("s_scaled") == F.col("_mx"), F.col("day"))).over(wall),
    )
    return peak.select(
        "day",
        "x",
        "s_scaled",
        (F.col("day") == F.col("_pday")).alias("is_changepoint"),
    )


def q_graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the near-dup graph's connected-component
    partition: Q = [4m·Σe_c − Σd_c²] / 4m² over communities c (e_c =
    intra-community edges — ALL edges, since CC communities never split
    an edge; d_c = community degree sum).  Numerator and denominator
    are exact int64; Q itself is one IEEE division.  The quality score
    that says whether dedup clusters are tight groups or one smeared
    blob.  All aggregates run over the (small) pair stream, never the
    corpus."""
    from .operators.graph import connected_components, near_dup_graph

    d = table(spark, sf_dir, "documents")
    # staged once: pairs feed the component resolution AND the degree
    # aggregate — without staging the shingle join runs twice.
    pairs = near_dup_graph(d).select("doc_a", "doc_b")
    comp = connected_components(pairs)
    deg = (
        pairs.select(F.col("doc_a").alias("id"))
        .unionAll(pairs.select(F.col("doc_b").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).cast("long").alias("deg"))
    )
    node_comm = comp.join(deg, "id")
    per_comm = node_comm.groupBy("cluster_id").agg(F.sum("deg").alias("d_c"))
    stats = per_comm.agg(
        F.count(F.lit(1)).alias("n_communities"),
        F.sum(F.col("d_c") * F.col("d_c")).alias("_sum_d2"),
        (F.sum("d_c") / F.lit(2)).cast("long").alias("m_edges"),
    )
    return stats.select(
        "m_edges",
        "n_communities",
        (F.lit(4) * F.col("m_edges") * F.col("m_edges") - F.col("_sum_d2")).alias(
            "q_num"
        ),
        (F.lit(4) * F.col("m_edges") * F.col("m_edges")).alias("q_den"),
        F.when(
            F.col("m_edges") > 0,
            (F.lit(4) * F.col("m_edges") * F.col("m_edges") - F.col("_sum_d2")).cast(
                "double"
            )
            / (F.lit(4) * F.col("m_edges") * F.col("m_edges")).cast("double"),
        ).alias("modularity"),
    )


def q_robust_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median/MAD robust outlier counts per event type — the
    robust-statistics twin of zscore_outliers (one extreme value moves
    the mean and floods a z-score monitor; the median/MAD gate doesn't
    budge).  Exact arithmetic end to end: values on the 1e6 grid, each
    median is the LOWER median picked by row_number (no interpolation
    — sort-based, so the per-group exact median scales as one Exchange
    + sort, the shape approx_percentile avoids only by giving up
    determinism), and the 3·1.4826·MAD fence is CROSS-MULTIPLIED on a
    1e4 grid (|v−med|·10⁴ > mad·44478) so no division or float fence
    appears anywhere."""
    e = table(spark, sf_dir, "events").select(
        "event_type", F.floor(F.col("value") * 1000000).cast("long").alias("v")
    )
    w = Window.partitionBy("event_type").orderBy("v")
    wt = Window.partitionBy("event_type")
    med = (
        e.select(
            "event_type",
            "v",
            F.row_number().over(w).alias("_rn"),
            F.count(F.lit(1)).over(wt).alias("_n"),
        )
        .filter(F.col("_rn") == ((F.col("_n") + 1) / 2).cast("long"))
        .select("event_type", F.col("v").alias("med"))
    )
    dev = e.join(med, "event_type").select(
        "event_type", "v", "med", F.abs(F.col("v") - F.col("med")).alias("adev")
    )
    wd = Window.partitionBy("event_type").orderBy("adev")
    mad = (
        dev.select(
            "event_type",
            "adev",
            F.row_number().over(wd).alias("_rn"),
            F.count(F.lit(1)).over(wt).alias("_n"),
        )
        .filter(F.col("_rn") == ((F.col("_n") + 1) / 2).cast("long"))
        .select("event_type", F.col("adev").alias("mad"))
    )
    return (
        dev.join(mad, "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("med").alias("med_fp"),
            F.min("mad").alias("mad_fp"),
            F.sum(
                F.when(F.col("adev") * 10000 > F.col("mad") * 44478, 1).otherwise(0)
            ).alias("n_outliers"),
        )
    )


def q_copurchase_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association-rule lift for the top co-purchased part pairs:
    lift = P(a,b) / (P(a)·P(b)) = support_ab·N / (supp_a·supp_b),
    computed as ONE integer floor division on a 1e6 grid (all counts
    exact int64 — no probabilities ever materialize as floats).  The
    market-basket step after copurchase_pairs: support says a pair is
    frequent, lift says it is SURPRISING.  Item supports join back on
    the part key (narrow, AQE-broadcastable); N is a 1-row broadcast."""
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey").distinct()
    n_orders = li.select(F.countDistinct("l_orderkey").cast("long").alias("n_orders"))
    supp = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.count(F.lit(1)).cast("long").alias("supp")
    )
    a = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk_a"))
    b = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk_b"))
    pairs = (
        a.join(b, "ok")
        .filter(F.col("pk_a") < F.col("pk_b"))
        .groupBy("pk_a", "pk_b")
        .agg(F.count(F.lit(1)).cast("long").alias("support"))
        .filter(F.col("support") >= 3)
    )
    sa = supp.select(F.col("pk").alias("pk_a"), F.col("supp").alias("supp_a"))
    sb = supp.select(F.col("pk").alias("pk_b"), F.col("supp").alias("supp_b"))
    scored = (
        pairs.join(sa, "pk_a")
        .join(sb, "pk_b")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "pk_a",
            "pk_b",
            "support",
            "supp_a",
            "supp_b",
            # The numerator support·N·1e6 approaches int64 at ~1e8 orders with
            # hot pairs; do the arithmetic in decimal(38,0) (HUGEINT in the
            # oracle) and cast the final grid back to BIGINT so the hashed
            # dtype is unchanged while the headroom is 38 digits on both sides.
            F.expr(
                "CAST((CAST(support AS DECIMAL(38,0)) * n_orders * 1000000)"
                " DIV (CAST(supp_a AS DECIMAL(38,0)) * supp_b) AS BIGINT)"
            ).alias("lift_grid"),
        )
    )
    return scored.orderBy(
        F.col("lift_grid").desc(), F.col("pk_a").asc(), F.col("pk_b").asc()
    ).limit(20)


def q_kmv_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table audience overlap (functions/sketches.py::kmv_overlap):
    which order-placing customers also appear in the event stream,
    estimated from two k=64 bottom-k sketches — Jaccard and
    intersection-size estimates WITHOUT joining the raw tables.  The
    estimate (sampling error included) is a pure function of the data
    + md5_60, so it hash-checks bit-for-bit; everything downstream of
    the two TakeOrdered sketches touches at most 2k rows."""
    from .functions.sketches import kmv_overlap

    o = table(spark, sf_dir, "orders")
    e = table(spark, sf_dir, "events")
    return kmv_overlap(o, "o_custkey", e, "user_id", k=64)


def q_theta_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-sketch set algebra (functions/sketches.py::
    theta_set_algebra): distinct-shingle union / intersection / both
    differences for every LANGUAGE pair from per-language bottom-257
    md5_60 sketch states — cross-source set cardinalities without
    joining raw data (kmv_overlap generalized beyond two fixed tables
    and beyond intersection).  k=256 saturates on this corpus (~900
    distinct bigram shingles per language), so the Horvitz-Thompson
    estimation path runs; estimates are ONE exact wide-integer
    division (decimal(38,0) / HUGEINT), bit-reproducible — the
    estimate itself, sampling error included, is hash-checked."""
    from .functions.sketches import theta_set_algebra, theta_sketch_states
    from .functions.text import split_words
    from .operators.dedup import _shingles

    d = table(spark, sf_dir, "documents")
    sh = (
        d.select("lang", split_words(F.col("text")).alias("_w"))
        .filter(F.size("_w") > 0)
        .select("lang", F.explode(_shingles(F.col("_w"), 2)).alias("s"))
    )
    st = theta_sketch_states(sh, value_col="s", source_col="lang", k=256)
    return theta_set_algebra(st, k=256)


def q_theta_multiway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-way theta-sketch algebra (functions/sketches.py::
    theta_multiway): the distinct-shingle cardinality of ALL five
    languages combined and the 5-way intersection (shingles present in
    EVERY language), from the same per-language bottom-257 states as
    theta_set_ops — one Horvitz-Thompson row, exact wide-integer
    division, hash-checked estimation error included."""
    from .functions.sketches import theta_multiway, theta_sketch_states
    from .functions.text import split_words
    from .operators.dedup import _shingles

    d = table(spark, sf_dir, "documents")
    sh = (
        d.select("lang", split_words(F.col("text")).alias("_w"))
        .filter(F.size("_w") > 0)
        .select("lang", F.explode(_shingles(F.col("_w"), 2)).alias("s"))
    )
    st = theta_sketch_states(sh, value_col="s", source_col="lang", k=256)
    return theta_multiway(st, k=256)


def q_k_core(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-core of the near-dup graph (operators/graph.py::k_core) —
    nodes on a CYCLE of mutual matches with their in-core degree.  The
    cohesion gate one notch above doc_triangles: tree-shaped match
    chains (the false-merge hazard for transitive clustering) peel
    away; the oracle unrolls the same order-independent peeling as
    chained CTEs."""
    from .operators.graph import K_CORE_ORACLE_ROUNDS, k_core, near_dup_graph

    d = table(spark, sf_dir, "documents")
    pairs = near_dup_graph(d, materialize=False).select("doc_a", "doc_b")
    # max_iter tied to the oracle's unroll depth: a peel chain deeper
    # than the oracle raises loudly instead of hash-mismatching.
    return k_core(pairs, k=2, max_iter=K_CORE_ORACLE_ROUNDS).orderBy("id")


def q_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient per near-dup-graph node: triangles
    through the node over deg·(deg−1)/2 possible wedges, floored onto a
    1e6 integer grid (2e6·tri div deg·(deg−1) — exact, order-free).
    The per-NODE refinement of graph_modularity's global score: a low
    coefficient on a high-degree node is the smeared-hub signature that
    says transitive merging is unsafe there.  Reuses the hash-checked
    degree-oriented triangle enumeration; one explode + two
    partial-combining aggregates + one narrow left join on top."""
    from .operators.graph import near_dup_graph, triangles

    d = table(spark, sf_dir, "documents")
    # staged once: the pair stream feeds the triangle enumeration (4
    # consumptions) AND the degree aggregate below.
    pairs = near_dup_graph(d).select("doc_a", "doc_b")
    tri = triangles(pairs)
    tn = (
        tri.select(
            F.explode(F.array("node_a", "node_b", "node_c")).alias("id")
        )
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("tri_n"))
    )
    e = pairs.select(
        F.least("doc_a", "doc_b").alias("u"), F.greatest("doc_a", "doc_b").alias("v")
    ).dropDuplicates(["u", "v"])
    deg = (
        e.select(F.col("u").alias("id"))
        .unionAll(e.select(F.col("v").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    return (
        deg.join(tn, "id", "left")
        .select(
            "id",
            "deg",
            F.coalesce("tri_n", F.lit(0).cast("long")).alias("tri_n"),
            F.when(
                F.col("deg") >= 2,
                F.expr("(2000000 * COALESCE(tri_n, 0)) div (deg * (deg - 1))"),
            )
            .otherwise(F.lit(0).cast("long"))
            .alias("coeff_grid"),
        )
        .orderBy("id")
    )


def q_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid-retrieval rank fusion (functions/text.py::rrf_fuse):
    reciprocal-rank fusion of the BM25 top-50 and the plain-TF·IDF
    top-50 for the query {spark, join, window} — the standard
    calibration-free way to combine rankers (Cormack et al., SIGIR'09).
    Fusion is PURE int64 arithmetic (``1e9 div (60 + rank)``, absent
    ranks contribute 0) over two TakeOrdered-bounded lists, so the
    expensive part stays the upstream rankers and the fused result is
    bit-replayable."""
    from .functions.text import bm25_topk, rrf_fuse, tfidf_query_rank

    d = table(spark, sf_dir, "documents")
    terms = ["spark", "join", "window"]
    bm = bm25_topk(d, terms, top_n=50)
    tf = tfidf_query_rank(d, terms, top_n=50)
    return rrf_fuse([bm, tf], k=60, top_n=20).select(
        "doc_id",
        F.col("rank_0").alias("rank_bm25"),
        F.col("rank_1").alias("rank_tfidf"),
        "rrf_grid",
    )


def q_late_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape adapted to this corpus's columns (no
    l_commitdate/l_receiptdate): orders counted per priority when ANY
    line shipped more than 30 days after the order date — a correlated
    EXISTS decorrelated to one LeftSemi hash join on the order key with
    the date comparison as the join residual, then one
    partial-combining count."""
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = o.join(
        li,
        (F.col("o_orderkey") == F.col("l_orderkey"))
        & (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 30 DAY")),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


def q_discount_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: the forecast-revenue-change scan-aggregate — three
    pushed-down predicates (shipdate year band, discount band, quantity
    cap), revenue = Σ extendedprice·discount on exact decimals, floored
    to cents.  The canonical 'is the filter reaching the scan' probe:
    no join, no window, one partial-combining aggregate."""
    li = table(spark, sf_dir, "lineitem")
    rev = F.sum(_dec("l_extendedprice") * _dec("l_discount", 2))
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("date"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("date"))
            & (_dec("l_discount") >= F.lit("0.05").cast("decimal(18,2)"))
            & (_dec("l_discount") <= F.lit("0.07").cast("decimal(18,2)"))
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.floor(rev * F.lit(100)).cast("long").alias("revenue_cents"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


def q_priority_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape adapted (no l_shipmode/receiptdate): per line
    STATUS, how many late-shipped lines (> 60 days after the order
    date) belong to urgent/high-priority orders vs the rest — the
    join + CASE-sum pivot Q12 exercises, one fact-dimension hash join
    and one aggregate, both counts exact int64."""
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority", "o_orderdate")
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linestatus", "l_shipdate"
    )
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAY"))
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(hi, F.lit(1)).otherwise(F.lit(0))).cast("long").alias(
                "high_line_count"
            ),
            F.sum(F.when(hi, F.lit(0)).otherwise(F.lit(1))).cast("long").alias(
                "low_line_count"
            ),
        )
        .orderBy("l_linestatus")
    )


def q_seasonal_naive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecast error per event type: predict each hour's
    total value with the value exactly 7 days earlier (the standard
    baseline every forecasting model must beat) and score MAE on the
    1e6 integer grid.  Plan: one hourly aggregate, then a time-shifted
    SELF-join on (type, hour − 7d) — an equi-join after the shift, so
    it hash-joins on narrow keys instead of windowing over sparse gaps
    (and the 'exactly 7 days earlier, if observed' semantic is explicit
    rather than lag-168-observed-rows).  All errors exact int64; MAE is
    one integer floor division."""
    e = table(spark, sf_dir, "events")
    hourly = (
        e.select(
            "event_type",
            (F.unix_timestamp(F.date_trunc("hour", F.col("ts")))).alias("h"),
            F.floor(F.col("value") * 1000000).cast("long").alias("v"),
        )
        .groupBy("event_type", "h")
        .agg(F.sum("v").alias("v"))
    )
    prev = hourly.select(
        "event_type", (F.col("h") + F.lit(604800)).alias("h"), F.col("v").alias("v_pred")
    )
    scored = hourly.join(prev, ["event_type", "h"]).select(
        "event_type", F.abs(F.col("v") - F.col("v_pred")).alias("ae")
    )
    return (
        scored.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_scored"),
            F.sum("ae").alias("sae"),
            F.expr("sum(ae) div count(1)").alias("mae_grid"),
        )
        .orderBy("event_type")
    )


def q_multi_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch attribution per channel
    (operators/analytics.py::attribution_linear): clicks AND views are
    assigned to the same user's next purchase within 7 days (one
    descending-order window carry over a single user Exchange — never
    a per-conversion subquery), each conversion's credit split as
    exact integer micro-credits ``1e6 div n``.  The oracle's LATERAL
    nearest-conversion lookup is the semantic spec."""
    from .operators.analytics import attribution_linear

    e = table(spark, sf_dir, "events")
    return attribution_linear(
        e, conversion_type="purchase", touch_types=("click", "view"), window_s=7 * 86400
    )


SPARK_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "blocklist_filter": q_blocklist_filter,
    "perplexity_buckets": q_perplexity_buckets,
    "pq_topk": q_pq_topk,
    "ivfpq_topk": q_ivfpq_topk,
    "opq_topk": q_opq_topk,
    "k_core": q_k_core,
    "clustering_coeff": q_clustering_coeff,
    "rrf_fusion": q_rrf_fusion,
    "late_order_priority": q_late_order_priority,
    "discount_revenue": q_discount_revenue,
    "priority_mix": q_priority_mix,
    "seasonal_naive": q_seasonal_naive,
    "multi_touch": q_multi_touch,
    "kmv_overlap": q_kmv_overlap,
    "theta_set_ops": q_theta_set_ops,
    "theta_multiway": q_theta_multiway,
    "robust_outliers": q_robust_outliers,
    "copurchase_lift": q_copurchase_lift,
    "market_share": q_market_share,
    "returned_revenue": q_returned_revenue,
    "bracket_predicate": q_bracket_predicate,
    "part_promotion": q_part_promotion,
    "cusum_changepoint": q_cusum_changepoint,
    "graph_modularity": q_graph_modularity,
    "hilbert_layout": q_hilbert_layout,
    "interval_concurrency": q_interval_concurrency,
    "minhash_est_audit": q_minhash_est_audit,
    "feature_minmax": q_feature_minmax,
    "ml_confusion": q_ml_confusion,
    "copurchase_pairs": q_copurchase_pairs,
    "table_digest": q_table_digest,
    "multimodal_image_tiles": q_multimodal_image_tiles,
    "multimodal_audio_resample": q_multimodal_audio_resample,
    "join_size_estimate": q_join_size_estimate,
    "waiting_suppliers": q_waiting_suppliers,
    "idle_rich_customers": q_idle_rich_customers,
    "rfm_segments": q_rfm_segments,
    "shortest_path": q_shortest_path,
    "bm25_topk": q_bm25,
    "trend_slope": q_trend_slope,
    "dp_counts": q_dp_counts,
    "rand_projection": q_rand_projection,
    "knn_label": q_knn_label,
    "ab_test": q_ab_test,
    "seq_pattern": q_seq_pattern,
    "twap": q_twap,
    "survivorship": q_survivorship,
    "scd2_lookup": q_scd2_lookup,
    "rolling_active_users": q_rolling_active_users,
    "k_anonymity": q_k_anonymity,
    "chi_square": q_chi_square,
    "calendar_dim": q_calendar_dim,
    "skew_profile": q_skew_profile,
    "bloom_join_reduce": q_bloom_join_reduce,
    "equi_width_histogram": q_equi_width_histogram,
    "attribution": q_attribution,
    "expect_quarantine": q_expect_quarantine,
    "agg_state_merge": q_agg_state_merge,
    "bfs_reach": q_bfs_reach,
    "fs_linkage": q_fs_linkage,
    "ewma_smooth": q_ewma_smooth,
    "skyline_orders": q_skyline_orders,
    "schema_union_evolve": q_schema_union_evolve,
    "string_agg_segments": q_string_agg_segments,
    "ratio_to_report": q_ratio_to_report,
    "similarity_join_exact": q_similarity_join_exact,
    "sampled_quantiles": q_sampled_quantiles,
    "zscore_outliers": q_zscore_outliers,
    "stream_left_join": q_stream_left_join,
    "bpe_merges": q_bpe_merges,
    "bpe_segments": q_bpe_segments,
    "unigram_lm_vocab": q_unigram_lm_vocab,
    "unigram_lm_segments": q_unigram_lm_segments,
    "unigram_tokenize_docs": q_unigram_tokenize_docs,
    "bpe_tokenize_docs": q_bpe_tokenize_docs,
    "tokenizer_compression": q_tokenizer_compression,
    "multimodal_audio_segments": q_multimodal_audio_segments,
    "wordpiece_merges": q_wordpiece_merges,
    "wordpiece_tokenize_docs": q_wordpiece_tokenize_docs,
    "source_divergence": q_source_divergence,
    "rolling_median": q_rolling_median,
    "semantic_dedup": q_semantic_dedup,
    "volume_shipping": q_volume_shipping,
    "product_profit": q_product_profit,
    "top_supplier": q_top_supplier,
    "large_orders": q_large_orders,
    "promo_revenue": q_promo_revenue,
    "order_count_distribution": q_order_count_distribution,
    "event_funnel": q_event_funnel,
    "cohort_retention": q_cohort_retention,
    "event_transitions": q_event_transitions,
    "gapfill_interpolate": q_gapfill_interpolate,
    "hierarchical_rollup": q_hierarchical_rollup,
    "session_dynamic_gap": q_session_dynamic_gap,
    "collection_ops": q_collection_ops,
    "recursive_cte": q_recursive_cte,
    "python_datasource": q_python_datasource,
    "lateral_topk_join": q_lateral_topk_join,
    "variant_events": q_variant_events,
    "unpivot_metrics": q_unpivot_metrics,
    "mode_stats": q_mode_stats,
    "pricing_summary": q_pricing_summary,
    "filter_project": q_filter_project,
    "join_nation_region": q_join_nation_region,
    "join_orders_customer": q_join_orders_customer,
    "semi_join": q_semi_join,
    "anti_join": q_anti_join,
    "outer_join_agg": q_outer_join_agg,
    "topk_orders": q_topk_orders,
    "window_rank": q_window_rank,
    "window_running_sum": q_window_running_sum,
    "shipping_priority": q_shipping_priority,
    "local_supplier_volume": q_local_supplier_volume,
    "returned_items": q_returned_items,
    "window_lag_lead": q_window_lag_lead,
    "quantiles": q_quantiles,
    "pivot_status": q_pivot_status,
    "stats_agg": q_stats_agg,
    "stateful_totals": q_stateful_totals,
    "stream_interval_join": q_stream_interval_join,
    "tfidf_top_terms": q_tfidf_top_terms,
    "doc_chunks": q_doc_chunks,
    "pii_redact": q_pii_redact,
    "pii_spans": q_pii_spans,
    "rollup_agg": q_rollup,
    "cube_agg": q_cube,
    "grouping_sets_agg": q_grouping_sets,
    "distinct_pairs": q_distinct,
    "count_distinct": q_count_distinct,
    "approx_count_distinct": q_approx_count_distinct,
    "set_ops": q_set_ops,
    "string_scalars": q_string_scalars,
    "date_scalars": q_date_scalars,
    "math_scalars": q_math_scalars,
    "case_when": q_case_when,
    "json_events": q_json_events,
    "time_tumbling": q_time_tumbling,
    "dedup_exact": q_dedup_exact,
    "dedup_within_watermark": q_dedup_within_watermark,
    "asof_join": q_asof_join,
    "range_join": q_range_join,
    "scd2_history": q_scd2_history,
    "dq_profile": q_dq_profile,
    "apply_cdc": q_apply_cdc,
    "kmv_distinct": q_kmv_distinct,
    "hll_distinct": q_hll_distinct,
    "label_centroids": q_label_centroids,
    "window_distribution": q_window_distribution,
    "salted_join": q_salted_join,
    "cms_term_counts": q_cms_term_counts,
    "winsorize": q_winsorize,
    "zorder_key": q_zorder_key,
    "text_stats": q_text_stats,
    "doc_lang_profile": q_doc_lang_profile,
    "time_sliding": q_time_sliding,
    "session_windows": q_session_windows,
    "ngram_jaccard_dedup": q_ngram_jaccard_dedup,
    "dedup_clusters": q_dedup_clusters,
    "incremental_near_dup": q_incremental_near_dup,
    "incremental_dedup_clusters": q_incremental_dedup_clusters,
    "incremental_refresh_pipeline": q_incremental_refresh_pipeline,
    "minhash_lsh_dedup": q_minhash_lsh_dedup,
    "simhash_dedup": q_simhash_dedup,
    "embedding_near_dup": q_embedding_near_dup,
    "cosine_topk": q_cosine_topk,
    "mmr_topk": q_mmr_topk,
    "kcenter_select": q_kcenter_select,
    "bitext_mine": q_bitext_mine,
    "lsh_cosine_topk": q_lsh_cosine_topk,
    "text_quality": q_text_quality,
    "doc_fingerprint": q_doc_fingerprint,
    "decontaminate": q_decontaminate,
    "decontaminate_spans": q_decontaminate_spans,
    "eval_contamination_report": q_eval_contamination_report,
    "repetition_filter": q_repetition_filter,
    "mixture_sample": q_mixture_sample,
    "pack_documents": q_pack_documents,
    "pack_attention_spans": q_pack_attention_spans,
    "pipeline_clean_corpus": q_pipeline_clean_corpus,
    "pipeline_pack_corpus": q_pipeline_pack_corpus,
    "model_quality_filter": q_model_quality_filter,
    "dsir_select": q_dsir_select,
    "fuzzy_decontaminate": q_fuzzy_decontaminate,
    "backoff_logprob": q_backoff_logprob,
    "temperature_mixture": q_temperature_mixture,
    "unimax_mixture": q_unimax_mixture,
    "token_budget_select": q_token_budget_select,
    "label_propagation": q_label_propagation,
    "char_entropy": q_char_entropy,
    "charngram_langid": q_charngram_langid,
    "pipeline_select_corpus": q_pipeline_select_corpus,
    "graph_walks": q_graph_walks,
    "zipf_fit": q_zipf_fit,
    "graph_summary": q_graph_summary,
    "leak_safe_split": q_leak_safe_split,
    "unigram_logprob": q_unigram_logprob,
    "select_keepers": q_select_keepers,
    "bigram_logprob": q_bigram_logprob,
    "span_dedup": q_span_dedup,
    "exact_substring_spans": q_exact_substring_spans,
    "phash_image_dedup": q_phash_image_dedup,
    "video_phash_dedup": q_video_phash_dedup,
    "incremental_lsh_index": q_incremental_lsh_index,
    "sketch_quantiles": q_sketch_quantiles,
    "boilerplate_spans": q_boilerplate_spans,
    "gopher_quality": q_gopher_quality,
    "epoch_upsample": q_epoch_upsample,
    "shared_substring": q_shared_substring,
    "shared_substring_winnow": q_shared_substring_winnow,
    "embedding_quantize": q_embedding_quantize,
    "quantized_cosine_topk": q_quantized_cosine_topk,
    "grid_kmeans": q_grid_kmeans,
    "grid_ivf_topk": q_grid_ivf_topk,
    "grid_pca": q_grid_pca,
    "pca_residual": q_pca_residual,
    "cluster_balanced_sample": q_cluster_balanced_sample,
    "url_dedup": q_url_dedup,
    "domain_priors": q_domain_priors,
    "curriculum_order": q_curriculum_order,
    "weighted_sample": q_weighted_sample,
    "novelty_score": q_novelty_score,
    "corpus_diff": q_corpus_diff,
    "doc_pagerank": q_doc_pagerank,
    "doc_triangles": q_doc_triangles,
    "grouped_udaf": q_grouped_udaf,
    "enrich_events": q_enrich_events,
    "correlated_subquery": q_correlated_subquery,
    "correlated_exists": q_correlated_exists,
    "null_semantics": q_null_semantics,
    "time_topk": q_time_topk,
    "bloom_decontaminate": q_bloom_decontaminate,
    "stratified_sample": q_stratified_sample,
    "vocab_coverage": q_vocab_coverage,
    "inverted_index": q_inverted_index,
    "containment_dedup": q_containment_dedup,
    "containment_sketch": q_containment_sketch,
    "window_range_frame": q_window_range_frame,
    "salted_agg": q_salted_agg,
    "multimodal_image_features": q_multimodal_image_features,
    "multimodal_audio_features": q_multimodal_audio_features,
    "multimodal_frame_sample": q_multimodal_frame_sample,
    "ml_train_eval": q_ml_train_eval,
}


ORACLE_SQL: dict[str, str] = {
    "pricing_summary": """
        SELECT l_returnflag, l_linestatus,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
                        (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
                   AS sum_disc_price,
               COUNT(*) AS count_order,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty
        FROM lineitem
        WHERE l_shipdate <= DATE '2001-09-01'
        GROUP BY l_returnflag, l_linestatus
    """,
    "filter_project": """
        SELECT c_custkey,
               UPPER(c_name) AS name_upper,
               CAST(CAST(c_acctbal AS DECIMAL(18,2)) AS DOUBLE) AS acctbal,
               CAST(CAST(c_acctbal AS DECIMAL(18,2)) * CAST(2 AS DECIMAL(18,2)) AS DOUBLE)
                   AS acctbal_x2
        FROM customer
        WHERE c_acctbal > 5000 AND c_mktsegment = 'BUILDING'
    """,
    "join_nation_region": """
        SELECT r_name, n_name, COUNT(*) AS customers,
               CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_acctbal
        FROM customer
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE r_name IN ('ASIA', 'EUROPE')
        GROUP BY r_name, n_name
    """,
    "join_orders_customer": """
        SELECT c_mktsegment, COUNT(*) AS order_count,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY c_mktsegment
    """,
    "semi_join": """
        SELECT c_nationkey, COUNT(*) AS customers_with_f_orders
        FROM customer
        WHERE EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
        GROUP BY c_nationkey
    """,
    "anti_join": """
        SELECT c_custkey, c_name, c_nationkey
        FROM customer
        WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
    "outer_join_agg": """
        SELECT c_custkey, COUNT(o_orderkey) AS order_count,
               CAST(COALESCE(SUM(CAST(o_totalprice AS DECIMAL(18,2))),
                             CAST(0 AS DECIMAL(18,2))) AS DOUBLE) AS spend
        FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        GROUP BY c_custkey
    """,
    "topk_orders": """
        SELECT o_orderkey, o_custkey,
               CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS totalprice
        FROM orders
        ORDER BY o_totalprice DESC, o_orderkey ASC
        LIMIT 10
    """,
    "window_rank": """
        SELECT o_custkey, o_orderkey,
               CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS totalprice, rk
        FROM (SELECT o_custkey, o_orderkey, o_totalprice,
                     CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey
                                             ORDER BY o_totalprice DESC, o_orderkey)
                          AS INTEGER) AS rk
              FROM orders)
        WHERE rk <= 3
    """,
    "window_running_sum": """
        SELECT o_custkey, o_orderkey,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                    OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
                   AS running_spend
        FROM orders
    """,
    "shipping_priority": """
        SELECT l_orderkey,
               CAST(floor(epoch(o_orderdate)) AS BIGINT) AS o_orderdate_s,
               o_orderpriority,
               CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) *
                             (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
                             AS DECIMAL(38,4))) AS DOUBLE) AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1999-01-01'
          AND l_shipdate > TIMESTAMP '1999-01-01'
        GROUP BY l_orderkey, o_orderdate, o_orderpriority
        ORDER BY revenue DESC, l_orderkey ASC
        LIMIT 10
    """,
    "local_supplier_volume": """
        SELECT n_name,
               CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) *
                             (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
                             AS DECIMAL(38,4))) AS DOUBLE) AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
          AND o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate < TIMESTAMP '1998-01-01'
        GROUP BY n_name
    """,
    "returned_items": """
        SELECT c_custkey, c_name, c_acctbal, n_name,
               CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) *
                             (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
                             AS DECIMAL(38,4))) AS DOUBLE) AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        WHERE l_returnflag = 'R'
          AND o_orderdate >= TIMESTAMP '1997-01-01'
          AND o_orderdate < TIMESTAMP '1997-07-01'
        GROUP BY c_custkey, c_name, c_acctbal, n_name
        ORDER BY revenue DESC, c_custkey ASC
        LIMIT 20
    """,
    "window_lag_lead": """
        SELECT o_custkey, o_orderkey,
               LAG(o_orderkey, 1) OVER w AS prev_order,
               LEAD(o_orderkey, 1) OVER w AS next_order,
               CAST(date_diff('day', LAG(o_orderdate, 1) OVER w, o_orderdate) AS INT)
                   AS days_since_prev,
               CAST(NTILE(4) OVER (PARTITION BY o_custkey
                                   ORDER BY o_totalprice DESC, o_orderkey)
                    AS INT) AS spend_quartile
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
    "quantiles": """
        SELECT l_returnflag,
               ROUND(quantile_cont(l_quantity, 0.25), 6) AS qty_p25,
               ROUND(quantile_cont(l_quantity, 0.5), 6) AS qty_p50,
               ROUND(quantile_cont(l_quantity, 0.75), 6) AS qty_p75,
               COUNT(*) AS cnt
        FROM lineitem GROUP BY l_returnflag
    """,
    "pivot_status": """
        SELECT n_name,
               COUNT(*) FILTER (o_orderstatus = 'F') AS F_cnt,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                    FILTER (o_orderstatus = 'F') AS DOUBLE) AS F_revenue,
               COUNT(*) FILTER (o_orderstatus = 'O') AS O_cnt,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                    FILTER (o_orderstatus = 'O') AS DOUBLE) AS O_revenue,
               COUNT(*) FILTER (o_orderstatus = 'P') AS P_cnt,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                    FILTER (o_orderstatus = 'P') AS DOUBLE) AS P_revenue
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name
    """,
    "stats_agg": """
        WITH s AS (
          SELECT l_returnflag,
                 CAST(COUNT(*) AS DOUBLE) AS n,
                 CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
                 CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
                 CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(18,2))
                               * CAST(l_extendedprice AS DECIMAL(18,2))
                               AS DECIMAL(38,4))) AS DOUBLE) AS sxy,
                 CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(18,2))
                               * CAST(l_quantity AS DECIMAL(18,2))
                               AS DECIMAL(38,4))) AS DOUBLE) AS sxx,
                 CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                               * CAST(l_extendedprice AS DECIMAL(18,2))
                               AS DECIMAL(38,4))) AS DOUBLE) AS syy
          FROM lineitem GROUP BY l_returnflag)
        SELECT l_returnflag,
               CAST(n AS BIGINT) AS cnt,
               ROUND(sqrt((n*sxx - sx*sx) / (n*(n-1))), 6) AS stddev_qty,
               ROUND(sqrt((n*syy - sy*sy) / (n*(n-1))), 6) AS stddev_price,
               ROUND((n*sxy - sx*sy) / (n*(n-1)), 6) AS covar_qty_price,
               ROUND((n*sxy - sx*sy)
                     / sqrt((n*sxx - sx*sx) * (n*syy - sy*sy)), 6) AS corr_qty_price
        FROM s
    """,
    "stateful_totals": """
        SELECT user_id, COUNT(*) AS cnt,
               ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 6) AS total
        FROM events GROUP BY user_id
    """,
    "stream_interval_join": """
        SELECT c.user_id,
               e.event_id AS error_id,
               c.event_id AS click_id,
               CAST(floor(epoch(e.ts)) AS BIGINT) AS error_ts_s,
               CAST(floor(epoch(c.ts)) AS BIGINT) AS click_ts_s
        FROM events c JOIN events e
          ON c.user_id = e.user_id
         AND c.event_type = 'click' AND e.event_type = 'error'
         AND c.ts <= e.ts AND c.ts >= e.ts - INTERVAL 10 MINUTE
    """,
    "doc_chunks": """
        WITH toks AS (
          SELECT doc_id,
                 list_filter(string_split_regex(text, '\\s+'), w -> w <> '') AS tk
          FROM documents),
        sized AS (SELECT doc_id, tk, len(tk) AS n FROM toks),
        idx AS (
          SELECT doc_id, tk,
                 unnest(range(0, CASE WHEN n <= 50 THEN 1
                                      ELSE CAST(ceil((n - 50) / 40.0) AS BIGINT) + 1
                                 END)) AS chunk_id
          FROM sized)
        SELECT doc_id, chunk_id,
               CAST(len(list_slice(tk, chunk_id*40 + 1, chunk_id*40 + 50)) AS INT)
                   AS n_tokens,
               array_to_string(list_slice(tk, chunk_id*40 + 1, chunk_id*40 + 50), ' ')
                   AS chunk_text
        FROM idx
    """,
    "pii_redact": """
        WITH aug AS (
          SELECT doc_id,
                 text
                 || CASE WHEN doc_id % 7 = 0
                         THEN ' contact user' || doc_id || '@example.com'
                         ELSE '' END
                 || CASE WHEN doc_id % 11 = 0
                         THEN ' call 415-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                         ELSE '' END AS t
          FROM documents),
        red AS (
          SELECT doc_id, t,
                 regexp_replace(
                   regexp_replace(t, '[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}', '[EMAIL]', 'g'),
                   '\\d{3}-\\d{3}-\\d{4}', '[PHONE]', 'g') AS r
          FROM aug)
        SELECT doc_id,
               CAST(len(regexp_extract_all(t, '[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}')) AS INT)
                   AS emails,
               CAST(len(regexp_extract_all(t, '\\d{3}-\\d{3}-\\d{4}')) AS INT) AS phones,
               CAST(length(r) AS INT) AS redacted_len,
               right(r, 60) AS tail
        FROM red
    """,
    "pii_spans": """
        WITH aug AS (
          SELECT doc_id, text,
                 CASE WHEN doc_id % 7 = 0
                      THEN 'user' || doc_id || '@example.com' END AS em,
                 CASE WHEN doc_id % 11 = 0
                      THEN '415-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                 END AS ph
          FROM documents),
        emails AS (
          SELECT doc_id, 'email' AS kind,
                 CAST(length(text) + 9 AS INT) AS start,
                 CAST(length(text) + 9 + length(em) AS INT) AS "end",
                 em AS match
          FROM aug WHERE em IS NOT NULL),
        phones AS (
          SELECT doc_id, 'phone' AS kind,
                 CAST(length(text)
                      + COALESCE(9 + length(em), 0) + 6 AS INT) AS start,
                 CAST(length(text)
                      + COALESCE(9 + length(em), 0) + 6 + 12 AS INT) AS "end",
                 ph AS match
          FROM aug WHERE ph IS NOT NULL)
        SELECT * FROM emails UNION ALL SELECT * FROM phones
    """,
    "tfidf_top_terms": """
        WITH words AS (
          SELECT doc_id,
                 unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                                    w -> w <> '')) AS term
          FROM documents),
        tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM words GROUP BY doc_id, term),
        dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
        n AS (SELECT COUNT(*) AS n_docs FROM documents),
        scored AS (
          SELECT doc_id, term,
                 ROUND(tf * (LN((n_docs + 1.0) / (df + 1.0)) + 1.0), 6) AS tfidf
          FROM tf JOIN dfreq USING (term) CROSS JOIN n),
        ranked AS (
          SELECT doc_id, term, tfidf,
                 CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
                                         ORDER BY tfidf DESC, term ASC) AS INT) AS rank
          FROM scored)
        SELECT doc_id, term, tfidf, rank FROM ranked WHERE rank <= 3
    """,
    "rollup_agg": """
        SELECT l_returnflag, l_linestatus, COUNT(*) AS cnt,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        FROM lineitem
        GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    "cube_agg": """
        SELECT o_orderstatus, o_orderpriority, COUNT(*) AS cnt
        FROM orders
        GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    "grouping_sets_agg": """
        SELECT o_orderstatus, o_orderpriority, COUNT(*) AS cnt,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
    """,
    "distinct_pairs": """
        SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
    """,
    "count_distinct": """
        SELECT l_returnflag,
               COUNT(DISTINCT l_partkey) AS distinct_parts,
               COUNT(DISTINCT l_suppkey) AS distinct_supps
        FROM lineitem GROUP BY l_returnflag
    """,
    "approx_count_distinct": """
        SELECT l_returnflag,
               COUNT(DISTINCT l_partkey) AS exact_parts,
               CAST(approx_count_distinct(l_partkey) AS DOUBLE)
                 / COUNT(DISTINCT l_partkey) BETWEEN 0.9 AND 1.1
                 AS approx_within_10pct
        FROM lineitem GROUP BY l_returnflag
    """,
    "set_ops": """
        WITH rich AS (SELECT c_custkey AS k FROM customer WHERE c_acctbal > 8000),
             buyers AS (SELECT DISTINCT o_custkey AS k FROM orders)
        SELECT 'union' AS op, k FROM (SELECT k FROM rich UNION SELECT k FROM buyers)
        UNION ALL
        SELECT 'intersect' AS op, k FROM (SELECT k FROM rich INTERSECT SELECT k FROM buyers)
        UNION ALL
        SELECT 'except' AS op, k FROM (SELECT k FROM rich EXCEPT SELECT k FROM buyers)
    """,
    "string_scalars": """
        SELECT p_partkey,
               UPPER(p_name) AS name_upper,
               SUBSTRING(p_name, 1, 5) AS name_prefix,
               CAST(LENGTH(p_name) AS INTEGER) AS name_len,
               CAST(REGEXP_EXTRACT(p_brand, '#(\\d+)', 1) AS INT) AS brand_num,
               CONCAT_WS('|', p_type, p_brand) AS type_brand,
               REPLACE(p_name, ' ', '_') AS name_snake
        FROM part
    """,
    "date_scalars": """
        SELECT o_orderkey,
               CAST(YEAR(o_orderdate) AS INT) AS order_year,
               CAST(MONTH(o_orderdate) AS INT) AS order_month,
               CAST(DAY(o_orderdate) AS INT) AS order_day,
               CAST(CAST(DATE_TRUNC('month', o_orderdate) AS DATE) AS VARCHAR) AS month_start,
               CAST(DATEDIFF('day', CAST(o_orderdate AS DATE), DATE '2002-01-01') AS INT)
                   AS days_to_2002
        FROM orders
    """,
    "math_scalars": """
        SELECT l_orderkey, l_linenumber,
               CAST(ROUND(CAST(l_extendedprice AS DECIMAL(18,2)) *
                          CAST(l_discount AS DECIMAL(18,2)), 2) AS DOUBLE) AS discount_amt,
               ABS(l_quantity - 25.0) AS qty_dev,
               LEAST(l_tax, l_discount) AS min_rate,
               GREATEST(l_tax, l_discount) AS max_rate,
               CAST(FLOOR(l_quantity) AS BIGINT) AS qty_floor
        FROM lineitem
    """,
    "case_when": """
        SELECT o_orderstatus,
               CASE WHEN o_totalprice < 50000 THEN 'small'
                    WHEN o_totalprice < 200000 THEN 'medium'
                    ELSE 'large' END AS price_bucket,
               COUNT(*) AS cnt
        FROM orders
        GROUP BY 1, 2
    """,
    "json_events": """
        SELECT event_type, COUNT(*) AS cnt,
               CAST(SUM(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS sum_k,
               MIN(CAST(json_extract_string(props, '$.k') AS INT)) AS min_k,
               MAX(CAST(json_extract_string(props, '$.k') AS INT)) AS max_k
        FROM events GROUP BY event_type
    """,
    "time_tumbling": """
        SELECT CAST(epoch(time_bucket(INTERVAL 10 MINUTE, ts)) AS BIGINT) AS bucket_start,
               event_type, COUNT(*) AS cnt,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        FROM events
        GROUP BY 1, 2
    """,
    "dedup_exact": """
        SELECT MD5(text) AS content_hash,
               MIN(doc_id) AS keeper_doc_id,
               COUNT(*) AS copies
        FROM documents GROUP BY 1
    """,
    "dedup_within_watermark": """
        WITH delivered AS (
          SELECT event_id, ts, user_id, event_type, value FROM events
          UNION ALL
          SELECT event_id, ts + INTERVAL 1 MINUTE, user_id, event_type, value
          FROM events WHERE event_id % 10 = 0),
        ranked AS (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY event_id
                                       ORDER BY ts, user_id) AS rn
          FROM delivered)
        SELECT event_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_s,
               user_id, event_type, value
        FROM ranked WHERE rn = 1
    """,
    "asof_join": """
        SELECT e.event_id, e.user_id,
               CAST(floor(epoch(e.ts)) AS BIGINT) AS ts_s, e.value,
               CAST(floor(epoch(c.ts)) AS BIGINT) AS click_ts_s,
               c.value AS click_value
        FROM (SELECT * FROM events WHERE event_type = 'error') e
        ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
          ON e.user_id = c.user_id AND e.ts >= c.ts
    """,
    "range_join": """
        SELECT e.event_id, b.band_id, e.value
        FROM events e
        JOIN (SELECT i AS band_id, i * 20.0 AS lo, i * 20.0 + 30.0 AS hi
              FROM range(25) t(i)) b
          ON e.value >= b.lo AND e.value < b.hi
    """,
    "scd2_history": """
        WITH ordered AS (
          SELECT user_id, ts, event_id, event_type,
                 lag(event_type) OVER
                   (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
          FROM events),
        runs AS (
          SELECT user_id, ts, event_id, event_type FROM ordered
          WHERE prev_type IS DISTINCT FROM event_type)
        SELECT user_id, event_type,
               CAST(floor(epoch(ts)) AS BIGINT) AS valid_from_s,
               CAST(floor(epoch(lead(ts) OVER w)) AS BIGINT) AS valid_to_s,
               (lead(ts) OVER w IS NULL) AS is_current,
               CAST(row_number() OVER w AS INT) AS version
        FROM runs
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
    "dq_profile": """
        SELECT 'l_orderkey' AS col_name, count(*)::BIGINT AS n_rows,
               (count(*) - count(l_orderkey))::BIGINT AS n_null,
               count(DISTINCT l_orderkey)::BIGINT AS n_distinct,
               CAST(min(l_orderkey) AS VARCHAR) AS min_value,
               CAST(max(l_orderkey) AS VARCHAR) AS max_value
        FROM lineitem
        UNION ALL
        SELECT 'l_linenumber', count(*)::BIGINT,
               (count(*) - count(l_linenumber))::BIGINT,
               count(DISTINCT l_linenumber)::BIGINT,
               CAST(min(l_linenumber) AS VARCHAR),
               CAST(max(l_linenumber) AS VARCHAR)
        FROM lineitem
        UNION ALL
        SELECT 'l_returnflag', count(*)::BIGINT,
               (count(*) - count(l_returnflag))::BIGINT,
               count(DISTINCT l_returnflag)::BIGINT,
               CAST(min(l_returnflag) AS VARCHAR),
               CAST(max(l_returnflag) AS VARCHAR)
        FROM lineitem
        UNION ALL
        SELECT 'l_linestatus', count(*)::BIGINT,
               (count(*) - count(l_linestatus))::BIGINT,
               count(DISTINCT l_linestatus)::BIGINT,
               CAST(min(l_linestatus) AS VARCHAR),
               CAST(max(l_linestatus) AS VARCHAR)
        FROM lineitem
    """,
    "apply_cdc": """
        WITH latest AS (
          SELECT k, op, val FROM (
            SELECT user_id AS k,
                   CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
                   value AS val,
                   row_number() OVER (PARTITION BY user_id
                                      ORDER BY ts DESC, event_id DESC) AS rn
            FROM events) WHERE rn = 1)
        SELECT COALESCE(s.k, c.k) AS k,
               CASE WHEN c.k IS NOT NULL THEN c.val ELSE s.val END AS val
        FROM (SELECT c_custkey AS k, c_acctbal AS val FROM customer) s
        FULL OUTER JOIN latest c ON s.k = c.k
        WHERE c.op IS NULL OR c.op <> 'D'
    """,
    "kmv_distinct": """
        WITH hashed AS (
          SELECT DISTINCT l_returnflag,
                 ('0x' || substr(md5(CAST(l_partkey AS VARCHAR)), 1, 15))::BIGINT AS h
          FROM lineitem WHERE l_partkey IS NOT NULL),
        sk AS (
          SELECT l_returnflag, h,
                 row_number() OVER (PARTITION BY l_returnflag ORDER BY h) AS rn
          FROM hashed)
        SELECT l_returnflag,
               round(CASE WHEN count(*) < 64 THEN count(*)::DOUBLE
                     ELSE 63.0 * 1152921504606846976.0
                          / greatest(max(h), 1)::DOUBLE END, 2) AS kmv_distinct
        FROM sk WHERE rn <= 64
        GROUP BY l_returnflag
    """,
    "label_centroids": """
        SELECT label, CAST(u.u.dim AS INTEGER) AS dim,
               round(sum(u.u.fx)::DOUBLE / (count(*) * 1048576), 6) AS centroid
        FROM (
          SELECT label,
                 unnest(list_transform(range(len(embedding)),
                     i -> {'dim': i,
                           'fx': CAST(round(embedding[i + 1]::DOUBLE * 1048576)
                                      AS BIGINT)})) AS u
          FROM embeddings) u
        GROUP BY label, u.u.dim
    """,
    "window_distribution": """
        SELECT o_orderkey, o_orderstatus,
               CAST(ntile(4) OVER w AS INT) AS quartile,
               round(percent_rank() OVER w, 6) AS pct_rank,
               round(cume_dist() OVER w, 6) AS cume,
               nth_value(o_orderkey, 3) OVER w AS third_key
        FROM orders
        WINDOW w AS (PARTITION BY o_orderstatus
                     ORDER BY o_totalprice, o_orderkey)
    """,
    "salted_join": """
        SELECT e.event_id, e.user_id AS k, e.value, c.c_mktsegment
        FROM events e
        JOIN customer c ON c.c_custkey = e.user_id
    """,
    "cms_term_counts": """
        WITH words AS (
          SELECT unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                                    w -> w <> '')) AS term
          FROM documents),
        cells AS (
          SELECT r.i AS r,
                 (('0x' || substr(md5('cms' || r.i || ':' || term), 1, 15))::BIGINT
                  % 1024) AS pos,
                 count(*) AS cnt
          FROM words, range(4) r(i)
          GROUP BY 1, 2),
        q AS (SELECT unnest(['table','spark','vector','join','quantum']) AS term),
        qpos AS (
          SELECT term, r.i AS r,
                 (('0x' || substr(md5('cms' || r.i || ':' || term), 1, 15))::BIGINT
                  % 1024) AS pos
          FROM q, range(4) r(i))
        SELECT term, CAST(min(coalesce(cnt, 0)) AS BIGINT) AS cms_count
        FROM qpos LEFT JOIN cells USING (r, pos)
        GROUP BY term
    """,
    "winsorize": """
        WITH ranked AS (
          SELECT event_type, value,
                 row_number() OVER (PARTITION BY event_type ORDER BY value) AS rn,
                 count(*) OVER (PARTITION BY event_type) AS n
          FROM events),
        bounds AS (
          SELECT event_type,
                 min(CASE WHEN rn = greatest((n * 5 + 99) // 100, 1)
                     THEN value END) AS lo,
                 min(CASE WHEN rn = greatest((n * 95 + 99) // 100, 1)
                     THEN value END) AS hi
          FROM ranked GROUP BY event_type)
        SELECT e.event_id, e.event_type, e.value,
               least(greatest(e.value, b.lo), b.hi) AS value_w
        FROM events e JOIN bounds b USING (event_type)
    """,
    "text_stats": """
        SELECT doc_id, lang,
               CAST(LENGTH(text) AS INTEGER) AS n_chars_computed,
               CAST(LEN(STRING_SPLIT(text, ' ')) AS INT) AS n_words,
               CAST(LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) AS INTEGER)
                 AS n_spaces
        FROM documents
    """,
    "doc_lang_profile": """
        SELECT lang, source, COUNT(*) AS docs,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars,
               CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars
        FROM documents GROUP BY lang, source
    """,
    # Sliding 10m/5m: every event belongs to exactly the two aligned
    # windows starting at floor_5m(ts) and floor_5m(ts) - 5m.
    "time_sliding": """
        SELECT CAST(epoch(time_bucket(INTERVAL 5 MINUTE, ts)
                          - k * INTERVAL 5 MINUTE) AS BIGINT) AS bucket_start,
               event_type, COUNT(*) AS cnt,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        FROM events CROSS JOIN (VALUES (0), (1)) offs(k)
        GROUP BY 1, 2
    """,
    # Gap sessionization via the islands pattern; Spark's session_window
    # ends are exclusive, so a gap of exactly 5 min starts a new session.
    "session_windows": """
        WITH marked AS (
          SELECT user_id, ts, value,
                 CASE WHEN lag(ts) OVER w IS NULL
                           OR ts - lag(ts) OVER w > INTERVAL 5 MINUTE
                      THEN 1 ELSE 0 END AS new_s
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        sess AS (
          SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                     ROWS UNBOUNDED PRECEDING) AS sid
          FROM marked)
        SELECT user_id,
               CAST(floor(epoch(MIN(ts))) AS BIGINT) AS session_start,
               CAST(floor(epoch(MAX(ts))) AS BIGINT) + 300 AS session_end,
               COUNT(*) AS cnt,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        FROM sess GROUP BY user_id, sid
    """,
    "ngram_jaccard_dedup": """
        WITH base AS (
          SELECT doc_id,
                 list_filter(string_split_regex(lower(text), '\\s+'),
                             w -> w <> '') AS words
          FROM documents),
        sh AS (
          SELECT doc_id,
                 list_distinct(CASE WHEN len(words) >= 2
                   THEN list_transform(range(1, len(words)),
                                       i -> words[i] || ' ' || words[i + 1])
                   ELSE words END) AS shingles
          FROM base),
        sized AS (SELECT doc_id, shingles, len(shingles) AS n FROM sh
                  WHERE len(shingles) > 0)
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
                 / (a.n + b.n - len(list_intersect(a.shingles, b.shingles)))
                 AS jaccard
        FROM sized a JOIN sized b
          ON a.doc_id < b.doc_id
         AND least(a.n, b.n) >= 0.5 * greatest(a.n, b.n)
        WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
                / (a.n + b.n - len(list_intersect(a.shingles, b.shingles))) >= 0.5
    """,
    "dedup_clusters": """
        WITH RECURSIVE base AS (
          SELECT doc_id,
                 list_filter(string_split_regex(lower(text), '\\s+'),
                             w -> w <> '') AS words
          FROM documents),
        sh AS (
          SELECT doc_id,
                 list_distinct(CASE WHEN len(words) >= 2
                   THEN list_transform(range(1, len(words)),
                                       i -> words[i] || ' ' || words[i + 1])
                   ELSE words END) AS shingles
          FROM base),
        sized AS (SELECT doc_id, shingles, len(shingles) AS n FROM sh
                  WHERE len(shingles) > 0),
        pairs AS (
          SELECT a.doc_id AS s, b.doc_id AS d
          FROM sized a JOIN sized b
            ON a.doc_id < b.doc_id
           AND least(a.n, b.n) >= 0.5 * greatest(a.n, b.n)
          WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
                  / (a.n + b.n - len(list_intersect(a.shingles, b.shingles))) >= 0.5),
        edges AS (SELECT s, d FROM pairs UNION SELECT d, s FROM pairs),
        reach AS (
          SELECT s, d FROM edges
          UNION
          SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s),
        comp AS (
          SELECT s AS doc_id, LEAST(s, MIN(d)) AS cluster_id
          FROM reach GROUP BY s)
        SELECT doc_id, cluster_id,
               COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size,
               doc_id = cluster_id AS is_keeper
        FROM comp
    """,
    # MinHash+LSH with exact verification ≡ exact Jaccard whenever LSH
    # recall is 1.0 — measured true at sf0.01 and sf0.1 (dup pairs sit
    # at J≈0.9, far above the 0.3 threshold; see q_minhash_lsh_dedup).
    "minhash_lsh_dedup": """
        WITH base AS (
          SELECT doc_id,
                 list_filter(string_split_regex(lower(text), '\\s+'),
                             w -> w <> '') AS words
          FROM documents),
        sh AS (
          SELECT doc_id,
                 list_distinct(CASE WHEN len(words) >= 2
                   THEN list_transform(range(1, len(words)),
                                       i -> words[i] || ' ' || words[i + 1])
                   ELSE words END) AS shingles
          FROM base),
        sized AS (SELECT doc_id, shingles, len(shingles) AS n FROM sh
                  WHERE len(shingles) > 0)
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
                 / (a.n + b.n - len(list_intersect(a.shingles, b.shingles)))
                 AS jaccard
        FROM sized a JOIN sized b
          ON a.doc_id < b.doc_id
         AND least(a.n, b.n) >= 0.3 * greatest(a.n, b.n)
        WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
                / (a.n + b.n - len(list_intersect(a.shingles, b.shingles))) >= 0.3
    """,
    # Byte slice [i, i+n) of the payload == hex chars [2i, 2(i+n)) of
    # hex(payload) — DuckDB 1.0 has no BLOB substring, so the compare
    # happens in hex space on both sides.
    "multimodal_frame_sample": """
        WITH videos AS (
          SELECT doc_id AS asset_id,
                 hex(encode(text)) AS hx,
                 octet_length(encode(text)) AS nbytes,
                 CAST(doc_id % 50 + 10 AS INT) AS n_frames
          FROM documents WHERE doc_id % 3 = 2),
        f AS (
          SELECT asset_id, hx, n_frames,
                 greatest(CAST(nbytes // n_frames AS INT), 1) AS chunk,
                 unnest(generate_series(0, n_frames - 1, 10)) AS frame_idx
          FROM videos)
        SELECT asset_id, CAST(frame_idx AS INT) AS frame_idx,
               substring(hx, CAST(frame_idx * chunk * 2 + 1 AS BIGINT),
                         CAST(chunk * 2 AS BIGINT)) AS frame_hex
        FROM f
    """,
    "embedding_near_dup": """
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                            CAST(b.embedding AS DOUBLE[])), 6) AS cosine
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        WHERE ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                           CAST(b.embedding AS DOUBLE[])), 6) >= 0.5
    """,
    "cosine_topk": """
        SELECT query_id, neighbor_id, cosine, rank FROM (
          SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                 ROUND(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                              CAST(c.embedding AS DOUBLE[])), 6) AS cosine,
                 CAST(ROW_NUMBER() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY ROUND(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                                         CAST(c.embedding AS DOUBLE[])), 6)
                            DESC, c.vec_id) AS INTEGER) AS rank
          FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
          WHERE q.vec_id % 10 = 0)
        WHERE rank <= 5
    """,
    "text_quality": """
        WITH base AS (
          SELECT doc_id, text, length(text) AS n,
                 list_filter(string_split_regex(lower(text), '\\s+'), w -> w <> '') AS words
          FROM documents),
        scored AS (
          SELECT doc_id, text, n, words,
                 list_distinct(words) AS words_d,
                 greatest(len(words), 1) AS n_words_g,
                 len(list_intersect(list_distinct(words),
                     ['the','and','of','to','in','is','that','it','was','for'])) AS s_en,
                 len(list_intersect(list_distinct(words),
                     ['le','la','les','de','des','et','est','un','une','que'])) AS s_fr,
                 len(list_intersect(list_distinct(words),
                     ['el','la','los','de','que','y','es','un','una','en'])) AS s_es,
                 len(list_intersect(list_distinct(words),
                     ['der','die','das','und','ist','von','ein','eine','zu','den'])) AS s_de
          FROM base)
        SELECT doc_id,
               CASE WHEN regexp_matches(text, '[一-鿿]') THEN 'zh'
                    WHEN greatest(s_en, s_fr, s_es, s_de) <= 0 THEN 'und'
                    WHEN s_en = greatest(s_en, s_fr, s_es, s_de) THEN 'en'
                    WHEN s_fr = greatest(s_en, s_fr, s_es, s_de) THEN 'fr'
                    WHEN s_es = greatest(s_en, s_fr, s_es, s_de) THEN 'es'
                    WHEN s_de = greatest(s_en, s_fr, s_es, s_de) THEN 'de'
                    ELSE 'und' END AS lang_guess,
               ROUND(
                 0.3 * (CASE WHEN n >= 200 THEN least(1.0, 8000.0 / n)
                             ELSE n / 200.0 END)
                 + 0.3 * (length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))
                          / CAST(greatest(n, 1) AS DOUBLE))
                 + 0.2 * least(1.0, len(list_filter(words, w -> list_contains(
                     ['and','das','de','den','der','des','die','ein','eine','el','en',
                      'es','est','et','for','in','is','ist','it','la','le','les','los',
                      'of','que','that','the','to','un','una','und','une','von','was',
                      'y','zu'], w))) * 4.0 / n_words_g)
                 + 0.2 * (CASE WHEN COALESCE(list_sum(list_transform(words, w -> length(w))), 0)
                                    / CAST(n_words_g AS DOUBLE) BETWEEN 2 AND 12
                               THEN 1.0 ELSE 0.3 END), 6) AS quality,
               CAST(len(words) AS INTEGER) AS ws_tokens,
               CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]+'))
                    AS INTEGER) AS bpe_pretokens
        FROM scored
    """,
    "doc_fingerprint": """
        SELECT doc_id,
               array_to_string(list_slice(list_sort(
                 [md5(substring(norm, i, 8))
                  for i in generate_series(1, greatest(length(norm) - 7, 1))]), 1, 4), '|')
                 AS fingerprint
        FROM (SELECT doc_id, lower(regexp_replace(text, '\\s+', ' ', 'g')) AS norm
              FROM documents)
    """,
}


def _simhash_oracle_sql(max_hamming: int = 3, total_bits: int = 60) -> str:
    """DuckDB mirror of ``simhash_pairs(hash_fn="md5_60")`` — identical
    word hash (top 15 hex chars of md5 → 60-bit int), majority-bit
    fingerprint, ``max_hamming + 1``-band pigeonhole candidates, and
    ``bit_count(xor)`` verification.  Generated because the majority vote
    is one conditional sum per fingerprint bit."""
    n_bands = max_hamming + 1
    band_bits = total_bits // n_bands
    bit_sums = ",\n                 ".join(
        f"sum((h >> {b}) & 1) AS b{b}" for b in range(total_bits)
    )
    fp_terms = " + ".join(
        f"(CASE WHEN b{b} * 2 > nw THEN (1::BIGINT << {b}) ELSE 0 END)"
        for b in range(total_bits)
    )
    bands = ", ".join(
        f"((fp >> {band * band_bits}) & {(1 << band_bits) - 1})" for band in range(n_bands)
    )
    return f"""
        WITH words AS (
          SELECT doc_id,
                 unnest(list_distinct(list_filter(
                   string_split_regex(lower(text), '\\s+'), w -> w <> ''))) AS w
          FROM documents),
        wh AS (
          SELECT doc_id, ('0x' || substr(md5(w), 1, 15))::BIGINT AS h FROM words),
        agg AS (
          SELECT doc_id, count(*) AS nw,
                 {bit_sums}
          FROM wh GROUP BY doc_id),
        fp AS (SELECT doc_id, {fp_terms} AS fp FROM agg),
        banded AS (
          SELECT doc_id, fp, unnest([{bands}]) AS band_val,
                 unnest(range({n_bands})) AS band
          FROM fp)
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(bit_count(xor(a.fp, b.fp)) AS INT) AS hamming
        FROM banded a JOIN banded b
          ON a.band = b.band AND a.band_val = b.band_val AND a.doc_id < b.doc_id
        WHERE bit_count(xor(a.fp, b.fp)) <= {max_hamming}
    """


ORACLE_SQL["simhash_dedup"] = _simhash_oracle_sql()

# Cleaning-operator oracles: grams joined as raw strings (the Spark side
# joins md5_60 hashes — a 60-bit collision among ~1e5 grams has
# probability ~1e-9, so the results are identical).
ORACLE_SQL["decontaminate"] = """
    WITH w AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\\s+'),
                         x -> x <> '') AS ws
      FROM documents),
    g AS (
      SELECT doc_id,
             list_distinct(CASE WHEN len(ws) >= 4
               THEN list_transform(range(1, len(ws) - 2),
                                   i -> array_to_string(list_slice(ws, i, i + 3), ' '))
               ELSE []::VARCHAR[] END) AS grams
      FROM w),
    bg AS (SELECT DISTINCT unnest(grams) AS gram FROM g WHERE doc_id % 97 = 0),
    cg AS (SELECT doc_id, unnest(grams) AS gram FROM g WHERE doc_id % 97 <> 0),
    hits AS (
      SELECT doc_id, count(DISTINCT gram) AS n_hits
      FROM cg JOIN bg USING (gram) GROUP BY doc_id)
    SELECT d.doc_id,
           coalesce(h.n_hits, 0)::BIGINT AS n_hits,
           coalesce(h.n_hits, 0) >= 1 AS contaminated
    FROM (SELECT doc_id FROM documents WHERE doc_id % 97 <> 0) d
    LEFT JOIN hits h USING (doc_id)
"""

ORACLE_SQL["fuzzy_decontaminate"] = """
    WITH w AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\\s+'),
                         x -> x <> '') AS ws
      FROM documents),
    g AS MATERIALIZED (
      SELECT doc_id,
             list_distinct(CASE WHEN len(ws) >= 2
               THEN list_transform(range(1, len(ws)),
                                   i -> ws[i] || ' ' || ws[i + 1])
               ELSE []::VARCHAR[] END) AS sh
      FROM w),
    b AS (SELECT doc_id AS bench_id, sh AS sh_b FROM g WHERE doc_id % 5 = 0),
    c AS MATERIALIZED (
      SELECT doc_id, sh AS sh_c FROM g WHERE doc_id % 5 <> 0),
    j AS (
      SELECT c.doc_id,
             len(list_intersect(sh_c, sh_b))::BIGINT AS i_n,
             (len(sh_c) + len(sh_b) - len(list_intersect(sh_c, sh_b)))::BIGINT
               AS u_n
      FROM c, b),
    v AS (
      SELECT doc_id, count(*) AS n_matches,
             max(i_n * 1000000 // u_n)::BIGINT AS best_jaccard_grid
      FROM j WHERE i_n * 1000000 >= 300000 * u_n GROUP BY doc_id)
    SELECT c.doc_id,
           coalesce(n_matches, 0)::BIGINT AS n_matches,
           coalesce(best_jaccard_grid, 0)::BIGINT AS best_jaccard_grid,
           coalesce(n_matches, 0) > 0 AS contaminated
    FROM c LEFT JOIN v USING (doc_id)
"""

ORACLE_SQL["repetition_filter"] = """
    WITH w AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\\s+'),
                         x -> x <> '') AS ws
      FROM documents),
    g AS (
      SELECT doc_id,
             CASE WHEN len(ws) >= 2
               THEN list_transform(range(1, len(ws)),
                                   i -> array_to_string(list_slice(ws, i, i + 1), ' '))
               ELSE []::VARCHAR[] END AS grams
      FROM w)
    SELECT doc_id,
           len(grams)::BIGINT AS total_ngrams,
           len(list_distinct(grams))::BIGINT AS distinct_ngrams,
           round(CASE WHEN len(grams) > 0
                 THEN 1.0 - len(list_distinct(grams))::DOUBLE / len(grams)
                 ELSE 0.0 END, 6) AS rep_ratio,
           round(CASE WHEN len(grams) > 0
                 THEN 1.0 - len(list_distinct(grams))::DOUBLE / len(grams)
                 ELSE 0.0 END, 6) <= 0.05 AS keep
    FROM g
"""

# The synthetic PPM raster is pure string arithmetic over the text
# column (1 printable char = 1 byte), so DuckDB replays the REAL image
# decode: ascii() recovers pixel bytes, integer sums give exact channel
# means, REAL (float32) division reproduces numpy's normalized
# histogram bit-for-bit, and luminance (denominator 3) provably never
# lands within 1/48 of a bin edge (denominator 16), so floor() is
# immune to last-ulp differences.
_IMG_HIST_COLS = ",\n           ".join(
    f"round((sum(CASE WHEN bin = {i} THEN 1 ELSE 0 END)::REAL / count(*)::REAL)::DOUBLE, 6) AS h{i}"
    for i in range(16)
)
ORACLE_SQL["multimodal_image_features"] = f"""
    WITH imgs AS (
      SELECT doc_id AS asset_id,
             ((doc_id % 8 + 4) * 4)::INT AS w,
             ((doc_id % 6 + 3) * 4)::INT AS h,
             coalesce(nullif(regexp_replace(text, '[^ -~]', '', 'g'), ''), 'spark') AS src
      FROM documents WHERE doc_id % 3 = 0),
    sized AS (
      SELECT asset_id, w, h, (w*h*3)::INT AS n_pix,
             substr(repeat(src, (w*h*3 / length(src))::INT + 1), 1, (w*h*3)::INT) AS raster
      FROM imgs),
    px0 AS (
      SELECT asset_id, w, h, raster, unnest(range((n_pix / 3)::BIGINT)) AS p FROM sized),
    px AS (
      SELECT asset_id, w, h,
             ascii(substr(raster, (3*p + 1)::INT, 1)) AS r,
             ascii(substr(raster, (3*p + 2)::INT, 1)) AS g,
             ascii(substr(raster, (3*p + 3)::INT, 1)) AS b
      FROM px0),
    binned AS (
      SELECT asset_id, w, h, r, g, b,
             least(floor(((r + g + b) / 3.0) * 16.0 / 255.0)::INT, 15) AS bin
      FROM px)
    SELECT asset_id, w AS width, h AS height,
           round(sum(r)::DOUBLE / count(*), 6) AS mean_r,
           round(sum(g)::DOUBLE / count(*), 6) AS mean_g,
           round(sum(b)::DOUBLE / count(*), 6) AS mean_b,
           {_IMG_HIST_COLS}
    FROM binned GROUP BY asset_id, w, h
"""

def _lsh_oracle_sql(k: int = 5, dim: int = 64, nbits: int = 6, n_tables: int = 12) -> str:
    """DuckDB mirror of ``q_lsh_cosine_topk``: plane constants come from
    the same :func:`..operators.simsearch.lsh_plane` source, every dot
    product expands in the identical left-to-right order (bit-identical
    doubles; the > 0 sign test cannot disagree), then bucket join +
    exact re-rank."""
    from .operators.simsearch import lsh_plane

    def dot(vec: str, t: int, b: int) -> str:
        return " + ".join(f"{vec}[{d + 1}]*({lsh_plane(t, b, d)!r})" for d in range(dim))

    def sig(vec: str, t: int) -> str:
        return " + ".join(
            f"(CASE WHEN ({dot(vec, t, b)}) > 0 THEN {1 << b} ELSE 0 END)"
            for b in range(nbits)
        )

    sig_cols = ",\n             ".join(f"({sig('v', t)})::BIGINT AS s_{t}" for t in range(n_tables))
    tbls = ", ".join(f"s_{t}" for t in range(n_tables))
    cos = " + ".join(f"qv[{d + 1}]*cv[{d + 1}]" for d in range(dim))
    qn = " + ".join(f"qv[{d + 1}]*qv[{d + 1}]" for d in range(dim))
    cn = " + ".join(f"cv[{d + 1}]*cv[{d + 1}]" for d in range(dim))
    return f"""
    WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    sigs AS (
      SELECT vec_id, v,
             {sig_cols}
      FROM base),
    flat AS (
      SELECT vec_id, v, unnest([{tbls}]) AS sig,
             unnest(range({n_tables})) AS tbl
      FROM sigs),
    q AS (SELECT vec_id AS query_id, v AS qv, sig, tbl FROM flat WHERE vec_id % 10 = 0),
    c AS (SELECT vec_id AS neighbor_id, v AS cv, sig, tbl FROM flat),
    cand AS (
      SELECT DISTINCT query_id, neighbor_id, qv, cv
      FROM q JOIN c USING (tbl, sig)
      WHERE query_id <> neighbor_id),
    scored AS (
      SELECT query_id, neighbor_id,
             round(({cos}) / (sqrt({qn}) * sqrt({cn})), 6) AS cosine
      FROM cand),
    ranked AS (
      SELECT query_id, neighbor_id, cosine,
             CAST(row_number() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, neighbor_id)
                  AS INTEGER) AS rank
      FROM scored)
    SELECT query_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= {k}
    """


ORACLE_SQL["lsh_cosine_topk"] = _lsh_oracle_sql()

ORACLE_SQL["multimodal_audio_features"] = """
    WITH aud AS (
      SELECT doc_id AS asset_id, hex(encode(text)) AS hx,
             octet_length(encode(text)) AS nb, 16000 AS sr
      FROM documents WHERE doc_id % 3 = 1),
    s0 AS (SELECT asset_id, sr, hx, unnest(range((nb // 2)::BIGINT)) AS k FROM aud),
    smp AS (
      SELECT asset_id, sr,
             ('0x' || substr(hx, (4*k + 1)::INT, 2))::INT
             + 256 * ('0x' || substr(hx, (4*k + 3)::INT, 2))::INT AS u
      FROM s0),
    sgn AS (
      SELECT asset_id, sr,
             CASE WHEN u >= 32768 THEN u - 65536 ELSE u END AS s
      FROM smp)
    SELECT asset_id,
           count(*)::BIGINT AS n_samples,
           round(sqrt(avg((s / 32768.0) * (s / 32768.0))), 6) AS rms,
           max(abs(s))::BIGINT AS peak_i16
    FROM sgn GROUP BY asset_id, sr
"""

ORACLE_SQL["unigram_logprob"] = """
    WITH words AS (
      SELECT doc_id,
             unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                                w -> w <> '')) AS term
      FROM documents),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM words GROUP BY doc_id, term),
    cf AS (SELECT term, sum(tf) AS cf FROM tf GROUP BY term),
    tot AS (SELECT sum(cf) AS total FROM cf)
    SELECT doc_id,
           sum(tf)::BIGINT AS n_tokens,
           round(sum(tf * ln(cf / total)) / sum(tf), 6) AS avg_logprob
    FROM tf JOIN cf USING (term), tot
    GROUP BY doc_id
"""

ORACLE_SQL["backoff_logprob"] = """
    WITH w AS MATERIALIZED (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\\s+'),
                         x -> x <> '') AS ws
      FROM documents),
    tri AS MATERIALIZED (
      SELECT doc_id,
             unnest(CASE WHEN len(ws) >= 3
               THEN list_transform(range(1, len(ws) - 1),
                                   i -> ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2])
               ELSE []::VARCHAR[] END) AS tg
      FROM w),
    t3 AS (SELECT tg, count(*) AS c3 FROM tri WHERE doc_id % 3 <> 0 GROUP BY tg),
    b2 AS MATERIALIZED (
      SELECT bg, count(*) AS c2 FROM (
        SELECT unnest(CASE WHEN len(ws) >= 2
          THEN list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i + 1])
          ELSE []::VARCHAR[] END) AS bg
        FROM w WHERE doc_id % 3 <> 0) GROUP BY bg),
    u1 AS MATERIALIZED (
      SELECT wd, count(*) AS c1 FROM (
        SELECT unnest(ws) AS wd FROM w WHERE doc_id % 3 <> 0) GROUP BY wd),
    nv AS (SELECT sum(c1) AS n_total, count(*) AS v FROM u1),
    tf AS (
      SELECT doc_id, tg, count(*) AS tf,
             split_part(tg, ' ', 1) || ' ' || split_part(tg, ' ', 2) AS ctx12,
             split_part(tg, ' ', 2) || ' ' || split_part(tg, ' ', 3) AS bg23,
             split_part(tg, ' ', 2) AS w2,
             split_part(tg, ' ', 3) AS w3
      FROM tri GROUP BY doc_id, tg),
    j AS (
      SELECT tf.doc_id, tf.tf,
             CASE WHEN t3.c3 IS NOT NULL THEN 0
                  WHEN bx.c2 IS NOT NULL THEN 1 ELSE 2 END AS branch,
             CASE WHEN t3.c3 IS NOT NULL THEN t3.c3::DOUBLE / bc.c2
                  WHEN bx.c2 IS NOT NULL
                    THEN 0.4::DOUBLE * bx.c2::DOUBLE / uw2.c1
                  ELSE (0.4::DOUBLE * 0.4::DOUBLE)
                       * (coalesce(uw3.c1, 0) + 0.5::DOUBLE)
                       / (nv.n_total + 0.5::DOUBLE * nv.v)
             END AS s
      FROM tf
      LEFT JOIN t3 USING (tg)
      LEFT JOIN b2 bc ON bc.bg = tf.ctx12
      LEFT JOIN b2 bx ON bx.bg = tf.bg23
      LEFT JOIN u1 uw2 ON uw2.wd = tf.w2
      LEFT JOIN u1 uw3 ON uw3.wd = tf.w3
      CROSS JOIN nv)
    SELECT doc_id,
           sum(tf)::BIGINT AS n_trigrams,
           sum(CASE WHEN branch = 1 THEN tf ELSE 0 END)::BIGINT AS n_backoff1,
           sum(CASE WHEN branch = 2 THEN tf ELSE 0 END)::BIGINT AS n_backoff2,
           round(sum(tf * ln(s)) / sum(tf), 6) AS avg_logscore
    FROM j GROUP BY doc_id
"""

ORACLE_SQL["bigram_logprob"] = """
    WITH w AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\\s+'),
                         x -> x <> '') AS ws
      FROM documents),
    g AS (
      SELECT doc_id,
             unnest(CASE WHEN len(ws) >= 2
               THEN list_transform(range(1, len(ws)),
                                   i -> ws[i] || ' ' || ws[i + 1])
               ELSE []::VARCHAR[] END) AS bg
      FROM w),
    tf AS (
      SELECT doc_id, split_part(bg, ' ', 1) AS w1, bg, count(*) AS tf
      FROM g GROUP BY doc_id, bg),
    cf2 AS (SELECT bg, sum(tf) AS cf2 FROM tf GROUP BY bg),
    ctx AS (SELECT split_part(bg, ' ', 1) AS w1, sum(cf2) AS cf1
            FROM cf2 GROUP BY 1),
    voc AS (SELECT count(*) AS v FROM cf2)
    SELECT doc_id,
           sum(tf)::BIGINT AS n_bigrams,
           round(sum(tf * ln((cf2 + 0.5) / (cf1 + 0.5 * v))) / sum(tf), 6)
             AS avg_logprob
    FROM tf JOIN cf2 USING (bg) JOIN ctx USING (w1), voc
    GROUP BY doc_id
"""

# Split thresholds come from the SAME exact-fraction accumulation the
# operator uses (operators/cleaning.py::split_thresholds) — recomputing
# them here from doubles would put operator and oracle 128 hash values
# apart at the val boundary (0.9 + 0.05 != 0.95 in floating point).
from .operators.cleaning import split_thresholds as _split_thresholds

_SPLIT_T = _split_thresholds((("train", 0.9), ("val", 0.05), ("test", 0.05)))

ORACLE_SQL["leak_safe_split"] = f"""
    WITH RECURSIVE base AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\\s+'),
                         w -> w <> '') AS words
      FROM documents),
    sh AS (
      SELECT doc_id,
             list_distinct(CASE WHEN len(words) >= 2
               THEN list_transform(range(1, len(words)),
                                   i -> words[i] || ' ' || words[i + 1])
               ELSE words END) AS shingles
      FROM base),
    sized AS (SELECT doc_id, shingles, len(shingles) AS n FROM sh
              WHERE len(shingles) > 0),
    prs AS (
      SELECT a.doc_id AS s, b.doc_id AS d
      FROM sized a JOIN sized b
        ON a.doc_id < b.doc_id
       AND least(a.n, b.n) >= 0.5 * greatest(a.n, b.n)
      WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
              / (a.n + b.n - len(list_intersect(a.shingles, b.shingles))) >= 0.5),
    edges AS (SELECT s, d FROM prs UNION SELECT d, s FROM prs),
    reach AS (
      SELECT s, d FROM edges
      UNION
      SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s),
    comp AS (
      SELECT s AS doc_id, LEAST(s, MIN(d)) AS cluster_id
      FROM reach GROUP BY s),
    grouped AS (
      SELECT dd.doc_id, coalesce(c.cluster_id, dd.doc_id) AS group_id
      FROM (SELECT doc_id FROM documents) dd
      LEFT JOIN comp c USING (doc_id)),
    hashed AS (
      SELECT doc_id, group_id,
             ('0x' || substr(md5('split:' || group_id::VARCHAR), 1, 15))::BIGINT AS h
      FROM grouped)
    SELECT doc_id, group_id,
           CASE WHEN h < {_SPLIT_T[0][1]} THEN 'train'
                WHEN h < {_SPLIT_T[1][1]} THEN 'val'
                ELSE 'test' END AS split
    FROM hashed
"""

ORACLE_SQL["select_keepers"] = """
    WITH RECURSIVE base AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\\s+'),
                         w -> w <> '') AS words
      FROM documents),
    sh AS (
      SELECT doc_id,
             list_distinct(CASE WHEN len(words) >= 2
               THEN list_transform(range(1, len(words)),
                                   i -> words[i] || ' ' || words[i + 1])
               ELSE words END) AS shingles
      FROM base),
    sized AS (SELECT doc_id, shingles, len(shingles) AS n FROM sh
              WHERE len(shingles) > 0),
    prs AS (
      SELECT a.doc_id AS s, b.doc_id AS d
      FROM sized a JOIN sized b
        ON a.doc_id < b.doc_id
       AND least(a.n, b.n) >= 0.5 * greatest(a.n, b.n)
      WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
              / (a.n + b.n - len(list_intersect(a.shingles, b.shingles))) >= 0.5),
    edges AS (SELECT s, d FROM prs UNION SELECT d, s FROM prs),
    reach AS (
      SELECT s, d FROM edges
      UNION
      SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s),
    comp AS (
      SELECT s AS doc_id, LEAST(s, MIN(d)) AS cluster_id
      FROM reach GROUP BY s),
    withq AS (
      SELECT dd.doc_id, coalesce(c.cluster_id, dd.doc_id) AS cluster_id,
             dd.n_chars::BIGINT AS quality
      FROM documents dd LEFT JOIN comp c USING (doc_id))
    SELECT doc_id, cluster_id, quality,
           row_number() OVER (PARTITION BY cluster_id
                              ORDER BY quality DESC, doc_id ASC) = 1 AS is_keeper
    FROM withq
"""

ORACLE_SQL["pack_documents"] = """
    WITH RECURSIVE base AS (
      SELECT doc_id,
             (('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT % 32)::INT AS bucket,
             coalesce(len(list_filter(string_split_regex(lower(text), '\\s+'),
                                      w -> w <> '')), 0)::BIGINT AS n_tokens
      FROM documents),
    ordered AS (
      SELECT *, row_number() OVER (PARTITION BY bucket ORDER BY doc_id) AS rn
      FROM base),
    steps AS (
      SELECT bucket, rn, doc_id, n_tokens, 0::BIGINT AS pack_seq, n_tokens AS cum
      FROM ordered WHERE rn = 1
      UNION ALL
      SELECT o.bucket, o.rn, o.doc_id, o.n_tokens,
             CASE WHEN s.cum + o.n_tokens > 256
                  THEN s.pack_seq + 1 ELSE s.pack_seq END,
             CASE WHEN s.cum + o.n_tokens > 256
                  THEN o.n_tokens ELSE s.cum + o.n_tokens END
      FROM steps s JOIN ordered o ON o.bucket = s.bucket AND o.rn = s.rn + 1)
    SELECT doc_id, bucket, n_tokens, pack_seq FROM steps
"""

# Mirror of q_pack_attention_spans: the pack recursive-CTE chain with the
# running-sum span window as the final select (0-based inclusive ranges).
_PACK_FINAL = "SELECT doc_id, bucket, n_tokens, pack_seq FROM steps"
assert _PACK_FINAL in ORACLE_SQL["pack_documents"]
ORACLE_SQL["pack_attention_spans"] = ORACLE_SQL["pack_documents"].replace(
    _PACK_FINAL,
    """SELECT bucket, pack_seq, doc_id,
           (ct - n_tokens)::BIGINT AS start_tok,
           (ct - 1)::BIGINT AS end_tok
    FROM (SELECT bucket, pack_seq, doc_id, n_tokens,
                 sum(n_tokens) OVER (PARTITION BY bucket, pack_seq
                                     ORDER BY doc_id
                                     ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND CURRENT ROW) AS ct
          FROM steps)
    WHERE n_tokens > 0""",
)


ORACLE_SQL["mixture_sample"] = f"""
    SELECT doc_id, lang, source FROM documents
    WHERE ('0x' || substr(md5('mix:' || doc_id::VARCHAR), 1, 15))::BIGINT
          < (CASE WHEN lang = 'en' THEN {int(0.35 * (1 << 60))}
                  WHEN lang = 'zh' THEN {int(0.9 * (1 << 60))}
                  ELSE {1 << 60} END)
"""

# C4-style global span dedup: the oracle may use a plain window for the
# first-occurrence winner (the Spark side's min-struct aggregate is a
# scale device, not a semantic one).
# Mirror of q_exact_substring_spans: stride-1 8-word gram hashes,
# global HAVING count >= 2, gap-and-island merge (lag + running sum —
# NULL lag falls to the ELSE 1 branch in both engines).
ORACLE_SQL["exact_substring_spans"] = """
    WITH w AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\\s+'),
                         x -> x <> '') AS ws
      FROM documents),
    g AS MATERIALIZED (
      SELECT doc_id, i AS pos,
             ('0x' || substr(md5(array_to_string(
                 ws[(i + 1)::INT:(i + 8)::INT], ' ')), 1, 15))::BIGINT AS h
      FROM (SELECT doc_id, ws, unnest(range(len(ws) - 8 + 1)) AS i
            FROM w WHERE len(ws) >= 8)),
    d AS (SELECT h FROM g GROUP BY h HAVING count(*) >= 2),
    p AS (SELECT doc_id, pos FROM g JOIN d USING (h)),
    m AS (
      SELECT doc_id, pos,
             CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                       <= 8 THEN 0 ELSE 1 END AS nw
      FROM p),
    s AS (
      SELECT doc_id, pos,
             sum(nw) OVER (PARTITION BY doc_id ORDER BY pos
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS island
      FROM m)
    SELECT doc_id, island::BIGINT AS span_idx,
           min(pos)::BIGINT AS span_start,
           (max(pos) + 8 - 1)::BIGINT AS span_end,
           count(*)::BIGINT AS n_grams
    FROM s GROUP BY doc_id, island
"""

ORACLE_SQL["span_dedup"] = """
    WITH w AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\\s+'),
                         x -> x <> '') AS ws
      FROM documents),
    sp0 AS (
      SELECT doc_id, ws, unnest(range(1, ceil(len(ws) / 10.0)::INT + 1)) AS i
      FROM w),
    sp AS (
      SELECT doc_id, (i - 1)::INT AS span_idx,
             array_to_string(list_slice(ws, ((i-1)*10 + 1)::INT, ((i-1)*10 + 10)::INT),
                             ' ') AS span
      FROM sp0),
    win AS (
      SELECT doc_id, span_idx, span,
             row_number() OVER (
               PARTITION BY ('0x' || substr(md5(span), 1, 15))::BIGINT
               ORDER BY doc_id, span_idx) AS rn
      FROM sp),
    kept AS (
      SELECT doc_id, count(*) AS n_kept,
             string_agg(span, ' ' ORDER BY span_idx) AS text
      FROM win WHERE rn = 1 GROUP BY doc_id),
    totals AS (SELECT doc_id, count(*) AS n_spans FROM sp GROUP BY doc_id)
    SELECT d.doc_id,
           coalesce(t.n_spans, 0)::BIGINT AS n_spans,
           coalesce(k.n_kept, 0)::BIGINT AS n_kept,
           coalesce(k.text, '') AS text
    FROM documents d
    LEFT JOIN totals t USING (doc_id)
    LEFT JOIN kept k USING (doc_id)
"""

# Mirror of q_boilerplate_spans: same span construction as span_dedup;
# a span hash held by more than 2 distinct docs is removed everywhere
# (anti join), docs rebuilt from survivors.
ORACLE_SQL["boilerplate_spans"] = """
    WITH w AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\\s+'),
                         x -> x <> '') AS ws
      FROM documents),
    sp0 AS (
      SELECT doc_id, ws, unnest(range(1, ceil(len(ws) / 10.0)::INT + 1)) AS i
      FROM w),
    sp AS MATERIALIZED (
      SELECT doc_id, (i - 1)::INT AS span_idx,
             array_to_string(list_slice(ws, ((i-1)*10 + 1)::INT, ((i-1)*10 + 10)::INT),
                             ' ') AS span,
             ('0x' || substr(md5(array_to_string(
                 list_slice(ws, ((i-1)*10 + 1)::INT, ((i-1)*10 + 10)::INT),
                 ' ')), 1, 15))::BIGINT AS h
      FROM sp0),
    boiler AS (
      SELECT h FROM sp GROUP BY h HAVING count(DISTINCT doc_id) > 2),
    kept AS (
      SELECT doc_id, count(*) AS n_kept,
             string_agg(span, ' ' ORDER BY span_idx) AS text
      FROM sp ANTI JOIN boiler USING (h)
      GROUP BY doc_id),
    totals AS (SELECT doc_id, count(*) AS n_spans FROM sp GROUP BY doc_id)
    SELECT d.doc_id,
           coalesce(t.n_spans, 0)::BIGINT AS n_spans,
           (coalesce(t.n_spans, 0) - coalesce(k.n_kept, 0))::BIGINT AS n_boiler,
           coalesce(k.text, '') AS text
    FROM documents d
    LEFT JOIN totals t USING (doc_id)
    LEFT JOIN kept k USING (doc_id)
"""

def _gopher_stopword_literals() -> str:
    from .functions.text import STOPWORDS

    return ", ".join(
        f"'{s}'" for s in sorted({w for sw in STOPWORDS.values() for w in sw})
    )


_GOPHER_STOPWORDS = _gopher_stopword_literals()
ORACLE_SQL["gopher_quality"] = f"""
    WITH w AS (
      SELECT doc_id, text AS t,
             list_filter(string_split_regex(lower(text), '\\s+'),
                         x -> x <> '') AS ws
      FROM documents),
    m AS (
      SELECT doc_id,
             len(ws) AS n_words,
             greatest(len(ws), 1) AS denom,
             round(COALESCE(list_sum(list_transform(ws, x -> length(x))), 0)::DOUBLE
                   / greatest(len(ws), 1), 6) AS mean_word_len,
             round(((length(t) - length(replace(t, '#', '')))
                    + (length(t) - length(regexp_replace(t, '\\.\\.\\.', '', 'g'))) / 3)
                   ::DOUBLE / greatest(len(ws), 1), 6) AS symbol_ratio,
             round(len(list_filter(ws, x -> regexp_matches(x, '[a-zA-Z]')))::DOUBLE
                   / greatest(len(ws), 1), 6) AS alpha_word_ratio,
             len(list_intersect(list_distinct(ws), [{_GOPHER_STOPWORDS}])) AS stopword_hits
      FROM w)
    SELECT doc_id,
           n_words::BIGINT AS n_words,
           mean_word_len, symbol_ratio, alpha_word_ratio,
           stopword_hits::BIGINT AS stopword_hits,
           (n_words >= 40 AND n_words <= 100000) AS ok_word_count,
           (mean_word_len >= 3.0 AND mean_word_len <= 10.0) AS ok_word_len,
           (symbol_ratio <= 0.1) AS ok_symbols,
           (alpha_word_ratio >= 0.8) AS ok_alpha,
           (stopword_hits >= 1) AS ok_stopwords,
           ((n_words >= 40 AND n_words <= 100000)
            AND (mean_word_len >= 3.0 AND mean_word_len <= 10.0)
            AND (symbol_ratio <= 0.1)
            AND (alpha_word_ratio >= 0.8)
            AND (stopword_hits >= 1)) AS passes
    FROM m
"""

def _quality_model_oracle_sql() -> str:
    from .functions.quality_model import (
        N_BUCKETS,
        QUALITY_BIAS_GRID,
        QUALITY_WEIGHTS_GRID,
    )

    wgt = ", ".join(str(int(v)) for v in QUALITY_WEIGHTS_GRID)
    return f"""
    WITH w AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\\s+'),
                         x -> x <> '') AS ws
      FROM documents),
    g AS (SELECT [{wgt}]::BIGINT[] AS wgt),
    s AS (
      SELECT doc_id, len(ws)::BIGINT AS n_words,
             ({QUALITY_BIAS_GRID} + coalesce(list_sum(list_transform(ws,
                x -> wgt[(('0x' || substr(md5(x), 1, 15))::BIGINT
                          % {N_BUCKETS}) + 1])), 0))::BIGINT AS score_grid
      FROM w, g)
    SELECT doc_id, n_words, score_grid, score_grid >= 0 AS keep FROM s
"""


ORACLE_SQL["model_quality_filter"] = _quality_model_oracle_sql()


def _mmr_oracle_sql(k: int = 5, pool: int = 20, lam_permille: int = 700) -> str:
    """DuckDB mirror of ``q_mmr_topk``: the exact top-``pool`` candidate
    pool and pairwise candidate cosines (both on the rounded 1e-6 grid,
    the cosine_topk device), then ``k`` greedy MMR rounds unrolled as
    CTEs.  MMR arithmetic is PURE int64 on the 1e-9 grid
    (``lam_permille * cos_i - (1000-lam_permille) * pen_i``) — a
    double-round spelling diverged between engines exactly at a repr
    half-grid point.  Every multiply-referenced CTE is MATERIALIZED."""
    mu = 1000 - lam_permille
    rounds = []
    for r in range(2, k + 1):
        rounds.append(f""",
    pen{r} AS (
      SELECT s.query_id, s.a AS neighbor_id, max(s.s) AS pen
      FROM sims s JOIN selcum{r - 1} t
        ON t.query_id = s.query_id AND t.neighbor_id = s.b
      GROUP BY s.query_id, s.a),
    sel{r} AS (
      SELECT query_id, neighbor_id, cosine, mmr_grid, {r} AS pick FROM (
        SELECT p.query_id, p.neighbor_id, p.cosine,
               ({lam_permille} * p.ci - {mu} * pen.pen)::BIGINT AS mmr_grid,
               row_number() OVER (
                 PARTITION BY p.query_id
                 ORDER BY {lam_permille} * p.ci - {mu} * pen.pen DESC,
                          p.neighbor_id) AS rn
        FROM pool p
        JOIN pen{r} pen ON pen.query_id = p.query_id
                       AND pen.neighbor_id = p.neighbor_id
        WHERE NOT EXISTS (SELECT 1 FROM selcum{r - 1} t2
                          WHERE t2.query_id = p.query_id
                            AND t2.neighbor_id = p.neighbor_id))
      WHERE rn = 1),
    selcum{r} AS MATERIALIZED (
      SELECT * FROM selcum{r - 1} UNION ALL SELECT * FROM sel{r})""")
    return f"""
    WITH pool AS MATERIALIZED (
      SELECT query_id, neighbor_id, cosine,
             round(cosine * 1000000)::BIGINT AS ci
      FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                            CAST(c.embedding AS DOUBLE[])), 6)
                 AS cosine,
               row_number() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY round(list_cosine_similarity(
                            CAST(q.embedding AS DOUBLE[]),
                            CAST(c.embedding AS DOUBLE[])), 6) DESC,
                          c.vec_id) AS rnk
        FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
        WHERE q.vec_id % 10 = 0)
      WHERE rnk <= {pool}),
    sims AS MATERIALIZED (
      SELECT p1.query_id, p1.neighbor_id AS a, p2.neighbor_id AS b,
             round(list_cosine_similarity(CAST(e1.embedding AS DOUBLE[]),
                                          CAST(e2.embedding AS DOUBLE[]))
                   * 1000000)::BIGINT AS s
      FROM pool p1
      JOIN pool p2 ON p1.query_id = p2.query_id
                  AND p1.neighbor_id <> p2.neighbor_id
      JOIN embeddings e1 ON e1.vec_id = p1.neighbor_id
      JOIN embeddings e2 ON e2.vec_id = p2.neighbor_id),
    selcum1 AS MATERIALIZED (
      SELECT query_id, neighbor_id, cosine,
             ({lam_permille} * ci)::BIGINT AS mmr_grid, 1 AS pick
      FROM (SELECT *, row_number() OVER (
              PARTITION BY query_id
              ORDER BY cosine DESC, neighbor_id) AS rn
            FROM pool)
      WHERE rn = 1){"".join(rounds)}
    SELECT query_id, neighbor_id, cosine, mmr_grid, pick FROM selcum{k}
    """


ORACLE_SQL["mmr_topk"] = _mmr_oracle_sql()


def _kcenter_oracle_sql(k: int = 8) -> str:
    """DuckDB mirror of ``q_kcenter_select``: seed = min vec_id, then
    k-1 unrolled rounds of (argmax running min-distance, update) on the
    integer cosine-distance grid."""
    rounds = []
    for r in range(2, k + 1):
        rounds.append(f""",
    c{r} AS MATERIALIZED (
      SELECT vec_id, v, dmin FROM s{r - 1}
      ORDER BY dmin DESC, vec_id LIMIT 1),
    s{r} AS MATERIALIZED (
      SELECT s.vec_id, s.v,
             least(s.dmin,
                   (1000000 - round(list_cosine_similarity(s.v, c.v)
                                    * 1000000))::BIGINT) AS dmin
      FROM s{r - 1} s, c{r} c WHERE s.vec_id <> c.vec_id)""")
    picks = "\n    UNION ALL ".join(
        f"SELECT vec_id, {r} AS pick, dmin AS dist_grid FROM c{r}"
        for r in range(2, k + 1)
    )
    return f"""
    WITH base AS MATERIALIZED (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    c1 AS MATERIALIZED (SELECT vec_id, v FROM base ORDER BY vec_id LIMIT 1),
    s1 AS MATERIALIZED (
      SELECT b.vec_id, b.v,
             (1000000 - round(list_cosine_similarity(b.v, c.v)
                              * 1000000))::BIGINT AS dmin
      FROM base b, c1 c WHERE b.vec_id <> c.vec_id){"".join(rounds)}
    SELECT vec_id, 1 AS pick, 2000000::BIGINT AS dist_grid FROM c1
    UNION ALL {picks}
    """


ORACLE_SQL["kcenter_select"] = _kcenter_oracle_sql()


def _pipeline_select_oracle_sql() -> str:
    """CTE-chained composition of the gopher, frozen-quality-model,
    temperature-mixture and token-budget stage oracles (each already
    hash-checked standalone) — MATERIALIZED on every multiply-
    referenced CTE."""
    from .functions.quality_model import (
        N_BUCKETS,
        QUALITY_BIAS_GRID,
        QUALITY_WEIGHTS_GRID,
    )

    wgt = ", ".join(str(int(v)) for v in QUALITY_WEIGHTS_GRID)
    stop = ("['and','das','de','den','der','des','die','ein','eine','el','en',"
            "'es','est','et','for','in','is','ist','it','la','le','les','los',"
            "'of','que','that','the','to','un','una','und','une','von','was',"
            "'y','zu']")
    return f"""
    WITH w AS MATERIALIZED (
      SELECT doc_id, lang, source, text AS t, length(text) AS n,
             list_filter(string_split_regex(lower(text), '\\s+'),
                         x -> x <> '') AS ws
      FROM documents),
    gp AS (
      SELECT doc_id FROM (
        SELECT doc_id,
               len(ws) AS n_words,
               round(COALESCE(list_sum(list_transform(ws, x -> length(x))), 0)::DOUBLE
                     / greatest(len(ws), 1), 6) AS mwl,
               round(((length(t) - length(replace(t, '#', '')))
                      + (length(t) - length(regexp_replace(t, '\\.\\.\\.', '', 'g'))) / 3)
                     ::DOUBLE / greatest(len(ws), 1), 6) AS sr,
               round(len(list_filter(ws, x -> regexp_matches(x, '[a-zA-Z]')))::DOUBLE
                     / greatest(len(ws), 1), 6) AS awr,
               len(list_intersect(list_distinct(ws), {stop})) AS sh
        FROM w)
      WHERE n_words BETWEEN 40 AND 100000 AND mwl BETWEEN 3.0 AND 10.0
        AND sr <= 0.1 AND awr >= 0.8 AND sh >= 1),
    mq AS (
      SELECT doc_id FROM (
        SELECT w.doc_id,
               ({QUALITY_BIAS_GRID} + coalesce(list_sum(list_transform(ws,
                  x -> g.wgt[(('0x' || substr(md5(x), 1, 15))::BIGINT
                              % {N_BUCKETS}) + 1])), 0))::BIGINT AS sg
        FROM w, (SELECT [{wgt}]::BIGINT[] AS wgt) g)
      WHERE sg >= 0),
    surv AS MATERIALIZED (
      SELECT w.* FROM w JOIN gp USING (doc_id) JOIN mq USING (doc_id)),
    cnt AS (SELECT lang, count(*) AS cn FROM surv GROUP BY lang),
    thr AS (
      SELECT lang,
             floor(sqrt((min(cn) OVER ())::DOUBLE / cn)
                   * 1152921504606846976::DOUBLE)::BIGINT AS thr
      FROM cnt),
    mixed AS MATERIALIZED (
      SELECT surv.* FROM surv JOIN thr USING (lang)
      WHERE ('0x' || substr(md5('pipe:' || doc_id), 1, 15))::BIGINT < thr),
    scored AS MATERIALIZED (
      SELECT doc_id, lang, source,
             ROUND(
               0.3 * (CASE WHEN n >= 200 THEN least(1.0, 8000.0 / n)
                           ELSE n / 200.0 END)
               + 0.3 * (length(regexp_replace(t, '[^a-zA-Z]', '', 'g'))
                        / CAST(greatest(n, 1) AS DOUBLE))
               + 0.2 * least(1.0, len(list_filter(ws, x -> list_contains(
                   {stop}, x))) * 4.0 / greatest(len(ws), 1))
               + 0.2 * (CASE WHEN COALESCE(list_sum(list_transform(ws, x -> length(x))), 0)
                                  / CAST(greatest(len(ws), 1) AS DOUBLE) BETWEEN 2 AND 12
                             THEN 1.0 ELSE 0.3 END), 6) AS quality,
             len(ws)::BIGINT AS n_tokens
      FROM mixed),
    cum AS (
      SELECT doc_id, lang, source, quality, n_tokens,
             (sum(n_tokens) OVER (
                ORDER BY quality DESC, doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT
               AS cum_tokens
      FROM scored),
    tot AS (SELECT (sum(n_tokens) // 4)::BIGINT AS budget FROM scored)
    SELECT doc_id, lang, source, quality, n_tokens, cum_tokens
    FROM cum, tot WHERE cum_tokens - n_tokens < budget
    """


ORACLE_SQL["pipeline_select_corpus"] = _pipeline_select_oracle_sql()



ORACLE_SQL["bitext_mine"] = """
    WITH a AS MATERIALIZED (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
      FROM embeddings WHERE label % 2 = 0),
    b AS MATERIALIZED (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
      FROM embeddings WHERE label % 2 = 1),
    fwd AS MATERIALIZED (
      SELECT x, y, c FROM (
        SELECT qa.vec_id AS x, cb.vec_id AS y,
               round(round(list_cosine_similarity(qa.v, cb.v), 6)
                     * 1000000)::BIGINT AS c,
               row_number() OVER (
                 PARTITION BY qa.vec_id
                 ORDER BY round(list_cosine_similarity(qa.v, cb.v), 6) DESC,
                          cb.vec_id) AS rnk
        FROM a qa JOIN b cb ON cb.vec_id <> qa.vec_id)
      WHERE rnk <= 4),
    bwd AS MATERIALIZED (
      SELECT y, x, c FROM (
        SELECT qb.vec_id AS y, ca.vec_id AS x,
               round(round(list_cosine_similarity(qb.v, ca.v), 6)
                     * 1000000)::BIGINT AS c,
               row_number() OVER (
                 PARTITION BY qb.vec_id
                 ORDER BY round(list_cosine_similarity(qb.v, ca.v), 6) DESC,
                          ca.vec_id) AS rnk
        FROM b qb JOIN a ca ON ca.vec_id <> qb.vec_id)
      WHERE rnk <= 4),
    dx AS MATERIALIZED (SELECT x, sum(c) AS dx FROM fwd GROUP BY x),
    dy AS MATERIALIZED (SELECT y, sum(c) AS dy FROM bwd GROUP BY y),
    mf AS (
      SELECT f.x, f.y, f.c, ((f.c * 8 * 1000000) // (dx.dx + dy.dy))::BIGINT AS margin_grid
      FROM fwd f JOIN dx USING (x) JOIN dy USING (y)
      WHERE f.c > 0 AND dx.dx + dy.dy > 0),
    mb AS (
      SELECT g.x, g.y, g.c, ((g.c * 8 * 1000000) // (dx.dx + dy.dy))::BIGINT AS margin_grid
      FROM bwd g JOIN dx USING (x) JOIN dy USING (y)
      WHERE g.c > 0 AND dx.dx + dy.dy > 0),
    bf AS (
      SELECT x, y, c, margin_grid FROM (
        SELECT *, row_number() OVER (
          PARTITION BY x ORDER BY margin_grid DESC, y) AS rn FROM mf)
      WHERE rn = 1),
    bb AS (
      SELECT x, y FROM (
        SELECT *, row_number() OVER (
          PARTITION BY y ORDER BY margin_grid DESC, x) AS rn FROM mb)
      WHERE rn = 1)
    SELECT bf.x AS src_id, bf.y AS tgt_id, bf.c AS cos_grid, bf.margin_grid
    FROM bf JOIN bb ON bb.x = bf.x AND bb.y = bf.y
"""



ORACLE_SQL["token_budget_select"] = """
    WITH base AS (
      SELECT doc_id, text, length(text) AS n,
             list_filter(string_split_regex(lower(text), '\\s+'), w -> w <> '') AS words
      FROM documents),
    scored AS (
      SELECT doc_id,
             ROUND(
               0.3 * (CASE WHEN n >= 200 THEN least(1.0, 8000.0 / n)
                           ELSE n / 200.0 END)
               + 0.3 * (length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))
                        / CAST(greatest(n, 1) AS DOUBLE))
               + 0.2 * least(1.0, len(list_filter(words, w -> list_contains(
                   ['and','das','de','den','der','des','die','ein','eine','el','en',
                    'es','est','et','for','in','is','ist','it','la','le','les','los',
                    'of','que','that','the','to','un','una','und','une','von','was',
                    'y','zu'], w))) * 4.0 / greatest(len(words), 1))
               + 0.2 * (CASE WHEN COALESCE(list_sum(list_transform(words, w -> length(w))), 0)
                                  / CAST(greatest(len(words), 1) AS DOUBLE) BETWEEN 2 AND 12
                             THEN 1.0 ELSE 0.3 END), 6) AS quality,
             len(words)::BIGINT AS n_tokens
      FROM base),
    cum AS (
      SELECT doc_id, quality, n_tokens,
             (sum(n_tokens) OVER (
                ORDER BY quality DESC, doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT
               AS cum_tokens
      FROM scored),
    tot AS (SELECT (sum(n_tokens) // 4)::BIGINT AS budget FROM scored)
    SELECT doc_id, quality, n_tokens, cum_tokens,
           cum_tokens - n_tokens < budget AS selected
    FROM cum, tot
"""


ORACLE_SQL["label_propagation"] = """
    WITH base AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\\s+'),
                         w -> w <> '') AS words
      FROM documents),
    sh AS (
      SELECT doc_id,
             list_distinct(CASE WHEN len(words) >= 2
               THEN list_transform(range(1, len(words)),
                                   i -> words[i] || ' ' || words[i + 1])
               ELSE words END) AS shingles
      FROM base),
    sized AS (SELECT doc_id, shingles, len(shingles) AS n FROM sh
              WHERE len(shingles) > 0),
    pairs AS (
      SELECT a.doc_id AS s, b.doc_id AS d
      FROM sized a JOIN sized b
        ON a.doc_id < b.doc_id
       AND least(a.n, b.n) >= 0.5 * greatest(a.n, b.n)
      WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
              / (a.n + b.n - len(list_intersect(a.shingles, b.shingles))) >= 0.5),
    edges AS MATERIALIZED (SELECT s, d FROM pairs UNION SELECT d, s FROM pairs),
    lab0 AS MATERIALIZED (SELECT DISTINCT s AS node, s AS lbl FROM edges),
    cnt1 AS (
      SELECT e.s AS node, l.lbl, count(*) AS c
      FROM edges e JOIN lab0 l ON l.node = e.d
      GROUP BY 1, 2),
    lab1 AS MATERIALIZED (
      SELECT node, lbl FROM (
        SELECT node, lbl, row_number() OVER (
          PARTITION BY node ORDER BY c DESC, lbl) AS rn
        FROM cnt1)
      WHERE rn = 1),
    cnt2 AS (
      SELECT e.s AS node, l.lbl, count(*) AS c
      FROM edges e JOIN lab1 l ON l.node = e.d
      GROUP BY 1, 2),
    lab2 AS MATERIALIZED (
      SELECT node, lbl FROM (
        SELECT node, lbl, row_number() OVER (
          PARTITION BY node ORDER BY c DESC, lbl) AS rn
        FROM cnt2)
      WHERE rn = 1),
    cnt3 AS (
      SELECT e.s AS node, l.lbl, count(*) AS c
      FROM edges e JOIN lab2 l ON l.node = e.d
      GROUP BY 1, 2),
    lab3 AS MATERIALIZED (
      SELECT node, lbl FROM (
        SELECT node, lbl, row_number() OVER (
          PARTITION BY node ORDER BY c DESC, lbl) AS rn
        FROM cnt3)
      WHERE rn = 1),
    cnt4 AS (
      SELECT e.s AS node, l.lbl, count(*) AS c
      FROM edges e JOIN lab3 l ON l.node = e.d
      GROUP BY 1, 2),
    lab4 AS MATERIALIZED (
      SELECT node, lbl FROM (
        SELECT node, lbl, row_number() OVER (
          PARTITION BY node ORDER BY c DESC, lbl) AS rn
        FROM cnt4)
      WHERE rn = 1)
    SELECT node AS doc_id, lbl AS label FROM lab4
"""

ORACLE_SQL["char_entropy"] = """
    WITH ch AS (
      SELECT doc_id, substr(text, i::INT, 1) AS ch
      FROM (SELECT doc_id, text, unnest(range(1, length(text) + 1)) AS i
            FROM documents)),
    cnt AS (SELECT doc_id, ch, count(*) AS c FROM ch GROUP BY doc_id, ch)
    SELECT doc_id,
           sum(c)::BIGINT AS n_chars,
           count(*)::BIGINT AS n_distinct,
           round(ln(sum(c)) - sum(c * ln(c)) / sum(c), 6) AS entropy
    FROM cnt GROUP BY doc_id
"""

ORACLE_SQL["charngram_langid"] = """
    WITH g AS MATERIALIZED (
      SELECT doc_id, lang, g FROM (
        SELECT doc_id, lang, substr(text, i::INT, 3) AS g
        FROM (SELECT doc_id, lang, text,
                     unnest(range(1, greatest(length(text) - 2, 1) + 1)) AS i
              FROM documents))
      WHERE length(g) = 3),
    lc AS (SELECT lang AS l, g, count(*) AS c FROM g GROUP BY 1, 2),
    lp AS MATERIALIZED (
      SELECT l, g, lrank FROM (
        SELECT l, g, row_number() OVER (
          PARTITION BY l ORDER BY c DESC, g) AS lrank
        FROM lc)
      WHERE lrank <= 100),
    dc AS (SELECT doc_id, g, count(*) AS c FROM g GROUP BY 1, 2),
    dp AS MATERIALIZED (
      SELECT doc_id, g, drank FROM (
        SELECT doc_id, g, row_number() OVER (
          PARTITION BY doc_id ORDER BY c DESC, g) AS drank
        FROM dc)
      WHERE drank <= 20),
    langs AS (SELECT DISTINCT l FROM lp),
    sc AS (
      SELECT d.doc_id, ls.l,
             sum(coalesce(abs(d.drank - lp.lrank), 100))::BIGINT AS dist
      FROM dp d CROSS JOIN langs ls
      LEFT JOIN lp ON lp.l = ls.l AND lp.g = d.g
      GROUP BY 1, 2),
    best AS (
      SELECT doc_id, l AS pred_lang, dist FROM (
        SELECT *, row_number() OVER (
          PARTITION BY doc_id ORDER BY dist, l) AS rn FROM sc)
      WHERE rn = 1)
    SELECT d.doc_id, d.lang,
           coalesce(b.pred_lang, '') AS pred_lang,
           coalesce(b.dist, -1)::BIGINT AS dist,
           coalesce(b.pred_lang = d.lang, false) AS correct
    FROM documents d LEFT JOIN best b USING (doc_id)
"""

ORACLE_SQL["graph_walks"] = """
    WITH base AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\\s+'),
                         w -> w <> '') AS words
      FROM documents),
    sh AS (
      SELECT doc_id,
             list_distinct(CASE WHEN len(words) >= 2
               THEN list_transform(range(1, len(words)),
                                   i -> words[i] || ' ' || words[i + 1])
               ELSE words END) AS shingles
      FROM base),
    sized AS (SELECT doc_id, shingles, len(shingles) AS n FROM sh
              WHERE len(shingles) > 0),
    pairs AS (
      SELECT a.doc_id AS s, b.doc_id AS d
      FROM sized a JOIN sized b
        ON a.doc_id < b.doc_id
       AND least(a.n, b.n) >= 0.5 * greatest(a.n, b.n)
      WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
              / (a.n + b.n - len(list_intersect(a.shingles, b.shingles))) >= 0.5),
    edges AS MATERIALIZED (SELECT s, d FROM pairs UNION SELECT d, s FROM pairs),
    adj AS MATERIALIZED (
      SELECT s, d,
             row_number() OVER (PARTITION BY s ORDER BY d) - 1 AS idx,
             count(*) OVER (PARTITION BY s) AS deg
      FROM edges),
    w0 AS MATERIALIZED (SELECT DISTINCT s AS start, s AS node FROM edges),
    w1 AS MATERIALIZED (
      SELECT c.start, a.d AS node
      FROM w0 c JOIN adj a ON a.s = c.node
      WHERE a.idx = ('0x' || substr(md5('walk:' || c.start || ':1'),
                                    1, 15))::BIGINT % a.deg),
    w2 AS MATERIALIZED (
      SELECT c.start, a.d AS node
      FROM w1 c JOIN adj a ON a.s = c.node
      WHERE a.idx = ('0x' || substr(md5('walk:' || c.start || ':2'),
                                    1, 15))::BIGINT % a.deg),
    w3 AS MATERIALIZED (
      SELECT c.start, a.d AS node
      FROM w2 c JOIN adj a ON a.s = c.node
      WHERE a.idx = ('0x' || substr(md5('walk:' || c.start || ':3'),
                                    1, 15))::BIGINT % a.deg)
    SELECT start, 0 AS step, node FROM w0
    UNION ALL SELECT start, 1 AS step, node FROM w1
    UNION ALL SELECT start, 2 AS step, node FROM w2
    UNION ALL SELECT start, 3 AS step, node FROM w3
"""

ORACLE_SQL["zipf_fit"] = """
    WITH w AS (
      SELECT source,
             unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                                x -> x <> '')) AS wd
      FROM documents),
    tf AS (SELECT source, wd, count(*) AS c FROM w GROUP BY 1, 2),
    top AS (
      SELECT source, c, rnk FROM (
        SELECT source, c, row_number() OVER (
          PARTITION BY source ORDER BY c DESC, wd) AS rnk
        FROM tf)
      WHERE rnk <= 50),
    xy AS (SELECT source, ln(rnk::DOUBLE) AS x, ln(c::DOUBLE) AS y FROM top),
    agg AS (
      SELECT source, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
             sum(x * y) AS sxy, sum(x * x) AS sx2
      FROM xy GROUP BY source)
    SELECT source, n::BIGINT AS n_terms,
           round((n * sxy - sx * sy) / (n * sx2 - sx * sx), 6) AS zipf_slope,
           round((sy - (n * sxy - sx * sy) / (n * sx2 - sx * sx) * sx) / n, 6)
             AS zipf_intercept
    FROM agg
"""

ORACLE_SQL["graph_summary"] = """
    WITH base AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\\s+'),
                         w -> w <> '') AS words
      FROM documents),
    sh AS (
      SELECT doc_id,
             list_distinct(CASE WHEN len(words) >= 2
               THEN list_transform(range(1, len(words)),
                                   i -> words[i] || ' ' || words[i + 1])
               ELSE words END) AS shingles
      FROM base),
    sized AS (SELECT doc_id, shingles, len(shingles) AS n FROM sh
              WHERE len(shingles) > 0),
    pairs AS MATERIALIZED (
      SELECT a.doc_id AS s, b.doc_id AS d
      FROM sized a JOIN sized b
        ON a.doc_id < b.doc_id
       AND least(a.n, b.n) >= 0.5 * greatest(a.n, b.n)
      WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
              / (a.n + b.n - len(list_intersect(a.shingles, b.shingles))) >= 0.5),
    edges AS MATERIALIZED (
      SELECT s, d FROM pairs UNION ALL SELECT d, s FROM pairs),
    deg AS MATERIALIZED (SELECT s, count(*) AS deg FROM edges GROUP BY s),
    b0 AS (SELECT count(*) AS nodes,
                  sum(deg * (deg - 1) // 2)::BIGINT AS wedges FROM deg),
    ec AS (SELECT count(*) AS edges FROM pairs),
    tr AS (
      SELECT count(*) AS tri
      FROM pairs p1
      JOIN pairs p2 ON p2.s = p1.s AND p2.d > p1.d
      JOIN pairs p3 ON p3.s = p1.d AND p3.d = p2.d),
    exy AS (
      SELECT count(*) AS n, sum(dx.deg) AS sx,
             sum(dx.deg * dy.deg) AS sxy,
             sum(dx.deg * dx.deg) AS sx2
      FROM edges e
      JOIN deg dx ON dx.s = e.s
      JOIN deg dy ON dy.s = e.d)
    SELECT b0.nodes::BIGINT AS nodes, ec.edges::BIGINT AS edges,
           b0.wedges, tr.tri::BIGINT AS triangles,
           CASE WHEN b0.wedges > 0
                THEN round(3 * tr.tri::DOUBLE / b0.wedges, 6)
                ELSE 0.0 END AS transitivity,
           CASE WHEN exy.n * exy.sx2 - exy.sx * exy.sx <> 0
                THEN round((exy.n * exy.sxy - exy.sx * exy.sx)::DOUBLE
                           / (exy.n * exy.sx2 - exy.sx * exy.sx), 6)
                ELSE 0.0 END AS assortativity
    FROM b0, ec, tr, exy
"""

ORACLE_SQL["pipeline_pack_corpus"] = f"""
    WITH RECURSIVE w AS MATERIALIZED (
      SELECT doc_id, text AS t,
             list_filter(string_split_regex(lower(text), '\\s+'),
                         x -> x <> '') AS ws
      FROM documents),
    gm AS (
      SELECT doc_id,
             len(ws) AS n_words,
             round(COALESCE(list_sum(list_transform(ws, x -> length(x))), 0)::DOUBLE
                   / greatest(len(ws), 1), 6) AS mean_word_len,
             round(((length(t) - length(replace(t, '#', '')))
                    + (length(t) - length(regexp_replace(t, '\\.\\.\\.', '', 'g'))) / 3)
                   ::DOUBLE / greatest(len(ws), 1), 6) AS symbol_ratio,
             round(len(list_filter(ws, x -> regexp_matches(x, '[a-zA-Z]')))::DOUBLE
                   / greatest(len(ws), 1), 6) AS alpha_word_ratio,
             len(list_intersect(list_distinct(ws), [{_GOPHER_STOPWORDS}])) AS stopword_hits
      FROM w),
    gkeep AS MATERIALIZED (
      SELECT doc_id FROM gm
      WHERE n_words >= 40 AND n_words <= 100000
        AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
        AND symbol_ratio <= 0.1 AND alpha_word_ratio >= 0.8
        AND stopword_hits >= 1),
    sp0 AS (
      SELECT doc_id, ws, unnest(range(1, ceil(len(ws) / 10.0)::INT + 1)) AS i
      FROM w JOIN gkeep USING (doc_id)),
    sp AS MATERIALIZED (
      SELECT doc_id, (i - 1)::INT AS span_idx,
             array_to_string(list_slice(ws, ((i-1)*10 + 1)::INT, ((i-1)*10 + 10)::INT),
                             ' ') AS span,
             ('0x' || substr(md5(array_to_string(
                 list_slice(ws, ((i-1)*10 + 1)::INT, ((i-1)*10 + 10)::INT),
                 ' ')), 1, 15))::BIGINT AS h
      FROM sp0),
    boiler AS (
      SELECT h FROM sp GROUP BY h HAVING count(DISTINCT doc_id) > 2),
    bkept AS (
      SELECT doc_id, string_agg(span, ' ' ORDER BY span_idx) AS text
      FROM sp ANTI JOIN boiler USING (h) GROUP BY doc_id),
    bp AS MATERIALIZED (
      SELECT g.doc_id, coalesce(k.text, '') AS text
      FROM gkeep g LEFT JOIN bkept k USING (doc_id)),
    dw AS MATERIALIZED (
      SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'),
                                 x -> x <> '') AS ws
      FROM bp WHERE doc_id % 97 <> 0),
    bg AS (
      SELECT DISTINCT
             ('0x' || substr(md5(array_to_string(ws[(i+1)::INT:(i+4)::INT], ' ')),
                             1, 15))::BIGINT AS g
      FROM (SELECT ws, unnest(range(len(ws) - 3)) AS i
            FROM w WHERE doc_id % 97 = 0 AND len(ws) >= 4)),
    cg AS (
      SELECT doc_id, i,
             ('0x' || substr(md5(array_to_string(ws[(i+1)::INT:(i+4)::INT], ' ')),
                             1, 15))::BIGINT AS g
      FROM (SELECT doc_id, ws, unnest(range(len(ws) - 3)) AS i
            FROM dw WHERE len(ws) >= 4)),
    hits AS (SELECT doc_id, i FROM cg JOIN bg USING (g)),
    bad AS (
      SELECT DISTINCT doc_id, (i + x + 1)::BIGINT AS widx
      FROM hits, (SELECT unnest(range(4)) AS x)),
    wrds AS (
      SELECT doc_id, (pos + 1)::BIGINT AS widx, ws[(pos + 1)::INT] AS word
      FROM (SELECT doc_id, ws, unnest(range(len(ws))) AS pos FROM dw)),
    k2 AS (
      SELECT doc_id, string_agg(word, ' ' ORDER BY widx) AS text
      FROM wrds ANTI JOIN bad USING (doc_id, widx)
      GROUP BY doc_id),
    clean AS MATERIALIZED (
      SELECT d2.doc_id, k2.text
      FROM (SELECT doc_id FROM dw) d2 JOIN k2 USING (doc_id)
      WHERE k2.text <> ''),
    base AS (
      SELECT doc_id,
             (('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT % 32)::INT AS bucket,
             coalesce(len(list_filter(string_split_regex(lower(text), '\\s+'),
                                      x -> x <> '')), 0)::BIGINT AS n_tokens
      FROM clean),
    ordered AS (
      SELECT *, row_number() OVER (PARTITION BY bucket ORDER BY doc_id) AS rn
      FROM base),
    steps AS (
      SELECT bucket, rn, doc_id, n_tokens, 0::BIGINT AS pack_seq, n_tokens AS cum
      FROM ordered WHERE rn = 1
      UNION ALL
      SELECT o.bucket, o.rn, o.doc_id, o.n_tokens,
             CASE WHEN s.cum + o.n_tokens > 256
                  THEN s.pack_seq + 1 ELSE s.pack_seq END,
             CASE WHEN s.cum + o.n_tokens > 256
                  THEN o.n_tokens ELSE s.cum + o.n_tokens END
      FROM steps s JOIN ordered o ON o.bucket = s.bucket AND o.rn = s.rn + 1)
    SELECT bucket, pack_seq, doc_id,
           (ct - n_tokens)::BIGINT AS start_tok,
           (ct - 1)::BIGINT AS end_tok
    FROM (SELECT bucket, pack_seq, doc_id, n_tokens,
                 sum(n_tokens) OVER (PARTITION BY bucket, pack_seq
                                     ORDER BY doc_id
                                     ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND CURRENT ROW) AS ct
          FROM steps)
"""

ORACLE_SQL["hll_distinct"] = """
    WITH w AS (
      SELECT lang, source,
             list_filter(string_split_regex(lower(text), '\\s+'),
                         x -> x <> '') AS ws
      FROM documents),
    g AS (
      SELECT DISTINCT lang, source,
             array_to_string(ws[(i+1)::INT:(i+3)::INT], ' ') AS t
      FROM (SELECT lang, source, ws, unnest(range(len(ws) - 2)) AS i
            FROM w WHERE len(ws) >= 3)),
    h AS (
      SELECT lang, source,
             ('0x' || substr(md5(t), 1, 15))::BIGINT AS hv
      FROM g),
    rho AS (
      SELECT lang, source, hv // 4503599627370496 AS b,
             CASE WHEN hv % 4503599627370496 = 0 THEN 53
                  ELSE 53 - length(bin(hv % 4503599627370496)) END AS r
      FROM h),
    fine AS (SELECT lang, source, b, max(r) AS r FROM rho GROUP BY 1, 2, 3),
    regs AS (SELECT lang, b, max(r) AS r FROM fine GROUP BY 1, 2),
    sums AS (
      SELECT lang, sum(1::BIGINT << (53 - r)::INT)::BIGINT AS s,
             count(*)::BIGINT AS nb
      FROM regs GROUP BY lang)
    SELECT lang,
           (CAST('423993302490689634304' AS HUGEINT)
            // (s + (256 - nb) * (1::BIGINT << 53)))::BIGINT AS hll_est,
           (256 - nb)::BIGINT AS zero_registers
    FROM sums
"""

ORACLE_SQL["eval_contamination_report"] = """
    WITH d AS (
      SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'),
                                 x -> x <> '') AS ws
      FROM documents),
    bg AS (
      SELECT DISTINCT doc_id,
             ('0x' || substr(md5(array_to_string(ws[(i+1)::INT:(i+4)::INT], ' ')),
                             1, 15))::BIGINT AS g
      FROM (SELECT doc_id, ws, unnest(range(len(ws) - 3)) AS i
            FROM d WHERE doc_id % 97 = 0 AND len(ws) >= 4)),
    cg AS (
      SELECT DISTINCT doc_id AS cid,
             ('0x' || substr(md5(array_to_string(ws[(i+1)::INT:(i+4)::INT], ' ')),
                             1, 15))::BIGINT AS g
      FROM (SELECT doc_id, ws, unnest(range(len(ws) - 3)) AS i
            FROM d WHERE doc_id % 97 <> 0 AND len(ws) >= 4)),
    hits AS (
      SELECT b.doc_id, count(DISTINCT c.cid) AS n_corpus_docs,
             count(DISTINCT b.g) AS n_shared_grams
      FROM cg c JOIN bg b USING (g)
      GROUP BY b.doc_id)
    SELECT d2.doc_id,
           coalesce(h.n_corpus_docs, 0)::BIGINT AS n_corpus_docs,
           coalesce(h.n_shared_grams, 0)::BIGINT AS n_shared_grams,
           (coalesce(h.n_corpus_docs, 0) >= 1) AS burned
    FROM (SELECT doc_id FROM documents WHERE doc_id % 97 = 0) d2
    LEFT JOIN hits h USING (doc_id)
"""

ORACLE_SQL["decontaminate_spans"] = """
    WITH d AS (
      SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'),
                                 x -> x <> '') AS ws
      FROM documents),
    corpus AS MATERIALIZED (
      SELECT doc_id, ws, len(ws) AS nw FROM d WHERE doc_id % 97 <> 0),
    bg AS (
      SELECT DISTINCT
             ('0x' || substr(md5(array_to_string(ws[(i+1)::INT:(i+4)::INT], ' ')),
                             1, 15))::BIGINT AS g
      FROM (SELECT ws, unnest(range(len(ws) - 3)) AS i
            FROM d WHERE doc_id % 97 = 0 AND len(ws) >= 4)),
    cg AS (
      SELECT doc_id, i,
             ('0x' || substr(md5(array_to_string(ws[(i+1)::INT:(i+4)::INT], ' ')),
                             1, 15))::BIGINT AS g
      FROM (SELECT doc_id, ws, unnest(range(nw - 3)) AS i
            FROM corpus WHERE nw >= 4)),
    hits AS (SELECT doc_id, i FROM cg JOIN bg USING (g)),
    bad AS (
      SELECT DISTINCT doc_id, (i + x + 1)::BIGINT AS widx
      FROM hits, (SELECT unnest(range(4)) AS x)),
    words AS (
      SELECT doc_id, (pos + 1)::BIGINT AS widx, ws[(pos + 1)::INT] AS word
      FROM (SELECT doc_id, ws, unnest(range(len(ws))) AS pos FROM corpus)),
    kept AS (
      SELECT doc_id, count(*) AS n_kept,
             string_agg(word, ' ' ORDER BY widx) AS text
      FROM words ANTI JOIN bad USING (doc_id, widx)
      GROUP BY doc_id)
    SELECT c.doc_id,
           c.nw::BIGINT AS n_words,
           (c.nw - coalesce(k.n_kept, 0))::BIGINT AS n_removed,
           coalesce(k.text, '') AS text
    FROM corpus c LEFT JOIN kept k USING (doc_id)
"""

ORACLE_SQL["unimax_mixture"] = """
    WITH sizes AS (
      SELECT lang AS stratum,
             sum(len(list_filter(string_split_regex(lower(text), '\\s+'),
                                 x -> x <> '')))::BIGINT AS n_tokens
      FROM documents GROUP BY lang),
    b AS (SELECT (sum(n_tokens) * 1500 // 1000)::BIGINT AS bb FROM sizes),
    capped AS (
      SELECT stratum, n_tokens, (n_tokens * 2)::BIGINT AS cap_tokens,
             (sum(n_tokens * 2) OVER (ORDER BY n_tokens * 2, stratum))::BIGINT AS cum,
             (row_number() OVER (ORDER BY n_tokens * 2, stratum))::BIGINT AS idx,
             (count(*) OVER ())::BIGINT AS n
      FROM sizes),
    f AS MATERIALIZED (
      SELECT c.*, b.bb,
             ((cum - cap_tokens) + (n - idx + 1) * cap_tokens <= b.bb) AS funded
      FROM capped c, b),
    lvl AS (
      SELECT coalesce(max(CASE WHEN funded THEN idx END), 0)::BIGINT AS j,
             coalesce(max(CASE WHEN funded THEN cum END), 0)::BIGINT AS pref,
             max(n)::BIGINT AS nn, max(bb)::BIGINT AS budget
      FROM f),
    lv AS (
      SELECT (CASE WHEN nn > j THEN (budget - pref) // (nn - j)
                   ELSE 0 END)::BIGINT AS level
      FROM lvl)
    SELECT stratum, n_tokens, cap_tokens,
           (CASE WHEN funded THEN cap_tokens
                 ELSE least(level, cap_tokens) END)::BIGINT AS alloc_tokens,
           ((CASE WHEN funded THEN cap_tokens
                  ELSE least(level, cap_tokens) END) * 1000000
            // greatest(n_tokens, 1))::BIGINT AS epochs_grid
    FROM f, lv
"""

ORACLE_SQL["temperature_mixture"] = """
    WITH cnt AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
    thr AS (
      SELECT lang,
             floor(sqrt((min(n) OVER ())::DOUBLE / n)
                   * 1152921504606846976::DOUBLE)::BIGINT AS thr
      FROM cnt)
    SELECT d.doc_id, d.lang, d.source
    FROM documents d JOIN thr USING (lang)
    WHERE ('0x' || substr(md5('temp:' || d.doc_id), 1, 15))::BIGINT < thr
"""


ORACLE_SQL["multimodal_audio_segments"] = """
    WITH aud AS (
      SELECT doc_id AS asset_id, hex(encode(text)) AS hx,
             octet_length(encode(text)) AS nb
      FROM documents WHERE doc_id % 3 = 1),
    s0 AS (SELECT asset_id, hx, unnest(range((nb // 2)::BIGINT)) AS k FROM aud),
    smp AS (
      SELECT asset_id, k,
             ('0x' || substr(hx, (4*k + 1)::INT, 2))::INT
             + 256 * ('0x' || substr(hx, (4*k + 3)::INT, 2))::INT AS u
      FROM s0),
    sgn AS (
      SELECT asset_id, k,
             CASE WHEN u >= 32768 THEN u - 65536 ELSE u END AS s
      FROM smp),
    fr AS (
      SELECT asset_id, (k // 32)::INT AS frame_idx, sum(s * s)::BIGINT AS energy
      FROM sgn GROUP BY 1, 2 HAVING count(*) = 32),
    tot AS (SELECT asset_id, sum(energy) AS tot, count(*) AS n
            FROM fr GROUP BY asset_id),
    act AS (
      SELECT f.asset_id, f.frame_idx, f.energy
      FROM fr f JOIN tot t USING (asset_id)
      WHERE f.energy * t.n > t.tot),
    isl AS (
      SELECT *, frame_idx - (row_number() OVER (
               PARTITION BY asset_id ORDER BY frame_idx) - 1) AS grp
      FROM act),
    seg AS (
      SELECT asset_id, min(frame_idx) AS start_frame,
             max(frame_idx) AS end_frame,
             count(*)::BIGINT AS n_frames, sum(energy)::BIGINT AS seg_energy
      FROM isl GROUP BY asset_id, grp)
    SELECT asset_id,
           (row_number() OVER (
              PARTITION BY asset_id ORDER BY start_frame))::INT AS seg_id,
           start_frame, end_frame, n_frames, seg_energy
    FROM seg
"""




# DSIR importance resampling: hashed uni+bigram buckets, add-1-smoothed
# target/raw log-ratio on the 1e6 grid (ln is the accepted IEEE-double
# device), deterministic top-25% selection.
ORACLE_SQL["dsir_select"] = """
    WITH w AS (
      SELECT doc_id, source = 'src0' AS is_t,
             list_filter(string_split_regex(lower(text), '\\s+'),
                         x -> x <> '') AS ws
      FROM documents),
    f AS (
      SELECT doc_id, is_t,
             unnest(list_concat(ws,
               CASE WHEN len(ws) >= 2
                 THEN list_transform(range(1, len(ws)),
                                     i -> ws[i] || ' ' || ws[i + 1])
                 ELSE []::VARCHAR[] END)) AS feat
      FROM w),
    fb AS (
      SELECT doc_id, is_t,
             ('0x' || substr(md5(feat), 1, 15))::BIGINT % 256 AS bucket
      FROM f),
    bc AS (
      SELECT bucket,
             sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS tc,
             sum(CASE WHEN is_t THEN 0 ELSE 1 END) AS rc
      FROM fb GROUP BY bucket),
    lam AS (
      SELECT bucket,
             (floor(ln((tc + 1)::DOUBLE / (sum(tc) OVER () + 256)) * 1000000)
              - floor(ln((rc + 1)::DOUBLE / (sum(rc) OVER () + 256)) * 1000000)
             )::BIGINT AS lam
      FROM bc),
    dc AS (
      SELECT doc_id, bucket, count(*) AS c
      FROM fb WHERE NOT is_t GROUP BY doc_id, bucket),
    ds AS (
      SELECT doc_id, sum(c) AS nf, sum(c * lam) AS sc
      FROM dc JOIN lam USING (bucket) GROUP BY doc_id),
    s AS (
      SELECT d.doc_id,
             coalesce(nf, 0)::BIGINT AS n_feats,
             coalesce(sc, 0)::BIGINT AS dsir_score
      FROM (SELECT doc_id FROM documents WHERE source <> 'src0') d
      LEFT JOIN ds USING (doc_id)),
    r AS (
      SELECT *,
             (row_number() OVER (ORDER BY dsir_score DESC, doc_id) - 1)::BIGINT
               AS dsir_rank,
             count(*) OVER () AS n
      FROM s)
    SELECT doc_id, n_feats, dsir_score, dsir_rank,
           dsir_rank < ceil(0.25 * n) AS selected
    FROM r
"""


# The composed five-stage cleaning pipeline: each CTE block below is
# the (already individually hash-checked) oracle of one stage, chained
# in pipeline order.  MATERIALIZED on every multiply-referenced CTE —
# DuckDB inlines otherwise and the chain expands exponentially.
ORACLE_SQL["pipeline_clean_corpus"] = f"""
    WITH RECURSIVE w AS MATERIALIZED (
      SELECT doc_id, text AS t,
             list_filter(string_split_regex(lower(text), '\\s+'),
                         x -> x <> '') AS ws
      FROM documents),
    gm AS (
      SELECT doc_id,
             len(ws) AS n_words,
             round(COALESCE(list_sum(list_transform(ws, x -> length(x))), 0)::DOUBLE
                   / greatest(len(ws), 1), 6) AS mean_word_len,
             round(((length(t) - length(replace(t, '#', '')))
                    + (length(t) - length(regexp_replace(t, '\\.\\.\\.', '', 'g'))) / 3)
                   ::DOUBLE / greatest(len(ws), 1), 6) AS symbol_ratio,
             round(len(list_filter(ws, x -> regexp_matches(x, '[a-zA-Z]')))::DOUBLE
                   / greatest(len(ws), 1), 6) AS alpha_word_ratio,
             len(list_intersect(list_distinct(ws), [{_GOPHER_STOPWORDS}])) AS stopword_hits
      FROM w),
    gkeep AS MATERIALIZED (
      SELECT doc_id FROM gm
      WHERE n_words >= 40 AND n_words <= 100000
        AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
        AND symbol_ratio <= 0.1 AND alpha_word_ratio >= 0.8
        AND stopword_hits >= 1),
    sh AS (
      SELECT doc_id,
             list_distinct(CASE WHEN len(ws) >= 2
               THEN list_transform(range(1, len(ws)),
                                   i -> ws[i] || ' ' || ws[i + 1])
               ELSE ws END) AS shingles
      FROM w JOIN gkeep USING (doc_id)),
    sized AS (SELECT doc_id, shingles, len(shingles) AS n FROM sh
              WHERE len(shingles) > 0),
    prs AS (
      SELECT a.doc_id AS s, b.doc_id AS d
      FROM sized a JOIN sized b
        ON a.doc_id < b.doc_id
       AND least(a.n, b.n) >= 0.5 * greatest(a.n, b.n)
      WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
              / (a.n + b.n - len(list_intersect(a.shingles, b.shingles))) >= 0.5),
    edges AS (SELECT s, d FROM prs UNION SELECT d, s FROM prs),
    reach AS (
      SELECT s, d FROM edges
      UNION
      SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s),
    comp AS (
      SELECT s AS doc_id, LEAST(s, MIN(d)) AS cluster_id
      FROM reach GROUP BY s),
    keepers AS MATERIALIZED (
      SELECT doc_id FROM (
        SELECT q.doc_id,
               row_number() OVER (PARTITION BY q.cluster_id
                                  ORDER BY q.quality DESC, q.doc_id ASC) AS rn
        FROM (SELECT dd.doc_id, coalesce(c.cluster_id, dd.doc_id) AS cluster_id,
                     dd.n_chars::BIGINT AS quality
              FROM documents dd JOIN gkeep USING (doc_id)
              LEFT JOIN comp c USING (doc_id)) q)
      WHERE rn = 1),
    g4 AS MATERIALIZED (
      SELECT doc_id,
             list_distinct(CASE WHEN len(ws) >= 4
               THEN list_transform(range(1, len(ws) - 2),
                                   i -> array_to_string(list_slice(ws, i, i + 3), ' '))
               ELSE []::VARCHAR[] END) AS grams
      FROM w),
    bg AS MATERIALIZED (
      SELECT DISTINCT unnest(grams) AS gram FROM g4 WHERE doc_id % 97 = 0),
    corpus0 AS MATERIALIZED (
      SELECT doc_id FROM keepers WHERE doc_id % 97 <> 0),
    hits AS MATERIALIZED (
      SELECT cg.doc_id
      FROM (SELECT g4.doc_id, unnest(g4.grams) AS gram
            FROM g4 JOIN corpus0 USING (doc_id)) cg
      JOIN bg USING (gram)
      GROUP BY cg.doc_id),
    clean AS (
      SELECT doc_id FROM corpus0
      WHERE doc_id NOT IN (SELECT doc_id FROM hits)),
    mixed AS MATERIALIZED (
      SELECT dd.doc_id, dd.lang, dd.source
      FROM documents dd JOIN clean USING (doc_id)
      WHERE ('0x' || substr(md5('mix:' || dd.doc_id::VARCHAR), 1, 15))::BIGINT
            < (CASE WHEN dd.lang = 'en' THEN {int(0.35 * (1 << 60))}
                    WHEN dd.lang = 'zh' THEN {int(0.9 * (1 << 60))}
                    ELSE {1 << 60} END)),
    pbase AS (
      SELECT m.doc_id,
             (('0x' || substr(md5(m.doc_id::VARCHAR), 1, 15))::BIGINT % 32)::INT AS bucket,
             coalesce(len(w.ws), 0)::BIGINT AS n_tokens
      FROM mixed m JOIN w USING (doc_id)),
    ordered AS MATERIALIZED (
      SELECT *, row_number() OVER (PARTITION BY bucket ORDER BY doc_id) AS rn
      FROM pbase),
    steps AS (
      SELECT bucket, rn, doc_id, n_tokens, 0::BIGINT AS pack_seq, n_tokens AS cum
      FROM ordered WHERE rn = 1
      UNION ALL
      SELECT o.bucket, o.rn, o.doc_id, o.n_tokens,
             CASE WHEN s.cum + o.n_tokens > 256
                  THEN s.pack_seq + 1 ELSE s.pack_seq END,
             CASE WHEN s.cum + o.n_tokens > 256
                  THEN o.n_tokens ELSE s.cum + o.n_tokens END
      FROM steps s JOIN ordered o ON o.bucket = s.bucket AND o.rn = s.rn + 1)
    SELECT st.doc_id, m.lang, m.source, st.bucket, st.n_tokens, st.pack_seq
    FROM steps st JOIN mixed m USING (doc_id)
"""

# thresholds single-sourced: the operator computes int((e % 1.0) * 2^60)
# driver-side and embeds literals; the oracle embeds the SAME Python
# expression's value (2.5/0.25/1.5 are exact binary fractions anyway).
ORACLE_SQL["epoch_upsample"] = f"""
    WITH d AS (
      SELECT doc_id, source AS stratum,
             CASE source WHEN 'src0' THEN 2 WHEN 'src1' THEN 0
                         WHEN 'src2' THEN 0 WHEN 'src3' THEN 1 ELSE 1 END AS ip,
             CASE source WHEN 'src0' THEN {int((2.5 % 1.0) * (1 << 60))}
                         WHEN 'src1' THEN {int((0.25 % 1.0) * (1 << 60))}
                         WHEN 'src2' THEN 0
                         WHEN 'src3' THEN {int((1.5 % 1.0) * (1 << 60))}
                         ELSE 0 END AS ft
      FROM documents),
    c AS (
      SELECT doc_id, stratum,
             ip + CASE WHEN ('0x' || substr(md5('epoch:' || doc_id::VARCHAR), 1, 15))::BIGINT < ft
                       THEN 1 ELSE 0 END AS copies
      FROM d)
    SELECT doc_id, stratum, unnest(range(1, copies + 1))::BIGINT AS copy
    FROM c WHERE copies > 0
"""

ORACLE_SQL["shared_substring"] = """
    WITH w AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\\s+'),
                         x -> x <> '') AS ws
      FROM documents),
    s0 AS (
      SELECT doc_id, ws, unnest(range(0, len(ws) - 4)) AS pos
      FROM w WHERE len(ws) >= 5),
    g AS (
      SELECT doc_id, pos,
             ('0x' || substr(md5(array_to_string(
                 list_slice(ws, (pos + 1)::INT, (pos + 5)::INT), ' ')), 1, 15))::BIGINT AS h
      FROM s0),
    hot AS (SELECT h FROM g GROUP BY h HAVING count(*) > 1000),
    p AS (SELECT doc_id, pos, h FROM g ANTI JOIN hot USING (h)),
    m AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.pos AS pos_a,
             a.pos - b.pos AS diag
      FROM p a JOIN p b USING (h)
      WHERE a.doc_id < b.doc_id),
    r AS (
      SELECT doc_a, doc_b, diag, pos_a,
             pos_a - row_number() OVER (PARTITION BY doc_a, doc_b, diag
                                        ORDER BY pos_a) AS grp
      FROM m),
    runs AS (
      SELECT doc_a, doc_b, count(*) + 4 AS run_words
      FROM r GROUP BY doc_a, doc_b, diag, grp)
    SELECT doc_a, doc_b, max(run_words)::BIGINT AS max_shared_words
    FROM runs GROUP BY doc_a, doc_b
    HAVING max(run_words) >= 10
"""

ORACLE_SQL["novelty_score"] = """
    WITH w AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\\s+'),
                         x -> x <> '') AS ws
      FROM documents),
    g0 AS (
      SELECT doc_id,
             list_distinct(CASE WHEN len(ws) >= 3
               THEN list_transform(range(1, len(ws) - 1),
                                   i -> array_to_string(list_slice(ws, i, i + 2), ' '))
               ELSE []::VARCHAR[] END) AS grams
      FROM w),
    g AS (SELECT doc_id, unnest(grams) AS gram FROM g0),
    dfq AS (SELECT gram, count(*) AS df FROM g GROUP BY gram),
    pd AS (
      SELECT doc_id, count(*) AS n_grams,
             sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS n_novel
      FROM g JOIN dfq USING (gram) GROUP BY doc_id)
    SELECT d.doc_id,
           coalesce(pd.n_grams, 0)::BIGINT AS n_grams,
           coalesce(pd.n_novel, 0)::BIGINT AS n_novel,
           CASE WHEN pd.n_grams IS NOT NULL
                THEN round(pd.n_novel::DOUBLE / pd.n_grams, 6) END AS novelty
    FROM documents d LEFT JOIN pd USING (doc_id)
"""

ORACLE_SQL["corpus_diff"] = """
    WITH old AS (
      SELECT doc_id,
             md5(text || CASE WHEN doc_id % 5 = 0 THEN ' v1' ELSE '' END) AS old_hash
      FROM documents WHERE doc_id % 7 <> 0),
    nw AS (
      SELECT doc_id, md5(text) AS new_hash
      FROM documents WHERE doc_id % 3 <> 0)
    SELECT coalesce(old.doc_id, nw.doc_id) AS doc_id,
           CASE WHEN old_hash IS NULL THEN 'added'
                WHEN new_hash IS NULL THEN 'removed'
                WHEN old_hash = new_hash THEN 'unchanged'
                ELSE 'changed' END AS status,
           old_hash, new_hash
    FROM old FULL OUTER JOIN nw ON old.doc_id = nw.doc_id
"""

ORACLE_SQL["weighted_sample"] = """
    WITH p AS (
      SELECT doc_id, n_chars,
             round(ln(((('0x' || substr(md5('wsample:' || doc_id::VARCHAR), 1, 15))::BIGINT)::DOUBLE + 1.0)
                      / 1152921504606846977.0)
                   / n_chars::DOUBLE, 6) AS priority
      FROM documents)
    SELECT doc_id, n_chars, priority
    FROM p ORDER BY priority DESC, doc_id LIMIT 100
"""

def _pagerank_oracle_sql(
    iterations: int = 5, scale: int = 1_000_000_000, num: int = 85, den: int = 100
) -> str:
    """Unrolled-CTE DuckDB mirror of ``q_doc_pagerank``: same synthetic
    edges, same all-integer round formula (``//`` on positive longs ==
    Spark's ``div``), one CTE pair per round — no recursion needed for a
    FIXED iteration count, and no float ever touches a rank."""
    parts = [f"""
    WITH e0 AS (
      SELECT doc_id AS s,
             (doc_id * 7 + 1) % (SELECT count(*) FROM documents) AS d
      FROM documents
      UNION
      SELECT doc_id, doc_id // 10 FROM documents),
    e AS (SELECT DISTINCT s, d FROM e0 WHERE s <> d),
    nodes AS (SELECT DISTINCT id FROM (SELECT s AS id FROM e UNION SELECT d FROM e)),
    nn AS (SELECT count(*) AS n FROM nodes),
    outdeg AS (SELECT s, count(*) AS od FROM e GROUP BY s),
    r0 AS (SELECT id, ({scale}::BIGINT // n)::BIGINT AS rank FROM nodes, nn)"""]
    for k in range(iterations):
        parts.append(f""",
    c{k} AS (
      SELECT e.d AS id, sum((r.rank * {num}) // ({den} * o.od))::BIGINT AS c
      FROM r{k} r JOIN e ON r.id = e.s JOIN outdeg o ON o.s = e.s
      GROUP BY e.d),
    r{k + 1} AS (
      SELECT b.id,
             (({scale}::BIGINT * {den - num}) // ({den} * b.n) + coalesce(c.c, 0))::BIGINT AS rank
      FROM (SELECT id, n FROM nodes, nn) b LEFT JOIN c{k} c ON c.id = b.id)""")
    parts.append(f"\n    SELECT id, rank FROM r{iterations}")
    return "".join(parts)


ORACLE_SQL["doc_pagerank"] = _pagerank_oracle_sql()

# Curriculum ordering: the operator's two-phase total sort emits the
# true global rank, so a plain window replays it (the difference is
# plan shape, not semantics).  Quality expression mirrors the
# text_quality oracle term for term.
ORACLE_SQL["curriculum_order"] = """
    WITH base AS (
      SELECT doc_id, text, length(text) AS n,
             list_filter(string_split_regex(lower(text), '\\s+'), w -> w <> '') AS words
      FROM documents),
    scored AS (
      SELECT doc_id,
             ROUND(
               0.3 * (CASE WHEN n >= 200 THEN least(1.0, 8000.0 / n)
                           ELSE n / 200.0 END)
               + 0.3 * (length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))
                        / CAST(greatest(n, 1) AS DOUBLE))
               + 0.2 * least(1.0, len(list_filter(words, w -> list_contains(
                   ['and','das','de','den','der','des','die','ein','eine','el','en',
                    'es','est','et','for','in','is','ist','it','la','le','les','los',
                    'of','que','that','the','to','un','una','und','une','von','was',
                    'y','zu'], w))) * 4.0 / greatest(len(words), 1))
               + 0.2 * (CASE WHEN COALESCE(list_sum(list_transform(words, w -> length(w))), 0)
                                  / CAST(greatest(len(words), 1) AS DOUBLE) BETWEEN 2 AND 12
                             THEN 1.0 ELSE 0.3 END), 6) AS quality
      FROM base)
    SELECT doc_id, quality,
           (row_number() OVER (ORDER BY quality DESC, doc_id) - 1)::BIGINT AS global_index
    FROM scored
"""

ORACLE_SQL["shared_substring_winnow"] = """
    WITH w AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\\s+'),
                         x -> x <> '') AS ws
      FROM documents),
    hs AS (
      SELECT doc_id,
             list_transform(range(0, len(ws) - 4), p ->
               ('0x' || substr(md5(array_to_string(
                   list_slice(ws, (p + 1)::INT, (p + 5)::INT), ' ')), 1, 15))::BIGINT) AS h
      FROM w WHERE len(ws) >= 5),
    sel0 AS (
      SELECT doc_id, h,
             list_distinct(list_transform(range(0, greatest(len(h) - 4, 0) + 1), j ->
               (j + list_position(list_slice(h, (j + 1)::INT, (j + 4)::INT),
                                  list_min(list_slice(h, (j + 1)::INT, (j + 4)::INT))) - 1)::INT
             )) AS sel
      FROM hs),
    g0 AS (SELECT doc_id, h, unnest(sel) AS pos FROM sel0),
    g AS (SELECT doc_id, pos, h[pos + 1] AS hh FROM g0),
    hot AS (SELECT hh FROM g GROUP BY hh HAVING count(*) > 1000),
    p AS (SELECT doc_id, pos, hh FROM g ANTI JOIN hot USING (hh)),
    m AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.pos AS pos_a,
             a.pos - b.pos AS diag
      FROM p a JOIN p b USING (hh)
      WHERE a.doc_id < b.doc_id),
    f AS (
      SELECT doc_a, doc_b, diag, pos_a,
             CASE WHEN lag(pos_a) OVER win IS NULL
                       OR pos_a - lag(pos_a) OVER win > 4 THEN 1 ELSE 0 END AS nr
      FROM m WINDOW win AS (PARTITION BY doc_a, doc_b, diag ORDER BY pos_a)),
    f2 AS (
      SELECT doc_a, doc_b, diag, pos_a,
             sum(nr) OVER (PARTITION BY doc_a, doc_b, diag ORDER BY pos_a
                           ROWS UNBOUNDED PRECEDING) AS grp
      FROM f),
    runs AS (
      SELECT doc_a, doc_b, max(pos_a) - min(pos_a) + 5 AS run_words
      FROM f2 GROUP BY doc_a, doc_b, diag, grp)
    SELECT doc_a, doc_b, max(run_words)::BIGINT AS max_shared_words
    FROM runs GROUP BY doc_a, doc_b
    HAVING max(run_words) >= 10
"""

ORACLE_SQL["embedding_quantize"] = """
    WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    s AS (
      SELECT vec_id, v,
             greatest(list_max(list_transform(v, x -> abs(x))), 1e-30) AS sc
      FROM base)
    SELECT vec_id, round(sc, 6) AS scale_r,
           array_to_string(list_transform(v,
               x -> floor(x / sc * 127.0 + 0.5)::INT::VARCHAR), ',') AS q_csv
    FROM s
"""

ORACLE_SQL["quantized_cosine_topk"] = """
    WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    s AS (
      SELECT vec_id, v,
             greatest(list_max(list_transform(v, x -> abs(x))), 1e-30) AS sc
      FROM base),
    qz AS (
      SELECT vec_id, list_transform(v, x -> floor(x / sc * 127.0 + 0.5)) AS q
      FROM s),
    n AS (
      SELECT vec_id, q,
             sqrt(list_sum(list_transform(q, x -> x * x))) AS nq
      FROM qz),
    p AS (
      SELECT qs.vec_id AS query_id, c.vec_id AS neighbor_id,
             round(list_inner_product(qs.q, c.q)
                   / greatest(c.nq * qs.nq, 1e-30), 6) AS qcos
      FROM n qs JOIN n c ON qs.vec_id <> c.vec_id
      WHERE qs.vec_id % 10 = 0),
    r AS (
      SELECT query_id, neighbor_id, qcos,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY qcos DESC, neighbor_id)::INTEGER AS rank
      FROM p)
    SELECT query_id, neighbor_id, qcos, rank FROM r WHERE rank <= 5
"""


def _grid_kmeans_oracle_sql(
    k: int = 10, rounds: int | None = None, final_select: str | None = None
) -> str:
    """DuckDB mirror of ``q_grid_kmeans``
    (operators/clustering.py::grid_kmeans): int8 quantization, k-1
    unrolled Gonzalez farthest-point seeding rounds, ``rounds`` unrolled
    Lloyd iterations (squared distance via the exact integer
    polarization identity ``<a,a> + <b,b> - 2<a,b>``; centroid update
    ``sum // count`` — DuckDB ``//`` truncates toward zero exactly like
    Spark ``DIV``), then the assignment under the final centroids.
    Multiply-referenced CTEs MATERIALIZED per the repo convention."""
    if rounds is None:
        from .operators.clustering import GRID_KMEANS_ROUNDS

        rounds = GRID_KMEANS_ROUNDS

    def dist(a: str, b: str) -> str:
        return (
            f"(list_inner_product({a}, {a}) + list_inner_product({b}, {b})"
            f" - 2 * list_inner_product({a}, {b}))::BIGINT"
        )

    seed_blocks = []
    for i in range(2, k + 1):
        seed_blocks.append(f""",
    g{i} AS MATERIALIZED (
      SELECT vec_id, q FROM fs{i - 1} ORDER BY dmin DESC, vec_id LIMIT 1),
    fs{i} AS MATERIALIZED (
      SELECT s.vec_id, s.q, least(s.dmin, {dist("s.q", "g.q")}) AS dmin
      FROM fs{i - 1} s, g{i} g WHERE s.vec_id <> g.vec_id)""")
    seed_picks = "\n      UNION ALL ".join(
        [f"SELECT 1::INTEGER AS cid, q AS cv FROM g1"]
        + [f"SELECT {i}::INTEGER, q FROM g{i}" for i in range(2, k + 1)]
    )
    blocks = [
        f"""
    WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    s AS (SELECT vec_id, v,
                 greatest(list_max(list_transform(v, x -> abs(x))), 1e-30) AS sc
          FROM base),
    qz AS MATERIALIZED (
      SELECT vec_id,
             list_transform(v, x -> floor(x / sc * 127.0 + 0.5)::BIGINT) AS q
      FROM s),
    g1 AS MATERIALIZED (SELECT vec_id, q FROM qz ORDER BY vec_id LIMIT 1),
    fs1 AS MATERIALIZED (
      SELECT z.vec_id, z.q, {dist("z.q", "g.q")} AS dmin
      FROM qz z, g1 g WHERE z.vec_id <> g.vec_id){"".join(seed_blocks)},
    c0 AS MATERIALIZED (
      {seed_picks})"""
    ]

    def assign_block(tag: str, censrc: str) -> str:
        return f"""
    {tag} AS MATERIALIZED (
      SELECT vec_id, cid, dist FROM (
        SELECT vec_id, cid, dist,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY dist, cid) AS rn
        FROM (SELECT z.vec_id, c.cid,
                     (list_inner_product(z.q, z.q)
                      + list_inner_product(c.cv, c.cv)
                      - 2 * list_inner_product(z.q, c.cv))::BIGINT AS dist
              FROM qz z CROSS JOIN {censrc} c))
      WHERE rn = 1)"""

    for r in range(1, rounds + 1):
        blocks.append("," + assign_block(f"a{r}", f"c{r - 1}"))
        blocks.append(
            f""",
    u{r} AS (
      SELECT cid, pos, sum(q[(pos + 1)::INT])::BIGINT AS sv,
             count(*)::BIGINT AS cnt
      FROM (SELECT a.cid, z.q, unnest(range(len(z.q))) AS pos
            FROM a{r} a JOIN qz z USING (vec_id))
      GROUP BY cid, pos),
    cn{r} AS (
      SELECT cid, list(sv // cnt ORDER BY pos) AS cv FROM u{r} GROUP BY cid),
    c{r} AS MATERIALIZED (
      SELECT p.cid, coalesce(n.cv, p.cv) AS cv
      FROM c{r - 1} p LEFT JOIN cn{r} n USING (cid))"""
        )
    blocks.append("," + assign_block("af", f"c{rounds}"))
    blocks.append(
        final_select
        if final_select is not None
        else "\n    SELECT vec_id, cid AS cluster, dist AS dist_grid FROM af"
    )
    return "".join(blocks)


ORACLE_SQL["grid_kmeans"] = _grid_kmeans_oracle_sql()


def _grid_ivf_final_select(
    rounds_tag: str, n_probe: int = 4, k: int = 5, query_mod: int = 10
) -> str:
    """Final-select wrapper for _grid_kmeans_oracle_sql mirroring
    ``q_grid_ivf_topk``: per-query probe of the ``n_probe`` nearest
    final centroids, exact scoring against vectors assigned (``af``) to
    probed cells, top-``k``."""

    def dist(a: str, b: str) -> str:
        return (
            f"(list_inner_product({a}, {a}) + list_inner_product({b}, {b})"
            f" - 2 * list_inner_product({a}, {b}))::BIGINT"
        )

    return f""",
    qs AS MATERIALIZED (
      SELECT vec_id AS query_id, q FROM qz WHERE vec_id % {query_mod} = 0),
    pr AS (
      SELECT query_id, cid FROM (
        SELECT s.query_id, c.cid,
               row_number() OVER (PARTITION BY s.query_id
                                  ORDER BY {dist("s.q", "c.cv")}, c.cid) AS rn
        FROM qs s CROSS JOIN {rounds_tag} c) WHERE rn <= {n_probe}),
    cand AS (
      SELECT s.query_id, a.vec_id AS neighbor_id, {dist("z.q", "s.q")} AS dist_grid
      FROM pr p
      JOIN af a USING (cid)
      JOIN qz z ON z.vec_id = a.vec_id
      JOIN qs s ON s.query_id = p.query_id
      WHERE a.vec_id <> p.query_id)
    SELECT query_id, neighbor_id, dist_grid, rank FROM (
      SELECT query_id, neighbor_id, dist_grid,
             (row_number() OVER (PARTITION BY query_id
                                 ORDER BY dist_grid, neighbor_id))::INT AS rank
      FROM cand) WHERE rank <= {k}"""


def _grid_ivf_oracle_sql() -> str:
    from .operators.clustering import GRID_KMEANS_ROUNDS

    return _grid_kmeans_oracle_sql(
        final_select=_grid_ivf_final_select(f"c{GRID_KMEANS_ROUNDS}")
    )


ORACLE_SQL["grid_ivf_topk"] = _grid_ivf_oracle_sql()


def _grid_pca_oracle_sql(
    rounds: int | None = None, final_select: str | None = None
) -> str:
    """DuckDB mirror of ``q_grid_pca`` (operators/pca.py::grid_pca):
    global int8 scale, truncating integer means, exact int64 scatter,
    one integer rescale of S (``max|S| // 2^36 + 1``), ``rounds``
    unrolled power-iteration CTEs with pure-integer renormalization
    (``w // (max|w| // 2^20 + 1)``), sign canonicalization by the first
    nonzero component, and the final centered projection (or
    ``final_select`` — used by the pca_residual mirror)."""
    if rounds is None:
        from .operators.pca import GRID_PCA_ROUNDS

        rounds = GRID_PCA_ROUNDS
    from .operators.pca import PCA_SBOUND, PCA_VSCALE

    iter_blocks = []
    for r in range(1, rounds + 1):
        iter_blocks.append(f""",
    w{r} AS (
      SELECT sn.i AS j, sum(sn.s * v.val)::BIGINT AS wv
      FROM sn JOIN v{r - 1} v ON sn.j = v.j GROUP BY sn.i),
    v{r} AS MATERIALIZED (
      SELECT j, wv // ((SELECT max(abs(wv)) FROM w{r}) // {PCA_VSCALE} + 1)
                 AS val
      FROM w{r})""")
    return f"""
    WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    gsc AS (
      SELECT greatest(max(list_max(list_transform(v, x -> abs(x)))), 1e-30) AS g
      FROM base),
    qz AS MATERIALIZED (
      SELECT vec_id,
             list_transform(v, x -> floor(x / g * 127.0 + 0.5)::BIGINT) AS q,
             len(v) AS d
      FROM base, gsc),
    mu AS (
      SELECT pos, sum(q[(pos + 1)::INT]) // count(*) AS m
      FROM qz, (SELECT unnest(range((SELECT max(d) FROM qz))) AS pos)
      GROUP BY pos),
    cz AS MATERIALIZED (
      SELECT vec_id, list(q[(pos + 1)::INT] - m ORDER BY pos) AS c
      FROM qz, mu GROUP BY vec_id),
    sc AS (
      SELECT ii.pos AS i, jj.pos AS j,
             sum(c[(ii.pos + 1)::INT] * c[(jj.pos + 1)::INT])::BIGINT AS s
      FROM cz,
           (SELECT unnest(range((SELECT max(d) FROM qz))) AS pos) ii,
           (SELECT unnest(range((SELECT max(d) FROM qz))) AS pos) jj
      GROUP BY 1, 2),
    sn AS MATERIALIZED (
      SELECT i, j, s // ((SELECT max(abs(s)) FROM sc) // {PCA_SBOUND} + 1) AS s
      FROM sc),
    v0 AS (
      SELECT unnest(range((SELECT max(d) FROM qz))) AS j,
             {PCA_VSCALE}::BIGINT AS val){"".join(iter_blocks)},
    sg AS (
      SELECT coalesce((SELECT CASE WHEN val < 0 THEN -1 ELSE 1 END
                       FROM v{rounds} WHERE val <> 0
                       ORDER BY j LIMIT 1), 1)::BIGINT AS sgn){final_select if final_select is not None else f'''
    SELECT cz.vec_id,
           (sum(c[(v.j + 1)::INT] * v.val) * (SELECT sgn FROM sg))::BIGINT
               AS proj_grid
    FROM cz JOIN v{rounds} v ON true
    GROUP BY cz.vec_id'''}
"""


ORACLE_SQL["grid_pca"] = _grid_pca_oracle_sql()


def _pca_residual_oracle_sql(rounds: int | None = None) -> str:
    """Mirror of ``q_pca_residual``: same chain as grid_pca, final
    select emits the downscaled integer rejection serialized to CSV
    (``string_agg`` in dimension order — the embedding_quantize
    convention, so the driver never sees a nested column).  Sign is
    irrelevant here (v appears an even number of times), so the
    unsigned v{rounds} is used directly."""
    if rounds is None:
        from .operators.pca import GRID_PCA_ROUNDS

        rounds = GRID_PCA_ROUNDS
    return _grid_pca_oracle_sql(
        rounds=rounds,
        final_select=f""",
    st AS (
      SELECT sum(val * val)::BIGINT AS vv,
             (sum(val * val) // 256 + 1)::BIGINT AS den
      FROM v{rounds}),
    pj AS MATERIALIZED (
      SELECT cz.vec_id, sum(c[(v.j + 1)::INT] * v.val)::BIGINT AS proj
      FROM cz JOIN v{rounds} v ON true GROUP BY cz.vec_id)
    SELECT cz.vec_id,
           string_agg(
             (((c[(v.j + 1)::INT] * st.vv - v.val * pj.proj)
               // st.den)::BIGINT)::VARCHAR, ',' ORDER BY v.j) AS resid_csv
    FROM cz
    JOIN v{rounds} v ON true
    JOIN pj ON pj.vec_id = cz.vec_id
    CROSS JOIN st
    GROUP BY cz.vec_id""",
    )


ORACLE_SQL["pca_residual"] = _pca_residual_oracle_sql()

# Mirror of q_cluster_balanced_sample: the same unrolled grid_kmeans
# chain, final select wrapped with the per-cluster selection window
# (n_per = 20; row_number is BIGINT in DuckDB, INT in Spark).
ORACLE_SQL["cluster_balanced_sample"] = _grid_kmeans_oracle_sql(
    final_select="""
    SELECT vec_id, cluster, dist_grid, sel_rank FROM (
      SELECT vec_id, cid AS cluster, dist AS dist_grid,
             (row_number() OVER (PARTITION BY cid
                                 ORDER BY dist, vec_id))::INT AS sel_rank
      FROM af)
    WHERE sel_rank <= 20"""
)


def _pq_topk_oracle_sql(
    m: int = 16,
    k_codes: int = 16,
    rounds: int | None = None,
    k: int = 5,
    rerank: int = 100,
    query_mod: int = 10,
    base_ctes: str = "",
    base_select: str = "SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings",
) -> str:
    """DuckDB mirror of ``q_pq_topk`` (operators/pq.py::pq_topk): one
    global int8 scale, per-subspace sub-vectors, k_codes-1 unrolled
    per-subspace Gonzalez seeding rounds (per-s argmax via window),
    ``rounds`` unrolled Lloyd iterations keyed by (s, cid), the final
    code assignment, the ADC candidate top-``rerank``, and the exact
    full-width refine top-``k``.  Distances use the exact integer
    polarization identity; centroid updates ``sum // count``.
    Multiply-referenced CTEs MATERIALIZED per the repo convention.
    ``base_ctes``/``base_select`` override the vector source (used by
    the opq_topk mirror to inject the HD-rotation pass chain)."""
    if rounds is None:
        from .operators.pq import PQ_LLOYD_ROUNDS

        rounds = PQ_LLOYD_ROUNDS

    def dist(a: str, b: str) -> str:
        return (
            f"(list_inner_product({a}, {a}) + list_inner_product({b}, {b})"
            f" - 2 * list_inner_product({a}, {b}))::BIGINT"
        )

    seed_blocks = []
    for i in range(2, k_codes + 1):
        seed_blocks.append(f""",
    g{i} AS MATERIALIZED (
      SELECT s, vec_id, sq FROM (
        SELECT s, vec_id, sq,
               row_number() OVER (PARTITION BY s
                                  ORDER BY dmin DESC, vec_id) AS rn
        FROM fs{i - 1}) WHERE rn = 1),
    fs{i} AS MATERIALIZED (
      SELECT z.s, z.vec_id, z.sq, least(z.dmin, {dist("z.sq", "g.sq")}) AS dmin
      FROM fs{i - 1} z JOIN g{i} g ON z.s = g.s AND z.vec_id <> g.vec_id)""")
    seed_picks = "\n      UNION ALL ".join(
        ["SELECT s, 1 AS cid, sq AS cv FROM g1"]
        + [f"SELECT s, {i}, sq FROM g{i}" for i in range(2, k_codes + 1)]
    )
    blocks = [
        f"""
    WITH {base_ctes}base AS ({base_select}),
    gsc AS (
      SELECT greatest(max(list_max(list_transform(v, x -> abs(x)))), 1e-30) AS g
      FROM base),
    qz AS MATERIALIZED (
      SELECT vec_id,
             list_transform(v, x -> floor(x / g * 127.0 + 0.5)::BIGINT) AS q,
             (len(v) // {m}) AS sub
      FROM base, gsc),
    subq AS MATERIALIZED (
      SELECT vec_id, s, q[(s * sub + 1):((s + 1) * sub)] AS sq
      FROM qz, (SELECT unnest(range({m})) AS s)),
    g1 AS MATERIALIZED (
      SELECT s, vec_id, sq FROM (
        SELECT s, vec_id, sq,
               row_number() OVER (PARTITION BY s ORDER BY vec_id) AS rn
        FROM subq) WHERE rn = 1),
    fs1 AS MATERIALIZED (
      SELECT z.s, z.vec_id, z.sq, {dist("z.sq", "g.sq")} AS dmin
      FROM subq z JOIN g1 g ON z.s = g.s AND z.vec_id <> g.vec_id){"".join(seed_blocks)},
    c0 AS MATERIALIZED (
      {seed_picks})"""
    ]

    def assign_block(tag: str, censrc: str) -> str:
        return f"""
    {tag} AS MATERIALIZED (
      SELECT vec_id, s, cid FROM (
        SELECT z.vec_id, z.s, c.cid,
               row_number() OVER (PARTITION BY z.vec_id, z.s
                                  ORDER BY {dist("z.sq", "c.cv")}, c.cid) AS rn
        FROM subq z JOIN {censrc} c ON z.s = c.s) WHERE rn = 1)"""

    for r in range(1, rounds + 1):
        blocks.append("," + assign_block(f"a{r}", f"c{r - 1}"))
        blocks.append(
            f""",
    u{r} AS (
      SELECT s, cid, pos, sum(sq[(pos + 1)::INT])::BIGINT AS sv,
             count(*)::BIGINT AS cnt
      FROM (SELECT a.s, a.cid, z.sq, unnest(range(len(z.sq))) AS pos
            FROM a{r} a JOIN subq z ON a.vec_id = z.vec_id AND a.s = z.s)
      GROUP BY s, cid, pos),
    cn{r} AS (
      SELECT s, cid, list(sv // cnt ORDER BY pos) AS cv
      FROM u{r} GROUP BY s, cid),
    c{r} AS MATERIALIZED (
      SELECT p.s, p.cid, coalesce(n.cv, p.cv) AS cv
      FROM c{r - 1} p LEFT JOIN cn{r} n ON p.s = n.s AND p.cid = n.cid)"""
        )
    blocks.append("," + assign_block("af", f"c{rounds}"))
    blocks.append(f""",
    qsel AS (
      SELECT vec_id AS query_id, s, sq FROM subq
      WHERE vec_id % {query_mod} = 0),
    dtab AS MATERIALIZED (
      SELECT q.query_id, q.s, c.cid, {dist("q.sq", "c.cv")} AS d
      FROM qsel q JOIN c{rounds} c ON q.s = c.s),
    sc AS (
      SELECT t.query_id, a.vec_id AS neighbor_id, sum(t.d)::BIGINT AS pq_dist
      FROM af a JOIN dtab t ON a.s = t.s AND a.cid = t.cid
      WHERE a.vec_id <> t.query_id
      GROUP BY t.query_id, a.vec_id),
    cand AS (
      SELECT query_id, neighbor_id, pq_dist FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY pq_dist, neighbor_id) AS crn
        FROM sc)
      WHERE crn <= {rerank}),
    rer AS (
      SELECT c.query_id, c.neighbor_id, c.pq_dist,
             {dist("nq.q", "qq.q")} AS dist_grid
      FROM cand c
      JOIN qz nq ON c.neighbor_id = nq.vec_id
      JOIN qz qq ON c.query_id = qq.vec_id)
    SELECT query_id, neighbor_id, pq_dist, dist_grid,
           rank::INTEGER AS rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY dist_grid, neighbor_id) AS rank
      FROM rer)
    WHERE rank <= {k}""")
    return "".join(blocks)


# Incremental CDC near-dup maintenance must equal the from-scratch
# answer on the unified corpus, so its oracle IS the dedup_clusters SQL.
ORACLE_SQL["incremental_near_dup"] = ORACLE_SQL["dedup_clusters"]

# Incremental label maintenance must equal the from-scratch clusters on
# the unified corpus = documents minus the outright deletions
# (base %5!=0 docs with %11==0) — the dedup_clusters SQL with the base
# CTE filtered accordingly.
_IDC_SRC = "FROM documents)"
assert ORACLE_SQL["dedup_clusters"].count(_IDC_SRC) == 1
ORACLE_SQL["incremental_dedup_clusters"] = ORACLE_SQL["dedup_clusters"].replace(
    _IDC_SRC,
    "FROM documents WHERE NOT (doc_id % 5 <> 0 AND doc_id % 11 = 0))",
)


ORACLE_SQL["pq_topk"] = _pq_topk_oracle_sql()


def _ivfpq_oracle_sql(
    k_cells: int = 8,
    n_probe: int = 4,
    m: int = 8,
    k_codes: int = 16,
    coarse_rounds: int | None = None,
    pq_rounds: int | None = None,
    k: int = 5,
    rerank: int = 100,
    query_mod: int = 10,
) -> str:
    """DuckDB mirror of ``q_ivfpq_topk`` (operators/pq.py::ivfpq_topk),
    the FAISS-IVFADC composition: global int8 scale, full-width coarse
    grid-kmeans (k_cells-1 unrolled Gonzalez rounds + coarse_rounds
    Lloyd iterations — the _grid_kmeans_oracle_sql chain restated on
    the GLOBAL scale, CTEs prefixed ``k``), per-vector residuals
    against the assigned cell centroid, the _pq_topk_oracle_sql chain
    trained on those residuals, then the query side: n_probe-cell
    probe, per-(query, cell) residual ADC distance table, lookup-add
    scan restricted to probed cells, exact full-width refine.
    Distances via the exact integer polarization identity; centroid
    updates ``sum // count``; multiply-referenced CTEs MATERIALIZED."""
    if coarse_rounds is None:
        from .operators.clustering import GRID_KMEANS_ROUNDS

        coarse_rounds = GRID_KMEANS_ROUNDS
    if pq_rounds is None:
        from .operators.pq import PQ_LLOYD_ROUNDS

        pq_rounds = PQ_LLOYD_ROUNDS

    def dist(a: str, b: str) -> str:
        return (
            f"(list_inner_product({a}, {a}) + list_inner_product({b}, {b})"
            f" - 2 * list_inner_product({a}, {b}))::BIGINT"
        )

    # --- global-scale codes (the pq_topk base, full width) ---
    blocks = [
        f"""
    WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    gsc AS (
      SELECT greatest(max(list_max(list_transform(v, x -> abs(x)))), 1e-30) AS g
      FROM base),
    qz AS MATERIALIZED (
      SELECT vec_id,
             list_transform(v, x -> floor(x / g * 127.0 + 0.5)::BIGINT) AS q
      FROM base, gsc)"""
    ]

    # --- coarse quantizer: full-width Gonzalez seeding + Lloyd ---
    kseed = []
    for i in range(2, k_cells + 1):
        kseed.append(f""",
    kg{i} AS MATERIALIZED (
      SELECT vec_id, q FROM kfs{i - 1} ORDER BY dmin DESC, vec_id LIMIT 1),
    kfs{i} AS MATERIALIZED (
      SELECT s.vec_id, s.q, least(s.dmin, {dist("s.q", "g.q")}) AS dmin
      FROM kfs{i - 1} s, kg{i} g WHERE s.vec_id <> g.vec_id)""")
    kpicks = "\n      UNION ALL ".join(
        ["SELECT 1::INTEGER AS cid, q AS cv FROM kg1"]
        + [f"SELECT {i}::INTEGER, q FROM kg{i}" for i in range(2, k_cells + 1)]
    )
    blocks.append(f""",
    kg1 AS MATERIALIZED (SELECT vec_id, q FROM qz ORDER BY vec_id LIMIT 1),
    kfs1 AS MATERIALIZED (
      SELECT z.vec_id, z.q, {dist("z.q", "g.q")} AS dmin
      FROM qz z, kg1 g WHERE z.vec_id <> g.vec_id){"".join(kseed)},
    kc0 AS MATERIALIZED (
      {kpicks})""")

    def kassign(tag: str, censrc: str) -> str:
        return f"""
    {tag} AS MATERIALIZED (
      SELECT vec_id, cid, dist FROM (
        SELECT vec_id, cid, dist,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY dist, cid) AS rn
        FROM (SELECT z.vec_id, c.cid, {dist("z.q", "c.cv")} AS dist
              FROM qz z CROSS JOIN {censrc} c))
      WHERE rn = 1)"""

    for r in range(1, coarse_rounds + 1):
        blocks.append("," + kassign(f"ka{r}", f"kc{r - 1}"))
        blocks.append(f""",
    ku{r} AS (
      SELECT cid, pos, sum(q[(pos + 1)::INT])::BIGINT AS sv,
             count(*)::BIGINT AS cnt
      FROM (SELECT a.cid, z.q, unnest(range(len(z.q))) AS pos
            FROM ka{r} a JOIN qz z USING (vec_id))
      GROUP BY cid, pos),
    kcn{r} AS (
      SELECT cid, list(sv // cnt ORDER BY pos) AS cv FROM ku{r} GROUP BY cid),
    kc{r} AS MATERIALIZED (
      SELECT p.cid, coalesce(n.cv, p.cv) AS cv
      FROM kc{r - 1} p LEFT JOIN kcn{r} n USING (cid))""")
    blocks.append("," + kassign("kaf", f"kc{coarse_rounds}"))

    # --- residual codes on the same grid ---
    blocks.append(f""",
    res AS MATERIALIZED (
      SELECT z.vec_id,
             list_transform(range(len(z.q)),
                            i -> z.q[(i + 1)::INT] - c.cv[(i + 1)::INT]) AS q,
             (len(z.q) // {m}) AS sub
      FROM qz z JOIN kaf a USING (vec_id) JOIN kc{coarse_rounds} c ON a.cid = c.cid)""")

    # --- PQ chain on residuals (the _pq_topk_oracle_sql body) ---
    pseed = []
    for i in range(2, k_codes + 1):
        pseed.append(f""",
    g{i} AS MATERIALIZED (
      SELECT s, vec_id, sq FROM (
        SELECT s, vec_id, sq,
               row_number() OVER (PARTITION BY s
                                  ORDER BY dmin DESC, vec_id) AS rn
        FROM fs{i - 1}) WHERE rn = 1),
    fs{i} AS MATERIALIZED (
      SELECT z.s, z.vec_id, z.sq, least(z.dmin, {dist("z.sq", "g.sq")}) AS dmin
      FROM fs{i - 1} z JOIN g{i} g ON z.s = g.s AND z.vec_id <> g.vec_id)""")
    ppicks = "\n      UNION ALL ".join(
        ["SELECT s, 1 AS cid, sq AS cv FROM g1"]
        + [f"SELECT s, {i}, sq FROM g{i}" for i in range(2, k_codes + 1)]
    )
    blocks.append(f""",
    subq AS MATERIALIZED (
      SELECT vec_id, s, q[(s * sub + 1):((s + 1) * sub)] AS sq
      FROM res, (SELECT unnest(range({m})) AS s)),
    g1 AS MATERIALIZED (
      SELECT s, vec_id, sq FROM (
        SELECT s, vec_id, sq,
               row_number() OVER (PARTITION BY s ORDER BY vec_id) AS rn
        FROM subq) WHERE rn = 1),
    fs1 AS MATERIALIZED (
      SELECT z.s, z.vec_id, z.sq, {dist("z.sq", "g.sq")} AS dmin
      FROM subq z JOIN g1 g ON z.s = g.s AND z.vec_id <> g.vec_id){"".join(pseed)},
    c0 AS MATERIALIZED (
      {ppicks})""")

    def passign(tag: str, censrc: str) -> str:
        return f"""
    {tag} AS MATERIALIZED (
      SELECT vec_id, s, cid FROM (
        SELECT z.vec_id, z.s, c.cid,
               row_number() OVER (PARTITION BY z.vec_id, z.s
                                  ORDER BY {dist("z.sq", "c.cv")}, c.cid) AS rn
        FROM subq z JOIN {censrc} c ON z.s = c.s) WHERE rn = 1)"""

    for r in range(1, pq_rounds + 1):
        blocks.append("," + passign(f"a{r}", f"c{r - 1}"))
        blocks.append(f""",
    u{r} AS (
      SELECT s, cid, pos, sum(sq[(pos + 1)::INT])::BIGINT AS sv,
             count(*)::BIGINT AS cnt
      FROM (SELECT a.s, a.cid, z.sq, unnest(range(len(z.sq))) AS pos
            FROM a{r} a JOIN subq z ON a.vec_id = z.vec_id AND a.s = z.s)
      GROUP BY s, cid, pos),
    cn{r} AS (
      SELECT s, cid, list(sv // cnt ORDER BY pos) AS cv
      FROM u{r} GROUP BY s, cid),
    c{r} AS MATERIALIZED (
      SELECT p.s, p.cid, coalesce(n.cv, p.cv) AS cv
      FROM c{r - 1} p LEFT JOIN cn{r} n ON p.s = n.s AND p.cid = n.cid)""")
    blocks.append("," + passign("af", f"c{pq_rounds}"))

    # --- query side: probe, residual ADC table, scan, refine ---
    blocks.append(f""",
    qsel AS MATERIALIZED (
      SELECT vec_id AS query_id, q FROM qz WHERE vec_id % {query_mod} = 0),
    pr AS MATERIALIZED (
      SELECT query_id, cell,
             list_transform(range(len(qq)),
                            i -> qq[(i + 1)::INT] - cv[(i + 1)::INT]) AS qr,
             (len(qq) // {m}) AS sub
      FROM (
        SELECT s.query_id, c.cid AS cell, s.q AS qq, c.cv,
               row_number() OVER (PARTITION BY s.query_id
                                  ORDER BY {dist("s.q", "c.cv")}, c.cid) AS rn
        FROM qsel s CROSS JOIN kc{coarse_rounds} c) WHERE rn <= {n_probe}),
    qsub AS (
      SELECT query_id, cell, s, qr[(s * sub + 1):((s + 1) * sub)] AS qsq
      FROM pr, (SELECT unnest(range({m})) AS s)),
    dtab AS MATERIALIZED (
      SELECT q.query_id, q.cell, q.s, c.cid, {dist("q.qsq", "c.cv")} AS d
      FROM qsub q JOIN c{pq_rounds} c ON q.s = c.s),
    sc AS (
      SELECT t.query_id, a.vec_id AS neighbor_id, sum(t.d)::BIGINT AS pq_dist
      FROM af a
      JOIN kaf ka ON a.vec_id = ka.vec_id
      JOIN dtab t ON ka.cid = t.cell AND a.s = t.s AND a.cid = t.cid
      WHERE a.vec_id <> t.query_id
      GROUP BY t.query_id, a.vec_id),
    cand AS (
      SELECT query_id, neighbor_id, pq_dist FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY pq_dist, neighbor_id) AS crn
        FROM sc)
      WHERE crn <= {rerank}),
    rer AS (
      SELECT c.query_id, c.neighbor_id, c.pq_dist,
             {dist("nq.q", "qq.q")} AS dist_grid
      FROM cand c
      JOIN qz nq ON c.neighbor_id = nq.vec_id
      JOIN qz qq ON c.query_id = qq.vec_id)
    SELECT query_id, neighbor_id, pq_dist, dist_grid,
           rank::INTEGER AS rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY dist_grid, neighbor_id) AS rank
      FROM rer)
    WHERE rank <= {k}""")
    return "".join(blocks)


ORACLE_SQL["ivfpq_topk"] = _ivfpq_oracle_sql()


def _hd_rotation_ctes(d: int = 64, seed: str = "opq") -> str:
    """DuckDB mirror of ``operators/opq.py::hd_rotate``: the ±1 sign
    diagonal (literal indices from the SAME Python hd_signs call the
    Spark side inlines — no cross-engine hash) followed by log2(d)
    Walsh–Hadamard butterfly passes, each a fixed binary expression
    tree so IEEE double evaluation matches Spark bit-exactly."""
    from .operators.opq import hd_signs

    signs = hd_signs(d, seed=seed)
    neg = ", ".join(str(j) for j, s in enumerate(signs) if s < 0)
    ctes = [
        f"""r0 AS (
      SELECT vec_id,
             list_transform(range({d}), i -> v[(i + 1)::INT]
                 * (CASE WHEN i IN ({neg}) THEN -1.0 ELSE 1.0 END)) AS r
      FROM (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings))"""
    ]
    b, step = 1, 1
    while b < d:
        ctes.append(f"""r{step} AS (
      SELECT vec_id,
             list_transform(range({d}), i -> CASE WHEN (i & {b}) = 0
                 THEN r[(i + 1)::INT] + r[((i | {b}) + 1)::INT]
                 ELSE r[(xor(i, {b}) + 1)::INT] - r[(i + 1)::INT] END) AS r
      FROM r{step - 1})""")
        b <<= 1
        step += 1
    return ",\n    ".join(ctes) + ",\n    "


# Final rotation CTE name derived from the SAME d that built the CTE
# chain (log2(d) butterfly passes) — a hardcoded 'r6' would silently
# desync the oracle if the dimension ever changed (ADVICE r8).
_OPQ_D = 64
ORACLE_SQL["opq_topk"] = _pq_topk_oracle_sql(
    base_ctes=_hd_rotation_ctes(_OPQ_D),
    base_select=f"SELECT vec_id, r AS v FROM r{_OPQ_D.bit_length() - 1}",
)

ORACLE_SQL["url_dedup"] = f"""
    WITH u AS ({_SYNTHETIC_URL_SQL}),
    n AS ({_NORM_URL_SQL})
    SELECT norm_url, min(doc_id)::BIGINT AS keeper_id,
           count(*)::BIGINT AS n_dups
    FROM n GROUP BY norm_url
"""

ORACLE_SQL["blocklist_filter"] = """
    WITH w AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\\s+'),
                         x -> x <> '') AS ws
      FROM documents),
    m AS (
      SELECT doc_id, len(ws)::BIGINT AS n_words,
             len(list_filter(ws,
                 x -> x IN ('big', 'dup', 'slow', 'the')))::BIGINT AS soft_hits,
             len(list_filter(ws, x -> x IN ('dup')))::BIGINT AS severe_hits,
             len(list_intersect(list_distinct(ws),
                 ['big', 'dup', 'slow', 'the']))::BIGINT AS distinct_blocked
      FROM w)
    SELECT doc_id, n_words, soft_hits, severe_hits, distinct_blocked,
           (soft_hits * 1000000 // greatest(n_words, 1))::BIGINT AS soft_ppm,
           severe_hits = 0 AS ok_severe,
           (soft_hits * 1000000 // greatest(n_words, 1)) <= 100000 AS ok_soft,
           (severe_hits = 0
            AND (soft_hits * 1000000 // greatest(n_words, 1)) <= 100000) AS keep
    FROM m
"""

ORACLE_SQL["perplexity_buckets"] = """
    WITH words AS (
      SELECT doc_id,
             unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                                w -> w <> '')) AS term
      FROM documents),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM words GROUP BY doc_id, term),
    cf AS (SELECT term, sum(tf) AS cf FROM tf GROUP BY term),
    tot AS (SELECT sum(cf) AS total FROM cf),
    sc AS (
      SELECT doc_id, sum(tf)::BIGINT AS n_tokens,
             round(sum(tf * ln(cf / total)) / sum(tf), 6) AS avg_logprob
      FROM tf JOIN cf USING (term), tot GROUP BY doc_id),
    j AS (
      SELECT d.doc_id, d.lang, s.n_tokens, s.avg_logprob
      FROM documents d JOIN sc s ON d.doc_id = s.doc_id),
    b AS (
      SELECT *,
             ntile(3) OVER (PARTITION BY lang
                            ORDER BY avg_logprob DESC, doc_id) AS bucket,
             count(*) OVER (PARTITION BY lang) AS _n
      FROM j)
    SELECT doc_id, lang, n_tokens, avg_logprob, bucket::INTEGER AS bucket,
           CASE WHEN bucket = 1 THEN 'head'
                WHEN bucket = least(3, _n) THEN 'tail'
                ELSE 'middle' END AS bucket_label
    FROM b
"""

ORACLE_SQL["domain_priors"] = f"""
    WITH u AS ({_SYNTHETIC_URL_SQL}),
    n AS ({_NORM_URL_SQL}),
    d AS (
      SELECT doc_id, text, string_split(norm_url, '/')[1] AS dom FROM n),
    r AS (
      SELECT doc_id, text,
             CASE WHEN len(string_split(dom, '.')) >= 2
                  THEN string_split(dom, '.')[-2] || '.'
                       || string_split(dom, '.')[-1]
                  ELSE dom END AS domain
      FROM d),
    w AS (
      SELECT domain, doc_id, text,
             len(list_filter(string_split_regex(lower(text), '\\s+'),
                             x -> x <> ''))::BIGINT AS wc
      FROM r),
    g AS (
      SELECT domain, count(*)::BIGINT AS n_docs,
             count(DISTINCT text)::BIGINT AS uq, sum(wc)::BIGINT AS tw
      FROM w GROUP BY domain)
    SELECT domain, n_docs,
           (uq * 1000000 // n_docs)::BIGINT AS uniq_grid,
           (tw * 1000000 // n_docs)::BIGINT AS words_grid,
           (((uq * 1000000 // n_docs)
             + (least(tw * 1000000 // n_docs, 100000000) // 100)) // 2)::BIGINT
             AS prior_grid
    FROM g
"""


# --------------------------------------------------------------------------
# Flagship on the driver corpus (rows-only check: fuzzy scoring has no
# DuckDB equivalent) — also the `entry()` query.
# --------------------------------------------------------------------------

_FIRST_NAMES = [
    "rajesh", "ananya", "sanjay", "neha", "amit", "swati", "harsh", "pooja",
    "vikram", "meena", "arjun", "kavya", "rohan", "divya", "nitin", "isha",
    "manoj", "tanvi", "deepak", "ritu",
]
_LAST_NAMES = [
    "sharma", "patel", "kulkarni", "reddy", "menon", "tripathi", "verma",
    "malhotra", "bhatia", "kapoor", "joshi", "nair", "desai", "chopra",
    "gupta", "singh", "rao", "iyer", "mehta", "saxena",
]


def _corpus_roster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic human-name roster derived from customer keys (the
    corpus has synthetic ``Customer#...`` names; FIXTURES.md §D)."""
    c = table(spark, sf_dir, "customer")
    first = F.element_at(F.array(*[F.lit(x) for x in _FIRST_NAMES]), (F.col("c_custkey") % 20 + 1).cast("int"))
    last = F.element_at(F.array(*[F.lit(x) for x in _LAST_NAMES]), ((F.col("c_custkey") / 20) % 20 + 1).cast("int"))
    return c.select(
        F.col("c_custkey").cast("string").alias("emp_id"),
        F.initcap(first).alias("first_name"),
        F.initcap(last).alias("last_name"),
        F.concat_ws(" ", F.initcap(first), F.initcap(last)).alias("employee_name"),
    )


def _corpus_usernames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Usernames in the reference's observed patterns (FIXTURES.md §B),
    derived deterministically from the roster names."""
    r = _corpus_roster(spark, sf_dir)
    f = F.lower(F.col("first_name"))
    l = F.lower(F.col("last_name"))
    key = F.col("emp_id").cast("long")
    uname = (
        F.when(key % 7 == 0, F.concat(f, F.lit("."), l))
        .when(key % 7 == 1, F.concat(l, F.lit("_"), f))
        .when(key % 7 == 2, F.concat(F.substring(f, 1, 1), l, F.lit("9"), (key % 10).cast("string")))
        .when(key % 7 == 3, F.concat(F.lit("iam_"), f))
        .when(key % 7 == 4, F.concat(f, (key % 100).cast("string")))
        .when(key % 7 == 5, F.concat(F.substring(f, 1, 3), F.lit("_"), l))
        .otherwise(F.concat(F.lit("the_real_"), f))
    )
    return r.select(uname.alias("username")).union(
        spark.createDataFrame([("testme",), ("ghost_user42",), ("",)], ["username"])
    )


def flagship_corpus_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship similarity join on the driver corpus (rows-only check).

    Uses blocked candidate generation: the corpus roster grows with sf
    (15k employees at sf0.1 → 225M cross-join pairs), and blocking is the
    scale path the 100 TB design prescribes; cross-vs-blocked equivalence
    on surviving matches is covered by tests/test_matching.py.
    """
    from .operators.matching import match_usernames

    return match_usernames(
        _corpus_usernames(spark, sf_dir),
        _corpus_roster(spark, sf_dir),
        blocking=True,
    )

# Bloom decontamination: the oracle rebuilds the SAME 65536-bit filter
# (3 salted md5_60 positions per gram) and replays membership — false
# positives and all — so the hash check covers the filter itself, not
# just the happy path.
ORACLE_SQL["bloom_decontaminate"] = """
    WITH w AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\\s+'),
                         x -> x <> '') AS ws
      FROM documents),
    g AS (
      SELECT doc_id,
             list_distinct(CASE WHEN len(ws) >= 4
               THEN list_transform(range(1, len(ws) - 2),
                                   i -> array_to_string(list_slice(ws, i, i + 3), ' '))
               ELSE []::VARCHAR[] END) AS grams
      FROM w),
    j AS (SELECT unnest(range(3)) AS j),
    eb AS (
      SELECT DISTINCT
             ('0x' || substr(md5(gram || '#' || j::VARCHAR), 1, 15))::BIGINT % 65536 AS bit
      FROM (SELECT DISTINCT unnest(grams) AS gram FROM g WHERE doc_id % 97 = 0)
      CROSS JOIN j),
    cb AS (
      SELECT doc_id, gram, j,
             ('0x' || substr(md5(gram || '#' || j::VARCHAR), 1, 15))::BIGINT % 65536 AS bit
      FROM (SELECT doc_id, unnest(grams) AS gram FROM g WHERE doc_id % 97 <> 0)
      CROSS JOIN j),
    fl AS (
      SELECT doc_id, gram
      FROM cb SEMI JOIN eb USING (bit)
      GROUP BY doc_id, gram
      HAVING count(DISTINCT j) = 3),
    cnt AS (SELECT doc_id, count(*) AS n_flagged FROM fl GROUP BY doc_id)
    SELECT d.doc_id,
           coalesce(c.n_flagged, 0)::BIGINT AS n_flagged,
           coalesce(c.n_flagged, 0) > 0 AS contaminated
    FROM (SELECT doc_id FROM documents WHERE doc_id % 97 <> 0) d
    LEFT JOIN cnt c USING (doc_id)
"""

ORACLE_SQL["stratified_sample"] = """
    WITH ranked AS (
      SELECT doc_id AS id, source AS stratum,
             row_number() OVER (
               PARTITION BY source
               ORDER BY ('0x' || substr(md5('s1#' || doc_id::VARCHAR), 1, 15))::BIGINT ASC,
                        doc_id ASC) AS sample_rank
      FROM documents)
    SELECT id, stratum, sample_rank::INT AS sample_rank
    FROM ranked WHERE sample_rank <= 5
"""

ORACLE_SQL["vocab_coverage"] = """
    WITH tf AS (
      SELECT doc_id, w, count(*) AS cnt
      FROM (SELECT doc_id,
                   unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                                      x -> x <> '')) AS w
            FROM documents)
      GROUP BY doc_id, w),
    vocab AS (
      SELECT w FROM (SELECT w, sum(cnt) AS cf FROM tf GROUP BY w)
      ORDER BY cf DESC, w ASC LIMIT 16),
    per_doc AS (
      SELECT doc_id, sum(cnt) AS n_tokens,
             sum(CASE WHEN v.w IS NULL THEN cnt ELSE 0 END) AS n_oov
      FROM tf LEFT JOIN vocab v USING (w)
      GROUP BY doc_id)
    SELECT d.doc_id,
           coalesce(p.n_tokens, 0)::BIGINT AS n_tokens,
           coalesce(p.n_oov, 0)::BIGINT AS n_oov,
           round(CASE WHEN coalesce(p.n_tokens, 0) > 0
                 THEN coalesce(p.n_oov, 0)::DOUBLE / p.n_tokens
                 ELSE 0.0 END, 6) AS oov_rate
    FROM documents d LEFT JOIN per_doc p USING (doc_id)
"""

ORACLE_SQL["inverted_index"] = """
    WITH wd AS (
      SELECT DISTINCT doc_id, w AS term
      FROM (SELECT doc_id,
                   unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                                      x -> x <> '')) AS w
            FROM documents))
    SELECT term,
           count(*)::BIGINT AS df_count,
           array_to_string(list_slice(list_sort(list(doc_id)), 1, 10), ',') AS postings
    FROM wd GROUP BY term
"""

ORACLE_SQL["containment_dedup"] = """
    WITH base AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\\s+'),
                         w -> w <> '') AS words
      FROM documents),
    sh AS (
      SELECT doc_id,
             list_distinct(CASE WHEN len(words) >= 2
               THEN list_transform(range(1, len(words)),
                                   i -> words[i] || ' ' || words[i + 1])
               ELSE words END) AS shingles
      FROM base),
    sized AS (SELECT doc_id, shingles, len(shingles) AS n FROM sh
              WHERE len(shingles) > 0)
    SELECT doc_a, doc_b, containment FROM (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             round(CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
                   / least(a.n, b.n), 6) AS containment
      FROM sized a JOIN sized b ON a.doc_id < b.doc_id)
    WHERE containment >= 0.5
"""

# Bit-exact replay of minhash_containment_pairs(hash_fn="md5_60",
# sketch_k=16, shingle_n=2, threshold=0.4): same md5_60 shingle hashes,
# same bottom-16 sketch, same shared-element candidate generation, same
# integer-product estimator y*(n_a+n_b) / ((m+y)*min(n_a,n_b)) — one
# double division, so the approximation itself (false shares included)
# hash-matches.
# Bit-exact replay of q_zorder_key: the oracle's interleaving expression
# is GENERATED from the same zorder_sql helper the engine documents for
# external pushdown, so Spark and DuckDB compute the identical Morton
# key bit-for-bit.
from .functions.layout import zorder_sql as _zorder_sql  # noqa: E402

_Z_X = "(user_id % 256)"
_Z_Y = "least(greatest(floor(value)::BIGINT, 0), 255)"
ORACLE_SQL["zorder_key"] = f"""
    SELECT event_id, {_Z_X} AS x, {_Z_Y} AS y,
           {_zorder_sql([_Z_X, _Z_Y], bits=8)} AS zkey
    FROM events
"""

ORACLE_SQL["containment_sketch"] = """
    WITH base AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\\s+'),
                         w -> w <> '') AS words
      FROM documents),
    sh AS (
      SELECT doc_id,
             list_distinct(CASE WHEN len(words) >= 2
               THEN list_transform(range(1, len(words)),
                                   i -> words[i] || ' ' || words[i + 1])
               ELSE words END) AS shingles
      FROM base),
    sized AS (
      SELECT doc_id, len(hs) AS n, list_sort(hs)[1:16] AS sk
      FROM (SELECT doc_id,
                   list_transform(shingles,
                       s -> ('0x' || substr(md5(s), 1, 15))::BIGINT) AS hs
            FROM sh WHERE len(shingles) > 0)),
    tok AS (SELECT doc_id, unnest(sk) AS h FROM sized),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM tok a JOIN tok b ON a.h = b.h AND a.doc_id < b.doc_id),
    est AS (
      SELECT doc_a, doc_b, sa.n AS n_a, sb.n AS n_b,
             len(list_sort(list_distinct(sa.sk || sb.sk))[1:16]) AS m,
             len(list_intersect(list_sort(list_distinct(sa.sk || sb.sk))[1:16],
                                list_intersect(sa.sk, sb.sk))) AS y
      FROM cand
      JOIN sized sa ON sa.doc_id = cand.doc_a
      JOIN sized sb ON sb.doc_id = cand.doc_b)
    SELECT doc_a, doc_b, containment_est FROM (
      SELECT doc_a, doc_b,
             round((y * (n_a + n_b))::DOUBLE
                   / ((m + y) * least(n_a, n_b)), 6) AS containment_est
      FROM est)
    WHERE containment_est >= 0.4
"""

ORACLE_SQL["window_range_frame"] = """
    SELECT event_id, user_id,
           (epoch_ms(ts) // 1000)::BIGINT AS ts_sec,
           (sum(value::DECIMAL(18,2)) OVER w)::DOUBLE AS rolling_sum,
           (count(*) OVER w)::BIGINT AS rolling_cnt
    FROM events
    WINDOW w AS (PARTITION BY user_id
                 ORDER BY (epoch_ms(ts) // 1000)::BIGINT
                 RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
"""

ORACLE_SQL["salted_agg"] = """
    SELECT event_type, count(*)::BIGINT AS cnt FROM events GROUP BY event_type
"""

ORACLE_SQL["correlated_subquery"] = """
    SELECT l1.l_partkey AS partkey,
           CAST(SUM(CAST(l1.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
             AS small_qty_revenue,
           COUNT(*) AS n_items
    FROM lineitem l1
    WHERE CAST(l1.l_quantity AS DECIMAL(18,2)) * 5 *
          (SELECT COUNT(*) FROM lineitem l2
           WHERE l2.l_partkey = l1.l_partkey)
          < (SELECT SUM(CAST(l3.l_quantity AS DECIMAL(18,2)))
             FROM lineitem l3 WHERE l3.l_partkey = l1.l_partkey)
    GROUP BY l1.l_partkey
"""

ORACLE_SQL["correlated_exists"] = """
    SELECT c.c_custkey, c.c_mktsegment
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderstatus = 'O'
                    AND o.o_totalprice > 150000)
      AND NOT EXISTS (SELECT 1 FROM orders o2
                      WHERE o2.o_custkey = c.c_custkey
                        AND o2.o_orderstatus = 'F')
"""

ORACLE_SQL["null_semantics"] = """
    WITH tagged AS (
      SELECT nullif(event_type, 'click') AS et_nullable,
             json_extract_string(props, '$.missing_key') AS absent,
             value
      FROM events)
    SELECT et_nullable,
           count(*)::BIGINT AS n_rows,
           count(et_nullable)::BIGINT AS n_nonnull,
           sum(CASE WHEN et_nullable IS NOT DISTINCT FROM absent
               THEN 1 ELSE 0 END)::BIGINT AS n_nullsafe_eq,
           sum(CASE WHEN coalesce(et_nullable, 'fallback') = 'fallback'
               THEN 1 ELSE 0 END)::BIGINT AS n_fallback
    FROM tagged GROUP BY et_nullable
"""

ORACLE_SQL["time_topk"] = """
    WITH hourly AS (
      SELECT date_trunc('hour', ts) AS bucket, user_id,
             sum(value::DECIMAL(18,2)) AS spend
      FROM events WHERE event_type = 'purchase'
      GROUP BY 1, 2),
    ranked AS (
      SELECT (epoch_ms(bucket) // 1000)::BIGINT AS bucket_sec, user_id,
             spend::DOUBLE AS spend,
             row_number() OVER (PARTITION BY bucket
                                ORDER BY spend DESC, user_id ASC) AS rnk
      FROM hourly)
    SELECT bucket_sec, user_id, spend, rnk::INT AS rnk FROM ranked WHERE rnk <= 3
"""

# Triangles over the same near-dup pair stream as dedup_clusters: the
# oracle re-derives the exact-Jaccard pairs and closes wedges with a
# 3-way self-join on canonical (u < v) edges — triangle a<b<c matches
# exactly once as (a,b)+(b,c)+(a,c).
ORACLE_SQL["doc_triangles"] = """
    WITH base AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\\s+'),
                         w -> w <> '') AS words
      FROM documents),
    sh AS (
      SELECT doc_id,
             list_distinct(CASE WHEN len(words) >= 2
               THEN list_transform(range(1, len(words)),
                                   i -> words[i] || ' ' || words[i + 1])
               ELSE words END) AS shingles
      FROM base),
    sized AS (SELECT doc_id, shingles, len(shingles) AS n FROM sh
              WHERE len(shingles) > 0),
    e AS MATERIALIZED (
      -- MATERIALIZED: e is referenced three times below; inlining would
      -- re-run the quadratic list_intersect cross join per reference
      SELECT a.doc_id AS u, b.doc_id AS v
      FROM sized a JOIN sized b
        ON a.doc_id < b.doc_id
       AND least(a.n, b.n) >= 0.5 * greatest(a.n, b.n)
      WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
              / (a.n + b.n - len(list_intersect(a.shingles, b.shingles))) >= 0.5)
    SELECT e1.u AS node_a, e1.v AS node_b, e2.v AS node_c
    FROM e e1
    JOIN e e2 ON e2.u = e1.v
    JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
"""

ORACLE_SQL["grouped_udaf"] = """
    WITH med AS (
      SELECT event_type, median(value) AS m FROM events GROUP BY event_type)
    SELECT e.event_type,
           round(median(abs(e.value - m.m)), 6) AS mad_value,
           count(*)::BIGINT AS n_events
    FROM events e JOIN med m USING (event_type)
    GROUP BY e.event_type
"""

ORACLE_SQL["enrich_events"] = """
    SELECT c_mktsegment,
           count(*)::BIGINT AS n_events,
           (sum(value::DECIMAL(18,2)))::DOUBLE AS total_value,
           count(DISTINCT user_id)::BIGINT AS n_users
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY c_mktsegment
"""

ORACLE_SQL["python_datasource"] = """
    WITH g AS (
      SELECT i, ('0x' || substr(md5(i::VARCHAR), 1, 15))::BIGINT AS h
      FROM generate_series(0, 4999) t(i))
    SELECT h % 16 AS bucket,
           count(*)::BIGINT AS n_rows,
           sum(i)::BIGINT AS sum_i,
           min(h) AS min_hash,
           max(h) AS max_hash
    FROM g GROUP BY bucket
"""

ORACLE_SQL["lateral_topk_join"] = """
    SELECT c.c_custkey, t.o_orderkey,
           (t.o_totalprice::DECIMAL(18,2))::DOUBLE AS totalprice
    FROM customer c,
    LATERAL (SELECT o_orderkey, o_totalprice FROM orders o
             WHERE o.o_custkey = c.c_custkey
             ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
"""

ORACLE_SQL["variant_events"] = """
    WITH parsed AS (
      SELECT event_type,
             json_extract(props, '$.k')::BIGINT AS k,
             json_extract(props, '$.missing')::BIGINT AS absent
      FROM events)
    SELECT event_type,
           count(*)::BIGINT AS n_events,
           sum(k)::BIGINT AS sum_k,
           max(k)::BIGINT AS max_k,
           count(absent)::BIGINT AS n_absent
    FROM parsed GROUP BY event_type
"""

ORACLE_SQL["unpivot_metrics"] = """
    WITH wide AS (
      SELECT l_returnflag,
             (sum(l_quantity::DECIMAL(18,2)))::DOUBLE AS qty,
             (sum(l_extendedprice::DECIMAL(18,2)))::DOUBLE AS price,
             (sum(l_discount::DECIMAL(18,2)))::DOUBLE AS discount
      FROM lineitem GROUP BY l_returnflag)
    SELECT l_returnflag, 'qty' AS measure, qty AS value FROM wide
    UNION ALL
    SELECT l_returnflag, 'price', price FROM wide
    UNION ALL
    SELECT l_returnflag, 'discount', discount FROM wide
"""

# Spark's mode(col, deterministic=true) returns the LOWEST value among
# tied maxima; the oracle replays that tiebreak explicitly.
ORACLE_SQL["mode_stats"] = """
    WITH bucketed AS (
      SELECT event_type, floor(value / 50)::BIGINT AS bucket FROM events),
    counts AS (
      SELECT event_type, bucket, count(*) AS c
      FROM bucketed GROUP BY event_type, bucket),
    ranked AS (
      SELECT event_type, bucket,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY c DESC, bucket ASC) AS rn
      FROM counts),
    totals AS (
      SELECT event_type, count(*) AS n_events FROM bucketed GROUP BY event_type)
    SELECT t.event_type, r.bucket AS mode_bucket, t.n_events::BIGINT AS n_events
    FROM totals t JOIN ranked r ON r.event_type = t.event_type AND r.rn = 1
"""

ORACLE_SQL["recursive_cte"] = _RECURSIVE_CTE_SQL

ORACLE_SQL["collection_ops"] = """
    WITH base AS (
      SELECT event_id,
             range(1, (event_id % 8 + 3)::INT + 1) AS arr,
             json_extract(props, '$.k')::BIGINT AS k_value
      FROM events)
    SELECT event_id,
           len(arr)::INT AS arr_len,
           list_sum(list_transform(arr, x -> x * x))::BIGINT AS sum_squares,
           len(list_filter(arr, x -> x % 2 = 0))::INT AS n_even,
           list_sum(list_transform(range(len(arr)),
                    i -> arr[i + 1] * arr[len(arr) - i]))::BIGINT AS dot_reversed,
           k_value,
           1::INT AS n_keys
    FROM base
"""

# Dynamic-gap sessionization replay: Spark merges sessions when the next
# event's start is STRICTLY before the running max end (end-exclusive);
# the islands form under a running max of per-event ends.
ORACLE_SQL["session_dynamic_gap"] = """
    WITH t AS (
      SELECT user_id,
             (epoch_ms(date_trunc('second', ts)) // 1000)::BIGINT AS s,
             CASE WHEN event_type = 'error' THEN 600 ELSE 300 END AS gap
      FROM events),
    o AS (
      SELECT user_id, s, gap,
             max(s + gap) OVER (PARTITION BY user_id ORDER BY s
                                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS prev_end
      FROM t),
    m AS (
      SELECT user_id, s, gap,
             CASE WHEN prev_end IS NULL OR s > prev_end THEN 1 ELSE 0 END AS is_new
      FROM o),
    isl AS (
      SELECT user_id, s, gap,
             sum(is_new) OVER (PARTITION BY user_id ORDER BY s
                               ROWS UNBOUNDED PRECEDING) AS sid
      FROM m)
    SELECT user_id,
           min(s) AS start_s,
           max(s + gap) AS end_s,
           count(*)::BIGINT AS n_events
    FROM isl GROUP BY user_id, sid
"""


# Event-analytics family (operators/analytics.py).  Funnel: chained
# first-touch reach times; step i+1 must land strictly after and within
# 24 h of step i (interval arithmetic — microsecond-exact, no
# truncation semantics to replicate).
ORACLE_SQL["event_funnel"] = """
    WITH t1 AS (
      SELECT user_id, min(ts) AS r FROM events
      WHERE event_type = 'view' GROUP BY user_id),
    t2 AS (
      SELECT e.user_id, min(e.ts) AS r
      FROM events e JOIN t1 ON e.user_id = t1.user_id
      WHERE e.event_type = 'click' AND e.ts > t1.r
        AND e.ts <= t1.r + INTERVAL 86400 SECOND
      GROUP BY e.user_id),
    t3 AS (
      SELECT e.user_id, min(e.ts) AS r
      FROM events e JOIN t2 ON e.user_id = t2.user_id
      WHERE e.event_type = 'purchase' AND e.ts > t2.r
        AND e.ts <= t2.r + INTERVAL 86400 SECOND
      GROUP BY e.user_id)
    SELECT 0 AS step_idx, 'view' AS step, count(*)::BIGINT AS users_reached FROM t1
    UNION ALL
    SELECT 1, 'click', count(*)::BIGINT FROM t2
    UNION ALL
    SELECT 2, 'purchase', count(*)::BIGINT FROM t3
"""

# Cohort weeks are Monday-truncated in both engines; offsets are exact
# multiples of 7 days, so the /7 division is exact and cast-safe.
ORACLE_SQL["cohort_retention"] = """
    WITH uw AS (
      SELECT DISTINCT user_id,
             date_trunc('week', ts) AS wk,
             min(date_trunc('week', ts)) OVER (PARTITION BY user_id) AS cohort
      FROM events)
    SELECT CAST(cohort AS DATE) AS cohort_week,
           CAST(date_diff('day', cohort, wk) / 7 AS INT) AS week_offset,
           count(*)::BIGINT AS n_users
    FROM uw GROUP BY 1, 2
"""

# date_diff('second') counts second-boundary crossings, which equals
# Spark's unix_timestamp floor difference by construction.
ORACLE_SQL["event_transitions"] = """
    WITH t AS (
      SELECT lag(event_type) OVER w AS prev_type,
             event_type AS next_type,
             date_diff('second', lag(ts) OVER w, ts) AS gap
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
    SELECT prev_type, next_type, count(*)::BIGINT AS n_transitions
    FROM t WHERE prev_type IS NOT NULL AND gap <= 1800
    GROUP BY 1, 2
    ORDER BY n_transitions DESC, prev_type, next_type
    LIMIT 20
"""

# Fixed-point gap-fill replay: hour index = floor(epoch/3600), value on
# the 1e6 integer grid, last-in-hour by (ts, event_id); the interp slope
# is floor of one double division of exactly-representable integers —
# bit-identical to Spark's expression.
ORACLE_SQL["gapfill_interpolate"] = """
    WITH obs AS (
      SELECT u, h, v FROM (
        SELECT user_id AS u,
               CAST(floor(floor(epoch(ts)) / 3600.0) AS BIGINT) AS h,
               CAST(floor(value * 1000000) AS BIGINT) AS v,
               row_number() OVER (PARTITION BY user_id,
                                  CAST(floor(floor(epoch(ts)) / 3600.0) AS BIGINT)
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events) WHERE rn = 1),
    grid AS (
      SELECT u, unnest(range(h0, h1 + 1)) AS h
      FROM (SELECT u, min(h) AS h0, max(h) AS h1 FROM obs GROUP BY u)),
    j AS (SELECT g.u, g.h, o.v FROM grid g LEFT JOIN obs o USING (u, h)),
    f AS (
      SELECT u, h, v,
             last_value(v IGNORE NULLS) OVER wb AS pv,
             last_value(CASE WHEN v IS NOT NULL THEN h END IGNORE NULLS) OVER wb AS ph,
             first_value(v IGNORE NULLS) OVER wf AS nv,
             first_value(CASE WHEN v IS NOT NULL THEN h END IGNORE NULLS) OVER wf AS nh
      FROM j
      WINDOW wb AS (PARTITION BY u ORDER BY h
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             wf AS (PARTITION BY u ORDER BY h
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
    SELECT u AS user_id,
           h * 3600 AS hour_s,
           v AS value_fp,
           pv AS locf_fp,
           CASE WHEN v IS NOT NULL THEN v
                WHEN pv IS NOT NULL AND nv IS NOT NULL
                  THEN pv + CAST(floor(CAST((nv - pv) * (h - ph) AS DOUBLE)
                                       / CAST(nh - ph AS DOUBLE)) AS BIGINT)
                WHEN pv IS NOT NULL THEN pv
                ELSE NULL END AS filled_fp,
           CASE WHEN v IS NOT NULL THEN 'observed'
                WHEN pv IS NOT NULL AND nv IS NOT NULL THEN 'interpolated'
                WHEN pv IS NOT NULL THEN 'locf'
                ELSE 'leading' END AS fill_kind
    FROM f
"""

# The oracle aggregates raw events at the daily grain directly; the
# Spark query reaggregates hourly partials — equality proves the
# continuous-aggregate contract (decimal sums are associative).
ORACLE_SQL["hierarchical_rollup"] = """
    SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
           event_type,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value,
           count(*)::BIGINT AS n_events
    FROM events GROUP BY 1, 2
"""


# TPC-H shape analogs over the driver corpus (no partsupp table, no
# receipt/commit dates or ship modes — Q9/Q7 adapt accordingly).
ORACLE_SQL["volume_shipping"] = """
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(year(l_shipdate) AS INTEGER) AS l_year,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
                    (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
                AS DOUBLE) AS revenue
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation n1 ON s_nationkey = n1.n_nationkey
    JOIN nation n2 ON c_nationkey = n2.n_nationkey
    WHERE l_shipdate >= TIMESTAMP '1995-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
      AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
    GROUP BY 1, 2, 3
"""

ORACLE_SQL["product_profit"] = """
    SELECT n_name AS nation, CAST(year(o_orderdate) AS INTEGER) AS o_year,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
                    (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
                AS DOUBLE) AS profit
    FROM lineitem
    JOIN part     ON l_partkey = p_partkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN orders   ON l_orderkey = o_orderkey
    WHERE p_brand = 'Brand#1'
    GROUP BY 1, 2
"""

ORACLE_SQL["top_supplier"] = """
    WITH rev AS (
      SELECT l_suppkey AS supplier_no,
             SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
                 (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
               AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate <  TIMESTAMP '1996-04-01'
      GROUP BY 1)
    SELECT s_suppkey, s_name, CAST(total_revenue AS DOUBLE) AS total_revenue
    FROM rev JOIN supplier ON supplier_no = s_suppkey
    WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
"""

ORACLE_SQL["large_orders"] = """
    WITH big AS (
      SELECT l_orderkey, SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sum_qty
      FROM lineitem GROUP BY 1
      HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 300)
    SELECT c_custkey, c_name, o_orderkey,
           CAST(o_orderdate AS DATE) AS o_orderdate,
           o_totalprice,
           CAST(sum_qty AS DOUBLE) AS sum_qty
    FROM big
    JOIN orders   ON big.l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
"""

ORACLE_SQL["promo_revenue"] = """
    SELECT CAST(date_trunc('month', l_shipdate) AS DATE) AS month,
           100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO'
                        THEN CAST(l_extendedprice AS DECIMAL(18,2)) *
                             (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
                        ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
                 / CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
                            (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
                        AS DOUBLE) AS promo_pct
    FROM lineitem JOIN part ON l_partkey = p_partkey
    GROUP BY 1
"""

ORACLE_SQL["order_count_distribution"] = """
    SELECT c_count, count(*)::BIGINT AS custdist
    FROM (
      SELECT c_custkey, count(o_orderkey) AS c_count
      FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      GROUP BY c_custkey)
    GROUP BY c_count
"""


def _semantic_dedup_oracle_sql(dim: int = 64, nbits: int = 4, pct: int = 30) -> str:
    """DuckDB mirror of ``q_semantic_dedup``: the cell signature expands
    the same :func:`..operators.simsearch.lsh_plane` constants in the
    same fold order (bit-identical sign tests), quantization replays
    ``quantize_expr`` term-for-term, and the similarity predicate is
    pure int64 — no float comparison anywhere."""
    from .operators.simsearch import lsh_plane

    def dot(vec: str, b: int) -> str:
        return " + ".join(f"{vec}[{d + 1}]*({lsh_plane(0, b, d)!r})" for d in range(dim))

    sig = " + ".join(
        f"(CASE WHEN ({dot('v', b)}) > 0 THEN {1 << b} ELSE 0 END)" for b in range(nbits)
    )
    return f"""
    WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    s AS (
      SELECT vec_id, v,
             greatest(list_max(list_transform(v, x -> abs(x))), 1e-30) AS sc,
             ({sig})::BIGINT AS cell
      FROM base),
    n AS (
      SELECT vec_id, cell,
             list_transform(v, x -> floor(x / sc * 127.0 + 0.5)::BIGINT) AS q,
             list_sum(list_transform(v, x -> (floor(x / sc * 127.0 + 0.5)::BIGINT
                                              * floor(x / sc * 127.0 + 0.5)::BIGINT)))::BIGINT AS n2
      FROM s),
    pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             list_sum(list_transform(range({dim}),
                 i -> a.q[i + 1] * b.q[i + 1]))::BIGINT AS dot,
             a.n2 AS na, b.n2 AS nb
      FROM n a JOIN n b ON a.cell = b.cell AND a.vec_id < b.vec_id),
    dup AS (
      SELECT id_b, min(id_a) AS dup_of FROM pairs
      WHERE dot > 0 AND dot * dot * 10000 >= {pct * pct} * na * nb
      GROUP BY id_b)
    SELECT n.vec_id, n.cell, dup.dup_of IS NULL AS kept, dup.dup_of
    FROM n LEFT JOIN dup ON n.vec_id = dup.id_b
    """


ORACLE_SQL["semantic_dedup"] = _semantic_dedup_oracle_sql()


# Per-term KL contributions floor onto a 1e-9 int64 grid before the
# sum, so partition order can't move the total; ln parity at that grid
# is the established weighted_sample precedent.
ORACLE_SQL["source_divergence"] = """
    WITH words AS (
      SELECT source,
             unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                                w -> w <> '')) AS term
      FROM documents),
    tf AS (SELECT source, term, count(*) AS tf FROM words GROUP BY source, term),
    ts AS (SELECT source, sum(tf) AS t_s FROM tf GROUP BY source),
    cf AS (SELECT term, sum(tf) AS cf FROM tf GROUP BY term),
    tot AS (SELECT sum(cf) AS total FROM cf)
    SELECT source,
           count(*)::BIGINT AS n_terms,
           sum(tf)::BIGINT AS n_tokens,
           round(sum(CAST(floor((tf::DOUBLE / t_s::DOUBLE)
                       * ln((tf::DOUBLE / t_s::DOUBLE)
                            / (cf::DOUBLE / total::DOUBLE)) * 1e9) AS BIGINT))::DOUBLE
                 / 1e9, 6) AS kl_divergence
    FROM tf JOIN cf USING (term) JOIN ts USING (source), tot
    GROUP BY source
"""

ORACLE_SQL["rolling_median"] = """
    WITH t AS (
      SELECT user_id, event_id, ts,
             CAST(floor(value * 1000000) AS BIGINT) AS vfp
      FROM events),
    m AS (
      SELECT user_id, event_id, vfp,
             list_sort(list(vfp) OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)) AS l
      FROM t)
    SELECT user_id, event_id, vfp AS value_fp,
           len(l)::BIGINT AS n_in_frame,
           l[(len(l) + 1) // 2] AS rolling_med_fp
    FROM m
"""


def _bpe_oracle_sql(
    n_merges: int = 8,
    max_words: int = 1000,
    final: bool = False,
    tokenize: bool = False,
    scoring: str = "bpe",
) -> str:
    """DuckDB mirror of ``q_bpe_merges`` / ``q_bpe_segments`` /
    ``q_bpe_tokenize_docs``: the lexicon build plus ``n_merges``
    unrolled merge rounds (pair count → deterministic winner →
    left-to-right run-parity merge → renumber), generated
    round-for-round from the same semantics as
    ``operators/bpe.py::_merge_round``.  ``final=True`` selects the
    last symbol table instead of the merge log; ``tokenize=True``
    replays each round's winner over the DISTINCT corpus word table
    (``operators/bpe.py::bpe_tokenize_docs``) and joins the result back
    to per-document word positions."""
    # WordPiece scoring references each round's symbol table twice
    # (pair counts + symbol counts) — MATERIALIZED, or DuckDB inlines
    # and the unroll expands exponentially (the round-5 CTE lesson).
    seq_mat = " MATERIALIZED" if scoring == "wordpiece" else ""
    rounds = []
    for r in range(n_merges):
        if scoring == "wordpiece":
            winner_ctes = f"""
    sc{r} AS MATERIALIZED (
      SELECT sym, sum(freq) AS scnt FROM seqs{r} GROUP BY sym),
    b{r} AS (
      SELECT cc.a, cc.b, cc.cnt,
             floor((ln(cc.cnt) - ln(sa.scnt) - ln(sb.scnt)) * 1000000)::BIGINT
               AS score_grid
      FROM c{r} cc
      JOIN sc{r} sa ON sa.sym = cc.a
      JOIN sc{r} sb ON sb.sym = cc.b
      ORDER BY score_grid DESC, cc.a, cc.b LIMIT 1),"""
        else:
            winner_ctes = f"""
    b{r} AS (SELECT a, b, cnt FROM c{r} ORDER BY cnt DESC, a, b LIMIT 1),"""
        rounds.append(f"""
    p{r} AS (
      SELECT wid, freq, pos, sym,
             lead(sym) OVER (PARTITION BY wid ORDER BY pos) AS nxt
      FROM seqs{r}),
    c{r} AS (
      SELECT sym AS a, nxt AS b, sum(freq) AS cnt
      FROM p{r} WHERE nxt IS NOT NULL GROUP BY 1, 2),{winner_ctes}
    t{r} AS (
      SELECT p.wid, p.freq, p.pos, p.sym, p.nxt,
             (p.sym = b.a AND p.nxt = b.b) AS match
      FROM p{r} p, b{r} b),
    u{r} AS (
      SELECT *, CASE WHEN match AND NOT coalesce(lag(match)
                       OVER (PARTITION BY wid ORDER BY pos), FALSE)
                     THEN pos END AS startpos
      FROM t{r}),
    v{r} AS (
      SELECT *, (match AND ((pos - last_value(startpos IGNORE NULLS)
                  OVER (PARTITION BY wid ORDER BY pos
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) % 2 = 0))
                AS do_merge
      FROM u{r}),
    x{r} AS (
      SELECT *, coalesce(lag(do_merge) OVER (PARTITION BY wid ORDER BY pos),
                         FALSE) AS dropped
      FROM v{r}),
    seqs{r + 1} AS{seq_mat} (
      SELECT wid, freq,
             row_number() OVER (PARTITION BY wid ORDER BY pos) - 1 AS pos,
             CASE WHEN do_merge THEN sym || nxt ELSE sym END AS sym
      FROM x{r} WHERE NOT dropped)""")

    apply_rounds = []
    if tokenize:
        for r in range(n_merges):
            # identical run-parity application, over the corpus word
            # table, driven by the TRAINED winner b{r} (cross join —
            # empty winner empties the table, same as training)
            apply_rounds.append(f""",
    pA{r} AS (
      SELECT wid, freq, pos, sym,
             lead(sym) OVER (PARTITION BY wid ORDER BY pos) AS nxt
      FROM aseqs{r}),
    tA{r} AS (
      SELECT p.wid, p.freq, p.pos, p.sym, p.nxt,
             (p.sym = b.a AND p.nxt = b.b) AS match
      FROM pA{r} p, b{r} b),
    uA{r} AS (
      SELECT *, CASE WHEN match AND NOT coalesce(lag(match)
                       OVER (PARTITION BY wid ORDER BY pos), FALSE)
                     THEN pos END AS startpos
      FROM tA{r}),
    vA{r} AS (
      SELECT *, (match AND ((pos - last_value(startpos IGNORE NULLS)
                  OVER (PARTITION BY wid ORDER BY pos
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) % 2 = 0))
                AS do_merge
      FROM uA{r}),
    xA{r} AS (
      SELECT *, coalesce(lag(do_merge) OVER (PARTITION BY wid ORDER BY pos),
                         FALSE) AS dropped
      FROM vA{r}),
    aseqs{r + 1} AS MATERIALIZED (
      SELECT wid, freq,
             row_number() OVER (PARTITION BY wid ORDER BY pos) - 1 AS pos,
             CASE WHEN do_merge THEN sym || nxt ELSE sym END AS sym
      FROM xA{r} WHERE NOT dropped)""")

    if tokenize:
        prelude = """,
    allw AS MATERIALIZED (
      SELECT DISTINCT wid FROM words),
    acs AS (SELECT wid, 1::BIGINT AS freq, unnest(range(length(wid))) AS pos
            FROM allw),
    aseqs0 AS (SELECT wid, freq, pos, wid[(pos + 1)::INT] AS sym FROM acs)"""
        tail = f""",
    dw AS (
      SELECT doc_id, i AS wpos, ws[(i + 1)::INT] AS wid
      FROM (SELECT doc_id, ws, unnest(range(len(ws))) AS i
            FROM (SELECT doc_id,
                         list_filter(string_split_regex(lower(text), '\\s+'),
                                     w -> w <> '') AS ws
                  FROM documents)))
    SELECT d.doc_id, d.wpos::INTEGER AS wpos,
           s.pos::INTEGER AS pos, s.sym
    FROM dw d JOIN aseqs{n_merges} s USING (wid)"""
    elif final:
        prelude = ""
        tail = (
            f"SELECT wid, freq, CAST(pos AS INTEGER) AS pos, sym"
            f" FROM seqs{n_merges}"
        )
    else:
        prelude = ""
        extra = ", score_grid" if scoring == "wordpiece" else ""
        tail = "\n    UNION ALL ".join(
            f"SELECT {r} AS round, a AS sym_a, b AS sym_b, cnt::BIGINT AS pair_count{extra} FROM b{r}"
            for r in range(n_merges)
        )
    return f"""
    WITH words AS (
      SELECT unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                                w -> w <> '')) AS wid
      FROM documents),
    lex AS (
      SELECT wid, count(*) AS freq FROM words GROUP BY wid
      ORDER BY freq DESC, wid LIMIT {max_words}),
    cs AS (SELECT wid, freq, unnest(range(length(wid))) AS pos FROM lex),
    seqs0 AS{seq_mat} (SELECT wid, freq, pos, wid[(pos + 1)::INT] AS sym FROM cs){prelude},
    {",".join(rounds)}{"".join(apply_rounds)}
    {tail}
    """


ORACLE_SQL["bpe_merges"] = _bpe_oracle_sql()
ORACLE_SQL["bpe_segments"] = _bpe_oracle_sql(final=True)
ORACLE_SQL["bpe_tokenize_docs"] = _bpe_oracle_sql(tokenize=True)
ORACLE_SQL["tokenizer_compression"] = f"""
    WITH tok AS MATERIALIZED ({_bpe_oracle_sql(tokenize=True)})
    SELECT doc_id,
           count(*)::BIGINT AS n_tokens,
           count(DISTINCT wpos)::BIGINT AS n_words,
           sum(length(sym))::BIGINT AS n_chars,
           round(sum(length(sym))::DOUBLE / count(*), 6) AS chars_per_token
    FROM tok GROUP BY doc_id
"""

ORACLE_SQL["wordpiece_merges"] = _bpe_oracle_sql(scoring="wordpiece")
ORACLE_SQL["wordpiece_tokenize_docs"] = _bpe_oracle_sql(
    tokenize=True, scoring="wordpiece"
)


def _unigram_oracle_sql(
    final: bool = False,
    *,
    mode: str | None = None,
    max_words: int = 1000,
    vocab_size: int = 64,
    max_token_len: int = 4,
    em_rounds: int = 2,
    doubling_rounds: int = 4,
) -> str:
    """DuckDB mirror of ``q_unigram_lm_vocab`` / ``q_unigram_lm_segments``
    / ``q_unigram_tokenize_docs`` (operators/unigram_lm.py):
    seed-candidate counting, ``em_rounds`` hard-EM rounds (int64-grid
    costs → min-plus closure by ``doubling_rounds`` squarings →
    on-lattice counts → prune+smooth), then the final cost table
    (``mode="vocab"``), the lexicon's chosen segmentation
    (``mode="segments"``: suffix-optimal min-j edges + boolean-semiring
    path recovery), or the corpus token stream (``mode="tokenize"``:
    the same segmentation chain over the DISTINCT corpus word table,
    joined back to per-document word positions).  Every
    multiply-referenced CTE is MATERIALIZED (DuckDB inlines otherwise
    and the closure chain expands exponentially)."""
    mode = mode or ("segments" if final else "vocab")

    def closure(tag: str, edges: str, diag: str = "diag") -> str:
        parts = [
            f"""
    {tag}0 AS MATERIALIZED (
      SELECT wid, i, j, min(cost) AS cost FROM (
        SELECT wid, i, j, cost FROM {edges}
        UNION ALL SELECT wid, i, j, cost FROM {diag})
      GROUP BY wid, i, j)"""
        ]
        for s in range(doubling_rounds):
            parts.append(
                f""",
    {tag}{s + 1} AS MATERIALIZED (
      SELECT a.wid, a.i, b.j, min(a.cost + b.cost) AS cost
      FROM {tag}{s} a JOIN {tag}{s} b ON a.wid = b.wid AND a.j = b.i
      GROUP BY a.wid, a.i, b.j)"""
            )
        return "".join(parts)

    D = doubling_rounds
    blocks = [
        f"""
    WITH words AS (
      SELECT unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                                w -> w <> '')) AS wid
      FROM documents),
    lex AS MATERIALIZED (
      SELECT wid, count(*)::BIGINT AS freq, length(wid)::BIGINT AS n
      FROM words GROUP BY wid ORDER BY freq DESC, wid LIMIT {max_words}),
    pos AS (SELECT wid, freq, n, unnest(range(n)) AS i FROM lex),
    occ AS MATERIALIZED (
      SELECT wid, freq, n, i, i + len AS j,
             substr(wid, (i + 1)::INT, len::INT) AS tok
      FROM (SELECT p.*, unnest(range(1, least({max_token_len}, n - i) + 1)) AS len
            FROM pos p)),
    diag AS MATERIALIZED (
      SELECT wid, i, i AS j, 0::BIGINT AS cost
      FROM (SELECT wid, unnest(range(n + 1)) AS i FROM lex)),
    cand AS (SELECT tok, sum(freq)::BIGINT AS cnt FROM occ GROUP BY tok),
    v0 AS MATERIALIZED (
      SELECT tok, cnt FROM cand WHERE length(tok) = 1
      UNION ALL
      SELECT tok, cnt FROM (
        SELECT tok, cnt FROM cand WHERE length(tok) > 1
        ORDER BY cnt DESC, tok LIMIT {vocab_size}))"""
    ]
    for r in range(em_rounds):
        blocks.append(
            f""",
    tot{r} AS (SELECT sum(cnt)::BIGINT AS tot FROM v{r}),
    c{r} AS MATERIALIZED (
      SELECT tok, cnt,
             floor((-ln(cnt::DOUBLE / tot::DOUBLE)) * 1000000.0)::BIGINT AS cost
      FROM v{r}, tot{r}),
    e{r} AS MATERIALIZED (
      SELECT o.wid, o.freq, o.n, o.i, o.j, o.tok, c.cost
      FROM occ o JOIN c{r} c USING (tok)),{closure(f"d{r}_", f"e{r}")},
    tw{r} AS (
      SELECT d.wid, d.cost AS wtotal
      FROM d{r}_{D} d JOIN lex l USING (wid) WHERE d.i = 0 AND d.j = l.n),
    onp{r} AS (
      SELECT e.tok, sum(e.freq)::BIGINT AS ncnt
      FROM e{r} e
      JOIN d{r}_{D} f ON f.wid = e.wid AND f.i = 0 AND f.j = e.i
      JOIN d{r}_{D} b ON b.wid = e.wid AND b.i = e.j AND b.j = e.n
      JOIN tw{r} t ON t.wid = e.wid
      WHERE f.cost + e.cost + b.cost = t.wtotal
      GROUP BY e.tok),
    v{r + 1} AS MATERIALIZED (
      SELECT v.tok, (coalesce(o.ncnt, 0) + 1)::BIGINT AS cnt
      FROM v{r} v LEFT JOIN onp{r} o USING (tok)
      WHERE length(v.tok) = 1 OR coalesce(o.ncnt, 0) > 0)"""
        )
    R = em_rounds
    blocks.append(
        f""",
    totF AS (SELECT sum(cnt)::BIGINT AS tot FROM v{R}),
    cF AS MATERIALIZED (
      SELECT tok, cnt,
             floor((-ln(cnt::DOUBLE / tot::DOUBLE)) * 1000000.0)::BIGINT AS cost
      FROM v{R}, totF)"""
    )
    if mode == "vocab":
        blocks.append(
            "\n    SELECT tok AS token, cnt AS freq, cost AS cost_grid FROM cF"
        )
        return "".join(blocks)

    def seg_chain(
        wordsrc: str, occsrc: str, diagsrc: str, costsrc: str = "cF"
    ) -> str:
        out = [
            f""",
    eF AS MATERIALIZED (
      SELECT o.wid, o.freq, o.n, o.i, o.j, o.tok, c.cost
      FROM {occsrc} o JOIN {costsrc} c USING (tok)),{closure("dF_", "eF", diagsrc)},
    dsn AS MATERIALIZED (
      SELECT d.wid, d.i AS si, d.cost AS scost
      FROM dF_{D} d JOIN {wordsrc} l USING (wid) WHERE d.j = l.n),
    sopt AS MATERIALIZED (
      SELECT e.wid, e.freq, e.i, e.j, e.tok
      FROM eF e
      JOIN dsn a ON a.wid = e.wid AND a.si = e.i
      JOIN dsn b ON b.wid = e.wid AND b.si = e.j
      WHERE e.cost + b.scost = a.scost),
    nxt AS (SELECT wid, i, min(j) AS j FROM sopt GROUP BY wid, i),
    chos AS MATERIALIZED (
      SELECT s.wid, s.freq, s.i, s.j, s.tok
      FROM sopt s JOIN nxt x ON x.wid = s.wid AND x.i = s.i AND x.j = s.j),
    t0 AS MATERIALIZED (
      SELECT DISTINCT wid, i, j FROM (
        SELECT wid, i, j FROM chos UNION ALL SELECT wid, i, j FROM {diagsrc}))"""
        ]
        for s in range(doubling_rounds):
            out.append(
                f""",
    t{s + 1} AS MATERIALIZED (
      SELECT DISTINCT a.wid, a.i, b.j
      FROM t{s} a JOIN t{s} b ON a.wid = b.wid AND a.j = b.i)"""
            )
        return "".join(out)

    if mode == "segments":
        blocks.append(seg_chain("lex", "occ", "diag"))
        blocks.append(
            f"""
    SELECT c.wid, c.freq, c.i::INTEGER AS pos, c.tok AS sym
    FROM chos c JOIN t{D} t ON t.wid = c.wid AND t.i = 0 AND t.j = c.i"""
        )
        return "".join(blocks)

    if mode != "tokenize":
        raise ValueError(f"unknown mode {mode!r}")
    blocks.append(
        f""",
    allw AS MATERIALIZED (
      SELECT wid, 1::BIGINT AS freq, length(wid)::BIGINT AS n
      FROM (SELECT DISTINCT unnest(list_filter(
              string_split_regex(lower(text), '\\s+'), w -> w <> '')) AS wid
            FROM documents)),
    posA AS (SELECT wid, freq, n, unnest(range(n)) AS i FROM allw),
    occA AS MATERIALIZED (
      SELECT wid, freq, n, i, i + len AS j,
             substr(wid, (i + 1)::INT, len::INT) AS tok
      FROM (SELECT p.*, unnest(range(1, least({max_token_len}, n - i) + 1)) AS len
            FROM posA p)),
    diagA AS MATERIALIZED (
      SELECT wid, i, i AS j, 0::BIGINT AS cost
      FROM (SELECT wid, unnest(range(n + 1)) AS i FROM allw)),
    chA AS (SELECT DISTINCT substr(wid, (i + 1)::INT, 1) AS tok FROM posA),
    unkA AS MATERIALIZED (
      SELECT c.tok, 0::BIGINT AS cnt,
             ((SELECT max(cost) FROM cF) + 1000000)::BIGINT AS cost
      FROM chA c WHERE c.tok NOT IN (SELECT tok FROM cF)),
    cA AS MATERIALIZED (
      SELECT tok, cnt, cost FROM cF
      UNION ALL SELECT tok, cnt, cost FROM unkA)"""
    )
    blocks.append(seg_chain("allw", "occA", "diagA", costsrc="cA"))
    blocks.append(
        f""",
    dw AS (
      SELECT doc_id, i AS wpos, ws[(i + 1)::INT] AS wid
      FROM (SELECT doc_id, ws, unnest(range(len(ws))) AS i
            FROM (SELECT doc_id,
                         list_filter(string_split_regex(lower(text), '\\s+'),
                                     w -> w <> '') AS ws
                  FROM documents))),
    segf AS MATERIALIZED (
      SELECT c.wid, c.i::INTEGER AS pos, c.tok AS sym
      FROM chos c JOIN t{D} t ON t.wid = c.wid AND t.i = 0 AND t.j = c.i)
    SELECT d.doc_id, d.wpos::INTEGER AS wpos, s.pos, s.sym
    FROM dw d JOIN segf s USING (wid)"""
    )
    return "".join(blocks)


ORACLE_SQL["unigram_lm_vocab"] = _unigram_oracle_sql()
ORACLE_SQL["unigram_lm_segments"] = _unigram_oracle_sql(final=True)
ORACLE_SQL["unigram_tokenize_docs"] = _unigram_oracle_sql(mode="tokenize")


ORACLE_SQL["stream_left_join"] = """
    SELECT e.user_id,
           e.event_id AS error_id,
           c.event_id AS click_id,
           CAST(floor(epoch(e.ts)) AS BIGINT) AS error_ts_s,
           CAST(floor(epoch(c.ts)) AS BIGINT) AS click_ts_s
    FROM (SELECT * FROM events WHERE event_type = 'error') e
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON e.user_id = c.user_id
     AND c.ts <= e.ts AND c.ts >= e.ts - INTERVAL 10 MINUTE
"""


ORACLE_SQL["zscore_outliers"] = """
    WITH s AS (
      SELECT event_type AS t,
             CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS s1,
             CAST(SUM(CAST(CAST(value AS DECIMAL(18,2))
                           * CAST(value AS DECIMAL(18,2))
                           AS DECIMAL(38,4))) AS DOUBLE) AS s2
      FROM events GROUP BY event_type)
    SELECT event_id, event_type, value,
           ROUND((value - s1/n) / sqrt((n*s2 - s1*s1) / (n*(n-1))), 6) AS zscore
    FROM events JOIN s ON event_type = t
    WHERE abs((value - s1/n) / sqrt((n*s2 - s1*s1) / (n*(n-1)))) >= 3
"""


ORACLE_SQL["sampled_quantiles"] = """
    WITH h AS (
      SELECT l_returnflag, l_extendedprice AS v,
             ('0x' || substr(md5('qs:' || l_orderkey::VARCHAR || ':'
                                 || l_linenumber::VARCHAR), 1, 15))::BIGINT AS hh
      FROM lineitem),
    s AS (
      SELECT l_returnflag, v,
             row_number() OVER (PARTITION BY l_returnflag ORDER BY hh) AS rn
      FROM h),
    g AS (
      SELECT l_returnflag, list_sort(list(v)) AS arr, count(*)::BIGINT AS n
      FROM s WHERE rn <= 256 GROUP BY l_returnflag)
    SELECT l_returnflag,
           n::INT AS n_sampled,
           arr[greatest(1, (n*25 + 99) // 100)::INT] AS p25,
           arr[greatest(1, (n*50 + 99) // 100)::INT] AS p50,
           arr[greatest(1, (n*75 + 99) // 100)::INT] AS p75
    FROM g
"""


ORACLE_SQL["similarity_join_exact"] = """
    WITH cb AS (
      SELECT c_name, substr(c_name, length(c_name), 1) AS bk
      FROM customer WHERE c_custkey % 25 = 0),
    sb AS (
      SELECT s_name, substr(s_name, length(s_name), 1) AS bk FROM supplier),
    scored AS (
      SELECT c_name, s_name,
             CAST(levenshtein(c_name, s_name) AS INTEGER) AS distance
      FROM cb JOIN sb USING (bk)),
    ranked AS (
      SELECT c_name, s_name, distance,
             CAST(row_number() OVER (PARTITION BY c_name
                                     ORDER BY distance, s_name)
                  AS INTEGER) AS rank
      FROM scored)
    SELECT c_name, s_name, distance, rank FROM ranked WHERE rank <= 3
"""


ORACLE_SQL["ratio_to_report"] = """
    WITH per_nation AS (
      SELECT n_name AS nation,
             SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
                 (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
               AS rev
      FROM lineitem
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation   ON c_nationkey = n_nationkey
      GROUP BY n_name)
    SELECT nation,
           CAST(rev AS DOUBLE) AS revenue,
           ROUND(CAST(rev AS DOUBLE)
                 / CAST(SUM(rev) OVER () AS DOUBLE), 6) AS revenue_share
    FROM per_nation
"""


ORACLE_SQL["fs_linkage"] = """
    WITH cb AS (
      SELECT c_name, substr(c_name, length(c_name), 1) AS bk
      FROM customer WHERE c_custkey % 5 = 0),
    sb AS (
      SELECT s_name, substr(s_name, length(s_name), 1) AS bk FROM supplier),
    scored AS (
      SELECT c_name, s_name,
             (CASE WHEN regexp_extract(c_name, '([0-9]+)$', 1)
                        = regexp_extract(s_name, '([0-9]+)$', 1)
                   THEN 6856462 ELSE -2994732 END
            + CASE WHEN levenshtein(c_name, s_name) <= 8
                   THEN 2890372 ELSE -2251292 END
            + CASE WHEN substr(c_name, length(c_name) - 3, 4)
                        = substr(s_name, length(s_name) - 3, 4)
                   THEN 4442651 ELSE -1887070 END)::BIGINT AS score
      FROM cb JOIN sb USING (bk))
    SELECT c_name, s_name, score,
           CASE WHEN score >= 5000000 THEN 'match' ELSE 'possible' END AS decision
    FROM scored WHERE score >= -2500000
"""


ORACLE_SQL["ewma_smooth"] = """
    WITH RECURSIVE seq AS (
      SELECT user_id, event_id,
             CAST(floor(value * 1000000.0) AS BIGINT) AS x,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      FROM events),
    ewma AS (
      SELECT user_id, event_id, rn, x AS s FROM seq WHERE rn = 1
      UNION ALL
      SELECT q.user_id, q.event_id, q.rn,
             (200000 * q.x + 800000 * e.s) // 1000000 AS s
      FROM ewma e JOIN seq q ON q.user_id = e.user_id AND q.rn = e.rn + 1)
    SELECT user_id, event_id, s AS ewma_fp, s / 1000000.0 AS ewma FROM ewma
"""


ORACLE_SQL["skyline_orders"] = """
    WITH pts AS (
      SELECT o_orderkey, o_totalprice,
             CAST(epoch(o_orderdate) AS BIGINT) AS order_epoch
      FROM orders),
    lvl AS (
      SELECT o_totalprice, min(order_epoch) AS lm FROM pts GROUP BY 1),
    runs AS (
      SELECT o_totalprice,
             min(lm) OVER (ORDER BY o_totalprice DESC
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS dom
      FROM lvl)
    SELECT p.o_orderkey, p.o_totalprice, p.order_epoch
    FROM pts p JOIN runs r USING (o_totalprice)
    WHERE r.dom IS NULL OR r.dom >= p.order_epoch
"""


ORACLE_SQL["schema_union_evolve"] = """
    SELECT doc_id, lang, n_chars FROM documents WHERE doc_id % 2 = 0
    UNION ALL BY NAME
    SELECT doc_id, source FROM documents WHERE doc_id % 2 = 1
"""


ORACLE_SQL["string_agg_segments"] = """
    SELECT n_name AS nation,
           count(*) AS n_customers,
           string_agg(DISTINCT c_mktsegment, ',' ORDER BY c_mktsegment) AS segments
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name
"""


ORACLE_SQL["bloom_join_reduce"] = """
    SELECT o_orderkey, o_custkey, c_name,
           CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS totalprice
    FROM orders JOIN customer ON o_custkey = c_custkey
    WHERE c_mktsegment = 'BUILDING' AND c_acctbal > 9000
"""


ORACLE_SQL["equi_width_histogram"] = """
    WITH stats AS (
      SELECT CAST(min(o_totalprice) AS DOUBLE) AS mn,
             CAST(max(o_totalprice) AS DOUBLE) AS mx
      FROM orders),
    binned AS (
      SELECT CASE WHEN mx = mn THEN 0
                  ELSE least(19, CAST(floor((CAST(o_totalprice AS DOUBLE) - mn)
                                            / ((mx - mn) / 20.0)) AS INT))
             END AS bin,
             mn, mx, CAST(o_totalprice AS DOUBLE) AS v
      FROM orders, stats)
    SELECT CAST(bin AS INTEGER) AS bin,
           mn + bin * ((mx - mn) / 20.0) AS lo,
           mn + (bin + 1) * ((mx - mn) / 20.0) AS hi,
           count(*) AS n,
           CAST(SUM(CAST(v AS DECIMAL(18,2))) AS DOUBLE) AS sum_v
    FROM binned GROUP BY bin, mn, mx
"""


ORACLE_SQL["attribution"] = """
    WITH conv AS (
      SELECT event_id AS conv_id, user_id, ts FROM events
      WHERE event_type = 'purchase'),
    t AS (
      SELECT user_id, ts, max(event_id) AS touch_id FROM events
      WHERE event_type = 'click' GROUP BY user_id, ts)
    SELECT c.conv_id, c.user_id,
           CAST(floor(epoch(c.ts)) AS BIGINT) AS conv_ts_s,
           CASE WHEN l.tts IS NOT NULL AND l.tts >= c.ts - INTERVAL 7 DAY
                THEN l.touch_id END AS touch_id,
           CASE WHEN l.tts IS NOT NULL AND l.tts >= c.ts - INTERVAL 7 DAY
                THEN CAST(floor(epoch(l.tts)) AS BIGINT) END AS touch_ts_s
    FROM conv c LEFT JOIN LATERAL (
      SELECT t.touch_id, t.ts AS tts FROM t
      WHERE t.user_id = c.user_id AND t.ts <= c.ts
      ORDER BY t.ts DESC LIMIT 1) l ON TRUE
"""


ORACLE_SQL["expect_quarantine"] = """
    WITH f AS (
      SELECT
        (o_totalprice IS NULL OR NOT (o_totalprice > 0)) AS v1,
        (o_totalprice IS NULL OR NOT (o_totalprice < 450000.0)) AS v2,
        (o_orderstatus IS NULL OR o_orderstatus NOT IN ('O','F','P')) AS v3,
        (o_orderpriority IS NULL
         OR NOT regexp_matches(o_orderpriority, '^[1-5]-')) AS v4
      FROM orders),
    per AS (
      SELECT 'totalprice_positive' AS rule, count(*) FILTER (v1) AS n_fail FROM f
      UNION ALL
      SELECT 'totalprice_below_cap', count(*) FILTER (v2) FROM f
      UNION ALL
      SELECT 'status_known', count(*) FILTER (v3) FROM f
      UNION ALL
      SELECT 'priority_format', count(*) FILTER (v4) FROM f)
    SELECT rule, n_fail FROM per WHERE n_fail > 0
    UNION ALL
    SELECT '_total_quarantined', count(*) FROM f WHERE v1 OR v2 OR v3 OR v4
"""


ORACLE_SQL["agg_state_merge"] = """
    SELECT user_id, count(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
           CAST(MIN(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS min_value,
           CAST(MAX(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS max_value
    FROM events GROUP BY user_id
"""


ORACLE_SQL["bfs_reach"] = """
    WITH RECURSIVE base AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\\s+'),
                         w -> w <> '') AS words
      FROM documents),
    sh AS (
      SELECT doc_id,
             list_distinct(CASE WHEN len(words) >= 2
               THEN list_transform(range(1, len(words)),
                                   i -> words[i] || ' ' || words[i + 1])
               ELSE words END) AS shingles
      FROM base),
    sized AS (SELECT doc_id, shingles, len(shingles) AS n FROM sh
              WHERE len(shingles) > 0),
    pairs AS (
      SELECT a.doc_id AS s, b.doc_id AS d
      FROM sized a JOIN sized b
        ON a.doc_id < b.doc_id
       AND least(a.n, b.n) >= 0.5 * greatest(a.n, b.n)
      WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
              / (a.n + b.n - len(list_intersect(a.shingles, b.shingles))) >= 0.5),
    edges AS (SELECT s, d FROM pairs UNION SELECT d, s FROM pairs),
    seeds AS (SELECT doc_id FROM documents WHERE doc_id % 100 = 0),
    bfs AS (
      SELECT doc_id, 0 AS hops FROM seeds
      UNION
      SELECT e.d AS doc_id, b.hops + 1 FROM bfs b
      JOIN edges e ON e.s = b.doc_id WHERE b.hops < 3)
    SELECT doc_id, min(hops) AS hops FROM bfs GROUP BY doc_id
"""


ORACLE_SQL["chi_square"] = """
    WITH cells AS (
      SELECT o_orderstatus AS status, o_orderpriority AS priority,
             count(*) AS observed
      FROM orders GROUP BY 1, 2),
    m AS (
      SELECT *,
             SUM(observed) OVER (PARTITION BY status) AS rt,
             SUM(observed) OVER (PARTITION BY priority) AS ct,
             SUM(observed) OVER () AS n
      FROM cells),
    d AS (
      SELECT count(DISTINCT status) AS nr, count(DISTINCT priority) AS nc
      FROM cells),
    t AS (
      SELECT status, priority, observed,
             CAST(floor(
               (CAST(n * observed - rt * ct AS DOUBLE)
                * CAST(n * observed - rt * ct AS DOUBLE)
                / CAST(rt * ct * n AS DOUBLE)) * 1000000000.0) AS BIGINT)
               AS term_grid
      FROM m)
    SELECT t.status, t.priority, t.observed, t.term_grid,
           CAST(SUM(term_grid) OVER () AS BIGINT) AS chi2_grid,
           SUM(term_grid) OVER () / 1000000000.0 AS chi2,
           CAST((d.nr - 1) * (d.nc - 1) AS INTEGER) AS dof
    FROM t, d
"""


ORACLE_SQL["calendar_dim"] = """
    WITH days AS (
      SELECT CAST(gs AS DATE) AS day
      FROM generate_series(DATE '1996-01-01', DATE '1996-12-31',
                           INTERVAL 1 DAY) t(gs)),
    od AS (
      SELECT CAST(o_orderdate AS DATE) AS day, count(*) AS n,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
      FROM orders WHERE year(o_orderdate) = 1996 GROUP BY 1)
    SELECT d.day,
           CAST(date_part('dow', d.day) AS INTEGER) AS dow,
           CAST(weekofyear(d.day) AS INTEGER) AS week,
           CAST(month(d.day) AS INTEGER) AS month,
           CAST(quarter(d.day) AS INTEGER) AS quarter,
           date_part('dow', d.day) IN (0, 6) AS is_weekend,
           COALESCE(od.n, 0) AS n_orders,
           CAST(COALESCE(od.rev, CAST(0 AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM days d LEFT JOIN od USING (day)
"""


ORACLE_SQL["skew_profile"] = """
    WITH counts AS (
      SELECT o_custkey, count(*) AS cnt FROM orders GROUP BY 1),
    tot AS (SELECT SUM(cnt) AS total FROM counts),
    top AS (
      SELECT o_custkey, cnt FROM counts
      ORDER BY cnt DESC, o_custkey LIMIT 10)
    SELECT o_custkey, cnt,
           CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE) AS share,
           CAST(row_number() OVER (ORDER BY cnt DESC, o_custkey)
                AS INTEGER) AS rank
    FROM top, tot
"""


ORACLE_SQL["scd2_lookup"] = """
    WITH ordered AS (
      SELECT user_id, ts, event_id, event_type,
             lag(event_type) OVER
               (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
      FROM events),
    runs AS (
      SELECT user_id, ts, event_id, event_type FROM ordered
      WHERE prev_type IS DISTINCT FROM event_type),
    iv AS (
      SELECT user_id, event_type AS regime, ts AS vf,
             CAST(row_number() OVER
               (PARTITION BY user_id ORDER BY ts, event_id) AS INT) AS version
      FROM runs),
    ivd AS (
      SELECT user_id, vf, arg_max(regime, version) AS regime,
             max(version) AS version
      FROM iv GROUP BY user_id, vf),
    p AS (
      SELECT event_id AS p_id, user_id, ts FROM events
      WHERE event_type = 'purchase')
    SELECT p.p_id, p.user_id,
           CAST(floor(epoch(p.ts)) AS BIGINT) AS ts_s,
           l.regime, l.version
    FROM p LEFT JOIN LATERAL (
      SELECT regime, version FROM ivd
      WHERE ivd.user_id = p.user_id AND ivd.vf <= p.ts
      ORDER BY vf DESC LIMIT 1) l ON TRUE
"""


ORACLE_SQL["rolling_active_users"] = """
    WITH uh AS (
      SELECT DISTINCT user_id,
             CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS h_s
      FROM events),
    hours AS (SELECT DISTINCT h_s FROM uh),
    cover AS (
      SELECT DISTINCT user_id, h_s + k * 3600 AS hour_s
      FROM uh, range(0, 24) t(k))
    SELECT hour_s, count(DISTINCT user_id) AS active_users
    FROM cover JOIN hours ON hour_s = h_s
    GROUP BY hour_s
"""


ORACLE_SQL["k_anonymity"] = """
    SELECT o_orderstatus AS status, o_orderpriority AS priority,
           CAST(o_orderdate AS DATE) AS day, count(*) AS n
    FROM orders
    GROUP BY 1, 2, 3
    HAVING count(*) < 5
"""


ORACLE_SQL["seq_pattern"] = """
    WITH seqs AS (
      SELECT user_id,
             string_agg(substr(event_type, 1, 1), ''
                        ORDER BY ts, event_id) AS seq
      FROM events GROUP BY user_id)
    SELECT user_id,
           CAST(length(seq) AS INTEGER) AS n_events,
           CAST(len(regexp_extract_all(seq, 'v[^p]*c[^p]*p')) AS INTEGER)
             AS n_funnels,
           len(regexp_extract_all(seq, 'v[^p]*c[^p]*p')) > 0 AS converted
    FROM seqs
"""


ORACLE_SQL["twap"] = """
    WITH base AS (
      SELECT user_id, CAST(ts AS DATE) AS day, ts, event_id,
             CAST(floor(value * 100.0) AS BIGINT) AS cents,
             CAST(floor(epoch(ts)) AS BIGINT) AS ts_s
      FROM events),
    d AS (
      SELECT user_id, day, cents,
             COALESCE(lead(ts_s) OVER (PARTITION BY user_id, day
                                       ORDER BY ts, event_id) - ts_s, 0) AS dur
      FROM base)
    SELECT user_id, day,
           CAST(SUM(cents * dur) AS BIGINT) AS twap_num,
           CAST(SUM(dur) AS BIGINT) AS twap_den,
           CASE WHEN SUM(dur) > 0
                THEN CAST(SUM(cents * dur) AS DOUBLE)
                     / CAST(SUM(dur) AS DOUBLE) / 100.0 END AS twap
    FROM d GROUP BY user_id, day
"""


ORACLE_SQL["survivorship"] = """
    WITH g AS (
      SELECT c_custkey % 200 AS grp, c_name, c_acctbal, c_mktsegment
      FROM customer),
    base AS (
      SELECT grp, count(*) AS n_members, max(c_acctbal) AS c_acctbal
      FROM g GROUP BY grp),
    nm AS (
      SELECT grp, c_name FROM (
        SELECT grp, c_name,
               row_number() OVER (PARTITION BY grp
                                  ORDER BY length(c_name) DESC, c_name) AS rn
        FROM g) WHERE rn = 1),
    md AS (
      SELECT grp, c_mktsegment FROM (
        SELECT grp, c_mktsegment,
               row_number() OVER (PARTITION BY grp
                                  ORDER BY cnt DESC, c_mktsegment) AS rn
        FROM (SELECT grp, c_mktsegment, count(*) AS cnt
              FROM g GROUP BY 1, 2)) WHERE rn = 1)
    SELECT base.grp, base.n_members, nm.c_name, base.c_acctbal, md.c_mktsegment
    FROM base JOIN nm USING (grp) JOIN md USING (grp)
"""


def _rand_projection_oracle() -> str:
    from .operators.simsearch import random_projection_sql

    exprs = random_projection_sql()
    cols = ",\n           ".join(
        f"CAST({e} AS BIGINT) AS proj_{j}" for j, e in enumerate(exprs)
    )
    return f"""
    SELECT vec_id, label,
           {cols}
    FROM embeddings
"""


ORACLE_SQL["rand_projection"] = _rand_projection_oracle()


ORACLE_SQL["knn_label"] = """
    WITH knn AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY ROUND(list_cosine_similarity(
                            CAST(q.embedding AS DOUBLE[]),
                            CAST(c.embedding AS DOUBLE[])), 6)
                          DESC, c.vec_id) AS rank
        FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
        WHERE q.vec_id % 10 = 0)
      WHERE rank <= 5),
    votes AS (
      SELECT k.query_id, e.label, count(*) AS cnt
      FROM knn k JOIN embeddings e ON e.vec_id = k.neighbor_id
      GROUP BY 1, 2),
    pred AS (
      SELECT query_id, label AS pred_label, cnt AS votes FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY cnt DESC, label) AS rn
        FROM votes) WHERE rn = 1)
    SELECT p.query_id, p.pred_label, p.votes,
           t.label AS true_label,
           p.pred_label = t.label AS correct
    FROM pred p JOIN embeddings t ON t.vec_id = p.query_id
"""


ORACLE_SQL["ab_test"] = """
    WITH per_user AS (
      SELECT user_id,
             CASE WHEN SUM(CASE WHEN event_type = 'purchase'
                           THEN 1 ELSE 0 END) >= 15
                  THEN 1 ELSE 0 END AS conv
      FROM events GROUP BY user_id),
    s AS (
      SELECT count(*) FILTER (user_id % 2 = 0) AS n0,
             CAST(SUM(conv) FILTER (user_id % 2 = 0) AS BIGINT) AS c0,
             count(*) FILTER (user_id % 2 = 1) AS n1,
             CAST(SUM(conv) FILTER (user_id % 2 = 1) AS BIGINT) AS c1
      FROM per_user)
    SELECT n0, c0, n1, c1,
           CAST(c0 AS DOUBLE) / CAST(n0 AS DOUBLE) AS rate0,
           CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS rate1,
           CAST(floor(CASE WHEN
             (CAST(c0 + c1 AS DOUBLE) / CAST(n0 + n1 AS DOUBLE)
              * (1.0 - CAST(c0 + c1 AS DOUBLE) / CAST(n0 + n1 AS DOUBLE))
              * (1.0 / CAST(n0 AS DOUBLE) + 1.0 / CAST(n1 AS DOUBLE))) <> 0
             THEN
             ((CAST(c0 AS DOUBLE) / CAST(n0 AS DOUBLE)
               - CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE))
              * (CAST(c0 AS DOUBLE) / CAST(n0 AS DOUBLE)
                 - CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE)))
             / (CAST(c0 + c1 AS DOUBLE) / CAST(n0 + n1 AS DOUBLE)
                * (1.0 - CAST(c0 + c1 AS DOUBLE) / CAST(n0 + n1 AS DOUBLE))
                * (1.0 / CAST(n0 AS DOUBLE) + 1.0 / CAST(n1 AS DOUBLE)))
             END * 1000000000.0) AS BIGINT) AS z2_grid
    FROM s
"""


ORACLE_SQL["bm25_topk"] = """
    WITH words AS (
      SELECT doc_id, unnest(list_filter(
               string_split_regex(lower(text), '\\s+'), w -> w <> '')) AS term
      FROM documents),
    dl AS (SELECT doc_id, count(*) AS dl FROM words GROUP BY doc_id),
    qtf AS (
      SELECT doc_id, term, count(*) AS tf FROM words
      WHERE term IN ('spark', 'join', 'window') GROUP BY doc_id, term),
    dfreq AS (SELECT term, count(*) AS df FROM qtf GROUP BY term),
    stats AS (SELECT count(*) AS n_docs, SUM(dl) AS sum_dl FROM dl),
    per_term AS (
      SELECT q.doc_id,
             CAST(floor(
               ln((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
                  / (CAST(df AS DOUBLE) + 0.5) + 1.0)
               * CAST(tf AS DOUBLE) * 2.2
               / (CAST(tf AS DOUBLE)
                  + 1.2 * (1.0 - 0.75 + 0.75 * CAST(d.dl AS DOUBLE)
                           / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))))
               * 1000000000.0) AS BIGINT) AS cg
      FROM qtf q JOIN dfreq USING (term) JOIN dl d USING (doc_id), stats),
    totals AS (SELECT doc_id, CAST(SUM(cg) AS BIGINT) AS score_grid
               FROM per_term GROUP BY doc_id),
    top AS (
      SELECT doc_id, score_grid FROM totals
      ORDER BY score_grid DESC, doc_id LIMIT 20)
    SELECT doc_id, score_grid,
           CAST(row_number() OVER (ORDER BY score_grid DESC, doc_id)
                AS INTEGER) AS rank
    FROM top
"""


ORACLE_SQL["trend_slope"] = """
    WITH base AS (
      SELECT user_id,
             CAST(floor(epoch(ts)) AS BIGINT) AS ts_s,
             CAST(floor(value * 100.0) AS BIGINT) AS y
      FROM events),
    anchored AS (
      SELECT user_id, y,
             CAST(floor((ts_s - min(ts_s) OVER (PARTITION BY user_id))
                        / 3600.0) AS BIGINT) AS x
      FROM base),
    s AS (
      SELECT user_id, count(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
             SUM(x * y) AS sxy, SUM(x * x) AS sxx
      FROM anchored GROUP BY user_id)
    SELECT user_id, n,
           CAST(floor(CASE WHEN (n * sxx - sx * sx) <> 0 THEN
             CAST(n * sxy - sx * sy AS DOUBLE)
             / CAST(n * sxx - sx * sx AS DOUBLE) END
             * 1000000000.0) AS BIGINT) AS slope_grid
    FROM s
"""


ORACLE_SQL["dp_counts"] = """
    WITH cnt AS (
      SELECT lang, source, count(*) AS n FROM documents GROUP BY lang, source),
    seeded AS (
      SELECT lang, source, n,
             (CAST(('0x' || substr(md5('dp:' || lang || ':' || source), 1, 15))
                   ::BIGINT AS DOUBLE) + 1.0) / 1152921504606846976.0 AS u
      FROM cnt)
    SELECT lang, source, n,
           CAST(floor(
             (CAST(n AS DOUBLE)
              + -(CASE WHEN u - 0.5 >= 0 THEN 1.0 ELSE -1.0 END)
                * ln(greatest(1e-18, 1.0 - 2.0 * abs(u - 0.5))) / 1.0)
             * 1000000.0) AS BIGINT) AS noisy_grid
    FROM seeded
"""


ORACLE_SQL["rfm_segments"] = """
    WITH per_user AS (
      SELECT user_id,
             CAST(floor(epoch(TIMESTAMP '2024-02-01 00:00:00'))
                  - floor(epoch(max(ts))) AS BIGINT) AS recency_s,
             count(*) AS frequency,
             CAST(SUM(CAST(floor(value * 100.0) AS BIGINT)) AS BIGINT)
               AS monetary_cents
      FROM events WHERE event_type = 'purchase' GROUP BY user_id),
    q AS (
      SELECT user_id, recency_s, frequency, monetary_cents,
             ntile(5) OVER (ORDER BY recency_s ASC, user_id ASC)::INTEGER AS r_q,
             ntile(5) OVER (ORDER BY frequency DESC, user_id ASC)::INTEGER AS f_q,
             ntile(5) OVER (ORDER BY monetary_cents DESC, user_id ASC)::INTEGER AS m_q
      FROM per_user)
    SELECT user_id, recency_s, frequency, monetary_cents, r_q, f_q, m_q,
           CAST(r_q * 100 + f_q * 10 + m_q AS INTEGER) AS segment
    FROM q
"""


ORACLE_SQL["shortest_path"] = """
    WITH RECURSIVE base AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\\s+'),
                         w -> w <> '') AS words
      FROM documents),
    sh AS (
      SELECT doc_id,
             list_distinct(CASE WHEN len(words) >= 2
               THEN list_transform(range(1, len(words)),
                                   i -> words[i] || ' ' || words[i + 1])
               ELSE words END) AS shingles
      FROM base),
    sized AS (SELECT doc_id, shingles, len(shingles) AS n FROM sh
              WHERE len(shingles) > 0),
    pairs AS (
      SELECT a.doc_id AS s, b.doc_id AS d,
             1000000 - CAST(floor(
               CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
               / (a.n + b.n - len(list_intersect(a.shingles, b.shingles)))
               * 1000000.0) AS BIGINT) AS w
      FROM sized a JOIN sized b
        ON a.doc_id < b.doc_id
       AND least(a.n, b.n) >= 0.5 * greatest(a.n, b.n)
      WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
              / (a.n + b.n - len(list_intersect(a.shingles, b.shingles))) >= 0.5),
    edges AS (SELECT s, d, w FROM pairs UNION SELECT d, s, w FROM pairs),
    seeds AS (SELECT doc_id FROM documents WHERE doc_id % 100 = 0),
    bf AS (
      SELECT doc_id, CAST(0 AS BIGINT) AS dist, 0 AS r FROM seeds
      UNION
      SELECT e.d AS doc_id, b.dist + e.w AS dist, b.r + 1 AS r
      FROM bf b JOIN edges e ON e.s = b.doc_id WHERE b.r < 4)
    SELECT doc_id, min(dist) AS dist FROM bf GROUP BY doc_id
"""


ORACLE_SQL["join_size_estimate"] = """
    WITH a AS (SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'),
    b AS (SELECT o_custkey FROM orders WHERE o_orderpriority = '2-HIGH'),
    ca AS (
      SELECT r, pos, count(*) AS cnt FROM (
        SELECT t.r,
               ('0x' || substr(md5('cms' || t.r || ':' || o_custkey::VARCHAR),
                               1, 15))::BIGINT % 1024 AS pos
        FROM a, range(0, 4) t(r)) GROUP BY r, pos),
    cb AS (
      SELECT r, pos, count(*) AS cnt FROM (
        SELECT t.r,
               ('0x' || substr(md5('cms' || t.r || ':' || o_custkey::VARCHAR),
                               1, 15))::BIGINT % 1024 AS pos
        FROM b, range(0, 4) t(r)) GROUP BY r, pos),
    est AS (
      SELECT CAST(min(s) AS BIGINT) AS est_size FROM (
        SELECT ca.r, SUM(ca.cnt * cb.cnt) AS s
        FROM ca JOIN cb ON ca.r = cb.r AND ca.pos = cb.pos
        GROUP BY ca.r)),
    exact AS (
      SELECT CAST(COALESCE(SUM(la.ca * lb.cb), 0) AS BIGINT) AS exact_size
      FROM (SELECT o_custkey AS k, count(*) AS ca FROM a GROUP BY 1) la
      JOIN (SELECT o_custkey AS k, count(*) AS cb FROM b GROUP BY 1) lb
        USING (k))
    SELECT est_size, exact_size FROM est, exact
"""


ORACLE_SQL["waiting_suppliers"] = """
    SELECT s_name, count(*) AS numwait
    FROM supplier, lineitem l1
    WHERE s_suppkey = l1.l_suppkey
      AND l1.l_returnflag = 'R'
      AND EXISTS (
        SELECT 1 FROM lineitem l2
        WHERE l2.l_orderkey = l1.l_orderkey
          AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (
        SELECT 1 FROM lineitem l3
        WHERE l3.l_orderkey = l1.l_orderkey
          AND l3.l_suppkey <> l1.l_suppkey
          AND l3.l_returnflag = 'R')
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 10
"""


ORACLE_SQL["idle_rich_customers"] = """
    SELECT c_mktsegment AS segment,
           count(*) AS n_customers,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
    FROM customer c
    WHERE CAST(c_acctbal AS DECIMAL(18,2))
          * (SELECT count(*) FROM customer WHERE c_acctbal > 0.0)
          > (SELECT SUM(CAST(c_acctbal AS DECIMAL(18,2)))
             FROM customer WHERE c_acctbal > 0.0)
      AND NOT EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey
          AND o.o_orderdate >= TIMESTAMP '2000-01-01')
    GROUP BY c_mktsegment
"""


ORACLE_SQL["multimodal_audio_resample"] = """
    WITH aud AS (
      SELECT doc_id AS asset_id, hex(encode(text)) AS hx,
             octet_length(encode(text)) AS nb
      FROM documents WHERE doc_id % 3 = 1),
    s0 AS (SELECT asset_id, hx, unnest(range((nb // 2)::BIGINT)) AS k FROM aud),
    kept AS (SELECT asset_id, hx, k FROM s0 WHERE k % 4 = 0),
    smp AS (
      SELECT asset_id,
             ('0x' || substr(hx, (4*k + 1)::INT, 2))::INT
             + 256 * ('0x' || substr(hx, (4*k + 3)::INT, 2))::INT AS u
      FROM kept),
    sgn AS (
      SELECT asset_id, CASE WHEN u >= 32768 THEN u - 65536 ELSE u END AS s
      FROM smp)
    SELECT asset_id,
           count(*)::BIGINT AS n_samples,
           SUM(abs(s))::BIGINT AS sum_abs,
           max(abs(s))::BIGINT AS peak_i16
    FROM sgn GROUP BY asset_id
"""


ORACLE_SQL["multimodal_image_tiles"] = """
    WITH imgs AS (
      SELECT doc_id AS asset_id,
             ((doc_id % 8 + 4) * 4)::INT AS w,
             ((doc_id % 6 + 3) * 4)::INT AS h,
             coalesce(nullif(regexp_replace(text, '[^ -~]', '', 'g'), ''),
                      'spark') AS src
      FROM documents WHERE doc_id % 3 = 0),
    sized AS (
      SELECT asset_id, w, h, (w*h*3)::INT AS n_pix,
             substr(repeat(src, (w*h*3 / length(src))::INT + 1), 1,
                    (w*h*3)::INT) AS raster
      FROM imgs),
    px0 AS (
      SELECT asset_id, w, h, raster, unnest(range((n_pix / 3)::BIGINT)) AS p
      FROM sized),
    px AS (
      SELECT asset_id,
             (p // w) // (h // 2) AS tile_row,
             (p % w) // (w // 2) AS tile_col,
             ascii(substr(raster, (3*p + 1)::INT, 1))
             + ascii(substr(raster, (3*p + 2)::INT, 1))
             + ascii(substr(raster, (3*p + 3)::INT, 1)) AS rgb
      FROM px0)
    SELECT asset_id, tile_row, tile_col,
           count(*)::BIGINT AS n_pix,
           SUM(rgb)::BIGINT AS sum_rgb
    FROM px GROUP BY asset_id, tile_row, tile_col
"""


ORACLE_SQL["table_digest"] = """
    WITH o AS (
      SELECT o_orderkey, o_custkey, o_orderstatus, o_orderpriority,
             CAST(floor(epoch(o_orderdate)) AS BIGINT) AS od_s,
             CAST(floor(o_totalprice * 100.0) AS BIGINT) AS cents
      FROM orders),
    h AS (
      SELECT ('0x' || substr(md5(concat_ws('|',
               COALESCE(CAST(o_orderkey AS VARCHAR), chr(0) || 'null'),
               COALESCE(CAST(o_custkey AS VARCHAR), chr(0) || 'null'),
               COALESCE(o_orderstatus, chr(0) || 'null'),
               COALESCE(o_orderpriority, chr(0) || 'null'),
               COALESCE(CAST(od_s AS VARCHAR), chr(0) || 'null'),
               COALESCE(CAST(cents AS VARCHAR), chr(0) || 'null'))),
             1, 15))::BIGINT AS hv
      FROM o),
    s AS (
      SELECT count(*) AS n_rows,
             SUM(hv::HUGEINT) % 18446744073709551616::HUGEINT AS m
      FROM h)
    SELECT n_rows,
           CAST(CASE WHEN m >= 9223372036854775808::HUGEINT
                     THEN m - 18446744073709551616::HUGEINT
                     ELSE m END AS BIGINT) AS digest
    FROM s
"""


ORACLE_SQL["copurchase_pairs"] = """
    WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    pairs AS (
      SELECT a.l_partkey AS pk_a, b.l_partkey AS pk_b
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey)
    SELECT pk_a, pk_b, count(*) AS support
    FROM pairs GROUP BY pk_a, pk_b
    ORDER BY support DESC, pk_a, pk_b
    LIMIT 20
"""


def _hilbert_oracle() -> str:
    from .functions.layout import hilbert_sql_2d

    return hilbert_sql_2d(
        "user_id % 64",
        "least(greatest(CAST(floor(value) AS BIGINT), 0), 63)",
        "events",
        bits=6,
        carry="event_id",
    )


ORACLE_SQL["hilbert_layout"] = _hilbert_oracle()


ORACLE_SQL["interval_concurrency"] = """
    WITH iv AS (
      SELECT CAST(ts AS DATE) AS day,
             CAST(floor(epoch(ts)) AS BIGINT) AS start_s,
             CAST(60 * (1 + event_id % 30) AS BIGINT) AS dur_s
      FROM events),
    deltas AS (
      SELECT day, start_s AS t, CAST(1 AS BIGINT) AS d FROM iv
      UNION ALL
      SELECT day, start_s + dur_s AS t, CAST(-1 AS BIGINT) AS d FROM iv),
    net AS (
      SELECT day, t, CAST(SUM(d) AS BIGINT) AS nd FROM deltas GROUP BY day, t),
    swept AS (
      SELECT day, t,
             CAST(SUM(nd) OVER (PARTITION BY day ORDER BY t
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS conc,
             lead(t) OVER (PARTITION BY day ORDER BY t) - t AS gap
      FROM net)
    SELECT day,
           count(*) AS n_times,
           CAST(max(conc) AS BIGINT) AS max_concurrent,
           CAST(SUM(conc * COALESCE(gap, 0)) AS BIGINT) AS busy_s,
           CAST(max(t) - min(t) AS BIGINT) AS span_s,
           CASE WHEN max(t) - min(t) > 0
                THEN CAST(SUM(conc * COALESCE(gap, 0)) AS DOUBLE)
                     / CAST(max(t) - min(t) AS DOUBLE) END AS avg_concurrency
    FROM swept GROUP BY day
"""


def _minhash_audit_oracle(num_perm: int = 16, threshold: float = 0.3) -> str:
    mh_cols = ",\n             ".join(
        "list_min(list_transform(shingles, s ->"
        f" ('0x' || substr(md5('mh{j}:' || s), 1, 15))::BIGINT)) AS mh{j}"
        for j in range(num_perm)
    )
    match_sum = " + ".join(
        f"CASE WHEN a.mh{j} = b.mh{j} THEN 1 ELSE 0 END" for j in range(num_perm)
    )
    return f"""
    WITH base AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\\s+'),
                         w -> w <> '') AS words
      FROM documents),
    sh AS (
      SELECT doc_id,
             list_distinct(CASE WHEN len(words) >= 2
               THEN list_transform(range(1, len(words)),
                                   i -> words[i] || ' ' || words[i + 1])
               ELSE words END) AS shingles
      FROM base WHERE len(words) > 0),
    sized AS (
      SELECT doc_id, shingles, CAST(len(shingles) AS BIGINT) AS n,
             {mh_cols}
      FROM sh),
    p AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(len(list_intersect(a.shingles, b.shingles)) AS BIGINT) AS inter,
             a.n + b.n
               - CAST(len(list_intersect(a.shingles, b.shingles)) AS BIGINT) AS uni,
             CAST({match_sum} AS BIGINT) AS n_match
      FROM sized a JOIN sized b
        ON a.doc_id < b.doc_id
       AND least(a.n, b.n) >= {threshold} * greatest(a.n, b.n)
      WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
              / (a.n + b.n - len(list_intersect(a.shingles, b.shingles)))
              >= {threshold})
    SELECT doc_a, doc_b, inter, uni, n_match,
           CAST((n_match * 1000000000) // {num_perm} AS BIGINT) AS est_grid,
           CAST((inter * 1000000000) // uni AS BIGINT) AS exact_grid,
           CAST(abs((n_match * 1000000000) // {num_perm}
                    - (inter * 1000000000) // uni) AS BIGINT) AS err_grid
    FROM p
"""


ORACLE_SQL["minhash_est_audit"] = _minhash_audit_oracle()


ORACLE_SQL["feature_minmax"] = """
    WITH q AS (
      SELECT vec_id, CAST(u.dim AS INTEGER) AS dim, u.q AS q
      FROM (
        SELECT vec_id,
               unnest(list_transform(range(len(embedding)),
                   i -> {'dim': i,
                         'q': CAST(floor(embedding[i + 1]::DOUBLE * 1000000.0)
                                   AS BIGINT)})) AS u
        FROM embeddings)),
    stats AS (
      SELECT dim, CAST(min(q) AS BIGINT) AS mn, CAST(max(q) AS BIGINT) AS mx
      FROM q GROUP BY dim)
    SELECT q.vec_id, q.dim, q.q,
           CASE WHEN s.mx > s.mn
                THEN CAST(((q.q - s.mn) * 1000000) // (s.mx - s.mn) AS BIGINT)
                ELSE CAST(0 AS BIGINT) END AS scaled_grid
    FROM q JOIN stats s USING (dim)
"""


ORACLE_SQL["ml_confusion"] = """
    WITH knn AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY ROUND(list_cosine_similarity(
                            CAST(q.embedding AS DOUBLE[]),
                            CAST(c.embedding AS DOUBLE[])), 6)
                          DESC, c.vec_id) AS rank
        FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
        WHERE q.vec_id % 10 = 0)
      WHERE rank <= 5),
    votes AS (
      SELECT k.query_id, e.label, count(*) AS cnt
      FROM knn k JOIN embeddings e ON e.vec_id = k.neighbor_id
      GROUP BY 1, 2),
    pred AS (
      SELECT query_id, label AS pred_label FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY cnt DESC, label) AS rn
        FROM votes) WHERE rn = 1),
    res AS (
      SELECT p.pred_label, t.label AS true_label
      FROM pred p JOIN embeddings t ON t.vec_id = p.query_id),
    cm AS (
      SELECT true_label, pred_label, count(*) AS n
      FROM res GROUP BY 1, 2),
    per_true AS (
      SELECT true_label AS label,
             CAST(SUM(n) AS BIGINT) AS n_true,
             CAST(SUM(CASE WHEN pred_label = true_label THEN n ELSE 0 END)
                  AS BIGINT) AS tp
      FROM cm GROUP BY 1),
    per_pred AS (
      SELECT pred_label AS label, CAST(SUM(n) AS BIGINT) AS n_pred
      FROM cm GROUP BY 1),
    j AS (
      SELECT COALESCE(pt.label, pp.label) AS label,
             COALESCE(pt.tp, 0) AS tp,
             COALESCE(pp.n_pred, 0) - COALESCE(pt.tp, 0) AS fp,
             COALESCE(pt.n_true, 0) - COALESCE(pt.tp, 0) AS fn
      FROM per_true pt FULL OUTER JOIN per_pred pp ON pt.label = pp.label),
    m AS (
      SELECT label, tp, fp, fn,
             CASE WHEN tp + fp > 0
                  THEN CAST((tp * 1000000000) // (tp + fp) AS BIGINT) END AS prec_grid,
             CASE WHEN tp + fn > 0
                  THEN CAST((tp * 1000000000) // (tp + fn) AS BIGINT) END AS rec_grid
      FROM j)
    SELECT label, tp, fp, fn, prec_grid, rec_grid,
           CASE WHEN prec_grid IS NOT NULL AND rec_grid IS NOT NULL
                     AND prec_grid + rec_grid > 0
                THEN CAST((2 * prec_grid * rec_grid) // (prec_grid + rec_grid)
                          AS BIGINT) END AS f1_grid
    FROM m
"""


ORACLE_SQL["market_share"] = """
    WITH base AS (
      SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
             n1.n_name AS supp_nation,
             CAST(l_extendedprice AS DECIMAL(18,2)) *
               (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) AS rev
      FROM lineitem
      JOIN orders    ON l_orderkey = o_orderkey
      JOIN customer  ON o_custkey = c_custkey
      JOIN supplier  ON l_suppkey = s_suppkey
      JOIN part      ON l_partkey = p_partkey
      JOIN nation n1 ON s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c_nationkey = n2.n_nationkey
      JOIN region    ON n2.n_regionkey = r_regionkey
      WHERE p_type = 'ECONOMY' AND r_name = 'ASIA'
        AND year(o_orderdate) BETWEEN 1995 AND 1996)
    SELECT o_year,
           CAST(SUM(CASE WHEN supp_nation = 'NATION_1' THEN rev
                         ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
             / CAST(SUM(rev) AS DOUBLE) AS mkt_share
    FROM base GROUP BY o_year
"""


ORACLE_SQL["returned_revenue"] = """
    SELECT c_custkey, c_name, n_name,
           CAST(floor(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
                          (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
                      * 100) AS BIGINT) AS revenue_cents
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R' AND year(o_orderdate) = 1995
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue_cents DESC, c_custkey
    LIMIT 20
"""


ORACLE_SQL["bracket_predicate"] = """
    SELECT count(*) AS n_lines,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
                    (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
                AS DOUBLE) AS revenue
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE (p_brand = 'Brand#2'  AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 1 AND 15)
       OR (p_brand = 'Brand#17' AND p_size BETWEEN 1 AND 25
           AND l_quantity BETWEEN 10 AND 30)
       OR (p_brand = 'Brand#25' AND p_size BETWEEN 1 AND 35
           AND l_quantity BETWEEN 20 AND 45)
"""


ORACLE_SQL["part_promotion"] = """
    WITH per_supp AS (
      SELECT l_suppkey,
             CAST(SUM(CASE WHEN year(l_shipdate) = 1995
                           THEN CAST(floor(l_quantity) AS BIGINT)
                           ELSE 0 END) AS BIGINT) AS q95,
             CAST(SUM(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS q_all
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE p_type = 'SMALL'
      GROUP BY l_suppkey
      HAVING 6 * CAST(SUM(CASE WHEN year(l_shipdate) = 1995
                               THEN CAST(floor(l_quantity) AS BIGINT)
                               ELSE 0 END) AS BIGINT)
             > CAST(SUM(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT))
    SELECT s_suppkey, s_name, n_name
    FROM supplier
    JOIN nation ON s_nationkey = n_nationkey
    WHERE s_suppkey IN (SELECT l_suppkey FROM per_supp)
"""


ORACLE_SQL["cusum_changepoint"] = """
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day, count(*) AS x
      FROM orders WHERE year(o_orderdate) = 1996 GROUP BY 1),
    cum AS (
      SELECT day, x,
             CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS i,
             CAST(SUM(x) OVER (ORDER BY day
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS c,
             CAST(SUM(x) OVER () AS BIGINT) AS t,
             CAST(count(*) OVER () AS BIGINT) AS n
      FROM daily),
    scored AS (
      SELECT day, x, CAST(n * c - i * t AS BIGINT) AS s_scaled FROM cum),
    mx AS (
      SELECT day, x, s_scaled,
             max(abs(s_scaled)) OVER () AS _mx
      FROM scored),
    pk AS (
      SELECT day, x, s_scaled,
             min(CASE WHEN abs(s_scaled) = _mx THEN day END) OVER () AS _pday
      FROM mx)
    SELECT day, x, s_scaled, day = _pday AS is_changepoint FROM pk
"""


ORACLE_SQL["graph_modularity"] = """
    WITH RECURSIVE base AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\\s+'),
                         w -> w <> '') AS words
      FROM documents),
    sh AS (
      SELECT doc_id,
             list_distinct(CASE WHEN len(words) >= 2
               THEN list_transform(range(1, len(words)),
                                   i -> words[i] || ' ' || words[i + 1])
               ELSE words END) AS shingles
      FROM base),
    sized AS (SELECT doc_id, shingles, len(shingles) AS n FROM sh
              WHERE len(shingles) > 0),
    pairs AS (
      SELECT a.doc_id AS s, b.doc_id AS d
      FROM sized a JOIN sized b
        ON a.doc_id < b.doc_id
       AND least(a.n, b.n) >= 0.5 * greatest(a.n, b.n)
      WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
              / (a.n + b.n - len(list_intersect(a.shingles, b.shingles))) >= 0.5),
    edges AS (SELECT s, d FROM pairs UNION SELECT d, s FROM pairs),
    reach AS (
      SELECT s, d FROM edges
      UNION
      SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s),
    comp AS (
      SELECT s AS id, LEAST(s, MIN(d)) AS cluster_id
      FROM reach GROUP BY s),
    deg AS (
      SELECT id, CAST(count(*) AS BIGINT) AS deg FROM (
        SELECT s AS id FROM pairs UNION ALL SELECT d AS id FROM pairs)
      GROUP BY id),
    per_comm AS (
      SELECT c.cluster_id, CAST(SUM(g.deg) AS BIGINT) AS d_c
      FROM comp c JOIN deg g USING (id) GROUP BY c.cluster_id),
    stats AS (
      SELECT CAST(count(*) AS BIGINT) AS n_communities,
             CAST(SUM(d_c * d_c) AS BIGINT) AS sum_d2,
             CAST(SUM(d_c) // 2 AS BIGINT) AS m_edges
      FROM per_comm)
    SELECT m_edges, n_communities,
           CAST(4 * m_edges * m_edges - sum_d2 AS BIGINT) AS q_num,
           CAST(4 * m_edges * m_edges AS BIGINT) AS q_den,
           CASE WHEN m_edges > 0
                THEN CAST(4 * m_edges * m_edges - sum_d2 AS DOUBLE)
                     / CAST(4 * m_edges * m_edges AS DOUBLE) END AS modularity
    FROM stats
"""


ORACLE_SQL["robust_outliers"] = """
    WITH e AS (
      SELECT event_type,
             CAST(floor(value * 1000000) AS BIGINT) AS v
      FROM events),
    r AS (
      SELECT event_type, v,
             row_number() OVER (PARTITION BY event_type ORDER BY v) AS rn,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM e),
    med AS (
      SELECT event_type, v AS med FROM r WHERE rn = (n + 1) // 2),
    dev AS (
      SELECT e.event_type, e.v, m.med, abs(e.v - m.med) AS adev
      FROM e JOIN med m USING (event_type)),
    rd AS (
      SELECT event_type, adev,
             row_number() OVER (PARTITION BY event_type ORDER BY adev) AS rn,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM dev),
    mad AS (
      SELECT event_type, adev AS mad FROM rd WHERE rn = (n + 1) // 2)
    SELECT d.event_type,
           count(*) AS n,
           CAST(min(d.med) AS BIGINT) AS med_fp,
           CAST(min(m.mad) AS BIGINT) AS mad_fp,
           CAST(SUM(CASE WHEN d.adev * 10000 > m.mad * 44478
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM dev d JOIN mad m USING (event_type)
    GROUP BY d.event_type
"""


ORACLE_SQL["copurchase_lift"] = """
    WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    n_orders AS (
      SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders FROM li),
    supp AS (
      SELECT l_partkey AS pk, CAST(count(*) AS BIGINT) AS supp
      FROM li GROUP BY 1),
    pairs AS (
      SELECT a.l_partkey AS pk_a, b.l_partkey AS pk_b,
             CAST(count(*) AS BIGINT) AS support
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
      HAVING count(*) >= 3)
    SELECT pk_a, pk_b, support, sa.supp AS supp_a, sb.supp AS supp_b,
           CAST((CAST(support AS HUGEINT) * n_orders * 1000000)
                // (CAST(sa.supp AS HUGEINT) * sb.supp) AS BIGINT) AS lift_grid
    FROM pairs
    JOIN supp sa ON sa.pk = pk_a
    JOIN supp sb ON sb.pk = pk_b
    CROSS JOIN n_orders
    ORDER BY lift_grid DESC, pk_a, pk_b
    LIMIT 20
"""


_THETA_MAX_SQL = 1152921504606846976  # 2^60, the md5_60 hash domain

ORACLE_SQL["theta_set_ops"] = f"""
    WITH tbase AS (
      SELECT lang,
             list_filter(string_split_regex(lower(text), '\\s+'),
                         w -> w <> '') AS words
      FROM documents),
    shl AS (
      SELECT lang,
             unnest(list_distinct(CASE WHEN len(words) >= 2
               THEN list_transform(range(1, len(words)),
                                   i -> words[i] || ' ' || words[i + 1])
               ELSE words END)) AS s
      FROM tbase WHERE len(words) > 0),
    hs AS MATERIALIZED (
      SELECT DISTINCT lang AS source,
             ('0x' || substr(md5(s), 1, 15))::BIGINT AS h
      FROM shl),
    st AS MATERIALIZED (
      SELECT source, h FROM (
        SELECT source, h,
               row_number() OVER (PARTITION BY source ORDER BY h) AS rn
        FROM hs)
      WHERE rn <= 257),
    par AS MATERIALIZED (
      SELECT source,
             (CASE WHEN count(*) >= 257 THEN max(h)
                   ELSE {_THETA_MAX_SQL} END)::BIGINT AS theta_s
      FROM st GROUP BY source),
    smp AS MATERIALIZED (
      SELECT s.source, s.h FROM st s JOIN par p USING (source)
      WHERE s.h < p.theta_s),
    prs AS MATERIALIZED (
      SELECT a.source AS source_a, b.source AS source_b,
             least(a.theta_s, b.theta_s)::BIGINT AS theta
      FROM par a JOIN par b ON a.source < b.source),
    marked AS (
      SELECT source_a, source_b, h, max(ina) AS ina, max(inb) AS inb FROM (
        SELECT p.source_a, p.source_b, s.h, 1 AS ina, 0 AS inb
        FROM smp s JOIN prs p ON s.source = p.source_a WHERE s.h < p.theta
        UNION ALL
        SELECT p.source_a, p.source_b, s.h, 0 AS ina, 1 AS inb
        FROM smp s JOIN prs p ON s.source = p.source_b WHERE s.h < p.theta)
      GROUP BY source_a, source_b, h),
    cnt AS (
      SELECT source_a, source_b,
             count(*)::BIGINT AS w_union,
             sum(CASE WHEN ina = 1 AND inb = 1 THEN 1 ELSE 0 END)::BIGINT AS w_inter,
             sum(CASE WHEN ina = 1 AND inb = 0 THEN 1 ELSE 0 END)::BIGINT AS w_diff_ab,
             sum(CASE WHEN ina = 0 AND inb = 1 THEN 1 ELSE 0 END)::BIGINT AS w_diff_ba
      FROM marked GROUP BY source_a, source_b)
    SELECT p.source_a, p.source_b, p.theta,
           coalesce(c.w_union, 0)::BIGINT AS w_union,
           coalesce(c.w_inter, 0)::BIGINT AS w_inter,
           coalesce(c.w_diff_ab, 0)::BIGINT AS w_diff_ab,
           coalesce(c.w_diff_ba, 0)::BIGINT AS w_diff_ba,
           (CASE WHEN p.theta = {_THETA_MAX_SQL} THEN coalesce(c.w_union, 0)::HUGEINT
                 ELSE coalesce(c.w_union, 0)::HUGEINT * {_THETA_MAX_SQL}::HUGEINT // p.theta
            END)::BIGINT AS est_union,
           (CASE WHEN p.theta = {_THETA_MAX_SQL} THEN coalesce(c.w_inter, 0)::HUGEINT
                 ELSE coalesce(c.w_inter, 0)::HUGEINT * {_THETA_MAX_SQL}::HUGEINT // p.theta
            END)::BIGINT AS est_inter,
           (CASE WHEN p.theta = {_THETA_MAX_SQL} THEN coalesce(c.w_diff_ab, 0)::HUGEINT
                 ELSE coalesce(c.w_diff_ab, 0)::HUGEINT * {_THETA_MAX_SQL}::HUGEINT // p.theta
            END)::BIGINT AS est_diff_ab,
           (CASE WHEN p.theta = {_THETA_MAX_SQL} THEN coalesce(c.w_diff_ba, 0)::HUGEINT
                 ELSE coalesce(c.w_diff_ba, 0)::HUGEINT * {_THETA_MAX_SQL}::HUGEINT // p.theta
            END)::BIGINT AS est_diff_ba
    FROM prs p LEFT JOIN cnt c USING (source_a, source_b)
"""

ORACLE_SQL["theta_multiway"] = f"""
    WITH tbase AS (
      SELECT lang,
             list_filter(string_split_regex(lower(text), '\\s+'),
                         w -> w <> '') AS words
      FROM documents),
    shl AS (
      SELECT lang,
             unnest(list_distinct(CASE WHEN len(words) >= 2
               THEN list_transform(range(1, len(words)),
                                   i -> words[i] || ' ' || words[i + 1])
               ELSE words END)) AS s
      FROM tbase WHERE len(words) > 0),
    hs AS MATERIALIZED (
      SELECT DISTINCT lang AS source,
             ('0x' || substr(md5(s), 1, 15))::BIGINT AS h
      FROM shl),
    st AS MATERIALIZED (
      SELECT source, h FROM (
        SELECT source, h,
               row_number() OVER (PARTITION BY source ORDER BY h) AS rn
        FROM hs)
      WHERE rn <= 257),
    ns AS (SELECT count(DISTINCT source)::INT AS n_sources FROM st),
    th AS (
      SELECT min(theta_s)::BIGINT AS theta FROM (
        SELECT (CASE WHEN count(*) >= 257 THEN max(h)
                     ELSE {_THETA_MAX_SQL} END)::BIGINT AS theta_s
        FROM st GROUP BY source)),
    marked AS (
      SELECT s.h, count(DISTINCT s.source) AS nsrc
      FROM st s, th WHERE s.h < th.theta GROUP BY s.h),
    cnt AS (
      SELECT count(*)::BIGINT AS w_union,
             coalesce(sum(CASE WHEN nsrc = (SELECT n_sources FROM ns)
                          THEN 1 ELSE 0 END), 0)::BIGINT AS w_inter
      FROM marked)
    SELECT ns.n_sources, th.theta,
           cnt.w_union, cnt.w_inter,
           (CASE WHEN th.theta = {_THETA_MAX_SQL} THEN cnt.w_union::HUGEINT
                 ELSE cnt.w_union::HUGEINT * {_THETA_MAX_SQL}::HUGEINT // th.theta
            END)::BIGINT AS est_union,
           (CASE WHEN th.theta = {_THETA_MAX_SQL} THEN cnt.w_inter::HUGEINT
                 ELSE cnt.w_inter::HUGEINT * {_THETA_MAX_SQL}::HUGEINT // th.theta
            END)::BIGINT AS est_inter
    FROM ns, th, cnt
"""

ORACLE_SQL["kmv_overlap"] = """
    WITH sa AS (
      SELECT DISTINCT ('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 15))::BIGINT AS h
      FROM orders WHERE o_custkey IS NOT NULL
      ORDER BY h LIMIT 64),
    sb AS (
      SELECT DISTINCT ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS h
      FROM events WHERE user_id IS NOT NULL
      ORDER BY h LIMIT 64),
    mu AS (
      SELECT DISTINCT h FROM (SELECT h FROM sa UNION ALL SELECT h FROM sb)
      ORDER BY h LIMIT 64),
    ms AS (
      SELECT CAST(count(*) AS BIGINT) AS m, CAST(max(h) AS BIGINT) AS theta FROM mu),
    ys AS (
      SELECT CAST(count(*) AS BIGINT) AS y FROM mu
      WHERE h IN (SELECT h FROM sa) AND h IN (SELECT h FROM sb)),
    est AS (
      SELECT m, theta, y,
             CASE WHEN m < 64 THEN m
                  ELSE CAST(floor(63.0 * 1152921504606846976.0
                                  / CAST(theta AS DOUBLE)) AS BIGINT)
             END AS est_union
      FROM ms, ys)
    SELECT m, theta, y,
           CAST((y * 1000000000) // m AS BIGINT) AS jaccard_grid,
           est_union,
           CAST((y * est_union) // m AS BIGINT) AS est_inter
    FROM est
"""


def _k_core_sql(k: int = 2, rounds: int = 24) -> str:
    """Generated k-core oracle: the SAME near-dup pair derivation as the
    graph_modularity oracle, then ``rounds`` unrolled peel iterations as
    chained CTEs — each round recomputes degrees and drops edges
    incident to any node of degree < k.  Peeling is order-independent
    with a unique fixpoint, so a fixed unroll deep enough to converge
    replays the Spark loop exactly (near-dup components are shallow;
    pytest asserts the Spark side converges well under ``rounds``)."""
    parts = [
        """
    WITH base AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\\s+'),
                         w -> w <> '') AS words
      FROM documents),
    sh AS (
      SELECT doc_id,
             list_distinct(CASE WHEN len(words) >= 2
               THEN list_transform(range(1, len(words)),
                                   i -> words[i] || ' ' || words[i + 1])
               ELSE words END) AS shingles
      FROM base),
    sized AS (SELECT doc_id, shingles, len(shingles) AS n FROM sh
              WHERE len(shingles) > 0),
    e0 AS MATERIALIZED (
      SELECT a.doc_id AS u, b.doc_id AS v
      FROM sized a JOIN sized b
        ON a.doc_id < b.doc_id
       AND least(a.n, b.n) >= 0.5 * greatest(a.n, b.n)
      WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
              / (a.n + b.n - len(list_intersect(a.shingles, b.shingles))) >= 0.5)"""
    ]
    for i in range(rounds):
        # MATERIALIZED is load-bearing: each round references the prior
        # round three times (the edge scan + the two NOT IN probes), so
        # an inlining planner would expand the chain exponentially.
        parts.append(
            f""",
    d{i} AS MATERIALIZED (
      SELECT n, CAST(count(*) AS BIGINT) AS c FROM (
        SELECT u AS n FROM e{i} UNION ALL SELECT v AS n FROM e{i})
      GROUP BY n),
    e{i + 1} AS MATERIALIZED (
      SELECT u, v FROM e{i}
      WHERE u NOT IN (SELECT n FROM d{i} WHERE c < {k})
        AND v NOT IN (SELECT n FROM d{i} WHERE c < {k}))"""
        )
    parts.append(
        f""",
    dfinal AS (
      SELECT n, CAST(count(*) AS BIGINT) AS c FROM (
        SELECT u AS n FROM e{rounds} UNION ALL SELECT v AS n FROM e{rounds})
      GROUP BY n)
    SELECT n AS id, c AS core_deg FROM dfinal ORDER BY id"""
    )
    return "".join(parts)


from .operators.graph import K_CORE_ORACLE_ROUNDS as _K_CORE_ROUNDS

ORACLE_SQL["k_core"] = _k_core_sql(k=2, rounds=_K_CORE_ROUNDS)


ORACLE_SQL["multi_touch"] = """
    WITH conv AS (
      SELECT event_id AS conv_id, user_id, ts FROM events
      WHERE event_type = 'purchase'),
    t AS (
      SELECT event_id AS touch_id, user_id, event_type AS channel, ts
      FROM events WHERE event_type IN ('click', 'view')),
    att AS (
      SELECT t.channel, l.conv_id
      FROM t JOIN LATERAL (
        SELECT c.conv_id FROM conv c
        WHERE c.user_id = t.user_id AND c.ts >= t.ts
          AND c.ts <= t.ts + INTERVAL 604800 SECOND
        ORDER BY c.ts ASC, c.conv_id ASC LIMIT 1) l ON TRUE),
    n AS (SELECT conv_id, count(*) AS n_t FROM att GROUP BY conv_id)
    SELECT channel,
           CAST(count(*) AS BIGINT) AS touches,
           CAST(sum(1000000 // n_t) AS BIGINT) AS credit_micro
    FROM att JOIN n USING (conv_id)
    GROUP BY channel ORDER BY channel
"""


ORACLE_SQL["clustering_coeff"] = """
    WITH base AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\\s+'),
                         w -> w <> '') AS words
      FROM documents),
    sh AS (
      SELECT doc_id,
             list_distinct(CASE WHEN len(words) >= 2
               THEN list_transform(range(1, len(words)),
                                   i -> words[i] || ' ' || words[i + 1])
               ELSE words END) AS shingles
      FROM base),
    sized AS (SELECT doc_id, shingles, len(shingles) AS n FROM sh
              WHERE len(shingles) > 0),
    e AS MATERIALIZED (
      SELECT a.doc_id AS u, b.doc_id AS v
      FROM sized a JOIN sized b
        ON a.doc_id < b.doc_id
       AND least(a.n, b.n) >= 0.5 * greatest(a.n, b.n)
      WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
              / (a.n + b.n - len(list_intersect(a.shingles, b.shingles))) >= 0.5),
    tri AS MATERIALIZED (
      SELECT e1.u AS a, e1.v AS b, e2.v AS c
      FROM e e1
      JOIN e e2 ON e2.u = e1.v
      JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
    tn AS (
      SELECT n, CAST(count(*) AS BIGINT) AS tri_n FROM (
        SELECT a AS n FROM tri UNION ALL SELECT b FROM tri
        UNION ALL SELECT c FROM tri)
      GROUP BY n),
    deg AS (
      SELECT n, CAST(count(*) AS BIGINT) AS deg FROM (
        SELECT u AS n FROM e UNION ALL SELECT v AS n FROM e)
      GROUP BY n)
    SELECT deg.n AS id, deg.deg,
           CAST(COALESCE(tn.tri_n, 0) AS BIGINT) AS tri_n,
           CAST(CASE WHEN deg.deg >= 2
                THEN (2000000 * COALESCE(tn.tri_n, 0)) // (deg.deg * (deg.deg - 1))
                ELSE 0 END AS BIGINT) AS coeff_grid
    FROM deg LEFT JOIN tn ON tn.n = deg.n
    ORDER BY id
"""


ORACLE_SQL["rrf_fusion"] = """
    WITH words AS MATERIALIZED (
      SELECT doc_id, unnest(list_filter(
               string_split_regex(lower(text), '\\s+'), w -> w <> '')) AS term
      FROM documents),
    dl AS (SELECT doc_id, count(*) AS dl FROM words GROUP BY doc_id),
    qtf AS MATERIALIZED (
      SELECT doc_id, term, count(*) AS tf FROM words
      WHERE term IN ('spark', 'join', 'window') GROUP BY doc_id, term),
    dfreq AS (SELECT term, count(*) AS df FROM qtf GROUP BY term),
    stats AS (SELECT count(*) AS n_docs, SUM(dl) AS sum_dl FROM dl),
    nd AS (SELECT count(*) AS n_docs FROM documents),
    bm_per_term AS (
      SELECT q.doc_id,
             CAST(floor(
               ln((CAST(s.n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
                  / (CAST(df AS DOUBLE) + 0.5) + 1.0)
               * CAST(tf AS DOUBLE) * 2.2
               / (CAST(tf AS DOUBLE)
                  + 1.2 * (1.0 - 0.75 + 0.75 * CAST(d.dl AS DOUBLE)
                           / (CAST(s.sum_dl AS DOUBLE) / CAST(s.n_docs AS DOUBLE))))
               * 1000000000.0) AS BIGINT) AS cg
      FROM qtf q JOIN dfreq USING (term) JOIN dl d USING (doc_id), stats s),
    bm_tot AS (SELECT doc_id, CAST(SUM(cg) AS BIGINT) AS sg
               FROM bm_per_term GROUP BY doc_id),
    bm_top AS (SELECT doc_id, sg FROM bm_tot ORDER BY sg DESC, doc_id LIMIT 50),
    bm_rank AS (
      SELECT doc_id, CAST(row_number() OVER (ORDER BY sg DESC, doc_id)
                          AS INTEGER) AS rank_bm25
      FROM bm_top),
    tf_per_term AS (
      SELECT q.doc_id,
             CAST(floor(
               ln(CAST(nd.n_docs AS DOUBLE) / CAST(df AS DOUBLE))
               * CAST(tf AS DOUBLE) * 1000000000.0) AS BIGINT) AS cg
      FROM qtf q JOIN dfreq USING (term), nd),
    tf_tot AS (SELECT doc_id, CAST(SUM(cg) AS BIGINT) AS sg
               FROM tf_per_term GROUP BY doc_id),
    tf_top AS (SELECT doc_id, sg FROM tf_tot ORDER BY sg DESC, doc_id LIMIT 50),
    tf_rank AS (
      SELECT doc_id, CAST(row_number() OVER (ORDER BY sg DESC, doc_id)
                          AS INTEGER) AS rank_tfidf
      FROM tf_top),
    fused AS (
      SELECT COALESCE(b.doc_id, t.doc_id) AS doc_id,
             b.rank_bm25, t.rank_tfidf,
             CAST(COALESCE(1000000000 // (60 + b.rank_bm25), 0)
                  + COALESCE(1000000000 // (60 + t.rank_tfidf), 0)
                  AS BIGINT) AS rrf_grid
      FROM bm_rank b FULL OUTER JOIN tf_rank t ON b.doc_id = t.doc_id)
    SELECT doc_id, rank_bm25, rank_tfidf, rrf_grid
    FROM fused ORDER BY rrf_grid DESC, doc_id LIMIT 20
"""


ORACLE_SQL["late_order_priority"] = """
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders o
    WHERE EXISTS (
      SELECT 1 FROM lineitem l
      WHERE l.l_orderkey = o.o_orderkey
        AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY)
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
"""


ORACLE_SQL["discount_revenue"] = """
    SELECT CAST(floor(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                          * CAST(l_discount AS DECIMAL(18,2))) * 100)
                AS BIGINT) AS revenue_cents,
           COUNT(*) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= DATE '1996-01-01'
      AND l_shipdate < DATE '1997-01-01'
      AND CAST(l_discount AS DECIMAL(18,2)) BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
"""


ORACLE_SQL["priority_mix"] = """
    SELECT l_linestatus,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE l_shipdate > o_orderdate + INTERVAL 60 DAY
    GROUP BY l_linestatus
    ORDER BY l_linestatus
"""


ORACLE_SQL["seasonal_naive"] = """
    WITH hourly AS (
      SELECT event_type,
             CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS h,
             CAST(SUM(CAST(floor(value * 1000000) AS BIGINT)) AS BIGINT) AS v
      FROM events GROUP BY event_type, date_trunc('hour', ts)),
    scored AS (
      SELECT a.event_type, abs(a.v - b.v) AS ae
      FROM hourly a JOIN hourly b
        ON a.event_type = b.event_type AND b.h = a.h - 604800)
    SELECT event_type,
           COUNT(*) AS n_scored,
           CAST(SUM(ae) AS BIGINT) AS sae,
           CAST(SUM(ae) // COUNT(*) AS BIGINT) AS mae_grid
    FROM scored GROUP BY event_type ORDER BY event_type
"""


def _phash_oracle_sql(bands: int = 7, band_bits: int = 9, max_hamming: int = 6) -> str:
    """DuckDB mirror of ``multimodal/phash.py``: the synthetic PPM
    raster reconstructs from the text column (the
    ``multimodal_image_features`` device), grayscale / block means /
    DCT / median / banding are all int64, and the cosine matrix
    literals come from the SAME ``DCT_C`` table the numpy kernel
    uses — so the fingerprints, the band join, and the Hamming verify
    hash-check bit-for-bit."""
    from .multimodal.phash import DCT_C

    coef_rows = ", ".join(
        f"({u}, {x}, {DCT_C[u][x]})" for u in range(8) for x in range(8)
    )
    mask = (1 << band_bits) - 1
    return f"""
    WITH imgs AS (
      SELECT doc_id AS asset_id,
             ((doc_id % 8 + 4) * 4)::INT AS w,
             ((doc_id % 6 + 3) * 4)::INT AS h,
             coalesce(nullif(regexp_replace(text, '[^ -~]', '', 'g'), ''), 'spark') AS src
      FROM documents WHERE doc_id % 3 = 0),
    sized AS MATERIALIZED (
      SELECT asset_id, w, h, (w*h*3)::INT AS n_pix,
             substr(repeat(src, (w*h*3 / length(src))::INT + 1), 1, (w*h*3)::INT) AS raster
      FROM imgs),
    px AS (
      SELECT asset_id, w, h, p,
             (ascii(substr(raster, (3*p + 1)::INT, 1))
              + ascii(substr(raster, (3*p + 2)::INT, 1))
              + ascii(substr(raster, (3*p + 3)::INT, 1))) // 3 AS gray
      FROM (SELECT asset_id, w, h, raster, unnest(range((n_pix / 3)::BIGINT)) AS p
            FROM sized)),
    grid AS (
      SELECT asset_id,
             ((p // w) * 8) // h AS gy,
             ((p % w) * 8) // w AS gx,
             sum(gray) // count(*) AS m
      FROM px GROUP BY asset_id, ((p // w) * 8) // h, ((p % w) * 8) // w),
    coef(u, x, c) AS (VALUES {coef_rows}),
    dct AS (
      SELECT g.asset_id, cu.u AS u, cv.u AS v,
             sum(cu.c * cv.c * g.m)::BIGINT AS t
      FROM grid g
      JOIN coef cu ON cu.x = g.gy
      JOIN coef cv ON cv.x = g.gx
      GROUP BY g.asset_id, cu.u, cv.u),
    ac AS (
      SELECT asset_id, (u * 8 + v - 1)::INT AS idx, t
      FROM dct WHERE NOT (u = 0 AND v = 0)),
    med AS (
      SELECT asset_id, t AS med
      FROM (SELECT asset_id, t,
                   row_number() OVER (PARTITION BY asset_id ORDER BY t) AS rn
            FROM ac)
      WHERE rn = 32),
    ph AS MATERIALIZED (
      SELECT ac.asset_id,
             sum(CASE WHEN ac.t > med.med THEN (1::BIGINT << ac.idx) ELSE 0 END)::BIGINT
               AS phash
      FROM ac JOIN med USING (asset_id)
      GROUP BY ac.asset_id),
    bnd AS MATERIALIZED (
      SELECT asset_id, phash, band,
             (phash >> ({band_bits} * band)::INT) & {mask} AS bv
      FROM (SELECT asset_id, phash, unnest(range({bands}))::INT AS band FROM ph)),
    pairs AS (
      SELECT a, b FROM (
        SELECT DISTINCT x.asset_id AS a, y.asset_id AS b,
               x.phash AS pa, y.phash AS pb
        FROM bnd x JOIN bnd y
          ON x.band = y.band AND x.bv = y.bv AND x.asset_id < y.asset_id)
      WHERE bit_count(xor(pa, pb)) <= {max_hamming}),
    nb AS (
      SELECT a AS asset_id, b AS nb FROM pairs
      UNION ALL
      SELECT b AS asset_id, a AS nb FROM pairs),
    agg AS (
      SELECT asset_id, count(*)::BIGINT AS n_near_dups, min(nb) AS mn
      FROM nb GROUP BY asset_id)
    SELECT ph.asset_id, ph.phash,
           coalesce(agg.n_near_dups, 0)::BIGINT AS n_near_dups,
           least(ph.asset_id, coalesce(agg.mn, ph.asset_id))::BIGINT AS keeper_id
    FROM ph LEFT JOIN agg USING (asset_id)
"""


ORACLE_SQL["phash_image_dedup"] = _phash_oracle_sql()


def _video_phash_oracle_sql(
    every_n: int = 10,
    bands: int = 7,
    band_bits: int = 9,
    max_hamming: int = 6,
    min_match_pct: int = 50,
) -> str:
    """DuckDB mirror of ``multimodal/phash.py::video_phash_dedup``:
    frame byte chunks via the hex-slice device
    (multimodal_frame_sample), the fake-decode 12×16 grayscale raster
    (pixel p = frame byte p mod chunk length, parsed from hex pairs),
    then the SAME integer block-mean/DCT/median/banding chain as
    _phash_oracle_sql keyed by (asset_id, frame_idx), frame-level band
    join + exact Hamming verify, the integer matched-frame-fraction
    threshold, and the per-video summary."""
    from .multimodal.phash import DCT_C, FRAME_H, FRAME_W

    coef_rows = ", ".join(
        f"({u}, {x}, {DCT_C[u][x]})" for u in range(8) for x in range(8)
    )
    mask = (1 << band_bits) - 1
    npix = FRAME_W * FRAME_H
    return f"""
    WITH videos AS (
      SELECT doc_id AS asset_id,
             hex(encode(text)) AS hx,
             octet_length(encode(text)) AS nbytes,
             CAST(doc_id % 50 + 10 AS INT) AS n_frames
      FROM documents WHERE doc_id % 3 = 2),
    f AS (
      SELECT asset_id, hx,
             greatest(CAST(nbytes // n_frames AS INT), 1) AS chunk,
             unnest(generate_series(0, n_frames - 1, {every_n})) AS frame_idx
      FROM videos),
    fnz AS MATERIALIZED (
      SELECT asset_id, CAST(frame_idx AS INT) AS frame_idx, fhx,
             (length(fhx) // 2)::INT AS flen
      FROM (
        SELECT asset_id, frame_idx,
               substring(hx, CAST(frame_idx * chunk * 2 + 1 AS BIGINT),
                         CAST(chunk * 2 AS BIGINT)) AS fhx
        FROM f)
      WHERE length(fhx) > 0),
    px AS (
      SELECT asset_id, frame_idx, p,
             ('0x' || substr(fhx, ((p % flen) * 2 + 1)::INT, 2))::BIGINT AS gray
      FROM (SELECT asset_id, frame_idx, fhx, flen,
                   unnest(range({npix})) AS p
            FROM fnz)),
    grid AS (
      SELECT asset_id, frame_idx,
             ((p // {FRAME_W}) * 8) // {FRAME_H} AS gy,
             ((p % {FRAME_W}) * 8) // {FRAME_W} AS gx,
             sum(gray) // count(*) AS m
      FROM px
      GROUP BY asset_id, frame_idx,
               ((p // {FRAME_W}) * 8) // {FRAME_H},
               ((p % {FRAME_W}) * 8) // {FRAME_W}),
    coef(u, x, c) AS (VALUES {coef_rows}),
    dct AS (
      SELECT g.asset_id, g.frame_idx, cu.u AS u, cv.u AS v,
             sum(cu.c * cv.c * g.m)::BIGINT AS t
      FROM grid g
      JOIN coef cu ON cu.x = g.gy
      JOIN coef cv ON cv.x = g.gx
      GROUP BY g.asset_id, g.frame_idx, cu.u, cv.u),
    ac AS (
      SELECT asset_id, frame_idx, (u * 8 + v - 1)::INT AS idx, t
      FROM dct WHERE NOT (u = 0 AND v = 0)),
    med AS (
      SELECT asset_id, frame_idx, t AS med
      FROM (SELECT asset_id, frame_idx, t,
                   row_number() OVER (PARTITION BY asset_id, frame_idx
                                      ORDER BY t) AS rn
            FROM ac)
      WHERE rn = 32),
    ph AS MATERIALIZED (
      SELECT ac.asset_id, ac.frame_idx,
             sum(CASE WHEN ac.t > med.med THEN (1::BIGINT << ac.idx) ELSE 0 END)::BIGINT
               AS phash
      FROM ac JOIN med USING (asset_id, frame_idx)
      GROUP BY ac.asset_id, ac.frame_idx),
    nfh AS MATERIALIZED (
      SELECT asset_id, count(*)::BIGINT AS n_frames,
             bit_xor(phash)::BIGINT AS frames_sig
      FROM ph GROUP BY asset_id),
    bnd AS MATERIALIZED (
      SELECT asset_id, frame_idx, phash, band,
             (phash >> ({band_bits} * band)::INT) & {mask} AS bv
      FROM (SELECT asset_id, frame_idx, phash,
                   unnest(range({bands}))::INT AS band
            FROM ph)),
    fpair AS (
      SELECT a, fia, b, fib FROM (
        SELECT DISTINCT x.asset_id AS a, x.frame_idx AS fia,
               y.asset_id AS b, y.frame_idx AS fib,
               x.phash AS pa, y.phash AS pb
        FROM bnd x JOIN bnd y
          ON x.band = y.band AND x.bv = y.bv AND x.asset_id < y.asset_id)
      WHERE bit_count(xor(pa, pb)) <= {max_hamming}),
    ma AS (
      SELECT a, b, count(DISTINCT fia)::BIGINT AS m_a,
             count(DISTINCT fib)::BIGINT AS m_b
      FROM fpair GROUP BY a, b),
    vp AS (
      SELECT ma.a, ma.b
      FROM ma
      JOIN nfh na ON na.asset_id = ma.a
      JOIN nfh nb2 ON nb2.asset_id = ma.b
      WHERE (ma.m_a + ma.m_b) * 100 >= {min_match_pct} * (na.n_frames + nb2.n_frames)),
    nb AS (
      SELECT a AS asset_id, b AS nb FROM vp
      UNION ALL
      SELECT b AS asset_id, a AS nb FROM vp),
    agg AS (
      SELECT asset_id, count(*)::BIGINT AS n_near_dups, min(nb) AS mn
      FROM nb GROUP BY asset_id)
    SELECT nfh.asset_id, nfh.n_frames, nfh.frames_sig,
           coalesce(agg.n_near_dups, 0)::BIGINT AS n_near_dups,
           least(nfh.asset_id, coalesce(agg.mn, nfh.asset_id))::BIGINT AS keeper_id
    FROM nfh LEFT JOIN agg USING (asset_id)
"""


ORACLE_SQL["video_phash_dedup"] = _video_phash_oracle_sql()


def _band_index_oracle_sql(
    corpus_where: str, num_perm: int = 16, bands: int = 4
) -> str:
    """DuckDB mirror of ``operators/lsh_index.py::minhash_band_index``
    over the corpus selected by ``corpus_where`` — used as the
    incremental-maintenance oracle: the CDC path must equal this full
    rebuild on the unified corpus."""
    rows_per_band = num_perm // bands
    mh_cols = ",\n             ".join(
        "list_min(list_transform(shingles, s ->"
        f" ('0x' || substr(md5('mh{j}:' || s), 1, 15))::BIGINT)) AS mh{j}"
        for j in range(num_perm)
    )
    band_rows = ",\n             ".join(
        "({b}, ('0x' || substr(md5('band{b}:' || {payload}), 1, 15))::BIGINT)".format(
            b=b,
            payload=" || ',' || ".join(
                f"mh{b * rows_per_band + r}::VARCHAR" for r in range(rows_per_band)
            ),
        )
        for b in range(bands)
    )
    return f"""
    WITH base AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\\s+'),
                         w -> w <> '') AS words
      FROM documents WHERE {corpus_where}),
    sh AS (
      SELECT doc_id,
             list_distinct(CASE WHEN len(words) >= 2
               THEN list_transform(range(1, len(words)),
                                   i -> words[i] || ' ' || words[i + 1])
               ELSE words END) AS shingles
      FROM base WHERE len(words) > 0),
    mins AS (
      SELECT doc_id,
             {mh_cols}
      FROM sh)
    SELECT doc_id, u.band::INT AS band, u.band_sig::BIGINT AS band_sig
    FROM (
      SELECT doc_id,
             unnest([{{'band': b.band, 'band_sig': b.band_sig}}
                     FOR b IN [
             {band_rows}
             ]::STRUCT(band INT, band_sig BIGINT)[]]) AS u
      FROM mins)
"""


ORACLE_SQL["incremental_lsh_index"] = _band_index_oracle_sql(
    "doc_id % 7 = 0 OR doc_id % 11 <> 0"
)

# Composed incremental refresh: full-rebuild band index x full-rebuild
# clusters on the %5/%11 unified corpus, joined per doc (unclustered
# docs are their own keeper, size 1).
ORACLE_SQL["incremental_refresh_pipeline"] = f"""
    SELECT coalesce(bi.doc_id, cl.doc_id)::BIGINT AS doc_id,
           coalesce(bi.n_bands, 0)::BIGINT AS n_bands,
           cl.doc_id IS NOT NULL AS clustered,
           coalesce(cl.cluster_id, coalesce(bi.doc_id, cl.doc_id))::BIGINT AS cluster_id,
           coalesce(cl.cluster_size, 1)::BIGINT AS cluster_size,
           coalesce(cl.is_keeper, TRUE) AS is_keeper
    FROM (
      SELECT doc_id, count(*)::BIGINT AS n_bands FROM (
        {_band_index_oracle_sql("doc_id % 5 = 0 OR doc_id % 11 <> 0")}
      ) GROUP BY doc_id
    ) bi
    FULL JOIN (
      {ORACLE_SQL["incremental_dedup_clusters"]}
    ) cl ON bi.doc_id = cl.doc_id
"""


ORACLE_SQL["sketch_quantiles"] = """
    WITH v AS (
      SELECT CAST(floor(l_extendedprice * 100) AS BIGINT) AS val,
             ('0x' || substr(md5('qs:' || l_orderkey::VARCHAR || '-'
                                 || l_linenumber::VARCHAR), 1, 15))::BIGINT AS hh
      FROM lineitem WHERE l_extendedprice IS NOT NULL),
    n AS (SELECT count(*)::BIGINT AS n FROM v),
    lv AS (
      SELECT min(l)::INT AS level, min(p)::BIGINT AS pw
      FROM (SELECT unnest(range(41))::INT AS l,
                   unnest(list_transform(range(41), i -> 1::BIGINT << i::INT)) AS p),
           n
      WHERE n.n <= 256 * p),
    kept AS (SELECT val, hh FROM v, lv WHERE hh % lv.pw = 0),
    ranked AS (
      SELECT val, row_number() OVER (ORDER BY val, hh) AS rn FROM kept),
    qs(q_pct) AS (VALUES (10), (25), (50), (75), (90))
    SELECT qs.q_pct::INT AS q_pct,
           coalesce(min(CASE WHEN ranked.rn * lv.pw * 100 >= qs.q_pct * n.n
                             THEN ranked.val END),
                    max(ranked.val))::BIGINT AS est,
           n.n::BIGINT AS n,
           lv.level::INT AS level,
           count(*)::BIGINT AS kept_rows
    FROM ranked, qs, n, lv
    GROUP BY qs.q_pct, n.n, lv.level, lv.pw
"""
