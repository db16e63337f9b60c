"""Relational operator coverage over the driver's TPC-H-ish tables
(SURVEY.md §2.G checklist: scan, filter, projection, aggregation, join,
window, sort, set ops, scalar/string/date/json functions).

Determinism rules for the DuckDB cross-check:
- money/value sums computed in DECIMAL(18,4) (associative, engine-order
  independent), cast to DOUBLE only at the end;
- timestamps never surface raw: epoch seconds / epoch-hour buckets only
  (session-timezone-proof);
- every ordering has a total tie-break.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: filter -> groupBy 2 cols -> 8 aggs -> order."""
    li = _t(spark, sf_dir, "lineitem")
    # tight scales keep every product exact in BOTH engines:
    # (12,2) x (6,4) -> (18,6); x (6,4) -> (24,10) — no precision loss,
    # so sums are associative and engine-order independent
    money = lambda c: F.col(c).cast("decimal(12,2)")  # noqa: E731
    frac = lambda c: F.col(c).cast("decimal(6,4)")  # noqa: E731
    one = F.lit(1).cast("decimal(6,4)")
    disc = money("l_extendedprice") * (one - frac("l_discount"))
    # NTZ literal (== 1998-09-02T00:00:00Z epoch 904694400): TZ-proof —
    # an ltz literal (timestamp_seconds) coerces against the NTZ column
    # through the SESSION zone and shifts the cutoff — AND it folds to a
    # constant so the predicate PUSHES DOWN to the parquet scan
    # (unix_timestamp(col) <= n wraps the column and blocks pushdown;
    # both properties are pytest-asserted)
    return (
        li.filter(
            F.col("l_shipdate")
            <= F.lit("1998-09-02 00:00:00").cast("timestamp_ntz")
        )
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            # final round(4): decimal->double conversion differs in the
            # last ulp between engines (BigDecimal vs int128*1e-10)
            F.round(F.sum(money("l_quantity")).cast("double"), 4).alias("sum_qty"),
            F.round(F.sum(money("l_extendedprice")).cast("double"), 4).alias(
                "sum_base_price"
            ),
            F.round(F.sum(disc).cast("double"), 4).alias("sum_disc_price"),
            F.round(
                F.sum(disc * (one + frac("l_tax"))).cast("double"), 4
            ).alias("sum_charge"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def events_sessionized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: lag + 30-min-gap cumsum -> sessions per user."""
    ev = _t(spark, sf_dir, "events").withColumn(
        "ts_epoch", F.unix_timestamp("ts")
    )
    w = Window.partitionBy("user_id").orderBy("ts_epoch", "event_id")
    gap = F.when(
        F.col("ts_epoch") - F.lag("ts_epoch").over(w) > 1800, 1
    ).otherwise(0)
    sess = ev.withColumn(
        "session_id", F.sum(gap).over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ).cast("long")
    )
    return (
        sess.groupBy("user_id")
        .agg(
            (F.max("session_id") + 1).alias("n_sessions"),
            F.count("*").alias("n_events"),
        )
        .orderBy("user_id")
    )


def events_props_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON scalar extraction + aggregation (string/json function family)."""
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return (
        ev.withColumn("k", k)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
        .orderBy("event_type")
    )


def events_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical time rollup (the hypertable continuous-aggregate
    shape): day/hour/grand-total rows in ONE pass via the native
    rollup() operator — Catalyst expands grouping sets without
    rescanning, map-side partials included. grouping_id disambiguates
    aggregation levels (0=hour, 1=day, 3=total)."""
    ev = _t(spark, sf_dir, "events")
    d = F.floor(F.unix_timestamp("ts") / 86400).cast("long").alias("d")
    h = F.floor(F.unix_timestamp("ts") / 3600).cast("long").alias("h")
    return (
        ev.select(d, h, "value")
        .rollup("d", "h")
        .agg(
            F.grouping_id().cast("long").alias("gid"),
            F.count("*").alias("n"),
            F.round(
                F.sum(F.col("value").cast("decimal(18,4)")).cast("double"), 4
            ).alias("sum_value"),
        )
    )


def order_status_setop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set op: customers with open orders EXCEPT those with filled orders."""
    orders = _t(spark, sf_dir, "orders")
    open_c = orders.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    filled_c = orders.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    # subtract == SQL EXCEPT (distinct set semantics), matching DuckDB
    return open_c.subtract(filled_c).orderBy("o_custkey")


def q5_region_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-table join (region -> nation -> supplier /
    customer -> orders -> lineitem) with the local-supplier condition
    (customer and supplier share a nation) and revenue per nation.

    All three dimension chains (region/nation/supplier, customer) are
    small relative to the fact tables, so Catalyst broadcasts them and
    only orders x lineitem pay a shuffle — the join-order freedom this
    query exists to exercise. Covers the four otherwise-unused tables.
    """
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = _t(spark, sf_dir, "nation")
    supplier = _t(spark, sf_dir, "supplier")
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp_ntz"))
    )
    lineitem = _t(spark, sf_dir, "lineitem")
    money = F.col("l_extendedprice").cast("decimal(12,2)")
    one = F.lit(1).cast("decimal(6,4)")
    disc = money * (one - F.col("l_discount").cast("decimal(6,4)"))
    joined = (
        lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(customer), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey"))
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
    )
    return (
        joined.groupBy("n_name")
        .agg(
            F.round(F.sum(disc).cast("double"), 4).alias("revenue"),
            F.count("*").alias("n_items"),
        )
        .orderBy(F.desc("revenue"), F.asc("n_name"))
    )


def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: part x lineitem with a conditional aggregate —
    the promo share of revenue per month. Part broadcasts; one shuffle
    for the monthly groupBy."""
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_type")
    lineitem = _t(spark, sf_dir, "lineitem")
    money = F.col("l_extendedprice").cast("decimal(12,2)")
    one = F.lit(1).cast("decimal(6,4)")
    disc = money * (one - F.col("l_discount").cast("decimal(6,4)"))
    month = F.date_format("l_shipdate", "yyyy-MM")
    j = lineitem.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
    zero = F.lit(0).cast("decimal(24,10)")
    promo = F.when(F.col("p_type") == "PROMO", disc.cast("decimal(24,10)")).otherwise(zero)
    return (
        j.groupBy(month.alias("ship_month"))
        .agg(
            F.round(F.sum(promo).cast("double"), 4).alias("promo_revenue"),
            F.round(F.sum(disc).cast("double"), 4).alias("total_revenue"),
            F.round(
                (
                    F.lit(100.0)
                    * F.sum(promo).cast("double")
                    / F.sum(disc).cast("double")
                ),
                6,
            ).alias("promo_pct"),
        )
        .orderBy("ship_month")
    )


def events_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile aggregation per event_type: exact percentiles p50/p90/p99
    of value (linear interpolation — identical semantics to DuckDB's
    quantile_cont, cross-checked to the double)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
            F.round(F.expr("percentile(value, 0.9)"), 6).alias("p90"),
            F.round(F.expr("percentile(value, 0.99)"), 6).alias("p99"),
            F.count("*").alias("n"),
        )
        .orderBy("event_type")
    )
