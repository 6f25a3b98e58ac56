"""TPC-H-style relational queries (adapted to the testdata schema).

These exercise the relational surface SURVEY.md §2.5 inherits from
Spark SQL — multi-way joins, grouped aggregation, semi/anti joins,
HAVING, conditional aggregation — the categories absent from the
reference repo but required of a complete engine.

Scale notes (100 TB posture):
- ``region``/``nation`` are fixed-cardinality dims → always broadcast
  (explicit ``F.broadcast``), eliminating their shuffles at any SF.
- All other joins are equi-joins on integer keys → Catalyst picks
  sort-merge, AQE converts to broadcast/shuffled-hash at runtime when a
  side turns out small, and splits skewed partitions.
- Filters are applied before joins so they push into the parquet scan
  (``PushedFilters`` in the physical plan), and aggregations are
  declared so map-side partial aggregation applies.
- Money sums use the deterministic decimal pattern from
  ``functions.numeric`` (order-independent; stays in codegen).
"""

from __future__ import annotations

from decimal import Decimal

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from streamlit_flink_demo_spark.functions.numeric import (
    davg,
    davg_sql,
    dsum,
    dsum_sql,
)
from streamlit_flink_demo_spark.plans import register
from streamlit_flink_demo_spark.sources.catalog import load_spread, load_table

# --------------------------------------------------------------------------
# Q1 — pricing summary report (TPC-H Q1 shape)
# --------------------------------------------------------------------------

_Q1_ORACLE = f"""
SELECT
  l_returnflag,
  l_linestatus,
  {dsum_sql('l_quantity', 'sum_qty')},
  {dsum_sql('l_extendedprice', 'sum_base_price')},
  {dsum_sql('l_extendedprice * (1 - l_discount)', 'sum_disc_price')},
  {dsum_sql('l_extendedprice * (1 - l_discount) * (1 + l_tax)', 'sum_charge')},
  {davg_sql('l_quantity', 'avg_qty')},
  {davg_sql('l_extendedprice', 'avg_price')},
  {davg_sql('l_discount', 'avg_disc')},
  COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


@register("q1_pricing_summary", oracle=_Q1_ORACLE, tags=("tpch", "agg"))
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1: grouped 8-aggregate scan. Single shuffle on the two
    low-cardinality group keys; partial aggregation does almost all the
    work map-side, so this scales linearly with input.

    Byte-gated spread: the 9 exact-decimal partial aggregates are the
    heaviest per-row scan-stage kernel in the TPC-H set, and a
    single-row-group parquet layout runs them on ONE core (measured
    2.0 s → 1.1 s at sf0.1 with the spread). At 100 TB the scan
    arrives pre-split and the gate no-ops."""
    l = load_spread(spark, sf_dir, "lineitem", min_bytes=8 << 20)
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        l.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum(F.col("l_quantity"), "sum_qty"),
            dsum(F.col("l_extendedprice"), "sum_base_price"),
            dsum(disc_price, "sum_disc_price"),
            dsum(charge, "sum_charge"),
            davg(F.col("l_quantity"), "avg_qty"),
            davg(F.col("l_extendedprice"), "avg_price"),
            davg(F.col("l_discount"), "avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


# --------------------------------------------------------------------------
# Q3 — shipping priority (customer ⋈ orders ⋈ lineitem)
# --------------------------------------------------------------------------

_Q3_ORACLE = f"""
SELECT
  l_orderkey,
  {dsum_sql('l_extendedprice * (1 - l_discount)', 'revenue')},
  strftime(o_orderdate, '%Y-%m-%d') AS orderdate
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
  AND l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
GROUP BY l_orderkey, o_orderdate
"""


@register("q3_shipping_priority", oracle=_Q3_ORACLE, tags=("tpch", "join"))
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective filters applied before the joins so
    they reach the parquet scans; join order small→large lets AQE
    broadcast the filtered customer side at low SF."""
    c = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    )
    l = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp")
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(l, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey", "o_orderdate")
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"),
        )
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
        )
    )


# --------------------------------------------------------------------------
# Q5 — local supplier volume (6-way join incl. broadcast dims)
# --------------------------------------------------------------------------

_Q5_ORACLE = f"""
SELECT
  n_name,
  {dsum_sql('l_extendedprice * (1 - l_discount)', 'revenue')}
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
GROUP BY n_name
"""


@register("q5_local_supplier_volume", oracle=_Q5_ORACLE, tags=("tpch", "join"))
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5: six-way join. nation/region are fixed-cardinality →
    explicit broadcast (no shuffle for the dim sides at any scale);
    the fact-fact joins shuffle on their keys once each."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = F.broadcast(load_table(spark, sf_dir, "nation"))
    r = F.broadcast(
        load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(l, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            s,
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(n, F.col("s_nationkey") == F.col("n_nationkey"))
        .join(r, F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
    )


# --------------------------------------------------------------------------
# Q6 — revenue change forecast (pure scan-filter-agg)
# --------------------------------------------------------------------------

_Q6_ORACLE = f"""
SELECT {dsum_sql('l_extendedprice * l_discount', 'revenue')}
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""


@register("q6_revenue_forecast", oracle=_Q6_ORACLE, tags=("tpch", "scan"))
def q6_revenue_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: all four predicates push into the parquet scan
    (PushedFilters); global agg is one map-side partial + tiny final."""
    l = load_table(spark, sf_dir, "lineitem")
    return (
        l.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(dsum(F.col("l_extendedprice") * F.col("l_discount"), "revenue"))
    )


# --------------------------------------------------------------------------
# Q10 — returned-item reporting (join + group, top losers)
# --------------------------------------------------------------------------

_Q10_ORACLE = f"""
SELECT
  c_custkey,
  c_name,
  {dsum_sql('l_extendedprice * (1 - l_discount)', 'revenue')},
  n_name
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1996-07-01 00:00:00'
GROUP BY c_custkey, c_name, n_name
"""


@register("q10_returned_items", oracle=_Q10_ORACLE, tags=("tpch", "join"))
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: returned-lineitem revenue per customer."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp"))
    )
    l = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = F.broadcast(load_table(spark, sf_dir, "nation"))
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(l, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(n, F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
        .select("c_custkey", "c_name", "revenue", "n_name")
    )


# --------------------------------------------------------------------------
# Q14 — promotion effect (conditional aggregation)
# --------------------------------------------------------------------------

_Q14_ORACLE = f"""
SELECT
  CAST(100.00 * SUM(CAST(CASE WHEN p_type = 'PROMO'
        THEN l_extendedprice * (1 - l_discount) ELSE 0 END AS DECIMAL(18,6)))
    AS DOUBLE)
  / CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6)))
    AS DOUBLE) AS promo_revenue_pct
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1997-09-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-10-01 00:00:00'
"""


@register("q14_promo_effect", oracle=_Q14_ORACLE, tags=("tpch", "join"))
def q14_promo_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14: conditional aggregation over a fact⋈dim join. The
    ×100 is a DECIMAL multiply of the exact promo sum, rounded to
    double once — the oracle's order; scaling the already-rounded
    double rounds twice and can land one ulp away."""
    l = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-10-01").cast("timestamp"))
    )
    p = load_table(spark, sf_dir, "part")
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", disc).otherwise(F.lit(0.0))
    return (
        l.join(p, F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            (
                (
                    F.lit(Decimal("100.00"))
                    * F.sum(promo.cast("DECIMAL(18,6)"))
                ).cast("double")
                / F.sum(disc.cast("DECIMAL(18,6)")).cast("double")
            ).alias("promo_revenue_pct")
        )
    )


# --------------------------------------------------------------------------
# Q18 — large-volume customers (HAVING via join on aggregated subquery)
# --------------------------------------------------------------------------

_Q18_ORACLE = f"""
SELECT
  c_name,
  c_custkey,
  o_orderkey,
  strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
  o_totalprice,
  {dsum_sql('l_quantity', 'sum_qty')}
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
WHERE o_orderkey IN (
  SELECT l_orderkey FROM lineitem GROUP BY l_orderkey HAVING SUM(l_quantity) > 150
)
GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
"""


@register("q18_large_volume_customer", oracle=_Q18_ORACLE, tags=("tpch", "join", "semi"))
def q18_large_volume_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18: HAVING subquery expressed as an aggregated semi-join.
    The big-order key set is tiny after the HAVING filter, so Spark/AQE
    broadcasts it — the expensive lineitem table is scanned twice but
    shuffled on l_orderkey only once for the final group."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    big_orders = (
        l.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > 150)
        .select("l_orderkey")
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(l, o.o_orderkey == l.l_orderkey)
        .join(
            big_orders.withColumnRenamed("l_orderkey", "big_orderkey"),
            F.col("o_orderkey") == F.col("big_orderkey"),
            "left_semi",
        )
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(dsum(F.col("l_quantity"), "sum_qty"))
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_totalprice",
            "sum_qty",
        )
    )
