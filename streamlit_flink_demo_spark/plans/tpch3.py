"""Third TPC-H-style pack: the remaining dialect shapes — EXISTS /
NOT-EXISTS decorrelation, correlated scalar thresholds, disjunctive
join predicates, max-equality selection, distinct-count with NOT IN
exclusion (Q4/Q9/Q12/Q15/Q16/Q17/Q19/Q20/Q21 analogs).

The testdata schema (TESTDATA.md) is a reduced TPC-H: no ``partsupp``
table, no ``l_shipmode``/``l_commitdate``/``l_receiptdate`` columns.
Each query here keeps the *relational shape* of its TPC-H counterpart
(the thing that stresses the planner) with predicates rewritten onto
the columns that exist; the docstring of each states the substitution.

None of these appear in the reference (`/root/reference/dashboard.py`
has no joins or subqueries at all — SURVEY.md §2.5); they are breadth
coverage so a reference user gets the full SQL dialect surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from streamlit_flink_demo_spark.functions.numeric import dsum, dsum_sql
from streamlit_flink_demo_spark.plans import register
from streamlit_flink_demo_spark.sources.catalog import load_table, table_bytes

# r14 (VERDICT r13 item 3): size gate for q21's two data-dependent
# broadcast hints (F-orderkeys and the qualifying-order set, both
# bounded by |orders|). 256 MB of orders parquet ≈ low tens of M
# orderkeys at the measured ~18 B/row — an 8 B/key broadcast in the
# low hundreds of MB, the guide §3.1 comfort zone. Above it the hints
# drop away and the planner (AQE + runtime Bloom filter) owns the
# strategy.
_Q21_BCAST_ORDERS_BYTES = 256 << 20

# --------------------------------------------------------------------------
# Q4 — EXISTS semi-join: orders with at least one returned line
# --------------------------------------------------------------------------


@register(
    "q4_order_priority_check",
    oracle="""
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1997-01-01'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
GROUP BY o_orderpriority
""",
    tags=("tpch3", "semi"),
)
def q4_order_priority_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 (late-delivery EXISTS becomes returned-line EXISTS:
    no l_commitdate/l_receiptdate in the testdata). Shape: date-pruned
    orders LEFT SEMI JOIN a filtered, key-pruned lineitem. The probe
    side carries only l_orderkey into the shuffle; at 100 TB both
    sides are pruned before the exchange and AQE can broadcast the
    build side when the date window is narrow."""
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    l = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag") == "R")
        .select("l_orderkey")
    )
    return (
        o.join(l, o.o_orderkey == l.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


# --------------------------------------------------------------------------
# Q9 — product-line profit by supplier nation and year
# --------------------------------------------------------------------------


@register(
    "q9_product_profit",
    oracle=f"""
SELECT s.s_nationkey AS nation,
       EXTRACT(YEAR FROM o.o_orderdate) AS yr,
       {dsum_sql(
           "l.l_extendedprice * (1 - l.l_discount)"
           " - 0.5 * p.p_retailprice * l.l_quantity",
           "profit",
       )}
FROM lineitem l
JOIN part p     ON p.p_partkey = l.l_partkey AND p.p_name LIKE '%rod%'
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN orders o   ON o.o_orderkey = l.l_orderkey
GROUP BY s.s_nationkey, EXTRACT(YEAR FROM o.o_orderdate)
""",
    tags=("tpch3", "join"),
)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 with ps_supplycost replaced by 0.5 * p_retailprice
    (no partsupp table in the testdata; 0.5 is binary-exact so the
    per-row double is engine-identical). The part name LIKE filter is
    applied before the join so the parquet scan prunes; supplier is a
    small dim (broadcast); the single wide shuffle is lineitem⋈orders
    on orderkey."""
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("%rod%"))
    s = F.broadcast(load_table(spark, sf_dir, "supplier"))
    o = load_table(spark, sf_dir, "orders")
    profit = F.col("l_extendedprice") * (1 - F.col("l_discount")) - 0.5 * F.col(
        "p_retailprice"
    ) * F.col("l_quantity")
    return (
        l.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .join(s, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy(
            F.col("s_nationkey").alias("nation"),
            F.year("o_orderdate").cast("bigint").alias("yr"),
        )
        .agg(dsum(profit, "profit"))
    )


# --------------------------------------------------------------------------
# Q12 — conditional counting by line status (shipmode analog)
# --------------------------------------------------------------------------


@register(
    "q12_priority_by_linestatus",
    oracle="""
SELECT l_linestatus AS ship_group,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM orders
JOIN lineitem ON o_orderkey = l_orderkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1998-01-01'
GROUP BY l_linestatus
""",
    tags=("tpch3", "join", "agg"),
)
def q12_priority_by_linestatus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 with l_shipmode replaced by l_linestatus (shipmode
    absent from the testdata). Shape preserved: fact⋈fact equi-join
    then pivot-style conditional SUMs. The date filter prunes the
    lineitem scan; orders is pruned to (o_orderkey, o_orderpriority)
    before the shuffle."""
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    l = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        o.join(l, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy(F.col("l_linestatus").alias("ship_group"))
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


# --------------------------------------------------------------------------
# Q15 — supplier(s) with the maximum quarterly revenue
# --------------------------------------------------------------------------


@register(
    "q15_top_supplier",
    oracle=f"""
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         {dsum_sql('l_extendedprice * (1 - l_discount)', 'total_revenue')}
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate < TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM supplier
JOIN revenue ON s_suppkey = supplier_no
WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
""",
    tags=("tpch3", "subquery"),
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15: the revenue view + scalar-max selection. The scalar
    MAX is an unpartitioned window over the already-aggregated revenue
    set (|suppliers| rows — never fact-sized), so the fact table is
    scanned exactly once. Equality on the decimal-summed double is
    engine-stable. Ties all surface, matching the view semantics."""
    from pyspark.sql.window import Window as W

    l = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    revenue = l.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "total_revenue")
    )
    s = load_table(spark, sf_dir, "supplier")
    return (
        revenue.withColumn(
            "best", F.max("total_revenue").over(W.partitionBy())
        )
        .filter(F.col("total_revenue") == F.col("best"))
        .join(F.broadcast(s), F.col("s_suppkey") == F.col("supplier_no"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


# --------------------------------------------------------------------------
# Q16 — distinct supplier count per part attributes, with NOT IN exclusion
# --------------------------------------------------------------------------


@register(
    "q16_supplier_part_cnt",
    oracle="""
SELECT p_brand, p_type, p_size,
       COUNT(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE p_brand <> 'Brand#45'
  AND p_size IN (1, 5, 10, 15, 20, 25, 30, 35, 40, 45, 49, 50)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 1500)
GROUP BY p_brand, p_type, p_size
""",
    tags=("tpch3", "anti", "agg"),
)
def q16_supplier_part_cnt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 with lineitem standing in for partsupp (the testdata
    has no partsupp; lineitem's (l_partkey, l_suppkey) is the same
    bridge). NOT IN over non-null keys is a LEFT ANTI JOIN against the
    key-pruned exclusion set — tiny, so broadcast. COUNT(DISTINCT)
    expands to a two-phase aggregate (distinct-expand then count);
    both shuffles are on the post-filter reduced set."""
    excl = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 1500)
        .select("s_suppkey")
    )
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#45")
        & F.col("p_size").isin(1, 5, 10, 15, 20, 25, 30, 35, 40, 45, 49, 50)
    )
    l = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    return (
        l.join(F.broadcast(excl), l.l_suppkey == excl.s_suppkey, "left_anti")
        .join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
    )


# --------------------------------------------------------------------------
# Q17 — small-quantity orders vs per-part average (correlated scalar)
# --------------------------------------------------------------------------


@register(
    "q17_small_qty_revenue",
    oracle="""
SELECT CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) / 7.0
       AS DOUBLE) AS avg_yearly
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE p_brand = 'Brand#23'
  AND l_quantity < (SELECT 0.2 * AVG(l2.l_quantity)
                    FROM lineitem l2 WHERE l2.l_partkey = p_partkey)
""",
    tags=("tpch3", "subquery"),
)
def q17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 (container filter dropped — no p_container column).
    The correlated per-part AVG decorrelates to a partkey aggregate
    joined back to the brand-filtered probe — one extra shuffle of
    |parts| rows instead of a per-row subquery. l_quantity is integral
    so the double AVG is order-independent (exact integer sums)."""
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#23")
    per_part = l.groupBy(F.col("l_partkey").alias("k")).agg(
        (F.lit(0.2) * F.avg("l_quantity")).alias("qty_threshold")
    )
    return (
        l.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .join(per_part, F.col("l_partkey") == F.col("k"))
        .filter(F.col("l_quantity") < F.col("qty_threshold"))
        .agg(
            (
                F.sum(F.col("l_extendedprice").cast("DECIMAL(18,6)")).cast("double")
                / 7.0
            )
            .cast("double")
            .alias("avg_yearly")
        )
    )


# --------------------------------------------------------------------------
# Q19 — disjunctive multi-attribute join predicates
# --------------------------------------------------------------------------


@register(
    "q19_disjunctive_revenue",
    oracle=f"""
SELECT {dsum_sql('l_extendedprice * (1 - l_discount)', 'revenue')}
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 1 AND 15)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
       AND l_quantity BETWEEN 10 AND 25)
   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 35
       AND l_quantity BETWEEN 20 AND 35)
""",
    tags=("tpch3", "join"),
)
def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19: OR-of-ANDs spanning both join sides. The per-side
    implications (brand ∈ {12,23,34}, size ≤ 35 / quantity ≤ 35) are
    stated explicitly so each parquet scan prunes before the join —
    the disjunction itself can only run post-join. Single row out."""
    disj = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 15)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 25)
            & F.col("l_quantity").between(10, 25)
        )
        | (
            (F.col("p_brand") == "Brand#34")
            & F.col("p_size").between(1, 35)
            & F.col("l_quantity").between(20, 35)
        )
    )
    p = load_table(spark, sf_dir, "part").filter(
        F.col("p_brand").isin("Brand#12", "Brand#23", "Brand#34")
        & (F.col("p_size") <= 35)
    )
    l = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_quantity").between(1, 35)
    )
    return (
        l.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .filter(disj)
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
    )


# --------------------------------------------------------------------------
# Q20 — suppliers with excess shipped volume of a part family
# --------------------------------------------------------------------------


@register(
    "q20_excess_stock_suppliers",
    oracle="""
SELECT s_suppkey, s_name
FROM supplier
WHERE s_suppkey IN (
  SELECT l_suppkey
  FROM lineitem
  JOIN part ON p_partkey = l_partkey
  WHERE p_name LIKE '%rod%'
    AND l_shipdate >= TIMESTAMP '1997-01-01'
    AND l_shipdate < TIMESTAMP '1998-01-01'
  GROUP BY l_suppkey
  HAVING SUM(l_quantity) > 100
)
""",
    tags=("tpch3", "semi", "subquery"),
)
def q20_excess_stock_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 collapsed onto lineitem (no partsupp availqty; the
    'excess' threshold applies to shipped quantity). IN-subquery with
    GROUP BY + HAVING becomes aggregate → filter → LEFT SEMI JOIN.
    The qualifying-supplier set is tiny after HAVING, so the semi
    join broadcasts; supplier is never shuffled."""
    l = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    p = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("%rod%"))
    qualifying = (
        l.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .groupBy("l_suppkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .filter(F.col("qty") > 100)
        .select("l_suppkey")
    )
    s = load_table(spark, sf_dir, "supplier")
    return (
        s.join(
            F.broadcast(qualifying), s.s_suppkey == qualifying.l_suppkey, "left_semi"
        ).select("s_suppkey", "s_name")
    )


# --------------------------------------------------------------------------
# Q21 — suppliers solely responsible for returned lines in multi-supplier
# orders (EXISTS + NOT EXISTS decorrelated to one per-order aggregate)
# --------------------------------------------------------------------------


@register(
    "q21_waiting_suppliers",
    oracle="""
SELECT s_name, COUNT(*) AS numwait
FROM supplier
JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
JOIN orders ON o_orderkey = l1.l_orderkey
WHERE o_orderstatus = 'F'
  AND l1.l_returnflag = 'R'
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_returnflag = 'R')
GROUP BY s_name
""",
    tags=("tpch3", "semi", "anti", "subquery"),
)
def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 (receipt-vs-commit lateness becomes l_returnflag='R'
    — those columns don't exist here; the EXISTS/NOT-EXISTS shape is
    intact). Instead of two correlated scans, both subqueries fold
    into ONE per-order aggregate: n_suppliers ≥ 2 ⟺ the EXISTS;
    n_suppliers_with_R = 1 (given l1 itself is R) ⟺ the NOT EXISTS.
    At 100 TB that is one extra orderkey-partitioned aggregate over
    two key columns versus three scans of the fact table. The two
    COUNT(DISTINCT)s are decomposed through a (orderkey, suppkey)
    pre-aggregate instead of Catalyst's Expand strategy: Expand
    replicates every fact row once per DISTINCT aggregate before the
    shuffle, while the pair-level partial ships each distinct pair
    once and derives both counts from |pairs| rows (the
    supplier_part_diversity rewrite, SCALE.md round-10).

    r13: the fact table is scanned ONCE. The old l1 branch re-scanned
    lineitem for the R-lines and re-joined them to the per-order
    stats; but the pair aggregate already holds everything l1
    contributes — in a qualifying order exactly one supplier has
    has_r = 1 and its line-level count is n_r (suppliers without an R
    line never appear in l1), so numwait = SUM(n_r) over qualifying
    (order, supplier) pairs. The orders 'F' filter moves BELOW the
    pair aggregate as a broadcast semi-join (per-order aggregates are
    independent across orders, and the EXISTS subqueries range over
    ALL lines of each F-order, which the orderkey semi-join keeps
    whole), so the pair exchange ships only F-order lines. The
    order-qualification join is broadcast on the AGGREGATED key set
    (bounded by qualifying orders, 8 B each), so pair's
    (orderkey, suppkey) exchange is planned once and reused for both
    its consumers instead of re-shuffling by orderkey.

    r14 (VERDICT r13 item 3): both broadcast sets here are
    data-dependent (F-status orderkeys ≈ half of orders; ord_ok ⊆
    them), and the explicit hint overrides Spark's size checks — so
    the hints are byte-gated on the orders source size (a
    deterministic driver-side stat; a count gate would add a data
    pass per plan build, extending the untimed-dispatch caveat).
    Above the gate both joins drop the hint: Spark plans them as
    shuffle joins, where AQE and the runtime Bloom filter take over —
    predictable degradation instead of a driver OOM."""
    bcast_ok = table_bytes(sf_dir, "orders") <= _Q21_BCAST_ORDERS_BYTES
    hint = F.broadcast if bcast_ok else (lambda df: df)
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey")
    )
    lf = load_table(spark, sf_dir, "lineitem").join(
        hint(o),
        F.col("l_orderkey") == F.col("o_orderkey"),
        "left_semi",
    )
    is_r = (F.col("l_returnflag") == "R").cast("int")
    pair = lf.groupBy("l_orderkey", "l_suppkey").agg(
        F.max(is_r).alias("has_r"),
        F.sum(is_r).alias("n_r"),
    )
    ord_ok = (
        pair.groupBy(F.col("l_orderkey").alias("ok"))
        .agg(
            F.count("*").alias("n_supp"),
            F.sum("has_r").alias("n_supp_r"),
        )
        .filter((F.col("n_supp") >= 2) & (F.col("n_supp_r") == 1))
        .select("ok")
    )
    s = F.broadcast(load_table(spark, sf_dir, "supplier"))
    return (
        pair.filter(F.col("has_r") == 1)
        .join(hint(ord_ok), F.col("l_orderkey") == F.col("ok"))
        .join(s, F.col("s_suppkey") == F.col("l_suppkey"))
        .groupBy("s_name")
        .agg(F.sum("n_r").alias("numwait"))
    )
