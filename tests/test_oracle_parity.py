"""Local replica of the driver's correctness gate.

For every registered query with an oracle: run the Spark DataFrame and
the DuckDB SQL on the same sf0.001 parquet, sort columns by name, sort
rows, and compare values exactly (hash-equivalent). This is the same
comparison CORRECTNESS_r{N}.json records, so a green run here predicts
a green round.
"""

from __future__ import annotations

import math
import os

import duckdb
import pytest

from streamlit_flink_demo_spark.plans import load_all
from streamlit_flink_demo_spark.sources.catalog import TABLES, table_path

REG = load_all(exposed_only=False)
ORACLE_QUERIES = sorted(n for n, rq in REG.items() if rq.oracle)
ROWS_ONLY_QUERIES = sorted(n for n, rq in REG.items() if not rq.oracle)


def duck_con(sf_dir: str, tables=TABLES) -> duckdb.DuckDBPyConnection:
    """DuckDB with one view per table of ``sf_dir``. A planted corpus
    that holds only some tables passes those (e.g. ``("documents",)``);
    a table Spark wrote is a directory of part files."""
    con = duckdb.connect()
    for t in tables:
        path = table_path(sf_dir, t)
        if os.path.isdir(path):
            path = os.path.join(path, "*.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def canon(rows, colnames):
    """Sort columns by name, then rows; normalize floats."""
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])

    def norm(v):
        if isinstance(v, float):
            if math.isnan(v):
                return "NaN"
            return float(v)
        return v

    out = [tuple(norm(r[i]) for i in order) for r in rows]
    out.sort(key=lambda t: tuple((x is None, str(type(x)), str(x)) for x in t))
    return out


def assert_uncached_parity(spark, sf_dir, name, tables=TABLES) -> list:
    """Build ``name`` uncached (the registered ``__wrapped__`` original,
    bypassing the plan cache), require its rows to equal its DuckDB
    oracle's over ``tables`` at ``sf_dir``, and return the Spark rows."""
    rq = REG[name]
    sdf = rq.fn.__wrapped__(spark, sf_dir)
    rows = sdf.collect()
    con = duck_con(sf_dir, tables)
    try:
        res = con.execute(rq.oracle)
        cols = [d[0] for d in res.description]
        want = canon(res.fetchall(), cols)
    finally:
        con.close()
    assert sorted(sdf.columns) == sorted(cols)
    assert canon([tuple(r) for r in rows], sdf.columns) == want, (
        f"{name}: rows differ from the oracle"
    )
    return rows


@pytest.mark.parametrize("name", ORACLE_QUERIES)
def test_oracle_parity(spark, sf_dir, name):
    rq = REG[name]
    sdf = rq.fn(spark, sf_dir)
    spark_cols = sdf.columns
    spark_rows = [tuple(r) for r in sdf.collect()]

    con = duck_con(sf_dir)
    res = con.execute(rq.oracle)
    duck_cols = [d[0] for d in res.description]
    duck_rows = [tuple(r) for r in res.fetchall()]
    con.close()

    assert sorted(spark_cols) == sorted(duck_cols), (
        f"{name}: column names differ: spark={sorted(spark_cols)} "
        f"duck={sorted(duck_cols)}"
    )
    s = canon(spark_rows, spark_cols)
    d = canon(duck_rows, duck_cols)
    assert len(s) == len(d), f"{name}: row count {len(s)} vs {len(d)}"
    mismatches = [
        (i, a, b) for i, (a, b) in enumerate(zip(s, d)) if a != b
    ]
    assert not mismatches, f"{name}: {len(mismatches)} mismatched rows; first 3: {mismatches[:3]}"


def test_q14_rounds_once_like_duckdb(spark, tmp_path):
    """q14_promo_effect is bit-equal to DuckDB on rows where scaling
    the double-rounded promo sum by 100 (two roundings) and rounding
    the exact DECIMAL 100 * sum once give different doubles."""
    import datetime
    from decimal import Decimal

    promo = Decimal("1081.61") * (1 - Decimal("0.04"))
    total = promo + Decimal("6099.51") * (1 - Decimal("0.07"))
    once = float(100 * promo) / float(total)
    assert 100.0 * float(promo) / float(total) != once

    d = str(tmp_path)
    ship = datetime.datetime(1997, 9, 15)
    spark.createDataFrame(
        [(1, 1081.61, 0.04, ship), (2, 6099.51, 0.07, ship)],
        "l_partkey bigint, l_extendedprice double, l_discount double, "
        "l_shipdate timestamp",
    ).write.parquet(os.path.join(d, "lineitem.parquet"))
    spark.createDataFrame(
        [(1, "PROMO"), (2, "STANDARD")], "p_partkey bigint, p_type string"
    ).write.parquet(os.path.join(d, "part.parquet"))
    rows = assert_uncached_parity(
        spark, d, "q14_promo_effect", tables=("lineitem", "part")
    )
    assert [r.promo_revenue_pct for r in rows] == [once]


@pytest.mark.parametrize("name", ROWS_ONLY_QUERIES)
def test_rows_only_queries_run(spark, sf_dir, name):
    rq = REG[name]
    sdf = rq.fn(spark, sf_dir)
    n = sdf.count()
    assert n >= 0
    assert len(sdf.schema) > 0
