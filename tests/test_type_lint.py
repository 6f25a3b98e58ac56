"""Cross-engine type lint: the driver hashes values BY SERIALIZED TYPE,
so a DuckDB HUGEINT/DECIMAL column against a Spark bigint/double
hash-mismatches even when every value is equal. This lints every oracle
pair's column types WITHOUT executing the queries (Spark side = analyzed
schema, DuckDB side = DESCRIBE) — type drift fails here in seconds
instead of in the round gate."""

from __future__ import annotations

import duckdb
import pytest

from streamlit_flink_demo_spark.plans import load_all
from tests.test_oracle_parity import duck_con

REG = load_all(exposed_only=False)
ORACLE_QUERIES = sorted(n for n, rq in REG.items() if rq.oracle)

# suites.py reads its members' oracles out of REGISTRY, so it is
# imported only after load_all has registered every member.
from streamlit_flink_demo_spark.plans.suites import _DUCKDB, SUITES  # noqa: E402


@pytest.fixture(scope="module")
def con(sf_dir):
    return duck_con(sf_dir)


@pytest.mark.parametrize("name", ORACLE_QUERIES)
def test_oracle_types_compatible(spark, sf_dir, con, name):
    rq = REG[name]
    sdt = dict(rq.fn(spark, sf_dir).dtypes)
    duck = {
        c: t.upper() for c, t, *_ in con.execute("DESCRIBE " + rq.oracle).fetchall()
    }
    assert sorted(sdt) == sorted(duck), f"{name}: column sets differ"
    for col, dt in duck.items():
        st = sdt[col]
        if "HUGEINT" in dt:
            pytest.fail(f"{name}.{col}: oracle HUGEINT (cast the SUM to BIGINT)")
        if dt.startswith("DECIMAL") and st == "double":
            pytest.fail(f"{name}.{col}: oracle {dt} vs Spark double")
        # the three mismatch classes the external driver's value-hash
        # actually distinguishes (driver_sim.py type lint): HUGEINT,
        # DECIMAL-vs-double, and a narrow oracle int against a Spark
        # bigint. Width differences the other way (Spark int vs oracle
        # BIGINT) serialize identically and are fine.
        if dt in ("INTEGER", "SMALLINT", "TINYINT") and st == "bigint":
            pytest.fail(f"{name}.{col}: oracle {dt} vs Spark bigint")
        # reverse-direction hazards (previously unlinted): a Spark
        # DECIMAL serializes as Decimal('1.500000') against the
        # oracle's 1.5, and a Spark float32's repr diverges from the
        # oracle's float64 (0.1 -> 0.10000000149...).
        if dt in ("DOUBLE", "FLOAT") and st.startswith("decimal"):
            pytest.fail(f"{name}.{col}: oracle {dt} vs Spark {st}")
        if dt == "DOUBLE" and st == "float":
            pytest.fail(f"{name}.{col}: oracle DOUBLE vs Spark float32")


@pytest.mark.parametrize("name", sorted(SUITES))
def test_suite_types_match_slot_schema(spark, sf_dir, con, name):
    """Schema by construction: a generated suite's Spark dtypes and its
    oracle's DuckDB types (read through the dialect shim) both equal
    the spec's slot schema. Iterates the spec, so a new suite is
    covered without touching this test."""
    slots = SUITES[name].slots
    rq = REG[name]
    assert [(c, t.upper()) for c, t in rq.fn(spark, sf_dir).dtypes] == slots
    duck = [(c, t) for c, t, *_ in con.execute("DESCRIBE " + rq.oracle).fetchall()]
    assert duck == [(s, _DUCKDB.get(t, t)) for s, t in slots]
