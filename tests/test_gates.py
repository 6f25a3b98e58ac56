"""The size gates' other branches, executed at test scale.

Three gates switch a plan shape on a size no test corpus reaches:

- ``plans/tpch3._Q21_BCAST_ORDERS_BYTES``: q21's two orders-side
  broadcast hints hold only while the orders source is small;
- ``operators/suffix._PREFILTER_DOCS_BYTES``: the gram-group span
  rewrite's dup-gram prefilter is skipped above it;
- ``operators/suffix._SA_BCAST_ACTIVE``: a prefix-doubling round
  broadcasts its rank lookup only while the active set is below it.

Each test forces the gate to its other branch (threshold -1), builds
the plan uncached (the registered ``__wrapped__`` original, and a fresh
suffix-array memo), and requires exact oracle parity — the same
comparison as tests/test_oracle_parity.py.
"""

from __future__ import annotations

import weakref

import pytest

from streamlit_flink_demo_spark.operators import suffix
from streamlit_flink_demo_spark.plans import load_all, tpch3
from tests.test_oracle_parity import assert_uncached_parity

REG = load_all(exposed_only=False)

# Every oracle-checked query built on the in-session suffix array.
# corpus_longest_repeat_indexed reads the persisted suffix-index
# artifact instead, which is built once per corpus fingerprint.
_SA_QUERIES = [
    "corpus_distinct_substrings",
    "corpus_longest_repeat",
    "corpus_longest_repeat_sharded",
    "corpus_suffix_array",
    "corpus_suffix_array_append",
    "corpus_suffix_array_sharded",
]


def _broadcast_hints(df) -> int:
    plan = df._jdf.queryExecution().analyzed().toString()
    return plan.count("strategy=broadcast")


def test_q21_without_orders_broadcast_hints(spark, sf_dir, monkeypatch):
    fn = REG["q21_waiting_suppliers"].fn.__wrapped__
    # default: the F-orders set (under both consumers of the pair
    # aggregate), the qualifying-order set, and supplier
    assert _broadcast_hints(fn(spark, sf_dir)) == 4
    monkeypatch.setattr(tpch3, "_Q21_BCAST_ORDERS_BYTES", -1)
    # gated: only the supplier dimension keeps its hint
    assert _broadcast_hints(fn(spark, sf_dir)) == 1
    assert_uncached_parity(spark, sf_dir, "q21_waiting_suppliers")


@pytest.mark.parametrize("name", ["dedup_span_rewrite_gramgroup"])
def test_span_rewrite_without_dup_gram_prefilter(
    spark, sf_dir, monkeypatch, name
):
    monkeypatch.setattr(suffix, "_PREFILTER_DOCS_BYTES", -1)
    assert_uncached_parity(spark, sf_dir, name)


@pytest.fixture(scope="module")
def sa_shuffle_lookups():
    """Every doubling round takes the shuffle-join lookup, over a
    suffix-array memo of its own (restored afterwards)."""
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(suffix, "_SA_BCAST_ACTIVE", -1)
        mp.setattr(suffix, "_SA_MEMO", weakref.WeakKeyDictionary())
        yield


@pytest.mark.parametrize("name", _SA_QUERIES)
def test_suffix_array_without_broadcast_lookup(
    spark, sf_dir, sa_shuffle_lookups, name
):
    assert_uncached_parity(spark, sf_dir, name)
