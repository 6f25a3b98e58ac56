"""Two small helpers that run without Spark: the catalog's size
probe and bench.py's summary-line guard."""

from __future__ import annotations

import json

import pytest

import bench
from streamlit_flink_demo_spark.sources.catalog import table_bytes


def test_table_bytes_single_file(tmp_path):
    (tmp_path / "orders.parquet").write_bytes(b"x" * 123)
    assert table_bytes(str(tmp_path), "orders") == 123


def test_table_bytes_sums_a_directory(tmp_path):
    d = tmp_path / "orders.parquet"
    (d / "part=1").mkdir(parents=True)
    (d / "part-0.parquet").write_bytes(b"x" * 100)
    (d / "part=1" / "part-1.parquet").write_bytes(b"x" * 23)
    (d / "_SUCCESS").write_bytes(b"")
    assert table_bytes(str(tmp_path), "orders") == 123


def test_table_bytes_missing_table_raises(tmp_path):
    """A missing table must not read as 0 bytes, which would pass every
    broadcast gate."""
    with pytest.raises(FileNotFoundError):
        table_bytes(str(tmp_path), "orders")


def _summary(queries: dict) -> dict:
    return {"metric": "bench_summary", "value": 12.5, "unit": "sec",
            "spark_total_sec": 12.5, "sf": "/data/sf0.1",
            "n_queries": len(queries), "queries": queries,
            "duckdb_total_sec": 30.0, "spark_over_duckdb": 0.417}


def test_summary_that_fits_is_unchanged(capsys):
    s = _summary({"q1": 0.5, "q6": 0.25})
    assert bench._fit_summary(s) is s
    assert capsys.readouterr().err == ""


def test_summary_over_the_limit_keeps_totals_and_slowest(capsys):
    queries = {f"query_with_a_rather_long_descriptive_name_{i:02d}": i / 10
               for i in range(60)}
    queries["query_with_a_rather_long_descriptive_name_07"] = -1.0  # failed
    s = _summary(queries)
    assert len(json.dumps(s)) > bench.SUMMARY_MAX_CHARS

    out = bench._fit_summary(s)
    assert len(json.dumps(out)) <= bench.SUMMARY_MAX_CHARS
    for k in ("metric", "value", "unit", "spark_total_sec", "n_queries",
              "duckdb_total_sec", "spark_over_duckdb"):
        assert out[k] == s[k]
    kept = list(out["queries"])
    assert kept[0] == "query_with_a_rather_long_descriptive_name_07"
    assert kept[1:] == [f"query_with_a_rather_long_descriptive_name_{i:02d}"
                        for i in range(59, 59 - len(kept) + 1, -1)]
    assert len(kept) == bench.SUMMARY_SLOWEST
    assert out["queries_dropped"] == 50
    assert "BENCH WARNING" in capsys.readouterr().err
