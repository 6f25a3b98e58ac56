"""``catalog.read_parquet``: the per-session parquet schema memo.

A memo hit must launch no Spark job and read the same schema and rows
as a fresh ``spark.read.parquet``; any change to the files on disk (in
place, by rename, a new part file) or to an inference conf must
re-infer. The ``events`` tests drive all three ``ts`` vintages through
``load_table`` twice each, against DuckDB's naive read."""

from __future__ import annotations

import gc
import os
import uuid
import weakref

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import types as T

from streamlit_flink_demo_spark.sources import catalog

_NANOS = "spark.sql.legacy.parquet.nanosAsLong"


def _jobs(spark, fn):
    """(fn's result, number of Spark jobs fn launched)."""
    sc = spark.sparkContext
    group = f"read_parquet-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _write(path, **cols):
    pq.write_table(pa.table(cols), path)


def _new_session(spark):
    """``spark.newSession()`` without re-pointing PySpark's ``RDD.toDF``
    patch, which holds the newest session, at the new one."""
    from pyspark import RDD

    to_df = RDD.toDF
    try:
        return spark.newSession()
    finally:
        RDD.toDF = to_df


@pytest.fixture()
def session(spark):
    """A fresh session: its conf changes and memo stay its own."""
    return _new_session(spark)


@pytest.mark.parametrize("layout", ["file", "dir"])
def test_second_read_of_unchanged_path_runs_no_job(session, tmp_path, layout):
    path = str(tmp_path / "t.parquet")
    if layout == "file":
        _write(path, a=[1, 2, 3], s=["x", "y", "z"])
    else:
        os.makedirs(path)
        _write(os.path.join(path, "part-0.parquet"), a=[1, 2], s=["x", "y"])
        _write(os.path.join(path, "part-1.parquet"), a=[3], s=["z"])
    first, n_first = _jobs(session, lambda: catalog.read_parquet(session, path))
    second, n_second = _jobs(session, lambda: catalog.read_parquet(session, path))
    assert n_first >= 1  # inference ran a job, so the counter sees jobs
    assert n_second == 0
    assert second.schema == first.schema == session.read.parquet(path).schema
    assert _rows(second) == _rows(first) == [(1, "x"), (2, "y"), (3, "z")]


def test_in_place_rewrite_with_added_column_reinfers(session, tmp_path):
    path = str(tmp_path / "t.parquet")
    _write(path, a=[1, 2])
    assert catalog.read_parquet(session, path).columns == ["a"]
    _write(path, a=[1, 2], b=[10, 20])
    df, n = _jobs(session, lambda: catalog.read_parquet(session, path))
    assert n >= 1
    assert df.columns == ["a", "b"]
    assert _rows(df) == [(1, 10), (2, 20)]


def test_rename_keeping_size_and_mtime_reinfers(session, tmp_path):
    path = str(tmp_path / "t.parquet")
    other = str(tmp_path / "u.parquet")
    _write(path, a=[1, 2])
    _write(other, b=[1, 2])
    old = os.stat(path)
    os.utime(other, ns=(old.st_atime_ns, old.st_mtime_ns))
    new = os.stat(other)
    # only the inode tells the two files apart
    assert (new.st_size, new.st_mtime_ns) == (old.st_size, old.st_mtime_ns)
    assert new.st_ino != old.st_ino
    assert catalog.read_parquet(session, path).columns == ["a"]
    os.replace(other, path)
    df, n = _jobs(session, lambda: catalog.read_parquet(session, path))
    assert n >= 1
    assert df.columns == ["b"]


def test_new_part_file_in_directory_reinfers(session, tmp_path):
    path = str(tmp_path / "t.parquet")
    os.makedirs(path)
    _write(os.path.join(path, "part-0.parquet"), a=[1])
    catalog.read_parquet(session, path)
    _, n_hit = _jobs(session, lambda: catalog.read_parquet(session, path))
    _write(os.path.join(path, "part-1.parquet"), a=[2])
    df, n_new = _jobs(session, lambda: catalog.read_parquet(session, path))
    assert (n_hit, n_new >= 1) == (0, True)
    assert _rows(df) == [(1,), (2,)]


def test_nanos_as_long_change_reinfers(session, tmp_path):
    path = str(tmp_path / "t.parquet")
    ts = pa.array([1_000_000_123, 2_000_000_456], pa.timestamp("ns"))
    pq.write_table(pa.table({"ts": ts}), path, version="2.6")
    session.conf.set(_NANOS, "true")
    assert catalog.read_parquet(session, path).schema["ts"].dataType == T.LongType()
    # without the conf Spark refuses TIMESTAMP(NANOS) at inference: a
    # memo keyed without the conf would hand back the LongType schema
    session.conf.set(_NANOS, "false")
    with pytest.raises(AnalysisException):
        catalog.read_parquet(session, path)
    session.conf.set(_NANOS, "true")
    df, n = _jobs(session, lambda: catalog.read_parquet(session, path))
    assert n == 0  # the stored entry still matches the restored conf
    assert _rows(df) == [(1_000_000_123,), (2_000_000_456,)]


def test_memo_is_per_session_and_weakly_keyed(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    _write(path, a=[1])
    catalog.read_parquet(spark, path)
    other = _new_session(spark)
    df, n = _jobs(other, lambda: catalog.read_parquet(other, path))
    assert n >= 1  # the other session's memo does not see spark's entry
    assert path in catalog._PARQUET_SCHEMAS[spark]
    assert path in catalog._PARQUET_SCHEMAS[other]
    ref = weakref.ref(other)
    del other, df  # a DataFrame holds its session
    gc.collect()
    assert ref() is None
    assert all(s is not None for s in catalog._PARQUET_SCHEMAS.keys())
    assert spark in catalog._PARQUET_SCHEMAS


def test_missing_path_raises_what_spark_raises(session, tmp_path):
    path = str(tmp_path / "missing.parquet")
    with pytest.raises(AnalysisException) as ours:
        catalog.read_parquet(session, path)
    with pytest.raises(AnalysisException) as spark_own:
        session.read.parquet(path)
    assert type(ours.value) is type(spark_own.value)
    assert ours.value.getCondition() == spark_own.value.getCondition()
    assert session not in catalog._PARQUET_SCHEMAS or (
        path not in catalog._PARQUET_SCHEMAS[session]
    )


# parquet TIMESTAMP(NANOS), TIMESTAMP(MICROS) naive, TIMESTAMP(MICROS) UTC
_TS_VINTAGES = {
    "nanos": (pa.timestamp("ns"), "timeUnit=nanoseconds", "isAdjustedToUTC=false"),
    "micros": (pa.timestamp("us"), "timeUnit=microseconds", "isAdjustedToUTC=false"),
    "micros_utc": (
        pa.timestamp("us", tz="UTC"),
        "timeUnit=microseconds",
        "isAdjustedToUTC=true",
    ),
}
# 2021-01-01 plus sub-microsecond digits the nanos vintage must truncate
_TS_NANOS = [
    1_609_459_200_000_000_789,
    1_609_462_800_123_456_999,
    1_700_000_000_000_000_500,
]


@pytest.mark.parametrize("vintage", sorted(_TS_VINTAGES))
def test_events_ts_vintages_read_twice_match_duckdb(session, tmp_path, vintage):
    import duckdb

    ts_type, unit, utc = _TS_VINTAGES[vintage]
    raw = pa.array(_TS_NANOS, pa.timestamp("ns"))
    ts = raw if ts_type.unit == "ns" else raw.cast(ts_type, safe=False)
    path = catalog.table_path(str(tmp_path), "events")
    pq.write_table(
        pa.table({"event_id": list(range(len(_TS_NANOS))), "ts": ts}),
        path,
        version="2.6",
    )
    logical = str(pq.ParquetFile(path).schema.column(1).logical_type)
    assert unit in logical and utc in logical, logical

    def micros():
        df = catalog.load_table(session, str(tmp_path), "events")
        assert df.schema["ts"].dataType == T.TimestampType()
        got = df.orderBy("event_id").selectExpr("unix_micros(ts)").collect()
        return [r[0] for r in got]

    first = micros()
    second, n = _jobs(
        session, lambda: catalog.load_table(session, str(tmp_path), "events")
    )
    assert n == 0
    assert second.schema["ts"].dataType == T.TimestampType()
    assert micros() == first

    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    want = [
        r[0]
        for r in con.execute(
            "SELECT epoch_us(ts::TIMESTAMP) FROM read_parquet(?) ORDER BY event_id",
            [path],
        ).fetchall()
    ]
    assert first == want
