"""The engine's JVM starts no child process on its write paths.

Without libhadoop, Hadoop's stock local filesystem forks ``chmod`` for
every file it creates and ``readlink`` for every FileContext rename;
the session's local filesystem (session.py, jvm/) answers both through
java.nio. ``tools/fork_census.py`` polls ``/proc`` for the JVM's
children while each workload runs: N microbatches of an ephemeral and
of a ``checkpoint_dir`` statement, of one ingest pipeline, and one
artifact build. Each workload runs once before its census window, so
one-time starts (a Python worker daemon, Spark's ``getconf PAGESIZE``
probe) fall outside it.

The workloads run in a fresh engine process (this file run as a
script): Spark forks one ``rm -rf`` whenever it removes the artifact
directory of a garbage-collected session, and the test session's JVM
collects sessions left by earlier tests at any time. In the fresh
process each window also starts after garbage collections that start
no child, and a window that is not empty is followed by a second one:
a write-path fork repeats in every window, so one of the two must be
empty.
"""

from __future__ import annotations

import gc
import importlib.util
import itertools
import json
import os
import subprocess
import sys
import time
from typing import Callable

import pytest

_BATCHES = 3
_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _census(spark, fork_census, pid: int, window: Callable[[], object]) -> dict:
    def collect() -> None:
        gc.collect()  # drops py4j references to dead sessions
        spark._jvm.System.gc()
        time.sleep(1)

    def settled() -> dict:
        for _ in range(10):
            if not fork_census.children_started(pid, collect):
                break
        return fork_census.children_started(pid, window)

    first = settled()
    return settled() if first else first


def _statement(spark, fork_census, pid: int, tmp: str, durable: bool) -> dict:
    from streamlit_flink_demo_spark.sources.stream_fixtures import (
        user_row,
        user_stream,
        write_user_batch,
    )
    from streamlit_flink_demo_spark.statements import StatementsService

    spool = os.path.join(tmp, f"spool_{int(durable)}")
    os.makedirs(spool)
    view = f"user_census_{int(durable)}"
    user_stream(spark, spool).createOrReplaceTempView(view)
    svc = StatementsService(spark)
    env = svc.create(
        f"SELECT eyeColor, count(*) AS n FROM {view} GROUP BY eyeColor",
        checkpoint_dir=os.path.join(tmp, "ckpt") if durable else None,
    )
    assert env["status"]["phase"] == "running", env["status"]["detail"]
    query = svc._statements[env["name"]]._query
    batch_no = itertools.count()

    def batches(n: int) -> None:
        for _ in range(n):
            b = next(batch_no)
            rows = [user_row(i) for i in range(b * 20, b * 20 + 20)]
            write_user_batch(spark, spool, b, rows)
            query.processAllAvailable()

    try:
        batches(1)
        counts = _census(spark, fork_census, pid, lambda: batches(_BATCHES))
    finally:
        svc.stop(env["name"])
    assert query.lastProgress["batchId"] == next(batch_no) - 1
    return counts


def _ingest(spark, fork_census, pid: int, tmp: str) -> dict:
    from streamlit_flink_demo_spark.sinks import IdempotentParquetSink
    from streamlit_flink_demo_spark.streaming.extract_ingest import (
        attach_extract_stream,
    )

    spool = os.path.join(tmp, "spool_ingest")
    os.makedirs(spool)
    out = os.path.join(tmp, "extracted")
    q = attach_extract_stream(
        spark.readStream.schema("doc_id bigint, html string")
        .option("maxFilesPerTrigger", 1)
        .parquet(spool),
        out,
        checkpoint_dir=os.path.join(tmp, "ck_ingest"),
    )
    batch_no = itertools.count()

    def batches(n: int) -> None:
        for _ in range(n):
            b = next(batch_no)
            df = spark.createDataFrame(
                [(b, f"<p>document {b} with enough real words to keep</p>")],
                "doc_id bigint, html string",
            )
            staging = os.path.join(spool, f"_stage_{b}")
            df.coalesce(1).write.mode("overwrite").parquet(staging)
            part = next(f for f in os.listdir(staging) if f.endswith(".parquet"))
            os.replace(
                os.path.join(staging, part), os.path.join(spool, f"b{b:04d}.parquet")
            )
            q.processAllAvailable()

    try:
        batches(1)
        counts = _census(spark, fork_census, pid, lambda: batches(_BATCHES))
    finally:
        q.stop()
    landed = IdempotentParquetSink(out).read_committed(spark).count()
    assert landed == next(batch_no)
    return counts


def _artifact(spark, fork_census, pid: int, sf_dir: str, tmp: str) -> dict:
    import streamlit_flink_demo_spark.operators.similarity as sim
    from streamlit_flink_demo_spark.operators.dedup import build_cdc_base_index

    sim._ARTIFACT_ROOT = os.path.join(tmp, "artifacts")
    path = build_cdc_base_index(spark, sf_dir)
    built = []
    counts = _census(
        spark,
        fork_census,
        pid,
        lambda: built.append(build_cdc_base_index(spark, sf_dir, force=True)),
    )
    assert set(built) == {path}
    assert os.listdir(path)
    return counts


def _run(sf_dir: str, tmp: str) -> dict:
    """Every census, in this (fresh) process's engine session."""
    import streamlit_flink_demo_spark.session as session

    spec = importlib.util.spec_from_file_location(
        "fork_census", os.path.join(_REPO, "tools", "fork_census.py")
    )
    fork_census = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(fork_census)
    spark = session.get_spark("fork_census")
    if not session._jvm_fs_conf:
        return {"stock": True}
    jvm = spark._jvm
    pid = jvm.ProcessHandle.current().pid()
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    fc = jvm.org.apache.hadoop.fs.FileContext.getFileContext(
        jvm.java.net.URI("file:///"), conf
    )
    return {
        "fs": jvm.org.apache.hadoop.fs.Path("file:///")
        .getFileSystem(conf)
        .getClass()
        .getName(),
        "filecontext": fc.getDefaultFileSystem().getClass().getName(),
        "ephemeral": _statement(spark, fork_census, pid, tmp, durable=False),
        "durable": _statement(spark, fork_census, pid, tmp, durable=True),
        "ingest": _ingest(spark, fork_census, pid, tmp),
        "artifact": _artifact(spark, fork_census, pid, sf_dir, tmp),
    }


@pytest.fixture(scope="module")
def census(sf_dir, tmp_path_factory) -> dict:
    tmp = tmp_path_factory.mktemp("fork_census")
    env = dict(
        os.environ,
        SPARK_GRAFT_DRIVER_MEM="1g",
        PYTHONPATH=os.pathsep.join(filter(None, [_REPO, os.environ.get("PYTHONPATH")])),
    )
    proc = subprocess.run(
        [sys.executable, os.path.abspath(__file__), sf_dir, str(tmp)],
        cwd=_REPO,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    if out.get("stock"):
        pytest.skip("the JVM runs Hadoop's stock local filesystem (no javac)")
    return out


def test_session_runs_the_nio_local_filesystem(census):
    from streamlit_flink_demo_spark.session import _LOCALFS

    assert census["fs"] == _LOCALFS + "NioLocalFileSystem"
    assert census["filecontext"] == _LOCALFS + "NioLocalFs"


@pytest.mark.parametrize("kind", ["ephemeral", "durable"])
def test_statement_microbatches_fork_nothing(census, kind):
    assert census[kind] == {}


def test_ingest_microbatches_fork_nothing(census):
    assert census["ingest"] == {}


def test_artifact_build_forks_nothing(census):
    assert census["artifact"] == {}


if __name__ == "__main__":
    print(json.dumps(_run(*sys.argv[1:3])))
