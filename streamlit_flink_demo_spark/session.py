"""SparkSession factory.

Centralizes every config the engine depends on.  The non-negotiable one
is ``spark.sql.ansi.enabled=false``: local Spark is 4.1.2 with ANSI on
by default, where ``CAST('3,277.32' AS DOUBLE)`` *throws*; the reference
relies on Flink's null-on-failure cast (reference ``dashboard.py:120``
``CAST(substring(balance FROM 2) AS DOUBLE)`` over ``"$1,234.56"``
strings), so ANSI must be off for compatible semantics.

Local filesystem: without libhadoop, Hadoop's local filesystem forks a
process for every permission and link-status call — a ``chmod`` per
file or directory it creates, a ``readlink`` per FileContext rename, an
``ls -ld`` per permission read. Every checkpoint, state-store and
parquet write pays them. For a ``local[...]`` master, ``get_spark``
compiles the three classes under ``jvm/`` (NIO ``chmod``/``lstat``
instead of the forks; ``.crc`` files and FileContext's non-overwriting
rename are kept) once per user into ``$XDG_CACHE_HOME`` (default
``~/.cache``), keyed by the source and the ``hadoop-client-api`` jar
Spark launches with, and puts them on the driver classpath as
``fs.file.impl`` and ``fs.AbstractFileSystem.file.impl`` before the JVM
starts. A cluster master keeps the stock classes (its executors would
not have these), and so does a box without ``javac`` or where the
compile fails, with one warning.

Scale posture: these settings are tuned for the local[32] test box but
written so the same code runs on a 1000-executor cluster — AQE handles
runtime partition coalescing and skew joins, shuffle partitions are
overridable via env, and nothing below hard-codes single-node
assumptions.
"""

from __future__ import annotations

import functools
import glob
import hashlib
import os
import shutil
import subprocess
import tempfile
import warnings

from pyspark import SparkContext
from pyspark.sql import SparkSession

_JVM_SRC = os.path.join(os.path.dirname(os.path.abspath(__file__)), "jvm")
_LOCALFS = "streamlit_flink_demo_spark.localfs."

# the filesystem confs the running JVM was launched with: a session
# rebuilt in the same JVM must not name classes it cannot load
_jvm_fs_conf: dict[str, str] = {}


def _cpus() -> int:
    try:
        return max(1, int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    except ValueError:
        return 32


@functools.lru_cache(maxsize=1)
def local_fs_conf() -> dict[str, str]:
    """The confs that put the fork-free local filesystem (``jvm/``) on
    the driver, compiling it on the first call per user and cache key;
    ``{}`` — Hadoop's stock classes — with one warning when there is no
    ``javac`` or the compile fails. Never starts a JVM."""
    try:
        from pyspark.find_spark_home import _find_spark_home

        jars = glob.glob(
            os.path.join(_find_spark_home(), "jars", "hadoop-client-api-*.jar")
        )
        if not jars:
            raise RuntimeError("no hadoop-client-api jar under SPARK_HOME/jars")
        jar = jars[0]
        sources = sorted(glob.glob(os.path.join(_JVM_SRC, "*.java")))
        key = hashlib.sha256()
        for src in sources:
            with open(src, "rb") as fh:
                key.update(fh.read())
        st = os.stat(jar)
        key.update(f"{os.path.realpath(jar)}:{st.st_size}:{st.st_mtime_ns}".encode())
        cache = os.path.join(
            os.environ.get("XDG_CACHE_HOME") or os.path.expanduser("~/.cache"),
            "streamlit_flink_demo_spark",
        )
        out = os.path.join(cache, "localfs-" + key.hexdigest()[:16])
        if not os.path.isdir(out):
            javac = shutil.which("javac")
            if javac is None:
                raise RuntimeError("no javac on PATH")
            os.makedirs(cache, exist_ok=True)
            # compile aside, then rename: a reader never sees half a build
            tmp = tempfile.mkdtemp(prefix=".localfs-", dir=cache)
            try:
                subprocess.run(
                    [javac, "--release", "17", "-nowarn", "-cp", jar, "-d", tmp,
                     *sources],
                    check=True,
                    capture_output=True,
                    text=True,
                )
                try:
                    os.rename(tmp, out)
                except OSError:
                    if not os.path.isdir(out):  # else a concurrent build won
                        raise
            finally:
                shutil.rmtree(tmp, ignore_errors=True)
    except (OSError, RuntimeError, subprocess.CalledProcessError) as ex:
        reason = (
            ex.stderr.strip()[-500:]  # javac's own diagnosis
            if isinstance(ex, subprocess.CalledProcessError)
            else ex
        )
        warnings.warn(
            f"using Hadoop's stock local filesystem: {reason}",
            RuntimeWarning,
            stacklevel=2,
        )
        return {}
    return {
        "spark.driver.extraClassPath": out,
        "spark.hadoop.fs.file.impl": _LOCALFS + "NioLocalFileSystem",
        "spark.hadoop.fs.AbstractFileSystem.file.impl": _LOCALFS + "NioLocalFs",
    }


def get_spark(app_name: str = "streamlit_flink_demo_spark") -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    Idempotent: Spark returns the active session if one exists, so tests
    and the driver can call this freely.
    """
    global _jvm_fs_conf
    cpus = _cpus()
    shuffle_parts = os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", str(cpus))
    master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    if SparkContext._gateway is None:
        _jvm_fs_conf = local_fs_conf() if master.startswith("local") else {}
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        # Flink-compatible cast semantics: null on failure, not error
        # (SURVEY.md §4; reference dashboard.py:120).
        .config("spark.sql.ansi.enabled", "false")
        # AQE: runtime re-planning — coalesce tiny shuffle partitions,
        # convert to broadcast joins when runtime stats allow, split
        # skewed partitions.  Essential at 100 TB, harmless locally.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", shuffle_parts)
        # DuckDB timestamps are UTC-naive; pin the session TZ so the
        # oracle comparison sees identical wall-clock values.
        .config("spark.sql.session.timeZone", "UTC")
        # Arrow for all pandas interchange (Pandas UDFs, toPandas).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # events.parquet stores TIMESTAMP(NANOS); read as long + convert
        # (sources/catalog.py) — Spark has no nanos TimestampType.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
    )
    for k, v in _jvm_fs_conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
