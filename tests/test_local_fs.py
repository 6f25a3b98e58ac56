"""The session's fork-free local filesystem (session.py, jvm/): the
compile-once cache, the no-``javac`` fallback, and NIO statuses that
read the same as Hadoop's stock ones."""

from __future__ import annotations

import os
import shutil
import warnings

import pytest
from py4j.protocol import Py4JJavaError

import streamlit_flink_demo_spark.session as session


@pytest.fixture()
def fresh_conf():
    """local_fs_conf as on a first call in a new process."""
    session.local_fs_conf.cache_clear()
    yield session.local_fs_conf
    session.local_fs_conf.cache_clear()


def test_no_javac_falls_back_to_stock_filesystem_once(
    fresh_conf, fork_census, tmp_path, monkeypatch
):
    """No javac and no cached build: the stock classes ({}), one
    warning, and no process started (no compiler, no second JVM)."""
    os.makedirs(tmp_path / "bin")
    monkeypatch.setenv("PATH", str(tmp_path / "bin"))
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    got = []
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        started = fork_census.children_started(
            os.getpid(), lambda: got.extend([fresh_conf(), fresh_conf()])
        )
    assert got == [{}, {}]
    assert started == {}
    assert [str(w.message) for w in caught] == [
        "using Hadoop's stock local filesystem: no javac on PATH"
    ]
    assert not (tmp_path / "cache").exists()


def test_compile_once_into_the_user_cache(
    fresh_conf, fork_census, tmp_path, monkeypatch
):
    if shutil.which("javac") is None:
        pytest.skip("no javac on PATH")
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path))
    conf = fresh_conf()
    cp = conf["spark.driver.extraClassPath"]
    assert conf["spark.hadoop.fs.file.impl"].endswith(".NioLocalFileSystem")
    assert conf["spark.hadoop.fs.AbstractFileSystem.file.impl"].endswith(
        ".NioLocalFs"
    )
    assert os.path.dirname(cp) == str(tmp_path / "streamlit_flink_demo_spark")
    assert os.listdir(os.path.dirname(cp)) == [os.path.basename(cp)]  # no temp dir
    assert sorted(
        os.listdir(os.path.join(cp, "streamlit_flink_demo_spark", "localfs"))
    ) == [
        "NioLocalFileSystem.class",
        "NioLocalFs$Raw.class",
        "NioLocalFs.class",
        "NioRawLocalFileSystem.class",
    ]
    session.local_fs_conf.cache_clear()
    again = []
    started = fork_census.children_started(
        os.getpid(), lambda: again.append(fresh_conf())
    )
    assert again == [conf]
    assert started == {}  # the cached build is reused: javac does not run


def _raw_filesystems(spark):
    if not session._jvm_fs_conf:
        pytest.skip("the JVM runs Hadoop's stock local filesystem (no javac)")
    jvm = spark._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    root = jvm.java.net.URI("file:///")
    stock = jvm.org.apache.hadoop.fs.RawLocalFileSystem()
    stock.initialize(root, conf)
    nio = jvm.streamlit_flink_demo_spark.localfs.NioRawLocalFileSystem()
    nio.initialize(root, conf)
    return jvm, stock, nio


def _fields(st) -> tuple:
    return (
        st.getPath().toString(),
        st.isDirectory(),
        st.getLen() if not st.isDirectory() else None,
        st.getModificationTime(),
        st.getPermission().toString(),
        st.getOwner(),
        st.getGroup(),
        st.isSymlink(),
    )


def test_nio_status_reads_like_stock(spark, tmp_path):
    jvm, stock, nio = _raw_filesystems(spark)
    Path = jvm.org.apache.hadoop.fs.Path
    (tmp_path / "d").mkdir()
    (tmp_path / "d" / "f").write_text("twelve bytes")
    os.chmod(tmp_path / "d" / "f", 0o640)
    os.symlink(tmp_path / "d" / "f", tmp_path / "link")
    for p in ("d", "d/f"):
        path = Path(str(tmp_path / p))
        assert _fields(nio.getFileStatus(path)) == _fields(stock.getFileStatus(path))
        assert _fields(nio.getFileLinkStatus(path)) == _fields(
            stock.getFileStatus(path)
        )
    listed = sorted(_fields(s) for s in nio.listStatus(Path(str(tmp_path / "d"))))
    assert listed == sorted(
        _fields(s) for s in stock.listStatus(Path(str(tmp_path / "d")))
    )
    assert [_fields(s) for s in nio.listStatus(Path(str(tmp_path / "d" / "f")))] == [
        _fields(stock.getFileStatus(Path(str(tmp_path / "d" / "f"))))
    ]

    link = nio.getFileLinkStatus(Path(str(tmp_path / "link")))
    assert link.isSymlink()
    assert link.getSymlink().toString() == "file:" + str(tmp_path / "d" / "f")
    assert nio.getLinkTarget(Path(str(tmp_path / "link"))).toString() == str(
        tmp_path / "d" / "f"
    )
    assert not nio.getFileStatus(Path(str(tmp_path / "link"))).isSymlink()

    with pytest.raises(Py4JJavaError, match="FileNotFoundException"):
        nio.getFileStatus(Path(str(tmp_path / "missing")))


def test_nio_set_permission_is_chmod(spark, tmp_path):
    jvm, _, nio = _raw_filesystems(spark)
    f = tmp_path / "f"
    f.write_text("x")
    nio.setPermission(
        jvm.org.apache.hadoop.fs.Path(str(f)),
        jvm.org.apache.hadoop.fs.permission.FsPermission("751"),
    )
    assert os.stat(f).st_mode & 0o7777 == 0o751
    with pytest.raises(Py4JJavaError, match="FileNotFoundException"):
        nio.setPermission(
            jvm.org.apache.hadoop.fs.Path(str(tmp_path / "missing")),
            jvm.org.apache.hadoop.fs.permission.FsPermission("644"),
        )
