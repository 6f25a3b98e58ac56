"""Statements façade lifecycle tests (SURVEY.md §5.4).

Mirrors the reference behaviors: create→running→completed phases,
unknown statement → error, failed phase → wait returns None, timeout,
pagination with keep-alive pages, schema read-back envelope shape.
"""

from __future__ import annotations

import pytest

from streamlit_flink_demo_spark.sources.catalog import register_tables
from streamlit_flink_demo_spark.statements import (
    PHASE_COMPLETED,
    StatementsService,
    infer_key_cols,
)


@pytest.fixture(scope="module")
def svc(spark, sf_dir):
    register_tables(spark, sf_dir)
    return StatementsService(spark)


def test_batch_statement_lifecycle(svc):
    env = svc.create("SELECT r_name, r_regionkey FROM region")
    assert env["status"]["phase"] in ("pending", "running", "completed")
    ready = svc.wait_for_status(env, "completed", timeout=60)
    assert ready is not None
    schema = ready["status"]["traits"]["schema"]
    assert schema == {"columns": [{"name": "r_name"}, {"name": "r_regionkey"}]}
    rows = [r for r in svc.results(env["name"]) if r is not None]
    assert len(rows) == 5
    assert all("op" not in r for r in rows)  # batch: no-changelog form
    assert all(len(r["row"]) == 2 for r in rows)


def test_statement_name_shape(svc):
    env = svc.create("SELECT 1 AS one", prefix="widget-")
    assert env["name"].startswith("widget-")
    assert len(env["name"]) == len("widget-") + 12


def test_unknown_statement_raises(svc):
    with pytest.raises(KeyError):
        svc.get("nope")


def test_failed_statement_wait_returns_none(svc):
    env = svc.create("SELECT FROM WHERE")  # parse error
    assert svc.wait_for_status(env, "completed", timeout=5) is None
    assert svc.get(env["name"])["status"]["phase"] == "failed"


def test_wait_timeout(svc, spark):
    # a statement that never reaches an impossible phase
    env = svc.create("SELECT 1 AS one")
    svc.wait_for_status(env, PHASE_COMPLETED, timeout=30)
    with pytest.raises(TimeoutError):
        svc.wait_for_status(env, "running", timeout=0.2)


def test_results_pagination_and_completion(svc):
    env = svc.create("SELECT c_custkey FROM customer")
    svc.wait_for_status(env, "completed", timeout=60)
    gen = svc.results(env["name"], page_size=7)
    rows = list(gen)  # exhausts: completed batch → generator terminates
    assert len([r for r in rows if r is not None]) == 150


def test_next_results_single_page_contract(svc):
    """The reference's next_results(url) page contract
    (api/statements.py:96-103): bounded page, advancing cursor,
    empty page + unchanged cursor once drained, KeyError for
    unknown statements (the 404)."""
    env = svc.create("SELECT c_custkey FROM customer")
    svc.wait_for_status(env, "completed", timeout=60)
    name = env["name"]
    got, cursor, pages = 0, 0, 0
    while True:
        records, nxt = svc.next_results(name, cursor, page_size=40)
        if not records:
            assert nxt == cursor  # keep-alive: cursor unchanged
            break
        assert len(records) <= 40
        assert nxt == cursor + len(records)
        got += len(records)
        cursor = nxt
        pages += 1
    assert got == 150 and pages == 4  # 40+40+40+30
    import pytest as _pytest

    with _pytest.raises(KeyError):
        svc.next_results("nope", 0)


def test_large_batch_statement_streams_through_driver(svc):
    """Batch results flow via toLocalIterator in bounded chunks (no
    full-result collect on the driver): a result far larger than the
    1000-row chunk arrives complete and in working order."""
    env = svc.create("SELECT l_orderkey, l_linenumber FROM lineitem")
    svc.wait_for_status(env, "completed", timeout=120)
    n = 0
    cursor = 0
    while True:
        records, cursor = svc.next_results(env["name"], cursor, page_size=5000)
        if not records:
            break
        n += len(records)
    # sf0.001 lineitem cardinality (multiple chunks' worth)
    assert n == svc.spark.table("lineitem").count() and n > 5000


def test_default_properties_applied(spark, sf_dir):
    register_tables(spark, sf_dir)
    svc2 = StatementsService(
        spark, defaults={"sql.current-catalog": "spark_catalog"}
    )
    env = svc2.create("SELECT 1 AS one", properties={"x": "y"})
    assert env["spec"]["properties"] == {
        "sql.current-catalog": "spark_catalog",
        "x": "y",
    }


def test_service_from_config_ini(spark, tmp_path):
    """config.ini → service defaults, mirroring the reference's
    dashboard.py:57-63 + config.template.ini:41-44."""
    ini = tmp_path / "config.ini"
    ini.write_text(
        "[flink]\n"
        "name_prefix=jane-doe_demo-\n"
        "sql.current-catalog=my_env\n"
        "sql.current-database=my_cluster\n"
    )
    svc = StatementsService.from_config(spark, str(ini))
    assert svc.defaults == {
        "sql.current-catalog": "my_env",
        "sql.current-database": "my_cluster",
    }
    env = svc.create("SELECT 1 AS one")
    assert env["name"].startswith("jane-doe_demo-")
    assert env["spec"]["properties"]["sql.current-database"] == "my_cluster"

    # empty values are omitted (template ships them blank)
    ini2 = tmp_path / "c2.ini"
    ini2.write_text("[flink]\nsql.current-catalog=\n")
    assert StatementsService.from_config(spark, str(ini2)).defaults == {}

    with pytest.raises(ValueError):
        StatementsService.from_config(spark, str(tmp_path / "missing.ini"))


def test_infer_key_cols():
    assert infer_key_cols(
        "SELECT eyeColor, count(*) AS n FROM user GROUP BY eyeColor",
        ["eyeColor", "n"],
    ) == ["eyeColor"]
    assert infer_key_cols(
        "SELECT `user`.eyeColor AS ec, count(*) FROM `user` GROUP BY `user`.eyeColor",
        ["ec", "n"],
    ) == []  # qualified key not in output names → no inference
    assert infer_key_cols("SELECT a FROM t", ["a"]) == []
    assert (
        infer_key_cols(
            "SELECT a, b, sum(x) s FROM t GROUP BY a, b ORDER BY a", ["a", "b", "s"]
        )
        == ["a", "b"]
    )
    # event-time window group keys: the window(...) call maps to the
    # 'window' output column; its comma-split fragments must not leak
    assert infer_key_cols(
        "SELECT window(ts, '1 hour') AS window, ec, count(*) n FROM t "
        "GROUP BY window(ts, '1 hour'), ec",
        ["window", "ec", "n"],
    ) == ["window", "ec"]
    assert infer_key_cols(
        "SELECT session_window(ts, '5 minutes') AS session_window, count(*) n "
        "FROM t GROUP BY session_window(ts, '5 minutes')",
        ["session_window", "n"],
    ) == ["session_window"]


# -- DDL / INSERT through the façade ---------------------------------------
# The reference API accepts ARBITRARY statement text — creates, inserts
# and DDL all go through the same POST (reference api/statements.py:65-94);
# only the dashboard happens to send SELECTs. The façade inherits the full
# statement surface from spark.sql; these tests exercise it end-to-end.


def test_ctas_through_facade_and_readback(svc, spark, tmp_path):
    loc = str(tmp_path / "ctas_table")
    env = svc.create(
        f"CREATE TABLE facade_ctas USING parquet LOCATION '{loc}' AS "
        "SELECT r_regionkey, r_name FROM region WHERE r_regionkey < 3"
    )
    ready = svc.wait_for_status(env, "completed", timeout=60)
    assert ready is not None, svc.get(env["name"])["status"]["detail"]
    try:
        # readback THROUGH the façade equals the written data
        env2 = svc.create("SELECT r_regionkey, r_name FROM facade_ctas")
        svc.wait_for_status(env2, "completed", timeout=60)
        rows = sorted(
            tuple(r["row"]) for r in svc.results(env2["name"]) if r is not None
        )
        expected = sorted(
            tuple(r)
            for r in spark.sql(
                "SELECT r_regionkey, r_name FROM region WHERE r_regionkey < 3"
            ).collect()
        )
        assert rows == expected and len(rows) == 3
    finally:
        spark.sql("DROP TABLE IF EXISTS facade_ctas")


def test_insert_into_through_facade(svc, spark, tmp_path):
    loc = str(tmp_path / "ins_table")
    svc.wait_for_status(
        svc.create(
            f"CREATE TABLE facade_ins (nk INT, nm STRING) USING parquet "
            f"LOCATION '{loc}'"
        ),
        "completed",
        timeout=60,
    )
    try:
        env = svc.create(
            "INSERT INTO facade_ins "
            "SELECT n_nationkey, n_name FROM nation WHERE n_nationkey < 5"
        )
        ready = svc.wait_for_status(env, "completed", timeout=60)
        assert ready is not None, svc.get(env["name"])["status"]["detail"]
        # append semantics: a second INSERT adds rows
        env2 = svc.create(
            "INSERT INTO facade_ins "
            "SELECT n_nationkey, n_name FROM nation WHERE n_nationkey = 7"
        )
        assert svc.wait_for_status(env2, "completed", timeout=60) is not None
        envr = svc.create("SELECT count(*) AS n, min(nk) AS lo, max(nk) AS hi FROM facade_ins")
        svc.wait_for_status(envr, "completed", timeout=60)
        (rec,) = [r for r in svc.results(envr["name"]) if r is not None]
        assert rec["row"] == [6, 0, 7]
    finally:
        spark.sql("DROP TABLE IF EXISTS facade_ins")


def test_ddl_view_lifecycle_through_facade(svc, spark):
    env = svc.create(
        "CREATE OR REPLACE TEMPORARY VIEW facade_v AS "
        "SELECT r_regionkey FROM region"
    )
    assert svc.wait_for_status(env, "completed", timeout=60) is not None
    env2 = svc.create("SELECT count(*) AS n FROM facade_v")
    svc.wait_for_status(env2, "completed", timeout=60)
    (rec,) = [r for r in svc.results(env2["name"]) if r is not None]
    assert rec["row"] == [5]
    env3 = svc.create("DROP VIEW facade_v")
    assert svc.wait_for_status(env3, "completed", timeout=60) is not None
    # the view is gone: a SELECT against it now fails analysis
    env4 = svc.create("SELECT count(*) AS n FROM facade_v")
    assert svc.wait_for_status(env4, "completed", timeout=5) is None
    assert svc.get(env4["name"])["status"]["phase"] == "failed"


def test_results_backoff_paces_empty_pages(svc, spark, monkeypatch):
    """backoff=True: consecutive empty pages sleep exponentially up to
    the cap; a non-empty page resets the delay (the reference's TODO at
    api/statements.py:140-141)."""
    import time as _time

    env = svc.create("SELECT r_name FROM region")
    svc.wait_for_status(env, "completed", timeout=60)
    sleeps: list[float] = []
    gen = svc.results(env["name"], backoff=True, page_size=2)
    # batch completed: rows then StopIteration — no sleeps on full pages
    rows = list(gen)
    assert len(rows) == 5 and sleeps == []

    # continuous statement with no data: keep-alives back off
    class B:
        def __init__(self):
            self.phase = "running"
            self.streaming = True
            self.buffer = type(
                "Buf", (), {"read": lambda self_, o, l: ([], o),
                            "size": lambda self_: 0}
            )()
    svc._statements["fake-cont"] = B()
    monkeypatch.setattr(_time, "sleep", lambda s: sleeps.append(s))
    gen = svc.results("fake-cont", continuous_query=True, backoff=True)
    for _ in range(8):
        assert next(gen) is None
    assert len(sleeps) == 8
    assert sleeps == sorted(sleeps)  # monotone growth
    assert sleeps[-1] == 0.3 and sleeps[0] < 0.3  # capped
    del svc._statements["fake-cont"]


def test_streaming_statement_with_sink_path_materializes_files(
    spark, tmp_path
):
    """props['sink.path'] routes a continuous query into the
    exactly-once parquet sink: files land per microbatch, are readable
    via read_committed, and survive a statement stop."""
    import os

    from streamlit_flink_demo_spark.sources.stream_fixtures import (
        user_row,
        user_stream,
        write_user_batch,
    )
    from streamlit_flink_demo_spark.statements import StatementsService

    spool = str(tmp_path / "spool")
    os.makedirs(spool)
    out = str(tmp_path / "mat")
    user_stream(spark, spool).createOrReplaceTempView("user_sinked")
    svc = StatementsService(spark)
    env = svc.create(
        "SELECT guid, eyeColor FROM user_sinked",
        properties={"sink.path": out},
    )
    svc.wait_for_status(env, "running", timeout=60)
    for b in range(3):
        write_user_batch(
            spark, spool, b, [user_row(b * 10 + i) for i in range(4)]
        )
        svc.process_available(env["name"])
    stmt = svc._statements[env["name"]]
    assert stmt.sink is not None
    committed = stmt.sink.committed_ids()
    assert committed  # at least one committed batch
    rows = stmt.sink.read_committed(spark).collect()
    assert len(rows) == 12
    svc.stop(env["name"])
    # files remain after stop (durable materialization)
    assert len(stmt.sink.read_committed(spark).collect()) == 12


def test_sink_statement_restart_recovery_exactly_once(spark, tmp_path):
    """A sink.path statement restarted from its checkpoint must land
    every source row exactly once: Spark replays at most the last
    uncommitted batch and the sink's batch-id manifest dedups it."""
    import os
    import uuid

    from streamlit_flink_demo_spark.sources.stream_fixtures import (
        user_row,
        user_stream,
        write_user_batch,
    )
    from streamlit_flink_demo_spark.statements import StatementsService

    spool = str(tmp_path / "spool")
    os.makedirs(spool)
    out = str(tmp_path / "mat")
    ckpt = str(tmp_path / "ckpt")
    user_stream(spark, spool).createOrReplaceTempView("user_sink_rec")
    svc = StatementsService(spark)

    def create():
        return svc.create(
            "SELECT guid, eyeColor FROM user_sink_rec",
            properties={"sink.path": out},
            checkpoint_dir=ckpt,
            name="sink-recover",
        )

    env = create()
    svc.wait_for_status(env, "running", timeout=60)
    for b in range(2):
        write_user_batch(
            spark, spool, b, [user_row(b * 10 + i) for i in range(4)]
        )
        svc.process_available(env["name"])
    svc.stop(env["name"])
    del svc._statements[env["name"]]

    env = create()  # restart from the same checkpoint
    svc.wait_for_status(env, "running", timeout=60)
    write_user_batch(spark, spool, 2, [user_row(100 + i) for i in range(4)])
    svc.process_available(env["name"])
    stmt = svc._statements[env["name"]]
    got = sorted(r["guid"] for r in stmt.sink.read_committed(spark).collect())
    want = sorted(
        str(uuid.UUID(int=n))
        for n in [b * 10 + i for b in range(2) for i in range(4)]
        + [100 + i for i in range(4)]
    )
    assert got == want
    svc.stop(env["name"])


def test_sink_path_rejects_stateful_plan_with_targeted_error(
    spark, tmp_path
):
    """sink.path materialization is append-only; an aggregating
    statement must fail with a TARGETED message (mapped from Spark's
    own start() rejection — not a pre-emptive plan sniff, which would
    also reject stateless stream-static joins the pessimistic
    _stream_plan_stateful helper flags)."""
    import os

    from streamlit_flink_demo_spark.sources.stream_fixtures import user_stream
    from streamlit_flink_demo_spark.statements import StatementsService

    spool = str(tmp_path / "spool")
    os.makedirs(spool)
    user_stream(spark, spool).createOrReplaceTempView("user_sink_stateful")
    svc = StatementsService(spark)
    env = svc.create(
        "SELECT eyeColor, count(*) AS n FROM user_sink_stateful "
        "GROUP BY eyeColor",
        properties={"sink.path": str(tmp_path / "mat")},
    )
    assert env["status"]["phase"].lower() == "failed"
    assert "append-only" in svc._statements[env["name"]].error
    assert "sink.path" in svc._statements[env["name"]].error


def test_sink_path_allows_stream_static_join(spark, tmp_path):
    """A stream-static join is stateless and append-safe even though
    the pessimistic plan sniff flags it — sink.path must accept it
    and materialize rows (regression for the round-5 pre-emptive
    rejection)."""
    import os

    from streamlit_flink_demo_spark.sources.stream_fixtures import (
        user_row,
        user_stream,
        write_user_batch,
    )
    from streamlit_flink_demo_spark.statements import StatementsService

    spool = str(tmp_path / "spool")
    os.makedirs(spool)
    spark.createDataFrame(
        [("blue", 1), ("brown", 2), ("green", 3)], "color string, rank int"
    ).createOrReplaceTempView("eye_dim")
    user_stream(spark, spool).createOrReplaceTempView("user_ss_join")
    svc = StatementsService(spark)
    env = svc.create(
        "SELECT u.guid, u.eyeColor, d.rank FROM user_ss_join u "
        "JOIN eye_dim d ON u.eyeColor = d.color",
        properties={"sink.path": str(tmp_path / "mat")},
    )
    svc.wait_for_status(env, "running", timeout=60)
    try:
        write_user_batch(spark, spool, 0, [user_row(i) for i in range(12)])
        svc.process_available(env["name"])
        stmt = svc._statements[env["name"]]
        rows = stmt.sink.read_committed(spark).collect()
        assert rows and all(r["rank"] in (1, 2, 3) for r in rows)
    finally:
        svc.stop(env["name"])


def test_stream_static_join_keys_ignore_static_aggregate(spark, tmp_path):
    """The GROUP BY inside the static side of a stream-static join runs
    as a batch query; it must not key the append-only join stream.
    Keying on the dim's eyeColor would fold nine joined rows into -U/+U
    pairs and materialize three rows."""
    import os

    from streamlit_flink_demo_spark.changelog import Changelog
    from streamlit_flink_demo_spark.sources.stream_fixtures import (
        user_row,
        user_stream,
        write_user_batch,
    )
    from streamlit_flink_demo_spark.statements import StatementsService

    spool = str(tmp_path / "spool")
    os.makedirs(spool)
    spark.createDataFrame(
        [("brown",), ("brown",), ("blue",), ("green",)], "eyeColor string"
    ).createOrReplaceTempView("eye_dim_rows")
    user_stream(spark, spool).createOrReplaceTempView("user_ss_agg")
    svc = StatementsService(spark)
    env = svc.create(
        "SELECT u.guid, u.eyeColor, d.n FROM user_ss_agg u JOIN "
        "(SELECT eyeColor, count(*) AS n FROM eye_dim_rows GROUP BY eyeColor) d "
        "ON u.eyeColor = d.eyeColor",
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    assert env["status"]["phase"] == "running", env["status"]["detail"]
    try:
        cols = [c["name"] for c in env["status"]["traits"]["schema"]["columns"]]
        cl = Changelog(cols, svc.results(env["name"], continuous_query=True))
        write_user_batch(spark, spool, 0, [user_row(i) for i in range(9)])
        svc.process_available(env["name"])
        recs = cl.consume(100)
        assert [r["op"] for r in recs] == [0] * 9
        assert len(cl.collapse().rows) == 9
    finally:
        svc.stop(env["name"])


def test_runtime_failure_surfaces_in_phase(spark, tmp_path):
    """A streaming query that dies AFTER start (corrupt source file)
    must flip the statement to 'failed' with the error in the envelope
    — not stay 'running' forever while clients poll keep-alives."""
    import os
    import time

    from streamlit_flink_demo_spark.sources.stream_fixtures import user_stream
    from streamlit_flink_demo_spark.statements import StatementsService

    spool = str(tmp_path / "spool")
    os.makedirs(spool)
    user_stream(spark, spool).createOrReplaceTempView("user_runtime_fail")
    svc = StatementsService(spark)
    env = svc.create("SELECT guid, eyeColor FROM user_runtime_fail")
    svc.wait_for_status(env, "running", timeout=60)
    # corrupt microbatch: not a parquet file at all
    with open(os.path.join(spool, "batch_00000.parquet"), "wb") as fh:
        fh.write(b"this is not parquet")
    stmt = svc._statements[env["name"]]
    deadline = time.monotonic() + 60
    while time.monotonic() < deadline:
        if svc.get(env["name"])["status"]["phase"] == "failed":
            break
        time.sleep(0.2)
    got = svc.get(env["name"])
    assert got["status"]["phase"] == "failed"
    assert got["status"]["detail"]  # the underlying error is surfaced
    assert stmt._tmp_ckpt is None  # tmpfs checkpoint reclaimed


def test_create_rejects_live_name_collision(spark, tmp_path):
    """Re-POSTing a LIVE statement's name must fail the new create
    instead of silently replacing (and orphaning) the running query;
    terminal names may be reused."""
    import os

    from streamlit_flink_demo_spark.sources.stream_fixtures import user_stream
    from streamlit_flink_demo_spark.statements import StatementsService

    spool = str(tmp_path / "spool")
    os.makedirs(spool)
    user_stream(spark, spool).createOrReplaceTempView("user_name_clash")
    svc = StatementsService(spark)
    env = svc.create(
        "SELECT guid FROM user_name_clash", name="clash-stmt"
    )
    svc.wait_for_status(env, "running", timeout=60)
    try:
        dup = svc.create("SELECT eyeColor FROM user_name_clash", name="clash-stmt")
        assert dup["status"]["phase"] == "failed"
        assert "already exists" in dup["status"]["detail"]
        # the ORIGINAL statement is untouched and still addressable
        assert svc.get("clash-stmt")["status"]["phase"] == "running"
        assert svc._statements["clash-stmt"].sql.endswith("user_name_clash")
    finally:
        svc.stop("clash-stmt")
    # terminal phase → name reusable
    dup2 = svc.create("SELECT 1 AS one", name="clash-stmt")
    assert svc.wait_for_status(dup2, "completed", timeout=30) is not None


def test_result_buffer_counts_evicted_unread_records():
    """A reader that falls behind ring eviction gets the oldest records
    still held; the records it never saw are counted and surfaced in
    the statement's status detail, not skipped silently."""
    from streamlit_flink_demo_spark.statements import Statement
    from streamlit_flink_demo_spark.streaming.emitter import ResultBuffer

    buf = ResultBuffer(max_records=5)
    buf.append([{"row": [i]} for i in range(10)])
    records, cursor = buf.read(0, 100)
    assert [r["row"][0] for r in records] == [5, 6, 7, 8, 9]
    assert cursor == 10
    assert buf.evicted_unread == 5
    stmt = Statement(name="lagged", sql="SELECT 1", properties={}, buffer=buf)
    assert "evicted_unread_records=5" in stmt.envelope()["status"]["detail"]
    buf.read(cursor, 100)  # a reader at the head skips nothing
    assert buf.evicted_unread == 5


_CKPT_FM = "org.apache.spark.sql.execution.streaming.checkpointing."


def _checkpoint_managers(spark, stmt) -> tuple[str, str]:
    """(manager a new checkpoint file gets under the query's session,
    manager of the file source's sources/ log) for a running statement."""
    se = stmt._query._jsq.streamingQuery()
    jvm = spark._jvm
    conf = se.sparkSessionForStream().sessionState().newHadoopConf()
    path = jvm.org.apache.hadoop.fs.Path(se.resolvedCheckpointRoot())
    fm = jvm.org.apache.spark.sql.execution.streaming.checkpointing
    created = fm.CheckpointFileManager.create(path, conf)
    # the source's log is a private field: find it by type
    source = se.sources().head()
    log_cls = jvm.java.lang.Class.forName(
        "org.apache.spark.sql.execution.streaming.runtime.FileStreamSourceLog"
    )
    for f in source.getClass().getDeclaredFields():
        if log_cls.isAssignableFrom(f.getType()):
            f.setAccessible(True)
            source_log = f.get(source)
            break
    return (
        created.getClass().getName(),
        source_log.fileManager().getClass().getName(),
    )


def test_every_statement_uses_the_filecontext_checkpoint_manager(
    spark, tmp_path
):
    """Ephemeral and checkpoint_dir statements write their checkpoints
    and their file source's sources/ log through one manager, Spark's
    default FileContext one: its non-overwriting rename detects a second
    writer, and over the session's NIO local filesystem it forks no
    readlink or chmod per file."""
    import os

    from streamlit_flink_demo_spark.sources.stream_fixtures import user_stream
    from streamlit_flink_demo_spark.statements import StatementsService

    spool = str(tmp_path / "spool")
    os.makedirs(spool)
    user_stream(spark, spool).createOrReplaceTempView("user_ckpt_fm")
    svc = StatementsService(spark)
    sql = "SELECT eyeColor, count(*) AS n FROM user_ckpt_fm GROUP BY eyeColor"
    eph = svc.create(sql)
    dur = svc.create(sql, checkpoint_dir=str(tmp_path / "ckpt"))
    try:
        assert eph["status"]["phase"] == "running", eph["status"]["detail"]
        assert dur["status"]["phase"] == "running", dur["status"]["detail"]
        fc = _CKPT_FM + "FileContextBasedCheckpointFileManager"
        for env in (eph, dur):
            stmt = svc._statements[env["name"]]
            assert _checkpoint_managers(spark, stmt) == (fc, fc)
    finally:
        svc.stop(eph["name"])
        svc.stop(dur["name"])


_START_KEYS = (
    "spark.sql.shuffle.partitions",
    "spark.sql.streaming.stateStore.maintenanceInterval",
)


def _start_conf(spark) -> dict:
    set_keys = spark.conf.getAll
    return {k: (k in set_keys, spark.conf.get(k, None)) for k in _START_KEYS}


def test_start_conf_window_restores_parent_session(spark, tmp_path):
    """The confs a streaming create sets for its query's cloned session
    read exactly as before on the parent session afterwards — after a
    successful start and after a failed one — and a key that was unset
    stays unset."""
    import os

    from streamlit_flink_demo_spark.sources.stream_fixtures import user_stream
    from streamlit_flink_demo_spark.statements import StatementsService

    spool = str(tmp_path / "spool")
    os.makedirs(spool)
    user_stream(spark, spool).createOrReplaceTempView("user_conf_window")
    svc = StatementsService(spark, stream_shuffle_partitions=3)
    before = _start_conf(spark)
    sql = "SELECT eyeColor, count(*) AS n FROM user_conf_window GROUP BY eyeColor"
    ok = svc.create(sql)
    try:
        assert ok["status"]["phase"] == "running", ok["status"]["detail"]
        assert _start_conf(spark) == before
    finally:
        svc.stop(ok["name"])
    failed = svc.create(sql, properties={"sink.path": str(tmp_path / "mat")})
    assert failed["status"]["phase"] == "failed"
    assert "append-only" in failed["status"]["detail"]
    assert _start_conf(spark) == before


def test_ephemeral_and_durable_statements_emit_the_same_changelog(
    spark, tmp_path
):
    """The checkpoint manager is invisible in the output: the same spool
    files through an ephemeral and a checkpoint_dir statement give the
    same changelog, record for record, and the same collapsed table."""
    import os

    from streamlit_flink_demo_spark.changelog import Changelog
    from streamlit_flink_demo_spark.sources.stream_fixtures import (
        user_row,
        user_stream,
        write_user_batch,
    )
    from streamlit_flink_demo_spark.statements import StatementsService

    spool = str(tmp_path / "spool")
    os.makedirs(spool)
    user_stream(spark, spool).createOrReplaceTempView("user_ckpt_diff")
    svc = StatementsService(spark)
    sql = (
        "SELECT eyeColor, count(*) AS n, max(age) AS oldest "
        "FROM user_ckpt_diff GROUP BY eyeColor"
    )
    envs = [svc.create(sql), svc.create(sql, checkpoint_dir=str(tmp_path / "c"))]
    try:
        logs = []
        for env in envs:
            assert env["status"]["phase"] == "running", env["status"]["detail"]
            cols = [c["name"] for c in env["status"]["traits"]["schema"]["columns"]]
            logs.append(
                Changelog(cols, svc.results(env["name"], continuous_query=True))
            )
        for b in range(4):  # a priming file, then files that repeat keys
            write_user_batch(
                spark, spool, b, [user_row(b * 7 + i) for i in range(7)]
            )
            for env, cl in zip(envs, logs):
                svc.process_available(env["name"])
                cl.consume(1000)
        eph, dur = logs
        assert eph.history == dur.history
        assert eph.ops_received.get("-U", 0) >= 6
        assert eph.collapse().rows == dur.collapse().rows
        assert len(eph.collapse().rows) == 3
    finally:
        for env in envs:
            svc.stop(env["name"])
