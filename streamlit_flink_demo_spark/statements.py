"""Statements façade — the reference's REST-client surface, engine-side.

Mirrors the lifecycle of the reference's ``StatementsEndpoint``
(reference ``api/statements.py:20-192``) so a client written against
the reference (or its dashboard) ports with a URL/transport change:

- ``create(sql)``         → statement envelope, generated name
                            (reference ``:65-94``; ``random_id`` ``:11-13``)
- ``get(name)``           → envelope with current phase
                            (reference ``:54-63``; unknown name → KeyError
                            like the 404 at ``:57-59``)
- ``wait_for_status``     → poll until target phase, None on 'failed',
                            TimeoutError after 120 s (reference ``:171-192``)
- ``results(name, continuous)`` → generator of row records; ``None``
                            keep-alives on empty pages of continuous
                            queries (reference ``:105-169``)

Execution is Spark: batch statements run via ``spark.sql`` on a worker
thread (phases pending→running→completed); streaming statements start
a ``StreamingQuery`` with a ChangelogEmitter foreachBatch sink (phase
running until stopped). Result records use the reference wire shape:
``{"op": n, "row": [...]}`` for changelog results, ``{"row": [...]}``
for batch results (reference ``:146-169``).
"""

from __future__ import annotations

import os
import re
import secrets
import threading
import time
from collections.abc import Iterator
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import SparkSession

from streamlit_flink_demo_spark.streaming.emitter import (
    ChangelogEmitter,
    ResultBuffer,
)

# Serializes the session-conf save/set/restore window around
# writer.start(): under the threaded HTTP server two concurrent
# creates interleaving that window can capture the OTHER create's
# temporary value as "previous" and restore it permanently (e.g.
# shuffle.partitions stuck at 1 for every later batch query).
_START_CONF_LOCK = threading.Lock()

PHASE_PENDING = "pending"
PHASE_RUNNING = "running"
PHASE_COMPLETED = "completed"
PHASE_FAILED = "failed"
PHASE_STOPPED = "stopped"


def random_name(prefix: str = "") -> str:
    # same shape as the reference's names: prefix + 12 hex chars
    return f"{prefix}{secrets.token_hex(6)}"


# Ephemeral tmpfs checkpoint dirs currently owned by this process.
# stop() removes a statement's dir eagerly; this registry + atexit
# sweep covers statements that fail, are abandoned, or are still
# running at interpreter exit — streaming WAL/state on /dev/shm must
# not outlive the process that wrote it (tmpfs is shared memory).
_LIVE_TMP_CKPTS: set[str] = set()


def _reap_tmp_ckpts() -> None:
    import shutil

    for path in list(_LIVE_TMP_CKPTS):
        shutil.rmtree(path, ignore_errors=True)
        _LIVE_TMP_CKPTS.discard(path)


import atexit  # noqa: E402

atexit.register(_reap_tmp_ckpts)


def _drop_tmp_ckpt(stmt: "Statement") -> None:
    if stmt._tmp_ckpt is not None:
        import shutil

        shutil.rmtree(stmt._tmp_ckpt, ignore_errors=True)
        _LIVE_TMP_CKPTS.discard(stmt._tmp_ckpt)
        stmt._tmp_ckpt = None


def _stream_plan_stateful(df) -> bool:
    """Does a STREAMING DataFrame's plan carry state stores? Decided on
    the analyzed logical plan BEFORE start — the batch DataFrame Python
    foreachBatch later receives is an opaque ExistingRDD scan in which
    statefulness is invisible, so this is the only reliable place to
    prove a keyless query stateless (unlocking the cheap CollectLimit
    consume; see ChangelogEmitter._is_stateful). Pessimistic on Join:
    a stream-static join is stateless, but distinguishing it from a
    stream-stream join needs child-plan traversal — the safe full
    drain merely costs transfer, never correctness."""
    try:
        plan = df._jdf.queryExecution().analyzed().toString()
    except Exception:
        return True
    markers = (
        "Deduplicate",
        "Aggregate",
        "Distinct",  # analyzed-plan form; becomes Aggregate only later
        "FlatMapGroupsWithState",
        "TransformWithState",
        "Join",
        "SessionWindow",
        "GlobalLimit",
    )
    return any(m in plan for m in markers)


def _ckpt_tree_is_stale(path: str, now: float, max_age_s: float) -> bool:
    """Staleness by the NEWEST mtime anywhere in the tree: Spark's
    per-batch writes land in offsets/ commits/ state/ SUBdirectories
    and never refresh the root dir's mtime (set once at mkdtemp), so a
    sibling process's statement running longer than max_age_s would
    look stale by the root alone — deleting it kills that live query
    at its next walCommit. Early-exits on the first young entry."""
    try:
        if now - os.path.getmtime(path) <= max_age_s:
            return False
    except OSError:
        return False
    for root, dirs, files in os.walk(path):
        for entry in dirs + files:
            try:
                m = os.path.getmtime(os.path.join(root, entry))
            except OSError:
                continue
            if now - m <= max_age_s:
                return False
    return True


def sweep_stale_ckpts(max_age_s: float = 3600.0) -> int:
    """Remove ``ckpt_*`` dirs on /dev/shm whose ENTIRE tree is older
    than ``max_age_s`` and that no live statement of THIS process owns
    — crash debris from earlier runs. The whole-tree age guard keeps a
    concurrently-running sibling process's active checkpoints safe
    (its per-batch offset/commit writes keep the tree young). Returns
    the number of dirs removed."""
    import glob
    import shutil

    removed = 0
    now = time.time()
    for path in glob.glob("/dev/shm/ckpt_*"):
        if path in _LIVE_TMP_CKPTS:
            continue
        if _ckpt_tree_is_stale(path, now, max_age_s):
            shutil.rmtree(path, ignore_errors=True)
            removed += 1
    return removed


def _json_safe(v: Any) -> Any:
    """Values as JSON-wire-friendly types (timestamps → ISO strings,
    Decimal → float: the repo's decimal-sum pattern makes DECIMAL
    columns common, and json.dumps raises on Decimal — a dead handler
    thread and a dropped connection, not an error response)."""
    import datetime
    import decimal

    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat(sep=" ")
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex().upper()
    return v


def infer_key_cols_from_plan(df: Any) -> list[str] | None:
    """Group-by keys read from the ANALYZED plan's Aggregate node —
    exact for any grouping expression shape, including the reference's
    ``GROUP BY CASE WHEN …`` age-group query (dashboard.py:121-126)
    where the clause text never matches the output alias, and
    event-time ``window()``/``session_window()`` keys (the analyzed
    plan groups on a plain attribute named ``window``).

    For each output expression of the topmost streaming Aggregate, the
    key set collects its name when the expression (or the child it
    aliases) semantically equals one of the grouping expressions.
    Returns [] when no streaming Aggregate exists — an Aggregate on
    the static side of a stream-static join keys nothing, and the
    regex fallback would read its subquery's GROUP BY — and None only
    when the JVM walk fails (caller falls back to the regex
    heuristic)."""
    try:
        agg = next(
            (
                n
                for n in _streaming_nodes(df)
                if n.getClass().getSimpleName() == "Aggregate"
            ),
            None,
        )
        if agg is None:
            return []
        groups = [
            agg.groupingExpressions().apply(i)
            for i in range(agg.groupingExpressions().length())
        ]
        keys = []
        for i in range(agg.aggregateExpressions().length()):
            oe = agg.aggregateExpressions().apply(i)
            target = (
                oe.child() if oe.getClass().getSimpleName() == "Alias" else oe
            )
            if any(target.semanticEquals(g) for g in groups):
                keys.append(oe.name())
        return keys
    except Exception:
        return None


def _plan_has_aggregate(df: Any) -> bool:
    """True when the analyzed plan carries a streaming Aggregate. Used with
    keys == [] to detect the two shapes update-mode upserting cannot
    express: a GLOBAL aggregate (``SELECT count(*)`` — no GROUP BY),
    and a grouped aggregate whose grouping key is NOT in the output
    (``SELECT window(ts,…).start, n`` grouping on ``window``). In
    both, the keyless emitter path would append one stale +I per
    microbatch. The façade promotes such statements to complete mode:
    the keyless full-result diff emits -U/+U for the single-row global
    case and -D/+I row-multiset deltas otherwise — either way the
    materialized table stays correct (emitter.apply_full_snapshot).
    The cost is Spark emitting the full result per batch, bounded by
    result (not input) cardinality — the price of an upsert stream
    with no key."""
    return _plan_has_node(df, ("Aggregate",))


def _plan_has_sort(df: Any) -> bool:
    """True when the analyzed plan carries a streaming Sort (the
    continuous Top-N shape: ``GROUP BY … ORDER BY agg LIMIT k``).
    Spark only allows sorting a streaming aggregate in COMPLETE mode,
    and semantically that is also what Flink's Top-N operator emits —
    the full current ranking with retractions as rows enter/leave it —
    which is exactly the emitter's complete-mode snapshot diff."""
    return _plan_has_node(df, ("Sort",))


def _plan_has_node(df: Any, names: tuple[str, ...]) -> bool:
    try:
        return any(
            n.getClass().getSimpleName() in names for n in _streaming_nodes(df)
        )
    except Exception:
        return False


def _streaming_nodes(df: Any) -> Iterator[Any]:
    """The analyzed plan's streaming nodes, depth-first, parents before
    children. Static subtrees (the dimension side of a stream-static
    join) are pruned: they run once per batch as a plain batch query,
    so their Aggregates and Sorts say nothing about the keys or the
    output mode of the stream."""
    stack = [df._jdf.queryExecution().analyzed()]
    while stack:
        n = stack.pop()
        if not n.isStreaming():
            continue
        yield n
        children = n.children()
        for i in range(children.length()):
            stack.append(children.apply(i))


def infer_key_cols(sql: str, out_cols: list[str]) -> list[str]:
    """Group-by key inference for retract emission: plain identifiers
    in the GROUP BY clause that also appear in the output schema, plus
    event-time ``window(...)`` / ``session_window(...)`` group keys
    (Spark names their output column ``window``/``session_window``)."""
    m = re.search(
        r"\bgroup\s+by\s+(.*?)(?:\border\s+by\b|\bhaving\b|\blimit\b|$)",
        sql,
        re.IGNORECASE | re.DOTALL,
    )
    if not m:
        return []
    clause = m.group(1)
    keys = []
    for fn in ("session_window", "window"):
        if re.search(rf"\b{fn}\s*\(", clause, re.IGNORECASE) and fn in out_cols:
            keys.append(fn)
    # strip function-call fragments so their comma-split pieces don't
    # masquerade as identifiers
    clause = re.sub(r"\b(?:session_window|window)\s*\([^)]*\)", "", clause,
                    flags=re.IGNORECASE)
    for part in clause.split(","):
        ident = part.strip().strip("`").split(".")[-1].strip("`").strip()
        if re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", ident) and ident in out_cols:
            keys.append(ident)
    return keys


@dataclass
class Statement:
    name: str
    sql: str
    properties: dict
    phase: str = PHASE_PENDING
    columns: list[str] = field(default_factory=list)
    buffer: ResultBuffer = field(default_factory=ResultBuffer)
    emitter: ChangelogEmitter | None = None
    sink: Any = None  # IdempotentParquetSink when props carry sink.path
    error: str | None = None
    streaming: bool = False
    _query: Any = None  # StreamingQuery handle
    _thread: threading.Thread | None = None
    _tmp_ckpt: str | None = None  # tmpfs checkpoint dir, removed on stop

    def envelope(self) -> dict:
        """The reference's statement JSON shape (api/statements.py:78-88;
        schema read-back at dashboard.py:201)."""
        detail = self.error or ""
        if self.emitter is not None and self.emitter.truncated_batches:
            trunc = f"truncated_batches={self.emitter.truncated_batches}"
            detail = f"{detail} {trunc}".strip()
        if self.buffer.evicted_unread:
            evicted = f"evicted_unread_records={self.buffer.evicted_unread}"
            detail = f"{detail} {evicted}".strip()
        if self.emitter is not None:
            hw, warn = (
                self.emitter.snapshot_high_water,
                self.emitter.snapshot_key_warn,
            )
            if warn and hw > warn:
                detail = (
                    f"{detail} snapshot_keys_high_water={hw} "
                    f"(exceeds warn threshold {warn}: the changelog "
                    "snapshot and its checkpoint scale with result "
                    "cardinality — consider a coarser key or "
                    "SPARK_GRAFT_SNAPSHOT_KEY_CAP)"
                ).strip()
            if self.emitter.evicted_snapshot_keys:
                detail = (
                    f"{detail} evicted_snapshot_keys="
                    f"{self.emitter.evicted_snapshot_keys}"
                ).strip()
        return {
            "name": self.name,
            "spec": {
                "statement": self.sql,
                "properties": self.properties,
            },
            "status": {
                "phase": self.phase,
                "detail": detail,
                "traits": {
                    "schema": {"columns": [{"name": c} for c in self.columns]}
                },
            },
        }


class StatementsService:
    """Submit/poll/paginate over Spark executions (reference
    ``StatementsEndpoint``, minus HTTP)."""

    poll_s = 0.02  # local in-process polling (reference used 300 ms HTTP)

    def __init__(
        self,
        spark: SparkSession,
        defaults: dict | None = None,
        stream_shuffle_partitions: int = 1,
        name_prefix: str = "stmt-",
    ):
        self.spark = spark
        # reference: catalog/database defaults from config
        # (api/statements.py:27-31, config.template.ini:41-44)
        self.defaults = dict(defaults or {})
        self.name_prefix = name_prefix
        self._statements: dict[str, Statement] = {}
        # Serializes the duplicate-name check-then-act in create():
        # ThreadingHTTPServer dispatches concurrent POSTs, and two
        # same-name creates both passing the unlocked guard is exactly
        # the orphaned-StreamingQuery scenario the guard exists for.
        self._create_lock = threading.Lock()
        # Streaming microbatch latency is dominated by per-partition
        # state-store open/commit: 32 shuffle partitions ≈ 1-3 s per
        # batch, 4 ≈ 0.35 s, 2 ≈ 0.33 s, 1 ≈ 0.30 s (measured).
        # Dashboard-style continuous aggregates have tiny key
        # cardinality, so statements start their StreamingQuery under a
        # low partition count (the query's cloned session captures it
        # at start; batch SQL is untouched). At real scale, size this
        # to key cardinality × executors. Default 1: a single state
        # partition shaves another ~30-60 ms of per-batch store
        # open/commit vs 2 (r3 measurement) at no cost for the key
        # cardinalities a dashboard query produces.
        self.stream_shuffle_partitions = int(
            os.environ.get(
                "SPARK_GRAFT_STREAM_SHUFFLE_PARTITIONS",
                str(stream_shuffle_partitions),
            )
        )
        # Crash debris from earlier processes: tmpfs is shared memory,
        # so stale WAL/state must not accumulate across service runs.
        sweep_stale_ckpts()

    @classmethod
    def from_config(
        cls, spark: SparkSession, config_file: str, **kwargs: Any
    ) -> "StatementsService":
        """Construct from a config.ini (reference ``dashboard.py:57-63``
        + ``config.template.ini:41-44``): the ``[flink]`` section's
        ``sql.current-catalog`` / ``sql.current-database`` become
        default statement properties and ``name_prefix`` the default
        statement-name prefix. Unreadable/empty files raise (the
        reference prints and returns None; a library raises)."""
        import configparser

        config = configparser.ConfigParser()
        config.read(config_file)
        if not config.sections():
            raise ValueError(f"cannot read configuration file: {config_file}")
        flink = config["flink"] if config.has_section("flink") else {}
        defaults = {
            p: flink[p]
            for p in ("sql.current-catalog", "sql.current-database")
            if p in flink and flink[p]
        }
        prefix = flink.get("name_prefix") or "stmt-"
        return cls(spark, defaults=defaults, name_prefix=prefix, **kwargs)

    # -- create ------------------------------------------------------------
    def create(
        self,
        sql: str,
        properties: dict | None = None,
        prefix: str | None = None,
        key_cols: list[str] | None = None,
        checkpoint_dir: str | None = None,
        output_mode: str = "update",
        name: str | None = None,
    ) -> dict:
        """``output_mode``: 'update' (default — upsert diff, +I/-U/+U)
        or 'complete' (full-result diff with drop detection, required
        for streaming ORDER BY/LIMIT results where keys can LEAVE the
        result — emits -D, reference op 3, api/statements.py:167).

        ``name``: honor a caller-generated statement name — the
        reference client generates `prefix + random_id(12)` itself and
        POSTs it (api/statements.py:65-77), so the HTTP façade passes
        it through.

        Statement TEXT is arbitrary, exactly like the reference POST
        (api/statements.py:65-94 routes creates/inserts/DDL through
        the same endpoint): DDL and INSERT execute via ``spark.sql``
        (Spark runs commands eagerly at plan time — so those complete
        inside create(); their result set is empty and the phase
        reaches 'completed' the moment the worker thread drains it).
        Tested in tests/test_statements.py (CTAS, INSERT append, view
        lifecycle)."""
        props = {**self.defaults, **(properties or {})}
        if prefix is None:
            prefix = self.name_prefix
        stmt = Statement(
            name=name or random_name(prefix), sql=sql, properties=props
        )
        with self._create_lock:
            prior = self._statements.get(stmt.name)
            if prior is not None and prior.phase in (
                PHASE_PENDING,
                PHASE_RUNNING,
            ):
                # silently replacing a LIVE statement would orphan its
                # running StreamingQuery (unreachable via the API,
                # still consuming the source, tmpfs checkpoint leaked)
                # — fail the new create instead; terminal-phase names
                # may be reused.
                stmt.phase = PHASE_FAILED
                stmt.error = (
                    f"statement name {stmt.name!r} already exists and is "
                    f"{prior.phase}; stop it first or use a fresh name"
                )
                return stmt.envelope()
            self._statements[stmt.name] = stmt
        try:
            df = self.spark.sql(sql)
            stmt.columns = list(df.columns)
            stmt.streaming = df.isStreaming
        except Exception as ex:  # parse/analysis error
            stmt.phase = PHASE_FAILED
            stmt.error = str(ex)
            return stmt.envelope()

        if stmt.streaming:
            if key_cols is not None:
                keys = key_cols
            else:
                plan_keys = infer_key_cols_from_plan(df)
                keys = (
                    plan_keys
                    if plan_keys is not None
                    else infer_key_cols(sql, stmt.columns)
                )
            if (
                output_mode == "update"
                and not keys
                and _plan_has_aggregate(df)
            ):
                # Aggregate with no inferable upsert key (global, or
                # group key not projected): update-mode has nothing to
                # retract on — promote to complete-mode full-result
                # diffing (see _plan_has_aggregate).
                output_mode = "complete"
            if (
                output_mode == "update"
                and _plan_has_sort(df)
                and _plan_has_aggregate(df)
            ):
                # Continuous Top-N (GROUP BY … ORDER BY agg LIMIT k):
                # Spark rejects streaming sorts outside complete mode,
                # and Flink's Top-N semantics ARE the complete-mode
                # snapshot diff — rows entering the ranking emit +I,
                # rows falling out emit -D (see _plan_has_sort). Both
                # checks see streaming plan nodes only, so a batch-side
                # ORDER BY or GROUP BY (e.g. a dim subquery in a
                # stream-static join) never promotes a non-aggregate
                # statement into a complete mode Spark would reject.
                output_mode = "complete"
            keyed_cap = os.environ.get("SPARK_GRAFT_KEYED_BATCH_CAP")
            keyless_cap = os.environ.get("SPARK_GRAFT_KEYLESS_BATCH_CAP")
            snap_warn = os.environ.get("SPARK_GRAFT_SNAPSHOT_KEY_WARN")
            snap_cap = os.environ.get("SPARK_GRAFT_SNAPSHOT_KEY_CAP")
            plan_stateful = _stream_plan_stateful(df)
            stmt.emitter = ChangelogEmitter(
                stmt.columns,
                keys,
                stmt.buffer,
                checkpoint_dir,
                full_snapshot=(output_mode == "complete"),
                keyless_batch_cap=(
                    int(keyless_cap) if keyless_cap else 10_000
                ),
                keyed_batch_cap=(int(keyed_cap) if keyed_cap else None),
                plan_stateful=plan_stateful,
                snapshot_key_warn=(
                    int(snap_warn) if snap_warn else 100_000
                ),
                snapshot_key_cap=(int(snap_cap) if snap_cap else None),
            )
            # ``sink.path`` property routes the continuous query into
            # the exactly-once parquet sink (sinks.IdempotentParquetSink)
            # instead of the changelog emitter: continuous
            # materialization to files, the Flink "INSERT INTO
            # filesystem table" analogue. Results paging then serves
            # keep-alives only; consumers read the committed batches
            # with ``sink.read_committed``.
            sink_path = props.get("sink.path")
            if sink_path:
                # NOTE: no pre-emptive stateful rejection here —
                # _stream_plan_stateful is deliberately pessimistic
                # (stream-static joins, static-side aggregates, and any
                # introspection failure all flag True), which is safe
                # for the emitter's consume-path choice but would
                # hard-fail statements that materialize fine in append
                # mode. Spark's own start() is the authority; its
                # failure is mapped to a targeted error below.
                from streamlit_flink_demo_spark.sinks import (
                    IdempotentParquetSink,
                )

                stmt.sink = IdempotentParquetSink(sink_path)
                batch_target = stmt.sink
                sink_mode = "append"
            else:
                batch_target = stmt.emitter
                sink_mode = output_mode
            try:
                writer = (
                    df.writeStream.outputMode(sink_mode)
                    .foreachBatch(batch_target)
                    .queryName(stmt.name)
                )
                # Session confs the query's cloned session captures at
                # start(); the parent session is restored afterwards.
                start_conf = {
                    "spark.sql.shuffle.partitions": str(
                        self.stream_shuffle_partitions
                    ),
                    # Keep the state-store background snapshot out of
                    # dashboard-statement lifetimes: the default 60 s
                    # maintenance can land one multi-100-ms pause
                    # inside a short-lived continuous query's latency
                    # envelope. Recovery doesn't depend on snapshots
                    # (deltas replay).
                    "spark.sql.streaming.stateStore.maintenanceInterval": "600s",
                }
                if checkpoint_dir:
                    # Spark offsets/state checkpoint lives NEXT TO the
                    # emitter snapshot so restart recovery is
                    # consistent: Spark replays at most the last
                    # uncommitted batch, the emitter's batch-id dedup
                    # makes re-emission exactly-once.
                    writer = writer.option(
                        "checkpointLocation", os.path.join(checkpoint_dir, "spark")
                    )
                else:
                    # Ephemeral statement (no recovery contract): its
                    # WAL/offset/state checkpoint is a per-statement
                    # dir — on tmpfs when available, else Spark's own
                    # throwaway dir under java.io.tmpdir. Removed in
                    # stop(). Both kinds run on Spark's default
                    # FileContext checkpoint manager, over the
                    # session's fork-free local filesystem
                    # (session.py).
                    shm = "/dev/shm"
                    if os.path.isdir(shm) and os.access(shm, os.W_OK):
                        import tempfile

                        stmt._tmp_ckpt = tempfile.mkdtemp(
                            prefix=f"ckpt_{stmt.name}_", dir=shm
                        )
                        _LIVE_TMP_CKPTS.add(stmt._tmp_ckpt)
                        writer = writer.option(
                            "checkpointLocation", stmt._tmp_ckpt
                        )
                with _START_CONF_LOCK:
                    # None = not set on the parent: restored by unset,
                    # so a default stays a default.
                    prev = {k: self.spark.conf.get(k, None) for k in start_conf}
                    try:
                        for k, v in start_conf.items():
                            self.spark.conf.set(k, v)
                        # start() clones the session; the clone keeps
                        # start_conf for the query's lifetime
                        try:
                            stmt._query = writer.start()
                        except Exception as ex:
                            if (
                                sink_mode == "update"
                                and "only in Append output mode" in str(ex)
                            ):
                                # Stream-stream joins reject update mode
                                # (Spark's rule), and for a non-aggregate
                                # plan append is semantically identical
                                # for the emitter (no retractable state —
                                # every row is new). Spark's start() is
                                # the authority on which plans need this
                                # (same policy as the sink.path NOTE), so
                                # retry in append rather than guessing
                                # from plan introspection.
                                stmt._query = writer.outputMode(
                                    "append"
                                ).start()
                            else:
                                raise
                    finally:
                        for k, v in prev.items():
                            if v is None:
                                self.spark.conf.unset(k)
                            else:
                                self.spark.conf.set(k, v)
                stmt.phase = PHASE_RUNNING
            except Exception as ex:
                stmt.phase = PHASE_FAILED
                msg = str(ex)
                if sink_path and (
                    "Append output mode not supported" in msg
                    or "OUTPUT_MODE" in msg.upper()
                ):
                    # Targeted error for the append-only file sink: an
                    # aggregating/stateful statement needs update mode,
                    # which immutable parquet batches cannot express.
                    msg = (
                        "sink.path materialization is append-only, but "
                        "this statement's plan needs to retract or "
                        "update previously written rows (streaming "
                        "aggregation/dedup). Drop sink.path to stream "
                        "it through the changelog emitter (update "
                        "mode), or restrict the statement to a "
                        "projection/filter. Underlying error: " + msg
                    )
                stmt.error = msg
                _drop_tmp_ckpt(stmt)  # failed start leaves no tmpfs debris
        else:
            def run_batch() -> None:
                stmt.phase = PHASE_RUNNING
                try:
                    # Pin the physical plan under the same lock the
                    # streaming-create conf window holds: a batch plan
                    # materialized while a concurrent create has
                    # shuffle.partitions dropped to 1 would run every
                    # shuffle single-task (silent multi-x slowdown +
                    # one-task memory pressure). QueryExecution is
                    # cached on the DataFrame, so the action below
                    # reuses the plan captured here; the lock is held
                    # only for planning (ms), never for execution.
                    with _START_CONF_LOCK:
                        df._jdf.queryExecution().executedPlan()
                    # Stream partitions through the driver instead of
                    # collect(): driver memory is bounded by one
                    # partition (+ prefetch) regardless of result size,
                    # so `SELECT * FROM lineitem` through the façade
                    # cannot OOM the driver — the ring buffer is the
                    # only retained state, exactly like the reference's
                    # paginated fetch (api/statements.py:96-141).
                    chunk: list[dict] = []
                    for r in df.toLocalIterator(prefetchPartitions=True):
                        chunk.append({"row": [_json_safe(v) for v in r]})
                        if len(chunk) >= 1000:
                            stmt.buffer.append(chunk)
                            chunk = []
                    if chunk:
                        stmt.buffer.append(chunk)
                    stmt.phase = PHASE_COMPLETED
                except Exception as ex:
                    stmt.phase = PHASE_FAILED
                    stmt.error = str(ex)

            stmt._thread = threading.Thread(target=run_batch, daemon=True)
            stmt._thread.start()
        return stmt.envelope()

    # -- lifecycle -----------------------------------------------------------
    def _sync_phase(self, s: "Statement") -> None:
        """Fold a streaming query's RUNTIME fate into the statement
        phase: without this, a query that dies after start() (source
        gone, emitter raised) stays 'running' forever — clients poll
        keep-alives into a void and the failure is invisible."""
        if s.phase != PHASE_RUNNING or getattr(s, "_query", None) is None:
            return
        try:
            ex = s._query.exception()
        except Exception:
            return
        if ex is not None:
            s.phase = PHASE_FAILED
            s.error = str(ex)
            _drop_tmp_ckpt(s)
        elif not s._query.isActive:
            s.phase = PHASE_STOPPED

    def get(self, name: str) -> dict:
        if name not in self._statements:
            raise KeyError(f"statement {name!r} not found")  # ref :57-59 (404)
        s = self._statements[name]
        self._sync_phase(s)
        return s.envelope()

    def wait_for_status(
        self, stmt: dict | str, *statuses: str, timeout: float = 120.0
    ) -> dict | None:
        """Poll until the statement reaches one of ``statuses``.
        'failed' short-circuits to None unless explicitly awaited
        (reference api/statements.py:171-192)."""
        name = stmt if isinstance(stmt, str) else stmt["name"]
        deadline = time.monotonic() + timeout
        while time.monotonic() < deadline:
            env = self.get(name)
            phase = env["status"]["phase"]
            if phase in statuses:
                return env
            if phase == PHASE_FAILED:
                return None
            time.sleep(self.poll_s)
        raise TimeoutError(
            f"statement {name} did not reach {statuses} within {timeout}s"
        )

    def stop(self, name: str) -> None:
        s = self._statements[name]
        try:
            if s._query is not None:
                s._query.stop()
                # a query that already died re-raises its
                # StreamingQueryException here — record it as the
                # failure instead of crashing the stop call (the
                # reference DELETE must always succeed on a dead job).
                s._query.awaitTermination(30)
        except Exception as ex:
            s.phase = PHASE_FAILED
            s.error = str(ex)
        finally:
            _drop_tmp_ckpt(s)
        if s.phase == PHASE_RUNNING:
            s.phase = PHASE_STOPPED if s.streaming else s.phase

    def process_available(self, name: str) -> None:
        """Test/synchronous helper: drain all available source data
        through a streaming statement (microbatches run to quiescence)."""
        s = self._statements[name]
        if s._query is not None:
            s._query.processAllAvailable()

    # -- results ----------------------------------------------------------
    def next_results(
        self, name: str, cursor: int = 0, page_size: int = 100
    ) -> tuple[list[dict], int]:
        """Single-page fetch (reference ``next_results(url)``,
        api/statements.py:96-103): returns (records, next_cursor).
        An empty page with an unchanged cursor is the keep-alive
        signal; the cursor is stable under ring-buffer eviction."""
        s = self._statements[name]  # KeyError ≙ the reference's 404
        return s.buffer.read(cursor, page_size)

    def results(
        self,
        name: str,
        continuous_query: bool = False,
        page_size: int = 100,
        backoff: bool = False,
        backoff_cap_s: float = 0.3,
    ):
        """Generator of result records; None keep-alives while a
        continuous query has no new data (reference :105-169).

        ``backoff=True`` implements the reference's own TODO
        (api/statements.py:140-141 — "back off if nothing comes back"):
        consecutive empty pages sleep exponentially longer, capped at
        ``backoff_cap_s`` (the reference dashboard's fastest fetch
        cadence, dashboard.py:37), and any non-empty page resets the
        delay. Off by default — the caller may prefer to pace fetches
        itself, exactly like the reference client does."""
        offset = 0
        empty_pages = 0
        while True:
            s = self._statements[name]
            chunk, offset = s.buffer.read(offset, page_size)
            if chunk:
                empty_pages = 0
                yield from chunk
                continue
            self._sync_phase(s)
            # Terminal-phase returns must re-check the buffer: records
            # appended between the empty read above and the phase flip
            # (the emitter's last microbatch racing stop()/failure)
            # would otherwise be silently dropped. An outstanding tail
            # loops once more and is yielded by the next read.
            if s.phase == PHASE_FAILED and offset >= s.buffer.size():
                return
            if backoff:
                empty_pages += 1
                time.sleep(
                    min(self.poll_s * (2 ** min(empty_pages, 16)), backoff_cap_s)
                )
            if not s.streaming:
                if s.phase == PHASE_COMPLETED and offset >= s.buffer.size():
                    return
                if not backoff:
                    time.sleep(self.poll_s)
                continue
            if continuous_query:
                yield None  # keep-alive (reference :110-141)
            else:
                if (
                    s.phase in (PHASE_STOPPED,)
                    and offset >= s.buffer.size()
                ):
                    return
                yield None
