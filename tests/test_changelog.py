"""Changelog algebra unit + property tests (SURVEY.md §5.1).

Covers the semantics the reference implements in lib/flink.py:21-131:
op validation, arity checks, remove-by-value with warning on absent,
keep-alive skipping, the collapse ≡ incremental-fold invariant, and
the indexed table against the reference's list fold, order included.
"""

from __future__ import annotations

import logging

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from streamlit_flink_demo_spark.changelog import (
    Changelog,
    ChangelogError,
    MaterializedTable,
    OP_DELETE,
    OP_INSERT,
    OP_UPDATE_AFTER,
    OP_UPDATE_BEFORE,
)

COLS = ["eyeColor", "n"]


def rec(op, *row):
    return {"op": op, "row": list(row)}


def test_insert_update_sequence():
    t = MaterializedTable(COLS)
    t.apply([rec(OP_INSERT, "brown", 1)])
    t.apply([rec(OP_UPDATE_BEFORE, "brown", 1), rec(OP_UPDATE_AFTER, "brown", 2)])
    assert t.rows == [["brown", 2]]


def test_delete_removes_single_copy():
    t = MaterializedTable(COLS)
    t.apply([rec(OP_INSERT, "blue", 1), rec(OP_INSERT, "blue", 1)])
    t.apply([rec(OP_DELETE, "blue", 1)])
    assert t.rows == [["blue", 1]]


def test_retract_absent_warns_not_raises(caplog):
    t = MaterializedTable(COLS)
    with caplog.at_level(logging.WARNING):
        t.apply([rec(OP_UPDATE_BEFORE, "green", 9)])
    assert len(t) == 0
    assert any("absent" in r.message for r in caplog.records)


def test_no_op_record_appends():
    t = MaterializedTable(COLS)
    t.apply([{"row": ["brown", 7]}])
    assert t.rows == [["brown", 7]]


def test_unknown_op_raises():
    t = MaterializedTable(COLS)
    with pytest.raises(ChangelogError):
        t.apply([rec(7, "brown", 1)])


def test_changelog_validates_arity():
    cl = Changelog(COLS, iter([{"op": OP_INSERT, "row": ["brown"]}]))
    with pytest.raises(ChangelogError):
        cl.consume(1)


def test_changelog_keepalive_stops_consume():
    src = iter([rec(OP_INSERT, "a", 1), None, rec(OP_INSERT, "b", 2)])
    cl = Changelog(COLS, src)
    assert len(cl.consume(10)) == 1  # stops at keep-alive
    assert len(cl.consume(10)) == 1  # resumes after
    assert cl.ops_received == {"+I": 2}


def test_cursor_carries_across_consumes():
    src = iter([rec(OP_INSERT, "a", i) for i in range(5)])
    cl = Changelog(COLS, src)
    assert len(cl.consume(2)) == 2
    assert len(cl.consume(2)) == 2
    assert len(cl.consume(2)) == 1
    assert len(cl.history) == 5


# -- property: collapse == incremental fold ---------------------------------

_ops = st.sampled_from([OP_INSERT, OP_UPDATE_BEFORE, OP_UPDATE_AFTER, OP_DELETE])
_rows = st.tuples(st.sampled_from(["a", "b", "c"]), st.integers(0, 3))


@settings(max_examples=200, deadline=None)
@given(st.lists(st.tuples(_ops, _rows), max_size=40))
def test_collapse_equals_incremental_fold(history):
    records = [rec(op, *row) for op, row in history]
    cl = Changelog(COLS, iter(records))
    cl.consume(len(records) + 1)
    collapsed = cl.collapse()

    incremental = MaterializedTable(COLS)
    for r in records:
        incremental.apply([r])
    assert collapsed == incremental


def test_retract_then_reapply_is_identity():
    """-U immediately followed by +U of the same row preserves state."""
    t1 = MaterializedTable(COLS, [["a", 1], ["b", 2]])
    t2 = MaterializedTable(COLS, [["a", 1], ["b", 2]])
    t2.apply([rec(OP_UPDATE_BEFORE, "a", 1), rec(OP_UPDATE_AFTER, "a", 1)])
    assert t1 == t2


# -- differential: the indexed table against the reference's list fold ------


class ListFold:
    """The reference's fold (``lib/flink.py:27-45``), kept as the oracle:
    a retraction scans the list and removes the first equal row."""

    def __init__(self, rows=None):
        self.rows = [list(r) for r in (rows or [])]
        self.absent = 0

    def apply(self, records):
        for r in records:
            op = r.get("op", None)
            if op in (OP_INSERT, OP_UPDATE_AFTER, None):
                self.rows.append(list(r["row"]))
            elif op in (OP_UPDATE_BEFORE, OP_DELETE):
                try:
                    self.rows.remove(list(r["row"]))
                except ValueError:
                    self.absent += 1
            else:
                raise ChangelogError(op)
        return self


NAN = float("nan")  # one object, as json.loads shares its NaN constant

def _nested(c):
    return (
        st.lists(c, max_size=2)
        | st.dictionaries(st.sampled_from(["k", "v"]), c, max_size=2)
        | st.lists(c, max_size=2).map(tuple)
    )


# 1, 1.0 and True are equal (and hash equal) and must stay so; nested
# lists and dicts are the shapes the HTTP API sends for array, struct
# and map columns; tuples stand in for the Spark Rows of in-process
# records, which list equality keeps apart from lists.
_cells = st.recursive(
    st.sampled_from([1, 1.0, True, 0, False, None, "a", "", NAN]),
    _nested,
    max_leaves=4,
)


@st.composite
def _histories(draw):
    pool = draw(st.lists(st.lists(_cells, min_size=2, max_size=2), min_size=1,
                         max_size=6))
    seed = draw(st.lists(st.sampled_from(pool), max_size=6))
    ops = st.sampled_from(
        [OP_INSERT, OP_UPDATE_BEFORE, OP_UPDATE_AFTER, OP_DELETE, None])
    steps = draw(st.lists(st.tuples(ops, st.sampled_from(pool)), max_size=40))
    records = [{"row": row} if op is None else {"op": op, "row": row}
               for op, row in steps]
    return seed, records


class _Absent(logging.Handler):
    def __init__(self):
        super().__init__(logging.WARNING)
        self.count = 0

    def emit(self, record):
        self.count += "absent" in record.getMessage()


@settings(max_examples=400, deadline=None)
@given(_histories())
def test_rows_equal_list_fold_in_order(case):
    seed, records = case
    oracle = ListFold(seed).apply(records)
    handler = _Absent()
    logger = logging.getLogger("streamlit_flink_demo_spark.changelog")
    logger.addHandler(handler)
    try:
        table = MaterializedTable(COLS, seed).apply(records)
    finally:
        logger.removeHandler(handler)
    # repr tells 1, 1.0 and True apart, which == does not
    assert repr(table.rows) == repr(oracle.rows)
    assert table.rows == oracle.rows
    assert len(table) == len(oracle.rows)
    assert handler.count == oracle.absent

    # the same history one record at a time, and through Changelog
    stepwise = MaterializedTable(COLS, seed)
    for r in records:
        stepwise.apply([r])
    assert repr(stepwise.rows) == repr(oracle.rows)
    cl = Changelog(COLS, iter(records))
    cl.consume(len(records) + 1)
    assert repr(cl.collapse().rows) == repr(ListFold().apply(records).rows)


def test_cells_equal_exactly_as_under_list_equality():
    """Non-JSON cells: a tuple (a Spark Row) is not a list and a
    frozenset of items is not a dict, but bytes equal a bytearray."""
    seed = [[(1,), 0], [frozenset({("k", 1)}), 0], [bytearray(b"x"), 0]]
    records = [rec(OP_DELETE, [1], 0), rec(OP_DELETE, {"k": 1}, 0),
               rec(OP_DELETE, b"x", 0)]
    oracle = ListFold(seed).apply(records)
    assert oracle.rows == [[(1,), 0], [frozenset({("k", 1)}), 0]]
    assert MaterializedTable(COLS, seed).apply(records).rows == oracle.rows


def test_retraction_cost_does_not_grow_with_table_size():
    """10 000 rows, 1 000 -U/+U pairs: a scan would compare each
    retraction with thousands of rows; the index compares a few."""
    eqs = [0]

    class Cell:
        def __init__(self, v):
            self.v = v

        def __hash__(self):
            return hash(self.v)

        def __eq__(self, other):
            eqs[0] += 1
            return isinstance(other, Cell) and self.v == other.v

    keys = 10_000
    table = MaterializedTable(COLS, [[Cell(k), 0] for k in range(keys)])
    eqs[0] = 0
    retractions = 1_000
    for i in range(retractions):
        k = (i * 7919) % keys  # 1 000 distinct keys
        table.apply([rec(OP_UPDATE_BEFORE, Cell(k), 0),
                     rec(OP_UPDATE_AFTER, Cell(k), 1)])
    assert len(table) == keys
    assert sum(r[1] for r in table.rows) == retractions
    assert eqs[0] <= 10 * retractions
