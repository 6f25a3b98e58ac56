"""Retract-stream changelog algebra — the client-side SDK.

The reference's one genuine in-repo data-processing operator is the
client-side materialization of a Flink changelog (reference
``lib/flink.py:21-131``): result rows arrive tagged with op codes

    0  +I  INSERT
    1  -U  UPDATE_BEFORE   (retraction of the previous value)
    2  +U  UPDATE_AFTER
    3  -D  DELETE

(op meanings documented at reference ``api/statements.py:160-169``),
and a consumer incrementally folds them into the current table state.
This module reimplements those semantics for our engine:

- ``MaterializedTable`` — incremental view maintenance over a record
  stream (reference ``lib/flink.py:21-45`` ``Table.update``). Each
  record costs O(1) whatever the table's size: a retraction looks its
  row up in a hash index instead of scanning. ``rows`` keeps the
  reference's list order: appends go to the end and a retraction
  removes the first equal copy.
- ``Changelog`` — validation + cursor-based consumption + full replay
  (reference ``lib/flink.py:53-131``).

Wire shape matches the reference exactly so its dashboard could point
at our engine: ``{"op": <int>, "row": [...]}`` for changelog results,
``{"row": [...]}`` for append-only results, ``None`` as keep-alive
(reference ``api/statements.py:146-169``).
"""

from __future__ import annotations

import logging
from collections import deque
from collections.abc import Iterable, Iterator
from typing import Any

log = logging.getLogger(__name__)

# Op codes (Flink changelog kinds; reference api/statements.py:160-169)
OP_INSERT = 0  # +I
OP_UPDATE_BEFORE = 1  # -U
OP_UPDATE_AFTER = 2  # +U
OP_DELETE = 3  # -D

OP_LABELS = {
    OP_INSERT: "+I",
    OP_UPDATE_BEFORE: "-U",
    OP_UPDATE_AFTER: "+U",
    OP_DELETE: "-D",
}


class ChangelogError(ValueError):
    """Raised on malformed changelog records (bad op / wrong arity)."""


# Rows are indexed by a hashable stand-in for their value that is equal
# exactly when the rows are equal as lists. JSON arrays freeze to tuples
# and objects to tagged frozensets of their items, so array, struct and
# map columns index too. In-process records carry Spark's own values:
# Rows (tuples) are tagged as well, so that (1,) stays unequal to [1] as
# under list equality, and bytearrays freeze to the bytes they equal.
_TUPLE = object()
_DICT = object()


def _freeze(v: Any) -> Any:
    if isinstance(v, list):
        return tuple(map(_freeze, v))
    if isinstance(v, tuple):
        return (_TUPLE, *map(_freeze, v))
    if isinstance(v, dict):
        return (_DICT, frozenset((k, _freeze(x)) for k, x in v.items()))
    if isinstance(v, bytearray):
        return bytes(v)
    return v


class MaterializedTable:
    """Incrementally-maintained snapshot of a changelog stream.

    Semantics follow the reference (``lib/flink.py:27-45``): additive
    ops append the row; retractive ops remove one occurrence *by
    value* (duplicates allowed — a retraction removes the first equal
    copy); retracting an absent row is a warning, not an error; records
    with no op (append-only results) are appended.

    Cost: O(1) per record, independent of the table's size. Rows live
    in an insertion-ordered dict keyed by a sequence number, and an
    index maps each row's frozen value to the sequence numbers holding
    that value, oldest first, so a retraction finds the first equal copy
    without scanning. ``rows`` is the reference's list, in its order.
    Cells must be hashable or JSON-shaped (lists, dicts).
    """

    def __init__(self, columns: list[str], rows: list[list[Any]] | None = None):
        self.columns = list(columns)
        self._rows: dict[int, list[Any]] = {}
        # frozen row -> its one sequence number, or a FIFO of them
        # while the table holds several equal copies (a deque for every
        # row would cost about ten times the row itself)
        self._where: dict[tuple, int | deque[int]] = {}
        self._seq = 0
        for r in rows or ():
            self._append(list(r))

    @property
    def rows(self) -> list[list[Any]]:
        return list(self._rows.values())

    def _append(self, row: list[Any]) -> None:
        seq = self._seq
        self._seq = seq + 1
        self._rows[seq] = row
        key = tuple(map(_freeze, row))
        seqs = self._where.get(key)
        if seqs is None:
            self._where[key] = seq
        elif type(seqs) is int:
            self._where[key] = deque((seqs, seq))
        else:
            seqs.append(seq)

    def apply(self, records: Iterable[dict]) -> "MaterializedTable":
        for rec in records:
            if rec is None:  # keep-alive
                continue
            op = rec.get("op", None)
            row = rec["row"]
            if op in (OP_INSERT, OP_UPDATE_AFTER, None):
                self._append(list(row))
            elif op in (OP_UPDATE_BEFORE, OP_DELETE):
                key = tuple(map(_freeze, row))
                seqs = self._where.get(key)
                if seqs is None:
                    log.warning(
                        "retraction %s for absent row %r ignored",
                        OP_LABELS.get(op, op),
                        row,
                    )
                    continue
                if type(seqs) is int:
                    del self._where[key]
                    first = seqs
                else:
                    first = seqs.popleft()
                    if len(seqs) == 1:
                        self._where[key] = seqs[0]
                del self._rows[first]
            else:
                raise ChangelogError(f"unknown op code {op!r} in {rec!r}")
        return self

    def to_pandas(self):
        import pandas as pd

        return pd.DataFrame(self.rows, columns=self.columns)

    def __len__(self) -> int:
        return len(self._rows)

    def __eq__(self, other) -> bool:
        return (
            isinstance(other, MaterializedTable)
            and self.columns == other.columns
            and sorted(map(str, self.rows)) == sorted(map(str, other.rows))
        )


class Changelog:
    """Validating cursor over a stream of changelog records.

    ``consume(limit)`` pulls up to ``limit`` records from the source
    generator (the generator itself is the cursor — no offset
    bookkeeping, like the reference notes at ``lib/flink.py:104-108``),
    skips ``None`` keep-alives, validates each record against the
    schema, and appends to ``history``. ``collapse()`` replays the
    full history into a fresh MaterializedTable — the invariant

        collapse(history) == fold(apply, history)

    is property-tested (tests/test_changelog.py).
    """

    def __init__(self, columns: list[str], source: Iterator[dict | None]):
        self.columns = list(columns)
        self._source = source
        self.history: list[dict] = []
        self.ops_received: dict[str, int] = {}

    def validate(self, rec: dict) -> dict:
        if not isinstance(rec, dict) or "row" not in rec:
            raise ChangelogError(f"malformed record {rec!r}")
        op = rec.get("op", None)
        if op is not None and op not in OP_LABELS:
            raise ChangelogError(f"unknown op code {op!r}")
        row = rec["row"]
        if len(row) != len(self.columns):
            raise ChangelogError(
                f"row arity {len(row)} != schema arity {len(self.columns)}: {row!r}"
            )
        return rec

    def consume(self, limit: int = 1) -> list[dict]:
        """Pull ≤ limit validated records; stop early on exhaustion or
        a keep-alive (so continuous queries return control quickly)."""
        new: list[dict] = []
        for _ in range(limit):
            try:
                rec = next(self._source)
            except StopIteration:
                break
            if rec is None:  # keep-alive: yield control to the caller
                break
            rec = self.validate(rec)
            label = OP_LABELS.get(rec.get("op", None), "+A")
            self.ops_received[label] = self.ops_received.get(label, 0) + 1
            new.append(rec)
        self.history.extend(new)
        return new

    def collapse(self) -> MaterializedTable:
        return MaterializedTable(self.columns).apply(self.history)
