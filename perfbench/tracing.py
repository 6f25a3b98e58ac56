"""In-memory spans for the benchmark's traced runs.

A span is a dict with ``name``, ``start``, ``end`` (``time.time()``
seconds, one clock for both benchmark processes), ``parent`` (index of
the enclosing span in the same thread, or None), ``trace`` (the file or
page the work belongs to, inherited from the parent when not given) and
any counts recorded at the boundary. Spans are only kept in memory and
written out when the run ends.

``Tracer.wrap`` replaces a public method of one of the program's
classes with a timing wrapper; the program itself is not modified.
A disabled tracer wraps nothing and records nothing.
"""

from __future__ import annotations

import functools
import threading
import time
from collections.abc import Callable
from typing import Any


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[int]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    def span(self, name: str, trace: Any = None, **attrs: Any) -> "_Span":
        return _Span(self, name, trace, attrs)

    def wrap(
        self,
        owner: type,
        attr: str,
        name: str,
        before: Callable[..., dict] | None = None,
        after: Callable[[Any], dict] | None = None,
    ) -> None:
        """Time every call of ``owner.attr`` as span ``name``.
        ``before(*args, **kwargs)`` and ``after(result)`` return counts
        to attach; ``before`` may set ``trace``."""
        if not self.enabled:
            return
        original = getattr(owner, attr)
        tracer = self

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            attrs = before(*args, **kwargs) if before else {}
            with tracer.span(name, **attrs) as s:
                result = original(*args, **kwargs)
                if after:
                    s.record.update(after(result))
                return result

        setattr(owner, attr, wrapper)


class _Span:
    def __init__(self, tracer: Tracer, name: str, trace: Any, attrs: dict):
        self.tracer = tracer
        self.record = {"name": name, "trace": trace, **attrs}

    def __enter__(self) -> "_Span":
        if not self.tracer.enabled:
            return self
        stack = self.tracer._stack()
        parent = stack[-1] if stack else None
        if parent is not None and self.record["trace"] is None:
            self.record["trace"] = self.tracer.spans[parent]["trace"]
        self.record["parent"] = parent
        with self.tracer._lock:
            self.tracer.spans.append(self.record)
            self.index = len(self.tracer.spans) - 1
        stack.append(self.index)
        self.record["start"] = time.time()
        return self

    def __exit__(self, *exc) -> None:
        if not self.tracer.enabled:
            return
        self.record["end"] = time.time()
        self.tracer._stack().pop()
