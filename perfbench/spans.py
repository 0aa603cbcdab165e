"""Spans recorded from outside the program.

``Tracer.wrap`` swaps a public function or method of the package for a
wrapper that records a span per call — name, start, end, parent span, run
id — and restores the original on ``close``. Spans stay in memory until
``dump`` writes them out. The program itself is not changed: the wrappers
sit on module and class attributes, which the package looks up at call
time.

Parents are tracked per thread; a span opened on a thread with no open span
(a dim reload on the pipeline's thread pool) takes the current operation's
span as parent.
"""

from __future__ import annotations

import functools
import json
import threading
import time
from contextlib import contextmanager
from pathlib import Path

from stats import self_times


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._restore: list[tuple[object, str, object]] = []
        self._op_id: int | None = None

    # -------------------------------------------------------------- spans

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def begin(self, name: str) -> dict:
        stack = self._stack()
        parent = stack[-1] if stack else self._op_id
        with self._lock:
            span = {
                "id": len(self.spans), "parent": parent, "name": name,
                "run_id": self.run_id, "start": time.time(), "end": None,
                "attrs": {},
            }
            self.spans.append(span)
        stack.append(span["id"])
        return span

    def end(self, span: dict, **attrs) -> None:
        span["end"] = time.time()
        span["attrs"].update(attrs)
        self._stack().pop()

    @contextmanager
    def op(self, name: str):
        """One timed user operation: a root span, and the parent of spans
        opened on threads that have none open."""
        span = self.begin(name)
        self._op_id = span["id"]
        try:
            yield span
        finally:
            self.end(span)
            self._op_id = None

    # ------------------------------------------------------------ wrapping

    def wrap(self, owner, attr: str, name: str, on_result=None) -> None:
        """Record a span named ``name`` around every call of
        ``owner.attr``; ``on_result(args, kwargs, result)`` may return
        attributes to store on the span."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            span = self.begin(name)
            try:
                result = orig(*args, **kwargs)
            except BaseException:
                self.end(span, error=True)
                raise
            self.end(span, **(on_result(args, kwargs, result) if on_result else {}))
            return result

        self._restore.append((owner, attr, orig))
        setattr(owner, attr, traced)

    def close(self) -> None:
        for owner, attr, orig in reversed(self._restore):
            setattr(owner, attr, orig)
        self._restore.clear()

    # ------------------------------------------------------------- results

    def finished(self) -> list[dict]:
        return [s for s in self.spans if s["end"] is not None]

    def dump(self, path: Path) -> None:
        spans = self.finished()
        selfs = self_times(spans)
        for s in spans:
            s["self_s"] = selfs[s["id"]]
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps(spans, default=str))
