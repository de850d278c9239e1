"""In-memory span tracer for the benchmark's traced runs.

A span records a name, a layer, its start and end, its parent span and the
run id.  Spans are kept in memory and written out once, when the run ends.
Each thread keeps its own span stack; a thread whose stack is empty (a
table thread of ``TransferEngine.run``) parents its spans to the innermost
open span of the main thread.

Layer self time is computed by sweeping the timeline: each instant is
charged to the innermost open spans, and when several threads have an
innermost span open at once the instant is split equally between them.
The self times of all layers therefore add up to the wall time the spans
cover, also while table threads run concurrently.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
import uuid
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass
from typing import Any, Callable


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    layer: str
    start: float
    end: float = 0.0
    value: Any = None  # the wrapped call's return value, when asked for


class Tracer:
    def __init__(self) -> None:
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main_stack: list[int] = []
        self._main_thread = threading.main_thread()
        self._patches: list[tuple[Any, str, Any]] = []

    def _stack(self) -> list[int]:
        if threading.current_thread() is self._main_thread:
            return self._main_stack
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    def _parent(self, stack: list[int]) -> int | None:
        if stack:
            return stack[-1]
        return self._main_stack[-1] if self._main_stack else None

    @contextmanager
    def span(self, name: str, layer: str):
        stack = self._stack()
        with self._lock:
            sp = Span(next(self._ids), self._parent(stack), name, layer, time.perf_counter())
            self.spans.append(sp)
        stack.append(sp.id)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            stack.pop()

    def wrap(self, fn: Callable, name: str, layer: str, keep_value: bool = False) -> Callable:
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name, layer) as sp:
                out = fn(*args, **kwargs)
                if keep_value:
                    sp.value = out
                return out

        traced.__wrapped_by_tracer__ = fn
        return traced

    def patch(self, owner: Any, attr: str, layer: str, keep_value: bool = False) -> None:
        """Replace ``owner.attr`` (a class or module attribute) with a
        traced wrapper until :meth:`uninstall`.  A module function is also
        replaced in every ``dbtransfer_spark`` module that imported it by
        name."""
        import sys

        original = owner.__dict__[attr]
        name = f"{getattr(owner, '__name__', owner)}.{attr}"
        traced = self.wrap(original, name, layer, keep_value)
        targets = [owner]
        if not isinstance(owner, type):
            targets += [
                m for mname, m in list(sys.modules.items())
                if mname.startswith("dbtransfer_spark") and m is not owner
                and getattr(m, attr, None) is original
            ]
        for t in targets:
            self._patches.append((t, attr, original))
            setattr(t, attr, traced)

    def uninstall(self) -> None:
        for owner, attr, original in reversed(self._patches):
            setattr(owner, attr, original)
        self._patches.clear()

    # -- analysis -----------------------------------------------------------

    def within(self, t0: float, t1: float) -> list[Span]:
        return [s for s in self.spans if s.start >= t0 and s.end <= t1 and s.end > 0]

    @staticmethod
    def self_times(spans: list[Span]) -> dict[str, float]:
        """Per-layer self time over ``spans`` (see the module docstring)."""
        events = sorted(
            [(s.start, 1, s) for s in spans] + [(s.end, -1, s) for s in spans],
            key=lambda e: (e[0], -e[1]),
        )
        by_id = {s.id: s for s in spans}
        open_children: dict[int, int] = defaultdict(int)
        active: dict[int, Span] = {}
        out: dict[str, float] = defaultdict(float)
        prev = None
        for t, kind, s in events:
            if prev is not None and t > prev and active:
                leaves = [a for a in active.values() if open_children[a.id] == 0]
                share = (t - prev) / len(leaves)
                for leaf in leaves:
                    out[leaf.layer] += share
            prev = t
            parent = s.parent if s.parent in by_id else None
            if kind == 1:
                active[s.id] = s
                if parent is not None:
                    open_children[parent] += 1
            else:
                active.pop(s.id, None)
                if parent is not None:
                    open_children[parent] -= 1
        return dict(out)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps({
                    "run": self.run_id, "id": s.id, "parent": s.parent,
                    "name": s.name, "layer": s.layer, "start": s.start, "end": s.end,
                }) + "\n")
