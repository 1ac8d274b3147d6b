"""In-memory spans around the engine's public functions.

The tracer patches functions from the outside: it replaces every
reference to a target function in the loaded package modules (a module
that did ``from x import f`` holds its own reference, so patching only
``x.f`` would miss it) and restores them all on ``uninstall``.  Spans
stay in memory; ``dump`` writes them out once, at exit.

Functions that only build lazy Spark plans (the ``mapping`` and
``operators`` ones) get spans that cover plan building alone; the jobs
that execute those plans run later, inside the enclosing
``Warehouse.write`` span.
"""

from __future__ import annotations

import functools
import json
import sys
import threading
import time
from collections import defaultdict
from dataclasses import asdict, dataclass

PACKAGE = "rabbit_in_a_blender_spark"


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    pass_id: int
    thread: str


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self.counts: dict[tuple[int, str], int] = defaultdict(int)
        self.own_s: dict[int, float] = defaultdict(float)
        self.pass_id = 0
        self._local = threading.local()
        self._lock = threading.Lock()
        self._next = 0
        self._patches: list[tuple[object, str, object]] = []

    # -- recording ---------------------------------------------------------
    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def span(self, name: str):
        tracer = self

        class _Ctx:
            def __enter__(self):
                t0 = time.perf_counter()
                stack = tracer._stack()
                with tracer._lock:
                    self.id = tracer._next
                    tracer._next += 1
                self.parent = stack[-1] if stack else None
                stack.append(self.id)
                self.start = time.time()
                tracer._charge(t0)
                return self

            def __exit__(self, *exc):
                end = time.time()
                t0 = time.perf_counter()
                tracer._stack().pop()
                with tracer._lock:
                    tracer.spans.append(Span(
                        self.id, name, self.start, end, self.parent,
                        tracer.pass_id, threading.current_thread().name,
                    ))
                tracer._charge(t0)
                return False

        return _Ctx()

    def count(self, name: str) -> None:
        t0 = time.perf_counter()
        with self._lock:
            self.counts[(self.pass_id, name)] += 1
        self._charge(t0)

    def _charge(self, t0: float) -> None:
        """Book the tracer's own time since ``t0`` to the current pass."""
        dt = time.perf_counter() - t0
        with self._lock:
            self.own_s[self.pass_id] += dt

    # -- patching ----------------------------------------------------------
    def _replace_everywhere(self, original, replacement) -> None:
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not mod_name.startswith(PACKAGE):
                continue
            for attr, value in list(vars(mod).items()):
                if value is original:
                    self._patches.append((mod, attr, original))
                    setattr(mod, attr, replacement)

    def wrap_function(self, module, attr: str, name: str) -> None:
        original = getattr(module, attr)

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            with self.span(name):
                return original(*args, **kwargs)

        self._replace_everywhere(original, wrapper)

    def wrap_method(self, cls, attr: str, name: str, count_only: bool = False) -> None:
        original = cls.__dict__[attr]

        if count_only:
            @functools.wraps(original)
            def wrapper(*args, **kwargs):
                self.count(name)
                return original(*args, **kwargs)
        else:
            @functools.wraps(original)
            def wrapper(*args, **kwargs):
                with self.span(name):
                    return original(*args, **kwargs)

        self._patches.append((cls, attr, original))
        setattr(cls, attr, wrapper)

    def uninstall(self) -> None:
        for owner, attr, original in reversed(self._patches):
            setattr(owner, attr, original)
        self._patches.clear()

    # -- analysis ----------------------------------------------------------
    def pass_spans(self, pass_id: int) -> list[Span]:
        return [s for s in self.spans if s.pass_id == pass_id]

    def pass_count(self, pass_id: int, name: str) -> int:
        return self.counts.get((pass_id, name), 0)

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({
                **extra,
                "spans": [asdict(s) for s in self.spans],
                "counts": [
                    {"pass_id": p, "name": n, "count": c}
                    for (p, n), c in sorted(self.counts.items())
                ],
            }, f)


def union_length(intervals) -> float:
    """Length of the union of ``(start, end)`` intervals."""
    total_len, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total_len += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total_len += cur_e - cur_s
    return total_len


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of it its children cover."""
    children: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append(s)
    return {
        s.id: (s.end - s.start) - union_length(
            (max(c.start, s.start), min(c.end, s.end))
            for c in children.get(s.id, []) if min(c.end, s.end) > max(c.start, s.start)
        )
        for s in spans
    }


def total(spans: list[Span], prefix: str) -> tuple[float, int]:
    """Summed duration and count of the spans whose name starts with ``prefix``."""
    hit = [s for s in spans if s.name.startswith(prefix)]
    return sum(s.end - s.start for s in hit), len(hit)
