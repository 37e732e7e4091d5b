"""Spans and counts recorded around the public calls into each layer.

The program is not edited: :class:`Tracer` replaces a module attribute
(or class attribute) with a wrapper that records a span, and rebinds
every other module of the package that imported the same function by
name.  Spans are kept in memory and summarised at the end of the run.

A span is ``(name, start, end, parent index, op id)``.  Parents come
from a per-thread stack; a worker thread with an empty stack (the
three threads ``convert()`` starts) hangs its spans under the span the
tracer was told is the current root, so overlapping work in threads
still nests under the call that started it.
"""

from __future__ import annotations

import contextlib
import functools
import sys
import threading
import time
from collections import defaultdict

PACKAGE = "healthkit_to_sqlite_spark"


class Tracer:
    def __init__(self):
        self.spans: list[list] = []      # [name, start, end, parent, op]
        self.counts: dict[tuple, float] = defaultdict(float)  # (op, name)
        self.op = None
        self.root: int | None = None     # parent for threads with no stack
        self._local = threading.local()
        self._lock = threading.Lock()
        self._undo: list[tuple[object, str, object]] = []

    # -- spans ---------------------------------------------------------
    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def begin(self, name: str) -> int:
        stack = self._stack()
        parent = stack[-1] if stack else self.root
        with self._lock:
            self.spans.append([name, time.perf_counter(), None, parent, self.op])
            idx = len(self.spans) - 1
        stack.append(idx)
        return idx

    def end(self, idx: int) -> None:
        self.spans[idx][2] = time.perf_counter()
        self._stack().pop()

    @contextlib.contextmanager
    def span(self, name: str):
        idx = self.begin(name)
        try:
            yield
        finally:
            self.end(idx)

    def count(self, name: str, n: float = 1) -> None:
        with self._lock:
            self.counts[(self.op, name)] += n

    def totals(self, keep=lambda op: True) -> dict[str, float]:
        """Counts summed over the ops ``keep`` accepts."""
        out: dict[str, float] = defaultdict(float)
        for (op, name), n in list(self.counts.items()):
            if keep(op):
                out[name] += n
        return dict(out)

    # -- wrapping ------------------------------------------------------
    def _set(self, owner, attr: str, value) -> None:
        self._undo.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, value)

    def wrap(self, owner, attr: str, name: str, after=None, root=False):
        """Wrap ``owner.attr`` (module or class) in a span called ``name``.

        ``after(result, args, kwargs)`` may record counts; ``root`` makes
        the span the parent of spans opened by threads it starts."""
        orig = owner.__dict__[attr]
        func = orig.__func__ if isinstance(orig, (staticmethod, classmethod)) else orig
        tracer = self

        @functools.wraps(func)
        def wrapper(*args, **kwargs):
            idx = tracer.begin(name)
            saved = tracer.root
            if root:
                tracer.root = idx
            try:
                result = func(*args, **kwargs)
            finally:
                tracer.root = saved
                tracer.end(idx)
            if after is not None:
                after(result, args, kwargs)
            return result

        self._set(owner, attr, wrapper)
        # modules that did `from x import attr` hold their own binding
        for mod_name, mod in list(sys.modules.items()):
            if (mod_name.startswith(PACKAGE) and mod is not owner
                    and mod.__dict__.get(attr) is orig):
                self._set(mod, attr, wrapper)
        return wrapper

    def unwrap(self) -> None:
        while self._undo:
            owner, attr, value = self._undo.pop()
            setattr(owner, attr, value)

    # -- summary -------------------------------------------------------
    def summary(self, keep=lambda op: True) -> dict[str, float]:
        """Per span name, over the spans of the ops ``keep`` accepts:
        ``<name>_s`` busy time (union of its spans' intervals) and
        ``<name>_self_s`` self time (union of each span's interval minus
        the intervals of its child spans)."""
        now = time.perf_counter()
        spans = [(n, s, e if e is not None else now, p) if keep(op) else None
                 for n, s, e, p, op in self.spans]
        kids: dict[int, list[tuple[float, float]]] = defaultdict(list)
        for span in spans:
            if span is not None and span[3] is not None:
                kids[span[3]].append(span[1:3])
        busy: dict[str, list] = defaultdict(list)
        own: dict[str, list] = defaultdict(list)
        for i, span in enumerate(spans):
            if span is None:
                continue
            n, s, e, _ = span
            busy[n].append((s, e))
            own[n].extend(_subtract((s, e), kids.get(i, [])))
        out = {}
        for n in busy:
            out[f"{n}_s"] = _union_len(busy[n])
            out[f"{n}_self_s"] = _union_len(own[n])
        return out


def _merge(iv: list[tuple[float, float]]) -> list[tuple[float, float]]:
    out: list[list[float]] = []
    for s, e in sorted(iv):
        if out and s <= out[-1][1]:
            out[-1][1] = max(out[-1][1], e)
        else:
            out.append([s, e])
    return [(s, e) for s, e in out]


def _union_len(iv) -> float:
    return sum(e - s for s, e in _merge(iv))


def _subtract(span: tuple[float, float], holes) -> list[tuple[float, float]]:
    s, e = span
    out, cur = [], s
    for hs, he in _merge([(max(s, a), min(e, b)) for a, b in holes if b > s and a < e]):
        if hs > cur:
            out.append((cur, hs))
        cur = max(cur, he)
    if cur < e:
        out.append((cur, e))
    return out
