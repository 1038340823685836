"""In-memory span tracing of calls into the package's public functions.

The benchmark patches each traced function *where it is looked up*:
every loaded ``bigdata_lab4_spark`` module whose global of that name is
the original function gets the wrapper, so a call through
``serving.insert_prediction`` is traced as well as one through
``engine.insert_prediction``. Methods are patched on their class.

A span records name, start, end, parent span and request id. Spans of
one thread nest through a thread-local stack; a span opened with no
parent starts a new request id. Spans stay in memory until
:meth:`Tracer.dump`.
"""

from __future__ import annotations

import functools
import itertools
import json
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

PACKAGE = "bigdata_lab4_spark"


class Tracer:
    def __init__(self) -> None:
        #: Wrappers record spans only while this is true; the benchmark
        #: toggles it to time the same work with and without spans.
        self.enabled = True
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._undo: list = []

    @contextmanager
    def span(self, name: str, always: bool = False):
        if not (self.enabled or always):
            yield None
            return
        stack = self._local.__dict__.setdefault("stack", [])
        sid = next(self._ids)
        parent = stack[-1] if stack else None
        rid = parent["rid"] if parent else sid
        rec = {"id": sid, "name": name, "parent": parent["id"] if parent else None,
               "rid": rid, "start": time.perf_counter(), "end": None}
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(rec)

    def wrap(self, name: str, fn, always: bool = False):
        """``fn`` recording a span per call; ``always`` ignores
        :attr:`enabled`, for rare calls that must be sampled."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not (self.enabled or always):
                return fn(*args, **kwargs)
            with self.span(name, always):
                return fn(*args, **kwargs)

        return traced

    # -- patching --------------------------------------------------------

    def patch_function(self, module, attr: str, name: str, always: bool = False) -> None:
        """Trace ``module.attr`` in every package module that holds it."""
        orig = getattr(module, attr)
        wrapper = self.wrap(name, orig, always)
        for mod in list(sys.modules.values()):
            if mod is None or not getattr(mod, "__name__", "").startswith(PACKAGE):
                continue
            if mod.__dict__.get(attr) is orig:
                setattr(mod, attr, wrapper)
                self._undo.append((mod, attr, orig))

    def patch_method(self, cls, attr: str, name: str, always: bool = False) -> None:
        orig = cls.__dict__[attr]
        setattr(cls, attr, self.wrap(name, orig, always))
        self._undo.append((cls, attr, orig))

    def unpatch(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)

    # -- results ---------------------------------------------------------

    def finished(self) -> list[dict]:
        with self._lock:
            return [s for s in self.spans if s["end"] is not None]

    def by_name(self) -> dict[str, dict]:
        """Per span name: call count, total time and self time (s). A
        span's children ran in its thread, inside it and one after
        another, so its self time is its duration minus theirs."""
        spans = self.finished()
        kids_s: dict[int, float] = defaultdict(float)
        for s in spans:
            if s["parent"] is not None:
                kids_s[s["parent"]] += s["end"] - s["start"]
        out: dict[str, dict] = {}
        for s in spans:
            agg = out.setdefault(s["name"], {"calls": 0, "total_s": 0.0, "self_s": 0.0, "self": []})
            own = (s["end"] - s["start"]) - kids_s[s["id"]]
            agg["calls"] += 1
            agg["total_s"] += s["end"] - s["start"]
            agg["self_s"] += own
            agg["self"].append(own)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.finished(), f)
