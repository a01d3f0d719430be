"""In-memory span tracer installed around the package's public layer
functions from outside the package.

One span per call: name, start, end, parent span, request id and thread.
Spans stay in memory until :meth:`Tracer.dump` writes them out at the end
of a run.  Wrappers are installed by :meth:`Tracer.wrap`, which replaces
the function on its defining module AND on every loaded ``akumuli_spark``
module that imported it by name (``api`` binds ``execute_query`` and
``parse_query`` at import time, so patching ``query.engine`` alone would
miss those calls).  :meth:`Tracer.uninstall` restores every original.
"""

from __future__ import annotations

import contextlib
import functools
import json
import sys
import threading
import time
from collections import defaultdict


_OFF = contextlib.nullcontext({})


class Tracer:
    """Starts disabled: the untraced phase goes through the same call
    sites at the cost of a shared no-op context manager per span."""

    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._patched: list[tuple[object, str, object]] = []
        #: free-form per-layer counters (prune stats, rollup hits, ...)
        self.counts: dict[str, float] = defaultdict(float)

    # -- request / span context ------------------------------------------
    @contextlib.contextmanager
    def request(self, rid: str):
        self._local.rid = rid
        self._local.stack = []
        try:
            yield
        finally:
            self._local.rid = None

    def span(self, name: str):
        return self._span(name) if self.enabled else _OFF

    @contextlib.contextmanager
    def _span(self, name: str):
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        rec = {
            "id": None, "name": name,
            "parent": stack[-1]["id"] if stack else None,
            "rid": getattr(self._local, "rid", None),
            "thread": threading.get_ident(),
            "start": time.perf_counter(), "end": None,
        }
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()

    def add(self, key: str, value: float = 1.0) -> None:
        if not self.enabled:
            return
        with self._lock:
            self.counts[key] += value

    def charge(self, key: str, value: float) -> None:
        """Add ``value`` to ``key`` of the innermost open span of this
        thread, so a share of a span (fetch inside formatting) can be
        told apart from the rest of it later."""
        stack = getattr(self._local, "stack", None)
        if self.enabled and stack:
            stack[-1][key] = stack[-1].get(key, 0.0) + value

    # -- wrapper installation --------------------------------------------
    def _replace_everywhere(self, orig, new) -> None:
        for mod in list(sys.modules.values()):
            mname = getattr(mod, "__name__", "") or ""
            if not mname.startswith("akumuli_spark"):
                continue
            for attr, val in list(vars(mod).items()):
                if val is orig:
                    setattr(mod, attr, new)
                    self._patched.append((mod, attr, orig))

    def wrap(self, owner, attr: str, name: str, after=None) -> None:
        """Span every call of ``owner.attr`` (a module function or a class
        method).  ``after(args, kwargs, result)`` runs inside the span,
        e.g. to read a stats dict the call filled."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with self.span(name):
                out = orig(*args, **kwargs)
                if after is not None:
                    after(args, kwargs, out)
                return out

        if isinstance(owner, type):
            self.patch(owner, attr, wrapper)
        else:
            self._replace_everywhere(orig, wrapper)

    def patch(self, owner, attr: str, new) -> None:
        """Replace ``owner.attr`` until :meth:`uninstall`."""
        self._patched.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    # -- reporting ---------------------------------------------------------
    def totals(self) -> tuple[dict[str, float], dict[str, float], dict[str, int]]:
        """(inclusive seconds, self seconds, call count) per span name.
        Self time = duration minus the union of the child spans' intervals
        (children of one span run on its thread, so they do not overlap)."""
        done = [s for s in self.spans if s["end"] is not None]
        child_time: dict[int, float] = defaultdict(float)
        for s in done:
            if s["parent"] is not None:
                child_time[s["parent"]] += s["end"] - s["start"]
        incl: dict[str, float] = defaultdict(float)
        self_t: dict[str, float] = defaultdict(float)
        calls: dict[str, int] = defaultdict(int)
        for s in done:
            d = s["end"] - s["start"]
            incl[s["name"]] += d
            self_t[s["name"]] += max(0.0, d - child_time[s["id"]])
            calls[s["name"]] += 1
        return incl, self_t, calls

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")
