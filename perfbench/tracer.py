"""Spans recorded at the benchmark's own calls into the program.

A span has a name, a start and an end (seconds since the tracer was
made), the index of its parent span and the id of the op it belongs to.
Spans stay in memory and are written as JSON lines at the end.

``wrap`` replaces a module attribute (a public function of a layer) with
a timing wrapper, including every ``from x import f`` alias of it in the
program's modules, so that calls made from inside a query are seen too.
Nothing is wrapped unless the traced run asks for it."""

from __future__ import annotations

import functools
import json
import sys
import threading
import time
from contextlib import contextmanager


class Tracer:
    """Span recorder; the open-span stack and the current op id are per
    thread, so ops running in parallel threads keep their own spans."""

    def __init__(self) -> None:
        self.t0 = time.perf_counter()
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []

    @property
    def op_id(self) -> int | None:
        return getattr(self._local, "op_id", None)

    @op_id.setter
    def op_id(self, value: int | None) -> None:
        self._local.op_id = value

    @property
    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "name": name,
            "start": time.perf_counter() - self.t0,
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op_id,
        }
        rec.update(attrs)
        with self._lock:
            self.spans.append(rec)
            idx = len(self.spans) - 1
        self._stack.append(idx)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter() - self.t0

    def total(self, name: str, op_ids=None) -> tuple[float, int]:
        """Summed duration and count of spans called ``name``; nested
        calls of the same name count once (only the outermost)."""
        tot, n = 0.0, 0
        for s in self.spans:
            if s["name"] != name or s["end"] is None:
                continue
            if op_ids is not None and s["op"] not in op_ids:
                continue
            p = s["parent"]
            nested = False
            while p is not None:
                if self.spans[p]["name"] == name:
                    nested = True
                    break
                p = self.spans[p]["parent"]
            if not nested:
                tot += s["end"] - s["start"]
                n += 1
        return tot, n

    def wrap(self, module, attr: str, name: str, on_result=None) -> bool:
        """Time every call of ``module.attr`` as a span ``name``. Also
        rebinds the same function object where other ``hielo_spark``
        modules imported it by name. Returns False when absent."""
        orig = getattr(module, attr, None)
        if orig is None or not callable(orig):
            return False
        tracer = self

        @functools.wraps(orig)
        def traced(*a, **kw):
            with tracer.span(name) as rec:
                out = orig(*a, **kw)
                if on_result is not None:
                    on_result(rec, a, kw, out)
                return out

        for mod in list(sys.modules.values()):
            mname = getattr(mod, "__name__", "") or ""
            if not mname.startswith("hielo_spark"):
                continue
            for k, v in list(vars(mod).items()):
                if v is orig:
                    setattr(mod, k, traced)
                    self._patched.append((mod, k, orig))
        return True

    def unwrap_all(self) -> None:
        for mod, k, orig in reversed(self._patched):
            setattr(mod, k, orig)
        self._patched.clear()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")
