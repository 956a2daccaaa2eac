"""Harness-side spans: wrap public engine functions at run time.

No engine file changes. A `Recorder` replaces module attributes with
timing wrappers while it is installed and restores them on uninstall;
each call becomes a span (name, start, end, parent, thread) kept in
memory. Functions imported by name into another module are patched
there too, so the wrapper sees the call the other module actually makes.
Spans carry wall-clock times (``t0``/``t1``) so Spark event-log stages
can be joined to the span that launched them.
"""

from __future__ import annotations

import functools
import importlib
import threading
import time
from contextlib import contextmanager

# (span name, module holding the definition, attribute, modules that
# imported it by name and call it from there)
TARGETS = [
    ("encode.plan_partitions", "skar_spark.engine.encode",
     "plan_partitions", []),
    ("encode.save_salt_map", "skar_spark.engine.encode", "save_salt_map",
     []),
    ("encode.append_lineage_rows", "skar_spark.engine.encode",
     "append_lineage_rows", []),
    ("encode.read_lineage", "skar_spark.engine.encode", "read_lineage",
     []),
    ("decode.prune_partitions", "skar_spark.engine.decode",
     "prune_partitions", []),
    ("decode.prune_selections", "skar_spark.engine.decode",
     "prune_selections", ["skar_spark.query"]),
    ("decode.paged_decode_loop", "skar_spark.engine.decode",
     "paged_decode_loop", []),
    ("query.run_query", "skar_spark.query", "run_query",
     ["skar_spark.server"]),
]


class Recorder:
    def __init__(self):
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._saved: list[tuple[object, str, object]] = []

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, **attrs):
        stack = self._stack()
        rec = {"name": name, "parent": stack[-1] if stack else None,
               "thread": threading.get_ident(),
               "start": time.perf_counter(), "t0": time.time(),
               "end": None, "t1": None, **attrs}
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec["id"])
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.perf_counter()
            rec["t1"] = time.time()

    def _wrap(self, name: str, fn):
        rec = self

        @functools.wraps(fn)
        def wrapper(*a, **kw):
            with rec.span(name) as sp:
                out = fn(*a, **kw)
                if isinstance(out, (list, dict, set)):
                    sp["n_out"] = len(out)
                return out
        return wrapper

    def install(self) -> None:
        if self._saved:
            return
        for name, mod_name, attr, importers in TARGETS:
            mod = importlib.import_module(mod_name)
            w = self._wrap(name, getattr(mod, attr))
            for m in [mod] + [importlib.import_module(i) for i in importers]:
                self._saved.append((m, attr, getattr(m, attr)))
                setattr(m, attr, w)

    def uninstall(self) -> None:
        for m, attr, orig in reversed(self._saved):
            setattr(m, attr, orig)
        self._saved.clear()

    # --- queries over the recorded spans ----------------------------------

    def named(self, name: str, within: dict | None = None) -> list[dict]:
        """Finished spans called `name`, optionally only those inside the
        wall-clock interval of span `within` (any thread)."""
        out = []
        for s in self.spans:
            if s["name"] != name or s["end"] is None:
                continue
            if within is not None and not (
                    within["t0"] <= s["t0"] and s["t1"] <= within["t1"]):
                continue
            out.append(s)
        return out


def dur(s: dict) -> float:
    return s["end"] - s["start"]
