"""Spans around calls into the program's layers, recorded from outside it.

A :class:`Tracer` wraps the public functions of the layer modules (and the
``MarasaLog`` methods) and, while installed, records one span per call:
``(name, start, end, parent, request)``. Callers bind some of these
functions by name (``from marasa_spark.session import
ensure_session_configs``), so installing patches every binding of the
original function in every loaded ``marasa_spark`` module, not only the
defining one. Spans outside a request are not kept.

Self time of a span is its duration minus its children's; the run reports
it summed per layer. The wrappers go in only for the requests a traced run
traces, so untraced requests run the program's own functions.
"""

from __future__ import annotations

import functools
import inspect
import json
import sys
import time
from collections import defaultdict

# layer name -> module whose public functions are wrapped
FUNCTION_LAYERS = {
    "session.ensure_configs": ("marasa_spark.session", ("ensure_session_configs",)),
    "catalog.load_table": ("marasa_spark.catalog", ("load_table",)),
    "ops.dedup": ("marasa_spark.ops.dedup", None),
    "ops.similarity": ("marasa_spark.ops.similarity", None),
    "ops.text": ("marasa_spark.ops.text", None),
    "ops.asof": ("marasa_spark.ops.asof", None),
}
LOG_METHODS = (
    "put", "append", "delete", "get", "lookup", "latest",
    "asof", "changes", "history", "compact", "max_seqno",
)


class Tracer:
    def __init__(self) -> None:
        # (name, start, end, parent index, request id)
        self.spans: list[list] = []
        self._stack: list[int] = []
        self._request: int | None = None
        self._patches: list[tuple[object, str, object, object]] | None = None
        self.installed = False

    # -- spans -------------------------------------------------------------

    def open(self, name: str) -> int | None:
        if self._request is None:
            return None
        parent = self._stack[-1] if self._stack else None
        self.spans.append([name, time.perf_counter(), None, parent, self._request])
        self._stack.append(len(self.spans) - 1)
        return self._stack[-1]

    def close(self, idx: int | None) -> None:
        if idx is None:
            return
        self.spans[idx][2] = time.perf_counter()
        self._stack.pop()

    def span(self, name: str):
        tracer = self

        class _Span:
            def __enter__(self):
                self.idx = tracer.open(name)

            def __exit__(self, *exc):
                tracer.close(self.idx)

        return _Span()

    def begin_request(self, request_id: int) -> None:
        self._request = request_id
        self._stack.clear()

    def end_request(self) -> None:
        self._request = None

    def _wrap(self, name: str, fn):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            idx = tracer.open(name)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer.close(idx)

        return traced

    # -- installing the wrappers -------------------------------------------

    def _plan_patches(self) -> list[tuple[object, str, object, object]]:
        """(owner, attribute, original, wrapper) for every binding to patch."""
        from marasa_spark.log import MarasaLog

        originals: dict[int, tuple[object, object]] = {}
        for layer, (modname, names) in FUNCTION_LAYERS.items():
            mod = sys.modules[modname]
            for fname, fn in vars(mod).items():
                if not inspect.isfunction(fn) or fn.__module__ != modname:
                    continue
                if (names is None and fname.startswith("_")) or (names and fname not in names):
                    continue
                span = layer if names else f"{layer}.{fname}"
                originals[id(fn)] = (fn, self._wrap(span, fn))
        patches = []
        for modname, mod in list(sys.modules.items()):
            if mod is None or not (modname == "marasa_spark" or modname.startswith("marasa_spark.")):
                continue
            for attr, val in list(vars(mod).items()):
                hit = originals.get(id(val))
                if hit is not None and hit[0] is val:
                    patches.append((mod, attr, val, hit[1]))
        for meth in LOG_METHODS:
            fn = MarasaLog.__dict__[meth]
            patches.append((MarasaLog, meth, fn, self._wrap(f"log.{meth}", fn)))
        return patches

    def install(self) -> None:
        if self._patches is None:
            self._patches = self._plan_patches()
        for owner, attr, _orig, wrapper in self._patches:
            setattr(owner, attr, wrapper)
        self.installed = True

    def uninstall(self) -> None:
        for owner, attr, orig, _wrapper in self._patches or ():
            setattr(owner, attr, orig)
        self.installed = False

    # -- results -----------------------------------------------------------

    def self_times(self) -> list[float]:
        """Self time (s) of each span: duration minus its children's."""
        out = [s[2] - s[1] for s in self.spans]
        for s in self.spans:
            if s[3] is not None:
                out[s[3]] -= s[2] - s[1]
        return out

    def by_layer(self) -> tuple[dict[str, float], dict[str, int]]:
        """Summed self seconds and call counts per layer. Span names below
        ``ops.<module>`` fold into their module's layer."""
        secs: dict[str, float] = defaultdict(float)
        calls: dict[str, int] = defaultdict(int)
        for s, st in zip(self.spans, self.self_times()):
            name = s[0]
            layer = ".".join(name.split(".")[:2]) if name.startswith("ops.") else name
            secs[layer] += st
            calls[layer] += 1
        return secs, calls

    def top_level_seconds(self) -> dict[int, float]:
        """Per request: the time its top-level spans cover."""
        out: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s[3] is None:
                out[s[4]] += s[2] - s[1]
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for i, (name, t0, t1, parent, req) in enumerate(self.spans):
                f.write(
                    json.dumps(
                        {"id": i, "name": name, "start": t0, "end": t1, "parent": parent, "request": req}
                    )
                    + "\n"
                )
