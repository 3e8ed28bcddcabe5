"""Spans around calls into the package's public functions.

The package itself is not instrumented: :class:`Tracer` replaces public
module-level functions with timing proxies for the duration of a traced
run, and :meth:`Tracer.uninstall` puts the originals back. Each proxy is
keyed by a layer name (``sources.read``, ``operators.dedup``,
``functions``, ``multimodal`` ...). Only the outermost call of a layer is
timed and counted, so an operator calling a sibling of its own module is
not counted twice; calls across layers nest as child spans.

A proxy pickles as the function it wraps, so a traced function that ends
up inside a Python UDF closure ships to the workers untraced.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import sys
import time
from collections import Counter

PKG = "data_integration_case_study_spark"
OPERATOR_MODULES = ("dedup", "similarity", "graph", "iterate", "cache",
                    "integrate", "join", "merge", "profile", "quality",
                    "sketches")
FUNCTION_MODULES = ("dates", "entity", "numeric", "phone", "text", "vector")


def layer_targets() -> dict[str, list[tuple[str, str]]]:
    """layer name -> [(module, function name)] of the public functions the
    traced run times."""
    targets = {
        "sources.read": [(f"{PKG}.sources.readers", "read_parquet_table"),
                         (f"{PKG}.sources.readers", "read_events")],
        "sources.write": [(f"{PKG}.sources.sinks", "write_with_quality_gate")],
    }

    def public(mod_name: str) -> list[tuple[str, str]]:
        mod = importlib.import_module(mod_name)
        return [(mod_name, n) for n, f in vars(mod).items()
                if not n.startswith("_") and inspect.isfunction(f)
                and f.__module__ == mod_name]

    for m in OPERATOR_MODULES:
        targets[f"operators.{m}"] = public(f"{PKG}.operators.{m}")
    targets["functions"] = [t for m in FUNCTION_MODULES
                            for t in public(f"{PKG}.functions.{m}")]
    targets["multimodal"] = public(f"{PKG}.multimodal.binary")
    return targets


class _Proxy:
    """Callable stand-in for one traced function."""

    def __init__(self, tracer: "Tracer", layer: str, module: str, fn):
        self._tracer, self._layer, self._module = tracer, layer, module
        functools.update_wrapper(self, fn)  # also sets __wrapped__

    def __call__(self, *args, **kwargs):
        return self._tracer.call(self._layer, self.__wrapped__, args, kwargs)

    def __reduce__(self):
        # ship the module's own function, resolved again in the worker
        return getattr, (sys.modules[self._module], self.__wrapped__.__name__)


class Tracer:
    """In-memory spans and per-layer counters for one traced run."""

    def __init__(self):
        self.spans: list[dict] = []
        self.calls: Counter = Counter()
        self.seconds: Counter = Counter()
        self.tables_read: list[str] = []
        self.query: str | None = None
        self._stack: list[dict] = []
        self._patched: list[tuple[object, str, object]] = []
        self._proxies: dict[int, tuple[object, _Proxy]] = {}

    # -- spans ---------------------------------------------------------
    def span(self, name: str):
        """Context manager recording a benchmark-side span (query, build,
        plan, sink)."""
        return _Span(self, name)

    def _open(self, name: str) -> dict:
        span = {"name": name, "query": self.query,
                "parent": self._stack[-1]["id"] if self._stack else None,
                "id": len(self.spans), "start": time.perf_counter(),
                "end": None}
        self.spans.append(span)
        self._stack.append(span)
        return span

    def _close(self, span: dict) -> float:
        span["end"] = time.perf_counter()
        self._stack.pop()
        return span["end"] - span["start"]

    def call(self, layer: str, fn, args, kwargs):
        if any(s["name"] == layer for s in self._stack):
            return fn(*args, **kwargs)
        if layer == "sources.read":
            table = "events"
            if fn.__name__ == "read_parquet_table":
                table = args[2] if len(args) > 2 else kwargs.get("name")
            self.tables_read.append(table)
        span = self._open(layer)
        try:
            return fn(*args, **kwargs)
        finally:
            self.seconds[layer] += self._close(span)
            self.calls[layer] += 1

    # -- installation ----------------------------------------------------
    def install(self) -> None:
        """Swap every target, in its defining module and in every package
        module that imported it by name, for a proxy."""
        if not self._proxies:
            for layer, targets in layer_targets().items():
                for mod_name, attr in targets:
                    fn = getattr(importlib.import_module(mod_name), attr)
                    self._proxies[id(fn)] = (fn, _Proxy(self, layer, mod_name,
                                                        fn))
        for mod in list(sys.modules.values()):
            name = getattr(mod, "__name__", None) or ""
            if not (name.startswith(PKG) or name == "__spark_entry__"):
                continue
            for key, val in list(vars(mod).items()):
                hit = self._proxies.get(id(val))
                if hit is not None and hit[0] is val:
                    setattr(mod, key, hit[1])
                    self._patched.append((mod, key, val))

    def uninstall(self) -> None:
        for mod, key, fn in reversed(self._patched):
            setattr(mod, key, fn)
        self._patched.clear()


class _Span:
    def __init__(self, tracer: Tracer, name: str):
        self.tracer, self.name, self.seconds = tracer, name, 0.0

    def __enter__(self):
        self._span = self.tracer._open(self.name)
        return self

    def __exit__(self, *exc):
        self.seconds = self.tracer._close(self._span)
        return False
