"""In-memory spans around calls into the engine's layers.

The spans are recorded from the benchmark's side: wrappers replace each
public function of a layer module for the length of the traced passes.
A function a registry module imported by name (``from ... import
checkpoint_partitioned``) is bound in that module too, so every binding
of the function object is replaced, not only the defining one.
"""

from __future__ import annotations

import functools
import inspect
import sys
import time
from collections.abc import Callable, Iterator
from contextlib import contextmanager

#: Layer modules whose public functions get spans, by short layer name.
LAYER_MODULES = {
    "session": "projetos_etl_spark.session",
    "io": "projetos_etl_spark.sources.io",
    "medallion": "projetos_etl_spark.medallion",
    "streaming": "projetos_etl_spark.streaming.jobs",
    "operators.pagerank": "projetos_etl_spark.operators.pagerank",
    "operators.logreg": "projetos_etl_spark.operators.logreg",
    "operators.kmeans": "projetos_etl_spark.operators.kmeans",
    "operators.components": "projetos_etl_spark.operators.components",
    "operators.pca": "projetos_etl_spark.operators.pca",
    "operators.tablelog": "projetos_etl_spark.operators.tablelog",
}

PACKAGE = "projetos_etl_spark"

#: Attributes read right after a span ends, by span name: the medallion
#: pipeline reports its own layer-write seconds.
AFTER = {"medallion.run_pipeline": ("write_s", "medallion.last_write_seconds")}


class Recorder:
    """Spans kept in memory: name, layer, start, end (epoch seconds),
    parent span id and the trace id of the query call they belong to."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.trace_id: str | None = None
        self._undo: list[tuple[object, str, object]] = []
        self._originals: dict[str, Callable] = {}

    @contextmanager
    def span(self, name: str, layer: str, **attrs) -> Iterator[dict]:
        rec = {
            "id": len(self.spans),
            "name": name,
            "layer": layer,
            "parent": self._stack[-1] if self._stack else None,
            "trace": self.trace_id,
            "start": time.time(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def _wrap(self, fn: Callable, name: str, layer: str) -> Callable:
        after = AFTER.get(name)
        if inspect.isgeneratorfunction(getattr(fn, "__wrapped__", None)):
            # A @contextmanager: the span covers the with-block it guards
            # (a streaming query runs inside one), not building the manager.
            @functools.wraps(fn)
            def traced_block(*args, **kwargs):
                return _Block(fn(*args, **kwargs), self.span(name, layer))

            return traced_block

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name, layer) as rec:
                result = fn(*args, **kwargs)
                if after is not None:
                    rec[after[0]] = self._originals[after[1]]()
                return result

        return traced

    def install(self) -> int:
        """Replace every binding of every public layer function in the
        loaded package modules with a span wrapper; returns the number of
        bindings replaced."""
        targets: dict[int, Callable] = {}
        for layer, mod_name in LAYER_MODULES.items():
            mod = sys.modules.get(mod_name) or __import__(mod_name, fromlist=["_"])
            for attr, fn in vars(mod).items():
                if (
                    not attr.startswith("_")
                    and inspect.isfunction(fn)
                    and fn.__module__ == mod_name
                ):
                    self._originals[f"{layer}.{attr}"] = fn
                    targets[id(fn)] = self._wrap(fn, f"{layer}.{attr}", layer)
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not (mod_name == PACKAGE or mod_name.startswith(PACKAGE + ".")):
                continue
            for attr, val in list(vars(mod).items()):
                wrapper = targets.get(id(val))
                if wrapper is not None:
                    self._undo.append((mod, attr, val))
                    setattr(mod, attr, wrapper)
        return len(self._undo)

    def uninstall(self) -> None:
        for mod, attr, val in reversed(self._undo):
            setattr(mod, attr, val)
        self._undo.clear()
        self._originals.clear()


class _Block:
    """A context manager whose with-block is recorded as a span."""

    def __init__(self, inner, span) -> None:
        self._inner = inner
        self._span = span

    def __enter__(self):
        self._span.__enter__()
        try:
            return self._inner.__enter__()
        except BaseException:
            self._span.__exit__(*sys.exc_info())
            raise

    def __exit__(self, *exc):
        try:
            return self._inner.__exit__(*exc)
        finally:
            self._span.__exit__(None, None, None)
