"""Span tracer that wraps the engine's public entry points from outside.

A span records name, start, end, parent span and query id.  Spans stay
in memory and are written out once, when the run ends.  A wrapped name
must be replaced everywhere a caller resolves it: on the class that
defines it, in the defining module, and in every module that did
``from x import y`` -- a patch of the defining module alone leaves the
re-exported copies running unwrapped and silently records nothing.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import sys
import threading
import time
import types
from typing import Callable, Optional


# Modules whose globals may hold a wrapped name: the engine package and
# the module that declares the queries.
CALLER_MODULES = ("mack_spark", "__spark_entry__")


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.enabled = False
        self.query: Optional[str] = None
        # Parent for spans opened on threads with no open span of their
        # own (callbacks Spark runs on its own threads).
        self.phase_span: Optional[int] = None
        self._local = threading.local()
        self._lock = threading.Lock()
        self._undo: list[Callable[[], None]] = []

    def _stack(self) -> list[int]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    def open(self, name: str) -> int:
        stack = self._stack()
        parent = stack[-1] if stack else self.phase_span
        with self._lock:
            idx = len(self.spans)
            self.spans.append({
                "name": name, "start": time.perf_counter(), "end": None,
                "parent": parent, "query": self.query,
            })
        stack.append(idx)
        return idx

    def close(self, idx: int) -> None:
        self.spans[idx]["end"] = time.perf_counter()
        stack = self._stack()
        if stack and stack[-1] == idx:
            stack.pop()

    @contextlib.contextmanager
    def phase(self, name: str):
        """Trace while a benchmark phase span is open.  Engine spans opened
        on any thread during the phase nest under it."""
        self.enabled = True
        self.phase_span = self.open(name)
        try:
            yield
        finally:
            self.close(self.phase_span)
            self.phase_span = None
            self.enabled = False

    def wrap(self, name: str, fn: Callable) -> Callable:
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            idx = self.open(name)
            try:
                return fn(*args, **kwargs)
            finally:
                self.close(idx)

        traced.__perfbench_wrapped__ = fn
        return traced

    # -- installing wrappers ---------------------------------------------

    def wrap_function(self, name: str, module: types.ModuleType, attr: str) -> None:
        """Wrap ``module.attr`` in the defining module and in every engine
        module (or the query entry module) that holds the same object."""
        original = getattr(module, attr)
        replacement = self.wrap(name, original)
        for mod_name, mod in list(sys.modules.items()):
            if not mod_name.startswith(CALLER_MODULES):
                continue
            for key, value in list(vars(mod).items()):
                if value is original:
                    setattr(mod, key, replacement)
                    self._undo.append(
                        lambda m=mod, k=key, v=original: setattr(m, k, v))

    def wrap_method(self, name: str, cls: type, attr: str) -> None:
        raw = cls.__dict__[attr]
        if isinstance(raw, classmethod):
            replacement = classmethod(self.wrap(name, raw.__func__))
        elif isinstance(raw, staticmethod):
            replacement = staticmethod(self.wrap(name, raw.__func__))
        else:
            replacement = self.wrap(name, raw)
        setattr(cls, attr, replacement)
        self._undo.append(lambda: setattr(cls, attr, raw))

    def wrap_module(self, prefix: str, module: types.ModuleType) -> None:
        """Wrap every public function ``module`` defines, as ``prefix.<name>``."""
        for attr, value in list(vars(module).items()):
            if (
                isinstance(value, types.FunctionType)
                and not attr.startswith("_")
                and value.__module__ == module.__name__
            ):
                self.wrap_function(f"{prefix}.{attr}", module, attr)

    def uninstall(self) -> None:
        for undo in reversed(self._undo):
            undo()
        self._undo.clear()


DELTA_LOG_OPS = (
    "create", "append", "overwrite", "merge", "delete_where", "update_where",
    "optimize", "checkpoint", "copy_into", "table_changes", "snapshot", "to_df",
)
# The mack-parity operator modules and the LLM-data operator modules;
# every public function each defines is wrapped, named by its module.
MACK_MODULES = ("scd", "dedup", "appends", "rollup", "merge_exec")
OPERATOR_MODULES = ("dedup_text", "similarity", "pq", "profile", "bpe", "textstats")


def install_engine_wrappers(tracer: Tracer) -> None:
    """Wrap the layer boundaries the benchmark reports on."""
    import mack_spark.sources as sources
    from mack_spark.sources import delta_log, log_store
    from mack_spark.sql_ddl import DeltaSqlSession
    from mack_spark.sql_dml import DeltaSqlDml

    tracer.wrap_function("sources.load_table", sources, "load_table")
    for op in DELTA_LOG_OPS:
        tracer.wrap_method(f"delta_log.{op}", delta_log.DeltaProtocolTable, op)
    for cls in vars(log_store).values():
        if isinstance(cls, type) and "put_if_absent" in cls.__dict__:
            tracer.wrap_method("log_store.put_if_absent", cls, "put_if_absent")
    for name in MACK_MODULES:
        tracer.wrap_module(name, importlib.import_module(f"mack_spark.{name}"))
    tracer.wrap_method("sql_ddl.sql", DeltaSqlSession, "sql")
    tracer.wrap_method("sql_dml.execute", DeltaSqlDml, "execute")
    for name in OPERATOR_MODULES:
        tracer.wrap_module(f"operators.{name}",
                           importlib.import_module(f"mack_spark.operators.{name}"))
