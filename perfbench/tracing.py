"""In-memory span tracer that wraps the package's public functions from
outside.

Each span records ``(span_id, name, start, end, parent_id, op_id)``.
Parents are tracked per thread, so concurrent clients keep separate
stacks. Spans stay in memory until the run ends and are written out
once. Wrapping replaces a function object everywhere the package binds
it, including module-level ``from ... import`` copies, so every call into
a layer is recorded no matter which module made it.
"""

from __future__ import annotations

import functools
import inspect
import itertools
import json
import os
import sys
import threading
import time
from contextlib import contextmanager

PACKAGE = "drill_calcite_spark"

# span name -> (module, attribute); "Class.method" patches the class
TARGETS = {
    "session.get_spark": ("drill_calcite_spark.session", "get_spark"),
    "catalog.register_tables": ("drill_calcite_spark.catalog",
                                "register_tables"),
    "catalog.read_table": ("drill_calcite_spark.catalog", "read_table"),
    "sql.rewrite": ("drill_calcite_spark.sql", "rewrite"),
    "sql.calcite_sql": ("drill_calcite_spark.sql", "calcite_sql"),
    "plans.try_substitute": ("drill_calcite_spark.plans.sql_substitution",
                             "try_substitute"),
    "plans.mv_create": ("drill_calcite_spark.plans.materialized",
                        "MaterializedViews.create"),
    **{f"modify.{fn}": ("drill_calcite_spark.sources.modify", fn)
       for fn in ("create_table", "read_versioned", "insert_into",
                  "update_where", "delete_where", "merge_into", "compact",
                  "version_diff")},
}

# every public function defined in these modules is an operators span
OPERATOR_MODULES = ("drill_calcite_spark.operators.dedup",
                    "drill_calcite_spark.operators.similarity",
                    "drill_calcite_spark.operators.graph")


class Tracer:
    def __init__(self) -> None:
        self.spans: list[tuple] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        # span_id -> useful outcome, for the calls that can waste work
        self.marks: dict[int, bool] = {}
        # read_table: key -> DataFrame last returned for it
        self._returned: dict = {}

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def set_op(self, op_id: "int | None") -> None:
        self._local.op = op_id

    def op(self) -> "int | None":
        return getattr(self._local, "op", None)

    @contextmanager
    def span(self, name: str):
        stack = self._stack()
        sid = next(self._ids)
        parent = stack[-1] if stack else None
        stack.append(sid)
        start = time.perf_counter()
        try:
            yield sid
        finally:
            end = time.perf_counter()
            stack.pop()
            self.spans.append((sid, name, start, end, parent, self.op()))

    def wrap(self, name: str, fn):
        observe = {"catalog.read_table": self._observe_read_table,
                   "plans.try_substitute": self._observe_substitute}.get(name)
        sig = inspect.signature(fn)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name) as sid:
                out = fn(*args, **kwargs)
            if observe is not None:
                self.marks[sid] = observe(sig.bind(*args, **kwargs).arguments,
                                          out)
            return out

        return traced

    def _observe_read_table(self, arguments: dict, out) -> bool:
        """A hit returns the object an earlier call returned for the key."""
        key = (id(arguments["spark"]), os.path.abspath(arguments["sf_dir"]),
               arguments["name"])
        with self._lock:
            hit = self._returned.get(key) is out
            self._returned[key] = out
        return hit

    @staticmethod
    def _observe_substitute(arguments: dict, out) -> bool:
        return out is not None

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"fields": ["span_id", "name", "start", "end",
                                  "parent_id", "op_id"],
                       "spans": self.spans}, fh)


def _package_modules():
    return [m for name, m in list(sys.modules.items())
            if m is not None and (name == PACKAGE
                                  or name.startswith(PACKAGE + "."))]


def _rebind(old, new) -> int:
    """Replace every module-level binding of ``old`` in the package."""
    n = 0
    for mod in _package_modules():
        for attr, val in list(vars(mod).items()):
            if val is old:
                setattr(mod, attr, new)
                n += 1
    return n


def install(tracer: Tracer) -> list[str]:
    """Wrap every target wherever the (already imported) package binds
    it. Returns the span names installed."""
    import importlib

    installed = []
    for name, (modname, attr) in TARGETS.items():
        mod = importlib.import_module(modname)
        if "." in attr:
            cls_name, meth = attr.split(".")
            cls = getattr(mod, cls_name)
            setattr(cls, meth, tracer.wrap(name, getattr(cls, meth)))
        else:
            fn = getattr(mod, attr)
            if _rebind(fn, tracer.wrap(name, fn)) == 0:
                raise RuntimeError(f"{modname}.{attr} is bound nowhere")
        installed.append(name)
    for modname in OPERATOR_MODULES:
        mod = importlib.import_module(modname)
        short = modname.rsplit(".", 1)[-1]
        for attr, fn in list(vars(mod).items()):
            if (attr.startswith("_") or not inspect.isfunction(fn)
                    or fn.__module__ != modname):
                continue
            name = f"operators.{short}.{attr}"
            _rebind(fn, tracer.wrap(name, fn))
            installed.append(name)
    return installed
