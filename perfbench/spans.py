"""In-memory span recorder for the traced run (``--trace 1``).

The engine has no instrumentation of its own, so the traced run times each
layer from outside: :func:`install` wraps the public functions of the
layers below (module functions and the model registry's methods) and
records one span per call — name, start, end, parent span and operation
id. Measured runs (``--trace 0``) never call :func:`install`; their code
path is the engine's own.

Self time is a span's duration minus its direct children's durations
(:func:`self_times`).
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import inspect
import sys
import threading
import time
from collections import defaultdict

PKG = "ufc_data_warehouse_spark"

# module → span prefix; every public function defined in the module is wrapped
TRACED_MODULES = {
    f"{PKG}.api": "api",
    f"{PKG}.sources.ingest": "ingest",
    f"{PKG}.etl": "etl",
    f"{PKG}.validation": "validation",
    f"{PKG}.operators.dedup": "operators.dedup",
    f"{PKG}.operators.simsearch": "operators.simsearch",
    f"{PKG}.operators.graph": "operators.graph",
    f"{PKG}.operators.text": "operators.text",
    f"{PKG}.streaming.events": "streaming",
}
OPERATOR_FAMILIES = ("operators.dedup", "operators.simsearch", "operators.graph",
                     "operators.text", "streaming")


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.op: str | None = None
        self._local = threading.local()
        self._lock = threading.Lock()

    # a wrapped function can be captured by a UDF closure and shipped to a
    # Python worker: pickle as an empty tracer (thread state is per process)
    def __getstate__(self) -> dict:
        return {}

    def __setstate__(self, state: dict) -> None:
        self.__init__()

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        stack = self._local.__dict__.setdefault("stack", [])
        with self._lock:
            rec = {"id": len(self.spans), "name": name,
                   "parent": stack[-1] if stack else None, "op": self.op,
                   "start": time.perf_counter(), "end": None, **attrs}
            self.spans.append(rec)
        stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()

    def wrap(self, name: str, fn, on_result=None):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name) as rec:
                out = fn(*args, **kwargs)
                if on_result is not None:
                    on_result(rec, args, kwargs, out)
                return out

        return traced


def install(tracer: Tracer) -> list[tuple]:
    """Wrap the traced layers' public functions (the engine modules must
    already be imported); returns what :func:`uninstall` restores."""
    from pyspark import cloudpickle
    from pyspark.sql.readwriter import DataFrameWriter

    from ufc_data_warehouse_spark.registry import Registry

    cloudpickle.register_pickle_by_value(sys.modules[__name__])
    patched: list[tuple] = []

    def patch(owner, attr, new) -> None:
        patched.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    wrappers = {}
    for mod_name, prefix in TRACED_MODULES.items():
        mod = importlib.import_module(mod_name)
        for attr, fn in vars(mod).items():
            if not attr.startswith("_") and inspect.isfunction(fn) and fn.__module__ == mod_name:
                wrappers[fn] = tracer.wrap(f"{prefix}.{attr}", fn)
    # ``from .x import f`` copies the binding into the importer
    for mod_name, mod in list(sys.modules.items()):
        if mod is None or not mod_name.startswith(PKG):
            continue
        for attr, value in list(vars(mod).items()):
            if inspect.isfunction(value) and value in wrappers:
                patch(mod, attr, wrappers[value])

    def resolved(rec, args, kwargs, out):
        sources = args[1] if len(args) > 1 else kwargs["sources"]
        rec["models_resolved"] = len(out) - len(sources)

    patch(Registry, "build", tracer.wrap("registry.build", Registry.build, resolved))
    patch(Registry, "materialize", tracer.wrap("registry.materialize", Registry.materialize))
    parquet = DataFrameWriter.parquet

    @functools.wraps(parquet)
    def traced_parquet(self, path, *args, **kwargs):
        with tracer.span("write.parquet", path=str(path)):
            return parquet(self, path, *args, **kwargs)

    patch(DataFrameWriter, "parquet", traced_parquet)
    return patched


def uninstall(patched: list[tuple]) -> None:
    for owner, attr, original in reversed(patched):
        setattr(owner, attr, original)


def duration(rec: dict) -> float:
    return (rec["end"] or rec["start"]) - rec["start"]


def self_times(spans: list[dict]) -> dict[int, float]:
    child_total: dict[int, float] = defaultdict(float)
    for s in spans:
        if s["parent"] is not None:
            child_total[s["parent"]] += duration(s)
    return {s["id"]: duration(s) - child_total[s["id"]] for s in spans}


def outermost(spans: list[dict], prefix: str) -> list[dict]:
    """Spans named ``prefix.*`` whose ancestors carry no such name (so a
    family's nested calls are not counted twice)."""
    by_id = {s["id"]: s for s in spans}
    out = []
    for s in spans:
        if not s["name"].startswith(prefix + "."):
            continue
        p = s["parent"]
        while p is not None and not by_id[p]["name"].startswith(prefix + "."):
            p = by_id[p]["parent"]
        if p is None:
            out.append(s)
    return out
