"""Spans around the calls into each engine module, recorded from outside.

Nothing inside the engine is edited: the tracer replaces a module's
public functions by timing wrappers, both on the module and wherever a
module of the package imported them by name, and restores them on
:meth:`Tracer.close`. Each call becomes a span (name, layer, start, end,
parent, pass, query). Spans stay in memory until the run writes them
out at exit.

A layer's time counts only its outermost calls: a sink DML call that
reads the table's manifests internally adds to ``sink.dml_s`` once, not
also to ``sink.read_plan_s``.
"""

from __future__ import annotations

import functools
import inspect
import pydoc
import sys
import time
from contextlib import contextmanager

PACKAGE = "mapreduceframework_cpp_spark"

#: pysink public functions by the sink layer they belong to
SINK_GROUPS = {
    "dml": (
        "delete_where", "merge_into", "coalesce_dvs", "purge_deletes",
        "compact", "recluster", "recluster_zorder", "rename_column",
        "drop_column", "vacuum", "write_clustered",
    ),
    "checkpoint": ("checkpoint",),
    "read_plan": (
        "read_committed", "read_snapshot", "read_changes",
        "read_committed_between", "committed_files", "committed_entries",
        "committed_dvs", "table_history",
    ),
}
SINK_FORMATS = ("txn_files", "txn_parquet")


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.ids: dict = {}
        self._open: list[int] = []
        self._undo: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str, layer: str = ""):
        parent = self._open[-1] if self._open else None
        rec = {
            "id": len(self.spans), "name": name, "layer": layer,
            "start": time.time(), "end": None, "parent": parent, **self.ids,
        }
        outer = not any(self.spans[i]["layer"].split(".")[0] == layer.split(".")[0]
                        for i in self._open) if layer else True
        rec["outer"] = outer
        self.spans.append(rec)
        self._open.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            self._open.pop()
            rec["end"] = time.time()

    def _wrap(self, fn, name: str, layer: str):
        return _Timed(fn, self, name, layer)

    def _patch(self, owner, attr: str, new) -> None:
        self._undo.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def wrap_functions(self, module, names: list[str], layer_of) -> None:
        """Time ``module.<name>`` for each name, on the module and on every
        package module that imported it by name."""
        for name in names:
            fn = getattr(module, name)
            new = self._wrap(fn, f"{module.__name__.rsplit('.', 1)[1]}.{name}", layer_of(name))
            for mod in list(sys.modules.values()):
                if getattr(mod, "__name__", "").startswith(PACKAGE) and getattr(mod, name, None) is fn:
                    self._patch(mod, name, new)

    def wrap_writers(self) -> None:
        """Time ``save``/``start`` of batch and streaming writers whose
        format is one of the package's transactional sinks."""
        from pyspark.sql.readwriter import DataFrameWriter
        from pyspark.sql.streaming.readwriter import DataStreamWriter

        for cls, method in ((DataFrameWriter, "save"), (DataStreamWriter, "start")):
            self._patch_format(cls)
            orig = getattr(cls, method)
            tracer = self

            def timed(writer, *args, _orig=orig, **kwargs):
                if getattr(writer, "_pb_format", None) in SINK_FORMATS:
                    with tracer.span("pysink.write", "sink.write"):
                        return _orig(writer, *args, **kwargs)
                return _orig(writer, *args, **kwargs)

            self._patch(cls, method, functools.wraps(orig)(timed))

    def _patch_format(self, cls) -> None:
        orig = cls.format

        def fmt(writer, source, _orig=orig):
            writer._pb_format = source
            return _orig(writer, source)

        self._patch(cls, "format", functools.wraps(orig)(fmt))

    def close(self) -> None:
        for owner, attr, old in reversed(self._undo):
            setattr(owner, attr, old)
        self._undo.clear()


class _Timed:
    """A timing wrapper that pickles as the function it wraps: Spark may
    ship a module's functions to its Python workers, which must get the
    plain function, not the tracer."""

    def __init__(self, fn, tracer: Tracer, name: str, layer: str):
        functools.update_wrapper(self, fn)
        self._fn, self._tracer, self._name, self._layer = fn, tracer, name, layer

    def __call__(self, *args, **kwargs):
        with self._tracer.span(self._name, self._layer):
            return self._fn(*args, **kwargs)

    def __reduce__(self):
        return pydoc.locate, (f"{self._fn.__module__}.{self._fn.__name__}",)


def public_functions(module) -> list[str]:
    """Functions defined in ``module`` whose names do not start with _."""
    return [
        n for n, f in vars(module).items()
        if inspect.isfunction(f) and not n.startswith("_") and f.__module__ == module.__name__
    ]


def install(tracer: Tracer) -> None:
    """Wrap the modules the per-layer metrics name."""
    from mapreduceframework_cpp_spark.operators import graph, pca, similarity
    from mapreduceframework_cpp_spark.sources import pysink, tables

    for mod in (similarity, pca, graph):
        layer = f"operators.{mod.__name__.rsplit('.', 1)[1]}"
        tracer.wrap_functions(mod, public_functions(mod), lambda n, layer=layer: layer)
    tracer.wrap_functions(tables, ["tbl"], lambda n: "sources.tbl")
    group = {f: g for g, fs in SINK_GROUPS.items() for f in fs}
    tracer.wrap_functions(
        pysink, [n for n in public_functions(pysink) if n in group],
        lambda n: f"sink.{group[n]}",
    )
    tracer.wrap_writers()
