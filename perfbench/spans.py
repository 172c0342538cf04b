"""Span tracing around the engine's public functions, from outside.

``Tracer.install`` patches the functions named in ``TARGETS`` at import
time, with no edit under ``heracles_spark/``: each becomes a wrapper
that, while ``Tracer.active`` is set, records a span ``[name, start,
end, parent, op]`` in memory. ``write_jsonl`` dumps the spans when the
run ends. A function some engine module bound by ``from x import f`` is
patched under that name too, so every call site is seen.

``self_times`` gives each span's duration minus the part of it its
child spans cover, so each layer's share of an operation can be read
without double counting. Spans of the traced set-up repetition carry
op ``-1``.
"""

from __future__ import annotations

import functools
import json
import sys
import time

# (module, attribute) -> span name. Class methods are "Class.method".
TARGETS = {
    ("heracles_spark.sql", "dispatch"): "sql.dispatch",
    ("heracles_spark.catalog", "HeraclesCatalog.get_table"):
        "catalog.get_table",
    ("heracles_spark.catalog", "HeraclesCatalog.read_table"):
        "catalog.read_table",
    ("heracles_spark.catalog", "HeraclesCatalog.update_file_index"):
        "catalog.update_file_index",
    ("heracles_spark.pruning", "prune_files"): "pruning.prune_files",
    ("heracles_spark.pruning", "scan"): "pruning.scan",
    ("heracles_spark.writer", "write_key_organized"):
        "writer.write_key_organized",
    ("heracles_spark.writer", "write_cow_files"): "writer.write_cow_files",
    ("heracles_spark.writer", "harvest_file_index"):
        "writer.harvest_file_index",
    ("heracles_spark.writer", "bulk_load_csv"): "writer.bulk_load_csv",
    ("heracles_spark.writer", "insert_rows"): "writer.insert_rows",
    ("heracles_spark.writer", "post_write_maintenance"):
        "writer.post_write_maintenance",
    ("heracles_spark.writer", "maybe_auto_optimize"):
        "writer.maybe_auto_optimize",
    ("heracles_spark.writer", "optimize_table"): "writer.optimize_table",
    ("heracles_spark.dml", "update_table"): "dml.update_table",
    ("heracles_spark.dml", "delete_from"): "dml.delete_from",
    ("heracles_spark.layout", "prepare"): "layout.prepare",
}


class Tracer:
    def __init__(self) -> None:
        self.spans: list[list] = []
        self.active = False
        self.op: int | None = None
        self._stack: list[int] = []
        self._patched: list[tuple] = []
        # span name -> callback(result): counts taken where work happens
        self.on_result: dict[str, object] = {}

    def span(self, name: str):
        """Context manager for a span opened by the benchmark itself."""
        return _Span(self, name)

    def _open(self, name: str) -> list:
        rec = [name, time.perf_counter(), None,
               self._stack[-1] if self._stack else None, self.op]
        self._stack.append(len(self.spans))
        self.spans.append(rec)
        return rec

    def _close(self, rec: list) -> None:
        rec[2] = time.perf_counter()
        self._stack.pop()

    def _wrap(self, name: str, fn):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.active:
                return fn(*args, **kwargs)
            rec = tracer._open(name)
            try:
                out = fn(*args, **kwargs)
            finally:
                tracer._close(rec)
            cb = tracer.on_result.get(name)
            if cb is not None:
                cb(out)
            return out
        return traced

    def install(self) -> None:
        import importlib

        # Import every target module first, so copies bound by a module
        # imported later in this loop are found too.
        mods = {m: importlib.import_module(m) for m, _ in TARGETS}
        for (mod_name, attr), name in TARGETS.items():
            mod = mods[mod_name]
            owner, leaf = mod, attr
            if "." in attr:
                cls, leaf = attr.split(".")
                owner = getattr(mod, cls)
            orig = getattr(owner, leaf)
            wrapped = self._wrap(name, orig)
            self._set(owner, leaf, wrapped, orig)
            if owner is mod:
                # `from heracles_spark.x import f` copies: patch them too.
                for other in list(sys.modules.values()):
                    if (other is not mod and getattr(other, "__name__", "")
                            .startswith("heracles_spark")
                            and getattr(other, leaf, None) is orig):
                        self._set(other, leaf, wrapped, orig)

    def _set(self, owner, leaf, wrapped, orig) -> None:
        setattr(owner, leaf, wrapped)
        self._patched.append((owner, leaf, orig))

    def uninstall(self) -> None:
        for owner, leaf, orig in reversed(self._patched):
            setattr(owner, leaf, orig)
        self._patched.clear()

    def write_jsonl(self, path: str) -> None:
        with open(path, "w") as fh:
            for i, (name, start, end, parent, op) in enumerate(self.spans):
                fh.write(json.dumps({"id": i, "name": name, "start": start,
                                     "end": end, "parent": parent,
                                     "op": op}) + "\n")


class _Span:
    def __init__(self, tracer: Tracer, name: str) -> None:
        self.tracer, self.name, self.rec = tracer, name, None

    def __enter__(self):
        if self.tracer.active:
            self.rec = self.tracer._open(self.name)
        return self

    def __exit__(self, *exc) -> None:
        if self.rec is not None:
            self.tracer._close(self.rec)


def self_times(spans: list[list]) -> list[float]:
    """Per span: duration minus the time its children cover (children
    of one span never overlap: the client is one thread)."""
    child = [0.0] * len(spans)
    for name, start, end, parent, _ in spans:
        if parent is not None and end is not None:
            child[parent] += end - start
    return [(end - start) - child[i] if end is not None else 0.0
            for i, (_, start, end, _, _) in enumerate(spans)]

