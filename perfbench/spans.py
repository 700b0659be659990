"""Spans around the package's public calls, installed from outside it.

``Tracer.install`` replaces each traced function with a timing wrapper in
every module that holds a binding to it (``operators.expand_json`` imports
``collect_column_samples`` and ``infer_schema_from_samples`` by name, and
``streaming.expand`` imports ``expand_json`` and ``infer_schema_for_column``
by name), and ``uninstall`` puts the originals back.  Spans stay in memory
until ``dump``.  While ``enabled`` is false the wrappers call straight
through, so one run can alternate traced and untraced units of work.
"""

from __future__ import annotations

import functools
import json
import threading
import time

PKG = "kafka_connect_expand_json_transform_spark"

# (module, attribute, span name); every module that binds the function
_TRACED = [
    ("session", "get_spark", "session.get_spark"),
    ("schema_inference", "collect_column_samples", "schema_inference.sample"),
    ("operators.expand_json", "collect_column_samples", "schema_inference.sample"),
    ("schema_inference", "infer_schema_from_samples", "schema_inference.merge"),
    ("operators.expand_json", "infer_schema_from_samples", "schema_inference.merge"),
    ("schema_inference", "infer_schema_for_column", "schema_inference.infer"),
    ("operators.expand_json", "infer_schema_for_column", "schema_inference.infer"),
    ("streaming.expand", "infer_schema_for_column", "schema_inference.infer"),
    ("operators.expand_json", "expand_json", "expand_json"),
    ("streaming.expand", "expand_json", "expand_json"),
    ("streaming.expand", "expand_json_stream", "expand_json_stream"),
    ("streaming.sources", "file_stream_source", "streaming.file_stream_source"),
    ("streaming.sources", "foreach_batch_sink", "streaming.foreach_batch_sink"),
]
# factories whose returned callable is traced too: (module, attr, name, inner)
_FACTORIES = [
    ("sources.kafka", "from_connect_config", "kafka.from_connect_config", "connect.apply"),
    ("sources.txlog", "foreach_batch_sink", "txlog.foreach_batch_sink", "txlog.sink"),
]


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.enabled = True
        self.op: str | None = None
        self._local = threading.local()  # span stack per thread
        self._saved: list[tuple] = []

    def span(self, name: str):
        return _Span(self, name)

    @property
    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def wrap(self, fn, name: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            with tracer.span(name):
                return fn(*args, **kwargs)

        return traced

    def wrap_factory(self, fn, name: str, inner: str):
        tracer = self

        @functools.wraps(fn)
        def factory(*args, **kwargs):
            return tracer.wrap(tracer.wrap(fn, name)(*args, **kwargs), inner)

        return factory

    def install(self) -> None:
        import importlib

        def patch(mod_name, attr, make):
            mod = importlib.import_module(f"{PKG}.{mod_name}")
            orig = getattr(mod, attr)
            self._saved.append((mod, attr, orig))
            setattr(mod, attr, make(orig))

        for mod_name, attr, name in _TRACED:
            patch(mod_name, attr, lambda f, n=name: self.wrap(f, n))
        for mod_name, attr, name, inner in _FACTORIES:
            patch(mod_name, attr, lambda f, n=name, i=inner: self.wrap_factory(f, n, i))

    def uninstall(self) -> None:
        while self._saved:
            mod, attr, orig = self._saved.pop()
            setattr(mod, attr, orig)

    def of(self, name: str, op: str | None = None) -> list[dict]:
        return [
            s for s in self.spans
            if s["name"] == name and (op is None or s["op"] == op)
        ]

    def self_time(self, span: dict) -> float:
        """Duration minus the part of it that child spans cover."""
        kids = sorted(
            (c["start"], c["end"]) for c in self.spans if c["parent"] == span["id"]
        )
        covered, reach = 0.0, span["start"]
        for lo, hi in kids:
            lo = max(lo, reach)
            if hi > lo:
                covered += hi - lo
                reach = hi
        return span["end"] - span["start"] - covered

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({**s, "self_s": self.self_time(s)}) + "\n")


class _Span:
    def __init__(self, tracer: Tracer, name: str) -> None:
        self.tracer, self.name = tracer, name

    def __enter__(self):
        t = self.tracer
        self.record = {
            "id": len(t.spans),
            "name": self.name,
            "op": t.op,
            "parent": t._stack[-1] if t._stack else None,
            "start": time.perf_counter(),
            "end": None,
        }
        t.spans.append(self.record)
        t._stack.append(self.record["id"])
        return self.record

    def __exit__(self, *exc):
        self.record["end"] = time.perf_counter()
        self.tracer._stack.pop()
        return False
