"""In-memory spans around calls into the engine's layers.

A span records layer, name, start, end, parent and run id. While a span is
open, Spark jobs started by the driver thread carry the span's job group,
so the status store attributes every job (and its stages) to the call
that launched it.

``Tracer.wrap`` replaces a module function with a timing wrapper in its
defining module and in every ``hive_to_es_spark`` module that imported it
by name, so calls between the engine's own modules are traced too
(``run_jobs`` -> ``run_job`` -> ``write_sink`` -> ``bulk_index``).
``Tracer.close`` puts the originals back.
"""

from __future__ import annotations

import functools
import json
import sys
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

GROUP_KEY = "spark.jobGroup.id"


@dataclass
class Span:
    span_id: int
    layer: str
    name: str
    parent: int | None
    run_id: str
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark, run_id: str):
        self._sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []

    def group(self, span_id: int) -> str:
        return f"{self.run_id}:{span_id}"

    @contextmanager
    def span(self, layer: str, name: str, **attrs):
        sp = Span(len(self.spans), layer, name, self._stack[-1] if self._stack else None,
                  self.run_id, time.perf_counter(), attrs=attrs)
        self.spans.append(sp)
        self._stack.append(sp.span_id)
        self._sc.setLocalProperty(GROUP_KEY, self.group(sp.span_id))
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            self._sc.setLocalProperty(
                GROUP_KEY, self.group(self._stack[-1]) if self._stack else None)

    def note(self, key: str, value) -> None:
        """Add ``value`` to the list ``attrs[key]`` of the innermost open span."""
        if self._stack:
            self.spans[self._stack[-1]].attrs.setdefault(key, []).append(value)

    def patch(self, owner, attr: str, new) -> None:
        """Replace ``owner.attr`` with ``new`` in ``owner`` and in every
        engine module that imported the same object by name."""
        orig = getattr(owner, attr)
        targets = [(owner, attr)] + [
            (mod, key)
            for n, mod in list(sys.modules.items())
            if n == "hive_to_es_spark" or n.startswith("hive_to_es_spark.")
            for key, val in list(vars(mod).items())
            if val is orig and (mod, key) != (owner, attr)
        ]
        for obj, key in targets:
            self._patches.append((obj, key, orig))
            setattr(obj, key, new)

    def wrap(self, module, attr: str, layer: str, name: str | None = None,
             on_return=None) -> None:
        orig = getattr(module, attr)
        span_name = name or attr

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(layer, span_name) as sp:
                out = orig(*args, **kwargs)
                if on_return is not None:
                    on_return(sp, args, out)
                return out

        self.patch(module, attr, traced)

    def close(self) -> None:
        for mod, key, orig in reversed(self._patches):
            setattr(mod, key, orig)
        self._patches.clear()

    def children(self) -> dict[int | None, list[Span]]:
        out: dict[int | None, list[Span]] = {}
        for sp in self.spans:
            out.setdefault(sp.parent, []).append(sp)
        return out

    def self_time(self) -> dict[int, float]:
        """Span duration minus the part covered by its child spans (the
        driver thread runs one span at a time, so children never overlap)."""
        kids = self.children()
        return {sp.span_id: sp.dur - sum(c.dur for c in kids.get(sp.span_id, []))
                for sp in self.spans}

    def subtree(self, span_id: int) -> list[int]:
        kids = self.children()
        out, todo = [], [span_id]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(c.span_id for c in kids.get(s, []))
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for sp in self.spans:
                f.write(json.dumps(asdict(sp), default=str) + "\n")
