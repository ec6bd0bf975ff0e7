"""Spans around calls into the engine's layers, recorded from outside.

The tracer never edits the engine's source: `install` replaces module
attributes at run time with wrappers that open a span around each call
and puts the originals back when the returned function is called.
Because plans bind operators with `from ... import name`, every loaded
module of the engine is scanned, not only the defining one.
"""

from __future__ import annotations

import contextlib
import functools
import inspect
import sys
import time
from dataclasses import dataclass, field

ENGINE_PREFIXES = ("stream_processing_system_spark", "__spark_entry__")


@dataclass
class Span:
    id: int
    parent: int | None
    sample: str | None
    layer: str
    name: str
    start: float
    end: float = 0.0

    def as_dict(self) -> dict:
        return {
            "id": self.id, "parent": self.parent, "sample": self.sample,
            "layer": self.layer, "name": self.name,
            "start": round(self.start, 6), "end": round(self.end, 6),
        }


@dataclass
class Tracer:
    """Records nested spans in memory. `on_layer` is called with the
    innermost open span's layer (or None) whenever that changes, so a
    caller can tag the Spark jobs started inside it."""

    clock: object = time.perf_counter
    on_layer: object = None
    sample: str | None = None
    spans: list = field(default_factory=list)
    _stack: list = field(default_factory=list)
    _t0: float = 0.0

    def __post_init__(self):
        self._t0 = self.clock()

    @contextlib.contextmanager
    def span(self, layer: str, name: str | None = None):
        parent = self._stack[-1].id if self._stack else None
        s = Span(len(self.spans), parent, self.sample, layer, name or layer,
                 self.clock() - self._t0)
        self.spans.append(s)
        self._stack.append(s)
        if self.on_layer:
            self.on_layer(layer)
        try:
            yield s
        finally:
            s.end = self.clock() - self._t0
            self._stack.pop()
            if self.on_layer:
                self.on_layer(self._stack[-1].layer if self._stack else None)

    def wrap(self, fn, layer: str, name: str | None = None):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(layer, name):
                return fn(*args, **kwargs)

        traced.__wrapped_by_tracer__ = True
        return traced


def self_times(spans) -> dict[int, float]:
    """Each span's duration minus the part of it its children cover."""
    children: dict[int, list] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered, cur_lo, cur_hi = 0.0, None, None
        for c in sorted(children.get(s.id, ()), key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s.id] = (s.end - s.start) - covered
    return out


def install(tracer: Tracer, layers: dict[str, str], names=None, prefixes=ENGINE_PREFIXES):
    """Wrap every public function defined in a module named in `layers`
    (module name -> layer name), or only those in `names` if given,
    wherever a loaded engine module binds it. Returns a function that
    restores the originals."""
    wrappers: dict[int, object] = {}
    patched = []
    for mod_name, mod in list(sys.modules.items()):
        if mod is None or not mod_name.startswith(prefixes):
            continue
        for attr, val in list(vars(mod).items()):
            if not inspect.isfunction(val) or val.__name__.startswith("_"):
                continue
            if names is not None and val.__name__ not in names:
                continue
            layer = layers.get(val.__module__)
            if layer is None or getattr(val, "__wrapped_by_tracer__", False):
                continue
            w = wrappers.get(id(val))
            if w is None:
                w = wrappers[id(val)] = tracer.wrap(val, layer, f"{layer}.{val.__name__}")
            setattr(mod, attr, w)
            patched.append((mod, attr, val))

    def restore():
        for mod, attr, val in reversed(patched):
            setattr(mod, attr, val)

    return restore


def patch_method(cls, name: str, wrapper_factory):
    """Replace `cls.name` by `wrapper_factory(original)`; return undo."""
    original = getattr(cls, name)
    setattr(cls, name, wrapper_factory(original))
    return lambda: setattr(cls, name, original)
