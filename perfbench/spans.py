"""In-memory span tracer for the traced benchmark mode.

A span is (name, start, end, parent, attrs). ``install`` wraps every
public top-level function of the named engine modules so each call
opens a span named ``<module>.<function>``; callers that imported the
function by name (``from x import f``) are re-pointed at the wrapper
too, so a call is traced whichever way it is reached. Spans live in a
list until ``dump`` writes them out at the end of a run; nothing is
written while the run measures.

Only the driver thread that called ``activate`` records; other threads
(and Python workers, which never install the wrappers) call straight
through.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import json
import sys
import threading
import time
from contextlib import contextmanager

_SPANS: list[dict] = []
_STACK: list[int] = []
_OWNER: list[int] = []  # ident of the recording thread, when active


def active() -> bool:
    return bool(_OWNER) and _OWNER[0] == threading.get_ident()


def activate() -> None:
    _OWNER[:] = [threading.get_ident()]


def spans() -> list[dict]:
    return _SPANS


@contextmanager
def span(name: str, **attrs):
    """Record one span around the block (no-op when tracing is off)."""
    if not active():
        yield None
        return
    rec = {"name": name, "start": time.perf_counter(), "end": None,
           "parent": _STACK[-1] if _STACK else None, "attrs": attrs}
    _SPANS.append(rec)
    _STACK.append(len(_SPANS) - 1)
    try:
        yield rec
    finally:
        _STACK.pop()
        rec["end"] = time.perf_counter()


def _wrap(fn, name: str):
    @functools.wraps(fn)
    def traced(*args, **kwargs):
        if not active():
            return fn(*args, **kwargs)
        with span(name, layer=name.rsplit(".", 1)[0]):
            return fn(*args, **kwargs)

    traced.__wrapped_by_perfbench__ = True
    return traced


def install(module_names, *, methods=()) -> int:
    """Wrap every public function defined in each module; returns the
    number wrapped. ``methods`` lists (class, method, span name) triples
    to wrap as well (DataFrame actions)."""
    originals: dict[int, object] = {}
    for mod_name in module_names:
        mod = importlib.import_module(mod_name)
        for attr, obj in list(vars(mod).items()):
            if attr.startswith("_") or not inspect.isfunction(obj):
                continue
            if obj.__module__ != mod_name or getattr(obj, "__wrapped_by_perfbench__", False):
                continue
            wrapped = _wrap(obj, f"{mod_name}.{attr}")
            setattr(mod, attr, wrapped)
            originals[id(obj)] = wrapped
    # re-point `from module import fn` references in every engine module
    for mod_name, mod in list(sys.modules.items()):
        if not mod_name.startswith("censo_escolar_spark") or mod is None:
            continue
        for attr, obj in list(vars(mod).items()):
            w = originals.get(id(obj))
            if w is not None and obj is not w:
                setattr(mod, attr, w)
    for cls, meth, name in methods:
        orig = getattr(cls, meth)
        if not getattr(orig, "__wrapped_by_perfbench__", False):
            setattr(cls, meth, _wrap(orig, name))
    return len(originals)


def dump(path: str) -> None:
    t0 = _SPANS[0]["start"] if _SPANS else 0.0
    out = [{**s, "start": s["start"] - t0, "end": (s["end"] or s["start"]) - t0}
           for s in _SPANS]
    with open(path, "w") as f:
        json.dump(out, f, default=str)
