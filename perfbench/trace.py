"""In-memory span tracer for the traced run.

Spans are recorded around calls into the program's public functions,
from outside: :meth:`Tracer.instrument` swaps each named function for a
wrapper in every loaded module of the package that refers to it (so
calls between the program's own modules are traced too), and
:meth:`Tracer.restore` puts the originals back. Spans live in memory
and are written out once, when the run ends.
"""

from __future__ import annotations

import functools
import itertools
import json
import sys
import threading
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._patched: list[tuple[object, str, object]] = []

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, layer: str, **attrs):
        stack = self._stack()
        sid = next(self._ids)
        parent = stack[-1] if stack else None
        stack.append(sid)
        start = time.perf_counter()
        try:
            yield attrs
        finally:
            end = time.perf_counter()
            stack.pop()
            rec = {"id": sid, "parent": parent, "name": name, "layer": layer,
                   "start": start, "end": end, **attrs}
            with self._lock:
                self.spans.append(rec)

    def instrument(self, package: str, targets: dict[str, tuple[str, ...]],
                   layer_of: dict[str, str]) -> None:
        """Wrap ``targets`` ({module: function names}) of ``package``.
        ``layer_of`` maps a module to the layer its spans report under."""
        originals: dict[int, object] = {}
        for mod_name, fns in targets.items():
            mod = sys.modules[f"{package}.{mod_name}"]
            for fn in fns:
                orig = getattr(mod, fn)
                originals[id(orig)] = self._wrapper(
                    orig, f"{mod_name.rsplit('.', 1)[-1]}.{fn}", layer_of[mod_name])
        for name, mod in list(sys.modules.items()):
            if name != package and not name.startswith(package + "."):
                continue
            for attr, val in list(vars(mod).items()):
                wrapper = originals.get(id(val))
                if wrapper is not None:
                    self._patched.append((mod, attr, val))
                    setattr(mod, attr, wrapper)

    def _wrapper(self, fn, name: str, layer: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name, layer):
                return fn(*args, **kwargs)
        return traced

    def restore(self) -> None:
        for mod, attr, val in reversed(self._patched):
            setattr(mod, attr, val)
        self._patched.clear()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Total length of the union of intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """Each span's duration minus the part of its interval that its
    child spans cover (children clipped to the parent's interval)."""
    by_id = {s["id"]: s for s in spans}
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        p = by_id.get(s["parent"])
        if p is not None:
            kids.setdefault(p["id"], []).append(
                (max(s["start"], p["start"]), min(s["end"], p["end"])))
    return {
        s["id"]: (s["end"] - s["start"]) - _covered(
            [iv for iv in kids.get(s["id"], []) if iv[1] > iv[0]])
        for s in spans
    }


def layer_self_ms(spans: list[dict]) -> dict[str, float]:
    """Self time summed per layer, in milliseconds."""
    st = self_times(spans)
    out: dict[str, float] = {}
    for s in spans:
        out[s["layer"]] = out.get(s["layer"], 0.0) + st[s["id"]] * 1000.0
    return out


def median_span_ms(spans: list[dict], name: str) -> float:
    """Median duration of the spans called ``name`` in ms, 0 if none."""
    import statistics

    xs = [(s["end"] - s["start"]) * 1e3 for s in spans if s["name"] == name]
    return statistics.median(xs) if xs else 0.0
