"""Outside-in span tracer for the traced benchmark run.

The benchmark wraps the public functions of each engine layer from here,
never from inside the program. ``install_function`` swaps a module
function (and every ``from ... import`` alias of it in the package) for a
wrapper that records one span per call; ``install_method`` does the same
for a class attribute, which also covers calls through instances created
earlier. Install before building any model: a function reference that a
closure or registry captured before installation stays untraced, which
``silent`` reports after the run.

Spans (id, name, start, end, parent) stay in memory; ``dump`` writes them
out with the run id, and ``summary`` derives per-name busy time, self time
(duration minus the part of its interval that child spans cover) and call
counts.

Spans nest per thread. A span opened on a thread with nothing open there
(a streaming ``foreachBatch`` callback) takes the main thread's innermost
open span as its parent.
"""

from __future__ import annotations

import contextlib
import functools
import json
import sys
import threading
import time
from collections import defaultdict

PACKAGE = "kin_data_pipeline_spark"


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[tuple] = []  # (id, name, start, end, parent)
        self.installed: set[str] = set()
        self._local = threading.local()
        self._main_stack: list[int] = []
        self._next = 0
        self._lock = threading.Lock()

    def _stack(self) -> list[int]:
        if threading.current_thread() is threading.main_thread():
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str):
        stack = self._stack()
        if stack:
            parent = stack[-1]
        else:
            parent = self._main_stack[-1] if self._main_stack else None
        with self._lock:
            sid = self._next
            self._next += 1
        stack.append(sid)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append((sid, name, t0, t1, parent))

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    # -- installation ------------------------------------------------------

    def patch_function(self, module, attr: str, make) -> None:
        """Replace ``module.attr`` and every alias of it that a module of
        the package bound with ``from ... import`` by ``make(original)``."""
        orig = getattr(module, attr)
        replacement = make(orig)
        for mod in list(sys.modules.values()):
            if mod is None or not getattr(mod, "__name__", "").startswith(PACKAGE):
                continue
            if getattr(mod, attr, None) is orig:
                setattr(mod, attr, replacement)

    def install_function(self, module, attr: str, name: str) -> None:
        self.patch_function(module, attr, lambda orig: self.wrap(name, orig))
        self.installed.add(name)

    def install_method(self, cls, attr: str, name: str) -> None:
        setattr(cls, attr, self.wrap(name, cls.__dict__[attr]))
        self.installed.add(name)

    def silent(self) -> list[str]:
        """Installed span names that recorded no call."""
        seen = {s[1] for s in self.spans}
        return sorted(self.installed - seen)

    # -- reporting ---------------------------------------------------------

    def summary(self, within: tuple[float, float]) -> dict[str, dict]:
        """name -> {s, self_s, calls} over spans that start inside
        ``within`` (a perf_counter interval)."""
        lo, hi = within
        spans = [s for s in self.spans if lo <= s[2] <= hi]
        children: dict[int, list[tuple[float, float]]] = defaultdict(list)
        for _sid, _n, t0, t1, parent in spans:
            if parent is not None:
                children[parent].append((t0, t1))
        out: dict[str, dict] = defaultdict(lambda: {"s": 0.0, "self_s": 0.0, "calls": 0})
        for sid, name, t0, t1, _parent in spans:
            row = out[name]
            row["s"] += t1 - t0
            row["self_s"] += (t1 - t0) - _covered(children.get(sid, ()), t0, t1)
            row["calls"] += 1
        return dict(out)

    def covered_time(self, names, within: tuple[float, float]) -> float:
        """Seconds of ``within`` covered by spans whose name is in ``names``."""
        lo, hi = within
        ivs = [(t0, t1) for _s, n, t0, t1, _p in self.spans if n in names]
        return _covered(ivs, lo, hi)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for sid, name, t0, t1, parent in sorted(self.spans, key=lambda s: s[2]):
                row = {"run": self.run_id, "id": sid, "name": name,
                       "start": t0, "end": t1, "parent": parent}
                f.write(json.dumps(row) + "\n")


def _covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total = 0.0
    cur_a = cur_b = None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total
