"""In-memory spans around the calls into each layer of the engine.

Spans are recorded from the benchmark's own files: ``Tracer.patch``
replaces a function or method with a wrapper that opens a span, and
``Tracer.restore`` puts every original back.  A span holds its name,
start, end, parent and the id of the op it belongs to.  Nothing is
written while the benchmark runs; ``Tracer.spans`` is read once at the
end.
"""

from __future__ import annotations

import functools
import sys
import time
from collections import defaultdict
from contextlib import contextmanager

from stats import self_times


class Tracer:
    def __init__(self):
        self.names: list[str] = []
        self.starts: list[float] = []
        self.ends: list[float] = []
        self.parents: list[int | None] = []
        self.trace_ids: list[int | None] = []
        self._stack: list[int] = []
        self.trace_id: int | None = None
        self._undo: list[tuple[object, str, object]] = []
        # time spent inside the wrappers' own bookkeeping
        self.overhead_s = 0.0

    @contextmanager
    def span(self, name: str):
        t_in = time.perf_counter()
        idx = len(self.names)
        self.names.append(name)
        self.parents.append(self._stack[-1] if self._stack else None)
        self.trace_ids.append(self.trace_id)
        self.ends.append(0.0)
        self._stack.append(idx)
        start = time.perf_counter()
        self.starts.append(start)
        self.overhead_s += start - t_in
        try:
            yield idx
        finally:
            end = time.perf_counter()
            self.ends[idx] = end
            self._stack.pop()
            self.overhead_s += time.perf_counter() - end

    def wrap(self, fn, name: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with tracer.span(name):
                return fn(*args, **kwargs)

        traced.__wrapped_by_perfbench__ = fn
        return traced

    def patch(self, owner, attr: str, name: str) -> None:
        """Wrap ``owner.attr`` (a module function or a class method)."""
        orig = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        self._undo.append((owner, attr, orig))
        setattr(owner, attr, self.wrap(orig, name))

    def patch_function_everywhere(self, fn, name: str,
                                  prefixes=("semantic_olap_spark", "__spark_entry__")) -> None:
        """Wrap ``fn`` in its own module and in every loaded module of
        the package that imported it by name."""
        wrapped = self.wrap(fn, name)
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not mod_name.startswith(prefixes):
                continue
            for attr, val in list(vars(mod).items()):
                if val is fn:
                    self._undo.append((mod, attr, fn))
                    setattr(mod, attr, wrapped)

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()

    def op_summary(self, trace_id: int) -> dict:
        """Per-name totals of self time and call counts of one op."""
        idx = [i for i, t in enumerate(self.trace_ids) if t == trace_id]
        return self.summarize(idx)

    def summarize(self, idx: list[int]) -> dict:
        pos = {i: k for k, i in enumerate(idx)}
        tree = [
            (self.starts[i], self.ends[i], pos.get(self.parents[i]))
            for i in idx
        ]
        selfs = self_times(tree)
        out: dict = defaultdict(lambda: {"self_s": 0.0, "total_s": 0.0, "calls": 0})
        for k, i in enumerate(idx):
            rec = out[self.names[i]]
            rec["self_s"] += selfs[k]
            # total time counts only outermost spans of a name, so a
            # recursive call is not counted twice
            p = self.parents[i]
            nested = False
            while p is not None:
                if self.names[p] == self.names[i]:
                    nested = True
                    break
                p = self.parents[p]
            if not nested:
                rec["total_s"] += self.ends[i] - self.starts[i]
            rec["calls"] += 1
        return dict(out)

    def dump(self) -> list[dict]:
        return [
            {"name": n, "start": s, "end": e, "parent": p, "trace_id": t}
            for n, s, e, p, t in zip(self.names, self.starts, self.ends,
                                     self.parents, self.trace_ids)
        ]
