"""Span recorder for the traced run.

Spans are recorded from the benchmark's own files, around calls into the
package's public functions: a proxy on an object (``pipe.log``,
``pipe.sink``, the pipeline's ``RuleSet``) or a wrapper on the module
attribute a caller resolves. Each span has a name, start, end, parent and
trace id (one per file or query) and the number of Spark jobs launched
while it was the innermost span, counted through a job group per span.
Spans stay in memory until ``dump`` writes them out.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from typing import Callable, Iterable, Optional


class Tracer:
    def __init__(self, sc) -> None:
        self._sc = sc
        self._stack: list[dict] = []
        self.spans: list[dict] = []

    @contextmanager
    def span(self, name: str, trace: Optional[str] = None):
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "trace": trace if trace is not None else (parent["trace"] if parent else None),
            "start": time.perf_counter(),
            "end": None,
            "jobs": 0,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        group = f"perfbench-span-{rec['id']}"
        self._sc.setJobGroup(group, name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["jobs"] = len(self._sc.statusTracker().getJobIdsForGroup(group))
            self._stack.pop()
            # job groups do not nest: hand the thread back to the parent's
            self._sc.setJobGroup(
                f"perfbench-span-{parent['id']}" if parent else "perfbench-untraced",
                parent["name"] if parent else "",
            )

    def wrap(self, name: str, fn: Callable, trace_of: Optional[Callable] = None) -> Callable:
        """``fn`` with a span around every call; ``trace_of(*args)`` names
        the trace a root call starts."""

        def traced(*args, **kwargs):
            with self.span(name, trace_of(*args, **kwargs) if trace_of else None):
                return fn(*args, **kwargs)

        return traced

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)

    # -- reduction ------------------------------------------------------
    def self_times(self) -> dict[int, float]:
        """Span id -> duration minus the time its child spans cover
        (children of one span run one after another on this thread)."""
        own = {s["id"]: s["end"] - s["start"] for s in self.spans}
        for s in self.spans:
            if s["parent"] is not None:
                own[s["parent"]] -= s["end"] - s["start"]
        return own

    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def self_total(self, name: str) -> float:
        own = self.self_times()
        return sum(own[s["id"]] for s in self.spans if s["name"] == name)

    def count(self, name: str) -> int:
        return sum(1 for s in self.spans if s["name"] == name)

    def jobs(self, names: Iterable[str]) -> int:
        names = set(names)
        return sum(s["jobs"] for s in self.spans if s["name"] in names)

    def descendant_total(self, ancestor: str, names: Iterable[str]) -> float:
        """Time in spans named ``names`` that run inside an ``ancestor`` span."""
        names = set(names)
        by_id = {s["id"]: s for s in self.spans}
        total = 0.0
        for s in self.spans:
            if s["name"] not in names:
                continue
            p = s["parent"]
            while p is not None and by_id[p]["name"] != ancestor:
                p = by_id[p]["parent"]
            if p is not None:
                total += s["end"] - s["start"]
        return total


class Proxy:
    """Delegates every attribute to ``target``; the methods named in
    ``spans`` (method -> span name) run inside a span."""

    def __init__(self, target, tracer: Tracer, spans: dict[str, str],
                 trace_of: Optional[Callable] = None) -> None:
        self._target = target
        self._wrapped = {
            m: tracer.wrap(name, getattr(target, m), trace_of) for m, name in spans.items()
        }

    def __getattr__(self, attr):
        if attr in self._wrapped:
            return self._wrapped[attr]
        return getattr(self._target, attr)
