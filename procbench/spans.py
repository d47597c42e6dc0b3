"""Spans recorded from outside the program, plus Spark job counts.

The benchmark wraps each layer's public function in the benchmarked
process (module attribute and every alias other modules imported by
name), so a span is one call into that layer and nesting follows the
program's own call structure. Nothing in the package is edited.
Spans are kept in memory and written out when the run ends.
"""

from __future__ import annotations

import functools
import json
import sys
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    call_id: int | None


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.call_id: int | None = None
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = Span(sid, name, time.perf_counter(), 0.0, parent, self.call_id)
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec.end = time.perf_counter()

    def wrap(self, owner: object, attr: str, name: str, package: str | None = None) -> None:
        """Record a span named ``name`` around every call of
        ``owner.attr``. With ``package``, aliases of the same function
        bound by name in that package's loaded modules are replaced too."""
        original = getattr(owner, attr)

        @functools.wraps(original)
        def traced(*args, **kwargs):
            with self.span(name):
                return original(*args, **kwargs)

        targets = [(owner, attr)]
        if package:
            for mod_name, mod in list(sys.modules.items()):
                if mod is None or not (mod_name == package or mod_name.startswith(package + ".")):
                    continue
                for a, v in list(vars(mod).items()):
                    if v is original and (mod, a) != (owner, attr):
                        targets.append((mod, a))
        for obj, a in targets:
            self._patched.append((obj, a, original))
            setattr(obj, a, traced)

    def unwrap_all(self) -> None:
        for obj, a, original in reversed(self._patched):
            setattr(obj, a, original)
        self._patched.clear()

    @staticmethod
    def self_times(spans: list[Span]) -> dict[str, float]:
        """Per span name: total duration minus the time its direct
        children cover (spans nest; one thread records them)."""
        child = defaultdict(float)
        for s in spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        out: dict[str, float] = defaultdict(float)
        for s in spans:
            out[s.name] += (s.end - s.start) - child[s.id]
        return dict(out)

    @staticmethod
    def totals(spans: list[Span]) -> dict[str, float]:
        out: dict[str, float] = defaultdict(float)
        for s in spans:
            out[s.name] += s.end - s.start
        return dict(out)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


def job_counts(sc, group: str) -> dict[str, int]:
    """Jobs, stages and tasks Spark ran under one job group, from the
    status tracker. A stage a job skipped (its shuffle output reused)
    keeps a stage info with tasks but runs none; it is not counted."""
    tracker = sc.statusTracker()
    jobs = stages = tasks = failed = 0
    seen: set[int] = set()
    for jid in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(jid)
        if info is None:
            continue
        jobs += 1
        for sid in info.stageIds:
            if sid in seen:
                continue
            seen.add(sid)
            st = tracker.getStageInfo(sid)
            if st is None or st.numCompletedTasks + st.numFailedTasks == 0:
                continue
            stages += 1
            tasks += st.numCompletedTasks
            failed += st.numFailedTasks
    return {"jobs": jobs, "stages": stages, "tasks": tasks, "tasks_failed": failed}
