"""Spans recorded from outside the engine, around calls into its layers.

A :class:`Tracer` keeps spans in memory. Each span has a name (``layer.op``),
start, end, parent, a trace id (the seat or block it belongs to) and a dict
of counts. While a span is open its calls run in their own Spark job group,
so :meth:`Tracer.resolve` can read the jobs and stages each span launched
from ``statusTracker`` after the listener bus has caught up.

:meth:`Tracer.wrap` replaces a public function or method with one that
opens a span around each call; :meth:`Tracer.restore` undoes every wrap.
With tracing disabled, spans are not recorded and nothing is wrapped.
"""

from __future__ import annotations

import functools
import itertools
import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field
from pathlib import Path
from typing import Any, Callable, Iterator

#: pseudo-layer for the tracer's own bookkeeping inside a traced call
OVERHEAD = "trace"
#: job events reach the status store through the asynchronous listener
#: bus; :meth:`Tracer.resolve` waits this long for it to catch up
SETTLE_S = 1.0


@dataclass
class Span:
    id: int
    name: str
    trace: str
    start: float
    end: float = 0.0
    parent: int | None = None
    counts: dict[str, float] = field(default_factory=dict)
    group: str = ""

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        self.trace_id = ""
        self._stack: list[Span] = []
        self._ids = itertools.count()
        self._undo: list[tuple[Any, str, Any]] = []

    @contextmanager
    def span(self, name: str, **counts: float) -> Iterator[Span | None]:
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(
            id=next(self._ids),
            name=name,
            trace=self.trace_id,
            start=0.0,
            parent=parent.id if parent else None,
            counts=dict(counts),
        )
        s.group = f"perfbench-{s.id}"
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobGroup(s.group, name)
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent.group, parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def wrap(
        self,
        owner: Any,
        attr: str,
        name: str,
        before: Callable[[tuple, dict], Any] | None = None,
        after: Callable[[Span, Any, Any], None] | None = None,
    ) -> None:
        """Open a span named ``name`` around every call of
        ``owner.attr``. ``before(args, kwargs)`` returns a state that
        ``after(span, state, result)`` turns into counts; both run in a
        span of the ``trace`` pseudo-layer, so their cost is not
        charged to the engine."""
        if not self.enabled:
            return
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            state = None
            if before is not None:
                with self.span(f"{OVERHEAD}.before"):
                    state = before(args, kwargs)
            with self.span(name) as s:
                out = orig(*args, **kwargs)
            if after is not None:
                with self.span(f"{OVERHEAD}.after"):
                    after(s, state, out)
            return out

        self._undo.append((owner, attr, orig))
        setattr(owner, attr, traced)

    def restore(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)

    # ---- after the run -----------------------------------------------------------

    def resolve(self) -> None:
        """Read each span's jobs and stages from the status store, after
        ``SETTLE_S``."""
        if not self.spans:
            return
        time.sleep(SETTLE_S)
        tracker = self.sc.statusTracker()
        for s in self.spans:
            jobs = tracker.getJobIdsForGroup(s.group)
            stages = 0
            for j in jobs:
                info = tracker.getJobInfo(j)
                if info is not None:
                    stages += sum(
                        1
                        for sid in info.stageIds
                        if (st := tracker.getStageInfo(sid)) is not None
                        and st.numTasks > 0
                        and st.numCompletedTasks > 0
                    )
            s.counts["jobs"] = len(jobs)
            s.counts["stages"] = stages

    def children(self) -> dict[int | None, list[Span]]:
        out: dict[int | None, list[Span]] = {}
        for s in self.spans:
            out.setdefault(s.parent, []).append(s)
        return out

    def self_times(self) -> dict[int, float]:
        """Span wall time minus the part its children cover (children of
        one span never overlap: spans are opened by one thread)."""
        kids = self.children()
        return {
            s.id: s.wall - sum(c.wall for c in kids.get(s.id, ())) for s in self.spans
        }

    def ancestors(self, s: Span) -> Iterator[Span]:
        while s.parent is not None:
            s = self.spans[s.parent]  # span ids are their list index
            yield s

    def write(self, path: Path) -> None:
        path.write_text(json.dumps([asdict(s) for s in self.spans]))
