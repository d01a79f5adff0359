"""Spans recorded from outside the program, and Spark job/stage counts.

Only the traced run installs the wrappers: each one replaces a public
function of a program module with a timing shim and restores it on
``uninstall``. Spans nest per thread; a span's self time is its duration
minus the time its direct children cover, so a layer's self time never
counts the layers it calls.
"""

from __future__ import annotations

import functools
import importlib
import threading
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: "Span | None" = None
    child_s: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.dur - self.child_s

    def has_ancestor(self, name: str) -> bool:
        p = self.parent
        while p is not None:
            if p.name == name:
                return True
            p = p.parent
        return False


class Tracer:
    """In-memory span store; ``wrap`` installs a timing shim on a module
    attribute, ``uninstall`` puts every original back."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def begin(self, name: str) -> Span:
        st = self._stack()
        sp = Span(name, time.perf_counter(), parent=st[-1] if st else None)
        st.append(sp)
        return sp

    def end(self, sp: Span) -> None:
        sp.end = time.perf_counter()
        st = self._stack()
        if st and st[-1] is sp:
            st.pop()
        if sp.parent is not None:
            sp.parent.child_s += sp.dur
        with self._lock:
            self.spans.append(sp)

    def wrap(self, module: str, attr: str, name: str, on_call=None) -> None:
        """Replace ``module.attr`` with a shim recording span ``name``.
        ``on_call(span, args, kwargs)`` may annotate the span."""
        mod = importlib.import_module(module)
        orig = getattr(mod, attr)

        @functools.wraps(orig)
        def shim(*args, **kwargs):
            sp = self.begin(name)
            try:
                if on_call is not None:
                    on_call(sp, args, kwargs)
                return orig(*args, **kwargs)
            finally:
                self.end(sp)

        setattr(mod, attr, shim)
        self._patched.append((mod, attr, orig))

    def uninstall(self) -> None:
        while self._patched:
            mod, attr, orig = self._patched.pop()
            setattr(mod, attr, orig)

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def self_total(self, name: str) -> float:
        return sum(s.self_s for s in self.named(name))

    def clear(self) -> None:
        with self._lock:
            self.spans = []

    def take(self) -> list[Span]:
        """Return the recorded spans and start a fresh list."""
        with self._lock:
            out, self.spans = self.spans, []
        return out


class JobCounter:
    """Exact Spark job and stage counts per benchmark operation.

    The operation's own thread runs under a job group; jobs that program
    code submits from helper threads carry no group, so the ungrouped
    jobs that appear while the operation runs are counted with it. The
    listener bus is drained before each read, so no job lands in the
    wrong operation."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self._n = 0

    def _drain(self) -> None:
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)

    def _ungrouped(self) -> set[int]:
        return set(self.tracker.getJobIdsForGroup(None))

    def start(self) -> str:
        """Open a counted operation on the calling thread."""
        self._n += 1
        group = f"perfbench-op-{self._n}"
        self._drain()
        self._before = self._ungrouped()
        self.sc.setJobGroup(group, group)
        return group

    def stop(self, group: str) -> tuple[int, int]:
        """Close the operation; return its (jobs, stages)."""
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)
        self._drain()
        jobs = set(self.tracker.getJobIdsForGroup(group)) | (self._ungrouped() - self._before)
        stages: set[int] = set()
        for j in jobs:
            info = self.tracker.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        return len(jobs), len(stages)
