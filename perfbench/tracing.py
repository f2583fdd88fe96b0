"""Spans around the engine's layers, job labels, and event-log folding.

The benchmark records spans from its own side of each layer boundary:
it replaces a module function (or class method) with a :class:`_Probe`
that times the call, links it to the enclosing span and, for layers
that launch Spark jobs, sets ``spark.job.description`` to the layer's
name for the duration of the call.  No engine file changes.

Afterwards :func:`fold_event_log` reads the Spark event log of the
traced run and charges each job to the innermost labelled span open
when it was submitted -- which also covers jobs launched from threads
that do not carry our labels, like the streaming engine's.  Per job it
sums task run time, Python worker time, bytes sent to and returned
from Python, shuffle and output bytes, and scheduling time
(job wall - task time / slots).

Route counting is always on, traced or not: it is one integer
increment per call of ``query_exec.search_segmented`` and
``pruning.search_pruned``.
"""

from __future__ import annotations

import collections
import json
import os
import time
import types
from contextlib import contextmanager

from pyspark import SparkContext

DESC = "spark.job.description"


class Span:
    __slots__ = ("id", "parent", "name", "label", "t0", "t1", "n")

    def __init__(self, sid, parent, name, label, n):
        self.id, self.parent, self.name, self.n = sid, parent, name, n
        self.label = label
        self.t0 = time.time()
        self.t1 = None

    @property
    def dur(self) -> float:
        return self.t1 - self.t0


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.route = collections.Counter()
        self._patches: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str, label: bool = False, n: int = 0):
        """Record ``name`` around the block; with ``label`` also tag the
        Spark jobs it launches.  A no-op when tracing is off."""
        if not self.enabled:
            yield None
            return
        s = Span(len(self.spans), self._stack[-1].id if self._stack else None,
                 name, label, n)
        self.spans.append(s)
        self._stack.append(s)
        sc = SparkContext._active_spark_context if label else None
        prev = sc.getLocalProperty(DESC) if sc is not None else None
        if sc is not None:
            sc.setJobDescription(name)
        try:
            yield s
        finally:
            s.t1 = time.time()
            self._stack.pop()
            # a session restart inside the span leaves a new context,
            # which never carried this label
            if sc is not None and sc is SparkContext._active_spark_context:
                sc.setLocalProperty(DESC, prev)

    def patch(self, owner, attr: str, name: str, label: bool = False,
              route: str | None = None, count=None) -> None:
        """Replace ``owner.attr`` with a probe.  ``name`` may be a
        callable ``(args, kwargs) -> str``; ``count(args, kwargs)`` gives
        the span a work count (e.g. terms fetched)."""
        orig = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        setattr(owner, attr, _Probe(self, owner, attr, orig, name, label,
                                    route, count))
        self._patches.append((owner, attr, orig))

    def unpatch(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    # -- folding spans -------------------------------------------------

    def self_times(self) -> dict[int, float]:
        """Span id -> duration minus the time its direct children cover."""
        own = {s.id: s.dur for s in self.spans}
        for s in self.spans:
            if s.parent is not None:
                own[s.parent] -= s.dur
        return own

    def within(self, roots: list[Span]) -> list[Span]:
        """``roots`` and every span below them."""
        inside = {s.id for s in roots}
        out = list(roots)
        for s in self.spans:          # parents precede children
            if s.parent in inside and s.id not in inside:
                inside.add(s.id)
                out.append(s)
        return out

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]


class _Probe:
    """Callable stand-in for a module function or method.

    Pickles as ``getattr(owner, attr)``: a Python worker that receives a
    closure referring to the probe resolves it to its own, unpatched
    function, so the traced run ships the same kernels as the timed one.
    """

    def __init__(self, tracer, owner, attr, fn, name, label, route, count):
        self._tracer, self._owner, self._attr, self._fn = tracer, owner, attr, fn
        self._name, self._label, self._route, self._count = name, label, route, count

    def __call__(self, *args, **kwargs):
        if self._route:
            self._tracer.route[self._route] += 1
        if not self._tracer.enabled:
            return self._fn(*args, **kwargs)
        n = self._count(args, kwargs) if self._count else 0
        name = self._name(args, kwargs) if callable(self._name) else self._name
        with self._tracer.span(name, self._label, n):
            return self._fn(*args, **kwargs)

    def __get__(self, obj, cls=None):
        return self if obj is None else types.MethodType(self, obj)

    def __reduce__(self):
        return getattr, (self._owner, self._attr)


# -- event log -------------------------------------------------------------

_PY_RUN = "time to run Python workers"
_PY_SENT = "data sent to Python workers"
_PY_BACK = "data returned from Python workers"


class JobStats:
    __slots__ = ("jobs", "wall_s", "run_s", "python_s", "arrow_in",
                 "arrow_out", "shuffle_bytes", "output_bytes", "sched_s")

    def __init__(self):
        for k in self.__slots__:
            setattr(self, k, 0)

    def add(self, other: "JobStats") -> None:
        for k in self.__slots__:
            setattr(self, k, getattr(self, k) + getattr(other, k))


def _event_files(log_dir: str) -> list[str]:
    """Event files of the run's one application, in write order (Spark
    4 rolls them: ``eventlog_v2_<app>/events_<n>_<app>``)."""
    (app,) = os.listdir(log_dir)
    d = os.path.join(log_dir, app)
    ev = [f for f in os.listdir(d) if f.startswith("events_")]
    return [os.path.join(d, f)
            for f in sorted(ev, key=lambda f: int(f.split("_")[1]))]


def fold_event_log(log_dir: str, tracer: Tracer, slots: int
                   ) -> dict[int | None, JobStats]:
    """Job statistics of every job in the event log, summed per span id:
    the innermost labelled span open when the job was submitted (its
    description picks between spans that both contain the submission
    instant).  Jobs outside every labelled span sum under ``None``."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for path in _event_files(log_dir):
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    desc = (e.get("Properties") or {}).get(DESC)
                    jobs[e["Job ID"]] = {"desc": desc, "t0": e["Submission Time"],
                                         "t1": None, "st": JobStats()}
                    for sid in e["Stage IDs"]:
                        stage_job.setdefault(sid, e["Job ID"])
                elif kind == "SparkListenerJobEnd":
                    jobs[e["Job ID"]]["t1"] = e["Completion Time"]
                elif kind == "SparkListenerTaskEnd":
                    key = stage_job.get(e["Stage ID"])
                    tm = e.get("Task Metrics")
                    if key is None or tm is None:
                        continue
                    st = jobs[key]["st"]
                    st.run_s += tm["Executor Run Time"] / 1e3
                    st.shuffle_bytes += tm["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                    st.output_bytes += tm["Output Metrics"]["Bytes Written"]
                    for acc in e["Task Info"].get("Accumulables", []):
                        name, upd = acc.get("Name"), acc.get("Update")
                        if upd is None:
                            continue
                        if name == _PY_RUN:
                            st.python_s += int(upd) / 1e3
                        elif name == _PY_SENT:
                            st.arrow_in += int(upd)
                        elif name == _PY_BACK:
                            st.arrow_out += int(upd)
    labelled = sorted((s for s in tracer.spans if s.label and s.t1 is not None),
                      key=lambda s: s.dur)
    out: dict[int | None, JobStats] = collections.defaultdict(JobStats)
    for job in jobs.values():
        st = job["st"]
        st.jobs = 1
        if job["t1"] is not None:
            st.wall_s = (job["t1"] - job["t0"]) / 1e3
            st.sched_s = max(0.0, st.wall_s - st.run_s / slots)
        t = job["t0"] / 1e3
        # event-log times are whole milliseconds
        open_ = [s for s in labelled if s.t0 - 2e-3 <= t <= s.t1 + 2e-3]
        span = next((s for s in open_ if s.name == job["desc"]),
                    open_[0] if open_ else None)
        out[span.id if span else None].add(st)
    return out
