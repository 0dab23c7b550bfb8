"""Per-layer ledger for the traced run: spans, Spark job groups, stage metrics.

The ledger lives in the benchmark, not in ``suggest_spark``: it wraps the
package's module functions from outside (:meth:`Ledger.wrap`) and puts the
originals back when the run ends (:meth:`Ledger.uninstall`).  Each wrapped
call becomes a span ``(id, name, phase, thread, start, end, parent)``, kept in
memory.  A span marked ``spark`` runs its Spark jobs under a job group of its
own, so its stage metrics can be read back from the status store afterwards:

    statusTracker().getJobIdsForGroup(group) -> job ids
    getJobInfo(job).stageIds                 -> stage ids
    statusStore().lastStageAttempt(stage)    -> executor run/CPU time,
                                                shuffle and spill bytes

Many layers return a lazy DataFrame whose jobs run only when the caller acts
on it.  Such a layer is wrapped ``lazy``: its span stays open, and its job
group stays set, until the next span starts under the same parent or the
parent ends.  So the jobs the caller runs on the result are charged to it.
"""

from __future__ import annotations

import functools
import itertools
import math
import statistics
import threading
import time

from py4j.protocol import Py4JJavaError

#: job group of Spark jobs outside every traced span
OTHER_GROUP = "perfbench.other"


class Ledger:
    def __init__(self, sc):
        self.sc = sc
        self.phase = "setup"
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._undo: list[tuple] = []

    # -- spans ----------------------------------------------------------------

    def _stack(self) -> list[dict]:
        st = getattr(self._local, "stack", None)
        if st is None:
            # per-thread root frame; it holds the thread's pending lazy span
            st = self._local.stack = [{"id": None, "group": OTHER_GROUP, "lazy": None}]
            self.sc.setJobGroup(OTHER_GROUP, OTHER_GROUP)
        return st

    def _open(self, name: str, spark: bool, parent: dict) -> dict:
        sid = next(self._ids)
        group = f"perfbench.span.{sid}" if spark else parent["group"]
        if spark:
            self.sc.setJobGroup(group, name)
        return {
            "id": sid,
            "name": name,
            "phase": self.phase,
            "thread": threading.current_thread().name,
            "parent": parent["id"],
            "spark": spark,
            "group": group,
            "start": time.perf_counter(),
            "end": None,
            "counts": {},
            "lazy": None,
        }

    def _close(self, span: dict, parent: dict) -> None:
        span["end"] = time.perf_counter()
        if span["group"] != parent["group"]:
            self.sc.setJobGroup(parent["group"], parent["group"])
        del span["lazy"]
        self.spans.append(span)

    def _close_lazy(self, frame: dict) -> None:
        if frame["lazy"] is not None:
            lazy, frame["lazy"] = frame["lazy"], None
            self._close(lazy, frame)

    def begin(self, name: str, spark: bool = False) -> dict:
        st = self._stack()
        self._close_lazy(st[-1])
        span = self._open(name, spark, st[-1])
        st.append(span)
        return span

    def end(self) -> None:
        st = self._stack()
        span = st.pop()
        self._close_lazy(span)
        self._close(span, st[-1])

    def begin_lazy(self, name: str) -> None:
        st = self._stack()
        self._close_lazy(st[-1])
        st[-1]["lazy"] = self._open(name, True, st[-1])

    def flush(self) -> None:
        """Close this thread's pending root-level lazy span."""
        self._close_lazy(self._stack()[0])

    # -- wrapping the package's functions -----------------------------------

    def wrap(self, owner, attr: str, name, spark: bool = False,
             lazy: bool = False, after=None) -> None:
        """Replace ``owner.attr`` by a traced wrapper.  ``name`` is the layer
        name, or a function of the call's ``(args, kwargs)`` that returns it
        (``None``: no span for this call).  ``after(span, args, kwargs,
        result)`` may add counts to ``span["counts"]``."""
        raw = owner.__dict__[attr]
        is_cm = isinstance(raw, classmethod)
        orig = raw.__func__ if is_cm else raw

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            layer = name(args, kwargs) if callable(name) else name
            if layer is None:
                return orig(*args, **kwargs)
            if lazy:
                self.begin_lazy(layer)
                return orig(*args, **kwargs)
            span = self.begin(layer, spark)
            try:
                result = orig(*args, **kwargs)
                if after is not None:
                    after(span, args, kwargs, result)
                return result
            finally:
                self.end()

        setattr(owner, attr, classmethod(traced) if is_cm else traced)
        self._undo.append((owner, attr, raw))

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, raw = self._undo.pop()
            setattr(owner, attr, raw)

    # -- read-back ------------------------------------------------------------

    def _spark_metrics(self, group: str) -> dict:
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        job_ids = tracker.getJobIdsForGroup(group)
        stage_ids: set[int] = set()
        intervals = []
        for j in job_ids:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
            data = store.job(j)
            sub, done = data.submissionTime(), data.completionTime()
            if sub.isDefined() and done.isDefined():
                intervals.append((sub.get().getTime() / 1e3, done.get().getTime() / 1e3))
        out = {"jobs": len(job_ids), "job_s": _covered(intervals), "job_intervals": intervals,
               "run_s": 0.0, "cpu_s": 0.0, "shuffle_mb": 0.0, "spill_mb": 0.0, "tasks": 0}
        for s in stage_ids:
            try:
                st = store.lastStageAttempt(s)
            except Py4JJavaError:
                continue  # a skipped stage has no attempt
            out["run_s"] += st.executorRunTime() / 1e3
            out["cpu_s"] += st.executorCpuTime() / 1e9
            out["shuffle_mb"] += st.shuffleWriteBytes() / 1e6
            out["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / 1e6
            out["tasks"] += st.numTasks()
        return out

    def resolve(self) -> None:
        """Attach status-store metrics, the Spark job time of the span's
        subtree and the span's self time to every span."""
        kids: dict = {}
        for s in self.spans:
            kids.setdefault(s["parent"], []).append(s)
        for s in self.spans:
            s["spark_metrics"] = self._spark_metrics(s["group"]) if s["spark"] else None
        for s in self.spans:
            children = kids.get(s["id"], [])
            s["self_s"] = (s["end"] - s["start"]) - _covered(
                [(c["start"], c["end"]) for c in children]
            )

        def job_intervals(s: dict) -> list:
            own = s["spark_metrics"]["job_intervals"] if s["spark_metrics"] else []
            return own + [i for c in kids.get(s["id"], []) for i in job_intervals(c)]

        for s in self.spans:
            # jobs of one subtree can overlap: count the time any was running
            s["tree_job_s"] = _covered(job_intervals(s))

    def layer(self, name: str, phase: str | None = None, parent: str | None = None,
              per: int | None = None) -> dict:
        """Per-call medians over the spans called ``name`` (optionally only
        those in ``phase`` and under a parent span called ``parent``), plus
        summed counts; with ``per``, totals divided by ``per`` instead of
        medians (a layer called several times per unit of work).  Call
        :meth:`resolve` first."""
        agg = statistics.median if per is None else (lambda xs: sum(xs) / per)
        names = {s["id"]: s["name"] for s in self.spans}
        spans = [
            s for s in self.spans
            if s["name"] == name
            and (phase is None or s["phase"] == phase)
            and (parent is None or names.get(s["parent"]) == parent)
        ]
        if not spans:
            return {"calls": 0}
        durs = [s["end"] - s["start"] for s in spans]
        row = {
            "calls": len(spans),
            "wall_s": agg(durs),
            "self_s": agg([s["self_s"] for s in spans]),
            "us_p50": percentile(durs, 50) * 1e6,
            "us_p99": percentile(durs, 99) * 1e6,
            "driver_s": agg([(s["end"] - s["start"]) - s["tree_job_s"] for s in spans]),
        }
        if spans[0]["spark"]:
            for k in ("jobs", "job_s", "run_s", "cpu_s", "shuffle_mb", "spill_mb", "tasks"):
                row[k] = agg([s["spark_metrics"][k] for s in spans])
        for s in spans:
            for k, v in s["counts"].items():
                row[k] = row.get(k, 0) + v
        return row

    def dump(self) -> list[dict]:
        """Spans as written to the run record (times relative to the first)."""
        t0 = min((s["start"] for s in self.spans), default=0.0)
        return [
            {
                "id": s["id"], "name": s["name"], "phase": s["phase"],
                "thread": s["thread"], "parent": s["parent"],
                "start_s": round(s["start"] - t0, 6), "end_s": round(s["end"] - t0, 6),
                "self_s": round(s["self_s"], 6), "counts": s["counts"],
                "spark": s["spark_metrics"],
            }
            for s in self.spans
        ]


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile."""
    v = sorted(values)
    return v[min(len(v) - 1, max(0, math.ceil(p / 100 * len(v)) - 1))]


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``intervals``."""
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
