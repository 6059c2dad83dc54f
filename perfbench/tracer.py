"""Traced mode: spans around the public methods of each engine layer, with
Spark jobs attributed to the innermost span through the job group.

Nothing inside ``helixdb_spark`` changes: :meth:`Tracer.install` replaces
methods on the classes for the life of one benchmark process and
:meth:`Tracer.uninstall` puts the originals back. Spans are kept in memory
and the per-job and per-stage figures are read back from Spark's status
store once, after the measured loop (:meth:`Tracer.layer_profile`).

A method that returns a lazy ``DataFrame`` (``scan``, ``ivf_topk``,
``ivf_share_drift``) does its work when the caller runs an action on the
result, after the method's span has closed. The returned frame is given a
subclass whose actions open an ``action`` span under the same op name and
op id, so those jobs count against the method that built the plan.
"""

from __future__ import annotations

import functools
import itertools
import json
import statistics
import time
from dataclasses import dataclass, field
from typing import Optional

from pyspark.sql import DataFrame

ENGINE_OPS = ("put", "compact", "outdate", "get_many", "get_many_asof", "scan")
INDEX_OPS = ("write_ivf", "append_ivf", "ivf_share_drift", "compact_index", "ivf_topk")
FSIO_OPS = {
    "write_text_cas": "write_text_cas",
    "read_pointer_log": "read_pointer_log",
    "read_text_versioned": "read_pointer_log",
    "exists": "listing",
    "listdir": "listing",
    "list_buckets": "listing",
    "file_sizes": "listing",
    "delete": "delete",
    "move": "move",
}
OP_MEASURES = (
    ("calls", "count"),
    ("self_ms_p50", "ms"),
    ("jobs_per_call", "count"),
    ("stages_per_call", "count"),
    ("input_bytes_per_call", "B"),
    ("shuffle_bytes_per_call", "B"),
    ("output_bytes_per_call", "B"),
    ("executor_ms_per_call", "ms"),
    ("driver_ms_per_call", "ms"),
)
_ACTIONS = ("collect", "count", "first", "head", "take", "isEmpty", "toPandas")


@dataclass
class Span:
    sid: int
    name: str
    kind: str  # "call" or "action"
    parent: Optional[int]
    op_id: int
    call: int  # sid of the call span an action span continues
    start: float  # epoch seconds, comparable with Spark's job timestamps
    end: float = 0.0
    group: Optional[str] = None
    jobs: list = field(default_factory=list)


class Tracer:
    """Records spans for the wrapped layers of one Spark session."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count()
        self._patched: list[tuple[type, str, object]] = []
        self._traced_types: dict[type, type] = {}
        self.actions: dict[str, int] = {"compact": 0, "outdate": 0}

    # ------------------------------------------------------------- spans
    def _open(self, name: str, kind: str, jobs: bool, cont=None) -> Span:
        parent = self._stack[-1] if self._stack else None
        sid = next(self._ids)
        if cont is not None:
            call, op_id = cont
        else:
            call, op_id = sid, (parent.op_id if parent is not None else sid)
        sp = Span(sid, name, kind, parent.sid if parent else None, op_id, call,
                  time.time())
        if jobs:
            sp.group = f"perfbench-{sid}"
            self.sc.setJobGroup(sp.group, name)
        self.spans.append(sp)
        self._stack.append(sp)
        return sp

    def _close(self, sp: Span) -> None:
        sp.end = time.time()
        self._stack.pop()
        if sp.group is not None:
            # jobs fired after this point belong to the nearest enclosing
            # span that owns a group (or to none)
            outer = next((s for s in reversed(self._stack) if s.group), None)
            if outer is None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            else:
                self.sc.setJobGroup(outer.group, outer.name)

    def _call(self, fn, name: str, kind: str, jobs: bool, cont=None):
        sp = self._open(name, kind, jobs, cont)
        try:
            out = fn()
        finally:
            self._close(sp)
        if jobs and isinstance(out, DataFrame):
            self._bind(out, name, (sp.call, sp.op_id))
        return out

    def _bind(self, df: DataFrame, name: str, cont: tuple) -> None:
        base = type(df)
        traced = self._traced_types.get(base)
        if traced is None:
            traced = type(f"Traced{base.__name__}", (base,), {
                a: _traced_action(getattr(base, a)) for a in _ACTIONS
            })
            self._traced_types[base] = traced
        df.__class__ = traced
        df._perfbench = (self, name, cont)

    # ----------------------------------------------------------- install
    def _wrap(self, cls: type, method: str, name: str, jobs: bool, post=None) -> None:
        orig = cls.__dict__[method]
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if tracer._stack and tracer._stack[-1].name == name:
                return orig(*args, **kwargs)  # e.g. list_buckets -> listdir
            out = tracer._call(lambda: orig(*args, **kwargs), name, "call", jobs)
            if post is not None:
                post(out)
            return out

        setattr(cls, method, wrapper)
        self._patched.append((cls, method, orig))

    def install(self) -> None:
        from helixdb_spark.engine import HelixSpark
        from helixdb_spark.fsio import EngineFS
        from helixdb_spark.index_store import AnnIndexStore
        from helixdb_spark.maintenance import Compact, SimpleTimestampReviewer

        for m in ENGINE_OPS:
            self._wrap(HelixSpark, m, f"engine.{m}", True)
        for m in INDEX_OPS:
            self._wrap(AnnIndexStore, m, f"index_store.{m}", True)
        for m, op in FSIO_OPS.items():
            self._wrap(EngineFS, m, f"fsio.{op}", False)

        def count_actions(actions):
            for a in actions:
                self.actions["compact" if isinstance(a, Compact) else "outdate"] += 1

        self._wrap(SimpleTimestampReviewer, "observe", "maintenance.observe", False,
                   count_actions)

    def uninstall(self) -> None:
        for cls, method, orig in reversed(self._patched):
            setattr(cls, method, orig)
        self._patched.clear()

    def calls(self, name: str) -> int:
        return sum(1 for sp in self.spans if sp.name == name and sp.kind == "call")

    # ---------------------------------------------------------- readback
    def _read_jobs(self) -> None:
        st = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        for sp in self.spans:
            if sp.group is None:
                continue
            for jid in st.getJobIdsForGroup(sp.group):
                jd = store.job(jid)
                sub, comp = jd.submissionTime(), jd.completionTime()
                job = {
                    "start": sub.get().getTime() / 1e3 if sub.isDefined() else sp.start,
                    "end": comp.get().getTime() / 1e3 if comp.isDefined() else sp.end,
                    "stages": 0, "input": 0, "shuffle": 0, "output": 0,
                    "executor_ms": 0, "input_records": 0,
                }
                for sid in st.getJobInfo(jid).stageIds:
                    sd = store.lastStageAttempt(sid)
                    if sd.status().toString() != "COMPLETE":
                        continue  # skipped: its output was reused
                    job["stages"] += 1
                    job["input"] += sd.inputBytes()
                    job["input_records"] += sd.inputRecords()
                    job["shuffle"] += sd.shuffleWriteBytes()
                    job["output"] += sd.outputBytes()
                    job["executor_ms"] += sd.executorRunTime()
                sp.jobs.append(job)

    def layer_profile(self) -> dict:
        """Per-op figures: ``{op: {measure: value}}`` plus the raw totals the
        workload-level ratios need."""
        self._read_jobs()
        children: dict[int, list[Span]] = {}
        for sp in self.spans:
            if sp.parent is not None:
                children.setdefault(sp.parent, []).append(sp)
        per_op: dict[str, dict] = {}
        for sp in self.spans:
            kids = [(c.start, c.end) for c in children.get(sp.sid, [])]
            self_s = (sp.end - sp.start) - _covered(sp.start, sp.end, kids)
            busy = _covered(sp.start, sp.end, [(j["start"], j["end"]) for j in sp.jobs] + kids)
            acc = per_op.setdefault(sp.name, {
                "calls": 0, "self_by_call": {}, "jobs": 0, "stages": 0, "input": 0,
                "shuffle": 0, "output": 0, "executor_ms": 0, "driver_s": 0.0,
                "input_records": 0, "total_s": 0.0,
            })
            if sp.kind == "call":
                acc["calls"] += 1
            acc["self_by_call"][sp.call] = acc["self_by_call"].get(sp.call, 0.0) + self_s
            acc["total_s"] += sp.end - sp.start
            acc["driver_s"] += (sp.end - sp.start) - busy
            acc["jobs"] += len(sp.jobs)
            for j in sp.jobs:
                for k in ("stages", "input", "shuffle", "output", "executor_ms", "input_records"):
                    acc[k] += j[k]
        return per_op

    def dump(self, path: str) -> None:
        """Write the spans as JSON lines (after :meth:`layer_profile`)."""
        with open(path, "w") as f:
            for sp in self.spans:
                f.write(json.dumps({
                    "sid": sp.sid, "name": sp.name, "kind": sp.kind,
                    "parent": sp.parent, "op_id": sp.op_id, "start": sp.start,
                    "end": sp.end, "jobs": len(sp.jobs),
                }) + "\n")


def op_measures(acc: Optional[dict]) -> dict:
    """The nine per-op measures from one :meth:`Tracer.layer_profile` entry
    (all zero for an op the workload never called)."""
    if not acc or not acc["calls"]:
        return {m: 0.0 for m, _ in OP_MEASURES}
    n = acc["calls"]
    return {
        "calls": float(n),
        "self_ms_p50": statistics.median(acc["self_by_call"].values()) * 1e3,
        "jobs_per_call": acc["jobs"] / n,
        "stages_per_call": acc["stages"] / n,
        "input_bytes_per_call": acc["input"] / n,
        "shuffle_bytes_per_call": acc["shuffle"] / n,
        "output_bytes_per_call": acc["output"] / n,
        "executor_ms_per_call": acc["executor_ms"] / n,
        "driver_ms_per_call": acc["driver_s"] * 1e3 / n,
    }


def _covered(lo: float, hi: float, intervals) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def _traced_action(orig):
    @functools.wraps(orig)
    def action(self, *args, **kwargs):
        tracer, name, cont = self._perfbench
        if tracer._stack and tracer._stack[-1].kind == "action":
            return orig(self, *args, **kwargs)  # first -> head -> take
        return tracer._call(lambda: orig(self, *args, **kwargs), name, "action",
                            True, cont)

    return action
