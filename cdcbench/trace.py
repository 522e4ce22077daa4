"""Spans, Spark job spans and percentile helpers for the CDC benchmark.

Spans are recorded only around the benchmark's own calls into the engine
(run -> workload -> round/trigger -> layer call -> Spark jobs). They stay in
memory and are written to one JSON file when the run ends. Spark job spans
and stage metrics come from the driver's status store over py4j: a traced
call runs under its own job group, so the jobs it launched are exactly the
group's jobs. Jobs launched inside the streaming query carry the batch id
Spark puts in their description (``batch = N``).
"""

from __future__ import annotations

import itertools
import json
import re
import time
from contextlib import contextmanager

_BATCH_RE = re.compile(r"batch = (\d+)")


def median(xs: list[float]) -> float:
    s = sorted(xs)
    n = len(s)
    if n == 0:
        raise ValueError("median of no samples")
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def ptail(xs: list[float]) -> tuple[float, float, int]:
    """The highest percentile with at least ten samples beyond it, as
    (value, percentile, sample count). Below twenty samples that percentile
    would not exceed the median (and below eleven it does not exist), so the
    maximum is returned instead and labelled p100."""
    s = sorted(xs)
    n = len(s)
    if n >= 20:
        return s[n - 11], round(100.0 * (n - 10) / n, 1), n
    return s[-1], 100.0, n


def union_seconds(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _opt(o):
    return o.get() if o.isDefined() else None


class SparkJobs:
    """Reads finished jobs and their stage metrics from the status store."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()

    def _stage(self, sid: int) -> dict:
        try:
            st = self.store.lastStageAttempt(sid)
        except Exception:  # a stage that never ran has no attempt
            return {}
        return {
            "executor_run_s": st.executorRunTime() / 1000.0,
            "input_bytes": st.inputBytes(),
            "input_records": st.inputRecords(),
            "shuffle_read_bytes": st.shuffleReadBytes(),
            "shuffle_write_bytes": st.shuffleWriteBytes(),
            "spill_bytes": st.memoryBytesSpilled() + st.diskBytesSpilled(),
        }

    def job(self, jid: int, wait_s: float = 5.0) -> dict:
        """One finished job: its interval (epoch seconds) and summed stage
        metrics. Waits for the status listener to record the job's end."""
        deadline = time.time() + wait_s
        while True:
            jd = self.store.job(jid)
            end = _opt(jd.completionTime())
            if end is not None or time.time() > deadline:
                break
            time.sleep(0.02)
        start = _opt(jd.submissionTime())
        desc = _opt(jd.description()) or ""
        m = _BATCH_RE.search(desc)
        sids = jd.stageIds()
        out = {
            "job_id": jid,
            "start": start.getTime() / 1000.0 if start is not None else None,
            "end": end.getTime() / 1000.0 if end is not None else None,
            "batch": int(m.group(1)) if m else None,
            "executor_run_s": 0.0,
            "input_bytes": 0,
            "input_records": 0,
            "shuffle_read_bytes": 0,
            "shuffle_write_bytes": 0,
            "spill_bytes": 0,
        }
        for i in range(sids.size()):
            for k, v in self._stage(sids.apply(i)).items():
                out[k] += v
        return out

    def group(self, gid: str) -> list[dict]:
        return [self.job(j) for j in sorted(self.sc.statusTracker().getJobIdsForGroup(gid))]

    def since(self, first_id: int) -> list[dict]:
        """Every job with an id >= ``first_id`` (job ids are global and
        monotone)."""
        jl = self.store.jobsList(None)
        ids = sorted(i for i in (jl.apply(k).jobId() for k in range(jl.size())) if i >= first_id)
        return [self.job(j) for j in ids]

    def next_id(self) -> int:
        jl = self.store.jobsList(None)
        return 1 + max((jl.apply(k).jobId() for k in range(jl.size())), default=-1)


class Tracer:
    """In-memory span recorder. ``call`` wraps one layer call in a job group
    and attaches the Spark jobs it launched as child spans."""

    enabled = True

    def __init__(self, spark, run_id: str):
        self.spark = spark
        self.run_id = run_id
        self.jobs = SparkJobs(spark)
        self.spans: list[dict] = []
        self.overhead = 0.0  # seconds spent in tracing bookkeeping
        self._ids = itertools.count(1)
        self._stack: list[int] = []

    def _open(self, name: str, attrs: dict) -> dict:
        sp = {
            "id": next(self._ids),
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
            "name": name,
            "start": time.time(),
            "end": None,
            **attrs,
        }
        self.spans.append(sp)
        self._stack.append(sp["id"])
        return sp

    def _close(self, sp: dict) -> None:
        sp["end"] = time.time()
        self._stack.pop()

    @contextmanager
    def span(self, name: str, **attrs):
        sp = self._open(name, attrs)
        try:
            yield sp
        finally:
            self._close(sp)

    @contextmanager
    def call(self, name: str, **attrs):
        """A layer call: span + job group; on exit the call's Spark jobs are
        read from the status store and recorded as child spans."""
        t0 = time.perf_counter()
        sp = self._open(name, attrs)
        gid = f"{self.run_id}:{sp['id']}"
        self.spark.sparkContext.setJobGroup(gid, name)
        self.overhead += time.perf_counter() - t0
        try:
            yield sp
        finally:
            t0 = time.perf_counter()
            self.spark.sparkContext._jsc.clearJobGroup()
            self._close(sp)
            self.add_jobs(sp, self.jobs.group(gid))
            self.overhead += time.perf_counter() - t0

    def add_jobs(self, parent: dict, jobs: list[dict]) -> None:
        parent["jobs"] = len(jobs)
        for j in jobs:
            self.spans.append(
                {
                    "id": next(self._ids),
                    "parent": parent["id"],
                    "run_id": self.run_id,
                    "name": "spark.job",
                    **j,
                }
            )

    def children(self, sp: dict) -> list[dict]:
        return [s for s in self.spans if s["parent"] == sp["id"]]

    def job_seconds(self, sp: dict) -> float:
        """Part of the span's interval covered by its Spark job children."""
        iv = [(c["start"], c["end"]) for c in self.children(sp) if c["name"] == "spark.job" and c["start"] and c["end"]]
        return union_seconds(iv, sp["start"], sp["end"])

    def self_seconds(self) -> dict[str, float]:
        """Self time per span name: duration minus the part of its interval
        its child spans cover."""
        out: dict[str, float] = {}
        for sp in self.spans:
            if sp.get("start") is None or sp.get("end") is None:
                continue
            iv = [(c["start"], c["end"]) for c in self.children(sp) if c.get("start") and c.get("end")]
            own = (sp["end"] - sp["start"]) - union_seconds(iv, sp["start"], sp["end"])
            out[sp["name"]] = out.get(sp["name"], 0.0) + own
        return out

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": self.spans, "self_s": self.self_seconds(), **extra}, f)


class NullTracer:
    """Untraced runs: same interface, records nothing, touches no Spark
    state."""

    enabled = False

    @contextmanager
    def span(self, name: str, **attrs):
        yield {}

    call = span
