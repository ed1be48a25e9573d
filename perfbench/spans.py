"""Spans, interval arithmetic and Spark status-store readers.

The benchmark records spans from outside the package: around the calls
into ``session``, ``sources``, the registered query callables and
``caching``, plus Spark's own job and stage records.  Everything here
except :func:`spark_jobs` is plain Python so it can be tested without a
Spark session.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

BARRIER_CALL = re.compile(r"^(localCheckpoint|checkpoint) at ")
ML_ROUND_CALL = re.compile(r"^(toPandas|collect) at .*[/\\]ml\.py:\d+$")


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    start: float  # epoch seconds
    end: float
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Keeps spans in memory; :meth:`dump` returns them with self time."""

    def __init__(self) -> None:
        self.spans: list[Span] = []

    def add(self, parent: int | None, name: str, start: float, end: float, **attrs) -> int:
        sid = len(self.spans)
        self.spans.append(Span(sid, parent, name, start, end, attrs))
        return sid

    def dump(self) -> list[dict]:
        selfs = self_times(self.spans)
        return [
            {
                "id": s.id,
                "parent": s.parent,
                "name": s.name,
                "start": s.start,
                "end": s.end,
                "self_s": selfs[s.id],
                **s.attrs,
            }
            for s in self.spans
        ]


def union_s(intervals) -> float:
    """Length of the union of ``(start, end)`` intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(iv for iv in intervals if iv[1] > iv[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(intervals, lo: float, hi: float) -> list[tuple[float, float]]:
    return [(max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi]


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of it its children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.id: s.dur - union_s(clip(children.get(s.id, []), s.start, s.end))
        for s in spans
    }


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def spark_jobs(sc, group: str) -> list[dict]:
    """Jobs Spark ran under job group ``group``, with their completed
    stages, read from the status store after the listener bus drains."""
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty(30_000)
    store = jsc.statusStore()
    jobs = []
    for jid in sorted(sc.statusTracker().getJobIdsForGroup(group)):
        jd = store.job(jid)
        stages = []
        ids = jd.stageIds()
        for i in range(ids.size()):
            try:
                sd = store.lastStageAttempt(ids.apply(i))
            except Exception:  # noqa: BLE001 - never-run stage
                continue
            if str(sd.status()) != "COMPLETE":
                continue
            stages.append({
                "id": sd.stageId(),
                "start": _opt_ms(sd.submissionTime()),
                "end": _opt_ms(sd.completionTime()),
                "tasks": sd.numTasks(),
                "run_s": sd.executorRunTime() / 1e3,
                "cpu_s": sd.executorCpuTime() / 1e9,
                "gc_s": sd.jvmGcTime() / 1e3,
                "shuffle_write": sd.shuffleWriteBytes(),
                "shuffle_read": sd.shuffleReadBytes(),
                "spill": sd.memoryBytesSpilled() + sd.diskBytesSpilled(),
                "input_rows": sd.inputRecords(),
            })
        start, end = _opt_ms(jd.submissionTime()), _opt_ms(jd.completionTime())
        jobs.append({
            "id": jid,
            "name": jd.name(),
            "status": str(jd.status()),
            "start": start,
            "end": end if end is not None else start,
            "stages": stages,
        })
    return jobs


def job_sum(jobs: list[dict], key: str) -> float:
    return sum(st[key] for j in jobs for st in j["stages"])


def job_wall_s(jobs: list[dict]) -> float:
    return union_s((j["start"], j["end"]) for j in jobs if j["start"] is not None)
