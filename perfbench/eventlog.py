"""Spark event-log parser (uncompressed, non-rolling JSON lines), and
a reader for the JVM's GC log.

Jobs are attributed to the benchmark's spans by time window: a job
belongs to a span when it was submitted inside the span's interval.
Each job's call site goes into the run record with it, so an
attribution can be checked by hand. Stages are classified by the
physical operators in their RDD scopes (the OCR stage is the one that
runs ``MapInPandas``).
"""

from __future__ import annotations

import json
import statistics
import re
from dataclasses import dataclass, field


@dataclass
class Task:
    stage: int
    launch_ms: int
    finish_ms: int
    run_ms: int
    cpu_ns: int
    gc_ms: int
    shuffle_write_bytes: int
    spill_bytes: int
    records_read: int
    bytes_written: int


@dataclass
class Stage:
    id: int
    name: str
    scopes: set[str]
    tasks: list[Task] = field(default_factory=list)


@dataclass
class Job:
    id: int
    submit_ms: int
    end_ms: int = 0
    stage_ids: list[int] = field(default_factory=list)
    call_site: str = ""


@dataclass
class EventLog:
    jobs: dict[int, Job]
    stages: dict[int, Stage]

    def jobs_between(self, start_ms: float, end_ms: float) -> list[Job]:
        return sorted(
            (j for j in self.jobs.values() if start_ms <= j.submit_ms <= end_ms),
            key=lambda j: j.submit_ms,
        )

    def tasks_of(self, jobs: list[Job], scope: str | None = None) -> list[Task]:
        out = []
        for j in jobs:
            for sid in j.stage_ids:
                st = self.stages.get(sid)
                if st is not None and (scope is None or scope in st.scopes):
                    out.extend(st.tasks)
        return out


def _scope_name(rdd: dict) -> str:
    try:
        return json.loads(rdd.get("Scope", "{}")).get("name", "")
    except ValueError:
        return ""


def parse(path: str) -> EventLog:
    jobs: dict[int, Job] = {}
    stages: dict[int, Stage] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                infos = ev.get("Stage Infos", [])
                for si in infos:
                    stages.setdefault(si["Stage ID"], Stage(
                        si["Stage ID"], si["Stage Name"],
                        {_scope_name(r) for r in si.get("RDD Info", [])},
                    ))
                # adaptive-execution jobs carry no call site of their own;
                # their first stage's name does
                site = (ev.get("Properties") or {}).get("callSite.short") or (
                    infos[0]["Stage Name"] if infos else "")
                jobs[ev["Job ID"]] = Job(ev["Job ID"], ev["Submission Time"],
                                         stage_ids=list(ev["Stage IDs"]), call_site=site)
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]].end_ms = ev["Completion Time"]
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics")
                info = ev["Task Info"]
                st = stages.get(ev["Stage ID"])
                if not m or st is None or info.get("Failed") or info.get("Killed"):
                    continue
                st.tasks.append(Task(
                    stage=ev["Stage ID"],
                    launch_ms=info["Launch Time"],
                    finish_ms=info["Finish Time"],
                    run_ms=m["Executor Run Time"],
                    cpu_ns=m["Executor CPU Time"],
                    gc_ms=m["JVM GC Time"],
                    shuffle_write_bytes=m["Shuffle Write Metrics"]["Shuffle Bytes Written"],
                    spill_bytes=m["Disk Bytes Spilled"],
                    records_read=m["Input Metrics"]["Records Read"],
                    bytes_written=m["Output Metrics"]["Bytes Written"],
                ))
    return EventLog(jobs, stages)


def task_totals(tasks: list[Task]) -> dict[str, float]:
    return {
        "task_s": sum(t.run_ms for t in tasks) / 1e3,
        "cpu_s": sum(t.cpu_ns for t in tasks) / 1e9,
        "gc_s": sum(t.gc_ms for t in tasks) / 1e3,
        "shuffle_write_bytes": sum(t.shuffle_write_bytes for t in tasks),
        "spill_bytes": sum(t.spill_bytes for t in tasks),
        "records_read": sum(t.records_read for t in tasks),
        "bytes_written": sum(t.bytes_written for t in tasks),
    }


def stage_balance(tasks: list[Task], slots: int) -> dict[str, float]:
    """Skew of one operator's tasks, stage by stage: the longest task over
    the median one (worst stage), and the share of slot time left idle
    between each stage's first launch and last finish."""
    by_stage: dict[int, list[Task]] = {}
    for t in tasks:
        by_stage.setdefault(t.stage, []).append(t)
    worst, busy, capacity = 0.0, 0.0, 0.0
    for ts in by_stage.values():
        durs = [t.finish_ms - t.launch_ms for t in ts]
        med = statistics.median(durs)
        if med > 0:
            worst = max(worst, max(durs) / med)
        span = max(t.finish_ms for t in ts) - min(t.launch_ms for t in ts)
        busy += sum(durs)
        capacity += span * slots
    return {
        "task_max_over_median": worst,
        "slot_idle_share": 1.0 - busy / capacity if capacity > 0 else 0.0,
    }


# "[12.345s][info][gc] GC(7) Pause Young (Normal) (G1 Evacuation Pause)
#  512M->120M(1024M) 8.123ms", the JVM's default -Xlog:gc decorations
_GC_PAUSE = re.compile(r"^\[(\d+\.\d+)s\].* Pause .*?(\d+)([KMG])->(\d+)([KMG])"
                       r"\((\d+)([KMG])\) (\d+\.\d+)ms")
_MB = {"K": 1 / 1024, "M": 1.0, "G": 1024.0}


def parse_gc_log(path: str, until_s: float) -> dict[str, float]:
    """Heap figures of the pauses logged in the JVM's first ``until_s``
    seconds: the peak heap in use (before a pause), the peak live heap
    (after a young or full collection), the peak committed heap, in MB,
    and the pause seconds."""
    before = after = committed = pause_ms = 0.0
    with open(path) as f:
        for line in f:
            m = _GC_PAUSE.match(line)
            if m is None or float(m.group(1)) > until_s:
                continue
            before = max(before, int(m.group(2)) * _MB[m.group(3)])
            if " Pause Young" in line or " Pause Full" in line:  # those collect
                after = max(after, int(m.group(4)) * _MB[m.group(5)])
            committed = max(committed, int(m.group(6)) * _MB[m.group(7)])
            pause_ms += float(m.group(8))
    return {"jvm.heap_used_peak_mb": before, "jvm.heap_live_peak_mb": after,
            "jvm.heap_committed_peak_mb": committed, "jvm.gc_pause_s": pause_ms / 1e3}
