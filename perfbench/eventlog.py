"""Spark event-log reader that attributes jobs, stages, shuffle and spill to
query phases by time window.

Job groups are not enough: jobs started from foreachBatch callbacks and from
thread pools do not inherit the caller's group, so a streaming drain shows a
fraction of its jobs under its own group. Here a job belongs to the window
(query, phase) that contains its submission time, and a stage to the window
that contains the stage's submission time. Windows are wall-clock
milliseconds, the same clock the JVM stamps events with.
"""

from __future__ import annotations

import json
import os
import statistics
from dataclasses import dataclass, field


@dataclass
class Job:
    job_id: int
    submit_ms: int
    end_ms: int = 0
    stage_ids: tuple[int, ...] = ()


@dataclass
class Stage:
    stage_id: int
    attempt: int
    submit_ms: int
    end_ms: int
    num_tasks: int
    task_ms: list[int] = field(default_factory=list)
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0


@dataclass
class EventLog:
    jobs: dict[int, Job]
    stages: dict[tuple[int, int], Stage]


def find_log(log_dir: str) -> str:
    """The single application log in ``log_dir`` (finished or in progress)."""
    names = sorted(n for n in os.listdir(log_dir) if not n.startswith("."))
    if len(names) != 1:
        raise ValueError(f"expected one event log in {log_dir}, found {names}")
    return os.path.join(log_dir, names[0])


def read(path: str) -> EventLog:
    jobs: dict[int, Job] = {}
    stages: dict[tuple[int, int], Stage] = {}
    tasks: dict[tuple[int, int], list[dict]] = {}
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            # cheap prefilter: most lines are SQL/executor events we ignore
            if '"SparkListenerJob' not in line and '"SparkListenerStageCompleted"' not in line \
                    and '"SparkListenerTaskEnd"' not in line:
                continue
            try:
                ev = json.loads(line)
            except json.JSONDecodeError:  # a truncated last line of a live log
                continue
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                jobs[jid] = Job(jid, ev["Submission Time"], stage_ids=tuple(ev.get("Stage IDs", ())))
            elif kind == "SparkListenerJobEnd":
                job = jobs.get(ev["Job ID"])
                if job is not None:
                    job.end_ms = ev["Completion Time"]
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                key = (info["Stage ID"], info.get("Stage Attempt ID", 0))
                submit = info.get("Submission Time")
                if submit is None:  # skipped stage
                    continue
                stages[key] = Stage(key[0], key[1], submit, info.get("Completion Time", submit),
                                    info.get("Number of Tasks", 0))
            elif kind == "SparkListenerTaskEnd":
                key = (ev["Stage ID"], ev.get("Stage Attempt ID", 0))
                tasks.setdefault(key, []).append(ev)
    for key, evs in tasks.items():
        st = stages.get(key)
        if st is None:
            continue
        for ev in evs:
            info = ev.get("Task Info", {})
            st.task_ms.append(info.get("Finish Time", 0) - info.get("Launch Time", 0))
            m = ev.get("Task Metrics") or {}
            st.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            st.spill_bytes += m.get("Disk Bytes Spilled", 0)
    for job in jobs.values():
        if not job.end_ms:  # never finished (log cut): treat as instantaneous
            job.end_ms = job.submit_ms
    return EventLog(jobs, stages)


@dataclass(frozen=True)
class Window:
    key: tuple  # caller-defined, e.g. (pass_no, query, phase)
    start_ms: float
    end_ms: float


@dataclass
class WindowStats:
    jobs: int = 0
    busy_ms: float = 0.0
    stages: int = 0
    skew_max: float = 1.0
    single_task_ms: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0


def _locate(windows: list[Window], t: float) -> Window | None:
    for w in windows:
        if w.start_ms <= t <= w.end_ms:
            return w
    return None


def _union_ms(intervals: list[tuple[float, float]]) -> float:
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


def attribute(log: EventLog, windows: list[Window]) -> dict[tuple, WindowStats]:
    """Per-window job count, busy time (union of job intervals clipped to the
    window), stage skew, single-task stage time, shuffle and spill bytes."""
    out = {w.key: WindowStats() for w in windows}
    spans: dict[tuple, list[tuple[float, float]]] = {w.key: [] for w in windows}
    for job in log.jobs.values():
        w = _locate(windows, job.submit_ms)
        if w is None:
            continue
        out[w.key].jobs += 1
        spans[w.key].append((job.submit_ms, min(job.end_ms, w.end_ms)))
    for key, iv in spans.items():
        out[key].busy_ms = _union_ms(iv)
    for st in log.stages.values():
        w = _locate(windows, st.submit_ms)
        if w is None:
            continue
        s = out[w.key]
        s.stages += 1
        s.shuffle_write_bytes += st.shuffle_write_bytes
        s.spill_bytes += st.spill_bytes
        if st.num_tasks == 1:
            s.single_task_ms += st.end_ms - st.submit_ms
        elif len(st.task_ms) >= 2:
            med = statistics.median(st.task_ms)
            if med > 0:
                s.skew_max = max(s.skew_max, max(st.task_ms) / med)
    return out
