"""Spans recorded around the benchmark's calls into the program, and the
fold of Spark's event log into per-span layer statistics.

The benchmark wraps each public call it makes in ``Tracer.span``. In the
traced pass Spark writes its own event log (switched on at launch, from
outside the program); after the session stops, ``fold_event_log`` reads the
job, stage and task records and gives each job to the innermost span whose
interval holds the job's submission time — the driver submits jobs from one
thread, so that span is the call that caused it.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start_ms: float
    end_ms: float = 0.0
    attrs: dict = field(default_factory=dict)
    parent: int | None = None

    @property
    def wall_s(self) -> float:
        return (self.end_ms - self.start_ms) / 1000.0


class Tracer:
    """In-memory span list; spans nest by call structure."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._open: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        s = Span(name, time.time() * 1000.0, attrs=attrs,
                 parent=self._open[-1] if self._open else None)
        self.spans.append(s)
        self._open.append(len(self.spans) - 1)
        try:
            yield s
        finally:
            s.end_ms = time.time() * 1000.0
            self._open.pop()


def list_files(root: str) -> dict[str, int]:
    """{relative path: size} of every regular file under ``root``."""
    out = {}
    for dp, _, fs in os.walk(root):
        for f in fs:
            p = os.path.join(dp, f)
            with contextlib.suppress(FileNotFoundError):
                out[os.path.relpath(p, root)] = os.path.getsize(p)
    return out


def new_files(before: dict[str, int], after: dict[str, int]) -> dict[str, int]:
    return {p: n for p, n in after.items() if p not in before}


# ---------------------------------------------------------------- event log


@dataclass
class SpanStats:
    """Spark work submitted while one span was the innermost open span."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    run_s: float = 0.0  # executor run time, all tasks
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    records_read: int = 0
    records_written: int = 0
    bytes_written: int = 0
    output_run_s: float = 0.0  # executor run time of stages that wrote output
    python_bytes_sent: int = 0
    task_skew: float = 0.0  # worst stage: slowest / median task duration
    job_intervals: list = field(default_factory=list)


def _read_events(log_dir: str):
    for name in sorted(os.listdir(log_dir)):
        path = os.path.join(log_dir, name)
        if name.startswith(".") or not os.path.isfile(path):
            continue
        with open(path) as fh:
            for line in fh:
                line = line.strip()
                if line:
                    yield json.loads(line)


def fold_event_log(log_dir: str, spans: list[Span]) -> tuple[list[SpanStats], list[tuple]]:
    """Per-span statistics, plus every job as (submit_ms, end_ms) so callers
    can measure how much of a span's wall time no job covered."""
    job_submit, job_end, job_stages = {}, {}, {}
    stage_tasks: dict[int, list] = {}
    stage_accum: dict[int, dict] = {}
    for e in _read_events(log_dir):
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            job_submit[e["Job ID"]] = e["Submission Time"]
            job_stages[e["Job ID"]] = e["Stage IDs"]
        elif kind == "SparkListenerJobEnd":
            job_end[e["Job ID"]] = e["Completion Time"]
        elif kind == "SparkListenerTaskEnd":
            stage_tasks.setdefault(e["Stage ID"], []).append(e)
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            acc = {a.get("Name"): a.get("Value") for a in info.get("Accumulables", [])}
            stage_accum[info["Stage ID"]] = acc

    def owner(t_ms: float) -> int | None:
        best = None
        for i, s in enumerate(spans):
            if s.start_ms <= t_ms <= s.end_ms and (best is None or s.start_ms >= spans[best].start_ms):
                best = i
        return best

    stats = [SpanStats() for _ in spans]
    jobs = []
    for jid, submit in job_submit.items():
        end = job_end.get(jid, submit)
        jobs.append((submit, end))
        i = owner(submit)
        if i is None:
            continue
        st = stats[i]
        st.jobs += 1
        st.job_intervals.append((submit, end))
        for sid in job_stages[jid]:
            tasks = stage_tasks.get(sid)
            if not tasks:
                continue  # skipped stage (shuffle reuse)
            st.stages += 1
            durs = []
            stage_out = 0
            stage_run = 0.0
            for t in tasks:
                m = t.get("Task Metrics") or {}
                info = t["Task Info"]
                durs.append(info["Finish Time"] - info["Launch Time"])
                st.tasks += 1
                stage_run += m.get("Executor Run Time", 0) / 1000.0
                st.cpu_s += m.get("Executor CPU Time", 0) / 1e9
                st.gc_s += m.get("JVM GC Time", 0) / 1000.0
                st.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                st.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                st.records_read += (m.get("Input Metrics") or {}).get("Records Read", 0)
                out = m.get("Output Metrics") or {}
                st.records_written += out.get("Records Written", 0)
                st.bytes_written += out.get("Bytes Written", 0)
                stage_out += out.get("Records Written", 0)
            st.run_s += stage_run
            if stage_out:
                st.output_run_s += stage_run
            if len(durs) >= 2:
                med = statistics.median(durs)
                st.task_skew = max(st.task_skew, max(durs) / med if med > 0 else 1.0)
            sent = stage_accum.get(sid, {}).get("data sent to Python workers")
            if sent is not None:
                st.python_bytes_sent += int(sent)
    return stats, jobs


def uncovered_s(span: Span, jobs: list[tuple]) -> float:
    """Wall time of ``span`` during which no Spark job was running."""
    iv = sorted((max(a, span.start_ms), min(b, span.end_ms)) for a, b in jobs
                if b >= span.start_ms and a <= span.end_ms)
    covered, cur_a, cur_b = 0.0, None, None
    for a, b in iv:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                covered += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        covered += cur_b - cur_a
    return max(0.0, span.wall_s - covered / 1000.0)
