"""Spans kept by the benchmark, Spark's event log, and the per-layer sums.

The benchmark records one ``Span`` per layer call it makes (run, pass, op,
``fn()`` build, sink/exec).  After the application stops, ``EventLog``
reads Spark's uncompressed event log: jobs, stages, tasks, and the
streaming ``QueryProgressEvent`` records.  ``op_layers`` joins both: a job
belongs to the op whose job group it carries (the benchmark sets one per
op), or else to the op whose span holds its submission (streaming jobs run
on the query's own thread and carry the query's run id instead).
"""

from __future__ import annotations

import datetime as dt
import glob
import json
import os
from dataclasses import dataclass, field

MB = 1e6
_PHASES = {
    "addBatch": "add_batch_ms",
    "queryPlanning": "query_planning_ms",
    "getBatch": "get_batch_ms",
    "latestOffset": "latest_offset_ms",
    "walCommit": "wal_commit_ms",
    "commitOffsets": "commit_offsets_ms",
}


@dataclass
class Span:
    """One timed call and the calls it caused (``children``); times are
    epoch seconds so they line up with Spark's event-log timestamps."""

    name: str
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)
    children: list = field(default_factory=list)

    def child(self, name: str, start: float, **attrs) -> "Span":
        s = Span(name, start, attrs=attrs)
        self.children.append(s)
        return s

    @property
    def dur(self) -> float:
        return self.end - self.start

    def to_json(self) -> dict:
        return {"name": self.name, "start": self.start, "end": self.end,
                **({"attrs": self.attrs} if self.attrs else {}),
                **({"children": [c.to_json() for c in self.children]} if self.children else {})}


@dataclass
class Task:
    run_s: float
    cpu_s: float
    gc_s: float
    input_rows: int
    shuffle_read_b: int
    shuffle_write_b: int
    spill_b: int
    failed: bool


@dataclass
class Stage:
    submit: float = 0.0
    complete: float = 0.0
    tasks: list = field(default_factory=list)

    @property
    def dur(self) -> float:
        return max(self.complete - self.submit, 0.0)


@dataclass
class Job:
    jid: int
    submit: float
    group: str | None
    stage_ids: list
    end: float = 0.0


@dataclass
class Progress:
    run_id: str
    start: float
    duration_ms: dict
    state_rows: int
    state_commit_ms: float


def _event_files(events_dir: str) -> list[str]:
    """Event-log files in write order: rolling ``eventlog_v2_*/events_N_*``
    directories (Spark 4 default) or single plain files."""

    def index(path: str) -> int:
        parts = os.path.basename(path).split("_")
        return int(parts[1]) if len(parts) > 1 and parts[1].isdigit() else 0

    files = []
    for entry in sorted(os.listdir(events_dir)):
        path = os.path.join(events_dir, entry)
        if os.path.isdir(path):
            files += sorted(glob.glob(os.path.join(path, "events_*")), key=index)
        elif not entry.startswith(".") and not entry.endswith((".inprogress", ".crc")):
            files.append(path)
    return files


def _iso(ts: str) -> float:
    return dt.datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


class EventLog:
    """Jobs, stages, tasks and stream progress parsed from an event log."""

    def __init__(self, events_dir: str):
        self.jobs: dict[int, Job] = {}
        self.stages: dict[int, Stage] = {}
        self.progress: list[Progress] = []
        for path in _event_files(events_dir):
            with open(path, encoding="utf-8") as fh:
                for line in fh:
                    if line.strip():
                        self._add(json.loads(line))

    def _stage(self, sid: int) -> Stage:
        return self.stages.setdefault(sid, Stage())

    def _add(self, e: dict) -> None:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            self.jobs[e["Job ID"]] = Job(
                e["Job ID"], e["Submission Time"] / 1e3, props.get("spark.jobGroup.id"),
                list(e.get("Stage IDs", [])))
        elif kind == "SparkListenerJobEnd":
            if e["Job ID"] in self.jobs:
                self.jobs[e["Job ID"]].end = e["Completion Time"] / 1e3
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            st = self._stage(info["Stage ID"])
            st.submit = info.get("Submission Time", 0) / 1e3
            st.complete = info.get("Completion Time", 0) / 1e3
        elif kind == "SparkListenerTaskEnd":
            info, m = e["Task Info"], e.get("Task Metrics") or {}
            sr = m.get("Shuffle Read Metrics", {})
            sw = m.get("Shuffle Write Metrics", {})
            self._stage(e["Stage ID"]).tasks.append(Task(
                run_s=m.get("Executor Run Time", 0) / 1e3,
                cpu_s=m.get("Executor CPU Time", 0) / 1e9,
                gc_s=m.get("JVM GC Time", 0) / 1e3,
                input_rows=m.get("Input Metrics", {}).get("Records Read", 0),
                shuffle_read_b=sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                shuffle_write_b=sw.get("Shuffle Bytes Written", 0),
                spill_b=m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                failed=bool(info.get("Failed")) or e["Task End Reason"].get("Reason") != "Success",
            ))
        elif kind.endswith("StreamingQueryListener$QueryProgressEvent"):
            p = e["progress"]
            ops = p.get("stateOperators") or []
            self.progress.append(Progress(
                run_id=p["runId"], start=_iso(p["timestamp"]),
                duration_ms=p.get("durationMs") or {},
                state_rows=sum(o.get("numRowsTotal", 0) for o in ops),
                state_commit_ms=sum(o.get("commitTimeMs", 0) for o in ops),
            ))


def union_s(intervals, lo: float = float("-inf"), hi: float = float("inf")) -> float:
    """Length of the union of ``(start, end)`` intervals clipped to [lo, hi]."""
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


def assign_jobs(ops: list[Span], log: EventLog) -> dict[int, list[Job]]:
    """Jobs per op (keyed by ``id(span)``): by the op's job group first, else
    by the op span that holds the job's submission time."""
    by_group = {op.attrs["group"]: op for op in ops if "group" in op.attrs}
    spans = sorted(ops, key=lambda s: s.start)
    out: dict[int, list[Job]] = {id(op): [] for op in ops}
    for job in log.jobs.values():
        op = by_group.get(job.group)
        if op is None:
            op = next((s for s in spans if s.start <= job.submit <= s.end), None)
        if op is not None:
            out[id(op)].append(job)
    return out


def _max_share(stages: list[Stage]) -> tuple[float, float]:
    """(sum over stages of the largest task's run time, sum of all run time)."""
    top = sum(max(t.run_s for t in st.tasks) for st in stages if st.tasks)
    return top, sum(t.run_s for st in stages for t in st.tasks)


def op_layers(op: Span, jobs: list[Job], log: EventLog) -> dict[str, float]:
    """Per-layer numbers of one op span (children ``build`` / ``exec``)."""
    build = next((c for c in op.children if c.name == "build"), None)
    execs = [c for c in op.children if c.name == "exec"]
    intervals = [(j.submit, j.end or j.submit) for j in jobs]
    stages = [log.stages[s] for j in jobs for s in j.stage_ids
              if s in log.stages and log.stages[s].tasks]
    tasks = [t for st in stages for t in st.tasks]
    busy = union_s(intervals, op.start, op.end)
    r: dict[str, float] = {
        "operators.build_s": build.dur if build else 0.0,
        "operators.build_self_s": (build.dur - union_s(intervals, build.start, build.end))
        if build else 0.0,
        "operators.exec_s": sum(c.dur for c in execs),
        "spark.jobs": len(jobs),
        "spark.stages": len(stages),
        "spark.tasks": len(tasks),
        "spark.failed_tasks": sum(t.failed for t in tasks),
        "spark.busy_s": busy,
        "spark.driver_gap_s": op.dur - busy,
        "spark.task_run_s": sum(t.run_s for t in tasks),
        "spark.task_cpu_s": sum(t.cpu_s for t in tasks),
        "spark.gc_s": sum(t.gc_s for t in tasks),
        "spark.shuffle_read_mb": sum(t.shuffle_read_b for t in tasks) / MB,
        "spark.shuffle_write_mb": sum(t.shuffle_write_b for t in tasks) / MB,
        "spark.spill_mb": sum(t.spill_b for t in tasks) / MB,
    }
    # Spark 4.1 leaves task input *bytes* near zero for local parquet
    # scans (a few KB for a 10 MB table), so scans are found and sized by
    # the rows they read.
    scans = [st for st in stages if any(t.input_rows for t in st.tasks)]
    top, total = _max_share(scans)
    r.update({
        "sources.input_rows": sum(t.input_rows for st in scans for t in st.tasks),
        "sources.scan_tasks": sum(len(st.tasks) for st in scans),
        "sources._scan_top_s": top,
        "sources._scan_total_s": total,
    })
    prog = [p for p in log.progress if op.start <= p.start <= op.end]
    trigger_ms = sum(p.duration_ms.get("triggerExecution", 0) for p in prog)
    r.update({
        "streaming.triggers": len(prog),
        "streaming.trigger_ms": trigger_ms,
        **{f"streaming.{v}": sum(p.duration_ms.get(k, 0) for p in prog) for k, v in _PHASES.items()},
        "streaming.outside_trigger_s": op.dur - trigger_ms / 1e3 if prog else 0.0,
        "streaming.state_rows": sum(_last_per_run(prog)),
        "streaming.state_commit_ms": sum(p.state_commit_ms for p in prog),
    })
    if op.attrs.get("kind") == "mr":
        maps = [st for st in stages if any(t.shuffle_write_b for t in st.tasks)]
        reduces = [st for st in stages if st not in maps]
        mtop, mtotal = _max_share(maps)
        r.update({
            "mapreduce.job_s": op.dur,
            "mapreduce.map_stage_s": sum(st.dur for st in maps),
            "mapreduce.reduce_stage_s": sum(st.dur for st in reduces),
            "mapreduce.shuffle_write_mb": sum(t.shuffle_write_b for st in maps for t in st.tasks) / MB,
            "mapreduce._map_top_s": mtop,
            "mapreduce._map_total_s": mtotal,
            "mapreduce._input_mb": op.attrs.get("input_mb", 0.0),
            "mapreduce.output_mb": op.attrs.get("output_mb", 0.0),
        })
    return r


def _last_per_run(prog: list[Progress]) -> list[int]:
    last: dict[str, Progress] = {}
    for p in sorted(prog, key=lambda p: p.start):
        last[p.run_id] = p
    return [p.state_rows for p in last.values()]


def pass_layers(per_op: list[dict[str, float]]) -> dict[str, float]:
    """Sum one pass's per-op numbers and derive its ratios."""
    s = {k: sum(r.get(k, 0.0) for r in per_op) for k in {k for r in per_op for k in r}}

    def ratio(num: float, den: float) -> float:
        return num / den if den else 0.0

    s["spark.parallelism"] = ratio(s["spark.task_run_s"], s["spark.busy_s"])
    s["sources.scan_max_task_share"] = ratio(
        s.pop("sources._scan_top_s"), s.pop("sources._scan_total_s"))
    s["mapreduce.map_max_task_share"] = ratio(
        s.pop("mapreduce._map_top_s", 0.0), s.pop("mapreduce._map_total_s", 0.0))
    s["mapreduce.input_mb_per_s"] = ratio(
        s.pop("mapreduce._input_mb", 0.0), s.get("mapreduce.job_s", 0.0))
    return s
