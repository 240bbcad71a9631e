"""Spark event log -> per-span metrics for one traced job run.

Spans come from ``launch.py --trace``: a call span per wrapped library
call, plus the session-ready and result marks. :func:`stage_spans`
cuts the job's timeline into the job's stages; call spans nest inside
them. Each Spark job is attributed to the innermost span open when it
was submitted; its tasks' metrics and SQL accumulables then sum into
that span, and into the stage that contains it.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

STAGES = ["extract_write", "metrics", "doc_merge", "embed_vec_merge", "cluster"]
SPAN_METRICS = [
    "wall_s", "self_s", "driver_s", "exec_run_s", "exec_cpu_s", "gc_s",
    "shuffle_write_mb", "spill_mb", "py_run_s", "py_sent_mb", "py_recv_mb",
    "jobs", "rows_out", "slot_busy_frac",
]
# SQL accumulables of Spark's Python exec nodes (PythonSQLMetrics)
PY_RUN = "time to run Python workers"
PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"
MB = float(1 << 20)


@dataclass
class Span:
    name: str
    start: float
    end: float
    depth: int  # 0 for a stage; call spans are deeper

    def contains(self, t: float) -> bool:
        return self.start <= t < self.end


@dataclass
class Task:
    launch: float
    finish: float
    run_s: float
    cpu_s: float
    gc_s: float
    shuffle_write_b: int
    spill_b: int
    records_written: int
    sql: dict[str, float] = field(default_factory=dict)


@dataclass
class Job:
    job_id: int
    submit: float
    stage_ids: list[int]
    tasks: list[Task] = field(default_factory=list)


def read_jobs(lines) -> list[Job]:
    """Parse event-log JSON lines into jobs with their finished tasks.

    Times are epoch seconds. A task belongs to the latest job submitted
    at or before its launch whose stage list holds the task's stage."""
    jobs: list[Job] = []
    tasks: list[tuple[int, Task]] = []
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jobs.append(Job(ev["Job ID"], ev["Submission Time"] / 1e3, list(ev["Stage IDs"])))
        elif kind == "SparkListenerTaskEnd":
            info, m = ev["Task Info"], ev.get("Task Metrics") or {}
            sql: dict[str, float] = {}
            for acc in info.get("Accumulables", []):
                if acc.get("Metadata") == "sql" and "Update" in acc:
                    sql[acc["Name"]] = sql.get(acc["Name"], 0.0) + float(acc["Update"])
            tasks.append((ev["Stage ID"], Task(
                launch=info["Launch Time"] / 1e3,
                finish=info["Finish Time"] / 1e3,
                run_s=m.get("Executor Run Time", 0) / 1e3,
                cpu_s=m.get("Executor CPU Time", 0) / 1e9,
                gc_s=m.get("JVM GC Time", 0) / 1e3,
                shuffle_write_b=(m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
                spill_b=m.get("Disk Bytes Spilled", 0),
                records_written=(m.get("Output Metrics") or {}).get("Records Written", 0),
                sql=sql,
            )))
    for stage_id, task in tasks:
        owners = [j for j in jobs if stage_id in j.stage_ids and j.submit <= task.launch]
        if owners:
            max(owners, key=lambda j: j.submit).tasks.append(task)
    return jobs


def read_event_log(path: str) -> list[Job]:
    with open(path) as f:
        return read_jobs(f)


def stage_spans(rec: dict) -> list[Span]:
    """Cut [job start, result] into the job's stages.

    Boundaries are the calls the job makes in order: the extraction
    write ends extract_write; metrics runs until the doc-table MERGE
    starts; each MERGE ends its stage; clustering runs from the vector
    MERGE to the result. Stages the job did not reach get zero width."""
    calls = rec["spans"]

    def first(name: str, key: str, nth: int = 0) -> float | None:
        hits = [s[key] for s in calls if s["name"] == name]
        return hits[nth] if len(hits) > nth else None

    start, result = rec["start"], rec["result"]
    extract_end = first("lineage.run_with_resume", "end") or start
    doc_start = first("merge.merge_write", "start") or extract_end
    doc_end = first("merge.merge_write", "end") or doc_start
    vec_end = first("merge.merge_write", "end", 1) or doc_end
    cluster_end = result if first("cluster_pipeline.run_clustering", "start") else vec_end
    bounds = [start, extract_end, doc_start, doc_end, vec_end, cluster_end]
    return [Span(n, bounds[i], bounds[i + 1], 0) for i, n in enumerate(STAGES)]


def call_spans(rec: dict) -> list[Span]:
    return [Span(s["name"], s["start"], s["end"], 1 + s["depth"]) for s in rec["spans"]]


def innermost(spans: list[Span], t: float) -> Span | None:
    open_ = [s for s in spans if s.contains(t)]
    return max(open_, key=lambda s: (s.depth, s.start)) if open_ else None


def union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted(intervals):
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def clip(intervals: list[tuple[float, float]], lo: float, hi: float) -> list[tuple[float, float]]:
    return [(max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi]


def self_time(span: Span, spans: list[Span]) -> float:
    """Span duration minus the part its direct children cover."""
    kids = [(s.start, s.end) for s in spans
            if s.depth == span.depth + 1 and s.start >= span.start and s.end <= span.end]
    return (span.end - span.start) - union_length(kids)


def attribute(spans: list[Span], jobs: list[Job]) -> dict[str, list[Job]]:
    """span name -> jobs whose innermost open span at submission it is."""
    out: dict[str, list[Job]] = {}
    for j in jobs:
        s = innermost(spans, j.submit)
        out.setdefault(s.name if s else "unattributed", []).append(j)
    return out


def span_metrics(span: Span, spans: list[Span], jobs: list[Job], all_jobs: list[Job],
                 cores: int) -> dict[str, float]:
    """The SPAN_METRICS of one span. Work sums over ``jobs`` (those
    attributed to it); ``driver_s`` is its time with no task of
    ``all_jobs`` running."""
    tasks = [t for j in jobs for t in j.tasks]
    wall = span.end - span.start
    busy = union_length(clip([(t.launch, t.finish) for j in all_jobs for t in j.tasks],
                             span.start, span.end))
    run_s = sum(t.run_s for t in tasks)
    return {
        "wall_s": wall,
        "self_s": self_time(span, spans),
        "driver_s": wall - busy,
        "exec_run_s": run_s,
        "exec_cpu_s": sum(t.cpu_s for t in tasks),
        "gc_s": sum(t.gc_s for t in tasks),
        "shuffle_write_mb": sum(t.shuffle_write_b for t in tasks) / MB,
        "spill_mb": sum(t.spill_b for t in tasks) / MB,
        "py_run_s": sum(t.sql.get(PY_RUN, 0.0) for t in tasks) / 1e3,
        "py_sent_mb": sum(t.sql.get(PY_SENT, 0.0) for t in tasks) / MB,
        "py_recv_mb": sum(t.sql.get(PY_RECV, 0.0) for t in tasks) / MB,
        "jobs": len(jobs),
        "rows_out": sum(t.records_written for t in tasks),
        "slot_busy_frac": run_s / (wall * cores) if wall > 0 else 0.0,
    }
