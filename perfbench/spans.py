"""Traced-run bookkeeping: in-memory spans recorded around the calls the
benchmark makes into the library, Spark jobs/stages/tasks parsed from
the Spark event log, and the per-layer metrics derived from both.

Span tree (one per traced pass)::

    bench.pass -> queries.build:<q> / catalyst.force:<q> / exec.action:<q>
               -> spark.job:<id> -> spark.stage:<id>

Jobs are attributed to a build or action span through the job group
the benchmark sets around that call (``pb:<pass>:<query>:<phase>``).
A job without a group (one started from a library-owned thread, which
does not inherit thread-local properties) falls back to the span whose
interval contains its submission time.
"""

from __future__ import annotations

import json
import os
import statistics
from dataclasses import dataclass, field

MiB = float(1 << 20)
PYTHON_ACCUMS = ("data sent to Python workers", "data returned from Python workers")


@dataclass
class Span:
    name: str
    start: float  # epoch seconds
    end: float
    parent: int | None
    group: str | None = None


@dataclass
class Tracer:
    spans: list[Span] = field(default_factory=list)

    def add(self, name: str, start: float, end: float, parent: int | None, group: str | None = None) -> int:
        self.spans.append(Span(name, start, end, parent, group))
        return len(self.spans) - 1


def group_id(pass_idx: int, query: str, phase: str) -> str:
    return f"pb:{pass_idx}:{query}:{phase}"


# --- event log -----------------------------------------------------------


@dataclass
class Stage:
    sid: int
    submit: float = 0.0
    end: float = 0.0
    tasks: int = 0
    failed_tasks: int = 0
    durations: list[float] = field(default_factory=list)
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    deser_s: float = 0.0
    shuffle_write: float = 0.0
    shuffle_read: float = 0.0
    fetch_wait_s: float = 0.0
    spill: float = 0.0
    input: float = 0.0
    python: float = 0.0


@dataclass
class Job:
    jid: int
    group: str | None
    submit: float
    end: float = 0.0
    stage_ids: list[int] = field(default_factory=list)


def parse_event_log(path: str) -> tuple[dict[int, Job], dict[int, Stage]]:
    jobs: dict[int, Job] = {}
    stages: dict[int, Stage] = {}
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = Job(
                    ev["Job ID"],
                    props.get("spark.jobGroup.id"),
                    ev["Submission Time"] / 1000,
                    stage_ids=list(ev.get("Stage IDs", [])),
                )
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                st = stages.setdefault(info["Stage ID"], Stage(info["Stage ID"]))
                st.submit = info.get("Submission Time", 0) / 1000
                st.end = info.get("Completion Time", 0) / 1000
            elif kind == "SparkListenerTaskEnd":
                _add_task(stages.setdefault(ev["Stage ID"], Stage(ev["Stage ID"])), ev)
    return jobs, stages


def _add_task(st: Stage, ev: dict) -> None:
    info = ev.get("Task Info", {})
    st.tasks += 1
    if info.get("Failed") or info.get("Killed") or ev.get("Task End Reason", {}).get("Reason") != "Success":
        st.failed_tasks += 1
    st.durations.append((info.get("Finish Time", 0) - info.get("Launch Time", 0)) / 1000)
    m = ev.get("Task Metrics") or {}
    st.run_s += m.get("Executor Run Time", 0) / 1000
    st.cpu_s += m.get("Executor CPU Time", 0) / 1e9
    st.gc_s += m.get("JVM GC Time", 0) / 1000
    st.deser_s += m.get("Executor Deserialize Time", 0) / 1000
    sr = m.get("Shuffle Read Metrics") or {}
    st.shuffle_read += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    st.fetch_wait_s += sr.get("Fetch Wait Time", 0) / 1000
    st.shuffle_write += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
    st.spill += m.get("Disk Bytes Spilled", 0)
    st.input += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
    for acc in info.get("Accumulables", []):
        if acc.get("Name") in PYTHON_ACCUMS:
            st.python += float(acc.get("Update", 0) or 0)


def find_event_log(log_dir: str) -> str:
    logs = [os.path.join(log_dir, f) for f in os.listdir(log_dir)]
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {logs}")
    return logs[0]


# --- interval arithmetic -------------------------------------------------


def union_s(intervals: list[tuple[float, float]]) -> float:
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


def _self_s(span: Span, children: list[Span]) -> float:
    clipped = [(max(c.start, span.start), min(c.end, span.end)) for c in children]
    return (span.end - span.start) - union_s([iv for iv in clipped if iv[1] > iv[0]])


# --- per-layer metrics ---------------------------------------------------


def attach_spark_spans(tracer: Tracer, jobs: dict[int, Job], stages: dict[int, Stage]) -> int:
    """Add spark.job / spark.stage spans under the build/action spans
    that caused them. Returns the number of jobs started inside a traced
    pass that no build or action span claimed."""
    by_group = {s.group: i for i, s in enumerate(tracer.spans) if s.group}
    calls = [i for i, s in enumerate(tracer.spans) if s.group]
    passes = [s for s in tracer.spans if s.parent is None]
    orphans = 0
    for job in sorted(jobs.values(), key=lambda j: j.jid):
        parent = by_group.get(job.group)
        if parent is None:
            parent = next(
                (i for i in calls if tracer.spans[i].start <= job.submit <= tracer.spans[i].end),
                None,
            )
        if parent is None:
            orphans += any(p.start <= job.submit <= p.end for p in passes)
            continue
        jspan = tracer.add(f"spark.job:{job.jid}", job.submit, job.end or job.submit, parent)
        for sid in job.stage_ids:
            st = stages.get(sid)
            # a stage listed by several jobs ran once: claim it for the
            # job whose interval holds its submission
            if st is not None and st.end and job.submit <= st.submit <= (job.end or st.submit):
                tracer.add(f"spark.stage:{sid}", st.submit, st.end, jspan)
    return orphans


def pass_metrics(
    tracer: Tracer,
    pass_span: int,
    stages: dict[int, Stage],
    cores: int,
    extra: dict[str, float],
) -> dict[str, float]:
    """Per-layer metrics of one traced pass (root span ``pass_span``)."""
    spans = tracer.spans
    kids: dict[int, list[int]] = {}
    for i, s in enumerate(spans):
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(i)

    def subtree(i: int) -> list[int]:
        out, todo = [], [i]
        while todo:
            j = todo.pop()
            out.append(j)
            todo.extend(kids.get(j, []))
        return out

    calls = {"build": [], "action": []}
    for i in kids.get(pass_span, []):
        layer = spans[i].name.split(":", 1)[0]
        if layer == "queries.build":
            calls["build"].append(i)
        elif layer == "exec.action":
            calls["action"].append(i)

    def phase(calls_: list[int]) -> dict[str, float]:
        job_spans = [j for c in calls_ for j in kids.get(c, [])]
        sts = [stages[int(spans[k].name.split(":")[1])] for j in job_spans for k in kids.get(j, [])]
        return {
            "wall": sum(spans[c].end - spans[c].start for c in calls_),
            "jobs": len(job_spans),
            "job_s": union_s([(spans[j].start, spans[j].end) for j in job_spans]),
            "stages": len(sts),
            "sts": sts,
        }

    b, a = phase(calls["build"]), phase(calls["action"])
    ex = a["sts"]
    allst = b["sts"] + ex
    read = sum(s.input for s in allst) / MiB
    skews = [
        max(s.durations) / statistics.median(s.durations)
        for s in ex
        if len(s.durations) > 1 and statistics.median(s.durations) > 0
    ]
    out = {
        "queries.build_s": b["wall"],
        "queries.build_jobs": b["jobs"],
        "operators.job_s": b["job_s"],
        "operators.driver_gap_s": b["wall"] - b["job_s"],
        "operators.stages": b["stages"],
        "operators.tasks": sum(s.tasks for s in b["sts"]),
        "sources.read_mb": read,
        "exec.action_s": a["wall"],
        "exec.jobs": a["jobs"],
        "exec.stages": a["stages"],
        "exec.tasks": sum(s.tasks for s in ex),
        "exec.job_s": a["job_s"],
        "exec.driver_gap_s": a["wall"] - a["job_s"],
        "exec.task_run_s": sum(s.run_s for s in ex),
        "exec.task_cpu_s": sum(s.cpu_s for s in ex),
        "exec.gc_s": sum(s.gc_s for s in ex),
        "exec.deser_s": sum(s.deser_s for s in ex),
        "exec.shuffle_write_mb": sum(s.shuffle_write for s in ex) / MiB,
        "exec.shuffle_read_mb": sum(s.shuffle_read for s in ex) / MiB,
        "exec.fetch_wait_s": sum(s.fetch_wait_s for s in ex),
        "exec.spill_mb": sum(s.spill for s in ex) / MiB,
        "exec.python_mb": sum(s.python for s in ex) / MiB,
        "exec.slot_util": sum(s.run_s for s in ex) / (a["job_s"] * cores) if a["job_s"] else 0.0,
        "exec.skew_max": max(skews, default=1.0),
        "exec.failed_tasks": sum(s.failed_tasks for s in allst),
    }
    out.update(extra)
    out["sources.write_amp"] = out["sources.write_mb"] / read if read else 0.0
    # self time per span layer, over this pass's subtree
    selfs: dict[str, float] = {}
    for i in subtree(pass_span):
        layer = spans[i].name.split(":", 1)[0]
        selfs[layer] = selfs.get(layer, 0.0) + _self_s(spans[i], [spans[k] for k in kids.get(i, [])])
    for layer in SPAN_LAYERS:
        out[f"span.{layer}.self_s"] = selfs.get(layer, 0.0)
    return out


SPAN_LAYERS = (
    "bench.pass",
    "queries.build",
    "catalyst.force",
    "exec.action",
    "frame.release",
    "spark.job",
    "spark.stage",
)
