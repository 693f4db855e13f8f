"""Tracing for the traced run: spans recorded around public calls, the
Spark event log parsed into job/stage/task child spans, and self time.

A span is a dict with ``id``, ``parent``, ``name``, ``start``, ``end``
(seconds, wall clock) and ``attrs``.  Spans are kept in memory and
written out when the run ends.
"""

from __future__ import annotations

import contextlib
import json
import time
from pathlib import Path


def self_time(span: dict, children: list[dict]) -> float:
    """Span duration minus the part of it covered by its children
    (overlapping children count once; parts outside the span are
    clipped)."""
    lo, hi = span["start"], span["end"]
    ivs = sorted((max(lo, c["start"]), min(hi, c["end"])) for c in children)
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in ivs:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return (hi - lo) - covered


class Tracer:
    """Records spans; ``span()`` tags the Spark jobs it triggers with
    the span id through ``setJobDescription`` when a SparkContext is
    given.  A disabled tracer records nothing and tags nothing."""

    def __init__(self, enabled: bool, sc=None):
        self.enabled = enabled
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        sid = len(self.spans) + 1
        rec = {
            "id": sid,
            "parent": self._stack[-1] if self._stack else None,
            "name": name,
            "start": time.time(),
            "end": None,
            "attrs": dict(attrs),
        }
        self.spans.append(rec)
        self._stack.append(sid)
        if self.sc is not None:
            self.sc.setJobDescription(f"span:{sid}")
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if self.sc is not None:
                self.sc.setJobDescription(f"span:{self._stack[-1]}" if self._stack else None)

    def add(self, name: str, start: float, end: float, parent: int | None, **attrs) -> int:
        sid = len(self.spans) + 1
        self.spans.append(
            {"id": sid, "parent": parent, "name": name, "start": start, "end": end, "attrs": attrs}
        )
        return sid

    def with_self_times(self) -> list[dict]:
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        out = []
        for s in self.spans:
            d = dict(s)
            d["self_s"] = self_time(s, kids.get(s["id"], []))
            out.append(d)
        return out


# -- Spark event log ------------------------------------------------------------


def _span_of(props: dict | None) -> int | None:
    desc = (props or {}).get("spark.job.description") or ""
    if desc.startswith("span:"):
        return int(desc[5:])
    return None


def parse_event_log(lines) -> dict:
    """Parse an uncompressed Spark event log (one JSON event per line)
    into jobs, stages and tasks, each job tagged with the span id found
    in its ``spark.job.description``.

    Returns {"jobs": {job_id: {...}}, "stages": {stage_id: {...}}} where
    a stage carries the span of the job that submitted it and the
    summed metrics of its tasks.  Times are seconds."""
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            jobs[jid] = {
                "job": jid,
                "span": _span_of(ev.get("Properties")),
                "start": ev["Submission Time"] / 1e3,
                "end": None,
                "stages": list(ev.get("Stage IDs", [])),
            }
            for sid in ev.get("Stage IDs", []):
                stage_job.setdefault(sid, jid)
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1e3
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            sid = info["Stage ID"]
            st = stages.setdefault(sid, _empty_stage(sid))
            st["start"] = info.get("Submission Time", 0) / 1e3
            st["end"] = info.get("Completion Time", 0) / 1e3
            st["job"] = stage_job.get(sid)
        elif kind == "SparkListenerTaskEnd":
            sid = ev["Stage ID"]
            st = stages.setdefault(sid, _empty_stage(sid))
            info = ev.get("Task Info", {})
            m = ev.get("Task Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            im = m.get("Input Metrics") or {}
            st["tasks"] += 1
            st["run_s"].append(m.get("Executor Run Time", 0) / 1e3)
            st["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            st["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            st["result_bytes"] += m.get("Result Size", 0)
            st["input_bytes"] += im.get("Bytes Read", 0)
            st["input_rows"] += im.get("Records Read", 0)
            st["python_in_bytes"] += _accum(info, "data sent to Python workers")
            st["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            st["shuffle_read_rows"] += sr.get("Total Records Read", 0)
            st["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            st["shuffle_write_rows"] += sw.get("Shuffle Records Written", 0)
            st["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            launch = info.get("Launch Time", 0) / 1e3
            finish = info.get("Finish Time", 0) / 1e3
            # scheduler delay: task wall time not spent deserializing,
            # running or serializing the result
            wall = max(0.0, finish - launch)
            busy = (
                m.get("Executor Run Time", 0)
                + m.get("Executor Deserialize Time", 0)
                + m.get("Result Serialization Time", 0)
            ) / 1e3
            st["sched_delay_s"] += max(0.0, wall - busy)
            st["task_spans"].append((launch, finish, info.get("Index", 0)))
    for sid, st in stages.items():
        if st["job"] is None:
            st["job"] = stage_job.get(sid)
        st["span"] = jobs[st["job"]]["span"] if st["job"] in jobs else None
    return {"jobs": jobs, "stages": stages}


def _empty_stage(sid: int) -> dict:
    return {
        "stage": sid,
        "job": None,
        "span": None,
        "start": 0.0,
        "end": 0.0,
        "tasks": 0,
        "run_s": [],
        "cpu_s": 0.0,
        "gc_s": 0.0,
        "sched_delay_s": 0.0,
        "result_bytes": 0,
        "input_bytes": 0,
        "input_rows": 0,
        "python_in_bytes": 0,
        "task_spans": [],
        "shuffle_read_bytes": 0,
        "shuffle_read_rows": 0,
        "shuffle_write_bytes": 0,
        "shuffle_write_rows": 0,
        "spill_bytes": 0,
    }


def _accum(task_info: dict, name: str) -> int:
    """Sum of the task's SQL accumulator updates with this name."""
    total = 0
    for a in task_info.get("Accumulables", []):
        if a.get("Name") == name:
            try:
                total += int(a.get("Update", 0))
            except (TypeError, ValueError):
                pass
    return total


def read_event_logs(log_dir: Path) -> dict:
    """Every uncompressed event log under log_dir; Spark 4 writes a
    rolling ``eventlog_v2_<app>/events_<n>_<app>`` directory."""

    def order(p: Path):
        parts = p.name.split("_")
        return (str(p.parent), int(parts[1]) if len(parts) > 2 and parts[1].isdigit() else 0)

    lines: list[str] = []
    for p in sorted((q for q in log_dir.rglob("*") if q.is_file() and not q.name.startswith((".", "appstatus"))), key=order):
        lines.extend(p.read_text().splitlines())
    return parse_event_log(lines)


def attach_spark_spans(tracer: Tracer, log: dict) -> None:
    """Add each tagged job as a child span of its tag, each of its
    stages as a child of the job span and each task as a child of its
    stage span."""
    job_span: dict[int, int] = {}
    for jid, j in sorted(log["jobs"].items()):
        if j["span"] is None or j["end"] is None:
            continue
        job_span[jid] = tracer.add(f"spark.job.{jid}", j["start"], j["end"], j["span"], job=jid)
    for sid, st in sorted(log["stages"].items()):
        if st["job"] in job_span and st["end"] > st["start"]:
            stage_span = tracer.add(
                f"spark.stage.{sid}",
                st["start"],
                st["end"],
                job_span[st["job"]],
                stage=sid,
                tasks=st["tasks"],
            )
            for launch, finish, index in st["task_spans"]:
                tracer.add(f"spark.task.{sid}.{index}", launch, finish, stage_span)
