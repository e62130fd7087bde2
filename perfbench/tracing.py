"""Tracing for the benchmark's traced run (``--trace 1``).

Two sources, both recorded from outside the program:

- spans the benchmark records around each call into a public function of
  the package (``Tracer.span``). Spans stay in memory until the run ends;
- Spark's own accounting: each benchmark step runs under its own job
  group, so the event log (zstd, rolling, written by Spark itself)
  attributes every job, stage and task to the step that caused it.

``layer_metrics`` turns the event log of one run into per-step layer
figures: scheduling, executor time, shuffle, the Python/Arrow boundary
and result transfer.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time
from collections import defaultdict

# SQL metric display names of the Python-worker boundary
# (PythonSQLMetrics in spark-sql 4.1; the timings are in milliseconds).
PY_METRICS = {
    "time to start Python workers": "python.boot_s",
    "time to initialize Python workers": "python.init_s",
    "time to run Python workers": "python.run_s",
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_recv",
}
PY_MILLIS = {"python.boot_s", "python.init_s", "python.run_s"}


class Tracer:
    """Spans and job groups of one run. Disabled, it records nothing and
    sets no job group, so the untraced run measures the program alone."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, group: str | None = None):
        """Time a call; with ``group`` its Spark jobs run in that job group."""
        if not self.enabled:
            yield
            return
        sc = self.spark.sparkContext
        if group is not None:
            sc.setJobGroup(group, name)
        parent = self._stack[-1] if self._stack else None
        self._stack.append(len(self.spans))
        rec = {"name": name, "group": group, "parent": parent}
        self.spans.append(rec)
        rec["start"] = time.time()
        try:
            yield
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if group is not None:
                sc.setLocalProperty("spark.jobGroup.id", None)


def read_event_log(log_dir: str) -> list[dict]:
    """All events of the (single) application under ``log_dir``, in order.

    Spark 4 writes rolling logs (``eventlog_v2_<app>/events_<n>_<app>``)
    compressed with zstd; plain files are read as they are."""
    import pyarrow as pa

    files = [
        f
        for f in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
        if os.path.isfile(f) and os.path.basename(f).startswith(("events_", "app-", "local-"))
    ]

    def index(path: str) -> int:
        parts = os.path.basename(path).split("_")
        return int(parts[1]) if len(parts) > 2 and parts[1].isdigit() else 0

    events = []
    for path in sorted(files, key=index):
        codec = "zstd" if path.endswith(".zstd") else None
        with pa.input_stream(path, compression=codec) as f:
            data = f.read().decode()
        events.extend(json.loads(line) for line in data.splitlines() if line.strip())
    return events


def layer_metrics(events: list[dict]) -> dict[str, dict[str, float]]:
    """Per job group: scheduling, executor, shuffle, Python and timing
    figures summed over the group's jobs, stages and tasks."""
    job_group: dict[int, str] = {}
    job_span: dict[int, list[float]] = {}
    stage_job: dict[int, int] = {}
    submitted: dict[int, float] = {}
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            group = _group(ev.get("Properties") or {})
            if group is None:
                continue
            job_group[jid] = group
            job_span[jid] = [ev["Submission Time"] / 1e3, ev["Submission Time"] / 1e3]
            for si in ev["Stage Infos"]:
                stage_job.setdefault(si["Stage ID"], jid)
            out[group]["sched.jobs"] += 1
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in job_span:
                job_span[ev["Job ID"]][1] = ev["Completion Time"] / 1e3
        elif kind == "SparkListenerStageSubmitted":
            si = ev["Stage Info"]
            sid = si["Stage ID"]
            submitted[sid] = si.get("Submission Time", 0) / 1e3
            jid = stage_job.get(sid)
            group = _group(ev.get("Properties") or {}) or (job_group.get(jid) if jid is not None else None)
            if group is not None:
                stage_group[sid] = group
                out[group]["sched.stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            sid = ev["Stage ID"]
            group = stage_group.get(sid)
            if group is None:
                continue
            g = out[group]
            info = ev["Task Info"]
            m = ev.get("Task Metrics") or {}
            g["sched.tasks"] += 1
            if sid in submitted:
                g["sched.task_wait_s"] += max(0.0, info["Launch Time"] / 1e3 - submitted[sid])
            g["exec.run_s"] += m.get("Executor Run Time", 0) / 1e3
            g["exec.cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            g["exec.gc_s"] += m.get("JVM GC Time", 0) / 1e3
            g["exec.deser_s"] += m.get("Executor Deserialize Time", 0) / 1e3
            sw = m.get("Shuffle Write Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            g["shuffle.write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            g["shuffle.read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            g["shuffle.fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1e3
            g["spill.disk_bytes"] += m.get("Disk Bytes Spilled", 0)
            g["input.bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
            for acc in info.get("Accumulables", []):
                name = PY_METRICS.get(acc.get("Name"))
                if name is None:
                    continue
                v = float(acc.get("Update", 0) or 0)
                g[name] += v / 1e3 if name in PY_MILLIS else v
    for group, audit in stage_audit(events).items():
        out[group]["sched.stages_skipped"] = len(audit["skipped"])
    spans_by_group: dict[str, list[list[float]]] = defaultdict(list)
    for jid, span in job_span.items():
        spans_by_group[job_group[jid]].append(span)
    for group, spans in spans_by_group.items():
        wall = _union(spans)
        out[group]["job.wall_s"] = wall
        out[group]["job.last_end"] = max(e for _, e in spans)
    return {g: dict(v) for g, v in out.items()}


def stage_audit(events: list[dict]) -> dict[str, dict[str, set[int]]]:
    """Per job group: the stages its jobs list, the stages it ran, and
    the skipped ones, whose work was done before the group started.

    A listed stage that did not run in the group is skipped work, unless
    it re-lists a stage of the same group: AQE submits each query stage as
    a job of its own and lists it again, under a new id, as a parent of
    the next job; both ids carry the same RDDs."""
    job_group: dict[int, str] = {}
    listed: dict[str, set[int]] = defaultdict(set)
    ran: dict[str, set[int]] = defaultdict(set)
    rdds: dict[int, set[int]] = {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = _group(ev.get("Properties") or {})
            if group is None:
                continue
            job_group[ev["Job ID"]] = group
            for si in ev["Stage Infos"]:
                listed[group].add(si["Stage ID"])
                rdds[si["Stage ID"]] = {r["RDD ID"] for r in si.get("RDD Info", [])}
        elif kind == "SparkListenerStageSubmitted":
            group = _group(ev.get("Properties") or {})
            if group is not None:
                ran[group].add(ev["Stage Info"]["Stage ID"])
    out = {}
    for group, stages in listed.items():
        ran_rdds = set().union(*(rdds.get(s, set()) for s in ran[group]))
        skipped = {s for s in stages - ran[group] if not rdds.get(s, set()) <= ran_rdds}
        out[group] = {"listed": stages, "ran": ran[group], "skipped": skipped}
    return out


def _group(props: dict) -> str | None:
    """The benchmark step a job belongs to: its job group, or for a
    streaming micro-batch (whose group is the query's run id) the batch."""
    bid = props.get("streaming.sql.batchId")
    if bid is not None:
        return f"mb{bid}/run"
    return props.get("spark.jobGroup.id")


def _union(spans: list[list[float]]) -> float:
    total, end = 0.0, float("-inf")
    for s, e in sorted(spans):
        if e <= end:
            continue
        total += e - max(s, end)
        end = e
    return total
