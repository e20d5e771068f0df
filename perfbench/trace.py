"""Tracing from outside the program.

Three sources, none of which needs the program's cooperation:

- ``Spans``: wall-clock spans the benchmark records around its own
  calls into each layer, with a Spark job group named after the span,
  so every job the call issues on the calling thread carries it;
- the program's own ``streaming.latency.LatencyListener``: a
  ``StreamingQueryListener`` keeping every micro-batch progress event
  (``durationMs`` phases, input rows), by query id;
- ``fold_event_log``: Spark's own event log, folded into one record
  per job (owner, interval, task count and task metrics).

Job ownership: a benchmark span's group; a stream's run by the
``sql.streaming.queryId`` local property (micro-batch jobs also carry
``streaming.sql.batchId``); the dedup store's background refresh by
its ``dedup-index-maintenance`` group. A job none of these own but
submitted inside a benchmark span belongs to that span
(``adopt_orphans``). Anything else is unattributed.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager

MAINTENANCE_GROUP = "dedup-index-maintenance"


class Spans:
    """Named wall-clock spans around benchmark calls, one at a time; each
    span runs its jobs under a job group of the same name, unless
    ``group=False`` (a span around a stream's life, whose jobs the stream
    id owns)."""

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext
        self.spans: list[tuple[str, float, float]] = []

    @contextmanager
    def span(self, name: str, group: bool = True):
        if group:
            self._sc.setJobGroup(name, name)
        t0 = time.time()
        try:
            yield
        finally:
            self.spans.append((name, t0, time.time()))
            if group:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
                self._sc.setLocalProperty("spark.job.description", None)


def _event_log_lines(log_dir: str):
    """Lines of the one application log in ``log_dir``."""
    apps = [f for f in os.listdir(log_dir) if not f.startswith(".")]
    if len(apps) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {apps}")
    with open(os.path.join(log_dir, apps[0]), encoding="utf-8") as fh:
        yield from fh


def fold_event_log(log_dir: str) -> list[dict]:
    """One record per job: owner keys, interval (epoch s) and the sums of
    its tasks' metrics."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for line in _event_log_lines(log_dir):
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jid = ev["Job ID"]
            jobs[jid] = {
                "id": jid,
                "group": props.get("spark.jobGroup.id"),
                "query_id": props.get("sql.streaming.queryId"),
                "batch_id": props.get("streaming.sql.batchId"),
                "start": ev["Submission Time"] / 1000.0,
                "end": None,
                "tasks": 0,
                "task_s": 0.0,
                "cpu_s": 0.0,
                "gc_s": 0.0,
                "input_bytes": 0,
                "output_bytes": 0,
                "shuffle_bytes": 0,
            }
            for sid in ev.get("Stage IDs", []):
                stage_job[sid] = jid
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            jid = stage_job.get(ev.get("Stage ID"))
            m = ev.get("Task Metrics")
            if jid is None or not m:
                continue
            j = jobs[jid]
            j["tasks"] += 1
            j["task_s"] += m.get("Executor Run Time", 0) / 1000.0
            j["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            j["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
            j["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
            j["output_bytes"] += (m.get("Output Metrics") or {}).get(
                "Bytes Written", 0
            )
            sr = m.get("Shuffle Read Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            j["shuffle_bytes"] += (
                sr.get("Remote Bytes Read", 0)
                + sr.get("Local Bytes Read", 0)
                + sw.get("Shuffle Bytes Written", 0)
            )
    out = []
    for j in jobs.values():
        if j["end"] is None:
            j["end"] = j["start"]
        out.append(j)
    return sorted(out, key=lambda j: j["id"])


def sum_jobs(jobs: list[dict], key: str) -> float:
    return sum(j[key] for j in jobs)


def driver_gap_s(spans: list[tuple[str, float, float]], jobs_by_group: dict) -> float:
    """Span wall time during which none of the span's own jobs ran."""
    gap = 0.0
    for name, t0, t1 in spans:
        ivs = sorted(
            (max(j["start"], t0), min(j["end"], t1))
            for j in jobs_by_group.get(name, [])
            if j["end"] > t0 and j["start"] < t1
        )
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in ivs:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        gap += (t1 - t0) - covered
    return gap


def adopt_orphans(jobs: list[dict], spans: list[tuple[str, float, float]]) -> None:
    """Give each job with neither a job group nor a stream id to the
    benchmark span it was submitted in. The benchmark makes one call at
    a time, so such a job comes from the call's own worker threads: under
    PySpark's pinned threads a thread pool does not inherit the caller's
    job group (``build_shingle_artifact``'s table writes, the fold's
    deferred merges)."""
    for j in jobs:
        if j["group"] is None and j["query_id"] is None:
            for name, t0, t1 in spans:
                if t0 <= j["start"] <= t1:
                    j["group"] = name
                    break


def owned(job: dict, groups: set[str], query_ids: set[str]) -> bool:
    return (
        job["group"] in groups
        or job["group"] == MAINTENANCE_GROUP
        or (job["query_id"] is not None and job["query_id"] in query_ids)
    )
