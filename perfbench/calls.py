"""Timed layer calls and the Spark stage figures behind each one.

Every call into the package runs through :meth:`Recorder.call`, which times
it from outside, bounds it with a timeout and, when tracing, tags its Spark
jobs with a job group of its own. After the timed region,
:func:`stage_figures` reads the live status store (it works with the UI
disabled) and attributes jobs and stages to calls by job group.
"""

from __future__ import annotations

import json
import time
from dataclasses import dataclass

from metrics import driver_s, interval_union, slot_util

# Per-call statistics and their units, in the order they are reported.
STATS = {
    "s": "s",
    "busy_s": "s",
    "driver_s": "s",
    "jobs": "count",
    "stages": "count",
    "tasks": "count",
    "task_s": "s",
    "cpu_s": "s",
    "gc_s": "s",
    "shuffle_write_mb": "MB",
    "shuffle_read_mb": "MB",
    "spill_mb": "MB",
    "output_mb": "MB",
    "failed_tasks": "count",
    "slot_util": "ratio",
}


class CallFailed(Exception):
    """A layer call raised, timed out or lost its JVM."""


@dataclass
class Call:
    name: str
    rep: int
    group: str
    start: float  # epoch seconds, comparable with Spark's stage times
    end: float
    s: float
    error: str | None = None


class Recorder:
    """Runs layer calls one at a time and keeps a record of each."""

    def __init__(self, spark, trace: bool, deadline: float):
        self.spark = spark
        self.trace = trace
        self.deadline = deadline  # time.monotonic() by which calls must end
        self.calls: list[Call] = []

    def call(self, rep: int, name: str, fn, timeout: float):
        """Run ``fn()`` as layer call ``name`` of repetition ``rep``; raise
        :class:`CallFailed` if it raises (a lost JVM raises a connection
        error) or outlives its timeout."""
        from py4j.protocol import Py4JError
        from pyspark import InheritableThread

        sc = self.spark.sparkContext
        group = f"perfbench:{rep}:{name}"
        box: dict = {}

        def target():
            try:
                if self.trace:
                    sc.setJobGroup(group, name)
                box["value"] = fn()
            except Exception as exc:  # handed to the calling thread below
                box["error"] = exc

        limit = max(0.0, min(timeout, self.deadline - time.monotonic()))
        thread = InheritableThread(target=target, name=group, daemon=True)
        start, t0 = time.time(), time.perf_counter()
        thread.start()
        thread.join(limit)
        call = Call(name, rep, group, start, time.time(), time.perf_counter() - t0)
        self.calls.append(call)
        if thread.is_alive():
            call.error = f"timed out after {limit:.0f} s"
            try:
                sc.cancelAllJobs()
            except (Py4JError, ConnectionError):
                pass  # the JVM is gone; nothing left to cancel
            raise CallFailed(f"{name}: {call.error}")
        if "error" in box:
            exc = box["error"]
            first = str(exc).strip().splitlines()[:1]
            call.error = ": ".join([type(exc).__name__, *first])
            raise CallFailed(f"{name}: {call.error}") from exc
        return box["value"]


def _read_status_store(spark) -> tuple[list[dict], list[dict]]:
    """All jobs and stage attempts in the live status store, as JSON, after
    the listener bus has delivered every pending event."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty(60_000)
    jvm = spark._jvm
    mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
    mapper.registerModule(getattr(getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$"), "MODULE$"))
    store = jsc.statusStore()
    no_quantiles = sc._gateway.new_array(jvm.double, 0)
    jobs = json.loads(mapper.writeValueAsString(store.jobsList(None)))
    stages = json.loads(
        mapper.writeValueAsString(store.stageList(None, False, False, no_quantiles, None))
    )
    return jobs, stages


def stage_figures(spark, calls: list[Call], cores: int, workload_span: tuple[float, float]):
    """:func:`attribute` over the session's live status store."""
    jobs, stages = _read_status_store(spark)
    return attribute(jobs, stages, calls, cores, workload_span)


def attribute(
    jobs: list[dict], stages: list[dict], calls: list[Call], cores: int,
    workload_span: tuple[float, float],
):
    """Per-call figures, spans and status-store health from the store's
    jobs and stage attempts (REST API JSON shape, times in epoch ms).

    Returns ``(figures, spans, health)``: ``figures`` has one dict of
    :data:`STATS` per call (same order as ``calls``); ``spans`` is the
    workload → call → job → stage tree, each span with an id and its
    parent's id; ``health`` counts jobs and stages the store dropped or
    left unfinished, and jobs run during a call without its job group."""
    attempts: dict[int, list[dict]] = {}
    for st in stages:
        attempts.setdefault(st["stageId"], []).append(st)

    # Jobs are numbered from 0 in submission order, so a gap means the
    # store evicted some; a stage a job names but the store lacks, or one
    # still pending or active after the bus drained, is missing data.
    job_ids = [j["jobId"] for j in jobs]
    dropped = (max(job_ids) + 1 - len(job_ids)) if job_ids else 0
    for j in jobs:
        for sid in j["stageIds"]:
            if sid not in attempts:
                dropped += 1
    unfinished = sum(1 for st in stages if st["status"] in ("ACTIVE", "PENDING"))

    by_group: dict[str, list[dict]] = {}
    for j in jobs:
        by_group.setdefault(j.get("jobGroup") or "", []).append(j)
    unattributed = sum(
        1
        for j in by_group.get("", [])
        if any(c.start * 1000 <= j["submissionTime"] <= c.end * 1000 for c in calls)
    )

    spans = [{"id": 0, "parent": None, "kind": "workload", "name": "workload",
              "start": workload_span[0], "end": workload_span[1]}]
    figures = []
    for call in calls:
        call_id = len(spans)
        spans.append({"id": call_id, "parent": 0, "kind": "call", "name": call.name,
                      "rep": call.rep, "start": call.start, "end": call.end,
                      "error": call.error})
        call_jobs = sorted(by_group.get(call.group, []), key=lambda j: j["jobId"])
        ran: list[dict] = []
        seen: set[int] = set()
        for j in call_jobs:
            job_id = len(spans)
            spans.append({"id": job_id, "parent": call_id, "kind": "job",
                          "name": f"job {j['jobId']}",
                          "start": j.get("submissionTime", 0) / 1000,
                          "end": (j.get("completionTime") or 0) / 1000})
            for sid in j["stageIds"]:
                if sid in seen:
                    continue
                for st in attempts.get(sid, []):
                    if st["status"] == "SKIPPED" or not st.get("submissionTime"):
                        continue
                    seen.add(sid)
                    ran.append(st)
                    spans.append({"id": len(spans), "parent": job_id, "kind": "stage",
                                  "name": f"stage {sid}.{st['attemptId']}",
                                  "start": st["submissionTime"] / 1000,
                                  "end": (st.get("completionTime") or 0) / 1000,
                                  "tasks": st["numTasks"]})
        busy = interval_union(
            ((st["submissionTime"] / 1000, (st.get("completionTime") or 0) / 1000) for st in ran),
            clip=(call.start, call.end),
        )
        task_s = sum(st["executorRunTime"] for st in ran) / 1e3
        figures.append({
            "s": call.s,
            "busy_s": busy,
            "driver_s": driver_s(call.s, busy),
            "jobs": len(call_jobs),
            "stages": len(ran),
            "tasks": sum(st["numTasks"] for st in ran),
            "task_s": task_s,
            "cpu_s": sum(st["executorCpuTime"] for st in ran) / 1e9,
            "gc_s": sum(st["jvmGcTime"] for st in ran) / 1e3,
            "shuffle_write_mb": sum(st["shuffleWriteBytes"] for st in ran) / 1e6,
            "shuffle_read_mb": sum(st["shuffleReadBytes"] for st in ran) / 1e6,
            "spill_mb": sum(st["diskBytesSpilled"] for st in ran) / 1e6,
            "output_mb": sum(st["outputBytes"] for st in ran) / 1e6,
            "failed_tasks": sum(st["numFailedTasks"] for st in ran),
            "slot_util": slot_util(task_s, call.s, cores),
        })
    health = {"dropped": dropped, "unfinished": unfinished, "unattributed_jobs": unattributed}
    return figures, spans, health
