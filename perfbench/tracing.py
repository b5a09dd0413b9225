"""Per-layer tracing from outside the engine.

Everything here reads public hooks: a job group per op and phase, the
status tracker, the gateway client's ``send_command`` (one call is one
Py4J round trip), the event log written through ``conf/traced``, the
block manager's storage info, the Python UDF profiler and the host's
``/proc/stat``. Spans stay in memory; ``run.per_layer`` folds them into
the per-layer numbers once, after the session has stopped.
"""

from __future__ import annotations

import glob
import json
import os
import pstats
import time
from collections import defaultdict
from contextlib import contextmanager

MB = 1024 * 1024


def cpu_times() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat (user .. steal)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_ratio(before: list[int], after: list[int]) -> float:
    delta = [b - a for a, b in zip(before, after)]
    return delta[7] / max(1, sum(delta))


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


class Tracer:
    """Spans at the benchmark's calls into each layer.

    With ``on=False`` every hook is a no-op, so the timed runs pay for
    nothing but the ``with`` statement.
    """

    def __init__(self, spark, on: bool):
        self.on = on
        self.spark = spark
        self.spans: list[dict] = []
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.py4j_calls = 0
        self.py4j_s = 0.0
        if on:
            self._count_py4j()

    def _count_py4j(self) -> None:
        client = self.spark.sparkContext._gateway._gateway_client
        send = client.send_command

        def counted(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return send(*args, **kwargs)
            finally:
                self.py4j_calls += 1
                self.py4j_s += time.perf_counter() - t0

        client.send_command = counted

    @contextmanager
    def span(self, op: str, phase: str):
        """Time one phase of one op under its own job group."""
        if not self.on:
            yield
            return
        sc = self.spark.sparkContext
        group = f"{op}|{phase}"
        sc.setJobGroup(group, group)
        calls, spent = self.py4j_calls, self.py4j_s
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            span = {
                "op": op,
                "phase": phase,
                "start": t0,
                "end": t1,
                "py4j_calls": self.py4j_calls - calls,
                "py4j_s": self.py4j_s - spent,
            }
            span["jobs"] = list(sc.statusTracker().getJobIdsForGroup(group))
            self.spans.append(span)
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    def sample(self, name: str, value: float) -> None:
        if self.on:
            self.samples[name].append(value)

    def sample_storage(self) -> None:
        """Cached relations and their size, from the block manager."""
        if not self.on:
            return
        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        cached = [i for i in infos if i.numCachedPartitions() > 0]
        self.sample("catalog.cached_relations", len(cached))
        self.sample(
            "catalog.cached_mb", sum(i.memSize() + i.diskSize() for i in cached) / MB
        )

    def plan(self, op: str, df) -> str:
        """Plan ``df`` in a ``plan`` span; returns the physical plan."""
        from bigdataamazon_spark.plans.inspect import executed_plan, plan_summary

        with self.span(op, "plan"):
            text = executed_plan(df)
        summary = plan_summary(text)
        self.sample("plans.exchanges", summary["exchanges"])
        self.sample("plans.codegen_stages", summary["codegen_spans"])
        return text

    def python_worker_s(self, dump_dir: str) -> float:
        """Total Python-worker time the UDF profiler saw (Arrow UDF edge)."""
        self.spark.profile.dump(dump_dir, type="perf")
        return sum(
            pstats.Stats(path).total_tt
            for path in glob.glob(os.path.join(dump_dir, "*.pstats"))
        )


def _task_events(event_log_dir: str) -> tuple[dict[int, int], list[dict]]:
    """(stage -> job, task-end events) from the event log."""
    stage_job: dict[int, int] = {}
    tasks: list[dict] = []
    # Spark 4 rolls the log into eventlog_v2_<app>/events_<n>_<app> files
    for path in sorted(glob.glob(os.path.join(event_log_dir, "*", "events_*"))):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    for sid in ev["Stage IDs"]:
                        stage_job[sid] = ev["Job ID"]
                elif kind == "SparkListenerTaskEnd" and ev.get("Task Metrics"):
                    tasks.append(ev)
    return stage_job, tasks


def operator_metrics(event_log_dir: str, jobs: set[int]) -> dict[str, float]:
    """Summed task metrics of ``jobs``, from the event log."""
    stage_job, tasks = _task_events(event_log_dir)
    out: dict[str, float] = defaultdict(float)
    stages = set()
    for ev in tasks:
        if stage_job.get(ev["Stage ID"]) not in jobs:
            continue
        stages.add(ev["Stage ID"])
        m = ev["Task Metrics"]
        info = ev["Task Info"]
        duration = (info["Finish Time"] - info["Launch Time"]) / 1000
        run = m["Executor Run Time"] / 1000
        overhead = (
            m["Executor Deserialize Time"] + m["Result Serialization Time"]
        ) / 1000 + info.get("Getting Result Time", 0) / 1000
        shuffle_read = m["Shuffle Read Metrics"]
        out["tasks"] += 1
        out["task_s"] += run
        out["cpu_s"] += m["Executor CPU Time"] / 1e9
        out["scheduler_delay_s"] += max(0.0, duration - run - overhead)
        out["gc_s"] += m["JVM GC Time"] / 1000
        out["shuffle_read_mb"] += (
            shuffle_read["Remote Bytes Read"] + shuffle_read["Local Bytes Read"]
        ) / MB
        out["shuffle_write_mb"] += m["Shuffle Write Metrics"]["Shuffle Bytes Written"] / MB
        out["spill_mb"] += (m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]) / MB
        out["input_mb"] += m["Input Metrics"]["Bytes Read"] / MB
    out["jobs"] = len(jobs)
    out["stages"] = len(stages)
    return out
