"""Per-stage layer counters read from outside the package.

A stage is one ``cli.main`` call. Its span is the wall interval of that call;
the Spark jobs it ran are the child spans, read as a before/after diff of
Spark's ``AppStatusStore`` (populated with ``spark.ui.enabled=false`` too)
over py4j. The store is serialised to JSON on the JVM side with Jackson, so
one py4j round trip returns all retained jobs or stages.

Layers, following ROADMAP aim 1:

- driver: ``driver_s``, stage wall minus the union of its job intervals
  (the stage span's self time);
- scheduling: ``jobs`` and ``tasks``;
- executor: ``exec_cpu_s``, ``exec_util``, ``shuffle_write_mb``, GC, spill;
- sink: ``output_mb``, bytes the stage's tasks wrote (final output plus
  staging).
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass

MB = 1e6


def tree_bytes(path: str) -> int:
    """Data bytes under ``path``, leaving out checksum and marker files."""
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, fs in os.walk(path)
        for f in fs
        if not f.startswith((".", "_"))
    )


class StatusStore:
    """Reads jobs and stage attempts from the live Spark status store."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self._ctx = sc._jsc.sc()
        self._store = self._ctx.statusStore()
        jvm = sc._jvm
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper.registerModule(getattr(scala_module, "MODULE$"))
        self.cores = sc.defaultParallelism

    def _drain(self) -> None:
        # job and stage events reach the store through the asynchronous
        # listener bus; wait until it has delivered everything posted so far
        self._ctx.listenerBus().waitUntilEmpty()

    def jobs(self) -> list[dict]:
        self._drain()
        return json.loads(self._mapper.writeValueAsString(self._store.jobsList(None)))

    def stages(self) -> list[dict]:
        self._drain()
        s = self._store
        seq = s.stageList(
            None, False, False,
            getattr(s, "stageList$default$4")(), getattr(s, "stageList$default$5")(),
        )
        return json.loads(self._mapper.writeValueAsString(seq))

    def mark(self) -> tuple[int, int]:
        """Highest job and stage ids seen so far."""
        return (
            max((j["jobId"] for j in self.jobs()), default=-1),
            max((s["stageId"] for s in self.stages()), default=-1),
        )

    def since(self, mark: tuple[int, int]) -> tuple[list[dict], list[dict]]:
        """Jobs and stage attempts started after ``mark``."""
        return (
            [j for j in self.jobs() if j["jobId"] > mark[0]],
            [s for s in self.stages() if s["stageId"] > mark[1]],
        )


@dataclass
class StageRecord:
    key: str
    wall_s: float
    driver_s: float
    covered_s: float
    jobs: int
    tasks: int
    exec_cpu_s: float
    exec_run_s: float
    exec_util: float
    shuffle_write_mb: float
    output_mb: float
    gc_s: float
    spill_mb: float
    failed_tasks: int


def covered_seconds(intervals: list[tuple[float, float]], t0: float, t1: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[t0, t1]``."""
    total, end = 0.0, t0
    for a, b in sorted((max(a, t0), min(b, t1)) for a, b in intervals):
        if b <= a:
            continue
        if a > end:
            total += b - a
        elif b > end:
            total += b - end
        end = max(end, b)
    return total


def stage_record(
    key: str, t0: float, t1: float, jobs: list[dict], stages: list[dict], cores: int
) -> StageRecord:
    """Counters of one stage from the jobs and stage attempts it started
    between wall-clock times ``t0`` and ``t1`` (seconds since the epoch)."""
    spans = [
        (j["submissionTime"] / 1e3, (j["completionTime"] or t1 * 1e3) / 1e3)
        for j in jobs
        if j["submissionTime"] is not None
    ]
    covered = covered_seconds(spans, t0, t1)
    ran = [s for s in stages if s["status"] not in ("SKIPPED", "PENDING")]
    run_s = sum(s["executorRunTime"] for s in ran) / 1e3
    return StageRecord(
        key=key,
        wall_s=t1 - t0,
        driver_s=(t1 - t0) - covered,
        covered_s=covered,
        jobs=len(jobs),
        tasks=sum(s["numCompleteTasks"] + s["numFailedTasks"] + s["numKilledTasks"] for s in ran),
        exec_cpu_s=sum(s["executorCpuTime"] for s in ran) / 1e9,
        exec_run_s=run_s,
        exec_util=run_s / (cores * covered) if covered > 0 else 0.0,
        shuffle_write_mb=sum(s["shuffleWriteBytes"] for s in ran) / MB,
        output_mb=sum(s["outputBytes"] for s in ran) / MB,
        gc_s=sum(s["jvmGcTime"] for s in ran) / 1e3,
        spill_mb=sum(s["diskBytesSpilled"] for s in ran) / MB,
        failed_tasks=sum(s["numFailedTasks"] for s in ran),
    )


class Tracer:
    """Wraps each stage call in a span and diffs the status store around it."""

    def __init__(self, spark) -> None:
        self.store = StatusStore(spark)

    def run(self, key: str, fn) -> StageRecord:
        mark = self.store.mark()
        t0 = time.time()
        fn()
        t1 = time.time()
        jobs, stages = self.store.since(mark)
        return stage_record(key, t0, t1, jobs, stages, self.store.cores)
