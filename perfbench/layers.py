"""Instruments that observe the engine's layers from outside.

Each wraps a public surface of the engine or of Spark and records what
crossed it; none changes what the engine does:

- ``TimingCatalog``: a ``Catalog`` subclass handed to ``JobService``
  that times every verb and counts the files and bytes each write left.
- ``CountingAlerter``: an ``Alerter`` that counts what the jobs fire.
- ``SparkCounters``: job, stage and task counters for one op, read
  from ``statusTracker`` and ``statusStore`` over the op's job-id range.
- ``BatchListener``: a ``StreamingQueryListener`` that records each
  micro-batch's duration.
"""

from __future__ import annotations

import os
import time
from collections import defaultdict

from pyspark.sql.streaming import StreamingQueryListener

import stats

from spark_etl_agent_spark.jobs.alerts import Alerter
from spark_etl_agent_spark.sources.catalog import Catalog

# Catalog verbs that are timed; writes also get their on-disk footprint.
CATALOG_VERBS = (
    "table_exists",
    "read_table",
    "write_table",
    "get_table_count",
    "truncate_table",
    "copy_table_data",
    "merge_upsert",
    "apply_cdc",
    "compact_table",
    "overwrite_partitions",
    "analyze_table",
    "drop_table",
)
MB = 1024.0 * 1024.0


def dir_footprint(path: str) -> tuple:
    """(parquet file count, total bytes) under a local directory."""
    files = size = 0
    for base, _dirs, names in os.walk(path):
        for n in names:
            p = os.path.join(base, n)
            size += os.path.getsize(p)
            if n.endswith(".parquet"):
                files += 1
    return files, size


class TimingCatalog(Catalog):
    """Times each verb call. ``tracer`` (optional) gets one span per
    call; with ``footprint`` on, each write also records how many
    parquet files and bytes it added under the table directory."""

    def __init__(self, spark, root, tracer=None, footprint=False) -> None:
        super().__init__(spark, root)
        self.tracer = tracer
        self.footprint = footprint
        self.seconds = defaultdict(float)
        self.calls = defaultdict(int)
        self.files_written = 0
        self.bytes_written = 0

    def reset(self) -> None:
        self.seconds.clear()
        self.calls.clear()
        self.files_written = self.bytes_written = 0

    def _timed(self, verb, fn, *args, **kwargs):
        span = self.tracer.start(f"catalog.{verb}") if self.tracer else None
        t0 = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            self.seconds[verb] += time.perf_counter() - t0
            self.calls[verb] += 1
            if span is not None:
                self.tracer.end(span)

    def write_table(self, df, name, mode="append", partition_by=None):
        if not self.footprint:
            return self._timed(
                "write_table", super().write_table, df, name, mode, partition_by
            )
        path = self.path(name)
        before = dir_footprint(path) if mode == "append" else (0, 0)
        self._timed("write_table", super().write_table, df, name, mode, partition_by)
        after = dir_footprint(path)
        self.files_written += max(0, after[0] - before[0])
        self.bytes_written += max(0, after[1] - before[1])


def _wrap(verb):
    def method(self, *args, **kwargs):
        return self._timed(verb, getattr(Catalog, verb).__get__(self), *args, **kwargs)

    method.__name__ = verb
    method.__doc__ = f"Timed ``Catalog.{verb}``."
    return method


for _verb in CATALOG_VERBS:
    if _verb != "write_table":
        setattr(TimingCatalog, _verb, _wrap(_verb))


class CountingAlerter(Alerter):
    """Counts variance alerts; delivers nothing."""

    def __init__(self) -> None:
        self.alerts = 0

    def send_variance_alert(self, job_name, variance_percentage,
                            previous_count, current_count) -> bool:
        self.alerts += 1
        return True

    def send_completion_notification(self, job_name, status, rows_processed,
                                     duration, variance_percentage=None) -> bool:
        return True


class BatchListener(StreamingQueryListener):
    """Records every micro-batch as (wall-clock end, duration seconds).
    Events arrive on a listener thread; the main thread drains them
    with ``take``."""

    def __init__(self) -> None:
        self._batches = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        ms = event.progress.durationMs.get("triggerExecution")
        if ms is not None:
            self._batches.append((time.time(), ms / 1000.0))

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def take(self) -> list:
        """Batches recorded since the last call."""
        n = len(self._batches)
        out, self._batches[:n] = self._batches[:n], []
        return out


class SparkCounters:
    """Job/stage/task counters for the jobs an op launched.

    The job range comes from the scheduler's next-job-id before and
    after the op (a delta of ids, which keeps counting past the status
    store's retention limit, unlike the size of its job list). Stages
    are those the jobs in the range declared; a stage that was skipped
    (its shuffle output reused) has no attempt and adds no tasks."""

    FIELDS = (
        "jobs",
        "stages",
        "tasks",
        "executor_run_s",
        "gc_s",
        "input_mb",
        "shuffle_write_mb",
        "shuffle_read_mb",
        "spill_mb",
    )

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._tracker = self.sc.statusTracker()

    def next_job_id(self) -> int:
        return int(self._jsc.dagScheduler().nextJobId())

    def collect(self, first_job: int, end_job: int) -> dict:
        """Counters for jobs ``first_job <= id < end_job``."""
        # the status store is fed by the asynchronous listener bus: let it
        # catch up with the jobs that just ended before reading it
        self._jsc.listenerBus().waitUntilEmpty()
        jobs = stats.job_range(first_job, end_job)
        out = dict.fromkeys(self.FIELDS, 0.0)
        out["jobs"] = len(jobs)
        stage_ids = set()
        for j in jobs:
            info = self._tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        out["stages"] = len(stage_ids)
        store = self._jsc.statusStore()
        for sid in stage_ids:
            try:
                st = store.lastStageAttempt(sid)
            except Exception:  # skipped stage: never attempted
                continue
            out["tasks"] += st.numCompleteTasks()
            out["executor_run_s"] += st.executorRunTime() / 1000.0
            out["gc_s"] += st.jvmGcTime() / 1000.0
            out["input_mb"] += st.inputBytes() / MB
            out["shuffle_write_mb"] += st.shuffleWriteBytes() / MB
            out["shuffle_read_mb"] += st.shuffleReadBytes() / MB
            out["spill_mb"] += st.diskBytesSpilled() / MB
        return out

    def cached_mb(self) -> float:
        """Memory plus disk held by persisted RDDs right now."""
        total = 0
        for info in self._jsc.getRDDStorageInfo():
            total += info.memSize() + info.diskSize()
        return total / MB
