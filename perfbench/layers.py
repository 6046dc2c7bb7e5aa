"""Layer instrumentation for the traced run, and the Spark-side counters.

Spans wrap the public calls one layer makes into the next:
``CDCPipeline.replay`` (source), ``apply_batch``
(pipeline: the (shard, bucket) stats grid), ``ParquetLakeTable.merge`` /
``compact`` (lake), ``Lineage.load`` / ``save`` (lineage).  Counters come
from Spark's status store (jobs, tasks, stage input rows), the JVM's GC
and memory-pool beans, and a benchmark-registered
``StreamingQueryListener`` (trigger phases).
"""

from __future__ import annotations

import os
import threading
import time

from pyspark.sql.streaming import StreamingQueryListener

from perfbench.spans import Tracer

LAYER_OF_SPAN = {
    "op": "driver",
    "pipeline.replay": "pipeline.source",
    "pipeline.apply_batch": "pipeline.stats",
    "lake.merge": "lake.merge",
    "lake.compact": "lake.compact",
    "lineage.load": "lineage.io",
    "lineage.save": "lineage.io",
    "trace.probe": "trace",
}


def layer_of(span) -> str:
    return LAYER_OF_SPAN.get(span.name, span.name)


def _table_files(lake) -> dict[str, int]:
    out = {}
    for root in (f"{lake.path}/data", f"{lake.path}/delta"):
        for d, _, files in os.walk(root):
            for f in files:
                if f.endswith(".parquet"):
                    p = os.path.join(d, f)
                    out[p] = os.path.getsize(p)
    return out


def _merge_before(args):
    return _table_files(args[0])


def _merge_after(args, stats, span, before):
    """Footer-level facts about what this merge wrote: the buckets whose
    files changed, the bytes of the new files and the rows in them."""
    import pyarrow.parquet as pq

    new = {p: n for p, n in _table_files(args[0]).items() if p not in before}
    buckets = {
        part.split("=", 1)[1]
        for p in new for part in p.split(os.sep) if part.startswith("_bucket=")
    }
    span.attrs.update(
        buckets=len(buckets),
        bytes=sum(new.values()),
        rows=sum(pq.read_metadata(p).num_rows for p in new),
    )


def _apply_after(args, bm, span, _):
    span.attrs.update(batch_id=args[2] if len(args) > 2 else None,
                      events=bm.events)


def _batch_op(tracer, args) -> str:
    return f"{tracer.op}/b{args[2]}"


def install(tracer: Tracer, per_batch_ops: bool) -> None:
    """Patch the layer boundaries (process-wide; off until
    ``tracer.enabled``).  ``per_batch_ops``: each ``apply_batch`` call is an
    op of its own (streaming, where the microbatch is the op)."""
    from singer_tap_spark.lake import ParquetLakeTable
    from singer_tap_spark.lineage import Lineage
    from singer_tap_spark.pipeline import CDCPipeline

    tracer.wrap(CDCPipeline, "replay", "pipeline.replay")
    tracer.wrap(CDCPipeline, "apply_batch", "pipeline.apply_batch",
                after=_apply_after, op_of=_batch_op if per_batch_ops else None)
    tracer.wrap(ParquetLakeTable, "merge", "lake.merge",
                before=_merge_before, after=_merge_after)
    tracer.wrap(ParquetLakeTable, "compact", "lake.compact")
    tracer.wrap(Lineage, "load", "lineage.load", static=True)
    tracer.wrap(Lineage, "save", "lineage.save")


class SparkCounters:
    """Jobs, tasks and stage input rows since the last ``take()``, read from
    the status store by job id (ids only grow, and this process runs one
    workload at a time, so every job since the last call belongs to the op
    in between); GC time from the JVM's collector beans."""

    def __init__(self, spark) -> None:
        self._jvm = spark._jvm
        self._store = spark.sparkContext._jsc.sc().statusStore()
        self._last_job = self._max_job()
        self._last_gc = self.gc_seconds()

    def _max_job(self) -> int:
        jobs = self._store.jobsList(None)
        return max((jobs.apply(i).jobId() for i in range(jobs.length())), default=-1)

    def gc_seconds(self) -> float:
        beans = self._jvm.java.lang.management.ManagementFactory \
            .getGarbageCollectorMXBeans()
        return sum(max(0, b.getCollectionTime()) for b in beans) / 1000.0

    def take(self) -> dict:
        jobs = self._store.jobsList(None)
        new = [jobs.apply(i) for i in range(jobs.length())]
        new = [j for j in new if j.jobId() > self._last_job]
        out = dict(jobs=len(new), tasks=0, failed_tasks=0, input_rows=0)
        for j in new:
            out["tasks"] += j.numCompletedTasks()
            out["failed_tasks"] += j.numFailedTasks()
            stages = j.stageIds()
            for k in range(stages.length()):
                try:
                    out["input_rows"] += self._store.lastStageAttempt(
                        stages.apply(k)).inputRecords()
                except Exception:  # a stage the store never saw run
                    pass
        if new:
            self._last_job = max(j.jobId() for j in new)
        gc = self.gc_seconds()
        out["gc_s"], self._last_gc = gc - self._last_gc, gc
        return out

    def _old_gen(self):
        pools = self._jvm.java.lang.management.ManagementFactory \
            .getMemoryPoolMXBeans()
        return [p for p in pools if "Old" in p.getName() or "Tenured" in p.getName()]

    def reset_peak(self) -> None:
        for p in self._old_gen():
            p.resetPeakUsage()

    def old_peak_mb(self) -> float:
        """Peak old-generation use since ``reset_peak``: what the program
        keeps live across ops.  (The heap is fixed-size, so the process
        high-water mark only restates the heap size.)"""
        return sum(p.getPeakUsage().getUsed() for p in self._old_gen()) / 2**20


class Progress(StreamingQueryListener):
    """Microbatch progress of every query, delivered on the listener bus."""

    def __init__(self) -> None:
        self.batches: list[dict] = []
        self.terminated: list[str] = []
        self._cv = threading.Condition()

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        with self._cv:
            self.batches.append(dict(
                run=str(p.runId), batch=p.batchId,
                ms={k: int(v) for k, v in p.durationMs.items()},
                input_rows=p.numInputRows,
            ))

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        with self._cv:
            self.terminated.append(str(event.runId))
            self._cv.notify_all()

    def wait_terminated(self, n: int, timeout: float = 60.0) -> str:
        """Run id of the n-th terminated query, once its events are in."""
        deadline = time.monotonic() + timeout
        with self._cv:
            while len(self.terminated) < n:
                left = deadline - time.monotonic()
                if left <= 0:
                    raise TimeoutError("streaming listener saw no termination")
                self._cv.wait(left)
            return self.terminated[n - 1]

    def of_run(self, run_id: str) -> list[dict]:
        with self._cv:
            return [b for b in self.batches if b["run"] == run_id]
