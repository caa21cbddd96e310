"""Per-query Spark statistics read from the Spark driver's status store.

The Spark UI is off in this engine, but the status store behind it is
still fed. Every query execution is bracketed by two reads of the
scheduler's next job id; the jobs in between are the query's, whether
the driver thread submitted them or a streaming micro-batch thread
did (micro-batches run under the stream's own job group, so
``statusTracker().getJobIdsForGroup`` alone misses them).

The store keeps only the last ``spark.ui.retainedJobs`` /
``retainedStages`` (1,000) entries, so the statistics are read right
after each query, never once per pass.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

MB = 1024 * 1024


@dataclass
class QueryStats:
    """Totals over the executed stages of one query execution."""

    jobs: list[tuple[int, float, float]] = field(default_factory=list)
    """(job id, submission, completion) with times in epoch seconds."""
    stages: int = 0
    tasks: int = 0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read_mb: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    input_mb: float = 0.0
    stages_dropped: int = 0
    """Stages of the query's jobs that the store no longer holds."""


def _epoch_s(option_date) -> float | None:
    return option_date.get().getTime() / 1000.0 if option_date.isDefined() else None


class SparkStats:
    def __init__(self, spark):
        sc = spark.sparkContext._jsc.sc()
        self._bus = sc.listenerBus()
        self._store = sc.statusStore()
        self._dag = sc.dagScheduler()

    def next_job_id(self) -> int:
        return self._dag.nextJobId()

    def read(self, first_job: int, end_job: int) -> QueryStats:
        """Statistics of jobs ``first_job`` .. ``end_job - 1``.

        A stage reused by a later job of the same query is counted
        once; stages that never ran (skipped) are not counted."""
        self._bus.waitUntilEmpty()  # the store is fed asynchronously
        out = QueryStats()
        stage_ids: set[int] = set()
        for jid in range(first_job, end_job):
            job = self._store.job(jid)
            out.jobs.append(
                (jid, _epoch_s(job.submissionTime()), _epoch_s(job.completionTime()))
            )
            ids = job.stageIds()
            stage_ids.update(ids.apply(i) for i in range(ids.length()))
        for sid in sorted(stage_ids):
            try:
                st = self._store.lastStageAttempt(sid)
            except Py4JJavaError:
                # Once full, the store drops skipped stages first; the
                # stages this query ran are among its newest.
                out.stages_dropped += 1
                continue
            if st.status().toString() == "SKIPPED":
                continue
            out.stages += 1
            out.tasks += st.numTasks()
            out.executor_run_s += st.executorRunTime() / 1e3
            out.executor_cpu_s += st.executorCpuTime() / 1e9
            out.gc_s += st.jvmGcTime() / 1e3
            out.shuffle_read_mb += st.shuffleReadBytes() / MB
            out.shuffle_write_mb += st.shuffleWriteBytes() / MB
            out.spill_mb += st.diskBytesSpilled() / MB
            out.input_mb += st.inputBytes() / MB
        return out


@dataclass(frozen=True)
class JvmCounters:
    """Cumulative counters of the driver JVM, read from its MXBeans and
    Spark's codegen metrics through py4j."""

    jit_s: float
    """Time the JIT compilers have spent compiling."""
    gc_s: float
    """Time spent in garbage collection, over all collectors."""
    codegen_compiles: int
    """Classes Spark's whole-stage and expression codegen compiled."""

    def minus(self, before: JvmCounters) -> dict[str, float]:
        return {
            "jit_s": self.jit_s - before.jit_s,
            "gc_s": self.gc_s - before.gc_s,
            "codegen_compiles": self.codegen_compiles - before.codegen_compiles,
        }


def read_jvm(jvm) -> JvmCounters:
    mf = jvm.java.lang.management.ManagementFactory
    beans = mf.getGarbageCollectorMXBeans()
    gc_ms = sum(max(beans.get(i).getCollectionTime(), 0) for i in range(beans.size()))
    codegen = jvm.org.apache.spark.metrics.source.CodegenMetrics
    return JvmCounters(
        jit_s=mf.getCompilationMXBean().getTotalCompilationTime() / 1e3,
        gc_s=gc_ms / 1e3,
        codegen_compiles=codegen.METRIC_COMPILATION_TIME().getCount(),
    )
