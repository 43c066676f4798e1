"""Per-op Spark counters read from the driver's status store.

The engine's session runs with the Spark UI off, but the live
``AppStatusStore`` behind the UI is still fed by the listener bus. After an
op returns, the reader drains the bus and reads every job the op started —
by job-id range, not job group: the medallion DAG runner submits jobs from
``ThreadPoolExecutor`` threads, which do not inherit a job group set on the
main thread, and with one client nothing else starts jobs meanwhile.

Reads must happen right after each op: the store keeps only
``spark.ui.retainedJobs``/``retainedStages`` (1000) entries.

The handles (``_jsc.sc()``, ``dagScheduler``, ``listenerBus``,
``statusStore``) are Spark internals. :meth:`SparkCounters.check_positive`
fails loudly when they read zeros, so an upgrade that moves them cannot
pass as a run with no work.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

COUNTERS = ("jobs", "stages", "tasks", "failed_tasks", "executor_run_s",
            "executor_cpu_s", "jvm_gc_s", "shuffle_read_bytes",
            "shuffle_write_bytes", "input_bytes", "output_bytes",
            "spill_bytes")


class SparkCounters:
    def __init__(self, spark: SparkSession) -> None:
        sc = spark.sparkContext._jsc.sc()
        self._dag = sc.dagScheduler()
        self._bus = sc.listenerBus()
        self._store = sc.statusStore()

    def next_job_id(self) -> int:
        nxt = self._dag.nextJobId()
        return nxt if isinstance(nxt, int) else nxt.get()

    def read(self, first_job: int, end_job: int
             ) -> tuple[dict[str, float], list[tuple[float, float]]]:
        """Counters summed over jobs ``[first_job, end_job)``, plus each
        job's (submitted, completed) wall-clock interval in epoch seconds."""
        self._bus.waitUntilEmpty()
        c = dict.fromkeys(COUNTERS, 0.0)
        intervals = []
        seen: set[int] = set()
        for job_id in range(first_job, end_job):
            job = self._store.job(job_id)
            c["jobs"] += 1
            done = job.completionTime()
            if job.submissionTime().isDefined() and done.isDefined():
                intervals.append((job.submissionTime().get().getTime() / 1e3,
                                  done.get().getTime() / 1e3))
            ids = job.stageIds()
            for i in range(ids.length()):
                sid = ids.apply(i)
                if sid in seen:
                    continue
                seen.add(sid)
                st = self._store.lastStageAttempt(sid)
                if st.status().toString() == "SKIPPED":
                    continue
                c["stages"] += 1
                c["tasks"] += st.numTasks()
                c["failed_tasks"] += st.numFailedTasks()
                c["executor_run_s"] += st.executorRunTime() / 1e3
                c["executor_cpu_s"] += st.executorCpuTime() / 1e9
                c["jvm_gc_s"] += st.jvmGcTime() / 1e3
                c["shuffle_read_bytes"] += st.shuffleReadBytes()
                c["shuffle_write_bytes"] += st.shuffleWriteBytes()
                c["input_bytes"] += st.inputBytes()
                c["output_bytes"] += st.outputBytes()
                c["spill_bytes"] += (st.memoryBytesSpilled()
                                     + st.diskBytesSpilled())
        return c, intervals

    def check_positive(self, first_job: int, end_job: int) -> None:
        """Positive control: the warm-up jobs ran real tasks, so reading
        them back as zero means the reader is broken, not the workload."""
        c, _ = self.read(first_job, end_job)
        if c["jobs"] < 1 or c["tasks"] < 1 or c["executor_run_s"] <= 0:
            raise RuntimeError(
                f"Spark status store read {c} for the warm-up jobs "
                f"[{first_job}, {end_job}); the counter reader is broken")
