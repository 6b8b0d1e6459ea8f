"""Counters read from outside the engine: Spark's status stores, a public
``StreamingQueryListener``, the block manager's persistent RDDs, and the
processes' peak RSS.

The stores stay reachable with ``spark.ui.enabled=false``. Events reach
them through Spark's asynchronous listener bus, so every read first waits
for the bus to drain.
"""

from __future__ import annotations

import resource
from collections import Counter

from pyspark.sql.streaming import StreamingQueryListener

from perfbench.stats import parse_sql_metric, round_robin_exchanges

# SQL metric name of a Python node -> per-layer metric
PYTHON_METRICS = {
    "time to start Python workers": "kernels.python_start_s",
    "time to initialize Python workers": "kernels.python_init_s",
    "time to run Python workers": "kernels.python_run_s",
    "data sent to Python workers": "arrow.bytes_to_python",
    "data returned from Python workers": "arrow.bytes_from_python",
}


def _opt(scala_option):
    return scala_option.get() if scala_option.isDefined() else None


class StatusReader:
    """Reads the jobs, stages and SQL executions that appeared since the
    previous read."""

    def __init__(self, spark) -> None:
        self.ctx = spark.sparkContext._jsc.sc()
        self.store = self.ctx.statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self.drain()
        self.next_job = self._job_count()
        self.next_exec = self.sql.executionsCount()

    def drain(self) -> None:
        self.ctx.listenerBus().waitUntilEmpty()

    def _job_count(self) -> int:
        jobs = self.store.jobsList(None)  # newest first
        return jobs.apply(0).jobId() + 1 if jobs.size() else 0

    def skip(self) -> None:
        """Forget everything up to now (work that belongs to no op)."""
        self.drain()
        self.next_job = self._job_count()
        self.next_exec = self.sql.executionsCount()

    def read(self, groups: set[str], construct_end_ms: float) -> dict[str, float]:
        """Counters of the jobs in ``groups`` and of the SQL executions
        since the last read. Jobs of other groups are counted in
        ``spark.unattributed_jobs``."""
        self.drain()
        c: Counter = Counter()
        stage_ids: set[int] = set()
        end = self._job_count()
        for job_id in range(self.next_job, end):
            job = self.store.job(job_id)
            if _opt(job.jobGroup()) not in groups:
                c["spark.unattributed_jobs"] += 1
                continue
            c["spark.jobs"] += 1
            submitted = _opt(job.submissionTime())
            if submitted is not None and submitted.getTime() <= construct_end_ms:
                c["queries.construct_jobs"] += 1
            ids = job.stageIds()
            stage_ids.update(ids.apply(i) for i in range(ids.size()))
        self.next_job = end
        for sid in stage_ids:
            stage = self.store.lastStageAttempt(sid)
            if stage.status().toString() == "SKIPPED":
                continue
            c["spark.stages"] += 1
            c["spark.tasks"] += stage.numCompleteTasks()
            c["spark.executor_run_s"] += stage.executorRunTime() / 1e3
            c["spark.executor_cpu_s"] += stage.executorCpuTime() / 1e9
            c["spark.shuffle_read_bytes"] += stage.shuffleReadBytes()
            c["spark.shuffle_write_bytes"] += stage.shuffleWriteBytes()
        count = self.sql.executionsCount()
        new = count - self.next_exec
        execs = self.sql.executionsList(self.next_exec, new) if new > 0 else None
        for i in range(new):
            ex = execs.apply(i)
            values = self.sql.executionMetrics(ex.executionId())
            seen: set[int] = set()
            metrics = ex.metrics()
            for j in range(metrics.size()):
                m = metrics.apply(j)
                layer = PYTHON_METRICS.get(m.name())
                if layer is None or m.accumulatorId() in seen:
                    continue
                seen.add(m.accumulatorId())
                value = values.get(m.accumulatorId())
                c[layer] += parse_sql_metric(value.get() if value.isDefined() else None)
            c["sources.roundrobin_exchanges"] += round_robin_exchanges(
                ex.physicalPlanDescription()
            )
        self.next_exec = count
        return dict(c)


class StreamCounters(StreamingQueryListener):
    """Sums streaming query progress; ``take()`` returns and resets."""

    def __init__(self) -> None:
        self.run_ids: set[str] = set()
        self.counts: Counter = Counter()
        self.last_state: dict[str, tuple[int, int]] = {}

    def onQueryStarted(self, event) -> None:
        self.run_ids.add(str(event.runId))

    def onQueryProgress(self, event) -> None:
        p = event.progress
        d = p.durationMs
        self.counts["streaming.batches"] += 1
        self.counts["streaming.input_rows"] += p.numInputRows
        self.counts["streaming.add_batch_s"] += d.get("addBatch", 0) / 1e3
        self.counts["streaming.planning_s"] += d.get("queryPlanning", 0) / 1e3
        self.counts["streaming.wal_commit_s"] += (
            d.get("walCommit", 0) + d.get("commitOffsets", 0)
        ) / 1e3
        ops = p.stateOperators
        self.last_state[str(p.runId)] = (
            sum(o.numRowsTotal for o in ops),
            sum(o.memoryUsedBytes for o in ops),
        )

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def take(self) -> tuple[set[str], dict[str, float]]:
        out = dict(self.counts)
        # state at the end of each query, summed over the op's queries
        out["streaming.state_rows"] = sum(r for r, _ in self.last_state.values())
        out["streaming.state_memory_bytes"] = sum(b for _, b in self.last_state.values())
        ids = set(self.run_ids)
        self.run_ids.clear()
        self.counts.clear()
        self.last_state.clear()
        return ids, out


class CheckpointCounter:
    """Counts eager checkpoints by wrapping the two DataFrame methods that
    create them; every engine checkpoint goes through one of them."""

    def __init__(self) -> None:
        from pyspark.sql.classic.dataframe import DataFrame

        self.created = 0
        self._cls = DataFrame
        self._orig = {n: getattr(DataFrame, n) for n in ("localCheckpoint", "checkpoint")}
        for name, orig in self._orig.items():
            setattr(DataFrame, name, self._wrap(orig))

    def _wrap(self, orig):
        def counted(df, *args, **kwargs):
            self.created += 1
            return orig(df, *args, **kwargs)

        return counted

    def take(self) -> int:
        n, self.created = self.created, 0
        return n

    def close(self) -> None:
        for name, orig in self._orig.items():
            setattr(self._cls, name, orig)


def persistent_rdd_ids(spark) -> set[int]:
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    return {int(i) for i in jmap.keySet().toArray()}


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def peak_rss_mb(pid: int) -> float:
    """Peak RSS of the JVM ``pid`` plus that of this driver process."""
    jvm_kb = 0
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    own_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + own_kb) / 1024.0


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals)
