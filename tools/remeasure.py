"""Quiet-host best-of-N isolated re-measure (the r5/r7 methodology,
BASELINE.md "Isolated re-measure" sections): one warm session at
$SPARK_GRAFT_SF_DIR, N back-to-back noop-sink runs per named query with
full per-query session hygiene, printing per-run seconds and the warm
floor. Usage:

    python tools/remeasure.py [N] query1 query2 ...

Each face's line carries the host load average and the host's steal share
(``/proc/stat``, as perfbench/probes.py reads it) over that face's runs:
runs that race other JVMs, or lose CPU to the hypervisor, are contaminated
(BASELINE.md round-6 lesson). It also carries the processes the session's
JVM launched in each run (JFR ``jdk.ProcessStart`` events, recorded through
``jcmd`` on the JVM's own pid), with the mean per run of each command: on a
Hadoop without libhadoop, local file I/O launches ``readlink`` and ``chmod``
processes (SCALE.md, "Process launches in local checkpoint I/O"). It prints
``launches=n/a`` when ``jcmd`` or ``jfr`` is not on the PATH. Each run
has its own Spark job group, and the line carries the jobs each run
submitted from its own thread while building and writing the face
(``sc.statusTracker().getJobIdsForGroup``). For a face that runs a
stateful stream, it also carries the state rows and state partitions
that the stream's state operators reported in each run's last progress
event, read through a ``StreamingQueryListener`` (:class:`StateReport`):
the keyed-state operators hold one row per touched hash bucket, so their
state rows stay at or under the bucket count (SCALE.md, "Keyed state in
hash buckets")."""
import collections
import itertools
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql.streaming import StreamingQueryListener  # noqa: E402


_LAUNCH_SETTINGS = """<?xml version="1.0" encoding="UTF-8"?>
<configuration version="2.0">
  <event name="jdk.ProcessStart">
    <setting name="enabled">true</setting>
    <setting name="stackTrace">false</setting>
  </event>
</configuration>
"""


class LaunchRecorder:
    """Counts the processes a JVM launches between :meth:`start` and
    :meth:`stop`: a JFR recording of ``jdk.ProcessStart`` only, started and
    dumped with ``jcmd``, read back with ``jfr print``. The jcmd and jfr
    processes run outside the JVM, so they are not counted."""

    def __init__(self, pid: int):
        self.pid = str(pid)
        # removed when the recorder is collected, or at exit
        self._dir = tempfile.TemporaryDirectory(prefix="pns_launches_")
        self.settings = os.path.join(self._dir.name, "launches.jfc")
        with open(self.settings, "w") as f:
            f.write(_LAUNCH_SETTINGS)

    @staticmethod
    def available() -> bool:
        return bool(shutil.which("jcmd") and shutil.which("jfr"))

    def _jcmd(self, *args: str) -> None:
        subprocess.run(["jcmd", self.pid, *args], check=True, capture_output=True)

    def start(self) -> None:
        self._jcmd("JFR.start", "name=pns_launches", f"settings={self.settings}")

    def stop(self) -> collections.Counter:
        """The launches since :meth:`start`, by command name."""
        dump = os.path.join(self._dir.name, "launches.jfr")
        self._jcmd("JFR.stop", "name=pns_launches", f"filename={dump}")
        out = subprocess.run(
            ["jfr", "print", "--json", "--events", "jdk.ProcessStart", dump],
            check=True, capture_output=True, text=True,
        ).stdout
        os.remove(dump)
        events = json.loads(out)["recording"]["events"]
        return collections.Counter(
            os.path.basename(e["values"]["command"].split()[0]) for e in events
        )


class StateReport(StreamingQueryListener):
    """The state rows and state partitions of every state operator, as each
    streaming query's last progress event reported them. Events arrive
    asynchronously but in order, so :meth:`take` waits until every started
    query's termination event, which follows its progress events, has
    arrived."""

    def __init__(self):
        self.started = 0
        self.terminated = 0
        self.last: dict[str, list[tuple[int, int]]] = {}

    def onQueryStarted(self, event):
        self.started += 1

    def onQueryProgress(self, event):
        progress = event.progress
        self.last[str(progress.runId)] = [
            (op.numRowsTotal, op.numShufflePartitions)
            for op in progress.stateOperators
        ]

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        self.terminated += 1

    def take(self, timeout: float = 60.0) -> tuple[int, int] | None:
        """``(state rows, state partitions)`` summed over the state
        operators of the queries since the last call, or None when none of
        them had one; then start over."""
        deadline = time.monotonic() + timeout
        while self.terminated < self.started and time.monotonic() < deadline:
            time.sleep(0.05)
        ops = [op for ops in self.last.values() for op in ops]
        self.started = self.terminated = 0
        self.last = {}
        if not ops:
            return None
        return sum(r for r, _ in ops), sum(p for _, p in ops)


def main() -> int:
    args = sys.argv[1:]
    n = 3
    if args and args[0].isdigit():
        n = int(args[0])
        args = args[1:]
    if not args:
        raise SystemExit("usage: remeasure.py [N] query1 query2 ...")

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from perfbench.probes import cpu_jiffies
    from polars_numba_spark import get_spark
    from polars_numba_spark.plans.checkpoint import release_session_checkpoints
    from polars_numba_spark.queries import catalog

    spark = get_spark(app_name="remeasure")
    spark.sparkContext.setLogLevel("ERROR")
    queries = catalog.spark_queries()
    unknown = [q for q in args if q not in queries]
    if unknown:
        raise SystemExit(f"not in catalog: {unknown}")

    def scrub() -> None:
        for table in spark.catalog.listTables():
            if table.name.startswith("pns_"):
                spark.catalog.dropTempView(table.name)
        release_session_checkpoints(spark)
        spark.catalog.clearCache()

    sc = spark.sparkContext
    groups = itertools.count()

    def run(name: str) -> tuple[float, int]:
        """The run's seconds and the Spark jobs it submitted."""
        group = f"remeasure-{next(groups)}-{name}"
        sc.setJobGroup(group, name)
        try:
            t0 = time.perf_counter()
            queries[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            elapsed = time.perf_counter() - t0
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        scrub()
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return elapsed, len(sc.statusTracker().getJobIdsForGroup(group))

    def cpu_tree_seconds() -> float:
        """Total user+sys CPU seconds of this process and every live
        descendant (the JVM and its python workers). Wall clock on a
        shared host is scheduling-noisy; total CPU burned by a query is
        far more stable, so A/B comparisons report both (r14)."""
        tick = os.sysconf("SC_CLK_TCK")
        me = os.getpid()
        procs: dict[int, tuple[int, float]] = {}
        for pid in os.listdir("/proc"):
            if not pid.isdigit():
                continue
            try:
                with open(f"/proc/{pid}/stat") as f:
                    parts = f.read().rsplit(")", 1)[1].split()
                ppid = int(parts[1])
                cpu = (int(parts[11]) + int(parts[12])) / tick
                procs[int(pid)] = (ppid, cpu)
            except OSError:
                continue
        total = 0.0
        for pid, (ppid, cpu) in procs.items():
            p = pid
            while p > 1:
                if p == me:
                    total += cpu
                    break
                p = procs.get(p, (0, 0.0))[0]
        return total

    state = StateReport()
    spark.streams.addListener(state)

    recorder = None
    if LaunchRecorder.available():
        recorder = LaunchRecorder(
            spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        )

    print(f"load avg at start: {os.getloadavg()}", flush=True)
    for warm in ("q6_revenue_forecast", "capped_balance_per_user"):
        run(warm)
    state.take()

    out = {}
    for name in args:
        runs, cpus, jobs, launches, states = [], [], [], [], []
        steal0, total0 = cpu_jiffies()
        for _ in range(n):
            if recorder is not None:
                recorder.start()
            c0 = cpu_tree_seconds()
            seconds, n_jobs = run(name)
            runs.append(round(seconds, 3))
            cpus.append(round(cpu_tree_seconds() - c0, 2))
            jobs.append(n_jobs)
            states.append(state.take())
            if recorder is not None:
                launches.append(recorder.stop())
        steal1, total1 = cpu_jiffies()
        steal_pct = round(100 * (steal1 - steal0) / max(1, total1 - total0), 2)
        load = round(os.getloadavg()[0], 2)
        launch_line = "n/a"
        if recorder is not None:
            by_command = sum(launches, collections.Counter())
            per_run = " ".join(
                f"{cmd} {count / n:.3g}" for cmd, count in by_command.most_common()
            )
            launch_line = "/".join(str(c.total()) for c in launches) + f" [{per_run}]"
        state_line = ""
        if any(states):
            state_line = (
                f"  state_rows={'/'.join(str(s[0]) if s else '-' for s in states)}"
                f" state_parts={'/'.join(str(s[1]) if s else '-' for s in states)}"
            )
        out[name] = {"runs": runs, "floor": min(runs),
                     "cpu": cpus, "cpu_floor": min(cpus), "jobs": jobs,
                     "load": load, "steal_pct": steal_pct,
                     "state": [list(s) if s else None for s in states],
                     "launches": [dict(c) for c in launches] if recorder else None}
        print(f"{name}: {' / '.join(f'{r:.2f}' for r in runs)}  floor={min(runs):.2f}"
              f"  cpu={' / '.join(f'{c:.1f}' for c in cpus)} cpu_floor={min(cpus):.1f}"
              f"  jobs={'/'.join(map(str, jobs))}{state_line}"
              f"  load={load:.2f} steal={steal_pct:.1f}%  launches={launch_line}",
              flush=True)
    print("REMEASURE " + json.dumps({"sf_dir": sf_dir, "results": out,
                                     "load_end": os.getloadavg()}), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
