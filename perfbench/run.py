"""Layer-attributed benchmark of the engine.

    python3 perfbench/run.py --workload fold_scan --seed 1 --seconds 24 --trace 0

Run from the root of a checkout. One client drives one Spark session on
``local[nproc]`` in a closed loop: each op is constructed, forced and swept
before the next one starts. The run

1. sets up: starts the session, generates the workload's tables from
   ``--seed`` and makes one untimed warm-up pass (``setup_s``);
2. runs timed passes over all ops, each pass in a seeded order: three,
   then more while the next pass is expected to end within ``--seconds``;
3. checks every op's output against a reference, outside the timed region:
   after each timed op, or in the warm-up pass, as the workload says;
4. prints one line per metric, then the result as one JSON line.

``--trace 0`` reports the end-to-end metrics of BENCHMARK.json. ``--trace 1``
reads Spark's status stores and a streaming listener after every op,
records spans, and reports the per-layer metrics instead. The run record
(environment, per-pass load, per-op counters, span summary) goes to stderr
and to ``.perfbench_work/last_run.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shlex
import shutil
import statistics
import subprocess
import sys
import time
import uuid
from collections import Counter

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench_work")
MIN_PASSES = 3


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def prepare_environment() -> None:
    """Keep every file Spark, its JVM and the faces write inside the
    checkout, and size the session for a shared machine. Must run before
    pyspark starts the JVM."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp  # Python's tempfile, here and in workers
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    # no hsperfdata file in the system temp dir either
    java_opts = shlex.quote(f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"--driver-java-options {java_opts} pyspark-shell"
    # Half the cores: each task of a Python stage keeps a JVM thread and a
    # Python worker busy at once, so local[nproc] would run twice as many
    # busy threads as cores and time the scheduler and the host's other
    # tenants more than the engine.
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(max(1, len(os.sched_getaffinity(0)) // 2)))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")


def start_session():
    from polars_numba_spark import get_spark

    spark = get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            # keep every job, stage and SQL execution of a run readable
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and its JVM and wait for the JVM to exit; the JVM stops
    its Python workers on the way down."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def sweep(spark) -> None:
    """Per-op hygiene: the next op starts from a clean block manager."""
    from polars_numba_spark.plans.checkpoint import release_session_checkpoints

    for table in spark.catalog.listTables():
        if table.name.startswith("pns_"):
            spark.catalog.dropTempView(table.name)
    release_session_checkpoints(spark)
    spark.catalog.clearCache()


class Runner:
    def __init__(self, spark, data_dir: str, traced: bool):
        from perfbench import probes
        from perfbench.trace import Tracer

        self.spark = spark
        self.sc = spark.sparkContext
        self.data_dir = data_dir
        self.traced = traced
        self.tracer = Tracer(traced)
        self.token = uuid.uuid4().hex[:8]
        self.checker = None
        self.attempted = self.failed = self.wrong = 0
        self.errors: list[str] = []
        self.checked_ok: set[str] = set()
        self.digests: dict[str, set[str]] = {}
        if traced:
            self.status = probes.StatusReader(spark)
            self.streams = probes.StreamCounters()
            spark.streams.addListener(self.streams)
            self.checkpoints = probes.CheckpointCounter()

    def close(self) -> None:
        if self.traced:
            self.spark.streams.removeListener(self.streams)
            self.checkpoints.close()

    def run_pass(self, tag: str, order: list, force: bool, check: bool) -> dict:
        """One pass over ``order``. ``force`` writes each DataFrame to the
        noop sink inside the timed region; ``check`` checks each output
        after the timing."""
        from perfbench.probes import cpu_jiffies

        t0, load0, jiffies0 = time.perf_counter(), os.getloadavg()[0], cpu_jiffies()
        ops, layers = [], Counter()
        with self.tracer.span("pass", trace_id=f"{self.token}.{tag}"):
            for op in order:
                rec = self.run_op(op, tag, force, check)
                ops.append(rec)
                layers.update(rec.get("counters", {}))
        jiffies1 = cpu_jiffies()
        steal = (jiffies1[0] - jiffies0[0]) / max(1, jiffies1[1] - jiffies0[1])
        return {
            "tag": tag,
            "wall_s": sum(r["latency_s"] for r in ops),
            "elapsed_s": time.perf_counter() - t0,  # with checks and sweeps
            "loadavg": [round(load0, 2), round(os.getloadavg()[0], 2)],
            "steal_pct": round(100 * steal, 2),
            "ops": ops,
            "layers": dict(layers),
        }

    def run_op(self, op, tag: str, force: bool, check: bool) -> dict:
        from pyspark.sql import DataFrame

        from perfbench import probes
        from perfbench.workloads import Ctx
        from polars_numba_spark.sources import load_table

        tracer, spark = self.tracer, self.spark
        group = f"pb.{self.token}.{tag}.{op.name}"  # one job group per invocation
        calls: Counter = Counter()

        def call(layer, fn, *args, **kwargs):
            t = time.perf_counter()
            try:
                with tracer.span(layer):
                    return fn(*args, **kwargs)
            finally:
                calls[f"{layer}.call_s"] += time.perf_counter() - t

        rec: dict = {"op": op.name}
        before = probes.persistent_rdd_ids(spark) if self.traced else set()
        self.attempted += 1
        self.sc.setJobGroup(group, op.name)
        with tracer.span("op", trace_id=group, op=op.name) as op_span:
            out, error = None, None
            t0 = time.perf_counter()
            t1 = construct_end_ms = None
            try:
                with tracer.span("construct"):
                    out = op.build(Ctx(spark, self.data_dir, call))
                t1, construct_end_ms = time.perf_counter(), time.time() * 1e3
                if force and isinstance(out, DataFrame):
                    with tracer.span("execute"):
                        out.write.format("noop").mode("overwrite").save()
            except Exception as exc:  # a failed op is counted, never dropped
                error = f"{op.name} [{tag}]: {type(exc).__name__}: {exc}"[:400]
            t2 = time.perf_counter()
            rec["latency_s"] = t2 - t0
            if error:
                self.failed += 1
                self.errors.append(error)
                rec["error"] = error
            counters: dict = {}
            if self.traced:
                with tracer.span("counters"):
                    run_ids, counters = self.streams.take()
                    counters.update(self.status.read(
                        {group, *run_ids}, construct_end_ms or time.time() * 1e3
                    ))
                    counters.update(calls)
                    counters["queries.construct_s"] = (t1 or t2) - t0
                    counters["spark.execute_s"] = t2 - (t1 or t2)
                    counters["plans.checkpoint.blocks_created"] = self.checkpoints.take()
            if check and error is None:
                self.sc.setJobGroup(f"{group}.check", op.name)
                with tracer.span("check"):
                    self._check(op.name, out, rec)
            with tracer.span("sweep") as sw:
                sweep(spark)
            if self.traced:
                counters["trace.sweep_s"] = sw.duration
                counters["plans.checkpoint.blocks_residual"] = len(
                    probes.persistent_rdd_ids(spark) - before
                )
                # a direct load_table call per table the op reads
                with tracer.span("load_table") as lt:
                    load_table(spark, op.table, self.data_dir)
                counters["sources.load_table_s"] = lt.duration
                self.status.skip()  # the check and the load are no op's work
                rec["counters"] = counters
                op_span.attrs.update(counters)
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)
        return rec

    def _check(self, name: str, out, rec: dict) -> None:
        try:
            ok, digest = self.checker.check(name, out)
        except Exception as exc:
            ok, digest = False, None
            self.errors.append(f"{name} check: {type(exc).__name__}: {exc}"[:400])
        rec["digest"] = digest
        self.digests.setdefault(name, set()).add(digest)
        if ok:
            self.checked_ok.add(name)
        else:
            self.wrong += 1
            rec["wrong"] = True


def _pns_knobs() -> dict[str, str]:
    """Every ``PNS_*`` knob the engine reads, with its effective value:
    the environment's, else the default written in the code."""
    import re

    pattern = re.compile(r"""environ\.get\(\s*"(PNS_[A-Z0-9_]+)"(?:\s*,\s*"([^"]*)")?""")
    knobs: dict[str, str] = {}
    for base, _, files in os.walk(os.path.join(ROOT, "polars_numba_spark")):
        for f in files:
            if f.endswith(".py"):
                with open(os.path.join(base, f)) as fh:
                    for name, default in pattern.findall(fh.read()):
                        knobs.setdefault(name, f"(default) {default}" if default else "(unset)")
    knobs.update({k: v for k, v in os.environ.items() if k.startswith("PNS_")})
    return dict(sorted(knobs.items()))


def _git_head() -> str | None:
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() or None


def environment_record(spark) -> dict:
    from polars_numba_spark import HAVE_NUMBA

    conf = spark.sparkContext.getConf()
    keys = [
        "spark.master", "spark.driver.memory", "spark.sql.shuffle.partitions",
        "spark.sql.adaptive.enabled", "spark.sql.execution.arrow.maxRecordsPerBatch",
        "spark.python.worker.reuse", "spark.ui.enabled",
    ]
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "HAVE_NUMBA": HAVE_NUMBA,
        "pns_knobs": _pns_knobs(),
        "spark_conf": {k: conf.get(k, spark.conf.get(k, None)) for k in keys},
        "spark_version": spark.version,
        "git_head": _git_head(),
    }


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "polars_numba_spark", "__init__.py")):
        print("perfbench: run from the root of a checkout of the engine "
              "(polars_numba_spark/ not found)", file=sys.stderr)
        return 2
    sys.path[0] = ROOT  # import perfbench as a package, never its files as top-level modules
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    workload = WORKLOADS[args.workload]
    traced = bool(args.trace)

    t_setup = time.perf_counter()
    marks = {"start": t_setup}
    prepare_environment()
    from perfbench import probes
    from perfbench.inputs import write_tables
    from perfbench.stats import geomean, op_medians, percentile, supported_percentile

    data_dir = os.path.join(WORK, "tmp", f"inputs-{args.workload}-{args.seed}")
    spark = start_session()
    try:
        tables = write_tables(list(workload.tables), args.seed, data_dir)
        rows = {name: t.num_rows for name, t in tables.items()}
        runner = Runner(spark, data_dir, traced)
        rng = random.Random(args.seed)

        def order() -> list:
            return rng.sample(list(workload.ops), len(workload.ops))

        runner.checker = workload.make_checker(tables, data_dir)
        # A workload not checked in every timed pass is checked in the
        # warm-up pass: the check's collect forces each op in place of the
        # noop write.
        every = workload.check_every_pass
        with runner.tracer.span("setup"):
            warm = runner.run_pass("warm", order(), force=every, check=not every)
        setup_s = time.perf_counter() - t_setup
        marks["setup_end"] = time.perf_counter()

        # Run MIN_PASSES whole passes, so that each op's median has that
        # many samples, then more while the next one, taking as long as the
        # last, still ends within --seconds. The JIT still speeds some ops
        # up in the first timed pass; their median mostly leaves it out.
        passes = []
        t_measure = marks["measure_start"] = time.perf_counter()
        while len(passes) < MIN_PASSES or (
            time.perf_counter() - t_measure + passes[-1]["elapsed_s"] <= args.seconds
        ):
            passes.append(runner.run_pass(f"p{len(passes)}", order(), force=True, check=every))
        marks["measure_end"] = time.perf_counter()
        runner.close()
        rss_mb = probes.peak_rss_mb(probes.jvm_pid(spark))
        env = environment_record(spark)
        marks["stop_start"] = time.perf_counter()
    finally:
        stop_session(spark)
        shutil.rmtree(os.path.join(WORK, "tmp"), ignore_errors=True)
    marks["stop_end"] = time.perf_counter()

    latencies = [r["latency_s"] for p in passes for r in p["ops"]]
    # Each op's median over the timed passes: one slow invocation moves
    # its op's figure only when it happens in most passes.
    per_op = op_medians(r for p in passes for r in p["ops"])
    pass_wall = sum(per_op.values())
    rows_per_pass = sum(rows[op.table] for op in workload.ops)
    unchecked = sorted({op.name for op in workload.ops} - runner.checked_ok)
    unstable = sorted(n for n, d in runner.digests.items() if len(d) > 1)
    if traced:
        names = [m["name"] for m in spec["per_layer"]]
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        values = {
            n: statistics.median(p["layers"].get(n, 0.0) for p in passes) for n in names
        }
        values["trace.pass_wall_s"] = pass_wall
    else:
        names = [m["name"] for m in spec["end_to_end"]]
        units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
        values = {
            "setup_s": setup_s,
            "pass_wall_s": pass_wall,
            "op_geomean_s": geomean(per_op.values()),
            "rows_per_s": rows_per_pass / pass_wall,
            "driver_rss_mb": rss_mb,
        }
    metrics = {n: {"value": values[n], "unit": units[n]} for n in names}

    record = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "env": env,
        "inputs": rows,
        "setup_s": setup_s,
        "timeline_s": {k: round(v - t_setup, 3) for k, v in marks.items()},
        "passes": [
            {k: p[k] for k in ("tag", "wall_s", "elapsed_s", "loadavg", "steal_pct")}
            for p in passes
        ],
        "ops_attempted": runner.attempted,
        "ops_failed": runner.failed,
        "wrong_results": runner.wrong,
        "unchecked_ops": unchecked,
        "unstable_digests": unstable,
        "errors": runner.errors,
        "op_median_s": per_op,
        "op_samples": len(latencies),
        "op_p50_s": percentile(latencies, 50),
        "op_p90_s": percentile(latencies, 90),
        "op_p90_supported_by": supported_percentile(len(latencies)),
        "warm_pass": {k: warm[k] for k in ("wall_s", "loadavg", "steal_pct", "ops")},
        "per_op": [{"pass": p["tag"], **r} for p in passes for r in p["ops"]],
        "spans": runner.tracer.summary(),
    }
    os.makedirs(WORK, exist_ok=True)
    with open(os.path.join(WORK, "last_run.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    print(json.dumps(record, default=str), file=sys.stderr)

    for n in names:
        print(f"{n:36s} {values[n]:>16.6g} {units[n]}")
    print(f"{'ops_failed':36s} {runner.failed:>16d} of {runner.attempted} attempted")
    print(f"{'wrong_results':36s} {runner.wrong:>16d}")
    result = {
        "correct": runner.wrong == 0 and not unchecked and not unstable,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": metrics,
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
