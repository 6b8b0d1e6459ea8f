"""SparkSession builder with the engine's scale-oriented defaults.

Defaults chosen for parity with the reference's execution profile and for
100 TB posture:

- Arrow transfer on, 50k-row batches — the reference streams 50k-row chunks
  (``collect_batches(chunk_size=50_000)``, ref `__init__.py:344,712`).
- ``spark.python.worker.reuse=true`` keeps the per-worker compile cache warm,
  mirroring the reference's ``_NUMBA_CACHE`` amortization (ref `:167`).
- Python workers fork from ``polars_numba_spark._daemon``, which stops
  every task from re-reading the zip archives on the worker's path (see
  that module).
- AQE on (runtime re-planning, skew-join splitting, partition coalescing) —
  at cluster scale this is what keeps shuffles right-sized without manual
  tuning per scale factor.
- Shuffle partitions default to the local core count; on a real cluster this
  should be ~2-3× total executor cores (set via ``extra_conf``).
"""

from __future__ import annotations

import os
from typing import Mapping

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "polars-numba-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: Mapping[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession."""
    # Executors' Python workers must be able to import this package (kernel
    # functions are pickled by reference). Export its location before the
    # JVM launches so workers inherit it — makes entry points cwd-independent
    # in local mode. On a real cluster, ship the package via --py-files/pip.
    pkg_parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_parent not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            pkg_parent + (os.pathsep + existing if existing else "")
        )

    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        shuffle_partitions = int(cpus) if cpus and cpus.isdigit() else (os.cpu_count() or 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "50000")
        .config("spark.python.worker.reuse", "true")
        .config("spark.python.daemon.module", "polars_numba_spark._daemon")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    return builder.getOrCreate()
