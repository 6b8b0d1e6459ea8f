"""Session-configuration contract: the defaults the engine's scale posture
depends on must actually be set by get_spark()."""

from __future__ import annotations


def test_session_defaults(spark):
    conf = spark.conf
    assert conf.get("spark.sql.adaptive.enabled") == "true"
    assert conf.get("spark.sql.adaptive.skewJoin.enabled") == "true"
    assert conf.get("spark.sql.execution.arrow.pyspark.enabled") == "true"
    # reference chunk-size parity (ref __init__.py:344: 50k-row batches)
    assert conf.get("spark.sql.execution.arrow.maxRecordsPerBatch") == "50000"
    assert conf.get("spark.sql.session.timeZone") == "UTC"


def test_worker_reuse_keeps_compile_cache_warm(spark):
    """spark.python.worker.reuse mirrors the reference's _NUMBA_CACHE
    amortization (ref __init__.py:167) — pinned as part of the contract."""
    sc = spark.sparkContext
    assert sc.getConf().get("spark.python.worker.reuse") == "true"


def test_workers_fork_from_the_engine_daemon(spark):
    """Python workers fork from polars_numba_spark._daemon, which keeps
    each zip archive's directory across tasks (see that module)."""
    sc = spark.sparkContext
    assert sc.getConf().get("spark.python.daemon.module") == "polars_numba_spark._daemon"


def test_task_invalidate_caches_keeps_zip_directories(spark):
    """PySpark calls importlib.invalidate_caches() in every task; inside a
    task the pyspark.zip importer must keep its directory object rather
    than re-read the archive."""
    import pyarrow as pa

    def probe(batches):
        import importlib
        import sys
        import zipimport

        for _ in batches:
            pass
        importers = [
            imp
            for path, imp in sys.path_importer_cache.items()
            if isinstance(imp, zipimport.zipimporter) and "pyspark.zip" in path
        ]
        before = [imp._files for imp in importers]
        importlib.invalidate_caches()
        kept = all(imp._files is f for imp, f in zip(importers, before))
        yield pa.RecordBatch.from_pydict(
            {"importers": [len(importers)], "kept": [kept]}
        )

    rows = spark.range(1).mapInArrow(probe, "importers long, kept boolean").collect()
    assert rows
    for row in rows:
        assert row.importers > 0
        assert row.kept
