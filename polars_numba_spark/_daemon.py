"""Spark's Python daemon (``pyspark.daemon``) with zip directories kept.

``session.get_spark`` names this module in ``spark.python.daemon.module``;
run as ``__main__`` it patches ``zipimport`` and starts the daemon, whose
forked workers inherit the patch.
"""

import zipimport


def _keep_zip_directory(self) -> None:
    """``zipimporter.invalidate_caches`` as a no-op.

    PySpark calls ``importlib.invalidate_caches()`` at the start of every
    task (``worker_util.setup_spark_files``). Since Python 3.10 that makes
    each zipimporter re-read its archive's whole directory, and a worker's
    path holds ``pyspark.zip`` and Spark's core jar (cost in SCALE.md).
    Archives on a worker's path do not change while the worker lives, so
    keeping the directory read at import time (the pre-3.10 behaviour) is
    exact.
    """


if __name__ == "__main__":
    zipimport.zipimporter.invalidate_caches = _keep_zip_directory
    from pyspark.daemon import manager

    manager()
