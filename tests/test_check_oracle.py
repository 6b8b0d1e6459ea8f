"""tools/check_oracle.py must not report a pass for names it never ran."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import polars_numba_spark  # noqa: E402
from tools import check_oracle  # noqa: E402


def test_unknown_face_is_rejected_before_a_session_starts(monkeypatch):
    def no_session(*args, **kwargs):
        raise AssertionError("a session was started")

    monkeypatch.setattr(polars_numba_spark, "get_spark", no_session)
    monkeypatch.setattr(
        sys, "argv", ["check_oracle.py", "/nonexistent", "q1_pricing_summary", "no_such_face"]
    )
    with pytest.raises(SystemExit, match="no_such_face"):
        check_oracle.main()


def test_parallel_prefix_scan_face_matches_its_oracle_over_many_splits(
    spark, monkeypatch, many_splits
):
    """``parallel_scan_running_balance`` over a many-split ``events`` runs
    the two-pass parallel prefix scan (a range exchange under its
    checkpoint) and matches its DuckDB oracle. At one split per table the
    oracle gate runs the face's sequential plan, so this keeps the
    parallel path gated."""
    import __spark_entry__ as entry
    from polars_numba_spark import plans
    from polars_numba_spark.operators import scan as SC
    from polars_numba_spark.plans.checkpoint import release_session_checkpoints

    sf_dir = "/root/testdata/sf0.01"
    name = "parallel_scan_running_balance"
    checkpointed = []
    checkpoint = SC.session_scoped_checkpoint

    def capture(df):
        checkpointed.append(df)
        return checkpoint(df)

    monkeypatch.setattr(SC, "session_scoped_checkpoint", capture)
    try:
        spark_pdf = entry.queries()[name](spark, sf_dir).toPandas()
        assert len(checkpointed) == 1
        assert "Exchange rangepartitioning" in plans.explain_string(checkpointed[0], "simple")
    finally:
        release_session_checkpoints(spark)
    duck_pdf = check_oracle.duck_connect(sf_dir).execute(entry.oracle_sql()[name]).df()
    assert check_oracle.compare(name, spark_pdf, duck_pdf) == []
    assert len(spark_pdf) > 0
