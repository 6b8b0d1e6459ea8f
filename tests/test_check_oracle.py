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
