"""Invariants of the driver-checked catalog window.

The driver's correctness gate runs the first 50 ``queries()`` entries in
insertion order; these tests pin that every one of those slots is spent on
an oracled (hash-checkable) query and that the priority list stays in sync
with the registry.
"""

from polars_numba_spark.queries import catalog


def test_priority_window_is_exactly_50():
    assert len(catalog._DRIVER_PRIORITY) == 50
    assert len(set(catalog._DRIVER_PRIORITY)) == 50


def test_priority_names_all_registered():
    q = catalog.spark_queries()
    assert list(q)[:50] == catalog._DRIVER_PRIORITY


def test_every_driver_slot_is_oracled_or_allowed_rows_only():
    """Every window slot must be hash-checkable."""
    oracles = catalog.oracle_queries()
    unoracled = [n for n in catalog._DRIVER_PRIORITY if n not in oracles]
    assert unoracled == [], f"rows-only queries inside the driver window: {unoracled}"


def test_rows_only_queries_sit_past_the_window_unless_allowed():
    q = catalog.spark_queries()
    oracles = catalog.oracle_queries()
    past_window = list(q)[50:]
    rows_only = [n for n in q if n not in oracles]
    assert set(rows_only) <= set(past_window)


def test_r14_window_continues_oldest_record_policy():
    """The minhash cost-curve faces the round-14 window re-gates sit
    in-window."""
    w = set(catalog._DRIVER_PRIORITY)
    for face in ("dedup_minhash_keeplist", "dedup_minhash_recall"):
        assert face in w
