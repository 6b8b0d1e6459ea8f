"""Census of the catalog's registered faces against the driver's records.

The driver's committed correctness records (``CORRECTNESS_r*.json`` at the
repo root) name every face it has ever checked. The registry must equal
that union, less the faces renamed since their record and plus the faces
registered since the last record, so a renamed or dropped face fails
here, and adding one has to be a deliberate edit. The rows-only faces
(registered with no oracle) are pinned too, so dropping an oracle is also
a deliberate edit.
"""

import json
import pathlib

from polars_numba_spark.queries import catalog

ROOT = pathlib.Path(__file__).resolve().parents[1]

# face name in the driver's records -> the registered face that replaced it
_RETIRED = {"embedding_lsh_recall": "embedding_near_dup_recall"}

# registered faces the driver has not recorded yet
_AWAITING_DRIVER: set[str] = set()

# self-evaluating reports and non-associative folds: no SQL oracle exists
_ROWS_ONLY = {
    "dedup_minhash_pairs",
    "dedup_simhash_pairs",
    "distinct_users_sketch",
    "embedding_int8_recall",
    "embedding_ivf_recall",
    "embedding_near_dup_recall",
    "embedding_pq_recall",
    "order_price_tdigest_report",
}


def _recorded() -> set[str]:
    paths = sorted(ROOT.glob("CORRECTNESS_r*.json"))
    assert paths, "no driver records found"
    return {name for p in paths for name in json.loads(p.read_text())}


def test_registry_matches_the_driver_records():
    registered = set(catalog.spark_queries())
    recorded = _recorded()
    assert set(_RETIRED) <= recorded
    assert set(_RETIRED.values()) <= registered
    assert not _AWAITING_DRIVER & recorded
    expected = (recorded - set(_RETIRED)) | _AWAITING_DRIVER
    assert sorted(registered - expected) == [], "registered, never recorded"
    assert sorted(expected - registered) == [], "recorded, not registered"


def test_rows_only_faces_are_pinned():
    assert set(catalog.spark_queries()) - set(catalog.oracle_queries()) == _ROWS_ONLY
