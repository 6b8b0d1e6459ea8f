"""Census of the package modules that import pandas.

The engine's batch Python passes speak Arrow: the fold/scan driver, the
sketch partials, the t-digest merge and the multimodal extractors hand
NumPy/Arrow columns to their kernels with no pandas step, so a group key,
a doc_id or a 64-bit field comes through exact. One module keeps pandas:
``streaming/stateful.py``, whose ``applyInPandasWithState`` speaks only
pandas. A new importer has to be a deliberate edit here.
"""

import pathlib
import re

PACKAGE = pathlib.Path(__file__).resolve().parents[1] / "polars_numba_spark"

_IMPORT = re.compile(r"^\s*(?:import|from)\s+pandas\b", re.MULTILINE)


def test_pandas_importers_are_pinned():
    found = {
        path.relative_to(PACKAGE).as_posix()
        for path in PACKAGE.rglob("*.py")
        if _IMPORT.search(path.read_text())
    }
    assert found == {"streaming/stateful.py"}
