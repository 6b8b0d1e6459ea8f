"""Census of the package modules that import pandas.

The engine's Python passes speak Arrow: the fold/scan driver, the sketch
partials and the t-digest merge hand NumPy/Arrow columns to their kernels
with no pandas step, so a group key or a bigint comes through exact. Two
modules keep pandas: ``streaming/stateful.py``, whose
``applyInPandasWithState`` speaks only pandas, and
``operators/multimodal.py``. A new importer has to be a deliberate edit
here.
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
    assert found == {"streaming/stateful.py", "operators/multimodal.py"}
