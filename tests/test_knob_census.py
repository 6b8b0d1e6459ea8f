"""Census of the ``PNS_*`` environment knobs the engine reads.

Scans ``polars_numba_spark/**/*.py`` with the same ``environ.get("PNS_…")``
pattern ``perfbench/run.py`` uses to record a run's effective knobs, and
pins the set. A knob whose default never changes is code nobody runs, so
adding one has to be a deliberate edit here.
"""

import pathlib
import re

PACKAGE = pathlib.Path(__file__).resolve().parents[1] / "polars_numba_spark"

# same pattern as perfbench/run.py::_pns_knobs
_KNOB = re.compile(r"""environ\.get\(\s*"(PNS_[A-Z0-9_]+)"(?:\s*,\s*"([^"]*)")?""")


def test_engine_knob_set_is_pinned():
    found = {
        name
        for path in PACKAGE.rglob("*.py")
        for name, _ in _KNOB.findall(path.read_text())
    }
    assert found == {
        "PNS_CASEFOLD",
        "PNS_CHECKPOINT_MODE",
        "PNS_CHECKPOINT_DIR",
    }
