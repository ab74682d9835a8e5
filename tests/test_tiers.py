"""The default test tier (``pytest.ini`` deselects ``-m full``) runs
exactly the conformance cases of the current driver window: the
conftest hook reads each case's ``name`` parameter and marks every
other query ``full``."""

from __future__ import annotations

import subprocess
import sys
from pathlib import Path

from rootstock_collective_state_sync_spark.plans.registry import (
    _DRIVER_WINDOW,
    SPECS,
)

ROOT = Path(__file__).parent.parent


def test_default_tier_selects_exactly_the_driver_window():
    out = subprocess.run(
        [sys.executable, "-m", "pytest", "tests/test_conformance.py",
         "--collect-only", "-q", "-p", "no:cacheprovider"],
        cwd=ROOT, capture_output=True, text=True, check=True,
    ).stdout
    got: dict[str, set[str]] = {}
    for line in out.splitlines():
        if "::" in line and "[" in line:
            test, name = line.split("::", 1)[1].rstrip("]").split("[", 1)
            got.setdefault(test, set()).add(name)
    window = set(_DRIVER_WINDOW)
    oracle = {n for n, s in SPECS.items() if s.oracle}
    want = {
        "test_query_matches_oracle": window & oracle,
        "test_query_runs_rows_only": window - oracle,
        "test_final_schema_is_scalar_only": window & set(SPECS),
    }
    assert got == {t: names for t, names in want.items() if names}
