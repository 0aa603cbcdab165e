"""The slow-tier list in ``conftest.py`` names tests by exact nodeid. A
renamed or deleted test would leave a dead entry behind — and a renamed
slow test would silently move into the default tier — so every listed
nodeid must still collect."""

from __future__ import annotations

import subprocess
import sys
from pathlib import Path

from conftest import _SLOW_TESTS

REPO = Path(__file__).resolve().parents[1]


def test_every_slow_nodeid_still_collects():
    modules = sorted({n.split("::", 1)[0] for n in _SLOW_TESTS})
    out = subprocess.run(
        [sys.executable, "-m", "pytest", "--collect-only", "-q", "-m", "",
         "-p", "no:cacheprovider", *modules],
        cwd=REPO, capture_output=True, text=True, timeout=600,
    )
    collected = {line.strip() for line in out.stdout.splitlines()}
    missing = sorted(_SLOW_TESTS - collected)
    assert not missing, (
        f"{len(missing)} _SLOW_TESTS nodeid(s) no longer collect "
        f"(first: {missing[0]}); update tests/conftest.py"
    )
