"""Guards for the default pytest profile's hand-maintained slow list.

`tests/conftest.py::SLOW_TESTS` names the heavyweight tests that
`-m "not slow"` leaves out. A renamed or deleted test would leave a
stale name behind, and a module whose every test is slow would vanish
from the default profile without anyone noticing. Both checks read
the names conftest recorded at collection time, before deselection,
so they need the whole tests/ directory to have been collected.
"""

from __future__ import annotations

from pathlib import Path

import pytest
from conftest import COLLECTED, SLOW_TESTS

TESTS_DIR = Path(__file__).resolve().parent


def _collected(request) -> dict[str, dict[str, bool]]:
    by_module = request.config.stash[COLLECTED]
    modules = {p.name for p in TESTS_DIR.glob("test_*.py")}
    if not modules <= set(by_module):
        pytest.skip("needs the whole tests/ directory collected")
    return by_module


def test_every_slow_test_name_is_collected(request):
    names = {n for tests in _collected(request).values() for n in tests}
    stale = sorted(SLOW_TESTS - names)
    assert not stale, f"SLOW_TESTS names no collected test: {stale}"


def test_every_module_with_slow_tests_keeps_a_fast_one(request):
    starved = sorted(
        module
        for module, tests in _collected(request).items()
        if all(tests.values())
    )
    assert not starved, (
        f"every test in {starved} is slow: the default profile would "
        "skip these modules entirely"
    )
