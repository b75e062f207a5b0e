"""Shared fixtures for the benchmark's own tests.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    import common
    import tables

    tables.ensure_tables(common.SF_DIR, common.SF)
    session, _ = common.start_session()
    yield session
    common.stop_session(session)
