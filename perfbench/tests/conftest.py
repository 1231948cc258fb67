"""Tests of the benchmark's own code. Run from the repository root:

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
for path in (ROOT, BENCH):
    if path not in sys.path:
        sys.path.insert(0, path)


@pytest.fixture(scope="session")
def spark():
    from dbbspark.session import get_spark

    session = get_spark("perfbench-tests", cpus=2)
    session.sparkContext.setLogLevel("ERROR")
    yield session
    session.stop()
