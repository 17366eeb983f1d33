from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from skewer_spark.session import build_session  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    # master and driver memory come from build_session's host-derived
    # defaults.  Tests assume 8 shuffle partitions, and the plan-shape
    # tests assume defaultParallelism equals that count (their
    # fixed-width exchanges are sized by it), so both stay pinned.
    s = build_session(
        app_name="skewer-tests", shuffle_partitions=8,
        extra_conf={"spark.default.parallelism": "8"},
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()
