from __future__ import annotations

import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import snapshot_s3_util_spark  # noqa: E402
from snapshot_s3_util_spark.session import get_spark  # noqa: E402

snapshot_s3_util_spark.load_all_operators()

from tests.gauntlet_common import SF_DIR, duck_views  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    return get_spark("tests", cpus=8)


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def duck():
    return duck_views(SF_DIR)


@pytest.fixture(scope="session")
def op_runs():
    """Session-wide cache of one materialized run per op: name ->
    (cols, rows). Parity checks read the cached run and determinism
    re-runs exactly once more — so every op executes at most twice per
    suite (streaming ops execute a real micro-batch query per run,
    which dominated the old 3-runs-per-op wall clock)."""
    return {}
