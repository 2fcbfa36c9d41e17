"""Shared fixtures: one SparkSession per test session (startup ~5 s with
the class archive mapped, ~10 s on the launch that first records it),
small shuffle parallelism, UTC — the same conf contract as the engine's
session factory (SURVEY.md §5.2)."""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from uk_procurement_data_pipeline_spark.session import get_spark  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"
# Larger SF for the few recall/scale pins that need real data volume —
# derived from the same root as SF_DIR so a relocated fixture tree moves
# both together (ADVICE r11); tests using it must skip when absent.
SF01_DIR = str(Path(SF_DIR).parent / "sf0.1")
FIXTURES = Path(__file__).parent / "fixtures"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("engine-tests", master="local[4]", shuffle_partitions=4)
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def fixtures_dir() -> Path:
    return FIXTURES
