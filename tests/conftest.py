from __future__ import annotations

import sys
from pathlib import Path

import pytest
from pyspark.sql import SparkSession

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from lsdm_motogp_data_integration_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("tests", shuffle_partitions=8)
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMOKE


@pytest.fixture(scope="module", autouse=True)
def _release_cached_relations():
    """Each test module owns what it persisted: drop every cached
    relation when the module ends, so the session-scoped ``spark``
    does not carry one module's cache into the next. Modules that
    never start Spark start nothing here."""
    yield
    active = SparkSession.getActiveSession()
    if active is not None:
        active.catalog.clearCache()
