from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from clinical_api_etl_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", shuffle_partitions=8)
    yield s


@pytest.fixture()
def warehouse(spark, tmp_path):
    """The service's warehouse: the blueprint partition layout, so merges
    run partition-scoped as they do in the service."""
    from clinical_api_etl_spark.sources.sinks import clinical_warehouse

    return clinical_warehouse(spark, str(tmp_path / "wh"))
