from __future__ import annotations

import sys
import uuid
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


class SparkJobs:
    """Spark jobs by job group, through the public status tracker."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()

    def in_group(self, group: str | None, fn):
        """``fn()`` with this thread's job group set to ``group``."""
        prev = self.sc.getLocalProperty("spark.jobGroup.id")
        self.sc.setLocalProperty("spark.jobGroup.id", group)
        try:
            return fn()
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", prev)

    def of_group(self, group: str | None) -> set[int]:
        """The group's job ids (``None``: jobs run outside any group)."""
        return set(self.tracker.getJobIdsForGroup(group))

    def _probe(self) -> int:
        group = f"probe-{uuid.uuid4().hex}"
        self.in_group(group, lambda: self.sc.parallelize([0], 1).count())
        return max(self.of_group(group))

    def started(self, fn):
        """``fn()``'s result and the ids of every Spark job started while it
        ran: job ids are sequential, so they lie between two probe jobs."""
        lo = self._probe()
        out = fn()
        return out, set(range(lo + 1, self._probe()))


@pytest.fixture()
def spark_jobs(spark):
    return SparkJobs(spark)
