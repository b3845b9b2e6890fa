from __future__ import annotations

import os

import pytest

from tdr_draft_metadata_validator_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    # the session's default heap cap (48g) lets the one long-lived test JVM
    # grow past a small host's memory before it collects; 6g holds every
    # test's live data with room to spare
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "6g")
    s = get_spark(app_name="tests", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture()
def jobs_in_group(spark):
    """``jobs_in_group(group, fn)`` runs ``fn`` under its own Spark job
    group and returns (its result, the number of jobs it launched)."""
    sc = spark.sparkContext

    def run(group, fn):
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return run
