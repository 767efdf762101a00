from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from hyperion_history_api_spark.session import get_spark  # noqa: E402

SF_SMOKE = os.environ.get("SPARK_GRAFT_SMOKE_SF", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("hyperion-tests")
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMOKE


@pytest.fixture
def count_jobs(spark):
    """``count_jobs(fn)`` returns how many Spark jobs ``fn`` submitted:
    those in a job group of its own, plus new jobs in no group, which
    is where jobs land from a thread ``fn`` starts (a Python thread
    does not inherit its starter's job group). The status tracker is
    fed by the asynchronous listener bus, so the bus is drained before
    each look: otherwise a job that ended just before ``fn`` shows up
    as new, and one that ends at its close is missed."""
    import uuid

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    bus = sc._jsc.sc().listenerBus()

    def count(fn) -> int:
        group = f"count-jobs-{uuid.uuid4().hex}"
        bus.waitUntilEmpty()
        ungrouped = set(tracker.getJobIdsForGroup(None))
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        bus.waitUntilEmpty()
        return len(tracker.getJobIdsForGroup(group)) + len(
            set(tracker.getJobIdsForGroup(None)) - ungrouped
        )

    return count


@pytest.fixture
def growable_sf(tmp_path, sf_dir) -> str:
    """A copy of the smoke scale factor whose ``events.parquet`` is a
    DIRECTORY seeded with the fixture file, so a test grows the source
    by landing spool files in it (the live-tail arrival shape)."""
    import shutil

    sf = tmp_path / "growable"
    (sf / "events.parquet").mkdir(parents=True)
    shutil.copy(f"{sf_dir}/events.parquet", sf / "events.parquet" / "part-000.parquet")
    for t in (
        "region nation customer supplier part orders lineitem documents embeddings"
    ).split():
        shutil.copy(f"{sf_dir}/{t}.parquet", sf / f"{t}.parquet")
    return str(sf)
