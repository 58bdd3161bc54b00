import os
import uuid

import pytest

from dlkp_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    # one task slot per core the suite may use; SPARK_GRAFT_CPUS is the
    # same knob the bench reads
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "8"))
    s = get_spark("dlkp_spark_tests", master=f"local[{cpus}]",
                  shuffle_partitions=cpus)
    yield s
    s.stop()


def jobs_of(sc, fn) -> list[int]:
    """Run ``fn()`` under a fresh Spark job group and return the ids of
    the jobs it ran."""
    group = f"jobs-of-{uuid.uuid4().hex}"
    sc.setJobGroup(group, getattr(fn, "__name__", "jobs_of"))
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return list(sc.statusTracker().getJobIdsForGroup(group))
