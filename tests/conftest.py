import os

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
