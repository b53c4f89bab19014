import os

import pytest


def _driver_mem() -> str:
    """Half the host's RAM, at most session.get_spark's 48g default.  With
    a 48g heap cap the test JVM keeps growing its heap instead of
    collecting, past 11 GB of RSS within the first four test files, and
    on a 16 GB host the kernel OOM-kills it partway through the suite."""
    with open("/proc/meminfo") as f:
        kb = next(int(line.split()[1]) for line in f
                  if line.startswith("MemTotal:"))
    return f"{max(2, min(48, kb // (2 << 20)))}g"


# before any test can launch the JVM
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", _driver_mem())


@pytest.fixture(scope="session")
def spark():
    from cdx_writer_spark.session import get_spark
    s = get_spark(app_name="cdx-writer-spark-tests", cores=8,
                  shuffle_partitions=8)
    yield s
