import pytest


@pytest.fixture(scope="session")
def spark():
    from cdx_writer_spark.session import get_spark
    s = get_spark(app_name="cdx-writer-spark-tests", cores=8,
                  shuffle_partitions=8)
    yield s
