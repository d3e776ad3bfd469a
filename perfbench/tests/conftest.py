import pytest


@pytest.fixture(scope="session")
def spark():
    from pyspark_entity_resolution_spark.session import get_spark

    s = get_spark(app_name="perfbench-tests", master="local[2]", shuffle_partitions=2,
                  extra_conf={"spark.ui.showConsoleProgress": "false"})
    yield s
    s.stop()
