import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

os.environ.setdefault("SPARK_GRAFT_CPUS", "4")  # fast session startup in tests


@pytest.fixture(scope="session")
def spark():
    from airflow_pipeline_text_processing_spark.session import get_spark

    s = get_spark("tests")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture
def broadcast_threshold(spark):
    """Setter for ``spark.sql.autoBroadcastJoinThreshold`` in one test,
    restored after it.  ``connected_components`` sizes its driver path by
    it; ``-1`` sends every graph through the star rounds."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    try:
        yield lambda value: spark.conf.set(key, str(value))
    finally:
        spark.conf.set(key, old)
