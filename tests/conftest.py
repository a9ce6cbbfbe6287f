import os
import tempfile
import uuid

import pytest

from excel_to_database_spark.session import get_session


@pytest.fixture(scope="session")
def spark():
    warehouse = tempfile.mkdtemp(prefix="etds_warehouse_")
    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    spark = get_session(
        "etds-tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={
            "spark.sql.warehouse.dir": warehouse,
            "spark.driver.memory": "4g",
        },
    )
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")


@pytest.fixture
def count_jobs(spark):
    """``count_jobs(fn)`` runs ``fn()`` under a fresh job group and
    returns ``(fn's result, number of Spark jobs it launched)``, read
    from the status tracker after the listener bus has drained."""
    sc = spark.sparkContext

    def run(fn):
        group = f"count_jobs_{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setJobGroup(None, None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return run
