import pytest

from smalltsdb_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(app_name="smalltsdb-tests", master="local[4]", shuffle_partitions=4)
    yield spark


@pytest.fixture()
def tsdb_dir(tmp_path):
    return str(tmp_path / "tsdb")


@pytest.fixture()
def count_jobs(spark):
    """``count_jobs(fn)`` runs ``fn()`` under a job group of its own and
    returns how many Spark jobs it submitted — read from the status
    tracker, which works with the UI off."""
    import uuid

    sc = spark.sparkContext

    def count(fn) -> int:
        group = f"count-jobs-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "count_jobs")
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            sc.setLocalProperty("spark.job.interruptOnCancel", None)
        # job events reach the status store through the listener bus
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(group))

    return count
