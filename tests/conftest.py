from __future__ import annotations

import os
import tempfile

import pytest

from splade_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    # vendored-jar hook: with $SPLADE_ICEBERG_JAR pointing at an
    # iceberg-spark-runtime jar, the session registers a hadoop catalog in
    # a temp warehouse and the Iceberg round-trip test runs instead of
    # self-skipping (get_spark adds the jar to spark.jars)
    warehouse = None
    jar = os.environ.get("SPLADE_ICEBERG_JAR")
    if jar and os.path.exists(jar):
        warehouse = tempfile.mkdtemp(prefix="splade_iceberg_wh_")
    s = get_spark(
        "splade_spark_tests",
        cores=4,
        shuffle_partitions=8,
        extra_conf={"spark.driver.memory": "8g"},
        iceberg_warehouse=warehouse,
    )
    yield s


@pytest.fixture(scope="session")
def tiny_transcripts(spark):
    from splade_spark.fixtures import transcripts

    return transcripts(spark, 100, partitions=4).cache()


@pytest.fixture(scope="session")
def tiny_documents(spark, tiny_transcripts):
    from splade_spark.documents import build_documents

    return build_documents(tiny_transcripts, partitions=4).cache()


@pytest.fixture
def spark_jobs(spark):
    """spark_jobs(fn) -> (fn(), number of Spark jobs fn started).

    Jobs are tagged with a fresh job group and counted once the listener
    bus has drained, so a job still in flight on the bus is not missed."""
    import uuid

    sc = spark.sparkContext

    def run(fn):
        group = f"spark-jobs-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "counted by the spark_jobs fixture")
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return run
