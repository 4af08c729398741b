import pytest
from pyspark.sql import SparkSession


@pytest.fixture(scope="session")
def spark():
    s = (
        SparkSession.builder.master("local[4]")
        .appName("linkorgs-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "6g")
        .getOrCreate()
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def fixture_tables(spark):
    from linkorgs_software_spark.sources.fixtures import gen_linkage_fixture

    return gen_linkage_fixture(spark, n_entities=60, seed=42)


@pytest.fixture
def stored_rdds(spark):
    """Returns the ids of the RDDs that hold cached blocks right now.

    Leak checks compare id sets, not counts: Spark's ContextCleaner drops
    earlier tests' unreferenced local checkpoints at GC time, so a count can
    fall during a test for reasons unrelated to the code under test."""
    return lambda: {i.id() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()}
