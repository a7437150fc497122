import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.appName("lss-tests")
        .master("local[4]")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.default.parallelism", "4")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "4g")
        .getOrCreate()
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def spark_jobs(spark):
    """spark_jobs(fn) -> (fn(), number of Spark jobs fn ran): the jobs of
    a fresh job group, read once the listener bus has delivered every
    event."""
    import uuid

    sc = spark.sparkContext

    def run(fn):
        group = f"count-jobs-{uuid.uuid4()}"
        sc.setJobGroup(group, "count jobs")
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return run


@pytest.fixture(scope="session")
def tiny_corpus_pdf():
    from lucene_solr_spark.corpus import gen_corpus_pdf

    return gen_corpus_pdf(200)


@pytest.fixture(scope="session")
def tiny_index(spark, tiny_corpus_pdf, tmp_path_factory):
    """Build a single-segment index over the tiny corpus once per session."""
    from lucene_solr_spark.indexing.builder import build_index

    index_dir = str(tmp_path_factory.mktemp("idx") / "tiny")
    sdf = spark.createDataFrame(tiny_corpus_pdf)
    build_index(spark, index_dir, [("batch0000", sdf)], analyzer="standard", norms="byte")
    return index_dir


@pytest.fixture(scope="session")
def tiny_oracle(tiny_corpus_pdf):
    from lucene_solr_spark.oracle import OracleIndex

    return OracleIndex(tiny_corpus_pdf, analyzer="standard", norms="byte")
