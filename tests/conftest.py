import os
import shutil
import tempfile

import pytest

os.environ.setdefault("WEBR_SHUFFLE_PARTITIONS", "8")


@pytest.fixture(scope="session")
def spark():
    from webr.session import get_spark
    s = get_spark(app="webr-tests", master="local[4]")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def compiled(spark):
    """-> a callable: how many classes Spark's codegen has compiled in
    this JVM so far (a cache hit compiles none)."""
    cm = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return lambda: cm.METRIC_COMPILATION_TIME().getCount()


@pytest.fixture(scope="session")
def corpus_pd():
    from webr.synth import generate_pages, pages_to_pandas
    return pages_to_pandas(
        generate_pages(n_entities=12, pages_per_entity=15, seed=7))


@pytest.fixture(scope="session")
def oracle_result(corpus_pd):
    from webr.oracle import run_oracle
    return run_oracle(corpus_pd)


@pytest.fixture(scope="session")
def pages_df(spark, corpus_pd):
    from webr import schema
    return spark.createDataFrame(
        corpus_pd[["url", "warc_ts", "html", "text", "lang"]],
        schema=schema.PAGES)


@pytest.fixture()
def warehouse_dir():
    d = tempfile.mkdtemp(prefix="webr_wh_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


@pytest.fixture(scope="session")
def pipeline_out(spark, pages_df):
    """One shared full-pipeline run for read-only assertions."""
    d = tempfile.mkdtemp(prefix="webr_wh_shared_")
    from webr.engine import Pipeline
    out = Pipeline(spark, d, input_id="tests-v1").run(pages_df)
    yield out
    shutil.rmtree(d, ignore_errors=True)
