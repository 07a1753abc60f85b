"""Shared fixtures: one SparkSession, one built index + oracle pair.

The Spark-side suites build a small index over the deterministic
synthetic webtext corpus once per test session; the oracle indexes
exactly the same (doc_id, text, lang) rows so rank-identity asserts
compare like for like.
"""

from __future__ import annotations

import itertools
import os
import shutil

import pytest

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")
N_TEST_DOCS = 200
_JOB_GROUPS = itertools.count()     # Spark job-group names stay unique


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession
    s = (SparkSession.builder.master("local[4]")
         .appName("rusticsearch-spark-tests")
         .config("spark.sql.shuffle.partitions", "4")
         .config("spark.ui.enabled", "false")
         .config("spark.sql.adaptive.enabled", "true")
         .config("spark.driver.memory", "6g")
         .getOrCreate())
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture
def sql_plans(spark):
    """A callable returning the physical plans of the SQL executions
    that ran since this fixture was set up, read from Spark's SQL
    status store (its listener runs on the event bus: drained first)."""
    bus = spark.sparkContext._jsc.sc().listenerBus()
    store = spark._jsparkSession.sharedState().statusStore()

    def _execs():
        bus.waitUntilEmpty(10_000)
        ex = store.executionsList()
        return [ex.apply(i) for i in range(ex.size())]

    seen = {e.executionId() for e in _execs()}
    return lambda: [e.physicalPlanDescription() for e in _execs()
                    if e.executionId() not in seen]


@pytest.fixture
def spark_jobs(spark):
    """A callable running ``fn()`` in its own Spark job group and
    returning ``(fn's result, the number of Spark jobs it ran)``."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def run(fn):
        group = f"spark-jobs-{next(_JOB_GROUPS)}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return out, len(tracker.getJobIdsForGroup(group))

    return run


@pytest.fixture(scope="session")
def webtext(spark):
    from pyspark.sql import functions as F
    from rusticsearch_spark.synth.webtext import webtext_table
    wt = webtext_table(spark, SF_DIR).orderBy("url").limit(N_TEST_DOCS).cache()
    wt.count()
    return wt


@pytest.fixture(scope="session")
def index_dir(spark, webtext, tmp_path_factory):
    from rusticsearch_spark.index.build import build_index
    from rusticsearch_spark.index.layout import IndexConfig
    path = str(tmp_path_factory.mktemp("idx") / "main")
    shutil.rmtree(path, ignore_errors=True)
    build_index(spark, webtext, path,
                IndexConfig(key_col="url",
                            fields={"text": "standard", "lang": None},
                            n_buckets=4, tbuckets=2, shuffle_partitions=4),
                jobs=1)
    return path


@pytest.fixture(scope="session")
def engine(spark, index_dir):
    from rusticsearch_spark.query.engine import SearchEngine
    return SearchEngine(spark, index_dir)


@pytest.fixture(scope="session")
def oracle(spark, index_dir):
    from rusticsearch_spark.oracle.engine import OracleIndex
    docs = (spark.read.parquet(index_dir + "/docs")
            .select("doc_id", "text", "lang").collect())
    o = OracleIndex({"text": "standard", "lang": None})
    for r in sorted(docs, key=lambda r: r.doc_id):
        o.add(r.doc_id, {"text": r.text, "lang": r.lang})
    return o
