"""Spark-mode query shape: every search is one Spark job (a
``mapInArrow`` over the job shards), the driver-side answers run none,
and the shard tasks read the snapshot the engine resolved at open."""

from __future__ import annotations

import numpy as np
import pytest

from test_search_rank_identity import QUERIES

PRESENT_AND = {"match": {"text": {"query": "spark query",
                                  "operator": "and"}}}

ONE_JOB = [q for name, q in QUERIES if name != "match_none"] + [
    {"wildcard": {"text": "s*a*"}},
    {"regexp": {"text": "m[ae]r.*"}},
    {"fuzzy": {"text": {"value": "spark", "fuzziness": 1,
                        "prefix_length": 1}}},
    {"not": {"match": {"text": "spark query"}}},
    {"and": [{"or": [{"match": {"text": "merge"}},
                     {"prefix": {"text": "ta"}}]},
             {"not": {"term": {"lang": "en"}}}]},
]


@pytest.mark.parametrize("query", ONE_JOB)
def test_search_is_one_spark_job(engine, spark_jobs, query):
    rows, jobs = spark_jobs(
        lambda: engine.search(query, size=7, from_=2).collect())
    assert jobs == 1, query
    # a non-trivial count evaluates in the same one-job shape
    _, jobs = spark_jobs(lambda: engine.count(query))
    assert jobs <= 1, query


@pytest.mark.parametrize("query", [
    {"wildcard": {"text": "*ark"}},
    {"regexp": {"text": ".*ar.*"}},
    {"fuzzy": {"text": {"value": "spark", "fuzziness": 1}}},
])
def test_unanchored_selector_adds_the_dictionary_job(engine, spark_jobs,
                                                     query):
    """An unanchored selector enumerates its terms with a Spark filter
    over the term_dict sidecar (``selector_stats_spark``), then runs
    the one shard job."""
    node = engine.parse(query)
    _, dict_jobs = spark_jobs(lambda: engine._selector_stats(node))
    rows, jobs = spark_jobs(lambda: engine.search(query, size=10).collect())
    assert rows and dict_jobs >= 1 and jobs == dict_jobs + 1, query


@pytest.mark.parametrize("query", [
    None,
    {"match_all": {}},
    {"term": {"text": "merge"}},
    {"match": {"text": {"query": "spark zzzzunseen", "operator": "and"}}},
    {"match": {"text": "zzzzunseen qqqqunseen"}},
    {"match_none": {}},
], ids=["count_all", "match_all", "term", "and_one_absent",
        "or_all_absent", "match_none"])
def test_driver_side_counts_run_no_spark_job(engine, oracle, spark_jobs,
                                             query):
    n, jobs = spark_jobs(lambda: engine.count(query))
    assert jobs == 0, query
    want = (len(oracle.doc_ids) if query is None
            else oracle.count(engine.parse(query)))
    assert n == want


def test_empty_search_runs_no_spark_job(engine, spark_jobs):
    rows, jobs = spark_jobs(lambda: engine.search(
        {"and": [{"term": {"text": "zzzzunseen"}},
                 {"not": {"term": {"lang": "en"}}}]}).collect())
    assert rows == [] and jobs == 0
    rows, jobs = spark_jobs(lambda: engine.search(PRESENT_AND).collect())
    assert rows and jobs == 1


def test_matches_is_the_full_result_in_every_mode(spark, index_dir,
                                                  engine):
    """``matches`` returns every live match with its score — the rows a
    top-k is cut from — identically in spark, local and sharded mode."""
    from rusticsearch_spark.query.engine import SearchEngine
    modes = [engine] + [SearchEngine(spark, index_dir, mode=m)
                        for m in ("local", "sharded")]
    for q in ({"match": {"text": "spark query"}},
              {"not": {"term": {"lang": "en"}}},
              {"match": {"text": "zzzzunseen"}}):
        want = sorted((r.doc_id, r.score)
                      for r in engine.search(q, size=1000).collect())
        assert len(want) == engine.count(q)
        for eng in modes:
            assert sorted((r.doc_id, r.score)
                          for r in eng.matches(q).collect()) == want, q


def test_f64_precision_ranks_like_f32(spark, index_dir, engine):
    """precision="f64" runs the same one-job evaluator in double
    precision: same documents, scores within f32 rounding."""
    from rusticsearch_spark.query.engine import SearchEngine
    f64 = SearchEngine(spark, index_dir, precision="f64")
    for q in ({"match": {"text": "spark query"}},
              {"prefix": {"text": "sc"}},
              {"filtered": {"query": {"match": {"text": "table scan"}},
                            "filter": {"term": {"lang": "en"}}}}):
        a = engine.search(q, size=50).collect()
        b = f64.search(q, size=50).collect()
        assert {r.doc_id for r in a} == {r.doc_id for r in b}
        assert f64.count(q) == engine.count(q)
        sa = {r.doc_id: r.score for r in a}
        for r in b:
            np.testing.assert_allclose(r.score, sa[r.doc_id], rtol=1e-6)


# ---------------------------------------------------------------------------
# snapshot pinning
# ---------------------------------------------------------------------------

SNAPSHOT_QUERIES = [
    {"match": {"text": "spark query data"}},
    {"match": {"text": {"query": "table scan", "operator": "and"}}},
    {"prefix": {"text": "sc"}},
    {"not": {"term": {"lang": "en"}}},
    {"match_all": {}},
    {"constant_score": {"filter": {"match_all": {}}}},
    {"term": {"text": "merge"}},
]


@pytest.fixture(scope="module")
def stream_index(spark, webtext, tmp_path_factory):
    """A 2-job index over 120 pages; the remaining 80 fixture pages
    feed the upsert batch."""
    from rusticsearch_spark.index.build import build_index
    from rusticsearch_spark.index.layout import IndexConfig
    rows = sorted(webtext.select("url", "text", "lang").collect())
    path = str(tmp_path_factory.mktemp("snap") / "idx")
    build_index(spark, spark.createDataFrame(rows[:120]).repartition(4),
                path, IndexConfig(key_col="url",
                                  fields={"text": "standard", "lang": None},
                                  n_buckets=4, tbuckets=2,
                                  shuffle_partitions=4), jobs=2)
    return path, rows


def test_shard_tasks_read_the_open_time_snapshot(spark, stream_index):
    """Open an engine and a LocalSearcher, then commit an upsert batch
    (new pages and re-crawled ones, so field stats and dfs change) and
    delete 3 keys.  The engine's answers still equal the searcher's:
    shard tasks use the open-time jobs, deletion lists and field
    stats, never the ones committed since."""
    from rusticsearch_spark.index.delete import delete_documents
    from rusticsearch_spark.query.engine import SearchEngine
    from rusticsearch_spark.query.local import LocalSearcher
    from rusticsearch_spark.streaming.ingest import StreamingIngester
    path, rows = stream_index
    eng = SearchEngine(spark, path)
    ls = LocalSearcher(path)
    before = {str(q): (ls.search(q, size=15), ls.count(q))
              for q in SNAPSHOT_QUERIES}
    recrawl = [(u, t + " spark spark query", g) for u, t, g in rows[:20]]
    batch = spark.createDataFrame(recrawl + list(rows[120:]),
                                  "url string, text string, lang string")
    StreamingIngester(spark, path, upsert=True).process_batch(batch, 0)
    assert delete_documents(spark, path,
                            keys=[r[0] for r in rows[40:43]]) == 3
    after = LocalSearcher(path)
    changed = 0
    for q in SNAPSHOT_QUERIES:
        top, n = before[str(q)]
        got = [(r.doc_id, r.score) for r in eng.search(q, size=15).collect()]
        assert [d for d, _ in got] == [d for d, _ in top], q
        np.testing.assert_array_equal(np.float32([s for _, s in got]),
                                      np.float32([s for _, s in top]))
        assert eng.count(q) == n, q
        changed += (after.search(q, size=15), after.count(q)) != (top, n)
    # the probe is live: the committed batch does change the answers
    assert changed == len(SNAPSHOT_QUERIES)
