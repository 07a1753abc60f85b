"""End-to-end rank-identity: the Spark engine vs the pure-Python
oracle (which reimplements the reference's exact f32 semantics —
segment_builder quantization + similarity.rs math + score-VM
combinators).  Top-k doc_ids must be identical in order; scores must
agree to f32 ULP tolerance.  Counts (the _count path, scoring elided)
must be exact."""

import numpy as np
import pytest

QUERIES = [
    ("match_or", {"match": {"text": "spark query"}}),
    ("match_and", {"match": {"text": {"query": "spark query",
                                      "operator": "and"}}}),
    ("match_single", {"match": {"text": "merge"}}),
    ("match_boost", {"match": {"text": {"query": "table scan",
                                        "boost": 2.5}}}),
    ("term_exact", {"term": {"text": "window"}}),
    ("term_lang", {"term": {"lang": "en"}}),
    ("terms_in", {"terms": {"lang": ["en", "fr", "zh"]}}),
    ("prefix", {"prefix": {"text": "sc"}}),
    ("and_combo", {"and": [{"match": {"text": "query"}},
                           {"term": {"lang": "en"}}]}),
    ("or_combo", {"or": [{"match": {"text": "hash join"}},
                         {"term": {"lang": "fr"}}]}),
    ("not_term", {"not": {"term": {"lang": "en"}}}),
    ("filtered", {"filtered": {"query": {"match": {"text": "table scan"}},
                               "filter": {"term": {"lang": "en"}}}}),
    ("constant_score", {"constant_score": {
        "filter": {"match": {"text": "merge sort"}}, "boost": 7.0}}),
    ("multi_match", {"multi_match": {"query": "spark en",
                                     "fields": ["text^2", "lang"]}}),
    ("match_all", {"match_all": {"boost": 1.5}}),
    ("match_none", {"match_none": {}}),
]


@pytest.mark.parametrize("name,query", QUERIES, ids=[q[0] for q in QUERIES])
def test_topk_rank_identity(engine, oracle, name, query):
    k = 10
    got = [(r.doc_id, r.score) for r in
           engine.search(query, size=k).collect()]
    want = oracle.search(engine.parse(query), k=k)
    assert [g[0] for g in got] == [w[0] for w in want], \
        f"{name}: doc rank mismatch\n got={got}\nwant={want}"
    if want:
        np.testing.assert_allclose(
            [g[1] for g in got], [w[1] for w in want], rtol=2e-6, atol=1e-7,
            err_msg=f"{name}: score drift")


@pytest.mark.parametrize("name,query", QUERIES, ids=[q[0] for q in QUERIES])
def test_count_exact(engine, oracle, name, query):
    assert engine.count(query) == oracle.count(engine.parse(query))


def test_count_missing_body_is_match_all(engine, oracle):
    # search_api.rs:51-55: no body ⇒ count of Query::all()
    assert engine.count() == len(oracle.doc_ids)


def test_pagination_offsets(engine, oracle):
    q = {"match": {"text": "spark query"}}
    full = oracle.search(engine.parse(q), k=20)
    page = [(r.doc_id, r.score) for r in
            engine.search(q, size=5, from_=5).collect()]
    assert [p[0] for p in page] == [w[0] for w in full[5:10]]


def test_missing_term_empty(engine, oracle):
    q = {"match": {"text": "zzzzzzunseen"}}
    assert engine.search(q, size=10).collect() == []
    assert engine.count(q) == 0


def test_hits_join_keys(engine):
    hits = engine.hits({"match": {"text": "merge"}}, size=3)
    assert len(hits) == 3
    for h in hits:
        assert h["key"].startswith("https://")
        assert h["score"] > 0


@pytest.mark.parametrize("query", [
    {"match": {"text": {"query": "spark zzzzunseen", "operator": "and"}}},
    {"match": {"text": "zzzzunseen qqqqunseen"}},
    {"dis_max": {"queries": [{"term": {"text": "zzzzunseen"}},
                             {"term": {"lang": "qqqqunseen"}}]}},
], ids=["and_one_absent", "or_all_absent", "dis_max_all_absent"])
def test_absent_term_folds_to_empty_without_postings_scan(engine, spark_jobs,
                                                          query):
    """Empty constant folding (boolean_query.rs:131-321): a conjunction
    with a term the dictionary lacks, or a disjunction of only such
    terms, returns no hits with zero Spark jobs, so no posting block
    is read."""
    rows, jobs = spark_jobs(lambda: engine.search(query, size=10).collect())
    assert rows == [] and jobs == 0
    # the probe is live: a present conjunction runs the shard job
    rows, jobs = spark_jobs(lambda: engine.search(
        {"match": {"text": {"query": "spark query",
                            "operator": "and"}}}).collect())
    assert rows and jobs == 1


@pytest.mark.parametrize("query", [
    {"match": {"text": {"query": "spark zzzzunseen", "operator": "and"}}},
    {"match": {"text": "zzzzunseen qqqqunseen"}},
], ids=["and_one_absent", "or_all_absent"])
def test_absent_term_count_folds_without_postings_scan(engine, sql_plans,
                                                       query):
    """The count path folds the same way: 0, and not one SQL
    execution, so no postings read."""
    assert engine.count(query) == 0
    assert sql_plans() == []
    # the probe is live: a present conjunction's count runs the one
    # shard-evaluator execution, whose tasks read the postings
    assert engine.count({"match": {"text": {"query": "spark query",
                                            "operator": "and"}}}) > 0
    plans = sql_plans()
    assert len(plans) == 1 and "MapInArrow" in plans[0], plans


@pytest.fixture(scope="module")
def many_block_index(spark, webtext, tmp_path_factory):
    """n_buckets=40 puts every document bucket in its own segment, so
    a common term spans ~40 posting blocks — the multi-segment decode
    shape the 4-bucket session index never reaches.  Returns the index
    path and an oracle over exactly its (doc_id, text, lang) rows."""
    from rusticsearch_spark.index.build import build_index
    from rusticsearch_spark.index.layout import IndexConfig
    from rusticsearch_spark.oracle.engine import OracleIndex
    path = str(tmp_path_factory.mktemp("many_block") / "idx")
    build_index(spark, webtext, path,
                IndexConfig(key_col="url",
                            fields={"text": "standard", "lang": None},
                            n_buckets=40, tbuckets=2,
                            shuffle_partitions=4), jobs=1)
    o = OracleIndex({"text": "standard", "lang": None})
    docs = (spark.read.parquet(path + "/docs")
            .select("doc_id", "text", "lang").collect())
    for r in sorted(docs, key=lambda r: r.doc_id):
        o.add(r.doc_id, {"text": r.text, "lang": r.lang})
    return path, o


def _assert_many_block_topk(spark, many_block_index, queries):
    """Spark mode, the oracle and mode="local" agree on doc ids and f32
    scores at sizes 5 and 11 over the ~40-block index."""
    from rusticsearch_spark.query.engine import SearchEngine
    path, oracle = many_block_index
    eng = SearchEngine(spark, path)
    loc = SearchEngine(spark, path, mode="local")
    assert eng.dict_reader.lookup_one("text", "the")[1] >= 30

    def f32(rows):
        return np.float32([r[1] for r in rows])

    for q in queries:
        for size in (5, 11):
            got = [(r.doc_id, r.score) for r in
                   eng.search(q, size=size).collect()]
            want = oracle.search(eng.parse(q), k=size)
            local = [(r.doc_id, r.score) for r in
                     loc.search(q, size=size).collect()]
            assert len(got) == size, (q, size)
            assert [g[0] for g in got] == [w[0] for w in want] \
                == [x[0] for x in local], (q, size)
            np.testing.assert_array_equal(f32(got), f32(want),
                                          err_msg=str((q, size)))
            np.testing.assert_array_equal(f32(got), f32(local),
                                          err_msg=str((q, size)))


def test_wand_pruning_engages_on_many_blocks(spark, many_block_index):
    """Single-term top-k over terms spanning ~40 posting blocks — the
    shape the block-max prune used to target; the one-job full decode
    must match the oracle and mode="local" exactly."""
    _assert_many_block_topk(spark, many_block_index, [
        {"term": {"text": "the"}},
        {"term": {"text": "data"}},
    ])


def test_fused_multiterm_pruning_matches_full_eval(spark, many_block_index):
    """Fused match or/and and multi_match top-k over the ~40-block
    index (the multi-term shapes the fused prune used to target) must
    match the oracle and mode="local" exactly."""
    _assert_many_block_topk(spark, many_block_index, [
        {"match": {"text": "the data with for"}},
        {"match": {"text": {"query": "the data", "operator": "and"}}},
        {"multi_match": {"query": "the data", "fields": ["text", "lang"]}},
    ])
