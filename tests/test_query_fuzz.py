"""Differential query fuzzing across the evaluators.

A seeded hypothesis strategy draws ES-style DSL trees of depth <= 3
with boosts over the fixture vocabulary (present and absent terms,
queries with empty results, pages with ``from_ > 0``) and checks:

* spark mode against the pure-Python oracle (``oracle/engine.py``) on
  the node set the oracle implements: term, match, prefix, and/or,
  filtered, dis_max, constant_score, not, match_all and match_none.
  Counts are equal, and the top-k is rank-identical with f32 scores
  within 2e-6.  The oracle accumulates combinator sums in f32, the
  engine in f64 over the same f32 term scores, so two documents whose
  scores agree within that tolerance may swap places; that is the one
  divergence allowed (docs/COVERAGE.md).
* spark mode against ``mode="local"`` and ``ShardedSearcher`` at 2 and
  4 shard groupings of a 4-job nested-type index, for every node type:
  term, match, prefix, wildcard, fuzzy, and/or, filtered, dis_max,
  constant_score, not, exists and nested.  Counts are equal and the
  top-k is identical in doc ids and f32 scores.

The example budget is fixed so the module stays within a minute of
Tier-1; ``RUSTICSEARCH_FUZZ_EXAMPLES=N`` runs N examples per test.
"""

from __future__ import annotations

import os

import numpy as np
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

EXAMPLES = int(os.environ.get("RUSTICSEARCH_FUZZ_EXAMPLES", "0"))

ABSENT = ["zzqxabsent", "qqvvnowhere"]
BOOSTS = [1.0, 0.5, 2.0, 3.5]
SCORE_MODES = ["avg", "sum", "max", "none"]

FUZZ_MAPPING = {"properties": {
    "text": {"type": "string"},
    "lang": {"type": "string", "index": "not_analyzed"},
    "comments": {"type": "nested", "properties": {
        "author": {"type": "string", "index": "not_analyzed"},
        "note": {"type": "string"},
        "stars": {"type": "integer"},
    }},
}}

AUTHORS = ["alice", "bob", "carol", "dave"]
NOTES = ["fast spark merge", "slow table scan", "spark join", "merge sort",
         "hash table", None]


def _fuzz_settings(default: int):
    return settings(max_examples=EXAMPLES or default, derandomize=True,
                    database=None, deadline=None,
                    suppress_health_check=[HealthCheck.too_slow,
                                           HealthCheck.data_too_large])


# ---------------------------------------------------------------------------
# query strategy
# ---------------------------------------------------------------------------

class Scope:
    """The fields a subtree may name: the root document fields, or a
    nested path's subfields inside a ``nested`` query."""

    def __init__(self, vocab, analyzed, keyword, numeric=(), exists=(),
                 nested=None):
        self.vocab = vocab              # field -> sorted present values
        self.analyzed = list(analyzed)
        self.keyword = list(keyword)
        self.numeric = list(numeric)
        self.exists = list(exists)
        self.nested = nested            # (path, Scope) or None


@st.composite
def _word(draw, scope, field):
    vals = scope.vocab.get(field) or []
    if field in scope.numeric:
        return draw(st.sampled_from(vals + [99]))
    return draw(st.sampled_from(vals + ABSENT) if vals
                else st.sampled_from(ABSENT))


@st.composite
def _leaf(draw, scope, oracle):
    kinds = ["term", "match", "prefix", "match_all", "match_none"]
    if not oracle:
        kinds += ["wildcard", "fuzzy", "exists", "term_nested_field"]
    kind = draw(st.sampled_from(kinds))
    boost = draw(st.sampled_from(BOOSTS))
    text_fields = scope.analyzed or scope.keyword
    if kind == "term":
        f = draw(st.sampled_from(scope.keyword + scope.analyzed
                                 + scope.numeric))
        return {"term": {f: {"value": draw(_word(scope, f)),
                             "boost": boost}}}
    if kind == "term_nested_field":
        # a flat query on a nested subfield matches no parent
        if scope.nested is None:
            return {"match_none": {}}
        path, inner = scope.nested
        f = draw(st.sampled_from(inner.keyword))
        return {"term": {f: draw(_word(inner, f))}}
    if kind == "match":
        f = draw(st.sampled_from(text_fields))
        words = draw(st.lists(_word(scope, f), min_size=1, max_size=3))
        return {"match": {f: {"query": " ".join(map(str, words)),
                              "operator": draw(st.sampled_from(
                                  ["or", "and"])),
                              "boost": boost}}}
    if kind == "prefix":
        f = draw(st.sampled_from(scope.analyzed + scope.keyword))
        w = str(draw(_word(scope, f)))
        n = draw(st.integers(1, 3))
        return {"prefix": {f: {"value": w[:n], "boost": boost}}}
    if kind == "match_all":
        return {"match_all": {"boost": boost}}
    if kind == "match_none":
        return {"match_none": {}}
    if kind == "wildcard":
        f = draw(st.sampled_from(text_fields))
        w = str(draw(_word(scope, f)))
        shape = draw(st.sampled_from(["head", "tail", "mid", "lead"]))
        pat = {"head": w[:2] + "*", "tail": w[:1] + "*" + w[-1:],
               "mid": w[:1] + "?" + w[2:], "lead": "*" + w[-2:]}[shape]
        return {"wildcard": {f: {"value": pat, "boost": boost}}}
    if kind == "fuzzy":
        f = draw(st.sampled_from(text_fields))
        w = str(draw(_word(scope, f)))
        i = draw(st.integers(0, max(0, len(w) - 1)))
        w = w[:i] + draw(st.sampled_from(["", "x", "a"])) + w[i + 1:]
        return {"fuzzy": {f: {"value": w or "x",
                              "fuzziness": draw(st.integers(0, 2)),
                              "prefix_length": draw(st.integers(0, 2)),
                              "boost": boost}}}
    # exists
    return {"exists": {"field": draw(st.sampled_from(
        scope.exists + ["nosuchfield"]))}}


@st.composite
def dsl_query(draw, scope, oracle, depth=3):
    if depth == 0 or draw(st.integers(0, 3)) == 0:
        return draw(_leaf(scope, oracle))
    kinds = ["and", "or", "filtered", "dis_max", "constant_score", "not"]
    if not oracle and scope.nested is not None:
        kinds.append("nested")
    kind = draw(st.sampled_from(kinds))

    def sub():
        return dsl_query(scope, oracle, depth - 1)

    if kind in ("and", "or"):
        return {kind: draw(st.lists(sub(), min_size=1, max_size=3))}
    if kind == "filtered":
        body = {"filter": draw(sub())}
        if draw(st.booleans()):
            body["query"] = draw(sub())
        return {"filtered": body}
    if kind == "dis_max":
        return {"dis_max": {"queries": draw(st.lists(sub(), min_size=1,
                                                     max_size=3)),
                            "boost": draw(st.sampled_from(BOOSTS))}}
    if kind == "constant_score":
        return {"constant_score": {"filter": draw(sub()),
                                   "boost": draw(st.sampled_from(BOOSTS))}}
    if kind == "not":
        return {"not": draw(sub())}
    path, inner = scope.nested
    return {"nested": {"path": path,
                       "query": draw(dsl_query(inner, oracle, depth - 1)),
                       "score_mode": draw(st.sampled_from(SCORE_MODES))}}


@st.composite
def page(draw):
    return draw(st.integers(1, 12)), draw(st.sampled_from([0, 0, 1, 3, 7]))


# ---------------------------------------------------------------------------
# spark mode vs the oracle
# ---------------------------------------------------------------------------

def _vocab_from_oracle(oracle, field, n=24):
    post = oracle.postings[field]
    by_df = sorted(post, key=lambda t: (-len(post[t]), t))
    # the most common terms, plus a tail of rare ones
    return sorted(set(by_df[:n]) | set(by_df[-6:]))


@pytest.fixture(scope="module")
def oracle_scope(oracle):
    return Scope({"text": _vocab_from_oracle(oracle, "text"),
                  "lang": _vocab_from_oracle(oracle, "lang")},
                 analyzed=["text"], keyword=["lang"])


def _assert_matches_oracle(q, got, full):
    """``got`` is the engine's page; ``full`` is the oracle's whole
    ranking, sliced here.  Position i holds the oracle's doc, or a doc
    whose oracle score ties the oracle's i-th score within 2e-6."""
    want = full[:len(got)] if got else []
    assert len(got) == len(want), (q, got, want)
    oscore = dict(full)
    for (gd, gs), (wd, ws) in zip(got, want):
        np.testing.assert_allclose(gs, ws, rtol=2e-6, atol=1e-7,
                                   err_msg=str(q))
        if gd != wd:
            assert gd in oscore and np.isclose(
                oscore[gd], ws, rtol=2e-6, atol=1e-7), (q, got, want)


@given(data=st.data())
@_fuzz_settings(12)
def test_spark_matches_oracle(engine, oracle, oracle_scope, data):
    q = data.draw(dsl_query(oracle_scope, oracle=True), label="query")
    size, from_ = data.draw(page(), label="page")
    parsed = engine.parse(q)
    n = oracle.count(parsed)
    assert engine.count(q) == n, q
    got = [(r.doc_id, r.score) for r in
           engine.search(q, size=size, from_=from_).collect()]
    full = oracle.search(parsed, k=n + 1)
    assert len(got) == len(full[from_:from_ + size]), q
    _assert_matches_oracle(q, got, full[from_:])


# ---------------------------------------------------------------------------
# spark mode vs mode="local" vs ShardedSearcher(2 and 4 groupings)
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def fuzz_index(spark, webtext, tmp_path_factory):
    """A 4-job nested-type index (parent-colocated children) over 72
    webtext pages, each with 0-3 comments."""
    from rusticsearch_spark.index.build import build_index
    from rusticsearch_spark.mapping import (mapping_to_config,
                                            parse_mapping, prepare_docs)
    pages = sorted(webtext.select("url", "text", "lang").limit(72)
                   .collect())
    rows = []
    for i, r in enumerate(pages):
        comments = [(AUTHORS[(i + j) % len(AUTHORS)],
                     NOTES[(i * 3 + j) % len(NOTES)], (i + 2 * j) % 6)
                    for j in range(i % 4)]
        rows.append((r.url, r.text, r.lang if i % 9 else None, comments))
    df = spark.createDataFrame(
        rows, "url string, text string, lang string, comments array<"
              "struct<author:string, note:string, stars:long>>"
    ).repartition(4)
    fields = parse_mapping(FUZZ_MAPPING)
    cfg = mapping_to_config(fields, key_col="url", n_buckets=8,
                            tbuckets=2, shuffle_partitions=4)
    path = str(tmp_path_factory.mktemp("fuzz") / "idx")
    build_index(spark, prepare_docs(df, fields, key_col="url"), path, cfg,
                jobs=4)
    return path


@pytest.fixture(scope="module")
def fuzz_searchers(spark, fuzz_index):
    from rusticsearch_spark.index.layout import IndexLayout
    from rusticsearch_spark.query.engine import SearchEngine
    from rusticsearch_spark.query.local import ShardedSearcher
    jobs = IndexLayout(fuzz_index).completed_jobs_local()
    assert len(jobs) == 4
    return {
        "spark": SearchEngine(spark, fuzz_index),
        "local": SearchEngine(spark, fuzz_index, mode="local")._local,
        "sharded2": ShardedSearcher(fuzz_index,
                                    shards=[jobs[:2], jobs[2:]]),
        "sharded4": ShardedSearcher(fuzz_index),
    }


@pytest.fixture(scope="module")
def fuzz_scope(fuzz_index):
    import pyarrow.parquet as pq
    tbl = pq.read_table(fuzz_index + "/term_dict",
                        columns=["field", "term", "df"])
    by_field = {}
    for f, t, d in zip(*(tbl.column(c).to_pylist()
                         for c in ("field", "term", "df"))):
        by_field.setdefault(f, {})[t] = by_field.get(f, {}).get(t, 0) + d

    def vocab(f, n=20):
        got = by_field.get(f, {})
        top = sorted(got, key=lambda t: (-got[t], t))
        return sorted(set(top[:n]) | set(top[-4:]))

    inner = Scope({f: vocab(f) for f in ("comments.author",
                                         "comments.note")}
                  | {"comments.stars": [int(t) for t in
                                        vocab("comments.stars")]},
                  analyzed=["comments.note"], keyword=["comments.author"],
                  numeric=["comments.stars"],
                  exists=["comments.author", "comments.note"])
    return Scope({"text": vocab("text"), "lang": vocab("lang")},
                 analyzed=["text"], keyword=["lang"],
                 exists=["text", "lang", "url"],
                 nested=("comments", inner))


def _f32(rows):
    return [(int(d), np.float32(s)) for d, s in rows]


@given(data=st.data())
@_fuzz_settings(16)
def test_spark_local_sharded_agree(fuzz_searchers, fuzz_scope, data):
    q = data.draw(dsl_query(fuzz_scope, oracle=False), label="query")
    size, from_ = data.draw(page(), label="page")
    eng = fuzz_searchers["spark"]
    got = _f32((r.doc_id, r.score) for r in
               eng.search(q, size=size, from_=from_).collect())
    n = eng.count(q)
    for name in ("local", "sharded2", "sharded4"):
        s = fuzz_searchers[name]
        assert _f32(s.search(q, size=size, from_=from_)) == got, (name, q)
        assert s.count(q) == n, (name, q)
