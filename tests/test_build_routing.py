"""The build's two data-sized decisions, both made from observe()
metrics of the docs write (index/build.py:write_job):

* tokenizer routing — a field with no row the SQL tokenizer cannot
  take plans the SQL tokenizer alone, with no Python (ArrowEvalPython)
  node; any such row keeps the SQL/pandas-UDF split;
* posting exchange width — ``data_width(text bytes)`` capped by
  ``shuffle_partitions``.

Neither may change a single artifact row: every table equals the one
the full split at cap width writes."""

import glob
import os
import re

import pyarrow.dataset as ds
import pytest
from pyspark.sql import functions as F

from rusticsearch_spark.index import build
from rusticsearch_spark.index.build import build_index
from rusticsearch_spark.index.layout import IndexConfig
from rusticsearch_spark.index.merge import merge_jobs
from rusticsearch_spark.query.engine import SearchEngine
from rusticsearch_spark.streaming.ingest import StreamingIngester

CFG = dict(key_col="url", fields={"text": "standard", "lang": None},
           n_buckets=4, tbuckets=2, shuffle_partitions=4)
MIXED_CFG = dict(CFG, fields={"text": "standard", "lang": None,
                              "tags": "standard"})
MIXED = ["Café naïve façade", "日本語 テスト", "don’t stop",
         "Москва spark query"]
TABLES = ("docs", "postings", "term_dict", "field_stats", "doc_index",
          "lineage")


def _tables(path):
    """Every table's rows, sorted (lineage without its clock columns),
    plus the postings/term_dict file counts."""
    out = {}
    for t in TABLES:
        tbl = ds.dataset(os.path.join(path, t), format="parquet",
                         partitioning="hive").to_table()
        cols = [c for c in sorted(tbl.column_names)
                if c not in ("wall_sec", "finished_unix")]
        out[t] = sorted(zip(*[tbl.column(c).to_pylist() for c in cols]),
                        key=repr)
    files = {t: len(glob.glob(f"{path}/{t}/**/*.parquet", recursive=True))
             for t in ("postings", "term_dict")}
    return out, files


def _postings_write_plans(sql_plans, path):
    """Physical plans of the executions that wrote ``path``'s postings."""
    pat = re.compile(r"Execute InsertIntoHadoopFsRelationCommand\n"
                     r"(?:.*\n)*?Arguments: (?:file:)?"
                     + re.escape(os.path.join(path, "postings")) + "/job=")
    return [p for p in sql_plans() if pat.search(p)]


def _split_at_cap(monkeypatch):
    """Plan every build as if nothing were observed: the SQL/pandas
    split for every SQL-routed field, at the ``shuffle_partitions``
    width."""
    orig = build._posting_rows

    def always_split(ids, config, registry, unsafe_rows):
        return orig(ids, config, registry, {f: 1 for f in unsafe_rows})

    monkeypatch.setattr(build, "_posting_rows", always_split)
    monkeypatch.setattr(build, "_TEXT_BYTES_PER_PARTITION", 1)


@pytest.fixture(scope="module")
def mixed_docs(spark, webtext):
    """The webtext rows plus a few accented/CJK/curly-quote rows, with
    an analyzed array field (one item null in two rows)."""
    rows = [(r.url, r.text, r.lang, [r.lang, "Plain tag"])
            for r in webtext.select("url", "text", "lang").collect()]
    rows += [(f"https://mixed.example/{i}", t, "xx",
              [t.split()[0], None]) for i, t in enumerate(MIXED)]
    rows.append(("https://mixed.example/ascii-null", "plain words",
                 "xx", ["nullneighbour", None]))
    return spark.createDataFrame(
        rows, "url string, text string, lang string, tags array<string>"
    ).repartition(4)


def test_ascii_build_plans_no_python_tokenizer(spark, webtext, tmp_path,
                                               sql_plans):
    path = str(tmp_path / "ascii")
    report = build_index(spark, webtext.select("url", "text", "lang"),
                         path, IndexConfig(**CFG), jobs=2)
    assert [j["python_rows"] for j in report["jobs"]] == [0, 0]
    assert [j["postings_partitions"] for j in report["jobs"]] == [1, 1]
    plans = _postings_write_plans(sql_plans, path)
    assert len(plans) == 2
    assert not any("ArrowEvalPython" in p for p in plans)
    # the probe is live: the encoder's mapInArrow is in the same plans
    assert all("MapInArrow" in p for p in plans)


def test_mixed_script_build_keeps_python_tokenizer(spark, mixed_docs,
                                                   tmp_path, sql_plans):
    path = str(tmp_path / "mixed")
    report = build_index(spark, mixed_docs, path,
                         IndexConfig(**MIXED_CFG), jobs=1)
    job = report["jobs"][0]
    # 4 unsafe texts + their 4 unsafe first words as tags
    assert job["python_rows"] == 8
    assert job["postings_partitions"] == 1
    plans = _postings_write_plans(sql_plans, path)
    assert len(plans) == 1 and "ArrowEvalPython" in plans[0]
    from rusticsearch_spark.analysis.analyzers import AnalyzerRegistry
    terms = AnalyzerRegistry().get("standard").terms
    docs = mixed_docs.collect()
    eng = SearchEngine(spark, path)
    for field, term in [("text", "cafe"), ("text", "naive"),
                        ("text", "日"), ("text", "don't"),
                        ("tags", "cafe"), ("tags", "москва")]:
        want = sum(1 for r in docs if term in
                   {t for v in ([r[field]] if field == "text"
                                else r[field]) if v for t in terms(v)})
        assert want >= 1
        assert eng.dict_reader.lookup_one(field, term)[0] == want, term
    # a null array item leaves the row's other items indexed, on the
    # Python branch (the accented rows) and the SQL branch alike
    for mode in ("spark", "local"):
        e = SearchEngine(spark, path, mode=mode)
        assert e.count({"term": {"tags": "nullneighbour"}}) == 1
        assert e.count({"match": {"tags": "cafe 日本語"}}) == 2


@pytest.mark.parametrize("corpus", ["ascii", "mixed"])
def test_routed_build_rows_equal_split_at_cap(spark, webtext, mixed_docs,
                                              tmp_path, monkeypatch,
                                              corpus):
    """Routing and width change no artifact row: the build equals the
    always-split, cap-width plan on an all-ASCII and a mixed corpus,
    and writes no more postings/term_dict files."""
    docs, cfg = ((webtext.select("url", "text", "lang"), CFG)
                 if corpus == "ascii" else (mixed_docs, MIXED_CFG))
    routed = str(tmp_path / "routed")
    build_index(spark, docs, routed, IndexConfig(**cfg), jobs=2)
    with monkeypatch.context() as m:
        _split_at_cap(m)
        capped = str(tmp_path / "capped")
        report = build_index(spark, docs, capped, IndexConfig(**cfg),
                             jobs=2)
    assert [j["postings_partitions"] for j in report["jobs"]] == [4, 4]
    got, got_files = _tables(routed)
    want, want_files = _tables(capped)
    for t in TABLES:
        assert got[t] == want[t], t
    assert all(got_files[t] <= want_files[t] for t in got_files)


def _answers(spark, path):
    queries = [{"match": {"text": "spark query"}}, {"term": {"text": "the"}},
               {"match": {"text": {"query": "table scan",
                                   "operator": "and"}}},
               {"multi_match": {"query": "spark en",
                                "fields": ["text^2", "lang"]}},
               {"prefix": {"text": "sc"}}]
    out = {}
    for mode in ("spark", "local", "sharded"):
        eng = SearchEngine(spark, path, mode=mode)
        out[mode] = [(eng.count(q), [(r.doc_id, r.score) for r in
                                     eng.search(q, size=10).collect()])
                     for q in queries]
    return out


def test_cap_width_encoder_rows_equal_single_partition(spark, webtext,
                                                       tmp_path,
                                                       monkeypatch):
    """Multi-partition encode at the cap width, with small Arrow
    batches so the encoder's cross-batch carry runs, writes the same
    rows as the one-partition encode — through a build, one upsert
    batch and a merge — and all three serving modes agree."""
    base = webtext.select("url", "text", "lang")
    later = F.pmod(F.xxhash64("url"), F.lit(4)) == 0
    batch = base.where(later).unionByName(
        base.where(~later).limit(15).withColumn(
            "text", F.concat(F.col("text"), F.lit(" naïve upsert"))))
    paths = {}
    for name in ("one", "cap"):
        path = str(tmp_path / name)
        with monkeypatch.context() as m:
            if name == "cap":
                m.setattr(build, "_TEXT_BYTES_PER_PARTITION", 1)
                spark.conf.set(
                    "spark.sql.execution.arrow.maxRecordsPerBatch", "7")
            try:
                report = build_index(spark, base.where(~later), path,
                                     IndexConfig(**CFG), jobs=2)
                StreamingIngester(spark, path, upsert=True) \
                    .process_batch(batch, 0)
                merged = merge_jobs(spark, path, path + "_merged")
            finally:
                spark.conf.unset(
                    "spark.sql.execution.arrow.maxRecordsPerBatch")
        width = 4 if name == "cap" else 1
        assert [j["postings_partitions"] for j in report["jobs"]] \
            == [width, width]
        assert merged["postings_partitions"] == width
        paths[name] = path
    for suffix in ("", "_merged"):
        one, _ = _tables(paths["one"] + suffix)
        cap, _ = _tables(paths["cap"] + suffix)
        for t in TABLES:
            assert one[t] == cap[t], (suffix, t)
        answers = _answers(spark, paths["cap"] + suffix)
        assert answers["spark"] == answers["local"] == answers["sharded"]
        assert _answers(spark, paths["one"] + suffix) == answers
