"""doc_index PK sidecar: bucket-pruned point lookups for upsert and
delete (the reference's k<doc_key> document index,
document_index.rs:16-91 / key_builder.rs:118-134)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F


def _cfg(kbuckets=8):
    from rusticsearch_spark.index.layout import IndexConfig
    return IndexConfig(key_col="url",
                       fields={"text": "standard", "lang": None},
                       n_buckets=4, tbuckets=2, shuffle_partitions=4,
                       kbuckets=kbuckets)


def _path(uri):
    from urllib.parse import urlparse
    return urlparse(uri).path


def _files_under(root):
    out = []
    for d, _, fs in os.walk(root):
        out += [os.path.join(d, f) for f in fs if f.endswith(".parquet")]
    return out


def test_build_writes_doc_index_and_resolve_matches_docs(
        spark, webtext, tmp_path):
    from rusticsearch_spark.index.build import build_index
    from rusticsearch_spark.index.doc_index import resolve_keys
    from rusticsearch_spark.index.layout import IndexLayout
    path = str(tmp_path / "di_idx")
    build_index(spark, webtext.limit(60), path, _cfg(), jobs=2)
    layout = IndexLayout(path)
    cfg = layout.read_config()
    # sidecar exists for every committed docs job
    for j in layout.completed_jobs(spark):
        assert os.path.isdir(layout.job_dir("doc_index", j))
    # resolve agrees with the ground-truth docs table for every key
    docs = spark.read.option("basePath", layout.table("docs")).parquet(
        *layout.committed_dirs("docs", spark))
    want = {(r.url, r.doc_id) for r in docs.select("url", "doc_id")
            .collect()}
    got = {(r.url, r.doc_id) for r in resolve_keys(
        spark, layout, cfg, docs.select("url")).collect()}
    assert got == want


def test_resolve_keys_prunes_kbucket_partitions(spark, webtext, tmp_path):
    """A single-key lookup must read only its kbucket partition — the
    scanned file set is a strict subset of the sidecar's files."""
    from rusticsearch_spark.index.build import build_index
    from rusticsearch_spark.index.doc_index import resolve_keys
    from rusticsearch_spark.index.layout import IndexLayout
    path = str(tmp_path / "di_prune")
    build_index(spark, webtext.limit(60), path, _cfg(kbuckets=8), jobs=1)
    layout = IndexLayout(path)
    cfg = layout.read_config()
    victim = webtext.select("url").first().url
    # the kbucket filter resolve_keys applies must prune the scan to a
    # strict subset of the sidecar's files (input_file_name is read on
    # the scan itself — post-join provenance is empty by design)
    from rusticsearch_spark.index.doc_index import key_bucket_col
    b = (spark.createDataFrame([(victim,)], "url string")
         .select(key_bucket_col(F.col("url"), cfg.kbuckets).alias("b"))
         .collect()[0].b)
    idx_dirs = layout.committed_dirs("doc_index", spark)
    scan = (spark.read.option("basePath", layout.table("doc_index"))
            .parquet(*idx_dirs).where(F.col("kbucket") == b))
    read_files = {_path(r.f) for r in scan
                  .select(F.input_file_name().alias("f")).distinct()
                  .collect()}
    all_files = set(_files_under(layout.table("doc_index")))
    assert len(all_files) > 1          # multiple kbucket partitions
    assert read_files                  # the bucket holds rows
    assert read_files < all_files      # strict subset: pruning engaged
    resolved = resolve_keys(
        spark, layout, cfg,
        spark.createDataFrame([(victim,)], "url string"))
    rows = resolved.collect()
    assert len(rows) == 1 and rows[0].url == victim


def test_streaming_upsert_scans_only_matching_buckets(
        spark, webtext, tmp_path):
    """The upsert delete-mark lookup goes through the sidecar: its
    plan prunes kbucket partitions instead of scanning all docs."""
    from rusticsearch_spark.index.doc_index import resolve_keys
    from rusticsearch_spark.index.layout import IndexLayout
    from rusticsearch_spark.query.engine import SearchEngine
    from rusticsearch_spark.streaming.ingest import StreamingIngester
    path = str(tmp_path / "di_ups")
    docs = webtext.select("url", "text", "lang").limit(40)
    ing = StreamingIngester(spark, path, _cfg(kbuckets=8), upsert=True)
    ing.process_batch(docs, 0)
    victim = docs.first()
    updated = spark.createDataFrame(
        [(victim.url, "sidecar pruned upsert quokka", "en")],
        "url string, text string, lang string")
    ing.process_batch(updated, 1)
    eng = SearchEngine(spark, path)
    assert eng.count() == 40            # replaced, not duplicated
    hits = eng.hits({"term": {"text": "quokka"}}, size=5)
    assert [h["key"] for h in hits] == [victim.url]
    # the sidecar-backed lookup the ingester used reads a strict
    # subset of the sidecar partitions (checked at the scan, where
    # file provenance survives)
    layout = IndexLayout(path)
    cfg = layout.read_config()
    from rusticsearch_spark.index.doc_index import key_bucket_col
    b = (spark.createDataFrame([(victim.url,)], "url string")
         .select(key_bucket_col(F.col("url"), cfg.kbuckets).alias("b"))
         .collect()[0].b)
    idx_dirs = layout.committed_dirs("doc_index", spark)
    scan = (spark.read.option("basePath", layout.table("doc_index"))
            .parquet(*idx_dirs).where(F.col("kbucket") == b))
    read_files = {_path(r.f) for r in scan
                  .select(F.input_file_name().alias("f")).distinct()
                  .collect()}
    all_files = set(_files_under(layout.table("doc_index")))
    assert read_files and read_files < set(all_files)
    # and resolve_keys itself returns both live generations of the key
    resolved = resolve_keys(
        spark, layout, cfg,
        spark.createDataFrame([(victim.url,)], "url string"))
    assert resolved.count() == 2        # original + upserted doc rows


def test_legacy_index_without_sidecar_falls_back(spark, webtext, tmp_path):
    """An index whose jobs predate the sidecar must still resolve keys
    (full docs scan fallback) — correctness never depends on it."""
    import shutil
    from rusticsearch_spark.index.build import build_index
    from rusticsearch_spark.index.doc_index import resolve_keys
    from rusticsearch_spark.index.layout import IndexLayout
    path = str(tmp_path / "di_legacy")
    build_index(spark, webtext.limit(30), path, _cfg(), jobs=1)
    layout = IndexLayout(path)
    cfg = layout.read_config()
    for j in layout.completed_jobs(spark):
        shutil.rmtree(layout.job_dir("doc_index", j))
    victim = webtext.select("url").first().url
    rows = resolve_keys(
        spark, layout, cfg,
        spark.createDataFrame([(victim,)], "url string")).collect()
    assert len(rows) == 1 and rows[0].url == victim


def test_delete_by_key_uses_sidecar(spark, webtext, tmp_path):
    from rusticsearch_spark.index.build import build_index
    from rusticsearch_spark.index.delete import delete_documents
    from rusticsearch_spark.query.engine import SearchEngine
    path = str(tmp_path / "di_del")
    build_index(spark, webtext.limit(30), path, _cfg(), jobs=1)
    victim = webtext.select("url").first().url
    assert delete_documents(spark, path, keys=[victim]) == 1
    eng = SearchEngine(spark, path)
    assert eng.count() == 29
    # deleting again is a no-op (document_index.rs:96-110)
    assert delete_documents(spark, path, keys=[victim]) == 0


def test_merge_preserves_sidecar(spark, webtext, tmp_path):
    from rusticsearch_spark.index.build import build_index
    from rusticsearch_spark.index.doc_index import resolve_keys
    from rusticsearch_spark.index.layout import IndexLayout
    from rusticsearch_spark.index.merge import merge_jobs
    path = str(tmp_path / "di_mrg")
    out = str(tmp_path / "di_mrg_out")
    build_index(spark, webtext.limit(40), path, _cfg(), jobs=2)
    merge_jobs(spark, path, out)
    layout = IndexLayout(out)
    cfg = layout.read_config()
    assert os.path.isdir(layout.job_dir("doc_index", 0))
    docs = spark.read.parquet(layout.job_dir("docs", 0))
    want = {(r.url, r.doc_id) for r in docs.select("url", "doc_id")
            .collect()}
    got = {(r.url, r.doc_id) for r in resolve_keys(
        spark, layout, cfg, docs.select("url")).collect()}
    assert got == want


def test_xxhash64_parity(spark):
    """Driver-side XXH64 must agree bit-for-bit with Spark's
    xxhash64 over strings — every length class (empty, <4, <8, <32,
    >=32 incl. multi-stripe) plus non-ASCII."""
    import random
    import string as _string

    from pyspark.sql import functions as F

    from rusticsearch_spark.index.doc_index import xxhash64_str
    rng = random.Random(7)
    cases = ["", "a", "abc", "abcd", "abcdefg", "abcdefgh",
             "x" * 31, "y" * 32, "z" * 100,
             "héllo wörld ünïcode ✓ 東京",
             "https://src7.example.org/r0/doc/27"]
    cases += ["".join(rng.choices(_string.printable, k=rng.randint(0, 200)))
              for _ in range(40)]
    df = spark.createDataFrame([(c,) for c in cases], "s string") \
        .select("s", F.xxhash64("s").alias("h"))
    for r in df.collect():
        assert xxhash64_str(r.s) == r.h, r.s


def test_get_document_zero_spark_jobs(spark, webtext, tmp_path):
    """GET through the Cluster serves from the doc_index sidecar with
    ZERO Spark jobs, and returns exactly what the Spark scan path
    returns (VERDICT r6 #5 / document_index.rs:71-91)."""
    from pyspark.sql import functions as F

    from rusticsearch_spark.cluster import Cluster
    c = Cluster(spark, str(tmp_path / "getdoc_cluster"))
    c.create_index("pages", {"properties": {
        "text": {"type": "string"},
        "lang": {"type": "string", "index": "not_analyzed"}}},
        key_col="url")
    c.bulk("pages", webtext.limit(40).select("url", "text", "lang"),
           key_col="url", n_buckets=4, tbuckets=2, shuffle_partitions=4)
    eng = c.engine("pages")
    keys = [r.url for r in
            webtext.limit(40).select("url").collect()][:5]
    # ground truth via the Spark scan path
    want = {}
    for k in keys:
        rows = eng.docs.where(F.col("url") == k).limit(1).collect()
        want[k] = rows[0].asDict() if rows else None
    tracker = spark.sparkContext.statusTracker()
    group = "getdoc_zero_jobs"
    spark.sparkContext.setJobGroup(group, "get_document")
    before = set(tracker.getJobIdsForGroup(group))
    got = {k: c.get_document("pages", k) for k in keys}
    missing = c.get_document("pages", "https://missing.example.org/x")
    after = set(tracker.getJobIdsForGroup(group))
    spark.sparkContext.setJobGroup(None, None)
    assert after == before, "get_document launched a Spark job"
    assert missing is None
    assert got == want


def test_get_document_nonstring_key_absent_string_bucket(spark, tmp_path):
    """A GET on an integer-keyed index must find the document even
    when the bucket its STRING spelling hashes to exists in no job:
    the driver path cannot hash native-typed keys, so it has to hand
    the lookup to the Spark scan instead of reporting "no such
    document"."""
    from rusticsearch_spark.cluster import Cluster
    from rusticsearch_spark.index.doc_index import xxhash64_str
    from rusticsearch_spark.index.layout import IndexLayout
    c = Cluster(spark, str(tmp_path / "intkey_get"))
    # the key stays an unmapped long column (a mapped "integer" field
    # would be canonicalized to its string spelling)
    c.create_index("p", {"properties": {"text": {"type": "string"}}},
                   key_col="pk")
    rows = [(pk, f"doc number {pk}") for pk in (3, 17, 40, 123)]
    c.bulk("p", spark.createDataFrame(rows, "pk long, text string"),
           key_col="pk", n_buckets=4, tbuckets=2, shuffle_partitions=4)
    layout = IndexLayout(c._dir("p"))
    kb = layout.read_config().kbuckets
    present = set()
    for j in layout.completed_jobs_local():
        root = layout.job_dir("doc_index", j)
        present |= {int(d.split("=", 1)[1]) for d in os.listdir(root)
                    if d.startswith("kbucket=")}
    absent = [pk for pk, _ in rows
              if xxhash64_str(str(pk)) % kb not in present]
    assert absent, "fixture needs a key whose string bucket is absent"
    pk = absent[0]
    for probe in (str(pk), pk):
        doc = c.get_document("p", probe)
        assert doc is not None and doc["pk"] == pk, probe
    assert c.get_document("p", "999999") is None


def test_get_document_driver_matches_spark_when_job_adds_column(
        spark, webtext, tmp_path):
    """A later job stores a column the first job's docs files lack.
    The zero-job driver GET returns the columns of the union read the
    Spark path returns (None where a job's file lacks one), so both
    GET paths give equal dicts for documents of either job."""
    from rusticsearch_spark.cluster import Cluster
    from rusticsearch_spark.index.build import build_index
    from rusticsearch_spark.index.layout import IndexLayout
    from rusticsearch_spark.streaming.ingest import StreamingIngester
    c = Cluster(spark, str(tmp_path / "addcol_cluster"))
    c.create_index("pages", {"properties": {
        "text": {"type": "string"},
        "lang": {"type": "string", "index": "not_analyzed"}}},
        key_col="url")
    path = c._dir("pages")
    base = webtext.limit(40).select("url", "text", "lang")
    odd = F.pmod(F.xxhash64("url"), F.lit(2)) == 1
    first, later = base.where(~odd), base.where(odd)
    build_index(spark, first, path, _cfg())
    layout = IndexLayout(path)
    cfg = layout.read_config()
    cfg.stored = cfg.stored + ["note"]
    layout.write_config(cfg)
    StreamingIngester(spark, path).process_batch(
        later.withColumn("note", F.concat(F.lit("n:"), F.col("lang"))), 0)
    eng = c.engine("pages")
    assert len(eng._jobs) == 2
    for part in (first, later):
        key = part.select("url").first().url
        rows = eng.docs.where(F.col("url") == key).limit(1).collect()
        want = rows[0].asDict()
        assert Cluster._get_document_driver(eng, key) == want, key
        assert c.get_document("pages", key) == want, key
