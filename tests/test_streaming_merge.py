"""Incremental (streaming) ingest + job/segment compaction.

Property under test: a corpus ingested as N micro-batches, then
optionally compacted, returns the SAME search results (by document
key + score) as the one-shot batch build — the merge-equivalence the
reference asserts in its end-to-end test
(/root/reference/src/search/backends/rocksdb/mod.rs:420-582)."""

import glob
import os

import pytest
from pyspark.sql import functions as F

from rusticsearch_spark.index.layout import IndexConfig, IndexLayout
from rusticsearch_spark.index.merge import maintenance, merge_jobs
from rusticsearch_spark.query.engine import SearchEngine
from rusticsearch_spark.streaming.ingest import (StreamingIngester,
                                                 ingest_stream)
# the 3-job nested-TYPE index fixture, shared with its own suite
from test_nested_mapping import nested_multijob_index  # noqa: F401

CFG = dict(key_col="url", fields={"text": "standard", "lang": None},
           n_buckets=4, tbuckets=2, shuffle_partitions=4)

QUERY = {"match": {"text": "spark query"}}


def _results_by_url(spark, index_dir, size=1000):
    eng = SearchEngine(spark, index_dir)
    top = eng.search(QUERY, size=size)
    joined = top.join(eng.docs.select("doc_id", "url"), "doc_id")
    return {(r.url, round(r.score, 5)) for r in joined.collect()}


@pytest.fixture(scope="module")
def stream_index(spark, webtext, tmp_path_factory):
    """Ingest the corpus as 3 file-stream micro-batches."""
    root = tmp_path_factory.mktemp("stream")
    src = str(root / "src")
    os.makedirs(src)
    parts = webtext.select("url", "text", "lang").randomSplit(
        [1.0, 1.0, 1.0], seed=7)
    for i, p in enumerate(parts):
        p.coalesce(1).write.parquet(f"{src}/chunk{i}")
    # one flat dir of parquet files, fed one file per trigger
    flat = str(root / "flat")
    os.makedirs(flat)
    for i, f in enumerate(sorted(glob.glob(f"{src}/chunk*/part-*.parquet"))):
        os.link(f, f"{flat}/{i}.parquet")
    schema = webtext.select("url", "text", "lang").schema
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(flat))
    index_dir = str(root / "idx")
    q = ingest_stream(spark, stream, index_dir,
                      checkpoint_dir=str(root / "ckpt"),
                      config=IndexConfig(**CFG))
    q.processAllAvailable()
    q.stop()
    return index_dir


def test_stream_creates_one_job_per_batch(spark, stream_index):
    jobs = IndexLayout(stream_index).completed_jobs(spark)
    assert len(jobs) == 3
    assert all(j >= 100_000 for j in jobs)


def test_stream_results_equal_batch_build(spark, stream_index, index_dir):
    assert _results_by_url(spark, stream_index) == \
        _results_by_url(spark, index_dir)


def test_stream_doc_count(spark, stream_index, webtext):
    eng = SearchEngine(spark, stream_index)
    assert eng.count() == webtext.count()


def test_replayed_batch_is_idempotent(spark, stream_index, webtext):
    ing = StreamingIngester(spark, stream_index)
    before = SearchEngine(spark, stream_index).count()
    # re-deliver batch 0 (simulates checkpoint recovery replay)
    ing.process_batch(webtext.select("url", "text", "lang").limit(50), 0)
    assert SearchEngine(spark, stream_index).count() == before


def test_dedup_keys_skips_existing(spark, stream_index, webtext):
    ing = StreamingIngester(spark, stream_index)
    before = SearchEngine(spark, stream_index).count()
    # new batch made entirely of already-indexed urls → nothing added
    ing.process_batch(webtext.select("url", "text", "lang").limit(80), 99)
    assert SearchEngine(spark, stream_index).count() == before


def test_merge_jobs_preserves_results(spark, stream_index, tmp_path):
    out = str(tmp_path / "merged")
    row = merge_jobs(spark, stream_index, out)
    assert row["status"] == "done"
    assert IndexLayout(out).completed_jobs(spark) == [0]
    assert _results_by_url(spark, out) == _results_by_url(spark,
                                                          stream_index)


def test_maintenance_compacts_and_swaps(spark, stream_index, tmp_path):
    import shutil
    work = str(tmp_path / "work_idx")
    shutil.copytree(stream_index, work)
    before = _results_by_url(spark, work)
    # 3 same-tier jobs < min_candidates=4 → policy declines
    assert maintenance(spark, work, min_candidates=4) is None
    retired = maintenance(spark, work, max_jobs=2)        # 3 jobs > 2
    assert retired is not None
    assert IndexLayout(work).completed_jobs(spark) == [0]
    assert _results_by_url(spark, work) == before


def test_maintenance_size_tiered_partial_merge(spark, stream_index,
                                               webtext, tmp_path):
    """The reference's size-tiered policy (maintenance.rs:14-54): the
    fullest tier merges when ≥3 candidates; jobs in other tiers stay
    untouched."""
    import shutil

    from rusticsearch_spark.streaming.ingest import StreamingIngester
    work = str(tmp_path / "tier_idx")
    shutil.copytree(stream_index, work)
    # add a tiny job in the 1-9 tier: stays out of the merge
    extra = (webtext.select("url", "text", "lang").limit(5)
             .withColumn("url", F.concat(F.lit("x://t/"), F.col("url"))))
    StreamingIngester(spark, work).process_batch(extra, 50)
    layout = IndexLayout(work)
    jobs_before = layout.completed_jobs(spark)
    before_count = SearchEngine(spark, work).count()
    before = _results_by_url(spark, work)

    assert maintenance(spark, work) is not None
    jobs_after = layout.completed_jobs(spark)
    # the three same-tier stream jobs merged into one; the tiny job
    # (and any empty-batch lineage rows) survive untouched
    assert len(jobs_after) == len(jobs_before) - 3 + 1
    assert SearchEngine(spark, work).count() == before_count
    assert _results_by_url(spark, work) == before


def test_select_merge_candidates_policy():
    from rusticsearch_spark.index.merge import select_merge_candidates
    # fullest tier wins; largest-first fill; budget respected
    sizes = {1: 5, 2: 7, 3: 3, 4: 500, 5: 600}
    assert select_merge_candidates(sizes) == [1, 2, 3]
    assert select_merge_candidates({1: 5, 2: 7}) == []      # < 3
    assert select_merge_candidates({}) == []
    # budget: huge jobs can't all fit in one 65,536-doc merge
    big = {i: 30_000 for i in range(4)}
    chosen = select_merge_candidates(big)
    assert len(chosen) == 0 or sum(big[j] for j in chosen) <= 65_536 \
        or len(chosen) == 1


def test_partial_merge_job_id_not_reused_and_crash_invisible(
        spark, stream_index, webtext, tmp_path):
    """Two hardening rules of the visibility protocol:

    * new partial-merge job ids come from ALL lineage rows, so a
      zero-doc streaming batch holding the max id is never clobbered;
    * job data with NO committed lineage row (crashed writer) is
      invisible to readers (SearchEngine + LocalSearcher resolve dirs
      via committed lineage, not job=* glob).
    """
    import shutil

    from rusticsearch_spark.query.local import LocalSearcher
    from rusticsearch_spark.streaming.ingest import StreamingIngester
    work = str(tmp_path / "guard_idx")
    shutil.copytree(stream_index, work)
    layout = IndexLayout(work)
    # a tiny job in another tier keeps the merge PARTIAL
    extra = (webtext.select("url", "text", "lang").limit(5)
             .withColumn("url", F.concat(F.lit("x://g/"), F.col("url"))))
    StreamingIngester(spark, work).process_batch(extra, 98)
    # zero-doc batch: lineage row exists with the max job id, no data
    empty = webtext.select("url", "text", "lang").limit(0)
    StreamingIngester(spark, work).process_batch(empty, 99)
    jobs = layout.completed_jobs(spark)
    zero_job = max(jobs)
    before = _results_by_url(spark, work)

    new_job = maintenance(spark, work)
    assert isinstance(new_job, int) and new_job > zero_job
    assert zero_job in layout.completed_jobs(spark)   # not clobbered
    assert _results_by_url(spark, work) == before

    # crashed job: data dir present, no lineage row → invisible
    n_before = SearchEngine(spark, work).count()
    src_docs = layout.job_dir("docs", new_job)
    shutil.copytree(src_docs, layout.job_dir("docs", new_job + 7))
    shutil.copytree(layout.job_dir("postings", new_job),
                    layout.job_dir("postings", new_job + 7))
    assert SearchEngine(spark, work).count() == n_before
    assert LocalSearcher(work).count() == n_before


# --- exact merge content ------------------------------------------------


def _decoded_postings(layout, jobs):
    """Every posting of ``jobs`` decoded block by block with the
    reference codec: ``(postings Counter, block keys list)`` where a
    posting is ``(field, term, doc_id, tf, len_byte)`` and a block key
    is ``(field, term, segment)``."""
    from collections import Counter

    import pyarrow.parquet as pq

    from rusticsearch_spark.index.codec import decode_block
    postings, blocks = Counter(), []
    for j in jobs:
        t = pq.read_table(layout.job_dir("postings", j),
                          columns=["field", "term", "segment", "doc_bytes",
                                   "tf_bytes", "len_bytes"])
        for r in t.to_pylist():
            blocks.append((r["field"], r["term"], r["segment"]))
            ids, tfs, lens = decode_block(r["segment"], r["doc_bytes"],
                                          r["tf_bytes"], r["len_bytes"])
            postings.update((r["field"], r["term"], int(d), int(tf), int(lb))
                            for d, tf, lb in zip(ids, tfs, lens))
    return postings, blocks


def _assert_merge_exact(spark, src, out):
    """The merged job holds exactly the surviving source content:
    postings, term_dict, field_stats, lineage counts and docs."""
    from collections import Counter, defaultdict
    from operator import itemgetter

    import pyarrow.parquet as pq

    from rusticsearch_spark.index.codec import SEGMENT_BITS
    from rusticsearch_spark.index.delete import load_deletions
    src_l, out_l = IndexLayout(src), IndexLayout(out)
    cfg = src_l.read_config()
    jobs = [j for j in src_l.completed_jobs(spark)
            if os.path.isdir(src_l.job_dir("docs", j))]
    dels = load_deletions(spark, src_l)
    deleted = ({r.doc_id for r in dels.collect()} if dels is not None
               else set())

    want, _ = _decoded_postings(src_l, jobs)
    want = Counter({p: n for p, n in want.items() if p[2] not in deleted})
    got, blocks = _decoded_postings(out_l, [0])
    assert got == want
    assert len(blocks) == len(set(blocks))     # one block per key
    assert set(blocks) == {(f, t, d >> SEGMENT_BITS)
                           for f, t, d, _, _ in want}

    agg = defaultdict(lambda: [set(), 0])
    for (f, t, d, tf, _), n in got.items():
        agg[(f, t)][0].add(d)
        agg[(f, t)][1] += tf * n
    n_blocks = Counter((f, t) for f, t, _ in blocks)
    td = pq.read_table(out_l.job_dir("term_dict", 0),
                       columns=["field", "term", "df", "n_blocks",
                                "sum_tf"]).to_pylist()
    assert sorted((r["field"], r["term"], r["df"], r["n_blocks"],
                   r["sum_tf"]) for r in td) == sorted(
        (f, t, len(ds), n_blocks[(f, t)], s)
        for (f, t), (ds, s) in agg.items())

    docs = [r for j in jobs
            for r in pq.read_table(src_l.job_dir("docs", j)).to_pylist()
            if r["doc_id"] not in deleted]
    merged_docs = pq.read_table(out_l.job_dir("docs", 0)).to_pylist()
    assert sorted(merged_docs, key=itemgetter("doc_id")) == \
        sorted(docs, key=itemgetter("doc_id"))
    fs = {r["field"]: (r["total_docs"], r["total_tokens"]) for r in
          pq.read_table(out_l.job_dir("field_stats", 0)).to_pylist()}
    toks = Counter()
    for (f, _, _, tf, _), n in got.items():
        toks[f] += tf * n
    assert fs == {f: (sum(r[f] is not None for r in docs), toks[f])
                  for f in cfg.fields}
    row = out_l.lineage(spark).where("status = 'done'").collect()
    assert len(row) == 1
    assert row[0].n_docs == len(docs)
    assert row[0].n_posting_blocks == len(blocks)


def test_merge_preserves_content_exactly(spark, stream_index, tmp_path):
    """Decoded postings, term_dict, field_stats, lineage counts and
    docs of a merge equal the surviving source content exactly —
    with deleted docs removed physically."""
    import shutil

    from rusticsearch_spark.index.delete import delete_documents
    work = str(tmp_path / "exact_idx")
    shutil.copytree(stream_index, work)
    victims = [h["key"] for h in
               SearchEngine(spark, work).hits(QUERY, size=3)]
    assert delete_documents(spark, work, keys=victims) == 3
    out = str(tmp_path / "exact_out")
    merge_jobs(spark, work, out)
    _assert_merge_exact(spark, work, out)


def test_merge_nested_index_preserves_content_and_queries(
        spark, nested_multijob_index, tmp_path):
    """A nested-TYPE index merges to the same content, and its nested
    queries (inner_hits included) answer identically after the
    merge."""
    from test_nested_mapping import NESTED_QUERY_BATTERY

    from rusticsearch_spark.query.local import LocalSearcher
    out = str(tmp_path / "nested_merged")
    merge_jobs(spark, nested_multijob_index, out)
    _assert_merge_exact(spark, nested_multijob_index, out)
    inner = {"nested": {"path": "comments",
                        "query": {"term": {"comments.author": "alice"}},
                        "inner_hits": {"size": 5}}}
    before = SearchEngine(spark, nested_multijob_index, mode="spark")
    after = SearchEngine(spark, out, mode="spark")
    local = LocalSearcher(out)
    for q in NESTED_QUERY_BATTERY:
        want = [(r.doc_id, r.score) for r in
                before.search(q, size=30).collect()]
        assert [(r.doc_id, r.score) for r in
                after.search(q, size=30).collect()] == want, q
        assert [d for d, _ in local.search(q, size=30)] == \
            [d for d, _ in want], q
    hits = before.hits(inner, size=30)
    assert hits and all(h["inner_hits"]["comments"] for h in hits)
    assert after.hits(inner, size=30) == hits


def test_legacy_block_max_columns_open_ingest_merge(spark, webtext,
                                                    tmp_path):
    """Older jobs whose postings still carry the block-max columns
    (max_tf, min_len) next to jobs written without them: the mixed
    index opens, ingests, merges and answers in spark, local and
    sharded mode exactly like the same index without the legacy
    columns — every postings reader selects its columns by name."""
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    from rusticsearch_spark.index.build import build_index
    from rusticsearch_spark.index.codec import decode_block
    base = webtext.select("url", "text", "lang")
    later = F.pmod(F.xxhash64("url"), F.lit(4)) == 0
    current = str(tmp_path / "current")
    legacy = str(tmp_path / "legacy")
    build_index(spark, base.where(~later), current, IndexConfig(**CFG),
                jobs=2)
    shutil.copytree(current, legacy)
    files = glob.glob(f"{legacy}/postings/job=0/**/*.parquet",
                      recursive=True)
    assert files
    for f in files:
        t = pq.ParquetFile(f).read()
        max_tf, min_len = [], []
        for seg, d, tf, ln in zip(*[t.column(c).to_pylist() for c in
                                    ("segment", "doc_bytes", "tf_bytes",
                                     "len_bytes")]):
            _, tfs, lens = decode_block(seg, d, tf, ln)
            max_tf.append(int(tfs.max()))
            min_len.append(int(lens.min()))
        at = t.schema.get_field_index("sum_tf") + 1
        t = (t.add_column(at, "max_tf", pa.array(max_tf, pa.int32()))
             .add_column(at + 1, "min_len", pa.array(min_len, pa.int32())))
        pq.write_table(t, f)
        crc = os.path.join(os.path.dirname(f),
                           f".{os.path.basename(f)}.crc")
        if os.path.exists(crc):
            os.remove(crc)       # stale checksum of the rewritten file
    for d in (current, legacy):
        StreamingIngester(spark, d).process_batch(base.where(later), 0)
        merge_jobs(spark, d, d + "_merged")
    queries = [QUERY, {"term": {"text": "the"}},
               {"match": {"text": {"query": "table scan",
                                   "operator": "and"}}},
               {"multi_match": {"query": "spark en",
                                "fields": ["text^2", "lang"]}},
               {"prefix": {"text": "sc"}}]

    def answers(d):
        out = []
        for mode in ("spark", "local", "sharded"):
            eng = SearchEngine(spark, d, mode=mode)
            for q in queries:
                out.append((mode, eng.count(q), [
                    (r.doc_id, r.score)
                    for r in eng.search(q, size=10).collect()]))
        return out

    assert "max_tf" in pq.ParquetFile(files[0]).schema_arrow.names
    assert len(IndexLayout(legacy).completed_jobs(spark)) == 3
    assert answers(legacy) == answers(current)
    assert answers(legacy + "_merged") == answers(current + "_merged")
