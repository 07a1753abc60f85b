"""Structured-Streaming incremental index ingest.

The reference ingests documents one at a time into single-doc
segments that a background thread merges
(/root/reference/src/search/backends/rocksdb/mod.rs:212-226 +
src/main.rs:64-84); our analogue is micro-batch ingest: each
``foreachBatch`` invocation builds one *job* (a full mini-index:
postings, stats, docs) appended to the index directory, and
``index.merge.maintenance`` plays the merge-policy thread.

Exactly-once: the job id is a pure function of the batch id and the
lineage commit is the last write, so a replayed batch (streaming
checkpoint recovery) sees its lineage row and skips — idempotent
append, the same crash-safety contract as the batch builder.

Doc ids stay globally unique across batch + streaming jobs because
each batch gets a disjoint bucket namespace
(``STREAM_BUCKET_BASE + batch_id * n_buckets``).
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..index.build import (_posting_rows, _registry, assign_doc_ids,
                           write_job)
from ..index.layout import IndexConfig, IndexLayout

STREAM_JOB_BASE = 100_000
STREAM_BUCKET_BASE = 1_000_000


class StreamingIngester:
    def __init__(self, spark: SparkSession, index_dir: str,
                 config: Optional[IndexConfig] = None,
                 n_buckets_per_batch: int = 8,
                 dedup_keys: bool = True, upsert: bool = False):
        self.spark = spark
        self.layout = IndexLayout(index_dir)
        try:
            self.config = self.layout.read_config()
        except FileNotFoundError:
            self.config = config or IndexConfig()
            if self.config.nested_paths:
                # same parent-keyed bucketing as build_index: each
                # streamed batch's jobs are parent-complete shards
                self.config.nested_colocated = True
            self.layout.write_config(self.config)
        self.registry = _registry(self.config)
        self.n_buckets_per_batch = n_buckets_per_batch
        self.dedup_keys = dedup_keys
        self.upsert = upsert

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        job = STREAM_JOB_BASE + int(batch_id)
        if job in self.layout.completed_jobs(self.spark):
            return  # replayed batch: lineage says done → idempotent skip
        key = self.config.key_col
        batch_df = batch_df.dropDuplicates([key])
        from ..index.doc_index import resolve_keys
        if self.upsert:
            # insert_or_update semantics (rocksdb/mod.rs:212-226):
            # mark any existing doc with the same key deleted, then
            # index the incoming version under a fresh doc_id.  The
            # lookup goes through the doc_index PK sidecar — only the
            # kbucket partitions this batch's keys hash into are
            # scanned, never the whole corpus (document_index.rs
            # point-lookup analogue).  Committed jobs only — an orphan
            # dir from a crashed job must not source delete marks.
            existing = resolve_keys(self.spark, self.layout, self.config,
                                    batch_df.select(key))
            targets = (existing.select("doc_id").distinct()
                       if existing is not None else None)
            if self.config.nested_paths:
                # cascade to nested child rows: an upsert whose new
                # version has FEWER array elements would otherwise
                # leave the removed elements' child rows live (their
                # synthetic "<parent>#<path>#<pos>" keys are absent
                # from the batch, so the key-level delete above never
                # sees them).  ALL committed children of the batch's
                # parent keys die; the re-indexed batch re-creates
                # the surviving elements under fresh doc_ids.  Same
                # `_nested_parent` two-column resolution as
                # index.delete.delete_documents' cascade.
                parent_keys = batch_df
                if "_nested_parent" in batch_df.columns:
                    parent_keys = batch_df.where(
                        F.col("_nested_parent").isNull())
                docs_dirs = self.layout.committed_dirs(
                    "docs", self.spark)
                if docs_dirs:
                    docs = (self.spark.read
                            .option("basePath",
                                    self.layout.table("docs"))
                            .parquet(*docs_dirs))
                    # _nested_root reaches every descendant level in
                    # one semi-join (pre-multilevel indexes stored
                    # only _nested_parent = root at depth 1)
                    rc = ("_nested_root" if "_nested_root"
                          in docs.columns else "_nested_parent")
                    kids = (docs
                            .where(F.col("_nested_parent").isNotNull())
                            .join(parent_keys.select(
                                F.col(key).cast("string").alias(rc)),
                                rc, "left_semi")
                            .select("doc_id"))
                    targets = (kids if targets is None
                               else targets.unionByName(kids).distinct())
            if targets is not None and not targets.isEmpty():
                targets.coalesce(1).write.mode("overwrite").parquet(
                    self.layout.next_deletion_dir())
        elif self.dedup_keys:
            # first-writer-wins insert: skip keys already indexed
            # (same bucket-pruned sidecar lookup)
            existing = resolve_keys(self.spark, self.layout, self.config,
                                    batch_df.select(key))
            if existing is not None:
                batch_df = batch_df.join(existing.select(key),
                                         key, "left_anti")
        if batch_df.isEmpty():
            # nothing new: still commit the lineage row so a replay of
            # this batch id remains a no-op
            self.layout.commit_job(self.spark, {
                "job": job, "batch_id": int(batch_id), "n_docs": 0,
                "status": "done"})
            return
        base = STREAM_BUCKET_BASE + int(batch_id) * self.n_buckets_per_batch
        ids = assign_doc_ids(batch_df, key, self.n_buckets_per_batch,
                             bucket_base=base).drop("_bucket")
        write_job(self.spark, ids, self.layout, self.config, job,
                  lambda docs, unsafe: _posting_rows(
                      docs, self.config, self.registry, unsafe),
                  extra={"batch_id": int(batch_id)})


def ingest_stream(spark: SparkSession, stream_df: DataFrame,
                  index_dir: str, checkpoint_dir: str,
                  config: Optional[IndexConfig] = None,
                  n_buckets_per_batch: int = 8,
                  dedup_keys: bool = True):
    """Attach the ingester to a streaming DataFrame.  Returns the
    StreamingQuery (caller awaits/stops it)."""
    ingester = StreamingIngester(spark, index_dir, config,
                                 n_buckets_per_batch, dedup_keys)
    return (stream_df.writeStream
            .foreachBatch(ingester.process_batch)
            .option("checkpointLocation", checkpoint_dir)
            .start())
