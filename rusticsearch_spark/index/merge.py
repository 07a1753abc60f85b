"""Job/segment compaction — the reference's segment merge
(/root/reference/src/search/backends/rocksdb/segment_ops.rs:36-289)
re-expressed over the build's own segment-write path.

Incremental ingest leaves one job directory per batch (the analogue of
the reference's many small segments); ``merge_jobs`` rewrites N job
directories into one, preserving the logical index exactly — doc_ids
are never remapped (they are already globally unique and dense per
bucket), so unlike the reference's merge (which repacks u16 local id
spaces, segment_ops.rs:240-268) ours is a pure re-grouping of the
stored postings:

    decode blocks (one mapInArrow) → build.write_job

Like the reference, which re-groups postings through the same
segment builder, the merge writes through the build's
``write_job``: the same docs/doc_index/postings/term_dict/field_stats
writes, the same single postings shuffle and encoder, the same
``observe()`` statistics.  It never re-analyzes text, so it does not
depend on the analyzer.  Two-phase like the reference
(segment_ops.rs:216-235): all data tables are written into the target
first, the lineage commit row last.

``maintenance`` is the merge-policy loop (src/index/maintenance.rs:7-82
analogue): compact when the job count exceeds a threshold.
"""

from __future__ import annotations

import os
import shutil
import time
from typing import Dict, List, Optional

import numpy as np
from pyspark.sql import SparkSession

from .build import write_job
from .codec import batch_decode
from .layout import IndexLayout

_ROWS_DDL = ("field_ord int, term string, doc_id long, len_byte int, "
             "tf int")


def _decode_postings(field_names: List[str]):
    """mapInArrow body: posting blocks → one pre-counted
    ``(field_ord, term, doc_id, len_byte, tf)`` row per posting — the
    rows ``write_job`` encodes.  Every block of a batch decodes in one
    numpy pass (codec.batch_decode); field names map to their ordinal
    in ``config.fields``."""
    import pyarrow as pa
    import pyarrow.compute as pc

    names = pa.array(field_names, type=pa.string())

    def _run(batches):
        for rb in batches:
            if rb.num_rows == 0:
                continue
            doc_ids, tfs, lens, counts = batch_decode(rb)
            ords = pc.index_in(rb.column("field"), value_set=names)
            if ords.null_count:
                raise ValueError("posting field not in config.fields")
            take = pa.array(np.repeat(np.arange(rb.num_rows), counts))
            yield pa.RecordBatch.from_arrays([
                ords.take(take),
                rb.column("term").take(take),
                pa.array(doc_ids, type=pa.int64()),
                pa.array(lens.astype(np.int32)),
                pa.array(tfs.astype(np.int32)),
            ], names=["field_ord", "term", "doc_id", "len_byte", "tf"])

    return _run


def merge_jobs(spark: SparkSession, index_dir: str, out_dir: str,
               jobs: Optional[List[int]] = None) -> dict:
    """Compact ``jobs`` (default: all committed) of ``index_dir`` into
    single-job ``out_dir``.  Logical index content is preserved;
    deleted docs vanish and statistics are recomputed from the
    survivors (segment_ops.rs:157-206 semantics)."""
    layout = IndexLayout(index_dir)
    config = layout.read_config()
    all_jobs = layout.completed_jobs(spark)
    jobs = sorted(jobs) if jobs is not None else all_jobs
    # empty-batch jobs commit lineage only — nothing to merge
    jobs = [j for j in jobs if os.path.isdir(layout.job_dir("docs", j))]
    out = IndexLayout(out_dir)
    shutil.rmtree(out_dir, ignore_errors=True)
    out.write_config(config)

    from .delete import load_deletions
    deletions = load_deletions(spark, layout)

    docs = spark.read.option("basePath", layout.table("docs")).parquet(
        *[layout.job_dir("docs", j) for j in jobs]).drop("job")
    rows = (spark.read.option("basePath", layout.table("postings"))
            .parquet(*[layout.job_dir("postings", j) for j in jobs])
            .select("field", "term", "segment", "doc_bytes", "tf_bytes",
                    "len_bytes")
            .mapInArrow(_decode_postings(list(config.fields)), _ROWS_DDL))
    if deletions is not None:
        docs = docs.join(deletions, "doc_id", "left_anti")
        rows = rows.join(deletions, "doc_id", "left_anti")
    return write_job(spark, docs, out, config, 0, lambda _docs, _unsafe: rows,
                     extra={"merged_from": ",".join(str(j) for j in jobs)})


# the reference's size tiers (src/index/maintenance.rs:14-54):
# segments grouped by doc count; the fullest tier merges when it has
# ≥ 3 candidates.  Our "segment" is a job directory.
_TIERS = [(1, 9), (10, 99), (100, 999), (1000, 9999), (10_000, 65_536)]


def select_merge_candidates(job_sizes: Dict[int, int],
                            min_candidates: int = 3,
                            budget: int = 65_536) -> List[int]:
    """Size-tiered merge selection, mirroring maintenance.rs:7-82:

    * bucket jobs into doc-count tiers;
    * pick the tier with the most members if it has ≥ min_candidates;
    * fill the merge set largest-first up to the doc budget.

    Returns the job ids to merge ([] = nothing to do).
    """
    tiers: Dict[int, List[int]] = {}
    for job, n in job_sizes.items():
        for i, (lo, hi) in enumerate(_TIERS):
            if lo <= n <= hi:
                tiers.setdefault(i, []).append(job)
                break
    if not tiers:
        return []
    best = max(tiers.values(), key=len)
    if len(best) < min_candidates:
        return []
    chosen: List[int] = []
    total = 0
    for job in sorted(best, key=lambda j: -job_sizes[j]):
        if total + job_sizes[job] > budget and chosen:
            continue
        chosen.append(job)
        total += job_sizes[job]
    return sorted(chosen) if len(chosen) >= min_candidates else []


def maintenance(spark: SparkSession, index_dir: str,
                max_jobs: Optional[int] = None,
                min_candidates: int = 3):
    """Merge-policy loop body (the reference's 1 Hz maintenance
    thread, src/main.rs:64-84): apply the size-tiered policy to the
    accumulated job directories; if a merge is due, compact the
    selected jobs into a new generation and atomically swap via
    rename.  ``max_jobs`` forces a full compaction when the job count
    exceeds it regardless of tiering.  Returns the retired generation
    path (full compaction), the new job id (partial merge), or None
    if nothing merged."""
    layout = IndexLayout(index_dir)
    lineage = layout.lineage(spark)
    if lineage is None:
        return None
    done_rows = lineage.where("status = 'done'") \
        .select("job", "n_docs").collect()
    sizes = {r.job: int(r.n_docs) for r in done_rows if r.n_docs}
    if max_jobs is not None and len(sizes) > max_jobs:
        selected = sorted(sizes)
    else:
        selected = select_merge_candidates(sizes, min_candidates)
    if not selected or len(selected) < 2:
        return None
    gen_tmp = index_dir.rstrip("/") + ".compact_tmp"
    retired = index_dir.rstrip("/") + f".gen{int(time.time())}"
    if set(selected) == set(sizes):
        merge_jobs(spark, index_dir, gen_tmp)
        os.rename(index_dir, retired)
        os.rename(gen_tmp, index_dir)
        return retired
    # partial merge: compact the selected jobs into one new job dir
    # inside the SAME index.  The id must be fresh across ALL lineage
    # rows — `sizes` drops zero-doc jobs (empty streaming batches),
    # whose ids are nonetheless taken.
    row = merge_jobs(spark, index_dir, gen_tmp, jobs=selected)
    new_job = max((r.job for r in done_rows), default=-1) + 1
    # two-phase visibility swap (readers resolve job dirs via
    # COMMITTED lineage — layout.committed_dirs):
    #   1. merged DATA in place, lineage not yet committed
    #      (invisible);
    #   2. retire source lineage (a concurrent reader now sees fewer
    #      docs, never duplicates);
    #   3. commit the merged job's lineage row LAST (activate);
    #   4. delete retired source data.
    # The filesystem analogue of the reference's single-batch
    # activate/deactivate, segment_ops.rs:270-289.
    for name in ("docs", "doc_index", "postings", "term_dict",
                 "field_stats"):
        src = IndexLayout(gen_tmp).job_dir(name, 0)
        if os.path.isdir(src):
            os.rename(src, layout.job_dir(name, new_job))
    for j in selected:
        shutil.rmtree(layout.job_dir("lineage", j), ignore_errors=True)
    layout.commit_job(spark, {**row, "job": new_job})
    for j in selected:
        for name in ("docs", "doc_index", "postings", "term_dict",
                     "field_stats"):
            p = layout.job_dir(name, j)
            if os.path.isdir(p):
                shutil.rmtree(p)
    shutil.rmtree(gen_tmp, ignore_errors=True)
    return new_job
