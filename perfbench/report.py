"""Assembles a run's result: the end-to-end metrics, the per-layer
metrics of a traced run, and the last output line."""

from __future__ import annotations

import json
import os
import statistics
from typing import Dict, List

from tracing import EventLog, find_event_log, job_totals

#: declared in BENCHMARK.json; reported by every workload
END_TO_END = {"setup_s": "s", "write_docs_per_s": "docs/s", "op_p50_s": "s",
              "driver_peak_rss_mb": "MB",
              "index_bytes_per_input_byte": "ratio"}

SHAPES = ("term", "match_or", "match_and", "prefix", "wildcard", "fuzzy",
          "filtered", "dis_max", "not", "bool", "count")

PER_LAYER = {
    "analysis.python_rows": "count",
    "analysis.python_row_share": "share",
    "build.job_s": "s",
    "build.docs_write_s": "s",
    "build.postings_write_s": "s",
    "build.doc_index_s": "s",
    "build.term_dict_s": "s",
    "build.commit_s": "s",
    "build.spark_jobs": "count",
    "build.spark_stages": "count",
    "build.spark_tasks": "count",
    "build.task_busy_s": "s",
    "build.slot_idle_share": "share",
    "build.shuffle_write_bytes": "bytes",
    "build.shuffle_records": "count",
    "build.spill_bytes": "bytes",
    "build.gc_s": "s",
    "codec.posting_blocks": "count",
    "codec.postings_bytes": "bytes",
    "codec.bytes_per_posting": "bytes",
    "term_dict.lookup_ms": "ms",
    "term_dict.calls_per_query": "count",
    "layout.commit_s": "s",
    "layout.committed_jobs": "count",
    "doc_index.lookup_ms": "ms",
    "doc_index.jobs_probed_per_get": "count",
    "cluster.get_row_read_ms": "ms",
    "cluster.get_spark_fallback_share": "share",
    "dsl.parse_ms": "ms",
    "engine.open_s": "s",
    "engine.plan_ms": "ms",
    "engine.exec_s": "s",
    "engine.spark_jobs_per_query": "count",
    "engine.spark_stages_per_query": "count",
    "engine.spark_tasks_per_query": "count",
    "engine.task_busy_s_per_query": "s",
    "engine.input_bytes_per_query": "bytes",
    "engine.shuffle_bytes_per_query": "bytes",
    **{f"engine.exec_s.{s}": "s" for s in SHAPES},
    "local.rss_mb": "MB",
    "local.score_ms": "ms",
    "local.postings_per_query": "count",
    "ingest.process_batch_s": "s",
    "ingest.resolve_s": "s",
    "ingest.spark_jobs_per_batch": "count",
    "delete.s": "s",
    "delete.spark_jobs": "count",
    "merge.jobs_merged": "count",
    "merge.spark_jobs": "count",
    "merge.write_amplification": "ratio",
    "trace.op_p50_s": "s",
    "trace.overhead_share": "share",
}


def _mean(xs: List[float]) -> float:
    return sum(xs) / len(xs) if xs else 0.0


def _med(xs: List[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def _dur(s: dict) -> float:
    return s["end"] - s["start"]


def _in(jobs: List[dict], span: dict) -> List[dict]:
    return [j for j in jobs if span["start"] <= j["start"] <= span["end"]]


def layer_metrics(run, log: EventLog) -> Dict[str, float]:
    """Per-layer metrics from the run's spans, its Spark event log and
    the index artifacts it captured (see README.md for each one)."""
    tr = run.tracer
    by_op = log.attribute(tr)
    L: Dict[str, float] = {k: 0.0 for k in PER_LAYER}
    L.update(run.layer)

    # write paths: bulk builds and the ingester's write_job calls, each
    # with the Spark jobs it ran and the number of write_jobs inside
    windows = []      # (jobs, write_jobs, wall, docs, measured)
    for o in tr.ops("index.build.build_index"):
        windows.append((by_op.get(o["op"], []), o.get("write_jobs", 1),
                        _dur(o), o.get("docs", 0), o.get("measured")))
    for o in tr.ops("streaming.ingest.batch"):
        jobs = by_op.get(o["op"], [])
        for wj in tr.within(o, "index.build.write_job"):
            windows.append((_in(jobs, wj), 1, _dur(wj), o.get("docs", 0),
                            True))
    if any(w[4] for w in windows):
        windows = [w for w in windows if w[4]]
    if windows:
        n_jobs = sum(w[1] for w in windows)
        all_jobs = [j for w in windows for j in w[0]]
        tot = job_totals(all_jobs)
        docs = sum(w[3] for w in windows)
        rows = log.python_rows(all_jobs)
        L["analysis.python_rows"] = float(rows)
        L["analysis.python_row_share"] = rows / docs if docs else 0.0
        steps = log.step_seconds(all_jobs)
        L["build.docs_write_s"] = steps.get("docs", 0.0) / n_jobs
        L["build.postings_write_s"] = steps.get("postings", 0.0) / n_jobs
        L["build.doc_index_s"] = steps.get("doc_index", 0.0) / n_jobs
        L["build.term_dict_s"] = steps.get("term_dict", 0.0) / n_jobs
        L["build.spark_jobs"] = tot["jobs"] / n_jobs
        L["build.spark_stages"] = tot["stages_run"] / n_jobs
        L["build.spark_tasks"] = tot["tasks"] / n_jobs
        L["build.task_busy_s"] = tot["busy_s"] / n_jobs
        wall = sum(w[2] for w in windows)
        L["build.slot_idle_share"] = max(
            0.0, 1 - tot["busy_s"] / (run.slots * wall)) if wall else 0.0
        L["build.shuffle_write_bytes"] = tot["shuffle_write_bytes"] / n_jobs
        L["build.shuffle_records"] = tot["shuffle_records"] / n_jobs
        L["build.spill_bytes"] = tot["spill_bytes"] / n_jobs
        L["build.gc_s"] = tot["gc_s"] / n_jobs
        # lineage commit tail: last Spark execution of a write_job to
        # its lineage file landing on disk
        last_end: Dict[int, float] = {}
        for ex in log.executions(all_jobs):
            job = ex["table"][1]
            if job is not None:
                last_end[job] = max(last_end.get(job, 0.0), ex["end"])
        tails = [info["lineage_mtime"][j] - last_end[j]
                 for info in run.indexes for j in info["lineage_mtime"]
                 if j in last_end and info["lineage_mtime"][j] >= last_end[j]]
        L["build.commit_s"] = _mean(tails)
    job_walls = [w for info in run.indexes if info.get("measured", True)
                 for w in info["wall_sec"].values()]
    L["build.job_s"] = _med(job_walls)
    if run.indexes:
        info = run.indexes[-1]
        L["codec.posting_blocks"] = float(info["posting_blocks"])
        L["codec.postings_bytes"] = float(info["postings_bytes"])
        L["codec.bytes_per_posting"] = (info["postings_bytes"]
                                        / max(1, info["postings"]))
        if "layout.committed_jobs" not in run.layer:
            L["layout.committed_jobs"] = float(len(info["wall_sec"]))

    # read paths
    queries = tr.ops("query.engine.search")
    if queries:
        qjobs = [j for o in queries for j in by_op.get(o["op"], [])]
        tot = job_totals(qjobs)
        n = len(queries)
        td = [s for o in queries for s in tr.within(o, "index.term_dict")]
        L["term_dict.calls_per_query"] = len(td) / n
        L["engine.plan_ms"] = 1e3 * _mean(
            [_dur(s) for o in queries for s in tr.within(o,
                                                         "query.engine.plan")])
        L["engine.exec_s"] = _mean(
            [_dur(s) for o in queries for s in tr.within(o,
                                                         "query.engine.exec")])
        L["engine.spark_jobs_per_query"] = tot["jobs"] / n
        L["engine.spark_stages_per_query"] = tot["stages_run"] / n
        L["engine.spark_tasks_per_query"] = tot["tasks"] / n
        L["engine.task_busy_s_per_query"] = tot["busy_s"] / n
        L["engine.input_bytes_per_query"] = tot["input_bytes"] / n
        L["engine.shuffle_bytes_per_query"] = (tot["shuffle_write_bytes"]
                                               + tot["shuffle_read_bytes"]) / n
        for shape in SHAPES:
            ws = [_dur(o) for o in queries if o.get("shape") == shape]
            if ws:
                L[f"engine.exec_s.{shape}"] = _med(ws)
    td_all = [s for s in tr.spans if s["name"].startswith("index.term_dict")]
    L["term_dict.lookup_ms"] = 1e3 * _mean([_dur(s) for s in td_all])
    parses = [s for s in tr.spans if s["name"] == "query.dsl.parse"]
    L["dsl.parse_ms"] = 1e3 * _mean([_dur(s) for s in parses])
    opens = tr.ops("query.engine.open")
    if opens:
        L["engine.open_s"] = _med([_dur(o) for o in opens])

    gets = tr.ops("cluster.get_document")
    if gets:
        fallback, row_read, lookups, probed = 0, [], [], []
        for o in gets:
            lk = tr.within(o, "index.doc_index.lookup")
            lookups += [_dur(s) for s in lk]
            probed += [s.get("jobs", 0) for s in lk]
            if by_op.get(o["op"]):
                fallback += 1
            elif lk:
                row_read.append(_dur(o) - sum(_dur(s) for s in lk))
        L["cluster.get_spark_fallback_share"] = fallback / len(gets)
        L["cluster.get_row_read_ms"] = 1e3 * _mean(row_read)
        L["doc_index.lookup_ms"] = 1e3 * _mean(lookups)
        L["doc_index.jobs_probed_per_get"] = _mean(probed)

    local = tr.ops("query.local.search")
    if local:
        score, post = [], []
        for o in local:
            p = sum(_dur(s) for s in tr.within(o, "query.dsl.parse"))
            score.append(_dur(o) - p)
            post.append(sum(s.get("postings", 0) for s in
                            tr.within(o, "query.local.postings")))
        L["local.score_ms"] = 1e3 * _mean(score)
        L["local.postings_per_query"] = _mean(post)

    batches = tr.ops("streaming.ingest.batch")
    if batches:
        pb, resolve, pjobs, dl, djobs = [], [], [], [], []
        for o in batches:
            jobs = by_op.get(o["op"], [])
            for s in tr.within(o, "streaming.ingest.process_batch"):
                pb.append(_dur(s))
                wj = tr.within(o, "index.build.write_job")
                resolve.append(_dur(s) - sum(_dur(w) for w in wj))
                pjobs.append(len(_in(jobs, s)))
            for s in tr.within(o, "index.delete.delete_documents"):
                dl.append(_dur(s))
                djobs.append(len(_in(jobs, s)))
        L["ingest.process_batch_s"] = _med(pb)
        L["ingest.resolve_s"] = _med(resolve)
        L["ingest.spark_jobs_per_batch"] = _mean(pjobs)
        L["delete.s"] = _med(dl)
        L["delete.spark_jobs"] = _mean(djobs)
    commits = [s for s in tr.spans if s["name"] == "index.layout.commit_job"]
    L["layout.commit_s"] = _mean([_dur(s) for s in commits])
    merges = tr.ops("index.merge.maintenance")
    if merges:
        L["merge.spark_jobs"] = float(sum(len(by_op.get(o["op"], []))
                                          for o in merges))

    traced = [dt for dt, on in run.headline if on]
    plain = [dt for dt, on in run.headline if not on]
    L["trace.op_p50_s"] = _med(traced)
    L["trace.overhead_share"] = (_med(traced) / _med(plain) - 1
                                 if traced and plain else 0.0)
    return L


def finish(run, stamp: dict, out_dir: str) -> dict:
    m = run.metrics
    m["setup_s"] = run.setup_s
    m["measure_s"] = run.measure_s
    m["driver_peak_rss_mb"] = run.peak_rss_mb
    m["failed_op_share"] = run.failed / max(1, run.attempted)
    layers: Dict[str, float] = {}
    base = f"{stamp['workload']}-seed{stamp['seed']}"
    if run.traced:
        path = find_event_log(run.event_dir)
        log = EventLog(path) if path else None
        if log is not None:
            layers = layer_metrics(run, log)
        run.tracer.dump(os.path.join(out_dir, base + "-spans.json"))
    declared = PER_LAYER if run.traced else END_TO_END
    values = layers if run.traced else m
    missing = [k for k in declared if values.get(k) is None]
    line = {"correct": run.failed == 0 and not missing,
            "attempted": run.attempted, "failed": run.failed,
            "metrics": {k: {"value": float(values.get(k) or 0.0),
                            "unit": u} for k, u in declared.items()}}
    report = {"stamp": stamp, "metrics": m, "layers": layers,
              "attempted": run.attempted, "failed": run.failed,
              "failures": run.failures[:50], "missing": missing}
    with open(os.path.join(out_dir, base + f"-trace{int(run.traced)}.json"),
              "w") as f:
        json.dump(report, f, indent=1, sort_keys=True)
    return {"report": report, "line": line}
