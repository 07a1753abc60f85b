"""Query execution over a built index: one evaluator, two placements.

``query/local.LocalSearcher`` is the evaluator.  It runs a parsed
``dsl.Query`` tree set-at-a-time in numpy over decoded posting blocks:
term scoring, the MultiTerm Avg, the Avg/Max combinators
(score_function.rs:21-38,74-88), the Full/Empty boolean algebra
(boolean_query.rs:131-321), nested folds, the parent gate and the
deletion list (the planner's AndNot, planner/mod.rs:34-36).

* Serving modes (``mode="local"`` / ``"sharded"``) run it on the
  driver.
* Spark mode runs it as ONE Spark job: a ``mapInArrow`` with one task
  per committed build job.  A job is a document shard (jobs own
  disjoint doc buckets), so any query tree is exact within it.  Each
  task returns its top ``from+size`` rows and
  ``orderBy(score desc, doc_id asc).offset/limit`` merges them
  (TakeOrderedAndProject): the reference's per-segment evaluation
  plus TopScoreCollector (rocksdb/search/mod.rs:16-155,
  collectors/top_score.rs:49-110), with doc_id as the deterministic
  tie-break.

Every score input stays global.  Before the job the driver walks the
tree once and reads from the term dictionary each (field, term) key's
global df and each MultiTerm selector's global divisor and matched
terms.  A task receives only those, plus the snapshot the engine
resolved at open (jobs, deletion-list files, field stats), and reads
only the posting blocks of its query's keys in its own job.  A tree
the dictionary proves empty, a match_all count and a single-term
count are answered on the driver with no Spark job.

Scale: a query runs as many tasks as the index has committed jobs,
and a task holds the decoded postings of the query's keys in one job.

Precision: ``precision="f32"`` computes the reference's exact f32
term scores (similarity.rs) and accumulates combinator sums/averages
in float64 over them, so near-tie ranks may differ from the reference
by f32-accumulation order at ~1e-7 relative.  ``"f64"`` computes in
double precision throughout, matching the SQL oracle.
"""

from __future__ import annotations

import os
import pickle
import re
from dataclasses import dataclass
from functools import cached_property
from typing import Callable, Dict, List, Optional, Tuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..index.layout import IndexConfig, IndexLayout, Snapshot, qname
from . import dsl
from .local import (LocalSearcher, ShardedSearcher, analysis_registry,
                    load_global_dict, parse_query)

_SCORE_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("score", T.DoubleType()),
])
_COUNT_SCHEMA = T.StructType([T.StructField("n", T.LongType())])
_PICKLE_SCHEMA = T.StructType([T.StructField("payload", T.BinaryType())])
_MULTI_TERM = (dsl.Prefix, dsl.Wildcard, dsl.Regexp, dsl.Fuzzy)


def wildcard_regex(pattern: str) -> Tuple[str, str]:
    """(anchored regex, literal prefix before the first wildcard).
    ``*`` → any run, ``?`` → one char; everything else is literal.
    The literal prefix range-prunes the dictionary scan exactly like
    a prefix query's bounds."""
    out: List[str] = []
    lit: List[str] = []
    literal_so_far = True
    for ch in pattern:
        if ch == "*":
            out.append(".*")
            literal_so_far = False
        elif ch == "?":
            out.append(".")
            literal_so_far = False
        else:
            out.append(re.escape(ch))
            if literal_so_far:
                lit.append(ch)
    return "^" + "".join(out) + "$", "".join(lit)


def regex_literal_prefix(pattern: str) -> str:
    """Leading run of plain literal characters before the first regex
    metacharacter — a sound dictionary range-prune for an anchored
    whole-term regex.  A char FOLLOWED by a quantifier is not part of
    the mandatory prefix, so the scan stops one short of ?*+{."""
    meta = set(".^$*+?()[]{}|\\")
    out: List[str] = []
    for i, ch in enumerate(pattern):
        if ch in meta:
            break
        if i + 1 < len(pattern) and pattern[i + 1] in "?*{":
            break
        out.append(ch)
    return "".join(out)


def editdist_leq(a: str, b: str, k: int) -> bool:
    """Levenshtein(a, b) <= k — banded DP, O(len·k); must agree with
    Spark's F.levenshtein and DuckDB's levenshtein() (plain unit-cost
    edit distance, no transpositions)."""
    if abs(len(a) - len(b)) > k:
        return False
    if k == 0:
        return a == b
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        row_min = i
        for j, cb in enumerate(b, 1):
            v = min(prev[j] + 1, cur[j - 1] + 1,
                    prev[j - 1] + (ca != cb))
            cur.append(v)
            row_min = min(row_min, v)
        if row_min > k:
            return False
        prev = cur
    return prev[-1] <= k


def selector_match(q) -> Tuple[Callable[[str], bool], str]:
    """(term predicate, literal prefix every match starts with) of a
    MultiTerm node.  Prefix is the reference's one implemented
    selector; wildcard, regexp (whole-term, ES semantics) and
    Levenshtein are the ones it declares (multi_term_selector.rs:3-16)."""
    if isinstance(q, dsl.Prefix):
        return (lambda t: t.startswith(q.prefix)), q.prefix
    if isinstance(q, dsl.Fuzzy):
        hint, qt, fz = q.term[:q.prefix_length], q.term, int(q.fuzziness)
        return (lambda t: t.startswith(hint)
                and editdist_leq(t, qt, fz)), hint
    if isinstance(q, dsl.Wildcard):
        regex, hint = wildcard_regex(q.pattern)
    else:
        regex = "^(?:" + q.pattern + ")$"
        hint = regex_literal_prefix(q.pattern)
    rx = re.compile(regex)
    return (lambda t: rx.match(t) is not None), hint


def _selector_pred(q):
    """The Spark SQL form of an unanchored selector (no literal
    prefix), run over the term_dict sidecar by
    ``TermDictReader.selector_stats_spark``."""
    if isinstance(q, dsl.Fuzzy):
        qt, fz = q.term, int(q.fuzziness)
        # the length band is necessary for distance <= k, so the
        # cheap codegen check prunes ahead of the O(len²) levenshtein
        return (F.length(F.col("term")).between(len(qt) - fz, len(qt) + fz)
                & (F.levenshtein(F.col("term"), F.lit(qt)) <= fz))
    if isinstance(q, dsl.Wildcard):
        return F.col("term").rlike(wildcard_regex(q.pattern)[0])
    return F.col("term").rlike("^(?:" + q.pattern + ")$")


@dataclass(frozen=True)
class QueryStats:
    """The global score inputs of one query, read on the driver:
    every (field, term) key a task must load with its global df, and
    per MultiTerm node its global divisor and matched terms."""
    df: Dict[Tuple[str, str], int]
    selectors: Dict[dsl.Query, Tuple[int, Tuple[str, ...]]]


def _leaves(q: dsl.Query, out: List[dsl.Query],
            path: Optional[str] = None) -> None:
    """Term and MultiTerm nodes of ``q``, in tree order.  Raises, on
    the driver, for a nested query whose path does not descend from
    the enclosing nested query's ``path``."""
    if isinstance(q, (dsl.Term,) + _MULTI_TERM):
        out.append(q)
    elif isinstance(q, (dsl.Conjunction, dsl.Disjunction,
                        dsl.DisjunctionMax)):
        for c in q.queries:
            _leaves(c, out, path)
    elif isinstance(q, dsl.Filter):
        _leaves(q.query, out, path)
        _leaves(q.filter, out, path)
    elif isinstance(q, dsl.Exclude):
        _leaves(q.query, out, path)
        _leaves(q.exclude, out, path)
    elif isinstance(q, dsl.Nested):
        if path is not None and not q.path.startswith(path + "."):
            raise dsl.QueryParseError(
                f"nested path {q.path!r} is not a descendant of the "
                f"enclosing nested path {path!r}")
        _leaves(q.query, out, q.path)


def _empty(q: dsl.Query, stats: QueryStats) -> bool:
    """Empty constant folding (boolean_query.rs:131-321): a key the
    dictionary lacks has no postings, so it matches nothing; a
    conjunction or filter with such a branch, and a disjunction of
    only such branches, match nothing either."""
    if isinstance(q, dsl.NoneQuery):
        return True
    if isinstance(q, dsl.Term):
        return not stats.df.get((q.field, q.term))
    if isinstance(q, _MULTI_TERM):
        return not stats.selectors[q][1]
    if isinstance(q, dsl.Conjunction):
        return any(_empty(c, stats) for c in q.queries)
    if isinstance(q, (dsl.Disjunction, dsl.DisjunctionMax)):
        return all(_empty(c, stats) for c in q.queries)
    if isinstance(q, dsl.Filter):
        return _empty(q.query, stats) or _empty(q.filter, stats)
    if isinstance(q, dsl.Exclude):
        return _empty(q.query, stats)
    if isinstance(q, dsl.Nested):
        return _empty(q.query, stats)
    return False


def _shard_task(index_dir: str, config: IndexConfig, snapshot: Snapshot,
                groups: List[List[int]], stats: QueryStats,
                precision: str, q: dsl.Query, op: str, arg):
    """mapInArrow body: each input row is a shard number; evaluate
    ``q`` on that shard's jobs with a key-restricted LocalSearcher.
    ``op`` "top" yields the shard's first ``arg`` (doc_id, score)
    rows, "all" every match, "count" the match count, and
    "inner_hits" the pickled ``inner_hits(q, arg)`` answer."""
    import pyarrow as pa

    def _run(batches):
        for rb in batches:
            for g in rb.column(0).to_pylist():
                ls = LocalSearcher.pinned(
                    index_dir, config, snapshot, groups[g],
                    keys=set(stats.df), global_df=stats.df,
                    selectors=stats.selectors, precision=precision)
                if op == "count":
                    yield pa.RecordBatch.from_arrays(
                        [pa.array([ls.matches(q)[0].size], pa.int64())],
                        names=["n"])
                elif op == "inner_hits":
                    yield pa.RecordBatch.from_arrays(
                        [pa.array([pickle.dumps(ls.inner_hits(q, arg))],
                                  pa.binary())], names=["payload"])
                else:
                    if op == "all":
                        ids, scores = ls.matches(q)
                    else:
                        top = ls.top(q, arg)
                        ids = [d for d, _ in top]
                        scores = [s for _, s in top]
                    yield pa.RecordBatch.from_arrays(
                        [pa.array(ids, pa.int64()),
                         pa.array(scores, pa.float64())],
                        names=["doc_id", "score"])

    return _run


class SearchEngine:
    """Read-side handle on one index directory."""

    #: "auto" serving mode switches to the driver-local searcher when
    #: the LARGEST PER-SHARD postings artifact (one build job = one
    #: document shard) is at most this many bytes on disk —
    #: compressed postings several times this size still fit driver
    #: memory decoded, but latency parity with a Spark job is already
    #: lost well above it.  At web scale each shard's LocalSearcher
    #: runs in its own serving process (query/local.ShardedSearcher
    #: is the same math in one process).
    LOCAL_MAX_BYTES = 256 << 20
    #: lazy serving holds the compressed bytes (plus a per-term decode
    #: cache) instead of the eager searcher's ~10× int64 expansion, so
    #: "auto" with serving_lazy=True can honestly admit larger shards
    LAZY_BYTES_FACTOR = 4

    def __init__(self, spark: SparkSession, index_dir: str,
                 precision: str = "f32", cache_postings: bool = False,
                 mode: str = "spark", serving_lazy: bool = False):
        """``mode``: "spark" (default) runs every query as one Spark
        job over the job shards; "local" serves top-k/count from the
        driver-side LocalSearcher (millisecond latency, the same
        evaluator) and is valid only for precision="f32" and indexes
        that fit the driver; "sharded" holds one driver-side
        LocalSearcher per job; "auto" picks "local" or "sharded" when
        the postings artifact is under LOCAL_MAX_BYTES.
        ``serving_lazy`` forwards lazy decode-on-demand to the
        driver-side searcher(s): spin-up holds bytes only and each
        query decodes exactly its own terms (identical results).
        ``cache_postings`` has no effect; it is accepted so existing
        callers keep working."""
        self.spark = spark
        self.precision = precision
        self.index_dir = index_dir
        self.layout = IndexLayout(index_dir)
        self.config: IndexConfig = self.layout.read_config()
        from ..analysis import ANALYSIS_VERSION
        if self.config.analysis_version != ANALYSIS_VERSION:
            raise ValueError(
                f"index at {index_dir} was built with analysis pipeline "
                f"v{self.config.analysis_version}, this code analyzes "
                f"queries with v{ANALYSIS_VERSION}: indexed terms and "
                f"query terms would silently mismatch — reindex required")
        self.registry = analysis_registry(self.config)
        # one snapshot for the engine's lifetime, resolved through
        # COMMITTED lineage, never a job=* glob: a partial merge
        # writes the merged job's data before retiring its sources,
        # and a crashed job may leave data without a lineage row
        # (segment_ops.rs:270-289 activate/deactivate batch).  Jobs,
        # deletion lists and field stats committed after open stay
        # invisible; stats stay un-decremented by deletes until merge,
        # like the reference (statistics.rs)
        self.snapshot = self.layout.snapshot()
        self._jobs = list(self.snapshot.jobs)
        self.field_stats = self.snapshot.field_stats

        def _read(name: str) -> DataFrame:
            dirs = [self.layout.job_dir(name, j) for j in self._jobs
                    if os.path.isdir(self.layout.job_dir(name, j))]
            return (spark.read.option("basePath", self.layout.table(name))
                    .parquet(*dirs))

        self.postings = _read("postings")
        self.docs = _read("docs")
        files = self.snapshot.deletion_files
        self.deletions: Optional[DataFrame] = (
            spark.read.parquet(*files).select("doc_id").distinct()
            if files else None)
        # driver-side dictionary reader (the reference's in-memory
        # TermDictionary, term_dictionary.rs:16-91) when every job
        # with postings wrote its term_dict sidecar; legacy indexes
        # read the same stats through load_global_dict
        from ..index.term_dict import TermDictReader
        td_ok = all(
            os.path.isdir(self.layout.job_dir("term_dict", j))
            for j in self._jobs
            if os.path.isdir(self.layout.job_dir("postings", j)))
        self.dict_reader: Optional[TermDictReader] = (
            TermDictReader(self.layout, self._jobs)
            if td_ok and self._jobs else None)
        # Spark-mode shards: one per job with documents; a nested
        # index built before parent-colocated bucketing runs as one
        # shard, because a per-job shard could split a parent from
        # its children
        jobs = [j for j in self._jobs
                if os.path.isdir(self.layout.job_dir("docs", j))]
        colocated = (not self.config.nested_paths
                     or self.config.nested_colocated)
        self._groups = ([[j] for j in jobs] if colocated
                        else [jobs] if jobs else [])
        if mode not in ("spark", "local", "sharded", "auto"):
            raise ValueError(
                f"mode must be spark|local|sharded|auto: {mode!r}")
        if mode == "sharded" and not colocated:
            raise ValueError(
                "this nested-type index predates parent-colocated "
                "bucketing and cannot serve sharded; rebuild it, or "
                "use mode='local', 'auto' or 'spark'")
        if mode == "auto":
            # per-SHARD bytes decide, not whole-index bytes: the
            # serving tier scales out by document shard, so the
            # driver-tier cutoff is the largest shard's artifact.
            # Lazy serving keeps shards compressed in memory, so its
            # cutoff admits LAZY_BYTES_FACTOR× more artifact bytes.
            per_job = self._postings_bytes_per_job()
            total = sum(per_job.values())
            cutoff = self.LOCAL_MAX_BYTES * (
                self.LAZY_BYTES_FACTOR if serving_lazy else 1)
            if total <= cutoff:
                mode = "local"
            elif per_job and max(per_job.values()) <= cutoff \
                    and colocated:
                mode = "sharded"
            else:
                mode = "spark"
        if mode in ("local", "sharded") and precision != "f32":
            raise ValueError("mode='local' serves exact f32 scores; "
                             "use precision='f32' or mode='spark'")
        self.mode = mode
        self._local = None
        if mode == "local":
            self._local = LocalSearcher(index_dir, lazy=serving_lazy)
        elif mode == "sharded":
            self._local = ShardedSearcher(index_dir, lazy=serving_lazy)

    def _postings_bytes_per_job(self) -> Dict[str, int]:
        out: Dict[str, int] = {}
        for j in self._jobs:
            d = self.layout.job_dir("postings", j)
            if not os.path.isdir(d):
                continue
            out[d] = sum(os.path.getsize(os.path.join(root, f))
                         for root, _, files in os.walk(d) for f in files)
        return out

    def _is_nested_field(self, field: str) -> bool:
        """True when ``field`` lives under a nested-TYPE path: its
        postings belong to child rows, so a FLAT query on it matches
        no document (ES semantics — nested fields are only reachable
        through a `nested` query)."""
        return any(field == p or field.startswith(p + ".")
                   for p in self.config.nested_paths)

    # ---------------------------------------------------------------
    # public API (the reference's _search/_count semantics)
    # ---------------------------------------------------------------
    def parse(self, query_json: dict) -> dsl.Query:
        return parse_query(self.config, self.registry, query_json)

    def search(self, query_json: dict, size: int = 10,
               from_: int = 0) -> DataFrame:
        """Top-k (doc_id, score), score desc, doc_id asc tie-break."""
        if self._local is not None:
            # driver-side serving: zero Spark jobs to compute the
            # top-k; the (≤ size)-row result is wrapped as a local
            # DataFrame to keep the API uniform
            return self._frame(self._local.search(
                query_json, size=size, from_=from_))
        frame = self._shards(self.parse(query_json), "top", from_ + size)
        if frame is None:
            return self._frame([])
        out = frame.orderBy(F.desc("score"), F.asc("doc_id"))
        if from_:
            out = out.offset(from_)
        return out.limit(size)

    def matches(self, query_json: dict) -> DataFrame:
        """Every live document the query matches, as unordered
        (doc_id, score) rows: the whole result a top-k is cut from."""
        q = self.parse(query_json)
        if self._local is not None:
            ids, scores = self._local.matches(q)
            return self._frame(zip(ids.tolist(), scores.tolist()))
        frame = self._shards(q, "all")
        return self._frame([]) if frame is None else frame

    def _frame(self, rows) -> DataFrame:
        rows = [(int(d), float(s)) for d, s in rows]
        if not rows:
            # optimizes to an empty local relation, so collecting it
            # runs no Spark job (collecting createDataFrame([]) runs one)
            return self.spark.range(1).select(
                F.lit(0).cast("long").alias("doc_id"),
                F.lit(0.0).alias("score")).limit(0)
        return self.spark.createDataFrame(rows, schema=_SCORE_SCHEMA)

    def hits(self, query_json: dict, size: int = 10, from_: int = 0,
             fields: Optional[List[str]] = None) -> List[dict]:
        """Collected hits with the document key (search_api.rs:124-151).

        ``fields`` mirrors the reference's ``fields`` URL parameter
        (search_api.rs:93-105,125-137): each requested stored field is
        returned per hit as a singleton list ([] when null); unknown
        field names are skipped (the reference warns and continues).
        The reference half-wires the response ("fields": "FIXME",
        search_api.rs:141) — this is the functional completion.
        """
        top = [(int(r.doc_id), float(r.score)) for r in
               self.search(query_json, size=size, from_=from_).collect()]
        if not top:
            return []
        key = self.config.key_col
        known = [f for f in (fields or []) if f in self.docs.columns]
        cols = ["doc_id", key] + [f for f in known if f != key]
        rows = {r.doc_id: r for r in self.docs
                .where(F.col("doc_id").isin([d for d, _ in top]))
                .select(*[F.col(qname(c)).alias(c) for c in cols])
                .collect()}
        out = []
        for d, s in top:
            r = rows[d]
            hit = {"key": r[key], "doc_id": d, "score": s}
            if fields is not None:
                hit["fields"] = {f: ([] if r[f] is None else [r[f]])
                                 for f in known}
            out.append(hit)
        if self.config.nested_paths:
            # ES inner_hits: attach each requesting nested node's top
            # matching children per returned parent (keyed by the
            # node's inner_hits name)
            root_ids = [h["doc_id"] for h in out]
            for node in dsl.inner_hits_nodes(self.parse(query_json)):
                per_root = self._inner_hits(node, root_ids)
                nm = node.inner_hits[0]
                for h in out:
                    h.setdefault("inner_hits", {})[nm] = \
                        per_root.get(h["doc_id"], [])
        return out

    def _inner_hits(self, node: dsl.Nested,
                    root_ids: List[int]) -> Dict[int, List[dict]]:
        """Per ROOT doc_id, the node's top matching child rows.  A
        root's whole descendant chain lives in one shard, so the
        answer is the union of the per-shard answers."""
        if self._local is not None:
            return self._local.inner_hits(node, root_ids)
        frame = self._shards(node, "inner_hits", root_ids)
        out: Dict[int, List[dict]] = {}
        for r in (frame.collect() if frame is not None else []):
            out.update(pickle.loads(r.payload))
        return out

    def count(self, query_json: Optional[dict] = None) -> int:
        """_count: scoring elided (planner/mod.rs:43-47)."""
        if self._local is not None:
            return self._local.count(query_json)
        q = dsl.All() if query_json is None else self.parse(query_json)
        deletes = bool(self.snapshot.deletion_files)
        if isinstance(q, dsl.All) and not deletes \
                and not self.config.nested_paths:
            # match_all count = Σ committed lineage n_docs — the
            # reference's metadata total, zero Spark jobs.  Deletions
            # stay un-decremented until merge and nested child rows
            # inflate n_docs, so both take the evaluated count.
            n = self._lineage_doc_count()
            if n is not None:
                return n
        if isinstance(q, dsl.Term) and not deletes:
            if self._is_nested_field(q.field):
                return 0     # flat query on a nested field: no parent
            # the dictionary's global df, zero Spark jobs
            return self._dfs([(q.field, q.term)]).get((q.field, q.term), 0)
        frame = self._shards(q, "count")
        return 0 if frame is None else sum(r.n for r in frame.collect())

    def _lineage_doc_count(self) -> Optional[int]:
        """Σ ``n_docs`` over committed lineage rows — a driver-side
        pyarrow read of the (one-row-per-job) lineage sidecars, zero
        Spark jobs.  Every writer records the exact docs-table row
        count (observe() metric on the docs write; survivor count on
        merge), so the sum equals ``docs.count()`` whenever no
        deletion list is pending.  Returns None when lineage is
        unreadable (caller falls back to the evaluated count)."""
        import pyarrow.parquet as pq
        root = self.layout.table("lineage")
        if not os.path.isdir(root):
            return None
        total = 0
        try:
            # restricted to the engine's snapshot so a concurrent
            # writer cannot skew the count vs. the jobs this engine
            # actually reads
            for d in (f"job={j}" for j in self._jobs):
                if not os.path.isdir(os.path.join(root, d)):
                    continue
                tbl = pq.read_table(os.path.join(root, d),
                                    columns=["status", "n_docs"])
                for st, nd in zip(tbl.column("status").to_pylist(),
                                  tbl.column("n_docs").to_pylist()):
                    if st == "done":
                        total += int(nd)
        except Exception:
            return None
        return total

    # ---------------------------------------------------------------
    # the driver step and the shard job
    # ---------------------------------------------------------------
    def _shards(self, q: dsl.Query, op: str,
                arg=None) -> Optional[DataFrame]:
        """One Spark job evaluating ``q`` on every job shard (see
        ``_shard_task`` for ``op``/``arg``); None, with no Spark job,
        when the dictionary proves ``q`` matches nothing."""
        stats = self._stats(q)
        if _empty(q, stats) or not self._groups:
            return None
        n = len(self._groups)
        schema = {"count": _COUNT_SCHEMA,
                  "inner_hits": _PICKLE_SCHEMA}.get(op, _SCORE_SCHEMA)
        return self.spark.range(0, n, 1, n).mapInArrow(
            _shard_task(self.index_dir, self.config, self.snapshot,
                        self._groups, stats, self.precision, q, op, arg),
            schema=schema)

    def _stats(self, q: dsl.Query) -> QueryStats:
        """Walk the tree once and read the global score inputs of its
        Term keys (one batched dictionary lookup) and MultiTerm
        selectors (one dictionary slice each)."""
        leaves: List[dsl.Query] = []
        _leaves(q, leaves)
        df = self._dfs(sorted({(t.field, t.term) for t in leaves
                               if isinstance(t, dsl.Term)}))
        selectors: Dict[dsl.Query, Tuple[int, Tuple[str, ...]]] = {}
        for s in dict.fromkeys(t for t in leaves
                               if isinstance(t, _MULTI_TERM)):
            n, dfmap = self._selector_stats(s)
            selectors[s] = (n, tuple(sorted(dfmap)))
            df.update({(s.field, t): d for t, d in dfmap.items()})
        return QueryStats(df, selectors)

    def _dfs(self, pairs: List[Tuple[str, str]]
             ) -> Dict[Tuple[str, str], int]:
        """Global df of every present key (absent keys are missing)."""
        if not pairs:
            return {}
        if self.dict_reader is not None:
            return {k: v[0]
                    for k, v in self.dict_reader.lookup(pairs).items()}
        gdf = self._global_dict[1]
        return {p: gdf[p] for p in pairs if gdf.get(p)}

    def _selector_stats(self, q) -> Tuple[int, Dict[str, int]]:
        """(matches in the global, all-field dictionary — the Avg
        divisor, term_dictionary.rs:78-85; {query-field term: df})."""
        match_fn, hint = selector_match(q)
        if self.dict_reader is None:
            terms, gdf = self._global_dict
            return (sum(1 for t in terms if match_fn(t)),
                    {t: d for (f, t), d in gdf.items()
                     if f == q.field and match_fn(t)})
        if isinstance(q, dsl.Prefix):
            n, _, dfmap = self.dict_reader.prefix_stats_df(q.prefix,
                                                           q.field)
        elif hint:
            # anchored: a range-pruned driver-side dictionary slice
            n, _, _, dfmap = self.dict_reader.selector_stats(
                q.field, match_fn, hint)
        else:
            # unanchored: the predicate runs as a Spark filter over
            # the term_dict sidecar, and the driver receives only the
            # matched terms, never the whole dictionary
            n, _, _, dfmap = self.dict_reader.selector_stats_spark(
                self.spark, q.field, _selector_pred(q))
        return n, dfmap

    @cached_property
    def _global_dict(self):
        """(terms, {(field, term): df}) of a legacy index without
        term_dict sidecars, from the postings block metadata."""
        return load_global_dict(self.index_dir, self._jobs)
