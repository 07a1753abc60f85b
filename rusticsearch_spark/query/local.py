"""LocalSearcher: the query evaluator, for serving and for Spark tasks.

The build side is distributed (100 TB story, ``index.build``); the
serving side of the reference is a single-node process answering in
milliseconds (src/api/search_api.rs).  This mirrors that split the
way production systems do: executors build the immutable posting
artifact, a serving tier loads *its shard* of it.  A LocalSearcher
loads one shard (default: the whole test-scale index; ``jobs=``
restricts it to a document shard); ``ShardedSearcher`` below is the
scale-out shape — one LocalSearcher per build job (jobs own disjoint
doc buckets, so any query tree evaluates exactly per shard), global
top-k by merging per-shard top-k.  Spark-mode ``SearchEngine`` runs
the same evaluator once per job shard inside Spark tasks, each
restricted to the postings of its query's own terms
(``LocalSearcher.pinned``), so every serving mode shares one
evaluator.

Everything is numpy set-at-a-time over the decoded blocks, computing
the exact f32 scores of ``similarity.py`` (or f64 for the SQL oracle
rows); tests/test_local_searcher.py pins rank identity against the
pure-Python oracle.
"""

from __future__ import annotations

from functools import cached_property
from typing import Dict, List, Optional, Tuple

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from ..index.codec import concat_binary, decode_blocks_concat
from ..index.layout import IndexConfig, IndexLayout, Snapshot, term_bucket
from ..similarity import (bm25_f32, bm25_f64, lengths_from_bytes,
                          lengths_from_bytes_f64, tfidf_f32, tfidf_f64)
from ..analysis.analyzers import AnalyzerRegistry, parse_analysis_settings
from . import dsl

_EMPTY = (np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float64))
Frame = Tuple[np.ndarray, np.ndarray]      # (doc_ids sorted-unique, scores)


def _in_sorted(values: np.ndarray, sorted_arr: np.ndarray) -> np.ndarray:
    """Membership of ``values`` in an already-sorted array via binary
    search — O(m log n), no sort, no large temporaries.  Every doc-id
    array in this module is sorted by construction (the shard loader
    emits per-key doc-sorted postings; ``np.unique`` outputs are
    sorted; subsets of sorted stay sorted), so this replaces
    ``np.isin`` (which re-sorts both sides per call) on the hot
    negation/filter/deletion paths — the allocation-heavy kernels the
    host's memory-subsystem dips amplify worst."""
    if sorted_arr.size == 0 or values.size == 0:
        return np.zeros(values.shape, dtype=bool)
    idx = np.searchsorted(sorted_arr, values)
    idx[idx == sorted_arr.size] = sorted_arr.size - 1
    return sorted_arr[idx] == values


def _merge_sorted_disjoint(ids_a: np.ndarray, val_a: np.ndarray,
                           ids_b: np.ndarray, val_b: np.ndarray
                           ) -> Frame:
    """Merge two sorted, disjoint (ids, values) frames into one sorted
    frame.  A Frame's id array MUST stay sorted — ``_in_sorted``
    binary-searches docsets — so the or/max-with-All completion paths
    cannot just append the complement."""
    ids = np.concatenate([ids_a, ids_b])
    vals = np.concatenate([val_a, val_b])
    order = np.argsort(ids, kind="stable")
    return ids[order], vals[order]


def _ranges_to_indices(starts: np.ndarray,
                       lengths: np.ndarray) -> np.ndarray:
    """Indices selecting ``[starts[i], starts[i]+lengths[i])`` runs
    laid end to end — the vectorized gather plan for permuting
    variable-length byte ranges."""
    total = int(lengths.sum())
    excl = np.cumsum(lengths) - lengths
    return (np.arange(total, dtype=np.int64)
            + np.repeat(starts - excl, lengths))


_POSTING_COLS = ["field", "term", "segment", "doc_bytes", "tf_bytes",
                 "len_bytes"]


def _read_postings(dirs: List[str], keys, tbuckets: int) -> pa.Table:
    """Posting block rows of ``dirs``; with ``keys`` (a set of
    (field, term)) only those keys' blocks: the read prunes to their
    tbucket partitions and, through the term-sorted row-group
    statistics, to the row groups that can hold them."""
    if not dirs or (keys is not None and not keys):
        return pa.table({c: [] for c in _POSTING_COLS})
    filters = None
    if keys is not None:
        terms = sorted({t for _, t in keys})
        filters = [("tbucket", "in",
                    sorted({term_bucket(t, tbuckets) for t in terms})),
                   ("field", "in", sorted({f for f, _ in keys})),
                   ("term", "in", terms)]
    tbl = pa.concat_tables([pq.read_table(d, columns=_POSTING_COLS,
                                          filters=filters)
                            for d in dirs])
    if keys is not None:
        # the filters admit the field x term cross product
        got = zip(tbl.column("field").to_pylist(),
                  tbl.column("term").to_pylist())
        tbl = tbl.filter(pa.array([k in keys for k in got],
                                  type=pa.bool_()))
    return tbl


def analysis_registry(config: IndexConfig) -> AnalyzerRegistry:
    if config.analysis_settings:
        return parse_analysis_settings(config.analysis_settings)
    return AnalyzerRegistry()


def parse_query(config: IndexConfig, registry: AnalyzerRegistry,
                query_json: dict) -> dsl.Query:
    """Parse the JSON DSL against an index's mapping and analyzers."""
    ctx = dsl.ParseContext(fields=dict(config.fields),
                           analyzers=registry,
                           field_types=dict(config.field_types),
                           search_analyzers=dict(config.search_analyzers),
                           nested_paths=tuple(config.nested_paths))
    return dsl.parse(query_json, ctx)


class LocalSearcher:
    def __init__(self, index_dir: str,
                 jobs: Optional[List[int]] = None,
                 global_terms: Optional[List[str]] = None,
                 global_df: Optional[Dict[Tuple[str, str], int]] = None,
                 lazy: bool = False):
        """``jobs`` restricts the searcher to a subset of committed
        job directories — the document-sharding unit (jobs own
        disjoint url-hash bucket ranges, so a per-job shard holds ALL
        postings of its docs and every query evaluates exactly within
        it).  ``global_terms`` injects the index-wide distinct term
        list (the MultiTerm Avg divisor) and ``global_df`` the
        index-wide per-(field, term) document frequency (the idf
        input): every score input must stay GLOBAL under sharding or
        a doc's score would depend on the shard split.
        ShardedSearcher passes both; rank identity is pinned by
        tests/test_local_searcher.py.

        ``lazy=True`` defers posting-block decode to first use of
        each (field, term): spin-up holds only the PERMUTED varbyte
        buffers (~ compressed artifact bytes, no int64 expansion) and
        a query decodes exactly its own terms' contiguous byte range
        (cached after).  Right for cold-start-sensitive serving and
        large shards; eager (default) pre-decodes everything so no
        first-hit pays decode — identical results either way
        (tests/test_local_searcher.py lazy battery)."""
        layout = IndexLayout(index_dir)
        config = layout.read_config()
        snap = layout.snapshot()
        if jobs is not None:
            if config.nested_paths and not config.nested_colocated:
                # pre-colocation indexes bucketed child rows by their
                # SYNTHETIC key, so a per-job document shard can split
                # a parent from its elements — per-shard evaluation
                # would silently drop nested matches.  Indexes built
                # with parent-keyed bucketing stamp nested_colocated
                # and serve sharded (parent + all children share a
                # job).
                raise ValueError(
                    "this nested-type index predates parent-colocated "
                    "bucketing; rebuild it to serve job-restricted "
                    "shards, or use the whole-index LocalSearcher / "
                    "mode='spark'")
            jobs = sorted(set(jobs) & set(snap.jobs))
        self._open(index_dir, config, snap,
                   snap.jobs if jobs is None else jobs, lazy=lazy,
                   global_terms=global_terms, global_df=global_df)

    @classmethod
    def pinned(cls, index_dir: str, config: IndexConfig,
               snapshot: Snapshot, jobs, **kw) -> "LocalSearcher":
        """A searcher over ``jobs`` of an already resolved snapshot:
        no lineage, deletion-list or field-stats read of its own.
        Keyword arguments are ``_open``'s."""
        self = cls.__new__(cls)
        self._open(index_dir, config, snapshot, jobs, **kw)
        return self

    def _open(self, index_dir: str, config: IndexConfig,
              snapshot: Snapshot, jobs, lazy: bool = False,
              global_terms: Optional[List[str]] = None,
              global_df: Optional[Dict[Tuple[str, str], int]] = None,
              keys=None, selectors=None, precision: str = "f32"):
        """Load ``jobs``' postings and deletion lists.  ``keys``
        restricts the postings read to those (field, term) pairs (a
        filtered parquet read: tbucket partitions, then row groups);
        ``selectors`` maps each MultiTerm node of the query to its
        (global divisor, matched query-field terms) — the two inputs
        a key-restricted shard cannot derive from its own
        dictionary.  ``precision="f64"`` scores in double precision
        (the SQL oracle's math) instead of the reference's f32."""
        import os
        layout = IndexLayout(index_dir)
        self.index_dir = index_dir
        self.config = config
        self._global_terms = global_terms
        self._global_df = global_df
        self._selectors = selectors
        self._f64 = precision == "f64"
        self.field_stats: Dict[str, Tuple[int, int]] = dict(
            snapshot.field_stats)
        # postings: (field, term) -> merged (doc_ids, tfs, lens)
        self._post: Dict[Tuple[str, str],
                         Tuple[np.ndarray, np.ndarray, np.ndarray]] = {}
        # lazy mode: permuted varbyte buffers + per-key block ranges;
        # _post then acts as the decode cache
        self._lazy_data: Optional[Tuple[np.ndarray, List]] = None
        self._key_blocks: Optional[Dict[Tuple[str, str],
                                        Tuple[int, int]]] = None

        def _dirs(name: str) -> List[str]:
            return [layout.job_dir(name, j) for j in jobs
                    if os.path.isdir(layout.job_dir(name, j))]

        self._docs_dirs = _dirs("docs")
        tbl = _read_postings(_dirs("postings"), keys,
                             config.tbuckets)
        # Vectorized shard load: order the BLOCK rows by
        # ((field, term), segment) — segments own disjoint doc-id
        # ranges, so per key the segment-ordered block concatenation
        # is already globally doc-sorted — permute the raw byte
        # buffers in that block order (cheap: bytes, not decoded
        # int64s), then decode EVERY posting block in one numpy pass
        # (codec.decode_blocks_concat).  Per-key entries are
        # zero-copy views into the three big arrays.  No per-posting
        # sort anywhere; replaces a per-block Python decode loop
        # that dominated shard spin-up (tests/test_codec_concat.py
        # pins decode parity with the per-block path;
        # tests/test_local_searcher.py pins rank identity).
        n_rows = tbl.num_rows
        if n_rows:
            fields = tbl.column("field").to_pylist()
            terms = tbl.column("term").to_pylist()
            segs = tbl.column("segment").to_numpy()
            codes = np.empty(n_rows, dtype=np.int64)
            uniq: Dict[Tuple[str, str], int] = {}
            for i in range(n_rows):
                codes[i] = uniq.setdefault((fields[i], terms[i]),
                                           len(uniq))
            perm = np.lexsort((segs, codes))      # block rows only
            cols = []
            for name in ("doc_bytes", "tf_bytes", "len_bytes"):
                buf, off = concat_binary(tbl.column(name))
                ln = np.diff(off)[perm]
                pbuf = buf[_ranges_to_indices(off[perm], ln)]
                poff = np.zeros(n_rows + 1, np.int64)
                np.cumsum(ln, out=poff[1:])
                cols.append((pbuf, poff))
            # per-key BLOCK ranges: key code is non-decreasing in
            # perm order, so key boundaries are block boundaries and
            # (key code being sorted with every code occurring) the
            # b-th distinct run is code b
            pc = codes[perm]
            last_block = np.append(np.flatnonzero(np.diff(pc)),
                                   n_rows - 1)
            first_block = np.concatenate([[0], last_block[:-1] + 1])
            if lazy:
                # hold bytes only; decode per key on first use
                self._lazy_data = (
                    np.ascontiguousarray(segs[perm], dtype=np.int64),
                    cols)
                self._key_blocks = {
                    key: (int(first_block[c]), int(last_block[c]) + 1)
                    for key, c in uniq.items()}
            else:
                doc_ids, tfs, lens, counts = decode_blocks_concat(
                    segs[perm], *cols[0], *cols[1], *cols[2])
                pends = np.cumsum(counts)
                key_lo = (pends - counts)[first_block]
                key_hi = pends[last_block]
                for key, c in uniq.items():
                    self._post[key] = (doc_ids[key_lo[c]:key_hi[c]],
                                       tfs[key_lo[c]:key_hi[c]],
                                       lens[key_lo[c]:key_hi[c]])
        # nested-TYPE indexes: the searcher's universe is PARENTS
        # ONLY (see _doc_meta); a nested inner tree temporarily swaps
        # in its path's child rows as the universe
        self._universe_override: Optional[np.ndarray] = None
        self._nested_context: Optional[str] = None
        self.deleted: Optional[np.ndarray] = None
        if snapshot.deletion_files:
            self.deleted = np.unique(np.concatenate([
                pq.read_table(f, columns=["doc_id"])
                .column("doc_id").to_numpy()
                for f in snapshot.deletion_files]))

    @cached_property
    def registry(self) -> AnalyzerRegistry:
        return analysis_registry(self.config)

    @cached_property
    def _doc_meta(self) -> Tuple[np.ndarray,
                                 Dict[str, Tuple[np.ndarray, np.ndarray]]]:
        """(parent doc ids sorted, {nested path: (child ids sorted,
        aligned parent doc ids)}), read from the shard's docs on
        first use — a query that needs neither the universe nor a
        nested fold never reads the docs table.

        Nested-TYPE indexes: the docs table holds internal child rows
        (one per array element, `_nested_parent` = parent key, key
        "<parent>#<path>#<pos>" — mapping.prepare_docs).  Children
        are invisible to match_all/negation/count, like ES hides
        Lucene block-join child docs."""
        docs_dirs = self._docs_dirs
        nested: Dict[str, Tuple[np.ndarray, np.ndarray]] = {}
        if not (self.config.nested_paths and docs_dirs):
            return np.sort(np.concatenate([
                pq.read_table(d, columns=["doc_id"])
                .column("doc_id").to_numpy()
                for d in docs_dirs] or
                [np.empty(0, dtype=np.int64)])), nested
        key_c = self.config.key_col
        dtbl = pa.concat_tables([
            pq.read_table(d, columns=["doc_id", key_c,
                                      "_nested_parent"])
            for d in docs_dirs])
        dids = dtbl.column("doc_id").to_numpy()
        keys = dtbl.column(key_c).to_pylist()
        pars = dtbl.column("_nested_parent").to_pylist()
        is_child = np.array([p is not None for p in pars])
        # ALL rows, not just roots: with multi-level nesting a child
        # row is itself the parent of deeper child rows
        pkey_to_id = {str(k): int(d) for k, d in zip(keys, dids)}
        # ONE pass over the rows, not one per path: a child key is
        # "<parent>#<path>#<pos>" with the STORED parent as its
        # literal prefix, so slicing it off and dropping the trailing
        # "#<pos>" recovers the path exactly (pos is digits; parent
        # and path may themselves contain '#')
        by_path: Dict[str, Tuple[List[int], List[int]]] = {
            p: ([], []) for p in self.config.nested_paths}
        for k, p, d, c in zip(keys, pars, dids, is_child):
            if not c:
                continue
            k = str(k)
            path = k[len(str(p)) + 1:k.rfind("#")]
            slot = by_path.get(path)
            if slot is not None:
                pid = pkey_to_id.get(str(p))
                if pid is not None:
                    slot[0].append(int(d))
                    slot[1].append(pid)
        for path, (cids, cpar) in by_path.items():
            ca = np.asarray(cids, dtype=np.int64)
            pa_ = np.asarray(cpar, dtype=np.int64)
            order = np.argsort(ca)
            nested[path] = (ca[order], pa_[order])
        return np.sort(dids[~is_child]), nested

    @property
    def all_doc_ids(self) -> np.ndarray:
        return self._doc_meta[0]

    @property
    def _nested(self) -> Dict[str, Tuple[np.ndarray, np.ndarray]]:
        return self._doc_meta[1]

    # -- public API ---------------------------------------------------
    def parse(self, query_json: dict) -> dsl.Query:
        return parse_query(self.config, self.registry, query_json)

    def _universe(self) -> np.ndarray:
        """Parent doc ids — or, while a nested inner tree evaluates,
        the path's child rows (match_all / root negations inside
        `nested` range over array elements, not parents)."""
        if self._universe_override is not None:
            return self._universe_override
        return self.all_doc_ids

    def _parent_gate(self, ids: np.ndarray,
                     scores: np.ndarray) -> Frame:
        """Internal child rows must never surface as public results:
        a flat query on a nested subfield scores child doc_ids, and
        ES semantics are that it matches nothing."""
        if not self.config.nested_paths or ids.size == 0:
            return ids, scores
        keep = _in_sorted(ids, self.all_doc_ids)
        return ids[keep], scores[keep]

    def matches(self, q: dsl.Query) -> Frame:
        """Every live public document ``q`` matches, with its score
        (doc-id sorted)."""
        ids, scores = self._parent_gate(
            *self._materialize(self._score(q)))
        if self.deleted is not None and ids.size:
            live = ~_in_sorted(ids, self.deleted)
            ids, scores = ids[live], scores[live]
        return ids, scores

    def top(self, q: dsl.Query, k: int) -> List[Tuple[int, float]]:
        """The first ``k`` matches in (score desc, doc_id asc) order."""
        ids, scores = self.matches(q)
        if ids.size > k:
            # argpartition alone picks an ARBITRARY subset of the docs
            # tied at the k-th score; the contract (the reference
            # collector, src/search/collectors/top_score.rs) is
            # deterministic tie-break by lowest doc_id.  Partition to
            # find the k-th score, then keep the WHOLE tie class at
            # the boundary so the final lexsort resolves ties.
            part = np.argpartition(-scores, k - 1)
            thresh = scores[part[k - 1]]
            keep = scores >= thresh
            ids, scores = ids[keep], scores[keep]
        order = np.lexsort((ids, -scores))[:k]
        return [(int(ids[i]), float(scores[i])) for i in order]

    def search(self, query_json: dict, size: int = 10,
               from_: int = 0) -> List[Tuple[int, float]]:
        return self.top(self.parse(query_json), from_ + size)[from_:]

    def count(self, query_json: Optional[dict] = None) -> int:
        q = dsl.All() if query_json is None else self.parse(query_json)
        return int(self.matches(q)[0].size)

    # -- evaluation -----------------------------------------------------
    def _dict_keys(self):
        """The shard's (field, term) dictionary — `_key_blocks` in
        lazy mode (where `_post` is only the decode cache)."""
        return (self._key_blocks if self._key_blocks is not None
                else self._post)

    def _lookup(self, key: Tuple[str, str]
                ) -> Optional[Tuple[np.ndarray, np.ndarray, np.ndarray]]:
        """Postings for one (field, term).  Lazy mode decodes the
        key's contiguous permuted byte range on first use and caches
        it — a query pays decode only for its own terms."""
        post = self._post.get(key)
        if post is not None or self._key_blocks is None:
            return post
        rng = self._key_blocks.get(key)
        if rng is None:
            return None
        fb, lbx = rng
        segs, cols = self._lazy_data
        parts: List[np.ndarray] = []
        for pbuf, poff in cols:
            b0 = int(poff[fb])
            parts.extend((pbuf[b0:int(poff[lbx])],
                          poff[fb:lbx + 1] - b0))
        doc_ids, tfs, lens, _ = decode_blocks_concat(
            segs[fb:lbx], *parts)
        post = (doc_ids, tfs, lens)
        self._post[key] = post
        return post

    def _term(self, field: str, term: str,
              scorer: dsl.TermScorer) -> Frame:
        post = self._lookup((field, term))
        if post is None:
            return _EMPTY
        ids, tfs, lens = post
        d, t = self.field_stats.get(field, (0, 0))
        # df is GLOBAL (the idf input): under sharding the local
        # posting length is only this shard's share
        df = (self._global_df.get((field, term), len(ids))
              if self._global_df is not None else len(ids))
        if self._f64:
            if scorer.similarity == dsl.TFIDF:
                s = tfidf_f64(tfs, d, df)
            else:
                s = bm25_f64(tfs, lengths_from_bytes_f64(lens), t, d, df)
            return ids, s * float(scorer.boost)
        if scorer.similarity == dsl.TFIDF:
            s = tfidf_f32(tfs, d, df)
        else:
            s = bm25_f32(tfs, lengths_from_bytes(lens), t, d, df)
        s = (s * np.float32(scorer.boost)).astype(np.float64)
        return ids, s

    def _multiterm(self, q) -> Frame:
        """MultiTerm (prefix, wildcard, regexp, fuzzy): per-doc Avg
        over the matched dictionary terms (score_function.rs:61-79).

        The Avg divisor counts matches in the GLOBAL term dictionary
        (all fields; term_dictionary.rs:78-85) — out-of-field terms
        contribute 0 to every doc but still count.  A shard must not
        use its local dictionary for it, or scores would depend on
        the shard split: the injected ``selectors`` (divisor and
        matched terms, enumerated once for the whole index) or
        ``global_terms`` keep it global."""
        if self._selectors is not None:
            n_dict, terms = self._selectors[q]
            matched = [(q.field, t) for t in terms]
        else:
            from .engine import selector_match
            match_fn, _ = selector_match(q)
            matched = [k for k in self._dict_keys() if k[0] == q.field
                       and match_fn(k[1])]
            if self._global_terms is not None:
                n_dict = sum(1 for t in self._global_terms if match_fn(t))
            else:
                n_dict = len({t for _, t in self._dict_keys()
                              if match_fn(t)})
        if not matched:
            return _EMPTY
        ids, s = self._sum_frames(
            [self._term(f, t, q.scorer) for f, t in matched])
        return ids, s / float(n_dict)

    @staticmethod
    def _sum_frames(frames: List[Frame]) -> Frame:
        ids = np.concatenate([f[0] for f in frames])
        s = np.concatenate([f[1] for f in frames])
        uids, inv = np.unique(ids, return_inverse=True)
        out = np.zeros(uids.size, dtype=np.float64)
        np.add.at(out, inv, s)
        return uids, out

    def _score(self, q: dsl.Query):
        if isinstance(q, dsl.All):
            return ("all", q.score)
        if isinstance(q, dsl.NoneQuery):
            return ("none", None)
        if isinstance(q, dsl.Term):
            return ("df", self._term(q.field, q.term, q.scorer))
        if isinstance(q, (dsl.Prefix, dsl.Wildcard, dsl.Regexp,
                          dsl.Fuzzy)):
            return ("df", self._multiterm(q))
        if isinstance(q, dsl.Nested):
            return ("df", self._nested_frame(q))
        if isinstance(q, dsl.Exists):
            ids = self._exists_ids(q.field)
            return ("df", (ids, np.full(ids.size, float(q.score))))
        if isinstance(q, (dsl.Conjunction, dsl.Disjunction,
                          dsl.DisjunctionMax)):
            mode = ("and" if isinstance(q, dsl.Conjunction) else
                    "or" if isinstance(q, dsl.Disjunction) else "max")
            return self._combine(q.queries, mode)
        if isinstance(q, dsl.Filter):
            return self._apply(self._score(q.query),
                               self._docset(q.filter), anti=False)
        if isinstance(q, dsl.Exclude):
            return self._apply(self._score(q.query),
                               self._docset(q.exclude), anti=True)
        raise TypeError(type(q))

    def _docset(self, q: dsl.Query):
        scored = self._score(q)
        if scored[0] == "df":
            return scored[1][0]
        return scored[0]            # "all" / "none" sentinel strings

    def _nested_child_scores(self, q: dsl.Nested,
                             kids: np.ndarray) -> Frame:
        """Live matched (doc_ids, scores) of q's inner query over the
        path's child rows — universe and nested context swapped to
        this path for the duration.  Only this path's children count
        (a flat term inside the nested body could score other rows),
        and deleted children must not contribute to a surviving
        parent's score.  score_mode "none" evaluates the cheaper
        docset and emits score 0.0."""
        prev, prev_ctx = self._universe_override, self._nested_context
        self._universe_override = kids
        self._nested_context = q.path
        try:
            if q.score_mode == "none":
                ds = self._docset(q.query)
                if isinstance(ds, str):
                    ids = (kids if ds == "all"
                           else np.empty(0, np.int64))
                else:
                    ids = ds
                scores = np.zeros(ids.size, dtype=np.float64)
            else:
                ids, scores = self._materialize(self._score(q.query))
        finally:
            self._universe_override = prev
            self._nested_context = prev_ctx
        keep = _in_sorted(ids, kids)
        if self.deleted is not None and ids.size:
            keep &= ~_in_sorted(ids, self.deleted)
        return ids[keep], scores[keep]

    def inner_hits(self, node: dsl.Nested,
                   root_ids: List[int]) -> Dict[int, List[dict]]:
        """ES inner_hits: per ROOT doc_id, the node's top matching
        child rows — synthetic key, array offset, score, subfield
        values — ranked (score desc, doc_id asc), sliced
        [from, from+size).  Child metadata loads lazily per path from
        the docs sidecar (one pyarrow read, cached)."""
        from ..nested import nested_parent_path as _npp
        name, size, from_ = node.inner_hits
        kids, _ = self._nested.get(
            node.path, (np.empty(0, np.int64), np.empty(0, np.int64)))
        ids, scores = self._nested_child_scores(node, kids)
        out: Dict[int, List[dict]] = {}
        if ids.size == 0:
            return out
        # walk every matched child to its ROOT ancestor
        roots = self._nested[node.path][1][
            np.searchsorted(self._nested[node.path][0], ids)]
        lvl = _npp(node.path, self.config.nested_paths)
        while lvl is not None:
            lk, lp = self._nested[lvl]
            roots = lp[np.searchsorted(lk, roots)]
            lvl = _npp(lvl, self.config.nested_paths)
        want = np.asarray(sorted(set(int(r) for r in root_ids)),
                          dtype=np.int64)
        keep = _in_sorted(roots, want)
        ids, scores, roots = ids[keep], scores[keep], roots[keep]
        if ids.size == 0:
            return out
        ckeys, cfields = self._nested_meta(node.path)
        # rank per root: sort by (root, -score, doc_id), slice per group
        order = np.lexsort((ids, -scores, roots))
        ids, scores, roots = ids[order], scores[order], roots[order]
        pos = {int(d): i for i, d in enumerate(ckeys[0])}
        rank = 0
        prev_root = None
        for d, s, r in zip(ids, scores, roots):
            rank = rank + 1 if r == prev_root else 1
            prev_root = r
            if rank <= from_ or rank > from_ + size:
                continue
            i = pos[int(d)]
            k = ckeys[1][i]
            out.setdefault(int(r), []).append({
                "key": k,
                "offset": int(k.rsplit("#", 1)[1]),
                "score": float(s),
                "fields": {c: v[i] for c, v in cfields.items()},
            })
        return out

    def _nested_meta(self, path: str):
        """Lazily-loaded child metadata for one nested path:
        ((child_ids, keys), {subfield: values}) aligned arrays."""
        cache = getattr(self, "_nested_meta_cache", None)
        if cache is None:
            cache = self._nested_meta_cache = {}
        got = cache.get(path)
        if got is not None:
            return got
        import pyarrow as pa
        import pyarrow.parquet as pq
        key_c = self.config.key_col
        subcols = [c for c in dict.fromkeys(
            list(self.config.fields) + self.config.stored)
            if c.startswith(path + ".")]
        tbl = pa.concat_tables([
            pq.read_table(d, columns=["doc_id", key_c] + subcols)
            for d in self._docs_dirs])
        dids = tbl.column("doc_id").to_numpy()
        member = _in_sorted(dids, self._nested[path][0])
        dids = dids[member]
        keys = np.asarray(tbl.column(key_c).to_pylist(),
                          dtype=object)[member]
        fields = {c: np.asarray(tbl.column(c).to_pylist(),
                                dtype=object)[member] for c in subcols}
        got = ((dids, keys), fields)
        cache[path] = got
        return got

    def _exists_ids(self, field: str) -> np.ndarray:
        """Sorted doc_ids whose stored ``field`` is present — non-null
        and, for list columns, non-empty.  One lazy column-pruned
        pyarrow read per field, cached; unknown fields (never stored)
        match nothing, and so do the rows of a job whose docs file
        predates the column."""
        cache = getattr(self, "_exists_cache", None)
        if cache is None:
            cache = self._exists_cache = {}
        got = cache.get(field)
        if got is not None:
            return got
        import pyarrow.compute as pc
        import pyarrow.dataset as pds
        known = ({self.config.key_col} | set(self.config.fields)
                 | set(self.config.stored))
        parts = [np.empty(0, dtype=np.int64)]
        for d in (self._docs_dirs if field in known else []):
            dset = pds.dataset(d, format="parquet")
            if field not in dset.schema.names:
                continue
            tbl = dset.to_table(columns=["doc_id", field])
            col = tbl.column(field)
            if pa.types.is_list(col.type) \
                    or pa.types.is_large_list(col.type):
                lens = pc.fill_null(pc.list_value_length(col), 0)
                mask = pc.and_(pc.is_valid(col), pc.greater(lens, 0))
            else:
                mask = pc.is_valid(col)
            m = mask.combine_chunks().to_numpy(zero_copy_only=False)
            parts.append(tbl.column("doc_id").to_numpy()[m])
        ids = np.sort(np.concatenate(parts))
        cache[field] = ids
        return ids

    def _nested_frame(self, q: dsl.Nested) -> Frame:
        """ES nested query: evaluate the inner query over the path's
        CHILD rows — universe swapped so inner match_all / root
        negations range over array elements — keep live matched
        children, fold child scores to parents per score_mode through
        the preloaded child→parent arrays (a numpy group-by in place
        of Lucene's block join).  The output frame is parent-sorted
        (np.unique)."""
        from ..nested import nested_parent_path as _npp
        ctxp = self._nested_context
        if ctxp is not None and not q.path.startswith(ctxp + "."):
            raise dsl.QueryParseError(
                f"nested path {q.path!r} is not a descendant of the "
                f"enclosing nested path {ctxp!r}")
        kids, kid_parents = self._nested.get(
            q.path, (np.empty(0, np.int64), np.empty(0, np.int64)))
        ids, scores = self._nested_child_scores(q, kids)
        if ids.size == 0:
            return _EMPTY
        # walk ancestors up to the enclosing level, THEN group once —
        # one score_mode application over all q.path descendants of
        # each target-level ancestor (ES block-join semantics)
        parents = kid_parents[np.searchsorted(kids, ids)]
        lvl = _npp(q.path, self.config.nested_paths)
        while lvl != ctxp:
            lk, lp = self._nested[lvl]
            parents = lp[np.searchsorted(lk, parents)]
            lvl = _npp(lvl, self.config.nested_paths)
        uparents, inv, counts = np.unique(parents, return_inverse=True,
                                          return_counts=True)
        if q.score_mode == "none":
            return uparents, np.zeros(uparents.size, dtype=np.float64)
        if q.score_mode == "max":
            out = np.full(uparents.size, -np.inf)
            np.maximum.at(out, inv, scores)
        else:
            out = np.zeros(uparents.size, dtype=np.float64)
            np.add.at(out, inv, scores)
            if q.score_mode == "avg":
                out = out / counts
        return uparents, out

    def _apply(self, scored, dset, anti: bool):
        kind, val = scored
        if kind == "none":
            return scored
        if isinstance(dset, str):
            hit_all = dset == "all"
            if (hit_all and not anti) or (not hit_all and anti):
                return scored
            return ("none", None)
        if kind == "all":
            universe = self._universe()
            keep = (~_in_sorted(universe, dset) if anti
                    else _in_sorted(universe, dset))
            ids = universe[keep]
            return ("df", (ids, np.full(ids.size, float(val))))
        ids, s = val
        keep = ~_in_sorted(ids, dset) if anti else _in_sorted(ids, dset)
        return ("df", (ids[keep], s[keep]))

    def _combine(self, children, mode: str):
        scored = [self._score(c) for c in children]
        n = len(scored)
        if n == 0 or (mode == "and"
                      and any(k == "none" for k, _ in scored)):
            return ("none", None)
        consts = [v for k, v in scored if k == "all"]
        frames = [v for k, v in scored if k == "df"]
        if not frames:
            if mode == "max":
                return ("all", max(consts)) if consts else ("none", None)
            if mode == "or" and not consts:
                return ("none", None)
            return ("all", sum(consts) / n if mode != "max" else max(consts))
        if mode == "max":
            ids = np.concatenate([f[0] for f in frames])
            s = np.concatenate([f[1] for f in frames])
            uids, inv = np.unique(ids, return_inverse=True)
            out = np.zeros(uids.size, dtype=np.float64)
            np.maximum.at(out, inv, s)
            if consts:
                cmax = max(consts)
                out = np.maximum(out, cmax)
                uni = self._universe()
                rest = uni[~_in_sorted(uni, uids)]
                uids, out = _merge_sorted_disjoint(
                    uids, out, rest, np.full(rest.size, cmax))
            return ("df", (uids, out))
        ids = np.concatenate([f[0] for f in frames])
        s = np.concatenate([f[1] for f in frames])
        uids, inv, counts = np.unique(ids, return_inverse=True,
                                      return_counts=True)
        out = np.zeros(uids.size, dtype=np.float64)
        np.add.at(out, inv, s)
        out = (out + float(sum(consts))) / float(n)
        if mode == "and":
            full = counts == len(frames)
            return ("df", (uids[full], out[full]))
        if consts:          # or-with-All: every doc matches
            uni = self._universe()
            rest = uni[~_in_sorted(uni, uids)]
            uids, out = _merge_sorted_disjoint(
                uids, out, rest, np.full(rest.size, float(sum(consts)) / n))
        return ("df", (uids, out))

    def _materialize(self, scored) -> Frame:
        kind, val = scored
        if kind == "df":
            return val
        if kind == "none":
            return _EMPTY
        uni = self._universe()
        return (uni, np.full(uni.size, float(val)))


def load_global_dict(index_dir: str, jobs: Optional[List[int]] = None
                     ) -> Tuple[List[str], Dict[Tuple[str, str], int]]:
    """(distinct terms across all fields, (field, term) → global df)
    over ``jobs`` (default: every committed job) from the term_dict
    sidecars — a narrow columnar read, small next to postings.  Falls
    back to the postings block metadata when a job lacks its sidecar
    (legacy indexes).  These are the two score inputs that must stay
    index-wide when serving is document-sharded."""
    import os
    layout = IndexLayout(index_dir)
    if jobs is None:
        jobs = layout.completed_jobs_local()
    jobs = [j for j in jobs
            if os.path.isdir(layout.job_dir("postings", j))]
    table, df_col = "term_dict", "df"
    if not all(os.path.isdir(layout.job_dir("term_dict", j))
               for j in jobs):
        table, df_col = "postings", "df_block"
    dirs = [layout.job_dir(table, j) for j in jobs]
    if not dirs:
        return [], {}
    tbl = pa.concat_tables([
        pq.read_table(d, columns=["field", "term", df_col])
        for d in dirs])
    df_map: Dict[Tuple[str, str], int] = {}
    terms = set()
    for f, t, d in zip(tbl.column("field").to_pylist(),
                       tbl.column("term").to_pylist(),
                       tbl.column(df_col).to_pylist()):
        terms.add(t)
        k = (f, t)
        df_map[k] = df_map.get(k, 0) + int(d)
    return sorted(terms), df_map


class ShardedSearcher:
    """The serving tier's scale-out shape: one LocalSearcher per
    document shard, global top-k by merging per-shard top-k.

    The shard unit is the build JOB — jobs own disjoint url-hash
    bucket ranges, so a shard holds every posting of its documents
    and evaluates ANY query tree exactly over them (term-partitioned
    sharding would break conjunctions: no shard would hold both terms
    of a doc).  Scores are shard-independent because every score
    input is global — field_stats load index-wide in each shard and
    the MultiTerm divisor comes from the injected index-wide
    dictionary — so a doc's score is identical to the unsharded
    searcher's and merging per-shard top-k (each with the same
    (-score, doc_id) tie order) IS the global top-k.  Per-process
    memory is bounded by the largest shard, not the index
    (SearchEngine's "auto" cutoff uses per-shard bytes).

    ``shards`` groups job ids per shard (default one shard per job);
    in a real deployment each group would live in its own serving
    process — here they share one process, which is the same math.
    Spark-mode search places the same per-job evaluation in one Spark
    task per shard (query/engine.py).
    """

    def __init__(self, index_dir: str,
                 shards: Optional[List[List[int]]] = None,
                 lazy: bool = False):
        layout = IndexLayout(index_dir)
        self.config = layout.read_config()
        if self.config.nested_paths and not self.config.nested_colocated:
            raise ValueError(
                "this nested-type index predates parent-colocated "
                "bucketing; rebuild it to serve job-restricted "
                "shards, or use the whole-index LocalSearcher / "
                "mode='spark'")
        snap = layout.snapshot()
        if shards is None:
            shards = [[j] for j in snap.jobs]
        gterms, gdf = load_global_dict(index_dir, list(snap.jobs))
        self.registry = analysis_registry(self.config)
        self.shards = [LocalSearcher.pinned(
            index_dir, self.config, snap,
            sorted(set(js) & set(snap.jobs)), lazy=lazy,
            global_terms=gterms, global_df=gdf) for js in shards]

    def parse(self, query_json: dict) -> dsl.Query:
        return parse_query(self.config, self.registry, query_json)

    def search(self, query_json: dict, size: int = 10,
               from_: int = 0) -> List[Tuple[int, float]]:
        q = self.parse(query_json)
        k = from_ + size
        # any doc in the global top-k is in its own shard's top-k
        # under the same deterministic tie order
        cand: List[Tuple[int, float]] = []
        for s in self.shards:
            cand.extend(s.top(q, k))
        cand.sort(key=lambda t: (-t[1], t[0]))
        return cand[from_:k]

    def matches(self, q: dsl.Query) -> Frame:
        """Every live public match of ``q`` over all shards (shards
        hold disjoint documents, so this is a concatenation)."""
        frames = [s.matches(q) for s in self.shards] or [_EMPTY]
        return (np.concatenate([f[0] for f in frames]),
                np.concatenate([f[1] for f in frames]))

    def count(self, query_json: Optional[dict] = None) -> int:
        q = dsl.All() if query_json is None else self.parse(query_json)
        return int(self.matches(q)[0].size)

    def inner_hits(self, node: "dsl.Nested",
                   root_ids: List[int]) -> Dict[int, List[dict]]:
        """A root document's entire descendant chain co-locates in
        ONE shard (parent-complete bucketing), so the global answer
        is the disjoint union of per-shard answers."""
        out: Dict[int, List[dict]] = {}
        for s in self.shards:
            out.update(s.inner_hits(node, root_ids))
        return out
