"""The repository benchmark: bulk build, search and update workloads
over a seeded, generated Common-Crawl-style corpus.

Run from the repository root:

    python3 perfbench/run.py --workload build --seed 1 --seconds 20 --trace 0

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``.  With
``--trace 0`` the metrics are the end-to-end metrics declared in
``BENCHMARK.json``; with ``--trace 1`` they are the per-layer metrics.
The line before it is a report with every metric the workload
measured under the names ``perfbench/README.md`` defines, the run's
stamps (seed, nproc, commit, host-probe readings) and the failing
operations.  Spans of a traced run are written to
``.perfbench_out/``.  Everything else the run writes goes under
``.perfbench_work/`` and is removed when the run ends.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback
from typing import Callable, Dict, List, Optional

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()

#: corpus and stream sizes (pages) per workload
BUILD_PAGES = 600
SEARCH_PAGES = 1_500
UPDATE_BASE_PAGES = 400
UPDATE_BATCHES = 1
UPDATE_BATCH_PAGES = 60
UPDATE_DELETES = 6
#: bench.py's build configuration
BUILD_JOBS = 2
BUILD_PARALLEL = 2
N_BUCKETS = 64
T_BUCKETS = 4

TOP_K = 10
#: serving phase: at least one query of every shape, and enough GETs
SPARK_QUERIES_MIN = 11
GETS_MIN = 60


# -- small helpers --------------------------------------------------------

def nproc() -> int:
    return len(os.sched_getaffinity(0))


def pct(values: List[float], q: float) -> Optional[float]:
    """The q-th percentile (0 < q < 100) by linear interpolation, or
    None unless at least 10 samples lie beyond it (a tail percentile
    is reported only when it is backed by ten samples)."""
    n = len(values)
    if n == 0 or n * (1 - q / 100.0) < 10 and q > 50:
        return None
    s = sorted(values)
    pos = (n - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, n - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def median(values: List[float]) -> Optional[float]:
    return statistics.median(values) if values else None


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def source_digest() -> str:
    """sha1 over the package sources: identifies the code under test
    where no git metadata exists."""
    h = hashlib.sha1()
    pkg = os.path.join(ROOT, "rusticsearch_spark")
    for root, dirs, files in os.walk(pkg):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                p = os.path.join(root, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:12]


def git_commit() -> Optional[str]:
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.SubprocessError):
        return None
    return out.stdout.strip() or None if out.returncode == 0 else None


class RssMeter:
    """Peak resident memory of the driver (this Python process plus
    the Spark driver JVM) from a reset point on: the kernel's high
    water mark ``VmHWM``, reset through ``/proc/<pid>/clear_refs``."""

    def __init__(self) -> None:
        self.pids: List[int] = [os.getpid()]
        self.reset_ok = True

    def add(self, pid: Optional[int]) -> None:
        if pid:
            self.pids.append(pid)

    def reset(self) -> None:
        for pid in self.pids:
            try:
                with open(f"/proc/{pid}/clear_refs", "w") as f:
                    f.write("5")
            except OSError:
                self.reset_ok = False

    @staticmethod
    def _status_kb(pid: int, key: str) -> int:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith(key + ":"):
                        return int(line.split()[1])
        except OSError:
            pass
        return 0

    def peak_mb(self) -> float:
        return sum(self._status_kb(p, "VmHWM") for p in self.pids) / 1024

    def rss_mb(self) -> float:
        return sum(self._status_kb(p, "VmRSS") for p in self.pids) / 1024


# -- the run --------------------------------------------------------------

class Run:
    """State of one benchmark run: arguments, Spark session, tracer,
    operation accounting and timings."""

    def __init__(self, args: argparse.Namespace, work: str):
        self.args = args
        self.seed = args.seed
        self.seconds = float(args.seconds)
        self.traced = bool(args.trace)
        self.work = work
        self.spark = None
        self.jvm = None
        self.rss = RssMeter()
        from tracing import Tracer
        self.tracer = Tracer(False)
        self.instr = None
        self.attempted = 0
        self.failures: List[dict] = []
        self._failed_ops: set = set()
        self._tls = threading.local()
        self._lock = threading.Lock()
        self.metrics: Dict[str, float] = {}
        self.layer: Dict[str, float] = {}
        self.slots = nproc()
        #: index artifacts captured for the per-layer roll-up
        self.indexes: List[dict] = []
        #: (seconds, traced) of every headline operation
        self.headline: List[tuple] = []
        self.t_start = time.perf_counter()
        self.setup_s = 0.0
        self.t_measure = 0.0
        self.measure_s = 0.0
        self.peak_rss_mb = 0.0
        self.event_dir = os.path.join(work, "eventlog")

    # ops ---------------------------------------------------------------
    def op(self, kind: str, fn: Callable, *, traced_name: Optional[str] = None,
           **attrs):
        """Run one operation, timing it; returns (result, seconds) or
        (None, seconds) when it raised (recorded as failed)."""
        with self._lock:
            self.attempted += 1
            self._tls.op = self.attempted
        t0 = time.perf_counter()
        try:
            with self.tracer.span(traced_name or kind, op=True, **attrs):
                out = fn()
        except Exception as e:     # a failed operation, not a crash
            dt = time.perf_counter() - t0
            self.check(kind, False, f"{type(e).__name__}: {e}"[:300])
            self._tls.raised = True
            return None, dt
        self._tls.raised = False
        return out, time.perf_counter() - t0

    def raised(self) -> bool:
        """Whether this thread's last operation raised."""
        return getattr(self._tls, "raised", False)

    def check(self, kind: str, ok: bool, detail: str) -> bool:
        """An output check of this thread's last operation; a failed
        check marks that operation failed (once, however many of its
        checks fail)."""
        if not ok:
            with self._lock:
                self.failures.append({"op": kind, "detail": detail})
                self._failed_ops.add(getattr(self._tls, "op", 0))
        return ok

    @property
    def failed(self) -> int:
        return len(self._failed_ops)

    def elapsed(self) -> float:
        return time.perf_counter() - self.t_measure

    # spark -------------------------------------------------------------
    def start_spark(self):
        from pyspark.sql import SparkSession
        n = nproc()
        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        b = (SparkSession.builder.master(f"local[{n}]")
             .appName("rusticsearch-perfbench")
             .config("spark.sql.shuffle.partitions", str(max(16, 2 * n)))
             .config("spark.sql.files.maxPartitionBytes", "32m")
             .config("spark.sql.files.openCostInBytes", "1m")
             .config("spark.sql.execution.arrow.maxRecordsPerBatch", "32768")
             .config("spark.sql.adaptive.enabled", "false")
             .config("spark.buffer.pageSize", "1m")
             .config("spark.driver.memory", "2g")
             .config("spark.scheduler.mode", "FAIR")
             .config("spark.ui.enabled", "false")
             .config("spark.ui.showConsoleProgress", "false")
             .config("spark.local.dir", os.path.join(self.work, "spark-local"))
             .config("spark.sql.warehouse.dir",
                     os.path.join(self.work, "warehouse"))
             .config("spark.driver.extraJavaOptions",
                     f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}"))
        if self.traced:
            os.makedirs(self.event_dir, exist_ok=True)
            b = (b.config("spark.eventLog.enabled", "true")
                 .config("spark.eventLog.dir", "file://" + self.event_dir)
                 .config("spark.eventLog.compress", "false"))
        self.spark = b.getOrCreate()
        self.spark.sparkContext.setLogLevel("ERROR")
        from pyspark import SparkContext
        gw = SparkContext._gateway
        self.jvm = getattr(gw, "proc", None)
        self.rss.add(self.jvm.pid if self.jvm else None)
        if self.traced:
            from tracing import Instrumentation, Tracer
            self.tracer = Tracer(True, self.spark)
            self.instr = Instrumentation(self.tracer).install()
        return self.spark

    def setup_done(self) -> None:
        """End of set-up: the measured phase starts now."""
        self.setup_s = time.perf_counter() - self.t_start
        self.rss.reset()
        self.t_measure = time.perf_counter()

    def headline_op(self, i: int):
        """Context for the i-th headline operation: in a traced run
        every other one runs untraced, which measures the overhead."""
        return self.tracer.suspended(self.traced and i % 2 == 1)

    def capture_index(self, index_dir: str, measured: bool = True) -> None:
        """Record the index artifacts the per-layer roll-up reads
        (traced runs only): lineage rows, their commit times, postings
        bytes, block and posting counts."""
        if not self.traced:
            return
        import pyarrow.dataset as ds
        import pyarrow.parquet as pq
        from rusticsearch_spark.index.layout import IndexLayout
        lay = IndexLayout(index_dir)
        info = {"measured": measured, "wall_sec": {}, "lineage_mtime": {},
                "posting_blocks": 0, "postings": 0,
                "postings_bytes": sum(dir_bytes(d) for d in
                                      lay.committed_dirs("postings"))}
        for j in lay.completed_jobs_local():
            d = lay.job_dir("lineage", j)
            row = pq.read_table(d).to_pylist()[0]
            info["wall_sec"][j] = float(row["wall_sec"])
            info["posting_blocks"] += int(row["n_posting_blocks"])
            info["lineage_mtime"][j] = max(
                os.stat(os.path.join(d, f)).st_mtime_ns
                for f in os.listdir(d)) / 1e9
        for d in lay.committed_dirs("term_dict"):
            tbl = ds.dataset(d, format="parquet").to_table(columns=["df"])
            info["postings"] += int(sum(tbl.column("df").to_pylist()))
        self.indexes.append(info)

    def stop_spark(self) -> None:
        if self.instr is not None:
            self.instr.restore()
        if self.spark is not None:
            self.spark.stop()
            from pyspark import SparkContext
            gw = SparkContext._gateway
            if gw is not None:
                try:
                    gw.shutdown()
                except Exception:
                    pass
                SparkContext._gateway = None
                SparkContext._jvm = None
        if self.jvm is not None:
            try:
                if self.jvm.stdin:
                    self.jvm.stdin.close()
                self.jvm.wait(timeout=60)
            except subprocess.TimeoutExpired:
                self.jvm.kill()
                self.jvm.wait(timeout=30)
        self.spark = None


# -- checks shared by the workloads ---------------------------------------

_WORD = re.compile(r"[a-z0-9]+")


def words_of(text: str) -> set:
    """Terms of an all-ASCII generated page: the generator only puts
    letters, single spaces, commas and full stops in its text, so the
    standard analyzer's terms are the lowercased letter runs."""
    return set(_WORD.findall(text.lower()))


def read_docs(index_dir: str, columns: List[str]):
    """Committed docs rows of an index (pyarrow, no Spark)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from rusticsearch_spark.index.layout import IndexLayout
    lay = IndexLayout(index_dir)
    tables = [pq.read_table(d, columns=columns)
              for d in lay.committed_dirs("docs")]
    return pa.concat_tables(tables) if tables else None


def term_df(index_dir: str, words: List[str]) -> Dict[str, int]:
    """Document frequency of ``words`` in the text field, summed over
    the committed term_dict sidecars (pyarrow, no Spark)."""
    import pyarrow.dataset as ds
    from rusticsearch_spark.index.layout import IndexLayout
    lay = IndexLayout(index_dir)
    out = {w: 0 for w in words}
    for d in lay.committed_dirs("term_dict"):
        tbl = ds.dataset(d, format="parquet").to_table(
            filter=(ds.field("field") == "text")
            & ds.field("term").isin(words), columns=["term", "df"])
        for t, df in zip(tbl.column("term").to_pylist(),
                         tbl.column("df").to_pylist()):
            out[t] += int(df)
    return out


def index_config(small: bool = False):
    """bench.py's index configuration; ``small`` scales the bucket and
    shuffle widths down for the update workload's small base."""
    from rusticsearch_spark.index.layout import IndexConfig
    n = nproc()
    if small:
        return IndexConfig(key_col="url", fields={"text": "standard",
                                                  "lang": None},
                           n_buckets=16, tbuckets=2, shuffle_partitions=n)
    return IndexConfig(key_col="url", fields={"text": "standard",
                                              "lang": None},
                       n_buckets=N_BUCKETS, tbuckets=T_BUCKETS,
                       shuffle_partitions=max(16, 2 * n))


def build(spark, src: str, index_dir: str, small: bool = False) -> dict:
    from rusticsearch_spark.index.build import build_index
    shutil.rmtree(index_dir, ignore_errors=True)
    return build_index(spark, spark.read.parquet(src), index_dir,
                       index_config(small), jobs=BUILD_JOBS,
                       parallel=BUILD_PARALLEL)


def setup_build(run: "Run", src: str, index_dir: str, n_docs: int,
                small: bool = False) -> None:
    """The set-up build of the search and update workloads: an
    operation like any other (traced, checked for raising)."""
    _, dt = run.op("build", lambda: build(run.spark, src, index_dir, small),
                   traced_name="index.build.build_index",
                   write_jobs=BUILD_JOBS, docs=n_docs, measured=False)
    if run.raised():
        raise RuntimeError("set-up build failed: "
                           + run.failures[-1]["detail"])
    run.metrics["setup_build_s"] = dt
    run.capture_index(index_dir, measured=False)


# -- workloads ------------------------------------------------------------

def workload_build(run: Run) -> None:
    """Bulk ``build_index`` of an all-ASCII corpus, repeated."""
    import corpus
    lex = corpus.Lexicon.make(run.seed)
    pages = corpus.corpus(run.seed, BUILD_PAGES, multilingual=False, lex=lex)
    src = os.path.join(run.work, "pages")
    corpus.write_pages(pages, src)
    in_bytes = pages.input_bytes()
    # expected document frequencies of a sample of words, from the
    # generated text alone
    sample = sorted({lex.ascii[i] for i in
                     (0, 1, 5, 20, 99, 150, 600, 1500, 4000, 12000)})
    page_words = [words_of(t) for t in pages.text]
    want_df = {w: sum(1 for s in page_words if w in s) for w in sample}
    want_keys = sorted(pages.url)
    spark = run.start_spark()
    run.setup_done()

    walls, ratios = [], []
    i = 0
    # the first build pays the JVM's and the Python workers' first
    # use, as a one-shot bulk build does
    while i < 1 or run.elapsed() < run.seconds:
        idx = os.path.join(run.work, f"idx{i}")
        with run.headline_op(i):
            _, dt = run.op("build", lambda: build(spark, src, idx),
                           traced_name="index.build.build_index",
                           write_jobs=BUILD_JOBS, docs=len(pages),
                           measured=True)
        run.headline.append((dt, not (run.traced and i % 2 == 1)))
        i += 1
        if run.raised():
            continue
        walls.append(dt)
        docs = read_docs(idx, ["url"])
        got_keys = sorted(docs.column("url").to_pylist()) if docs else []
        got_df = term_df(idx, sample)
        run.check("build", got_keys == want_keys,
                  f"build {i}: indexed keys differ from the corpus "
                  f"({len(got_keys)} vs {len(want_keys)})")
        run.check("build", got_df == want_df,
                  f"build {i}: term df {got_df} != expected {want_df}")
        ratios.append(dir_bytes(idx) / in_bytes)
        if not (run.traced and i % 2 == 0):
            run.capture_index(idx)
        shutil.rmtree(idx, ignore_errors=True)
    m = run.metrics
    m["n_docs"] = len(pages)
    m["builds"] = len(walls)
    m["build_docs_per_s"] = len(pages) / median(walls) if walls else None
    m["write_docs_per_s"] = m["build_docs_per_s"]
    m["index_bytes_per_input_byte"] = median(ratios)
    m["op_p50_s"] = median(walls)


def workload_search(run: Run) -> None:
    """Spark-mode and local-mode queries, then GETs, on a built
    multilingual index (not listed in BENCHMARK.json: the update
    workload runs the same serving phase after its merge)."""
    import corpus
    from rusticsearch_spark.cluster import Cluster
    lex = corpus.Lexicon.make(run.seed)
    pages = corpus.corpus(run.seed, SEARCH_PAGES, multilingual=True, lex=lex)
    src = os.path.join(run.work, "pages")
    corpus.write_pages(pages, src)
    rows = {u: (t, g) for u, t, g in zip(pages.url, pages.text, pages.lang)}
    run.start_spark()
    root = os.path.join(run.work, "cluster")
    idx = os.path.join(root, "pages")
    setup_build(run, src, idx, len(pages))
    cluster = Cluster(run.spark, root)
    cluster.registry.insert_index("pages")
    run.setup_done()
    serve_phase(run, cluster, idx, rows, lex, run.seconds)
    run.metrics["write_docs_per_s"] = (len(pages)
                                       / run.metrics["setup_build_s"])
    run.metrics["index_bytes_per_input_byte"] = (dir_bytes(idx)
                                                 / pages.input_bytes())


def serve_phase(run: Run, cluster, idx: str, rows: Dict[str, tuple],
                lex, seconds: float) -> None:
    """The serving measurements on a committed index: a seeded query
    mix in spark mode, the same queries in local mode (checked to be
    rank-identical), more local queries for the tail, then GETs on a
    Zipf-skewed key sample (checked against the generated rows).
    ``rows`` maps every live key to its (text, lang)."""
    import corpus
    from rusticsearch_spark.query.engine import SearchEngine
    from rusticsearch_spark.query.local import LocalSearcher
    spark = run.spark
    mix = corpus.query_mix(run.seed, 400, multilingual=True, lex=lex)
    keys = corpus.get_keys(run.seed, sorted(rows), 4_000)
    t0 = time.perf_counter()

    def left() -> float:
        return seconds - (time.perf_counter() - t0)

    cluster.refresh("pages")
    eng, _ = run.op("engine_open", lambda: SearchEngine(spark, idx),
                    traced_name="query.engine.open")
    if eng is None:
        raise RuntimeError("engine open failed: "
                           + run.failures[-1]["detail"])
    with run.tracer.suspended():        # warm-up, untimed
        for q in corpus.query_mix(run.seed + 7919, 3, True, lex):
            _spark_query(run, eng, q)
    # spark mode
    spark_lat: List[float] = []
    shape_lat: Dict[str, List[float]] = {}
    results = []
    while len(results) < SPARK_QUERIES_MIN or left() > 0.45 * seconds:
        i = len(results)
        q = mix[i % len(mix)]
        with run.headline_op(i):
            out, dt = run.op("spark_search",
                             lambda: _spark_query(run, eng, q),
                             traced_name="query.engine.search",
                             shape=q.shape)
        results.append((q, out))
        if out is not None:
            run.headline.append((dt, not (run.traced and i % 2 == 1)))
            spark_lat.append(dt)
            shape_lat.setdefault(q.shape, []).append(dt)
    # local mode: open, then the same queries, checked against spark
    rss0 = run.rss.rss_mb()
    ls, open_s = run.op("local_open", lambda: LocalSearcher(idx),
                        traced_name="query.local.open")
    run.layer["local.rss_mb"] = run.rss.rss_mb() - rss0
    local_lat: List[float] = []
    if ls is not None:
        for q, want in results:
            got, dt = run.op("local_search", lambda: _local_query(ls, q),
                             traced_name="query.local.search",
                             shape=q.shape)
            if run.raised():
                continue
            local_lat.append(dt)
            if want is not None:
                run.check("local_search", _same(want, got),
                          f"{q.shape} {json.dumps(q.body)}: spark {want} "
                          f"!= local {got}")
        # more local samples for the tail, over the rest of the mix
        j = len(results)
        while left() > 0.15 * seconds and j < len(mix):
            q = mix[j]
            j += 1
            _, dt = run.op("local_search", lambda: _local_query(ls, q),
                           traced_name="query.local.search", shape=q.shape)
            if not run.raised():
                local_lat.append(dt)
    # GETs on a Zipf-skewed key sample
    get_lat: List[float] = []
    g = 0
    while g < GETS_MIN or left() > 0:
        key = keys[g % len(keys)]
        g += 1
        row, dt = run.op("get", lambda: cluster.get_document("pages", key),
                         traced_name="cluster.get_document")
        if run.raised():
            continue
        get_lat.append(dt)
        text, lang = rows[key]
        run.check("get", row is not None and row.get("url") == key
                  and row.get("text") == text and row.get("lang") == lang,
                  f"GET {key}: wrong or missing row")
    m = run.metrics
    m["spark_queries"] = len(spark_lat)
    m["spark_search_p50_s"] = median(spark_lat)
    m["spark_search_p90_s"] = pct(spark_lat, 90)
    m["local_open_s"] = open_s
    m["local_queries"] = len(local_lat)
    m["local_search_p50_ms"] = _ms(median(local_lat))
    m["local_search_p90_ms"] = _ms(pct(local_lat, 90))
    m["local_search_p99_ms"] = _ms(pct(local_lat, 99))
    m["gets"] = len(get_lat)
    m["get_p50_ms"] = _ms(median(get_lat))
    m["get_p90_ms"] = _ms(pct(get_lat, 90))
    m["get_p99_ms"] = _ms(pct(get_lat, 99))
    m["spark_search_p50_s_by_shape"] = {k: median(v)
                                        for k, v in shape_lat.items()}
    m["op_p50_s"] = median(spark_lat)


def workload_update(run: Run) -> None:
    """An upsert batch plus key deletes through the streaming ingester
    while a reader queries the pre-batch snapshot, then one merge and
    GETs on the merged index."""
    import corpus
    from rusticsearch_spark.cluster import Cluster
    from rusticsearch_spark.index.delete import delete_documents
    from rusticsearch_spark.index.merge import maintenance
    from rusticsearch_spark.query.engine import SearchEngine
    from rusticsearch_spark.query.local import LocalSearcher
    from rusticsearch_spark.streaming.ingest import StreamingIngester
    lex = corpus.Lexicon.make(run.seed)
    st = corpus.update_stream(run.seed, UPDATE_BASE_PAGES, UPDATE_BATCHES,
                              UPDATE_BATCH_PAGES, UPDATE_DELETES, lex=lex)
    src = os.path.join(run.work, "base")
    corpus.write_pages(st.base, src)
    for b in st.batches:
        corpus.write_pages(b.pages,
                           os.path.join(run.work, f"batch{b.batch_id}"),
                           n_files=2)
    mix = corpus.query_mix(run.seed, 400, multilingual=True, lex=lex)
    spark = run.start_spark()
    root = os.path.join(run.work, "cluster")
    idx = os.path.join(root, "pages")
    setup_build(run, src, idx, len(st.base), small=True)
    ingester = StreamingIngester(spark, idx, upsert=True)
    cluster = Cluster(spark, root)
    cluster.registry.insert_index("pages")
    with run.tracer.suspended():
        _spark_query(run, SearchEngine(spark, idx), mix[1])     # warm-up
    run.setup_done()

    # both searchers hold the pre-batch snapshot: the engine resolves
    # its job and deletion-list files at open, the local searcher
    # loads them, so their answers stay comparable while the batch
    # commits underneath
    eng, _ = run.op("engine_open", lambda: SearchEngine(spark, idx),
                    traced_name="query.engine.open")
    rss0 = run.rss.rss_mb()
    ls, open_s = run.op("local_open", lambda: LocalSearcher(idx),
                        traced_name="query.local.open")
    run.layer["local.rss_mb"] = run.rss.rss_mb() - rss0
    if eng is None or ls is None:
        raise RuntimeError("searcher open failed: "
                           + run.failures[-1]["detail"])
    stop = threading.Event()
    results: List[tuple] = []

    def reader() -> None:
        """Spark-mode queries while the writer works, one query of
        every shape at least."""
        i = 0
        while i < SPARK_QUERIES_MIN or not stop.is_set():
            q = mix[i % len(mix)]
            with run.headline_op(i):
                out, dt = run.op("spark_search",
                                 lambda: _spark_query(run, eng, q),
                                 traced_name="query.engine.search",
                                 shape=q.shape)
            if out is not None:
                run.headline.append((dt, not (run.traced and i % 2)))
                results.append((q, out, dt))
            i += 1

    th = threading.Thread(target=reader, name="perfbench-reader")
    th.start()
    batch_lat: List[float] = []
    docs, last = 0, -1
    try:
        for b in st.batches:
            bdf = spark.read.parquet(os.path.join(run.work,
                                                  f"batch{b.batch_id}"))

            def one_batch(b=b, bdf=bdf):
                with run.tracer.span("streaming.ingest.process_batch"):
                    ingester.process_batch(bdf, b.batch_id)
                with run.tracer.span("index.delete.delete_documents"):
                    delete_documents(spark, idx, keys=b.deletes)

            _, dt = run.op("ingest_batch", one_batch,
                           traced_name="streaming.ingest.batch",
                           docs=len(b.pages))
            if run.raised():
                break
            batch_lat.append(dt)
            docs += len(b.pages)
            last = b.batch_id
    finally:
        stop.set()
        th.join()
    if last < 0:
        raise RuntimeError("no batch committed: "
                           + run.failures[-1]["detail"])
    _check_live(run, "ingest_batch", idx, st.live_after[last])
    # the same queries in local mode, on the same snapshot
    local_lat: List[float] = []
    for q, want, _ in results:
        got, dt = run.op("local_search", lambda: _local_query(ls, q),
                         traced_name="query.local.search", shape=q.shape)
        if run.raised():
            continue
        local_lat.append(dt)
        run.check("local_search", _same(want, got),
                  f"{q.shape} {json.dumps(q.body)}: spark {want} "
                  f"!= local {got}")
    run.capture_index(idx)
    run.layer["layout.committed_jobs"] = float(len(_committed_jobs(idx)))
    run.layer["merge.jobs_merged"] = run.layer["layout.committed_jobs"]
    # full compaction of the base jobs and the batch jobs
    _, merge_s = run.op("merge", lambda: maintenance(spark, idx,
                                                     max_jobs=2),
                        traced_name="index.merge.maintenance")
    live = st.live_after[last]
    live_bytes = _live_bytes(live)
    run.layer["merge.write_amplification"] = dir_bytes(idx) / live_bytes
    _check_live(run, "merge", idx, live)
    # GETs on the merged index (no deletion list left: driver path)
    keys = corpus.get_keys(run.seed, sorted(live), GETS_MIN)
    get_lat: List[float] = []
    for key in keys:
        row, dt = run.op("get", lambda: cluster.get_document("pages", key),
                         traced_name="cluster.get_document")
        if run.raised():
            continue
        get_lat.append(dt)
        text, lang = live[key]
        run.check("get", row is not None and row.get("url") == key
                  and row.get("text") == text and row.get("lang") == lang,
                  f"GET {key}: wrong or missing row")
    spark_lat = [dt for _, _, dt in results]
    m = run.metrics
    m["batches"] = len(batch_lat)
    m["ingest_batch_p50_s"] = median(batch_lat)
    m["ingest_docs_per_s"] = docs / sum(batch_lat)
    m["write_docs_per_s"] = m["ingest_docs_per_s"]
    m["merge_s"] = merge_s
    m["spark_queries"] = len(spark_lat)
    m["spark_search_p50_s"] = median(spark_lat)
    m["spark_search_p90_s"] = pct(spark_lat, 90)
    m["local_open_s"] = open_s
    m["local_queries"] = len(local_lat)
    m["local_search_p50_ms"] = _ms(median(local_lat))
    m["gets"] = len(get_lat)
    m["get_p50_ms"] = _ms(median(get_lat))
    m["get_p99_ms"] = _ms(pct(get_lat, 99))
    m["index_bytes_per_input_byte"] = dir_bytes(idx) / live_bytes
    m["op_p50_s"] = median(spark_lat)


def _committed_jobs(index_dir: str) -> List[int]:
    from rusticsearch_spark.index.layout import IndexLayout
    return IndexLayout(index_dir).completed_jobs_local()


def _live_bytes(live: Dict[str, tuple]) -> int:
    return sum(len(u.encode()) + len(t.encode()) + len(g.encode())
               for u, (t, g) in live.items())


def _check_live(run: Run, kind: str, idx: str,
                want: Dict[str, tuple]) -> None:
    """The committed rows that no deletion list masks are exactly the
    expected live rows: the live count matches, every re-crawl
    carries its new text, and no deleted key or duplicate is left."""
    import pyarrow.parquet as pq
    from rusticsearch_spark.index.layout import IndexLayout
    tbl = read_docs(idx, ["doc_id", "url", "text", "lang"])
    dead = set()
    for d in IndexLayout(idx).deletion_dirs():
        dead.update(pq.read_table(d, columns=["doc_id"])
                    .column("doc_id").to_pylist())
    got: Dict[str, tuple] = {}
    dup = 0
    for i, u, t, g in zip(*(tbl.column(c).to_pylist() for c in
                            ("doc_id", "url", "text", "lang"))):
        if i not in dead:
            dup += u in got
            got[u] = (t, g)
    bad = [u for u in set(got) | set(want) if got.get(u) != want.get(u)]
    run.check(kind, not bad and not dup,
              f"{kind}: {len(got)} live rows, expected {len(want)}; "
              f"{len(bad)} keys differ, {dup} duplicated "
              f"(e.g. {sorted(bad)[:3]})")


def _spark_query(run: Run, eng, q):
    if q.is_count:
        with run.tracer.span("query.engine.exec"):
            return eng.count(q.body)
    with run.tracer.span("query.engine.plan"):
        frame = eng.search(q.body, size=TOP_K)
    with run.tracer.span("query.engine.exec"):
        rows = frame.collect()
    return [(int(r.doc_id), float(r.score)) for r in rows]


def _local_query(ls, q):
    if q.is_count:
        return ls.count(q.body)
    return ls.search(q.body, size=TOP_K)


def _same(a, b) -> bool:
    """Equal counts, or rank-identical top-k with equal f32 scores."""
    import numpy as np
    if isinstance(a, int) or isinstance(b, int):
        return a == b
    return (len(a) == len(b)
            and all(da == db and np.float32(sa) == np.float32(sb)
                    for (da, sa), (db, sb) in zip(a, b)))


def _ms(x: Optional[float]) -> Optional[float]:
    return None if x is None else x * 1e3


WORKLOADS = {"build": workload_build, "search": workload_search,
             "update": workload_update}


def main(argv: Optional[List[str]] = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "rusticsearch_spark",
                                       "__init__.py")):
        print("perfbench: run from the repository root (no "
              "rusticsearch_spark package here)", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT, os.path.join(ROOT, "scripts")]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p])
    import report
    from host_probe import probe
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)
    stamp = {"workload": args.workload, "seed": args.seed,
             "seconds": args.seconds, "trace": args.trace,
             "nproc": nproc(), "git_commit": git_commit(),
             "source_sha1": source_digest(), "host_probe_pre": probe()}
    run = Run(args, work)
    try:
        try:
            WORKLOADS[args.workload](run)
            run.measure_s = run.elapsed()
            run.peak_rss_mb = run.rss.peak_mb()
        finally:
            run.stop_spark()
        stamp["host_probe_post"] = probe()
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        result = report.finish(run, stamp, out_dir)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result["report"], sort_keys=True))
    print(json.dumps(result["line"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
