"""Serving and pipeline benchmark for the engine's public entry points.

Usage (from the repository root)::

    python3 perfbench/run.py --workload serve-mixed --seed 1 --seconds 10 --trace 0

Workloads (every run starts from fresh inputs generated from ``--seed``):

``serve-mixed``
    5,000 chunks (3,000 with NULL embeddings the engine's embedder fills)
    in 20 libraries of 250, ingested through ``VectorEngine``.  Seven
    libraries are served, one per path (brute, lsh, ivf, pq, sq8, bm25,
    hybrid); three more (lsh, ivf, bm25) take writes.  Three readers, each
    a closed loop of its own, replay request logs over the seven paths for
    ``--seconds``, while a writer beside them ingests into and reindexes
    the bm25 library, updates the lsh one and deletes from the ivf one,
    reading each write back.  Readers walk every path with every request
    shape (k 5/10/50, a ``lang`` filter on half, the bm25 modes and
    rankings, the hybrid fusions) and send no request twice, nor any
    warm-up request.  After the window each reader's first request is sent
    once more, from another thread, and must get the same answer.
``pipeline-batch``
    Six registry queries (``queries.spark_queries()``) over generated
    tables at sf 0.01 with 1,000 documents, built with ``fn(spark, sf_dir)``
    and executed to the ``noop`` sink in steady passes after a first pass.

Both run in one Python process on Spark ``local[nproc]``.  The shape of
every request and write is fixed; the seed draws their content, so the
cost mix of a run does not depend on the seed.

End-to-end metrics (``--trace 0``):

``setup_s``
    Process start to the first timed operation: session, inputs, ingest,
    index builds and warm-up (serve-mixed: one request per path, which the
    window does not repeat; pipeline-batch: the first pass with its
    artifact builds, checked against the DuckDB oracles).
``op_p50_geomean_ms``
    Wall time of one operation in the measured window, as the geometric
    mean over the kinds of operation of each kind's median.  Serve-mixed:
    a reader's search (``search()`` plus ``collect()``), one kind per
    serving path; pipeline-batch: one registry query built and executed,
    one kind per query.  Every kind weighs the same, so which requests a
    run happens to complete in its window does not move the figure.
``ops_per_s``
    Operations completed per second in the window: the readers' searches,
    summed over the readers, the one each has in flight at the end counted
    by the share of it done by then; one pass's queries over the median
    pass time.
``mem_mb``
    Driver memory the run holds: JVM live heap and non-heap after full
    collections, plus the Python driver's resident set.

``--trace 1`` instead reports the per-layer metrics, from spans around
every call the benchmark makes into a layer and from the Spark event log
(``perfbench/spans.py``); ``perfbench/overhead.py`` compares traced and
untraced runs.

Every operation is checked (``perfbench/checks.py``): repeated requests
must return identical rows, serially and across threads; the brute-force
library must match a numpy cosine top-k; writes must be visible to the
next search; registry queries must equal their DuckDB oracle.  A wrong
answer counts as a failed operation.

The last line of standard output is the result JSON; the line before it
records what the run ran on.  A full report (per-path splits, the writer's
calls, the layer self-time table, spans when traced) is written under
``.perfbench/``.  The exit status is 1 when any check failed.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
from concurrent.futures import ThreadPoolExecutor  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
sys.path[:0] = [ROOT, HERE]

import numpy as np  # noqa: E402

import checks  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402
import spans  # noqa: E402

WORKLOADS = ("serve-mixed", "pipeline-batch")
READERS = 3
# One or two per family — dedup, similarity join, text analysis, retrieval,
# analytics — so that a cold first pass and two steady passes fit a run.
PIPELINE_QUERIES = (
    "exact_substring_dedup_stats",
    "knn_join_multiprobe_topk",
    "tfidf_top_terms",
    "hybrid_rrf_fusion",
    "q13_custdist",
    "q5_nation_revenue",
)
SERVE_PATHS = tuple(gen.READ_PATHS)
WRITE_KINDS = ("update", "delete", "ingest", "reindex")
INDEX_KINDS = ("lsh", "ivf", "pq", "sq8", "bm25", "hybrid")
# index kinds by the time one build of a 250-chunk library takes, longest first
SLOWEST_BUILDS = ("ivf", "bm25", "sq8", "hybrid", "pq", "lsh")
SPARK_COUNTS = ("tasks", "executor_run_ms", "sched_gap_ms", "shuffle_bytes")
LAYERS = ("session", "sources", "functions", "service", "operators", "queries", "spark")

E2E_UNITS = {
    "setup_s": "s",
    "op_p50_geomean_ms": "ms",
    "ops_per_s": "1/s",
    "mem_mb": "MB",
}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric name with its unit.  A workload that makes no
    call into a layer reports 0 for it."""
    u: dict[str, str] = {"session.start_s": "s", "service.ingest_s": "s"}
    for p in SERVE_PATHS:
        u[f"service.search.build_ms.{p}"] = "ms"
        u[f"service.search.exec_ms.{p}"] = "ms"
        u[f"spark.jobs_per_search.{p}"] = "count"
    u["service.search.split_coverage"] = "ratio"
    for w in WRITE_KINDS:
        u[f"service.write_ms.{w}"] = "ms"
    for k in INDEX_KINDS:
        u[f"service.index_library_s.{k}"] = "s"
    u["sources.chunks_read_ms"] = "ms"
    u["functions.embed_query_ms"] = "ms"
    for q in PIPELINE_QUERIES:
        u[f"queries.build_s.{q}"] = "s"
        u[f"queries.exec_s.{q}"] = "s"
    u["queries.artifact_build_s"] = "s"
    for c in SPARK_COUNTS:
        u[f"spark.{c}"] = "bytes" if c == "shuffle_bytes" else ("count" if c == "tasks" else "ms")
    u["spark.unattributed_jobs"] = "count"
    for layer in LAYERS:
        u[f"self_s.{layer}"] = "s"
    return u


# -- process-level helpers ---------------------------------------------------


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def _proc_status_mb(pid: int | str, field: str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith(field + ":"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no {field} for pid {pid}")


def vm_hwm_mb(pid: int | str) -> float:
    """Peak resident set size of a process, from /proc."""
    return _proc_status_mb(pid, "VmHWM")


def vm_rss_mb(pid: int | str) -> float:
    """Current resident set size of a process, from /proc."""
    return _proc_status_mb(pid, "VmRSS")


def memory_mb(spark, jvm_pid: int) -> dict[str, float]:
    """Driver memory after the measured window.  ``held`` is what the run
    keeps: the JVM's live heap, as the least heap in use after each of
    five full collections (Spark releases the blocks of collected objects
    in between, so one collection is not enough), and its non-heap use,
    plus the Python driver's resident set.  Peak resident sets, which depend on when the
    JVM chose to collect, are recorded alongside."""
    import gc

    peaks = {"jvm_peak_rss": vm_hwm_mb(jvm_pid), "python_peak_rss": vm_hwm_mb("self")}
    gc.collect()
    system = spark._jvm.java.lang.System
    mx = spark._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    heap = []
    for _ in range(5):
        system.gc()
        time.sleep(0.3)
        heap.append(mx.getHeapMemoryUsage().getUsed() / 2**20)
    out = {
        "jvm_heap": min(heap),
        "jvm_heap_after_each_gc": heap,
        "jvm_nonheap": mx.getNonHeapMemoryUsage().getUsed() / 2**20,
        "python_rss": vm_rss_mb("self"),
        **peaks,
    }
    out["held"] = out["jvm_heap"] + out["jvm_nonheap"] + out["python_rss"]
    return out


def git_commit() -> str | None:
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() or None


def start_spark(run_dir: str, app: str, traced: bool):
    """The engine's session factory, with scratch space, event log and
    memory kept inside the run directory."""
    from vector_database_api_spark.session import get_spark

    tmp = os.path.join(run_dir, "tmp")
    conf = {
        "spark.driver.memory": "2g",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(run_dir, "spark-warehouse"),
        # a heap that starts at its cap takes heap resizing out of the timings
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms2g",
    }
    if traced:
        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{log_dir}",
                "spark.eventLog.compress": "false",
            }
        )
    return get_spark(app, cpus=nproc(), extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched (it exits when its stdin
    closes, taking its Python workers along), and wait until it has."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=120)


def timed(fn, *a, **kw):
    t = time.perf_counter()
    out = fn(*a, **kw)
    return out, (time.perf_counter() - t) * 1000.0


# -- serve-mixed ---------------------------------------------------------------


class ServeRun:
    """One serve-mixed run: warehouse setup, a warm-up, then three readers
    and one writer for the measured window."""

    def __init__(self, seed: int, seconds: int, tracer: spans.Tracer, run_dir: str, spark):
        from vector_database_api_spark.functions.embedding import text_to_vector
        from vector_database_api_spark.service import VectorEngine
        from vector_database_api_spark.sources.tables import chunks_table

        self.seed, self.seconds, self.tracer = seed, seconds, tracer
        self.spark = spark
        self.embed = lambda t: text_to_vector(t, gen.DIM)
        self.tally = checks.Tally()
        self.book = checks.AnswerBook()
        self.samples: list[dict] = []
        self.samples_lock = threading.Lock()
        self.setup_ms: dict[str, list[float]] = {}

        sf_dir = os.path.join(run_dir, "sf")
        tables = gen.make_tables(seed, gen.SERVE_INPUTS)
        gen.write_tables(tables, sf_dir)
        self.engine = VectorEngine(spark, os.path.join(run_dir, "warehouse"))
        with tracer.span("sources.chunks_table", rid="setup"):
            rows = chunks_table(spark, sf_dir)
        with tracer.span("service.ingest", rid="setup"):
            _, ms = timed(self.engine.ingest_chunks, rows)
        self.setup_ms["ingest"] = [ms]

        docs = tables["documents"].to_pydict()
        embs = tables["embeddings"].to_pydict()
        given = dict(zip(embs["vec_id"], embs["embedding"]))
        libs = sorted(set(docs["source"]))
        write_keys = [f"w-{p}" for p in gen.WRITE_PATHS]
        self.lib_of = lib_of = gen.assign_paths(seed, libs, list(SERVE_PATHS) + write_keys)

        # the benchmark's own copy of the chunks: references for the checks
        by_lib: dict[str, list[tuple[str, str, str, np.ndarray]]] = {}
        for doc_id, text, lang, src in zip(docs["doc_id"], docs["text"], docs["lang"], docs["source"]):
            vec = np.asarray(given[doc_id], dtype=np.float32) if doc_id in given else self.embed(text)
            by_lib.setdefault(src, []).append((str(doc_id), text, lang, vec))
        brute = by_lib[lib_of["brute"]]
        self.brute_rows = brute
        self.models = {
            p: gen.LibraryModel(p, lib_of[f"w-{p}"], {d: (t, v) for d, t, _, v in by_lib[lib_of[f"w-{p}"]]})
            for p in gen.WRITE_PATHS
        }
        texts = {lib: [t for _, t, _, _ in rows] for lib, rows in by_lib.items()}
        served = {p: lib_of[p] for p in SERVE_PATHS}
        self.warm_up_requests = {r.path: r for r in gen.warm_up_requests(seed, texts, served)}
        self.reader_logs = [gen.reader_log(seed, texts, served, i) for i in range(READERS)]
        self.first_asked: list[gen.Request] = []  # each reader's first request
        self.writes = gen.write_group(seed, self.models, first_new_id=len(docs["doc_id"]) * 10)

    # -- operations --

    def _record(self, sample: dict) -> None:
        sample["caller"] = threading.current_thread().name
        with self.samples_lock:
            self.samples.append(sample)

    def search(self, req: gen.Request, rid: str, phase: str, label: str | None = None):
        """One search, timed as search() build + collect(); returns rows or
        None when it raised."""
        label = label or req.path
        tr = self.tracer
        try:
            with tr.span("bench.request", rid=rid, kind=label):
                t0 = time.perf_counter()
                with tr.span("service.search.build", kind=label):
                    df = self.engine.search(req.library_id, **req.kwargs())
                t1 = time.perf_counter()
                with tr.span("operators.exec", kind=label):
                    rows = df.collect()
                t2 = time.perf_counter()
        except Exception as e:  # noqa: BLE001 - a failed request is counted, the run goes on
            self.tally.record(f"search {label} {rid}", f"raised {type(e).__name__}: {e}")
            return None
        self._record(
            {"op": "search", "kind": label, "phase": phase, "start": t0, "end": t2,
             "ms": (t2 - t0) * 1000.0, "build_ms": (t1 - t0) * 1000.0, "exec_ms": (t2 - t1) * 1000.0}
        )
        if tr.enabled:
            with tr.span("bench.probe", rid=rid, kind=label):
                with tr.span("sources.chunks_read", kind=label):
                    self.engine.chunks(req.library_id).head()
                if req.query_text is not None:
                    with tr.span("functions.embed_query", kind=label):
                        self.embed(req.query_text)
        return rows

    def read(self, req: gen.Request, rid: str, phase: str) -> None:
        rows = self.search(req, rid, phase)
        if rows is None:
            return
        problem = self.book.check(req, checks.signature(rows))
        if problem is None and req.path == "brute":
            problem = self.check_brute(req, rows)
        self.tally.record(f"search {req.path} {rid}", problem)

    def check_brute(self, req: gen.Request, rows) -> str | None:
        cand = [r for r in self.brute_rows if req.lang is None or r[2] == req.lang]
        vecs = np.stack([r[3] for r in cand]) if cand else np.zeros((0, gen.DIM))
        truth = checks.cosine_scores([r[0] for r in cand], vecs, self.embed(req.query_text))
        return checks.check_topk([(r["id"], r["similarity"]) for r in rows], truth, req.k)

    def write(self, op: gen.WriteOp, rid: str, phase: str) -> None:
        """One write: the engine call(s) (update; delete; ingest then
        reindex), each timed, then a read-after-write search.  A failed
        call ends the write."""
        from pyspark.sql.types import (
            ArrayType, FloatType, MapType, StringType, StructField, StructType,
        )

        eng, m = self.engine, self.models[op.path]
        lib = op.library_id
        if op.op == "update":
            calls = [("update", lambda: eng.update_chunk_texts(lib, dict(zip(op.ids, op.texts))))]
        elif op.op == "delete":
            calls = [("delete", lambda: eng.delete_chunks(lib, list(op.ids)))]
        else:
            schema = StructType(
                [StructField("id", StringType()), StructField("library_id", StringType()),
                 StructField("document_id", StringType()), StructField("text", StringType()),
                 StructField("embedding", ArrayType(FloatType())),
                 StructField("metadata", MapType(StringType(), StringType()))]
            )
            rows = [(d, lib, d, t, None, {"lang": "en", "source": lib}) for d, t in zip(op.ids, op.texts)]
            kind, kw = gen.WRITE_PATHS[op.path]
            calls = [
                ("ingest", lambda: eng.ingest_chunks(self.spark.createDataFrame(rows, schema))),
                ("reindex", lambda: eng.index_library(lib, kind, **kw)),
            ]

        for name, fn in calls:
            what = f"write {name} {op.path} {rid}"
            try:
                with self.tracer.span("bench.write", rid=rid, kind=name):
                    with self.tracer.span(f"service.write.{name}", kind=op.path):
                        t0 = time.perf_counter()
                        fn()
                        t1 = time.perf_counter()
            except Exception as e:  # noqa: BLE001 - a failed write is counted, the run goes on
                self.tally.record(what, f"raised {type(e).__name__}: {e}")
                return
            self.tally.record(what, None)
            self._record({"op": "write", "kind": name, "phase": phase, "start": t0, "end": t1,
                          "ms": (t1 - t0) * 1000.0})

        # apply the write to the model, then look for it
        target = op.ids[0]
        if op.op == "delete":
            text, vec = m.rows[target]
            for d in op.ids:
                m.rows.pop(d)
        else:
            for d, t in zip(op.ids, op.texts):
                m.rows[d] = (t, self.embed(t))
            text, vec = m.rows[target]
        if op.path == "bm25":
            req = gen.Request(op.path, lib, query_text=text, k=10)
        else:
            req = gen.Request(op.path, lib, query_embedding=tuple(float(x) for x in vec), k=10)
        rows = self.search(req, rid, phase, label=f"raw-{op.path}")
        if rows is not None:
            problem = checks.check_membership([r["id"] for r in rows], target, op.op != "delete")
            self.tally.record(f"read-after-{op.op} {op.path} {rid}", problem)

    # -- phases --

    def build_and_warm_up(self) -> float:
        """Build every library's index, concurrently and the slowest kinds
        first, and warm each served path up with one request as soon as its
        index is ready.  The window does not repeat the warm-up requests.
        Returns the seconds taken."""

        def ready(key: str, lib: str) -> None:
            spec = gen.READ_PATHS.get(key) or gen.WRITE_PATHS.get(key[2:])
            if spec is not None:
                kind, kw = spec
                with self.tracer.span("service.index_library", rid="setup", kind=kind):
                    _, ms = timed(self.engine.index_library, lib, kind, **kw)
                with self.samples_lock:
                    self.setup_ms.setdefault(f"index.{kind}", []).append(ms)
            if key in self.warm_up_requests:
                self.read(self.warm_up_requests[key], f"warm-{key}", "warm-up")

        def cost_rank(key: str) -> int:
            spec = gen.READ_PATHS.get(key) or gen.WRITE_PATHS.get(key[2:])
            return SLOWEST_BUILDS.index(spec[0]) if spec else len(SLOWEST_BUILDS)

        t = time.perf_counter()
        with ThreadPoolExecutor(max_workers=nproc()) as pool:
            futures = [pool.submit(ready, key, self.lib_of[key]) for key in sorted(self.lib_of, key=cost_rank)]
            for f in futures:
                f.result()
        return time.perf_counter() - t

    def window(self) -> float:
        """Three readers replay their request logs, each in a closed loop of
        its own (send, wait for the reply, send the next), and send nothing
        after ``seconds``.  Beside them the writer makes the run's writes in
        a fixed order: ingest into the bm25 library, reindex it, read back;
        update the lsh library, read back; delete from the ivf library,
        read back.  So every run's reads are served beside the same writes,
        from the start.  The writer finishes after the readers have stopped
        if need be, so every run checks every kind of write: under full
        read load its writes take about 30 s on 4 cores, more than a run
        can give its window.  Returns the window's start time."""
        start = time.perf_counter()
        deadline = start + self.seconds
        errors: list[BaseException] = []

        def reader(i: int) -> None:
            try:
                for n, req in enumerate(self.reader_logs[i]):
                    if time.perf_counter() >= deadline:
                        return
                    if n == 0:
                        self.first_asked.append(req)
                    self.read(req, f"read{i}-{n}", "window")
            except BaseException as e:  # noqa: BLE001 - surfaced after join
                errors.append(e)

        def writer() -> None:
            try:
                for n, op in enumerate(self.writes):
                    self.write(op, f"w-{n}", "window")
            except BaseException as e:  # noqa: BLE001 - surfaced after join
                errors.append(e)

        readers = [threading.Thread(target=reader, args=(i,), name=f"reader{i}") for i in range(READERS)]
        writing = threading.Thread(target=writer, name="writer")
        for t in readers + [writing]:
            t.start()
        for t in readers:
            t.join()
        self.ask_again()
        writing.join()
        if errors:
            raise errors[0]
        return start

    def ask_again(self) -> None:
        """Once the readers have stopped, send each reader's first request
        once more, one at a time from this thread: a repeated request must
        get the same answer, serially and from another thread."""
        for i, req in enumerate(self.first_asked):
            self.read(req, f"again-{i}", "again")


def serve_metrics(run: ServeRun, start: float) -> tuple[dict, dict]:
    """End-to-end figures are the readers' searches; the writer is the load
    they are served under, and its calls are reported beside them."""
    win = [s for s in run.samples if s["phase"] == "window"]
    reads = [s for s in win if s["caller"].startswith("reader")]
    searches = [s["ms"] for s in reads]
    per_path: dict[str, list[float]] = {}
    for s in reads:
        per_path.setdefault(s["kind"], []).append(s["ms"])
    writes = [s for s in win if s["op"] == "write"]
    read_backs = [s["ms"] for s in win if s["caller"] == "writer" and s["op"] == "search"]
    e2e = {
        "op_p50_geomean_ms": stats.geomean_of_medians(per_path),
        # the search each reader has in flight at the deadline counts by
        # the share of it done by then
        "ops_per_s": stats.work_in_window([(s["start"], s["end"]) for s in reads], start, start + run.seconds)
        / run.seconds,
    }
    detail = {
        "search_p50_ms": stats.median(searches) if searches else None,
        "search_samples": len(searches),
        "search_tail": stats.highest_reportable(searches),
        "per_path_p50_ms": {k: stats.median(v) for k, v in sorted(per_path.items())},
        "per_path_samples": {k: len(v) for k, v in sorted(per_path.items())},
        "write_p50_ms": stats.median([s["ms"] for s in writes]) if writes else None,
        "write_samples": len(writes),
        # when each write started, in seconds into the window, and its ms
        "writes": [(s["kind"], s["start"] - start, s["ms"]) for s in sorted(writes, key=lambda s: s["start"])],
        "reads": [
            (s["caller"], s["kind"], s["start"] - start, s["ms"]) for s in sorted(reads, key=lambda s: s["start"])
        ],
        "read_after_write_p50_ms": stats.median(read_backs) if read_backs else None,
        "read_after_write_samples": len(read_backs),
        "setup_ms": run.setup_ms,
    }
    return e2e, detail


# -- pipeline-batch ----------------------------------------------------------------


class BatchRun:
    """One pipeline-batch run: generated tables, a first pass checked against
    the DuckDB oracles, then steady passes for the measured window."""

    def __init__(self, seed: int, seconds: int, tracer: spans.Tracer, run_dir: str, spark):
        import duckdb

        from vector_database_api_spark.queries import oracle_queries, spark_queries

        self.seconds, self.tracer, self.spark = seconds, tracer, spark
        self.sf_dir = os.path.join(run_dir, "sf")
        gen.write_tables(gen.make_tables(seed, gen.BATCH_INPUTS), self.sf_dir)
        registry = spark_queries()
        self.queries = {name: registry[name] for name in PIPELINE_QUERIES}
        self.oracles = oracle_queries()
        self.duck = duckdb.connect()
        for t in sorted(os.listdir(self.sf_dir)):
            path = os.path.join(self.sf_dir, t)
            self.duck.sql(f"CREATE VIEW {t.removesuffix('.parquet')} AS SELECT * FROM read_parquet('{path}')")
        self.tally = checks.Tally()
        self.passes: list[dict] = []

    def one_pass(self, label: str, check: bool = False) -> dict:
        """Build and run every query.  Steady passes execute to the noop
        sink; the checked (first) pass collects each result and compares it
        with the query's DuckDB oracle, and the comparison is not counted
        in the pass time."""
        tr = self.tracer
        per_query = {}
        check_s = 0.0
        t = time.perf_counter()
        with tr.span("bench.pass", rid=label) as sp:
            for name, fn in self.queries.items():
                what = f"query {name} {label}"
                try:
                    with tr.span("queries.build", query=name):
                        df, build_ms = timed(fn, self.spark, self.sf_dir)
                    with tr.span("queries.exec", query=name):
                        if check:
                            got, exec_ms = timed(df.toPandas)
                        else:
                            _, exec_ms = timed(df.write.format("noop").mode("overwrite").save)
                except Exception as e:  # noqa: BLE001 - a failed query is counted, the pass goes on
                    self.tally.record(what, f"raised {type(e).__name__}: {e}")
                    continue
                per_query[name] = (build_ms, exec_ms)
                if not check:
                    self.tally.record(what, None)
                    continue
                c = time.perf_counter()
                with tr.span("bench.oracle", query=name):
                    self.tally.record(what, self.oracle_problems(name, got))
                check_s += time.perf_counter() - c
        rec = {"label": label, "s": time.perf_counter() - t - check_s, "queries": per_query,
               "span": sp.id if sp is not None else None}
        self.passes.append(rec)
        return rec

    def steady(self) -> list[dict]:
        return [p for p in self.passes if p["label"].startswith("pass-")]

    def window(self) -> None:
        deadline = time.perf_counter() + self.seconds
        n = 0
        while time.perf_counter() < deadline:
            if not self.one_pass(f"pass-{n}")["queries"]:
                return  # every query failed; the failures are counted
            n += 1

    def oracle_problems(self, name: str, got) -> str | None:
        from tools.oracle_check import compare

        try:
            problems = compare(name, got, self.duck.sql(self.oracles[name]).df())
        except Exception as e:  # noqa: BLE001 - a failed check is counted
            problems = [f"oracle raised {type(e).__name__}: {e}"]
        return "; ".join(problems) if problems else None

    def close(self) -> None:
        self.duck.close()


def batch_metrics(run: BatchRun) -> tuple[dict, dict]:
    """Steady passes only.  Throughput is one pass's queries over the median
    pass time, so a pass still slowed by the JIT settling does not move it."""
    steady = run.steady()
    per_query_ms = {q: [sum(p["queries"][q]) for p in steady if q in p["queries"]] for q in run.queries}
    pass_s = [p["s"] for p in steady]
    e2e = {
        "op_p50_geomean_ms": stats.geomean_of_medians(per_query_ms),
        "ops_per_s": len(run.queries) / stats.median(pass_s) if pass_s else 0.0,
    }
    detail = {
        "passes": len(steady),
        "pass_s": pass_s,
        "query_samples": sum(len(v) for v in per_query_ms.values()),
        "per_query_ms": per_query_ms,
    }
    return e2e, detail


# -- per-layer metrics from spans ------------------------------------------------------


def layer_metrics(tracer: spans.Tracer, workload: str, run) -> dict[str, float]:
    out = {name: 0.0 for name in per_layer_units()}
    recorded = tracer.spans
    med = lambda xs: stats.median(xs) if xs else 0.0  # noqa: E731
    by_name: dict[str, list[spans.Span]] = {}
    for s in recorded:
        by_name.setdefault(s.name, []).append(s)
    children: dict[str, list[spans.Span]] = {}
    for s in recorded:
        if s.parent:
            children.setdefault(s.parent, []).append(s)

    out["session.start_s"] = med([s.ms / 1000 for s in by_name.get("session.get_spark", [])])
    for layer, row in spans.layer_table(recorded).items():
        if layer in LAYERS:
            out[f"self_s.{layer}"] = row["self_ms"] / 1000.0
    if workload == "serve-mixed":
        out["service.ingest_s"] = med([s.ms / 1000 for s in by_name.get("service.ingest", [])])
        for k in INDEX_KINDS:
            out[f"service.index_library_s.{k}"] = med(
                [s.ms / 1000 for s in by_name.get("service.index_library", []) if s.attrs.get("kind") == k]
            )
        # the readers' searches in the window
        requests = [s for s in by_name.get("bench.request", []) if s.rid.startswith("read")]
        coverage = []
        per_search: dict[str, list[float]] = {c: [] for c in SPARK_COUNTS}
        for p in SERVE_PATHS:
            mine = [r for r in requests if r.attrs["kind"] == p]
            build = [c.ms for r in mine for c in children.get(r.id, []) if c.name == "service.search.build"]
            exe = [c.ms for r in mine for c in children.get(r.id, []) if c.name == "operators.exec"]
            out[f"service.search.build_ms.{p}"] = med(build)
            out[f"service.search.exec_ms.{p}"] = med(exe)
            out[f"spark.jobs_per_search.{p}"] = med([spans.subtree_spark(recorded, r.id)["jobs"] for r in mine])
        for r in requests:
            split = sum(c.ms for c in children.get(r.id, []) if c.name in ("service.search.build", "operators.exec"))
            coverage.append(split / r.ms if r.ms else 1.0)
            sub = spans.subtree_spark(recorded, r.id)
            for c in SPARK_COUNTS:
                per_search[c].append(sub[c])
        out["service.search.split_coverage"] = med(coverage)
        for c in SPARK_COUNTS:
            out[f"spark.{c}"] = med(per_search[c])
        for w in WRITE_KINDS:
            out[f"service.write_ms.{w}"] = med([s.ms for s in by_name.get(f"service.write.{w}", [])])
        out["sources.chunks_read_ms"] = med([s.ms for s in by_name.get("sources.chunks_read", [])])
        out["functions.embed_query_ms"] = med([s.ms for s in by_name.get("functions.embed_query", [])])
    else:
        steady = run.steady()
        for q in PIPELINE_QUERIES:
            out[f"queries.build_s.{q}"] = med([p["queries"][q][0] / 1000 for p in steady if q in p["queries"]])
            out[f"queries.exec_s.{q}"] = med([p["queries"][q][1] / 1000 for p in steady if q in p["queries"]])
        if steady:
            out["queries.artifact_build_s"] = run.passes[0]["s"] - stats.median([p["s"] for p in steady])
        per_pass = [spans.subtree_spark(recorded, p["span"]) for p in steady]
        for c in SPARK_COUNTS:
            out[f"spark.{c}"] = med([x[c] for x in per_pass])
    return out


# -- main -------------------------------------------------------------------------------


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    if os.environ.get("PYTHONHASHSEED") != "0":
        # string hashing, and with it set and dict order in the engine's plan
        # building, is the same in every run (and in the Python workers)
        os.environ["PYTHONHASHSEED"] = "0"
        os.execv(sys.executable, [sys.executable, os.path.abspath(__file__)] + sys.argv[1:])
    args = parse_args(argv)
    try:
        import vector_database_api_spark  # noqa: F401
    except ImportError:
        print("perfbench: the engine package vector_database_api_spark is not in this checkout",
              file=sys.stderr)
        return 2
    import pyspark

    traced = bool(args.trace)
    run_dir = os.path.join(WORK, f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    # Python workers import the engine; scratch files stay in the run dir
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # no JVM files in /tmp

    tracer = spans.Tracer(traced)
    with tracer.span("session.get_spark", rid="setup"):
        spark = start_spark(run_dir, f"perfbench-{args.workload}", traced)
    tracer.spark = spark
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    report: dict = {}
    try:
        if args.workload == "serve-mixed":
            run = ServeRun(args.seed, args.seconds, tracer, run_dir, spark)
            first = {"build_and_warm_up_s": run.build_and_warm_up()}
            setup_s = time.perf_counter() - T0
            start = run.window()
            e2e, detail = serve_metrics(run, start)
            mem = memory_mb(spark, jvm_pid)
        else:
            run = BatchRun(args.seed, args.seconds, tracer, run_dir, spark)
            try:
                first = {"first_pass_s": run.one_pass("first", check=True)["s"]}
                setup_s = time.perf_counter() - T0
                run.window()
            finally:
                run.close()
            e2e, detail = batch_metrics(run)
            mem = memory_mb(spark, jvm_pid)
        e2e.update(setup_s=setup_s, mem_mb=mem["held"])
        detail.update(first, memory_mb=mem)
        info = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "cpus": spark.sparkContext.defaultParallelism,
            "nproc": nproc(), "sf_dir": os.path.relpath(os.path.join(run_dir, "sf"), ROOT),
            "pyspark": pyspark.__version__, "commit": git_commit(),
        }
    finally:
        stop_spark(spark)
    report.update(info=info, e2e=e2e, detail=detail, failures=run.tally.failures)
    if traced:
        log = spans.find_event_log(os.path.join(run_dir, "eventlog"))
        report["spark"] = spans.attach_spark(tracer, log)
        metrics = layer_metrics(tracer, args.workload, run)
        metrics["spark.unattributed_jobs"] = float(report["spark"]["unattributed_jobs"])
        report["layers"] = spans.layer_table(tracer.spans)
        report["per_layer"] = metrics
        units = per_layer_units()
    else:
        metrics, units = e2e, E2E_UNITS

    results = os.path.join(WORK, "results")
    os.makedirs(results, exist_ok=True)
    stem = os.path.join(results, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    if traced:
        tracer.write(stem + "-spans.jsonl")
    with open(stem + ".json", "w") as f:
        json.dump(report, f, indent=1, default=str)
    shutil.rmtree(run_dir, ignore_errors=True)

    print(json.dumps(info))
    if traced:
        print(json.dumps({"layers": report["layers"]}))
    result = {
        "correct": run.tally.failed == 0,
        "attempted": run.tally.attempted,
        "failed": run.tally.failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
    }
    print(json.dumps(result))
    return 1 if run.tally.failed else 0


if __name__ == "__main__":
    sys.exit(main())
