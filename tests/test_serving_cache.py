"""The serving-artifact store (queries._ArtifactStore) and the table catalog.

The registry workload never reaches CAP; the eviction tests drive a small
store directly so the multi-tenant bound is pinned, not just documented.
The registry tests pin what the store's keys and view names buy: artifacts
scoped to their session, and concurrent query construction that cannot
retarget another corpus's views.
"""

from __future__ import annotations

import gc
import os
import shutil
import sys
import time
from concurrent.futures import ThreadPoolExecutor

import duckdb

from vector_database_api_spark import queries as q
from vector_database_api_spark.queries import (
    _ArtifactStore,
    _artifact,
    _unpersist_artifacts,
)
from vector_database_api_spark.sources.tables import load_table


def _cached(df) -> bool:
    lvl = df.storageLevel
    return lvl.useMemory or lvl.useDisk


def _store(cap: int) -> _ArtifactStore:
    store = _ArtifactStore()
    store.CAP = cap
    return store


def _persisted(spark, n: int):
    def build():
        df = spark.range(n).persist()
        df.count()
        return df

    return build


def _cached_rdd_ids(spark) -> set[int]:
    return {i.id() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()}


def _checkpoint_rdd_id(df) -> int:
    return df._jdf.queryExecution().analyzed().rdd().id()


def test_eviction_unpersists_lru_entry(spark):
    store = _store(2)
    a = store.get((spark, "t", "a", ()), _persisted(spark, 10))
    b = store.get((spark, "t", "b", ()), _persisted(spark, 11))
    view_a = store.view((spark, "t", "a", ()), _persisted(spark, 10))
    assert store.view((spark, "t", "a", ()), _persisted(spark, 10)) == view_a
    assert store.view((spark, "t", "b", ()), _persisted(spark, 11)) != view_a
    assert spark.catalog.tableExists(view_a)
    assert _cached(a) and _cached(b)
    c = store.get((spark, "t", "c", ()), _persisted(spark, 12))  # evicts a
    assert (spark, "t", "a", ()) not in store._entries
    assert not _cached(a) and not spark.catalog.tableExists(view_a)
    assert _cached(b) and _cached(c)
    for df in (b, c):
        df.unpersist()


def test_read_refreshes_recency(spark):
    store = _store(2)
    a = store.get(("a",), _persisted(spark, 1))
    b = store.get(("b",), _persisted(spark, 2))
    assert store.get(("a",), _persisted(spark, 9)) is a  # b becomes the LRU
    c = store.get(("c",), _persisted(spark, 3))
    assert ("a",) in store._entries and ("b",) not in store._entries
    assert _cached(a) and not _cached(b) and _cached(c)
    for df in (a, c):
        df.unpersist()


def test_overwrite_existing_key_never_evicts(spark):
    """A second get of a stored key returns the stored value: it neither
    rebuilds nor evicts."""
    store = _store(2)
    builds = []

    def build():
        builds.append(1)
        return _persisted(spark, 2)()

    a = store.get(("a",), _persisted(spark, 1))
    b = store.get(("b",), build)
    assert store.get(("b",), build) is b
    assert len(builds) == 1
    assert ("a",) in store._entries and _cached(a)
    for df in (a, b):
        df.unpersist()


def test_evicted_checkpoint_frame_still_collects(spark):
    """A caller holding a frame derived from an evicted localCheckpoint
    artifact can still run it: eviction leaves the checkpoint blocks to
    the ContextCleaner, which frees them only once no handle is left."""
    store = _store(1)
    art = store.get(
        ("x",), lambda: _artifact(spark.range(100).selectExpr("id", "id * 2 AS y"))
    )
    rdd_id = _checkpoint_rdd_id(art)
    derived = art.filter("y % 4 = 0")
    store.get(("y",), lambda: spark.range(1))  # evicts ("x",)
    assert ("x",) not in store._entries
    deadline = time.time() + 3
    while rdd_id in _cached_rdd_ids(spark) and time.time() < deadline:
        spark.sparkContext._jvm.System.gc()
        time.sleep(0.2)
    assert derived.count() == 50


def test_checkpoint_blocks_released_after_last_handle_dropped(spark):
    """Once the store has evicted a checkpointed artifact (dropping its
    view) and the caller drops its last handle, the ContextCleaner frees
    the blocks after a JVM GC."""
    store = _store(1)
    key = (spark, "t", "x", ())
    view = store.view(
        key, lambda: _artifact(spark.range(100).selectExpr("id", "id * 2 AS y"))
    )
    art = store.get(key, lambda: None)
    rdd_id = _checkpoint_rdd_id(art)
    assert rdd_id in _cached_rdd_ids(spark)
    assert spark.table(view).count() == 100
    store.get((spark, "t", "y", ()), lambda: spark.range(1))  # evicts key
    assert not spark.catalog.tableExists(view)
    del art
    deadline = time.time() + 30
    while rdd_id in _cached_rdd_ids(spark) and time.time() < deadline:
        gc.collect()
        spark.sparkContext._jvm.System.gc()
        time.sleep(0.5)
    assert rdd_id not in _cached_rdd_ids(spark)


def test_unpersist_artifacts_handles_tuples_and_index_objects(spark):
    a = spark.range(1).persist()
    b = spark.range(2).persist()
    a.count(), b.count()
    _unpersist_artifacts((a, b))
    assert not _cached(a) and not _cached(b)

    class FakeIndex:
        pass

    idx = FakeIndex()
    idx.index_df = spark.range(3).persist()
    idx.index_df.count()
    _unpersist_artifacts(idx)
    assert not _cached(idx.index_df)
    # non-DataFrame entries are ignored without error
    _unpersist_artifacts(42)
    _unpersist_artifacts(None)


def test_unpersist_artifacts_sweeps_all_dataframe_attributes(spark):
    """A PQIndex-shaped entry persists codes_df (not index_df) — eviction
    must free EVERY DataFrame-valued attribute of a stored index object,
    or eviction leaks its blocks."""
    from vector_database_api_spark.operators.pq import PQIndex

    codes = spark.range(4).persist()
    codes.count()
    idx = PQIndex.__new__(PQIndex)  # attribute shape only
    idx.codes_df = codes
    idx.codebooks = {0: [[0.0]]}
    _unpersist_artifacts(idx)
    assert not _cached(codes)


def _rows(spark, name: str, sf_dir: str) -> list:
    return sorted(q.spark_queries()[name](spark, sf_dir).collect())


def test_artifacts_are_scoped_to_their_session(spark, sf_dir):
    """The same queries in a second session of one SparkContext build
    that session's own artifacts and views, and return the same rows."""
    names = ("bm25_postings_topk", "ltr_feature_matrix")
    base = {n: _rows(spark, n, sf_dir) for n in names}
    other = spark.newSession()
    for n in names:
        assert _rows(other, n, sf_dir) == base[n], n


def test_concurrent_construction_matches_serial(spark, sf_dir):
    """Queries over two corpora (sf0.001 and sf0.01) built and collected
    from threads in one session — artifacts built concurrently, views
    resolved concurrently — return exactly the serial rows."""
    names = (
        "hybrid_batch_rrf_topk",
        "ir_eval_hybrid_metrics",
        "ltr_feature_matrix_batch",
    )
    sf_dirs = (sf_dir, os.path.join(os.path.dirname(sf_dir), "sf0.01"))
    jobs = [(n, d) for n in names for d in sf_dirs]
    serial = {job: _rows(spark, *job) for job in jobs}
    threaded = spark.newSession()
    with ThreadPoolExecutor(len(jobs)) as pool:
        futures = [pool.submit(_rows, threaded, *job) for job in jobs]
        rows = [f.result(timeout=600) for f in futures]
    assert dict(zip(jobs, rows)) == serial


def test_each_key_builds_once_under_threads():
    """More threads than cores race on a few keys, one of whose builds
    nests another key's get: every key builds exactly once and every
    thread sees the one stored value."""
    store = _ArtifactStore()
    builds: dict[str, int] = {}

    def build(name: str):
        def run():
            builds[name] = builds.get(name, 0) + 1
            time.sleep(0.01)
            if name == "outer":
                return (store.get(("inner",), build("inner")), object())
            return object()

        return run

    names = ["outer", "inner", "a", "b"] * 8
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(len(names)) as pool:
            futures = [pool.submit(store.get, (n,), build(n)) for n in names]
            got = [f.result(timeout=60) for f in futures]
    finally:
        sys.setswitchinterval(old)
    assert builds == {"outer": 1, "inner": 1, "a": 1, "b": 1}
    for n, value in zip(names, got):
        assert value is store.get((n,), build(n))
    assert store.get(("outer",), build("outer"))[0] is store.get(("inner",), build("inner"))


def _empty_corpus(spark, sf_dir: str, tmp_path) -> str:
    """An sf dir whose documents table is empty (embeddings kept)."""
    empty_dir = tmp_path / "sf_empty"
    load_table(spark, sf_dir, "documents").limit(0).write.parquet(
        str(empty_dir / "documents.parquet")
    )
    shutil.copy(f"{sf_dir}/embeddings.parquet", empty_dir / "embeddings.parquet")
    return str(empty_dir)


def test_empty_corpus_matches_oracle(spark, sf_dir, tmp_path):
    """On an empty documents table the sql()-built postings and LTR
    queries return the oracle's 0 rows: NULL statistics bind as typed
    NULL literals, and an empty candidate pool renders no ``IN ()``."""
    empty_dir = _empty_corpus(spark, sf_dir, tmp_path)
    duck = duckdb.connect()
    for t, path in (
        ("documents", f"{empty_dir}/documents.parquet/*.parquet"),
        ("embeddings", f"{empty_dir}/embeddings.parquet"),
    ):
        duck.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    for name in ("bm25_postings_topk", "ltr_feature_matrix"):
        sdf = q.spark_queries()[name](spark, empty_dir).toPandas()
        ddf = duck.sql(q.oracle_queries()[name]).df()
        assert sorted(sdf.columns) == sorted(ddf.columns), name
        assert len(sdf) == len(ddf) == 0, name
    assert q._sql_lit(None) == "CAST(NULL AS DOUBLE)"
