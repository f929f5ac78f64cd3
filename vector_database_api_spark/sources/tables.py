"""Table sources.

Two surfaces:

1. The driver's TPC-H-ish parquet tables (``TESTDATA.md``) loaded verbatim —
   inputs for the oracle-checked query suite.
2. The engine's canonical entity tables (reference data model,
   ``/root/reference/app/models.py:21-106``) synthesized from the driver's
   ``documents`` + ``embeddings`` tables:

   - ``chunks``  — the vector-bearing row (models.py:21-34): one row per
     driver document, ``embedding`` joined from ``embeddings`` on
     ``doc_id == vec_id``, ``metadata`` as MAP<STRING,STRING>.
   - ``documents`` / ``libraries`` — parents; ``source`` plays the role of
     the library (the per-library partition key the reference scopes every
     search to, ``app/services/search_service.py:99``).

At scale the chunks table would be written partitioned by ``library_id`` so
library scoping becomes partition pruning; here it is a view over the
driver's read-only parquet, so scoping is a pushed-down predicate instead.
"""

from __future__ import annotations

import itertools
import os
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

DRIVER_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """One parquet read of an input table: file listing and footer schema
    inference on every call.  ``load_table`` serves the registered view
    instead; ``queries.q13_custdist``, the bench anchor, keeps this raw
    read so the anchor measures the same work across changes."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        # events.ts is parquet TIMESTAMP(NANOS) which Spark's vectorized
        # reader rejects; read nanos as BIGINT and rebuild a NTZ timestamp
        # (µs precision — matches DuckDB/pandas value semantics).
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
        if dict(df.dtypes).get("ts") == "bigint":
            # integer division: ns values (~1.7e18) exceed double precision
            # (2^53), so a float path would be off by ±1 µs
            df = df.withColumn(
                "ts",
                F.timestamp_micros(F.expr("ts DIV 1000")).cast("timestamp_ntz"),
            )
        return df
    return spark.read.parquet(path)


_CATALOG: dict[tuple, str] = {}
_CATALOG_LOCK = threading.Lock()
_VIEW_IDS = itertools.count()


def table_view(spark: SparkSession, sf_dir: str, name: str) -> str:
    """Name of the temp view over an input table, read and registered once
    per (session, sf_dir, table) — the catalog posture of any deployment,
    where a metastore table is a registered relation.  A raw parquet read
    re-runs file listing and footer schema inference on every call
    (~50-60 ms each); resolving the view reuses the one analyzed
    relation.  Scans still read parquet per query: nothing about the
    data is cached.  Query bodies built as one ``spark.sql()`` string
    reference tables by this name — each chained Dataset op pays an
    eager py4j and analyzer round trip, one sql() call analyzes the
    whole tree once."""
    key = (spark, sf_dir, name)
    with _CATALOG_LOCK:
        if key not in _CATALOG:
            view = f"_t{next(_VIEW_IDS)}_{name}"
            read_table(spark, sf_dir, name).createOrReplaceTempView(view)
            _CATALOG[key] = view
        return _CATALOG[key]


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """An input table served from its catalog view (``table_view``).
    ``toDF`` re-aliases the columns, so two loads of one table carry
    distinct column ids and join each other like two parquet reads."""
    df = spark.table(table_view(spark, sf_dir, name))
    return df.toDF(*df.columns)


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in DRIVER_TABLES}


def chunks_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical ``chunks`` DataFrame (reference Chunk, models.py:21-34).

    ``id``/``document_id`` from ``doc_id``, ``library_id`` from ``source``,
    64-d ``embedding`` from the embeddings table, scalar attributes folded
    into the ``metadata`` map exactly as the reference keeps
    ``Dict[str, Any]`` metadata on every chunk (models.py:26).
    """
    docs = load_table(spark, sf_dir, "documents")
    embs = load_table(spark, sf_dir, "embeddings")
    return (
        docs.join(embs, docs["doc_id"] == embs["vec_id"], "left")
        .select(
            docs["doc_id"].cast("string").alias("id"),
            F.col("source").alias("library_id"),
            docs["doc_id"].cast("string").alias("document_id"),
            F.col("text"),
            F.col("embedding"),
            F.create_map(
                F.lit("lang"), F.col("lang"),
                F.lit("source"), F.col("source"),
                F.lit("n_chars"), F.col("n_chars").cast("string"),
                F.lit("label"), F.col("label").cast("string"),
            ).alias("metadata"),
        )
    )


def documents_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical ``documents`` (reference Document, models.py:51-65)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        docs["doc_id"].cast("string").alias("id"),
        F.col("source").alias("library_id"),
        F.concat(F.lit("doc-"), docs["doc_id"].cast("string")).alias("name"),
        F.create_map(
            F.lit("lang"), F.col("lang"),
            F.lit("n_chars"), F.col("n_chars").cast("string"),
        ).alias("metadata"),
    )


def libraries_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical ``libraries`` (reference Library, models.py:92-106): one per
    distinct ``source``."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.col("source"))
        .distinct()
        .select(
            F.col("source").alias("id"),
            F.concat(F.lit("library-"), F.col("source")).alias("name"),
            F.lit(False).alias("is_indexed"),
        )
    )
