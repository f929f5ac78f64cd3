"""Seeded input generator: tables, library assignment, request and write logs.

Everything the engine sees is derived from one integer seed, so a run is
reproducible and two seeds give two different but statistically alike
inputs.  The tables follow the repository's TPC-H-ish test-data schema
(``TESTDATA.md``): same column names and parquet types, same value ranges, a 30-word corpus
vocabulary with near-duplicate ``dup`` markers, and 64-d unit embeddings
for a subset of documents (the rest are NULL and filled by the engine's
embedder at ingest).
"""

from __future__ import annotations

import datetime as dt
import itertools
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
DIM = 64

# Serving paths, one library each.  The index arguments are those the
# engine recommends for serving (config.LSH_PROFILES / IVF_PROFILES).
READ_PATHS = {
    "brute": None,
    "lsh": ("lsh", {"lsh_profile": "tuned"}),
    "ivf": ("ivf", {"ivf_profile": "trained-p4"}),
    "pq": ("pq", {}),
    "sq8": ("sq8", {}),
    "bm25": ("bm25", {}),
    "hybrid": ("hybrid", {}),
}
WRITE_PATHS = {
    "lsh": READ_PATHS["lsh"],
    "ivf": READ_PATHS["ivf"],
    "bm25": READ_PATHS["bm25"],
}
KS = (5, 10, 50)
BM25_VARIANTS = (
    {"mode": "or"},
    {"mode": "and"},
    {"mode": "maxscore"},
    {"mode": "blockmax"},
    {"mode": "or", "ranking": "ql"},
    {"mode": "and", "ranking": "ql"},
)
FUSIONS = ("rrf", "linear", "combmnz")


# -- tables ---------------------------------------------------------------


def _words(rng: np.random.Generator, n: int) -> str:
    return " ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB), n))


def documents(rng: np.random.Generator, n_docs: int, n_libraries: int) -> pa.Table:
    """``documents``: 10-100 words each; 5% carry a trailing ``dup`` marker
    and 0.2% are exact copies of an earlier text.  ``source`` (the library)
    is a seeded balanced assignment: every library gets n_docs/n_libraries
    documents."""
    texts = [_words(rng, int(rng.integers(10, 101))) for _ in range(n_docs)]
    for i in np.flatnonzero(rng.random(n_docs) < 0.05):
        texts[i] += " dup"
    for i in np.flatnonzero(rng.random(n_docs) < 0.002):
        if i > 0:
            texts[i] = texts[int(rng.integers(0, i))]
    lib_of = np.empty(n_docs, dtype=np.int64)
    lib_of[rng.permutation(n_docs)] = np.arange(n_docs) % n_libraries
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(
                [LANGS[i] for i in rng.choice(len(LANGS), n_docs, p=LANG_P)],
                pa.string(),
            ),
            "source": pa.array([f"src{i}" for i in lib_of], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def unit_vectors(rng: np.random.Generator, n: int) -> np.ndarray:
    v = rng.standard_normal((n, DIM))
    return (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)


def embeddings(rng: np.random.Generator, n_docs: int, n_embedded: int) -> pa.Table:
    """``embeddings`` for a seeded subset of ``n_embedded`` document ids."""
    ids = np.sort(rng.choice(n_docs, n_embedded, replace=False))
    vecs = unit_vectors(rng, n_embedded)
    return pa.table(
        {
            "vec_id": pa.array(ids, pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_embedded), pa.int32()),
        }
    )


def _days(rng, n, start: dt.date, span_days: int) -> pa.Array:
    base = np.datetime64(start.isoformat(), "us")
    offs = rng.integers(0, span_days, n).astype("timedelta64[D]")
    return pa.array(base + offs, pa.timestamp("us"))


def tpch(rng: np.random.Generator, sf: float) -> dict[str, pa.Table]:
    """The star-schema tables at scale ``sf`` (sf=0.01: 1,500 customers,
    15,000 orders, 60,000 lineitems)."""
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li = int(1_500_000 * sf), int(6_000_000 * sf)
    money = lambda lo, hi, n: np.round(rng.uniform(lo, hi, n), 2)  # noqa: E731
    pick = lambda xs, n: pa.array([xs[i] for i in rng.integers(0, len(xs), n)])  # noqa: E731
    adjectives = "small red blue hot old large cold green".split()
    nouns = "ring widget bolt gear gizmo plate nut spring".split()
    return {
        "region": pa.table(
            {
                "r_regionkey": pa.array(range(5), pa.int32()),
                "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
                "c_acctbal": money(-999.99, 9999.99, n_cust),
                "c_mktsegment": pick(
                    ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"],
                    n_cust,
                ),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
                "s_acctbal": money(-999.99, 9999.99, n_supp),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": pa.array(np.arange(n_part), pa.int64()),
                "p_name": [
                    f"{adjectives[a]} {nouns[b]}"
                    for a, b in rng.integers(0, 8, (n_part, 2))
                ],
                "p_brand": pick([f"Brand#{i}" for i in range(1, 26)], n_part),
                "p_type": pick(
                    ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part
                ),
                "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
                "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
                "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
                "o_orderstatus": pick(["F", "O", "P"], n_ord),
                "o_totalprice": money(1000, 500_000, n_ord),
                "o_orderdate": _days(rng, n_ord, dt.date(1995, 1, 1), 2405),
                "o_orderpriority": pick(
                    ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
                    n_ord,
                ),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
                "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
                "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
                "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
                "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
                "l_extendedprice": money(900, 105_000, n_li),
                "l_discount": rng.integers(0, 11, n_li) / 100.0,
                "l_tax": rng.integers(0, 9, n_li) / 100.0,
                "l_returnflag": pick(["A", "N", "R"], n_li),
                "l_linestatus": pick(["F", "O"], n_li),
                "l_shipdate": _days(rng, n_li, dt.date(1995, 1, 2), 2498),
            }
        ),
    }


def events(rng: np.random.Generator, n: int, n_users: int) -> pa.Table:
    base = np.datetime64("2024-01-01T00:00:00", "us")
    ts = base + np.sort(rng.integers(0, 30 * 86_400 * 10**6, n)).astype("timedelta64[us]")
    return pa.table(
        {
            "event_id": pa.array(np.arange(n), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, n), pa.int64()),
            "event_type": pa.array(
                [("click", "error", "purchase", "signup", "view")[i] for i in rng.integers(0, 5, n)]
            ),
            "value": np.round(rng.uniform(0.01, 490.0, n), 2),
            "props": pa.array([f'{{"k": {i}}}' for i in rng.integers(0, 100, n)]),
        }
    )


@dataclass(frozen=True)
class InputSpec:
    n_docs: int
    n_embedded: int
    n_libraries: int
    tpch_sf: float | None  # None: corpus tables only


SERVE_INPUTS = InputSpec(n_docs=5000, n_embedded=2000, n_libraries=20, tpch_sf=None)
BATCH_INPUTS = InputSpec(n_docs=1000, n_embedded=400, n_libraries=20, tpch_sf=0.01)


def make_tables(seed: int, spec: InputSpec) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    tables = {
        "documents": documents(rng, spec.n_docs, spec.n_libraries),
        "embeddings": embeddings(rng, spec.n_docs, spec.n_embedded),
    }
    if spec.tpch_sf is not None:
        tables.update(tpch(rng, spec.tpch_sf))
        tables["events"] = events(rng, int(1_000_000 * spec.tpch_sf), 150)
    return tables


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    """One parquet file per table, ``<out_dir>/<name>.parquet`` — the
    layout ``sources.tables.load_table`` and the DuckDB oracles read."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


# -- libraries and requests -------------------------------------------------


@dataclass(frozen=True)
class Request:
    path: str  # serving path: brute, lsh, ivf, pq, sq8, bm25, hybrid
    library_id: str
    query_text: str | None = None
    query_embedding: tuple[float, ...] | None = None
    k: int = 10
    lang: str | None = None
    mode: str = "or"
    ranking: str = "bm25"
    fusion: str = "rrf"

    def kwargs(self) -> dict:
        return {
            "query_text": self.query_text,
            "query_embedding": list(self.query_embedding)
            if self.query_embedding is not None
            else None,
            "k": self.k,
            "metadata_filters": {"lang": self.lang} if self.lang else None,
            "mode": self.mode,
            "ranking": self.ranking,
            "fusion": self.fusion,
        }


def assign_paths(seed: int, libraries: list[str], paths: list[str]) -> dict[str, str]:
    """Seeded choice of one distinct library per serving path."""
    rng = np.random.default_rng([seed, 1])
    chosen = rng.choice(sorted(libraries), len(paths), replace=False)
    return dict(zip(paths, (str(x) for x in chosen)))


SLOTS = 6  # request shapes per serving path
# The readers walk the paths in this order, slow and fast ones alternating,
# from these starting points: paths bm25, hybrid and brute with shapes 0, 4
# and 2.  Between them they ask every path within their first three
# requests, each of which starts within about 6 s on 4 cores.
WALK = ("bm25", "pq", "hybrid", "sq8", "lsh", "brute", "ivf")
READER_STARTS = (0, 16, 26)
QUERY_WORDS = (4, 6, 8, 10, 12, 7)  # query text length of each shape


def _shaped(rng, texts_by_lib: dict[str, list[str]], path: str, lib: str, slot: int) -> Request:
    """A request of shape ``slot`` on ``path``.  The shape is the same for
    every seed: k = KS[slot % 3], a ``lang`` filter on odd slots, a query
    text of QUERY_WORDS[slot] words, bm25 variant ``slot`` (mode
    or/and/maxscore/blockmax, ranking ql), hybrid fusion slot % 3
    (rrf/linear/combmnz).  ``rng`` draws the content: which span of which
    document in the library is the query text, and the filter value."""
    texts = texts_by_lib[lib]
    words = texts[int(rng.integers(0, len(texts)))].split(" ")
    n = QUERY_WORDS[slot]
    start = int(rng.integers(0, max(1, len(words) - n + 1)))
    lang = str(LANGS[int(rng.integers(0, len(LANGS)))])
    extra: dict = {}
    if path == "bm25":
        extra = BM25_VARIANTS[slot % len(BM25_VARIANTS)]
    elif path == "hybrid":
        extra = {"fusion": FUSIONS[slot % len(FUSIONS)]}
    return Request(
        path=path,
        library_id=lib,
        query_text=" ".join(words[start : start + n]),
        k=KS[slot % len(KS)],
        lang=lang if slot % 2 else None,
        **extra,
    )


def warm_up_requests(
    seed: int, texts_by_lib: dict[str, list[str]], lib_of_path: dict[str, str]
) -> list[Request]:
    """One request per serving path, sent before the measured window.  Its
    content comes from a stream of its own, so the window does not repeat
    it."""
    rng = np.random.default_rng([seed, 5])
    return [_shaped(rng, texts_by_lib, p, lib, j % SLOTS) for j, (p, lib) in enumerate(lib_of_path.items())]


def reader_log(
    seed: int, texts_by_lib: dict[str, list[str]], lib_of_path: dict[str, str], reader: int
):
    """Endless closed-loop request log of one reader.  With g = n +
    READER_STARTS[reader], request n asks path WALK[g % 7] with shape
    g % SLOTS.  So any 42 consecutive requests cover every path with every
    shape, concurrent readers ask different paths and shapes, and the
    shapes asked in a run do not depend on the seed, which draws only the
    content."""
    rng = np.random.default_rng([seed, 3, reader])
    items = [(p, lib_of_path[p]) for p in WALK]
    for g in itertools.count(READER_STARTS[reader]):
        path, lib = items[g % len(items)]
        yield _shaped(rng, texts_by_lib, path, lib, g % SLOTS)


# -- writes -------------------------------------------------------------------


@dataclass
class LibraryModel:
    """The benchmark's own copy of a write library: id -> (text, embedding).
    It is what read-after-write checks are judged against."""

    path: str
    library_id: str
    rows: dict[str, tuple[str, np.ndarray]] = field(default_factory=dict)


@dataclass(frozen=True)
class WriteOp:
    op: str  # update | delete | ingest
    path: str
    library_id: str
    ids: tuple[str, ...]
    texts: tuple[str, ...] = ()  # update: new texts; ingest: new rows' texts


def write_group(seed: int, models: dict[str, LibraryModel], first_new_id: int) -> list[WriteOp]:
    """The writes of one run, one on each write library, in this order: an
    ingest of 20 new NULL-embedding chunks with fresh ids from
    ``first_new_id`` (bm25; the caller reindexes after), an update of 1-3
    chunk texts (lsh) and a delete of 1-3 chunks (ivf).  The seed picks the ids and the texts.  Texts
    carry a token no other chunk has, so a keyword read-after-write finds
    exactly that chunk."""
    rng = np.random.default_rng([seed, 4])
    serial = itertools.count(1)

    def fresh_text() -> str:
        return f"{_words(rng, int(rng.integers(8, 30)))} rev{seed}x{next(serial)}"

    def pick(m: LibraryModel) -> tuple[str, ...]:
        return tuple(str(x) for x in rng.choice(sorted(m.rows), int(rng.integers(1, 4)), replace=False))

    upd, dele, ing = (models[p] for p in WRITE_PATHS)
    new_ids = tuple(str(first_new_id + j) for j in range(20))
    ids = pick(upd)
    return [
        WriteOp("ingest", ing.path, ing.library_id, new_ids, tuple(fresh_text() for _ in new_ids)),
        WriteOp("update", upd.path, upd.library_id, ids, tuple(fresh_text() for _ in ids)),
        WriteOp("delete", dele.path, dele.library_id, pick(dele)),
    ]
