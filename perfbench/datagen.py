"""Seeded generator for the benchmark's input tables.

The engine's queries read ten parquet tables (``catalog.TABLE_NAMES``): a
TPC-H-like star schema, an ``events`` click stream, a ``documents`` corpus
and an ``embeddings`` table. The benchmark writes its own copy from a seed,
so a run needs nothing outside its checkout, and the same seed gives the
same bytes. Row counts depend only on the scale, never on the seed; the seed
moves values, keys and text.

Value shapes follow the engine's reference test data (uniform categorical
columns, exponential event values, 5% near-duplicate documents that repeat
an earlier text plus the token ``dup``, 64-dimensional unit embeddings with
a weak per-label centroid), because several operators only do real work on
data with those properties (dedup needs duplicates, ANN needs clusters).
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
STATUSES = ("F", "O", "P")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "es", "zh", "de", "fr")
LANG_P = (0.41, 0.15, 0.15, 0.145, 0.145)
WORDS = (
    "a", "agg", "batch", "big", "column", "customer", "data", "fast", "filter",
    "group", "hash", "join", "key", "line", "merge", "order", "part", "query",
    "row", "scan", "slow", "small", "sort", "spark", "stream", "table", "the",
    "value", "vector", "window",
)
EMBED_DIM = 64
N_LABELS = 10

EVENTS_START = dt.datetime(2024, 1, 1)
EVENTS_SPAN_S = 30 * 86400


class Scale:
    """Row counts for one generated dataset (``sf`` in TPC-H units)."""

    def __init__(self, sf: float, n_documents: int, n_embeddings: int):
        self.customer = int(150_000 * sf)
        self.supplier = int(10_000 * sf)
        self.part = int(200_000 * sf)
        self.orders = int(1_500_000 * sf)
        self.lineitem = int(6_000_000 * sf)
        self.events = int(1_000_000 * sf)
        self.documents = n_documents
        self.embeddings = n_embeddings

    def row_counts(self) -> dict[str, int]:
        return {
            "region": len(REGIONS),
            "nation": 25,
            "customer": self.customer,
            "supplier": self.supplier,
            "part": self.part,
            "orders": self.orders,
            "lineitem": self.lineitem,
            "events": self.events,
            "documents": self.documents,
            "embeddings": self.embeddings,
        }


def _days(rng: np.random.Generator, start: dt.datetime, end: dt.datetime, n: int) -> np.ndarray:
    span = (end - start).days
    days = rng.integers(0, span + 1, n)
    return np.datetime64(start, "us") + days.astype("timedelta64[D]").astype("timedelta64[us]")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values, n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)], pa.string())


def tpch_tables(rng: np.random.Generator, scale: Scale) -> dict[str, pa.Table]:
    n_c, n_s, n_p, n_o, n_l = scale.customer, scale.supplier, scale.part, scale.orders, scale.lineitem
    region = pa.table(
        {"r_regionkey": pa.array(range(len(REGIONS)), pa.int32()), "r_name": list(REGIONS)}
    )
    nation = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % len(REGIONS) for i in range(25)], pa.int32()),
        }
    )
    customer = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_c), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_c)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_c), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_c),
            "c_mktsegment": _pick(rng, SEGMENTS, n_c),
        }
    )
    supplier = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_s), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_s)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_s), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_s),
        }
    )
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    part = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_p), pa.int64()),
            "p_name": _pick(rng, names, n_p),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_p)], pa.string()),
            "p_type": _pick(rng, PART_TYPES, n_p),
            "p_size": pa.array(rng.integers(1, 51, n_p), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(n_p) % 1000) * 0.1, 2),
        }
    )
    orders = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_o), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_c, n_o), pa.int64()),
            "o_orderstatus": _pick(rng, STATUSES, n_o),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_o),
            "o_orderdate": pa.array(
                _days(rng, dt.datetime(1995, 1, 1), dt.datetime(2001, 8, 1), n_o), pa.timestamp("us")
            ),
            "o_orderpriority": _pick(rng, PRIORITIES, n_o),
        }
    )
    lineitem = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_o, n_l), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_p, n_l), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_s, n_l), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_l), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_l).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n_l),
            "l_discount": rng.integers(0, 11, n_l) / 100.0,
            "l_tax": rng.integers(0, 9, n_l) / 100.0,
            "l_returnflag": _pick(rng, ("A", "N", "R"), n_l),
            "l_linestatus": _pick(rng, ("F", "O"), n_l),
            "l_shipdate": pa.array(
                _days(rng, dt.datetime(1995, 1, 2), dt.datetime(2001, 11, 4), n_l), pa.timestamp("us")
            ),
        }
    )
    return {
        "region": region,
        "nation": nation,
        "customer": customer,
        "supplier": supplier,
        "part": part,
        "orders": orders,
        "lineitem": lineitem,
    }


def events_table(rng: np.random.Generator, n: int, span_s: int = EVENTS_SPAN_S) -> pa.Table:
    """``n`` events over ``span_s`` seconds, ``ts`` increasing with ``event_id``."""
    offsets_us = np.sort(rng.integers(0, span_s * 1_000_000, n))
    ts = np.datetime64(EVENTS_START, "us") + offsets_us.astype("timedelta64[us]")
    n_users = max(10, n * 3 // 200)
    return pa.table(
        {
            "event_id": pa.array(np.arange(n), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, n), pa.int64()),
            "event_type": _pick(rng, EVENT_TYPES, n),
            "value": np.maximum(np.round(rng.exponential(50.0, n), 2), 0.01),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)], pa.string()),
        }
    )


def documents_table(rng: np.random.Generator, n: int) -> pa.Table:
    """``n`` documents; 5% repeat an earlier document's text plus ``dup``."""
    words = np.asarray(WORDS, dtype=object)
    texts = [" ".join(words[rng.integers(0, len(WORDS), rng.integers(10, 101))]) for _ in range(n)]
    n_dup = n // 20
    for i in rng.choice(np.arange(1, n), n_dup, replace=False):
        texts[i] = texts[int(rng.integers(0, i))] + " dup"
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": _pick(rng, LANGS, n, p=LANG_P),
            "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def embeddings_table(rng: np.random.Generator, n: int) -> pa.Table:
    """``n`` unit vectors, each drawn near one of ``N_LABELS`` centroids."""
    labels = rng.integers(0, N_LABELS, n)
    centroids = rng.normal(size=(N_LABELS, EMBED_DIM))
    centroids /= np.linalg.norm(centroids, axis=1, keepdims=True)
    vecs = rng.normal(scale=0.125, size=(n, EMBED_DIM)) + 0.6 * centroids[labels] / np.sqrt(EMBED_DIM)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    vecs = vecs.astype(np.float32)
    offsets = pa.array(np.arange(0, n * EMBED_DIM + 1, EMBED_DIM), pa.int32())
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.ListArray.from_arrays(offsets, pa.array(vecs.ravel(), pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )


def make_tables(seed: int, scale: Scale) -> dict[str, pa.Table]:
    """All ten tables for ``seed``; each table draws from its own stream, so
    a table's content does not depend on the sizes of the others."""
    streams = np.random.SeedSequence(seed).spawn(4)
    rngs = [np.random.default_rng(s) for s in streams]
    tables = tpch_tables(rngs[0], scale)
    tables["events"] = events_table(rngs[1], scale.events)
    tables["documents"] = documents_table(rngs[2], scale.documents)
    tables["embeddings"] = embeddings_table(rngs[3], scale.embeddings)
    return tables


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    """One ``<name>.parquet`` file (one row group) per table, as the engine's
    catalog expects."""
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))


class Arrivals:
    """``events`` and ``documents`` cut into ``n`` arrival files, one per
    time slice of ``events`` (one day when the events span ``n`` days).

    Arrival ``k`` holds the events of slice ``k`` except a seeded
    ``late_share`` of the slice's last ``late_window_s`` seconds, which come
    one arrival late, out of order; and it re-sends (same ``event_id``)
    ``dup_share`` of all events, drawn from the previous slice's last
    ``late_window_s`` seconds. Both stay inside the stream watermarks, so no
    row is dropped and every stream output has an exact batch twin. Row
    counts do not depend on the seed.
    """

    def __init__(
        self,
        seed: int,
        events: pa.Table,
        documents: pa.Table,
        n: int,
        span_s: int,
        late_share: float = 0.3,
        dup_share: float = 0.005,
        late_window_s: int = 1800,
    ):
        rng = np.random.default_rng(np.random.SeedSequence([seed, 1]))
        start_us = int(np.datetime64(EVENTS_START, "us").astype(np.int64))
        ts_us = events.column("ts").cast(pa.int64()).to_numpy() - start_us
        edges = span_s * 1_000_000 * np.arange(n + 1) // n
        slice_of = np.minimum(np.searchsorted(edges, ts_us, side="right") - 1, n - 1)
        movable = np.flatnonzero(
            (ts_us >= edges[slice_of + 1] - late_window_s * 1_000_000) & (slice_of < n - 1)
        )
        resent = np.sort(rng.choice(movable, int(dup_share * len(ts_us)), replace=False))
        late = np.zeros(len(ts_us), bool)
        late[rng.choice(movable, int(late_share * len(movable)), replace=False)] = True
        arrival_of = slice_of + late
        self.events: list[pa.Table] = []
        for k in range(n):
            own = events.filter(pa.array(arrival_of == k))
            again = events.take(pa.array(resent[slice_of[resent] == k - 1]))
            self.events.append(pa.concat_tables([own, again]))
        doc_order = rng.permutation(documents.num_rows)
        self.documents = [
            documents.take(pa.array(np.sort(part))) for part in np.array_split(doc_order, n)
        ]

    def __len__(self) -> int:
        return len(self.events)
