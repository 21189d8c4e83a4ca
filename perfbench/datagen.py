"""Seeded input generators for the benchmark workloads.

Everything here is a pure function of the seed: the same seed yields the same
batches, keys and analytics tables. The engine only ever sees the DataFrames
and parquet files built from these values.
"""

from __future__ import annotations

import hashlib
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --------------------------------------------------------------------------
# keyed table rows (ingest_cow, mor_mixed)

#: DDL of the keyed benchmark table; ``day`` is derived from the key, so keys
#: issued later land in later partitions
TABLE_DDL = "id STRING, ts BIGINT, day STRING, qty INT, amount DOUBLE, note STRING"
TABLE_COLS = ["id", "ts", "day", "qty", "amount", "note"]

_NOTES = ["new", "repeat", "gift", "bulk", "promo", "return", "express", "store"]


class KeyedRows:
    """Key issuer plus the independent model of the expected table.

    ``model`` maps key -> row tuple (in ``TABLE_COLS`` order) for every live
    key; ``changed_at`` maps key -> the write sequence number that last
    changed it. Batches are applied to the model when they are generated.
    """

    def __init__(self, seed: int, keys_per_day: int):
        self.rng = random.Random(seed)
        self.keys_per_day = keys_per_day
        self.next_key = 0
        self.model: dict[str, tuple] = {}
        self.changed_at: dict[str, int] = {}
        self._live: set[int] = set()  # key numbers issued and still live

    @staticmethod
    def key(k: int) -> str:
        return f"k{k:09d}"

    def _row(self, k: int, ts: int) -> tuple:
        r = self.rng
        return (
            self.key(k),
            ts,
            f"d{k // self.keys_per_day:04d}",
            r.randint(1, 500),
            round(r.uniform(0.5, 999.5), 2),
            r.choice(_NOTES),
        )

    def _put(self, k: int, row: tuple, seq: int) -> None:
        self.model[row[0]] = row
        self.changed_at[row[0]] = seq
        self._live.add(k)

    def _drop(self, k: int) -> None:
        key = self.key(k)
        del self.model[key]
        self.changed_at.pop(key, None)
        self._live.discard(k)

    def _live_keys(self) -> list[int]:
        return sorted(self._live)

    def _insert(self, seq: int) -> tuple:
        k = self.next_key
        self.next_key += 1
        row = self._row(k, seq)
        self._put(k, row, seq)
        return row

    def preload(self, n: int, seq: int = 0) -> list[tuple]:
        return [self._insert(seq) for _ in range(n)]

    def cdc_batch(self, seq: int, inserts: int, updates: int, deletes: int) -> list[tuple]:
        """One CDC micro-batch: rows in ``TABLE_COLS`` order plus an ``_op``
        of I/U/D, one row per key. ``inserts`` new keys; ``updates`` and
        ``deletes`` distinct keys drawn from the ``inserts`` newest keys
        issued before the batch (the previous batch's inserts), so a batch
        changes the newest partition and adds the next one."""
        recent = [k for k in range(max(0, self.next_key - inserts), self.next_key)
                  if k in self._live]
        changed = self.rng.sample(recent, updates + deletes)
        out = [self._insert(seq) + ("I",) for _ in range(inserts)]
        for k in changed[:updates]:
            row = self._row(k, seq)
            self._put(k, row, seq)
            out.append(row + ("U",))
        for k in changed[updates:]:
            old = self.model[self.key(k)]
            out.append(old[:1] + (seq,) + old[2:] + ("D",))
            self._drop(k)
        return out

    def merge_batch(self, seq: int, matched: int, new: int) -> list[tuple]:
        """One MERGE source batch: ``matched`` distinct keys drawn uniformly
        from the live keys (the MATCHED → UPDATE branch) plus ``new`` new
        keys (the NOT MATCHED → INSERT branch)."""
        out = []
        for k in self.rng.sample(self._live_keys(), matched):
            row = self._row(k, seq)
            self._put(k, row, seq)
            out.append(row)
        return out + [self._insert(seq) for _ in range(new)]

    def pick_live_key(self) -> str:
        return self.key(self.rng.choice(self._live_keys()))


def row_digest(row) -> int:
    """Stable 64-bit digest of one row; floats are compared at 1e-6."""
    parts = []
    for v in row:
        if isinstance(v, float):
            parts.append(f"{v:.6f}")
        else:
            parts.append(repr(v))
    return int.from_bytes(hashlib.blake2b("\x1f".join(parts).encode(), digest_size=8).digest(), "big")


def table_hash(rows) -> tuple[int, int]:
    """Order-independent (row count, digest sum mod 2**64) of a row set."""
    n = 0
    acc = 0
    for row in rows:
        n += 1
        acc = (acc + row_digest(row)) % (1 << 64)
    return n, acc


# --------------------------------------------------------------------------
# analytics tables (the sf*/ layout the registry queries read)

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_ADJ = ["blue", "cold", "hot", "new", "old", "red", "small", "big"]
_NOUNS = ["anvil", "bolt", "gear", "plate", "ring", "rod", "widget", "valve"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
_WORDS = (
    "join hash row batch scan column customer filter small slow merge vector order "
    "line table data agg value key stream window spark a part group big sort query "
    "fast the"
).split()


def _days(rng: np.random.Generator, n: int, start: str, span_days: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span_days, n).astype("timedelta64[D]").astype("timedelta64[us]")


def _write(dirpath: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(dirpath, f"{name}.parquet"))


def write_analytics_tables(dirpath: str, seed: int, sf: float) -> dict[str, int]:
    """Write the ten sf tables for scale factor ``sf`` under ``dirpath``;
    returns the row count of each. Schemas and value ranges follow the
    repository's sf test tables (TPC-H-style star schema, ``events``,
    ``documents``, ``embeddings``)."""
    rng = np.random.default_rng(seed)
    os.makedirs(dirpath, exist_ok=True)
    n_li = int(6_000_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_cust = int(150_000 * sf)
    n_supp = max(10, int(10_000 * sf))
    n_part = int(200_000 * sf)
    n_ev = int(1_000_000 * sf)
    n_users = max(15, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_vec = max(500, int(20_000 * sf))

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    _write(dirpath, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _REGIONS,
    })
    _write(dirpath, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    _write(dirpath, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(-999.99, 9999.99, n_supp),
    })
    _write(dirpath, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": [_SEGMENTS[i] for i in rng.integers(0, 5, n_cust)],
    })
    _write(dirpath, "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [
            f"{_ADJ[a]} {_NOUNS[b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": [_PTYPES[i] for i in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
    })
    _write(dirpath, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": money(900.0, 500_000.0, n_ord),
        "o_orderdate": _days(rng, n_ord, "1995-01-01", 2404),
        "o_orderpriority": [_PRIORITIES[i] for i in rng.integers(0, 5, n_ord)],
    })
    _write(dirpath, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": money(900.0, 105_000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_li)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_li)],
        "l_shipdate": _days(rng, n_li, "1995-01-02", 2498),
    })
    # event timestamps: distinct, increasing, spread over 30 days
    gaps = rng.integers(1, int(30 * 86_400 * 1e6 / n_ev) * 2, n_ev)
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.cumsum(gaps).astype("timedelta64[us]")
    _write(dirpath, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": [_EVENT_TYPES[i] for i in rng.integers(0, 5, n_ev)],
        "value": money(0.5, 200.0, n_ev),
        "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, n_ev)],
    })
    # documents: random word sequences; 4% exact copies and 4% near copies of
    # earlier documents, so both dedup flavours have work to find
    texts: list[str] = []
    for i in range(n_docs):
        u = rng.random()
        if i > 10 and u < 0.04:
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 10 and u < 0.08:
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = "dup"
            texts.append(" ".join(words))
        else:
            n_words = int(rng.integers(20, 80))
            texts.append(" ".join(_WORDS[j] for j in rng.integers(0, len(_WORDS), n_words)))
    _write(dirpath, "documents", {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": [_LANGS[i] for i in rng.integers(0, len(_LANGS), n_docs)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    # embeddings: ten label centroids plus noise, unit-normalised, float32
    dim = 64
    centroids = rng.normal(0.0, 1.0, (10, dim))
    labels = rng.integers(0, 10, n_vec)
    vecs = centroids[labels] + rng.normal(0.0, 1.5, (n_vec, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(dirpath, "embeddings", {
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return {
        "lineitem": n_li, "orders": n_ord, "customer": n_cust, "supplier": n_supp,
        "part": n_part, "nation": 25, "region": 5, "events": n_ev,
        "documents": n_docs, "embeddings": n_vec,
    }
