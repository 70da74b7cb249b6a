"""Seeded synthetic inputs for the benchmark.

The ten analyst/LLM tables follow the schemas and value domains the query
registry is written against (region .. embeddings, see FIXTURES.md), drawn
from numpy's PCG64 so one seed always yields byte-identical Parquet.
``sf`` scales the row counts the way the TPC-H-style tables do; the
document/embedding corpus is sized separately because the LLM ops cost
grows with pairs, not rows.

The key-value records for ``kv_log`` come from :class:`KvGen`: a few
namespaces of unequal weight, keys drawn from a hot set with a stated
probability, and printable values of a stated size range.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
P_ADJ = ["blue", "cold", "hot", "large", "old", "red", "small", "smooth"]
P_NOUN = ["bolt", "gear", "nut", "plate", "ring", "rod", "screw", "widget"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.14, 0.42, 0.15, 0.14, 0.15]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()

_EPOCH = dt.datetime(1970, 1, 1)
_US_PER_DAY = 86_400_000_000


def _us(d: dt.datetime) -> int:
    return (d - _EPOCH) // dt.timedelta(microseconds=1)


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, start: dt.datetime, end: dt.datetime, n: int) -> pa.Array:
    d0, d1 = _us(start) // _US_PER_DAY, _us(end) // _US_PER_DAY
    return pa.array(rng.integers(d0, d1 + 1, n) * _US_PER_DAY, pa.timestamp("us"))


def _fmt(prefix: str, ids: np.ndarray) -> list[str]:
    return [f"{prefix}{i:09d}" for i in ids.tolist()]


def make_tables(seed: int, sf: float, docs: int, vecs: int) -> dict[str, pa.Table]:
    """All ten tables for one seed; ``docs``/``vecs`` size the text corpus."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_evt = int(1_500_000 * sf), int(1_000_000 * sf)
    n_line = 4 * n_ord
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    ck = np.arange(n_cust)
    t["customer"] = pa.table(
        {
            "c_custkey": ck,
            "c_name": _fmt("Customer#", ck),
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust),
        }
    )
    sk = np.arange(n_supp)
    t["supplier"] = pa.table(
        {
            "s_suppkey": sk,
            "s_name": _fmt("Supplier#", sk),
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    pk = np.arange(n_part)
    t["part"] = pa.table(
        {
            "p_partkey": pk,
            "p_name": np.char.add(
                np.char.add(rng.choice(P_ADJ, n_part), " "), rng.choice(P_NOUN, n_part)
            ),
            "p_brand": np.char.add("Brand#", rng.integers(0, 25, n_part).astype(str)),
            "p_type": rng.choice(P_TYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 2),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _days(rng, dt.datetime(1995, 1, 1), dt.datetime(2001, 8, 1), n_ord),
            "o_orderpriority": rng.choice(PRIORITIES, n_ord),
        }
    )
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    t["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n_ord, n_line),
            "l_partkey": rng.integers(0, n_part, n_line),
            "l_suppkey": rng.integers(0, n_supp, n_line),
            "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
            "l_quantity": qty,
            "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_line),
            "l_linestatus": rng.choice(["F", "O"], n_line),
            "l_shipdate": _days(rng, dt.datetime(1995, 1, 2), dt.datetime(2001, 11, 4), n_line),
        }
    )
    # event_id is dense and monotonic with ts (a usable log seqno); adding
    # the rank makes the sorted microsecond stamps strictly increasing
    offs = np.sort(rng.integers(0, 30 * _US_PER_DAY, n_evt)) + np.arange(n_evt)
    t["events"] = pa.table(
        {
            "event_id": np.arange(n_evt),
            "ts": pa.array(_us(dt.datetime(2024, 1, 1)) + offs, pa.timestamp("us")),
            "user_id": rng.integers(0, max(1, int(15_000 * sf)), n_evt),
            "event_type": rng.choice(EVENT_TYPES, n_evt),
            "value": np.round(rng.exponential(50.0, n_evt), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt).tolist()],
        }
    )
    t["documents"] = _documents(rng, docs)
    emb = rng.normal(0.0, 1.0, (vecs, 64))
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    t["embeddings"] = pa.table(
        {
            "vec_id": np.arange(vecs),
            "embedding": pa.array(list(emb.astype(np.float32)), pa.list_(pa.float32())),
            "label": rng.integers(0, 10, vecs).astype(np.int32),
        }
    )
    return t


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Pseudo-text over a small shared vocabulary (high token overlap, so
    near-duplicate thresholds are selective only near 0.9). 5% of the
    documents copy an earlier one plus a marker word (near duplicates) and
    0.2% copy one verbatim (exact duplicates); the counts are fixed so the
    dedup ops' result sizes move little from seed to seed."""
    copies = rng.permutation(np.arange(1, n))[: n // 20 + n // 500]
    kind = dict.fromkeys(copies[: n // 20].tolist(), " dup")
    kind.update(dict.fromkeys(copies[n // 20 :].tolist(), ""))
    texts: list[str] = []
    for i in range(n):
        if i in kind:
            texts.append(texts[int(rng.integers(0, i))] + kind[i])
        else:
            texts.append(" ".join(rng.choice(VOCAB, int(rng.integers(10, 101)))))
    return pa.table(
        {
            "doc_id": np.arange(n),
            "text": texts,
            "lang": rng.choice(LANGS, n, p=LANG_P),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
        }
    )


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> int:
    """Write ``<out_dir>/<name>.parquet`` per table; returns bytes written."""
    os.makedirs(out_dir, exist_ok=True)
    total = 0
    for name, tbl in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(tbl, path)
        total += os.path.getsize(path)
    return total


class KvGen:
    """Seeded key-value traffic: namespaces with weights, skewed keys (a hot
    set takes ``hot_p`` of all key draws), values of ``value_bytes`` length."""

    NAMESPACES = ("users", "orders", "sessions", "config")
    NS_P = (0.4, 0.3, 0.2, 0.1)
    _ALPHABET = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz0123456789", np.uint8)

    def __init__(
        self,
        rng: np.random.Generator,
        keys_per_ns: int = 20_000,
        hot_keys: int = 200,
        hot_p: float = 0.5,
        value_bytes: tuple[int, int] = (32, 256),
    ):
        self.rng = rng
        self.keys_per_ns = keys_per_ns
        self.hot_keys = hot_keys
        self.hot_p = hot_p
        self.value_bytes = value_bytes

    def namespace(self) -> str:
        return str(self.rng.choice(self.NAMESPACES, p=self.NS_P))

    def keys(self, n: int) -> list[str]:
        hot = self.rng.random(n) < self.hot_p
        ids = np.where(
            hot,
            self.rng.integers(0, self.hot_keys, n),
            self.rng.integers(0, self.keys_per_ns, n),
        )
        return [f"k{i:06d}" for i in ids.tolist()]

    def values(self, n: int) -> list[str]:
        lo, hi = self.value_bytes
        lens = self.rng.integers(lo, hi + 1, n)
        buf = self._ALPHABET[self.rng.integers(0, len(self._ALPHABET), int(lens.sum()))]
        text = buf.tobytes().decode("ascii")
        ends = np.cumsum(lens).tolist()
        return [text[a:b] for a, b in zip([0] + ends[:-1], ends)]

    def records(self, n: int) -> list[tuple[str, str, str]]:
        """``n`` (ns, key, value) records, unique per (ns, key) — a duplicate
        draw keeps its last value, as a client batching its own updates would."""
        ns = self.rng.choice(self.NAMESPACES, n, p=self.NS_P).tolist()
        batch = dict(zip(zip(ns, self.keys(n)), self.values(n)))
        return [(k[0], k[1], v) for k, v in batch.items()]
