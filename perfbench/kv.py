"""``kv_log``: a seeded read/write mix against one fresh ``MarasaLog``.

Set-up bulk-loads 200k generated records from a Parquet file in one
append, so the store spans several 100k-seqno segments. Each round then
runs a fixed multiset of operations in a seeded order — ``put`` of 1-10
keys, a bulk ``append``, a ``delete``, and reads through ``get``/``lookup``/
``latest``/``asof``/``changes``/``history`` — with ``compact()`` after every
sixth write (every second round).

Every result is checked against :class:`KvModel`, a seqno-versioned dict of
the store (tombstones included), and every write's returned high-water
against the model's. After each write or compaction the store directory is
walked to count files and bytes from outside the program.
"""

from __future__ import annotations

import bisect
import datetime as dt
import os
from collections import defaultdict

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from datagen import KvGen
from runner import Request

ROUND = (
    "put", "append", "delete",
    "get", "get", "get", "lookup", "lookup", "lookup",
    "latest", "latest", "asof", "changes", "changes", "history", "history",
)
# every second round: a round's reads see the long tail before its
# compaction and short tails after it
WRITES_PER_COMPACT = 6
KV_SCHEMA = pa.schema(
    [("ns", pa.string()), ("key", pa.string()), ("ts", pa.timestamp("us")), ("value", pa.string())]
)


def _user_bytes(ns: str, key: str, value: str | None) -> int:
    return len(ns.encode()) + len(key.encode()) + len((value or "").encode())


class KvModel:
    """The store as the client believes it: every record by seqno."""

    def __init__(self) -> None:
        self.records: list[tuple[str, str, str | None]] = []  # seqno - 1 -> record
        self.hist: dict[str, dict[str, list[int]]] = defaultdict(lambda: defaultdict(list))
        self.snapshot = 0
        self.user_bytes = 0

    @property
    def hw(self) -> int:
        return len(self.records)

    def apply(self, rows) -> int:
        """Number one batch the way ``MarasaLog.append`` does: contiguous
        seqnos in (ns, key, ts, value) order — a batch carries one ts, and a
        NULL (tombstone) value sorts first."""
        for ns, key, value in sorted(rows, key=lambda r: (r[0], r[1], r[2] is not None, r[2] or "")):
            self.records.append((ns, key, value))
            self.hist[ns][key].append(len(self.records))
            self.user_bytes += _user_bytes(ns, key, value)
        return self.hw

    def value(self, seqno: int) -> str | None:
        return self.records[seqno - 1][2]

    def latest(self, ns: str) -> set:
        out = set()
        for key, seqs in self.hist[ns].items():
            v = self.value(seqs[-1])
            if v is not None:
                out.add((key, seqs[-1], v))
        return out

    def asof(self, seqno: int, ns: str) -> set:
        out = set()
        for key, seqs in self.hist[ns].items():
            i = bisect.bisect_right(seqs, seqno)
            if i and self.value(seqs[i - 1]) is not None:
                out.add((key, seqs[i - 1], self.value(seqs[i - 1])))
        return out

    def lookup(self, ns: str, keys) -> set:
        out = set()
        for key in keys:
            seqs = self.hist[ns].get(key)
            if seqs and self.value(seqs[-1]) is not None:
                out.add((key, seqs[-1], self.value(seqs[-1])))
        return out

    def get(self, ns: str, key: str) -> str | None:
        seqs = self.hist[ns].get(key)
        return self.value(seqs[-1]) if seqs else None

    def changes(self, since: int, ns: str | None) -> list:
        return [
            (r[0], r[1], s, r[2])
            for s, r in enumerate(self.records[since:], start=since + 1)
            if ns is None or r[0] == ns
        ]

    def history(self, ns: str, key: str) -> list:
        return [(s, self.value(s)) for s in self.hist[ns].get(key, ())]

    def live_bytes(self) -> int:
        return sum(
            _user_bytes(ns, k, v)
            for ns in list(self.hist)
            for k, _s, v in self.latest(ns)
        )


class StoreWalk:
    """Bytes and files under the store directory, seen from outside."""

    def __init__(self, path: str) -> None:
        self.path = path
        self.sizes: dict[str, int] = {}
        self.written = 0

    def scan(self) -> int:
        """Record the current tree; returns the number of new files."""
        now = {}
        for dirpath, _dirs, files in os.walk(self.path):
            for f in files:
                p = os.path.join(dirpath, f)
                try:
                    now[p] = os.path.getsize(p)
                except FileNotFoundError:
                    continue
        new = 0
        for p, size in now.items():
            prev = self.sizes.get(p)
            if prev is None:
                new += 1
                self.written += size
            elif size != prev:
                self.written += size
        self.sizes = now
        return new

    def area(self, sub: str) -> tuple[int, int]:
        """(files, bytes) under ``<store>/<sub>``."""
        root = os.path.join(self.path, sub) + os.sep
        hits = [s for p, s in self.sizes.items() if p.startswith(root)]
        return len(hits), sum(hits)

    def parquet_files(self, sub: str) -> int:
        root = os.path.join(self.path, sub) + os.sep
        return sum(1 for p in self.sizes if p.startswith(root) and p.endswith(".parquet"))


class KvWorkload:
    name = "kv_log"

    def __init__(self, spark, work_dir, seed, tiny=False, break_check=False):
        self.spark = spark
        self.seed = seed
        self.tiny = tiny
        self.break_check = break_check
        self.store_dir = os.path.join(work_dir, "store")
        self.seed_file = os.path.join(work_dir, "inputs", "seed.parquet")
        self.seed_records = 4_000 if tiny else 200_000
        self.keys_per_ns = 500 if tiny else 50_000
        self.bulk = (20, 200) if tiny else (1_000, 10_000)
        self.model = KvModel()
        self.walk = StoreWalk(self.store_dir)
        self.tail_rows: list[int] = []
        self.new_files_per_write: list[int] = []
        self.writes = 0
        self.log = None

    # -- set-up ------------------------------------------------------------

    def prepare_inputs(self) -> None:
        """Generate the bulk-load file and the model it implies (repeatable)."""
        rng = np.random.default_rng(self.seed)
        self.gen = KvGen(rng, keys_per_ns=self.keys_per_ns)
        n = self.seed_records
        ns = rng.choice(KvGen.NAMESPACES, n, p=KvGen.NS_P).tolist()
        keys, values = self.gen.keys(n), self.gen.values(n)
        os.makedirs(os.path.dirname(self.seed_file), exist_ok=True)
        # one ts for the whole batch: seqno order is then (ns, key, value)
        ts = [dt.datetime(2024, 1, 1)] * n
        pq.write_table(
            pa.table({"ns": ns, "key": keys, "ts": ts, "value": values}, schema=KV_SCHEMA),
            self.seed_file,
        )
        self.model = KvModel()
        self.model.apply(zip(ns, keys, values))
        self.rng = rng

    def prepare_store(self) -> None:
        from marasa_spark.log import MarasaLog

        self.log = MarasaLog(self.spark, self.store_dir)
        got = self.log.append(self.spark.read.parquet(self.seed_file))
        if got != self.model.hw:
            raise RuntimeError(f"bulk load returned {got}, expected {self.model.hw}")
        self.walk.scan()

    # -- traffic -----------------------------------------------------------

    def passes(self):
        while True:
            yield self._round()

    def _round(self):
        for op in self.rng.permutation(ROUND):
            yield getattr(self, f"_{op}")()
            if op in ("put", "append", "delete"):
                self.writes += 1
                if self.writes % WRITES_PER_COMPACT == 0:
                    yield self._compact()

    def _ns(self) -> str:
        return self.gen.namespace()

    def _unique_keys(self, n: int) -> list[str]:
        return list(dict.fromkeys(self.gen.keys(n)))

    def _write(self, name, rows, call) -> Request:
        def verify(hw) -> bool:
            expected = self.model.apply(rows)
            self.new_files_per_write.append(self.walk.scan())
            return hw == expected

        return Request(name, "write", call, verify)

    def _put(self) -> Request:
        ns = self._ns()
        keys = self._unique_keys(int(self.rng.integers(1, 11)))
        changes = dict(zip(keys, self.gen.values(len(keys))))
        return self._write(
            "put", [(ns, k, v) for k, v in changes.items()], lambda: self.log.put(ns, **changes)
        )

    def _append(self) -> Request:
        rows = self.gen.records(int(self.rng.integers(*self.bulk)))
        cols = list(zip(*rows))
        tbl = pa.table({"ns": list(cols[0]), "key": list(cols[1]), "value": list(cols[2])})
        return self._write(
            "append", rows, lambda: self.log.append(self.spark.createDataFrame(tbl))
        )

    def _delete(self) -> Request:
        ns = self._ns()
        keys = self._unique_keys(int(self.rng.integers(1, 6)))
        return self._write(
            "delete", [(ns, k, None) for k in keys], lambda: self.log.delete(ns, keys)
        )

    def _compact(self) -> Request:
        def verify(s) -> bool:
            self.walk.scan()
            ok = s == self.model.hw
            self.model.snapshot = s
            return ok

        return Request("compact", "compact", lambda: self.log.compact(), verify)

    def _read(self, name, call, expected, shape) -> Request:
        """``shape`` turns the Arrow result into the model's form."""
        self.tail_rows.append(self.model.hw - self.model.snapshot)
        want = expected()
        if self.break_check and name == "latest":
            want = set()  # deliberately wrong expectation

        def verify(out) -> bool:
            return shape(out) == want

        return Request(name, "read", call, verify)

    def _get(self) -> Request:
        ns, key = self._ns(), self.gen.keys(1)[0]
        return self._read(
            "get", lambda: self.log.get(ns, key), lambda: self.model.get(ns, key), lambda v: v
        )

    def _lookup(self) -> Request:
        ns, keys = self._ns(), self._unique_keys(int(self.rng.integers(5, 51)))
        return self._read(
            "lookup", lambda: self.log.lookup(ns, keys), lambda: self.model.lookup(ns, keys), _state
        )

    def _latest(self) -> Request:
        ns = self._ns()
        return self._read(
            "latest", lambda: self.log.latest(ns), lambda: self.model.latest(ns), _state
        )

    def _asof(self) -> Request:
        ns, s = self._ns(), int(self.rng.integers(1, self.model.hw + 1))
        return self._read(
            "asof", lambda: self.log.asof(s, ns), lambda: self.model.asof(s, ns), _state
        )

    def _changes(self) -> Request:
        since = max(0, self.model.hw - int(self.rng.integers(100, 5_001)))
        ns = self._ns() if self.rng.random() < 0.5 else None
        return self._read(
            "changes",
            lambda: self.log.changes(since, ns=ns),
            lambda: self.model.changes(since, ns),
            _feed,
        )

    def _history(self) -> Request:
        ns, key = self._ns(), f"k{int(self.rng.integers(0, self.gen.hot_keys)):06d}"
        return self._read(
            "history",
            lambda: self.log.history(ns, key),
            lambda: self.model.history(ns, key),
            lambda t: list(zip(t.column("seqno").to_pylist(), t.column("value").to_pylist())),
        )

    # -- results -----------------------------------------------------------

    def extra_metrics(self, loop_s: float, requests: int) -> dict:
        live = self.model.live_bytes()
        return {
            "write_amp": (self.walk.written / self.model.user_bytes, "ratio"),
            "space_amp": (sum(self.walk.sizes.values()) / live, "ratio"),
        }

    def layer_counts(self) -> dict:
        data_files, data_bytes = self.walk.area("log")
        _snap_files, snap_bytes = self.walk.area("snapshot")
        txn = os.path.join(self.store_dir, "_txn")
        fpw = self.new_files_per_write
        return {
            "log.data_files": (self.walk.parquet_files("log"), "count"),
            "log.data_bytes": (data_bytes, "bytes"),
            "log.snapshot_bytes": (snap_bytes, "bytes"),
            "log.files_per_write": (sum(fpw) / len(fpw) if fpw else 0.0, "files/write"),
            "log.txn_entries": (len(os.listdir(txn)) if os.path.isdir(txn) else 0, "count"),
            "log.tail_rows": (
                sum(self.tail_rows) / len(self.tail_rows) if self.tail_rows else 0.0,
                "rows/read",
            ),
        }

    def provenance(self) -> dict:
        return {
            "seed_records": self.seed_records,
            "keys_per_ns": self.keys_per_ns,
            "namespaces": list(KvGen.NAMESPACES),
            "hot_keys_per_ns": self.gen.hot_keys,
            "hot_p": self.gen.hot_p,
            "value_bytes": list(self.gen.value_bytes),
            "bulk_append_records": list(self.bulk),
            "compact_every_writes": WRITES_PER_COMPACT,
            "segment_size": self.log.segment_size if self.log else None,
            "store_bytes": sum(self.walk.sizes.values()),
        }


def _state(t: pa.Table) -> set:
    return set(
        zip(t.column("key").to_pylist(), t.column("seqno").to_pylist(), t.column("value").to_pylist())
    )


def _feed(t: pa.Table) -> list:
    rows = zip(
        t.column("ns").to_pylist(),
        t.column("key").to_pylist(),
        t.column("seqno").to_pylist(),
        t.column("value").to_pylist(),
    )
    return sorted(rows, key=lambda r: r[2])


def kv_log(spark, work_dir, seed, tiny=False, break_check=False):
    return KvWorkload(spark, work_dir, seed, tiny, break_check)
