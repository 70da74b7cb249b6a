"""MarasaLog — the append-only, namespaced, seqno-versioned log store.

This is the Spark-native re-expression of the reference's core idea (*the
log is the database*; SURVEY.md §0.4/§1.1 — ``/root/reference`` is empty, so
the API shape follows SURVEY's reconstruction of pjz/marasa: ``put``/
``get``/``history``/namespaces/segments/snapshots):

* every write is an **append** of change records to a Parquet log
  partitioned by namespace and segment (``log/ns=<ns>/segment=<s>/``) —
  Spark's append mode writes new files only, never rewrites;
* the log is a table in the open **Delta Lake transaction-log protocol**
  (delta-io PROTOCOL.md, reader 1 / writer 2 — BASELINE.json's north star,
  written directly since ``delta-spark`` is not installable here), and
  that journal is the store's ONLY commit record (layout below). Readers
  resolve the live file set from the journal and never list the data
  directory, so a file no commit adds — an in-flight or crashed writer's
  output, a foreign file — is invisible by construction;
* current state is a fold over the log: last record per (ns, key) by seqno
  — expressed as a window function, never a driver-side replay;
* any historical state is a prefix fold: ``filter(seqno <= s)`` + the same
  window (time travel);
* **compaction** (= marasa's segment snapshot) materializes the fold into
  the ``snapshot/`` table through the same claim/commit path as a log
  append, so it becomes visible only through its commit and reads become
  snapshot ∪ log-tail — replay cost is bounded by the tail length, not
  log length;
* **deletes are tombstones** (NULL-value records, the Kafka-compaction
  convention): ``latest``/``lookup``/``get``/``asof`` treat
  tombstone-as-last-change as key-gone, ``changes`` surfaces the
  tombstone to CDC consumers, and compaction physically drops the key
  from the snapshot.

Record schema (marasa stores JSON payloads keyed by string keys):
``ns string, key string, seqno long, ts timestamp, value string`` — every
read's columns in this order, whatever the store's state.

Journal layout (two tables, ``log/`` and ``snapshot/``, one journal each)::

    <table>/_delta_log/00000000000000000000.json   # numbered commits
    <table>/_delta_log/0000000000000000000N.checkpoint.parquet
    <table>/_delta_log/_last_checkpoint            # {"version": N, ...}
    <table>/_delta_log/.0000000000000000000N.json.claim   # writer's claim
    log/ns=a/segment=0/part-*.parquet              # log data files
    snapshot/v0000000000000000000N/part-*.parquet  # fold committed at N

A commit is a newline-delimited JSON action list: the first carries
``protocol`` and ``metaData``; a log commit carries one ``add`` per new
data file plus the seqno high-water as a spec ``txn`` action (appId
``marasa.seqno``, version = high-water), and an ``append_once`` commit
also records its producer batch id as a ``txn``. A snapshot commit
``remove``s the previous fold's files, adds the new fold's and records
its high-water as txn ``marasa.snapshot``. Commits are put-if-absent
(``os.link``: EEXIST means another writer won that version); every
``CHECKPOINT_INTERVAL`` commits a parquet checkpoint (live adds and
txns) bounds the replay to checkpoint + tail.

Scale posture (100 TB):
* namespace partitioning → partition pruning on every ns-scoped read;
* ``latest``/``asof`` are one shuffle on (ns, key) — linear scale-out; at
  real scale the snapshot write would bucket by key so the tail-merge
  window co-locates without a shuffle;
* seqno assignment reads the high-water from the journal and numbers only
  the incoming batch. A DataFrame batch (``append``) is numbered by
  :func:`marasa_spark.ops.skew.global_prefix` (range partitions +
  broadcast offsets), so even a bulk-load-sized batch never funnels
  through a single-partition window. The rows ``put``/``delete`` already
  hold in the driver are sorted and numbered in Python and written as one
  small Arrow-backed frame. Both share the claim, the storage seam and
  the commit. Writers that race from the same journal version get
  :class:`LogWriteConflict` (:meth:`append_retrying` serializes them),
  and a writer that fails before its commit releases its own claim;
* no driver-side ``collect()`` anywhere in the data path.
"""

from __future__ import annotations

import datetime
import glob
import json
import os
import shutil
import time
import uuid
from contextlib import contextmanager, suppress
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from marasa_spark.ops.skew import global_prefix
from marasa_spark.session import ensure_session_configs


class LogWriteConflict(RuntimeError):
    """Two writers raced ``append()`` (or ``compact()``) from the same
    journal version.

    Each claims the next commit version before it writes any data,
    so the loser gets THIS error instead of silently writing colliding
    seqnos — the Delta concurrent-modification surface. A claim left by a
    writer that died is cleared with :meth:`MarasaLog.recover_claims`."""


LOG_SCHEMA = "ns string, key string, seqno long, ts timestamp, value string"
# on disk, records carry a segment partition column: segment = the starting
# seqno of the fixed-width seqno range the record falls in (marasa's "log
# files split every N writes, named by starting seqno"). Partition pruning
# on it turns time travel into a bounded read.
DISK_SCHEMA = LOG_SCHEMA + ", segment long"
_DISK_COLUMNS = [field.split()[0] for field in DISK_SCHEMA.split(", ")]

HIGH_WATER_APP = "marasa.seqno"  # txn appId whose version is the high-water
BATCH_APP_PREFIX = "marasa.batch."  # txn appId prefix of append_once ids
SNAPSHOT_APP = "marasa.snapshot"  # txn appId whose version is the snapshot high-water
CHECKPOINT_INTERVAL = 10
_PROTOCOL = {"minReaderVersion": 1, "minWriterVersion": 2}


# -- Delta journal primitives -------------------------------------------------


@dataclass(frozen=True)
class _Journal:
    """A table's committed state at ``version``: live adds by relative
    path, the latest version per txn appId, and the metaData action."""

    version: int
    adds: dict[str, dict]
    txns: dict[str, int]
    meta: dict | None


def _dlog(table: str) -> str:
    return f"{table}/_delta_log"


def _commit_name(version: int) -> str:
    return f"{version:020d}.json"


def _claim_path(table: str, version: int) -> str:
    return f"{_dlog(table)}/.{_commit_name(version)}.claim"


def _versions(table: str) -> list[int]:
    d = _dlog(table)
    if not os.path.isdir(d):
        return []
    return sorted(
        int(name[:-5])
        for name in os.listdir(d)
        if name.endswith(".json") and name[:-5].isdigit()
    )


def _apply(j: _Journal | None, version: int, actions: list[dict]) -> _Journal:
    """The state after replaying one commit's actions on top of ``j``."""
    adds = dict(j.adds) if j else {}
    txns = dict(j.txns) if j else {}
    meta = j.meta if j else None
    for a in actions:
        if "add" in a:
            adds[a["add"]["path"]] = a["add"]
        elif "remove" in a:
            adds.pop(a["remove"]["path"], None)
        elif "txn" in a:
            txns[a["txn"]["appId"]] = a["txn"]["version"]
        elif "metaData" in a:
            meta = a["metaData"]
    return _Journal(version, adds, txns, meta)


def _read_commit(table: str, version: int) -> list[dict]:
    with open(f"{_dlog(table)}/{_commit_name(version)}") as f:
        return [json.loads(line) for line in f if line.strip()]


def _commit(table: str, version: int, actions: list[dict]) -> None:
    """Write commit ``version`` put-if-absent: a fully written hidden tmp
    file is hard-linked onto the final name, so a reader never parses a
    torn commit, and EEXIST means another writer won the version."""
    d = _dlog(table)
    os.makedirs(d, exist_ok=True)
    name = _commit_name(version)
    tmp = f"{d}/.{name}.{uuid.uuid4().hex}.tmp"
    with open(tmp, "w") as f:
        f.write("".join(json.dumps(a, sort_keys=True) + "\n" for a in actions))
        f.flush()
        os.fsync(f.fileno())
    try:
        os.link(tmp, f"{d}/{name}")
    except FileExistsError:
        raise LogWriteConflict(
            f"{table}: version {version} was committed by another writer"
        ) from None
    finally:
        os.unlink(tmp)


def _checkpoint_schema():
    import pyarrow as pa

    s = pa.string()
    return pa.schema(
        [
            (
                "protocol",
                pa.struct([("minReaderVersion", pa.int32()), ("minWriterVersion", pa.int32())]),
            ),
            (
                "metaData",
                pa.struct([("id", s), ("schemaString", s), ("partitionColumns", pa.list_(s))]),
            ),
            (
                "add",
                pa.struct(
                    [
                        ("path", s),
                        ("partitionValues", pa.map_(s, s)),
                        ("size", pa.int64()),
                        ("modificationTime", pa.int64()),
                        ("dataChange", pa.bool_()),
                    ]
                ),
            ),
            ("txn", pa.struct([("appId", s), ("version", pa.int64())])),
        ]
    )


def _write_checkpoint(table: str, j: _Journal) -> None:
    """The spec's checkpoint parquet at ``j.version`` (one row per action:
    protocol, metaData, live adds, txns) + ``_last_checkpoint``.
    Metadata-scale, written driver-side with pyarrow as a Delta writer
    does."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    meta = {k: j.meta[k] for k in ("id", "schemaString", "partitionColumns")}
    rows = [{"protocol": _PROTOCOL}, {"metaData": meta}]
    rows += [
        {"add": {**a, "partitionValues": list(a["partitionValues"].items())}}
        for a in j.adds.values()
    ]
    rows += [{"txn": {"appId": app, "version": v}} for app, v in j.txns.items()]
    d = _dlog(table)
    pq.write_table(
        pa.Table.from_pylist(rows, schema=_checkpoint_schema()),
        f"{d}/{j.version:020d}.checkpoint.parquet",
    )
    tmp = f"{d}/._last_checkpoint.{uuid.uuid4().hex}.tmp"
    with open(tmp, "w") as f:
        json.dump({"version": j.version, "size": len(rows)}, f)
    os.rename(tmp, f"{d}/_last_checkpoint")


def _read_checkpoint(table: str) -> _Journal | None:
    lc = f"{_dlog(table)}/_last_checkpoint"
    if not os.path.exists(lc):
        return None
    import pyarrow.parquet as pq

    with open(lc) as f:
        version = json.load(f)["version"]
    rows = pq.read_table(f"{_dlog(table)}/{version:020d}.checkpoint.parquet").to_pylist()
    actions = [{k: v for k, v in r.items() if v is not None} for r in rows]
    for a in actions:
        if "add" in a:
            a["add"]["partitionValues"] = dict(a["add"]["partitionValues"])
    return _apply(None, version, actions)


def _meta_actions(schema_json: str, partition_cols: list[str]) -> list[dict]:
    return [
        {"protocol": dict(_PROTOCOL)},
        {
            "metaData": {
                "id": str(uuid.uuid4()),
                "format": {"provider": "parquet", "options": {}},
                "schemaString": schema_json,
                "partitionColumns": partition_cols,
                "configuration": {},
            }
        },
    ]


def _add_action(table: str, path: str) -> dict:
    rel = os.path.relpath(path, table)
    st = os.stat(path)
    return {
        "add": {
            "path": rel,
            "partitionValues": dict(
                seg.split("=", 1) for seg in rel.split("/")[:-1] if "=" in seg
            ),
            "size": st.st_size,
            "modificationTime": int(st.st_mtime * 1000),
            "dataChange": True,
        }
    }


def _list_parts(table: str) -> set[str]:
    """Data files on disk under ``table`` (hidden ``_``/``.`` entries —
    the journal, job temp dirs — excluded, as Spark excludes them)."""
    parts: set[str] = set()
    for root, dirs, files in os.walk(table):
        dirs[:] = [x for x in dirs if not x.startswith(("_", "."))]
        parts.update(os.path.join(root, f) for f in files if not f.startswith(("_", ".")))
    return parts


def _retry(attempt, max_attempts: int, backoff_s: float) -> int:
    for i in range(max_attempts):
        try:
            return attempt()
        except LogWriteConflict:
            if i == max_attempts - 1:
                raise
            time.sleep(backoff_s * (i + 1))
    raise AssertionError("unreachable")  # pragma: no cover


class MarasaLog:
    def __init__(self, spark: SparkSession, path: str, segment_size: int = 100_000):
        self.spark = ensure_session_configs(spark)
        self.path = path.rstrip("/")
        self.log_dir = f"{self.path}/log"
        self.snap_dir = f"{self.path}/snapshot"
        self.segment_size = segment_size
        # table -> last journal state read; commits are immutable, so a
        # cached state only ever needs the commits after it replayed
        self._journals: dict[str, _Journal] = {}
        # table -> (version, DataFrame over its live files): a version's
        # file set never changes, and resolving it costs a py4j round trip
        # per path plus Spark's per-path existence checks
        self._frames: dict[str, tuple[int, DataFrame]] = {}

    # -- write path ---------------------------------------------------------

    def append(self, records: DataFrame) -> int:
        """Append change records (``ns,key,ts?,value`` columns); assigns the
        next contiguous seqnos in the deterministic order (ns, key, ts,
        value) — the value tiebreaker makes same-(key, ts) batches
        order-deterministic too (identical full rows are interchangeable).
        Returns the new high-water seqno (base + batch size — no re-scan).
        Raises :class:`LogWriteConflict` when another writer holds the
        next journal version (see :meth:`append_retrying`).

        Seqno = base + 1 + the row's rank from
        :func:`marasa_spark.ops.skew.global_prefix` (range partitions and
        a broadcast per-partition offset table), NOT a global
        ``row_number() OVER (ORDER BY ...)``, whose single task would
        serialize a bulk load. Same contiguous numbering. The batch never
        reaches the driver; ``put``/``delete``, whose rows are already
        there, number them in Python instead (:meth:`_number_rows`).
        """
        return self._append(records)

    def _append(self, records: DataFrame | list[tuple], batch_id: str | None = None) -> int:
        """Claim the next version → number → data job → one commit of the
        batch's adds + high-water (+ ``batch_id``) txn actions. The input
        type picks the numbering front end: a DataFrame gets the parallel
        plan, driver-held ``(ns, key, value)`` rows are numbered in
        Python; everything after numbering is shared. The batch becomes
        visible exactly when that commit file lands. A writer that fails
        before then releases its own claim (:meth:`_claimed`); a crash
        leaves invisible files and a dead claim, both cleared by
        :meth:`recover_claims`."""
        if isinstance(records, DataFrame):
            rows = None
        elif records:
            rows = self._rows_table(records)
        else:  # a no-op put/delete claims no version and writes no file
            return self.max_seqno()
        with self._claimed(self.log_dir) as (version, j):
            base = j.txns.get(HIGH_WATER_APP, 0) if j else 0
            done = j.txns.get(BATCH_APP_PREFIX + batch_id) if j and batch_id is not None else None
            if done is not None:
                os.unlink(_claim_path(self.log_dir, version))
                return done
            if rows is None:
                batch = self._number_batch(records, base)
            else:
                batch = self._number_rows(rows, base)
            # single-pass batch count: observed during the write job itself
            # (a separate count() would re-evaluate the input lineage)
            obs = Observation()
            batch = batch.withColumn("segment", self._segment(F.col("seqno"))).observe(
                obs, F.count(F.lit(1)).alias("n")
            )
            actions = self._write_log_batch(batch, version)
            hw = base + int(obs.get["n"])
            apps = [HIGH_WATER_APP] + ([] if batch_id is None else [BATCH_APP_PREFIX + batch_id])
            self._commit_log(self.log_dir, version, actions, hw, apps)
            return hw

    def append_retrying(
        self, records: DataFrame, max_attempts: int = 10, backoff_s: float = 0.2
    ) -> int:
        """Optimistic-concurrency append: :meth:`append`, but a
        :class:`LogWriteConflict` (another writer holds the next version)
        is retried after a linear backoff instead of surfacing — the
        Delta/Iceberg commit loop. Each retry re-reads the journal, so
        once the winner's commit lands the loser rebases onto the new
        high-water; concurrent writers therefore SERIALIZE rather than
        fail. Bounded: a writer that claimed and died holds its version
        until :meth:`recover_claims`, so after ``max_attempts`` losses the
        last conflict is re-raised. The records lineage is re-evaluated
        per attempt — pass a deterministic input, as with any retried
        write job."""
        return _retry(lambda: self.append(records), max_attempts, backoff_s)

    def _segment(self, seqno):
        """The ``segment`` partition column of a ``seqno`` column."""
        return (F.floor(seqno / self.segment_size) * self.segment_size).cast("long")

    def _number_batch(self, records: DataFrame, base: int) -> DataFrame:
        """Stamp ``seqno = base + rank in (ns, key, ts, value) order`` onto
        one batch — the parallel numbering plan described in :meth:`append`.
        Audited by tests/test_plan_audit.py (no single-partition window)."""
        if "ts" not in records.columns:
            records = records.withColumn("ts", F.current_timestamp())
        nparts = max(1, min(32, records.rdd.getNumPartitions()))
        typed = records.select(
            F.col("ns").cast("string"),
            F.col("key").cast("string"),
            F.col("ts").cast("timestamp"),
            F.col("value").cast("string"),
        )
        return global_prefix(typed, ["ns", "key", "ts", "value"], nparts).select(
            "ns",
            "key",
            (F.col("_before") + F.lit(base + 1)).cast("long").alias("seqno"),
            "ts",
            "value",
        )

    @staticmethod
    def _row_order(row: tuple) -> tuple:
        """The order :meth:`_number_batch` gives a batch with one ``ts``:
        (ns, key, value) ascending, a NULL value first. Python's code-point
        order on ``str`` is Spark's UTF8_BINARY byte order. The two MUST
        agree — tests/test_log_writes.py holds them to it."""
        ns, key, value = row
        return ns, key, value is not None, value or ""

    @staticmethod
    def _rows_table(rows: list[tuple]):
        """The ``put``/``delete`` batch, built before the claim: the
        driver-held ``(ns, key, value)`` rows checked (``TypeError``
        unless ``str``, ``value`` may be None), sorted by
        :meth:`_row_order` and stamped with one ``ts``, as
        ``current_timestamp()`` gives one per query."""
        import pyarrow as pa

        for row in rows:
            ns, key, value = row
            names = isinstance(ns, str) and isinstance(key, str)
            if not names or not (value is None or isinstance(value, str)):
                raise TypeError(f"ns, key and value must be str (value may be None): {row!r}")
        ns, key, value = zip(*sorted(rows, key=MarasaLog._row_order))
        now = datetime.datetime.now(datetime.timezone.utc)
        return pa.table(
            {
                "ns": pa.array(ns, pa.string()),
                "key": pa.array(key, pa.string()),
                "ts": pa.array([now] * len(rows), pa.timestamp("us", tz="UTC")),
                "value": pa.array(value, pa.string()),
            }
        )

    def _number_rows(self, rows, base: int) -> DataFrame:
        """Stamp ``seqno = base + position`` onto a :meth:`_rows_table`
        batch — already in :meth:`_row_order` — as one small Arrow-backed
        frame. One partition, so the write makes one file per
        ``(ns, segment)``; a local relation is otherwise split over
        ``defaultParallelism`` tasks."""
        import pyarrow as pa

        seqno = pa.array(range(base + 1, base + 1 + rows.num_rows), pa.int64())
        rows = rows.add_column(2, "seqno", seqno)
        return self.spark.createDataFrame(rows, LOG_SCHEMA).coalesce(1)

    # -- commit protocol -----------------------------------------------------

    def _claim(self, table: str) -> tuple[int, _Journal | None]:
        """Reserve the table's next commit version before any data is
        written: create the hidden ``.<version>.json.claim`` with
        O_CREAT|O_EXCL (the filesystem's compare-and-set), then re-read
        the journal head. Returns the claimed version and the journal it
        extends.

        While a writer holds a claim no other writer can pass this check
        (the same version is taken; a later one needs this writer's
        commit first; an earlier one fails the head re-read, which also
        catches a claim re-created after its commit landed). So at most
        ONE writer is between claim and commit, which is what makes the
        before/after listing in :meth:`_write_log_batch` exactly the
        batch's own files, and a snapshot sub-directory its compact's."""
        j = self._journal(table)
        version = 0 if j is None else j.version + 1
        os.makedirs(_dlog(table), exist_ok=True)
        path = _claim_path(table, version)
        try:
            fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            raise LogWriteConflict(
                f"another writer holds {table} version {version} ({path}); "
                "re-read the journal and retry, or run recover_claims() if "
                "that writer is known dead"
            ) from None
        os.write(fd, f"pid={os.getpid()}\n".encode())
        os.close(fd)
        if (_versions(table) or [-1])[-1] >= version:
            os.unlink(path)
            raise LogWriteConflict(f"{table} version {version} is already committed")
        return version, j

    @contextmanager
    def _claimed(self, table: str):
        """:meth:`_claim`, released by the claiming writer itself when an
        error is raised before its commit lands, then re-raised — so one
        failed write never blocks the next. Files the failed job left
        are invisible (no commit adds them) and :meth:`recover_claims`
        sweeps them. Not on ``BaseException``: an interrupted driver may
        leave its job running, so its files must stay behind its claim."""
        version, j = self._claim(table)
        try:
            yield version, j
        except Exception:
            if not os.path.exists(f"{_dlog(table)}/{_commit_name(version)}"):
                with suppress(FileNotFoundError):
                    os.unlink(_claim_path(table, version))
            raise

    def _commit_log(
        self, table: str, version: int, actions: list[dict], hw: int, apps: list[str]
    ) -> None:
        """Commit a claimed version: the actions plus one txn action per
        appId in ``apps`` carrying ``hw`` (the seqno high-water, producer
        batch id or snapshot high-water), atomically in one commit file;
        then release the claim and checkpoint every
        ``CHECKPOINT_INTERVAL`` versions."""
        now = int(time.time() * 1000)
        actions = actions + [
            {"txn": {"appId": app, "version": hw, "lastUpdated": now}} for app in apps
        ]
        _commit(table, version, actions)
        os.unlink(_claim_path(table, version))
        if version and version % CHECKPOINT_INTERVAL == 0:
            _write_checkpoint(table, self._journal(table))

    def _journal(self, table: str) -> _Journal | None:
        """The table's committed state: the cached state plus the commits
        after it, else latest checkpoint + tail replay. None when the
        table has no commit."""
        versions = _versions(table)
        if not versions:
            return None
        j = self._journals.get(table)
        if j is None or j.version > versions[-1]:
            j = _read_checkpoint(table)
        for v in versions:
            if j is None or v > j.version:
                j = _apply(j, v, _read_commit(table, v))
        self._journals[table] = j
        return j

    def recover_claims(self) -> int:
        """Operator recovery after a writer died (never run while a writer
        is in flight): release dead claims and drop torn commit temp
        files in both tables, then sweep what no commit made visible —
        in the log, every data file outside the journal's live adds; in
        the snapshot table, every sub-directory whose version the journal
        never committed (a compact that died mid-write), removed whole.
        Committed data is never touched, superseded snapshot files
        included (a pinned reader cannot tear: no byte of it moves).
        Returns the number of claims released."""
        released = 0
        for table in (self.log_dir, self.snap_dir):
            d = _dlog(table)
            for name in os.listdir(d) if os.path.isdir(d) else []:
                if name.endswith((".claim", ".tmp")):
                    os.unlink(f"{d}/{name}")
                    released += name.endswith(".claim")
        j = self._journal(self.log_dir)
        live = {f"{self.log_dir}/{rel}" for rel in (j.adds if j else ())}
        for p in _list_parts(self.log_dir) - live:
            os.unlink(p)
        j = self._journal(self.snap_dir)
        for sub in glob.glob(f"{glob.escape(self.snap_dir)}/v{'[0-9]' * 20}"):
            if j is None or int(sub[-20:]) > j.version:
                shutil.rmtree(sub)
        return released

    # -- storage seam --------------------------------------------------------
    # Every physical data read/write goes through these three methods and
    # nothing else; the fold/seqno/namespace logic above them never sees a
    # file path.

    def _write_log_batch(self, batch: DataFrame, version: int) -> list[dict]:
        """Physical append of one seqno-stamped batch (new files only).
        Returns the actions that make it visible — ``metaData`` on the
        table's first version, then one ``add`` per file the job created,
        found by a before/after listing that the caller's claim on
        ``version`` keeps free of any other writer's files."""
        before = _list_parts(self.log_dir)
        batch.write.mode("append").partitionBy("ns", "segment").parquet(self.log_dir)
        new = sorted(_list_parts(self.log_dir) - before)
        meta = _meta_actions(batch.schema.json(), ["ns", "segment"]) if version == 0 else []
        return meta + [_add_action(self.log_dir, p) for p in new]

    def _write_snapshot(self, state: DataFrame, version: int) -> list[dict]:
        """Physical write of one fold into the sub-directory of the claimed
        snapshot ``version``; returns its actions (``metaData`` on version
        0, one ``add`` per file). Overwrite clears an uncommitted leftover."""
        sub = f"{self.snap_dir}/v{version:020d}"
        state.write.mode("overwrite").parquet(sub)
        meta = _meta_actions(state.schema.json(), []) if version == 0 else []
        return meta + [_add_action(self.snap_dir, p) for p in sorted(_list_parts(sub))]

    def _read_table(self, table: str, j: _Journal | None = None) -> DataFrame:
        """The live files of ``table`` as journal state ``j`` (default: the
        head) resolves them, in ``DISK_SCHEMA`` column order, built once
        per journal version; an empty frame of that schema for no commit
        or no live file. A missing live file or an unreadable one RAISES —
        a corrupt log must never be indistinguishable from an empty one."""
        j = j or self._journal(table)
        version = j.version if j else -1
        hit = self._frames.get(table)
        if hit is None or hit[0] != version:
            files = [f"{table}/{rel}" for rel in sorted(j.adds)] if j else []
            if files:
                df = self.spark.read.option("basePath", table).schema(DISK_SCHEMA).parquet(*files)
            else:
                # limit(0) makes it an empty LocalRelation, which the
                # optimizer propagates: an empty store's read runs no job
                df = self.spark.createDataFrame([], DISK_SCHEMA).limit(0)
            hit = self._frames[table] = (version, df.select(*_DISK_COLUMNS))
        return hit[1]

    def append_once(self, records: DataFrame, batch_id: str) -> int:
        """Idempotent producer append: a batch tagged with a producer-chosen
        ``batch_id`` lands at most once — re-submitting (the retry path of
        any at-least-once upstream) returns the recorded high-water instead
        of duplicating rows.

        The id is recorded as a txn action (appId ``marasa.batch.<id>``,
        version = the batch's high-water) IN THE SAME COMMIT as the
        batch's adds, so the batch and its dedup record land atomically —
        the Delta idempotent-writer protocol, with no separate tag to
        tear. Each attempt checks the journal it claimed against: two
        producers racing the SAME id serialize on the version claim, and
        the loser's retry finds the winner's txn and returns its
        high-water. A producer that died holding its claim surfaces as
        :class:`LogWriteConflict` after the retries, until
        :meth:`recover_claims`; nothing it wrote is visible, so resubmitting
        afterwards is safe."""
        return _retry(lambda: self._append(records, batch_id), 10, 0.2)

    def clone_to(self, dest_path: str) -> "MarasaLog":
        """Consistent backup: copy the COMMITTED change history into a new
        store at ``dest_path``, seqnos preserved verbatim, as ONE commit
        carrying the source's high-water. Because the copy reads through
        the journal, an in-flight or crashed writer's files are invisible
        to the backup by construction — a backup taken mid-append is
        exactly the last committed state, never a torn one. The
        high-water is captured ONCE, before the copy job runs, and both
        the row filter (``changes(0, until=hw)``) and the destination
        commit use it — so a concurrent ``append_retrying`` that commits
        mid-copy can neither leak rows into the backup nor leave its
        high-water covering seqnos that were never copied. Snapshots are
        not copied (they are derived data; the restored store re-compacts
        on its own schedule). One distributed read + one partitioned
        write; no driver-side data path."""
        hw = self.max_seqno()
        rows = self.changes(0, until=hw)
        dest = MarasaLog(self.spark, dest_path, segment_size=self.segment_size)
        batch = rows.withColumn("segment", dest._segment(F.col("seqno")))
        with dest._claimed(dest.log_dir) as (version, _):
            actions = dest._write_log_batch(batch, version)
            dest._commit_log(dest.log_dir, version, actions, hw, [HIGH_WATER_APP])
        return dest

    def put(self, ns: str, **changes: str) -> int:
        """marasa ``put(ns, key=value, ...)``: one tiny batch, numbered in
        Python (see :meth:`_number_rows`) and committed like any append.
        ``ns`` and every value must be ``str`` (``TypeError`` otherwise,
        before anything is claimed). With no changes it is a no-op that
        returns the high-water."""
        return self._append([(ns, k, v) for k, v in changes.items()])

    def write(self, ns: str, **changes: str) -> int:
        """marasa ``write(ns, **changes)`` — alias of :meth:`put` (SURVEY
        §0.4 lists both call shapes)."""
        return self.put(ns, **changes)

    def delete(self, ns: str, keys: list[str]) -> int:
        """Delete keys via TOMBSTONES (the Kafka-compaction convention:
        a NULL-value change record). Deletion is an APPEND like any other
        write — history and time travel stay exact (``asof`` before the
        tombstone still shows the key; ``changes`` shows the tombstone
        itself, so CDC consumers SEE deletes) — while ``latest``/
        ``lookup``/``get`` treat a tombstone-as-last-change as key-gone,
        and :meth:`compact` therefore physically drops tombstoned keys
        from the snapshot (the retention half of a forget request; the
        raw log files age out via j9 retention). A later ``put`` of the
        same key simply supersedes the tombstone. The key list is
        driver-side by design — forget lists are human-scale, not
        corpus-scale — so it takes the same Python-numbered path as
        :meth:`put`: ``str`` keys only, and an empty list is a no-op."""
        return self._append([(ns, k, None) for k in keys])

    # -- metadata -----------------------------------------------------------

    def max_seqno(self) -> int:
        """The committed seqno high-water: the ``marasa.seqno`` txn of the
        journal head — a journal read, never a data scan."""
        j = self._journal(self.log_dir)
        return j.txns.get(HIGH_WATER_APP, 0) if j else 0

    def _full_log(self) -> DataFrame:
        """The complete retained history. Compaction adds a snapshot but —
        like marasa's segments — does not delete log files, so history and
        time travel stay exact."""
        return self._read_table(self.log_dir)

    def _latest_snapshot_seq(self) -> int:
        """High-water of the committed snapshot: the ``marasa.snapshot``
        txn of the snapshot journal head — a journal read, so a fold a
        crashed compact left half-written never hides rows."""
        j = self._journal(self.snap_dir)
        return j.txns[SNAPSHOT_APP] if j else 0

    def _union_snapshot_tail(self) -> DataFrame:
        """snapshot(≤S) ∪ log-tail(>S) — the bounded-replay read set; the
        full log until the first compact commits. S and the fold's files
        come from one snapshot journal state, read before the log's."""
        j = self._journal(self.snap_dir)
        log = self._full_log()
        if j is None:
            return log
        snap = self._read_table(self.snap_dir, j)
        return snap.unionByName(log.filter(F.col("seqno") > j.txns[SNAPSHOT_APP]))

    # -- read path ----------------------------------------------------------

    @staticmethod
    def _fold_latest(log: DataFrame) -> DataFrame:
        """The log fold: last change per (ns, key), as one window (shuffles
        once on the state key), minus keys whose last change is a
        tombstone — marasa ``get`` for every key at once."""
        w = Window.partitionBy("ns", "key").orderBy(F.col("seqno").desc())
        return (
            log.withColumn("_rn", F.row_number().over(w))
            .filter((F.col("_rn") == 1) & F.col("value").isNotNull())
            .drop("_rn", "segment")
        )

    def latest(self, ns: str | None = None) -> DataFrame:
        """Current state (marasa ``get(ns, key)`` for all keys)."""
        log = self._union_snapshot_tail()
        if ns is not None:
            log = log.filter(F.col("ns") == ns)  # partition-pruned
        return self._fold_latest(log)

    def lookup(self, ns: str, keys: list[str]) -> DataFrame:
        """Batch point lookup: latest value for the given keys of ONE
        namespace. The predicates apply BEFORE the fold, so they reach the
        scan: ``ns`` prunes whole log directories and ``key IN`` is pushed
        to the parquet reader. The snapshot is not clustered by key, so
        inside it the predicate prunes no row group yet (ROADMAP item 3).
        (``get`` is the single-key scalar convenience on top of this.)"""
        log = self._union_snapshot_tail()
        return self._fold_latest(log.filter((F.col("ns") == ns) & F.col("key").isin(list(keys))))

    def get(self, ns: str, key: str, seqno: int | None = None) -> str | None:
        """Point lookup (latest or as-of). The only collect in the class —
        it returns a scalar to Python by definition."""
        df = self.asof(seqno, ns=ns) if seqno is not None else self.latest(ns=ns)
        row = df.filter(F.col("key") == key).select("value").first()
        return None if row is None else row["value"]

    def asof(self, seqno: int, ns: str | None = None) -> DataFrame:
        """Time travel: state as of ``seqno`` (prefix fold over the FULL log
        — the snapshot can't serve prefixes earlier than its high-water)."""
        log = self._full_log()
        if ns is not None:
            log = log.filter(F.col("ns") == ns)
        # segment pruning: the prefix can only live in segments whose start
        # is <= seqno (null segment = pre-segmentation snapshot rows)
        log = log.filter(F.col("segment").isNull() | (F.col("segment") <= seqno))
        return self._fold_latest(log.filter(F.col("seqno") <= seqno))

    def read(self, ns: str, seqno: int) -> DataFrame:
        """marasa ``read(ns, seqno)`` — namespace state as of a seqno
        (alias of :meth:`asof` with the reference's argument shape)."""
        return self.asof(seqno, ns=ns)

    def changes(self, since: int, until: int | None = None, ns: str | None = None) -> DataFrame:
        """CDC consumer read: the raw change feed with ``since < seqno <=
        until`` — the incremental-consumer offset pattern (a reader that
        remembers its last seqno reads exactly the delta, never replays).
        Served from the FULL log (snapshots only accelerate ``latest``);
        segment pruning drops every file whose range ends before ``since``."""
        log = self._full_log()
        if ns is not None:
            log = log.filter(F.col("ns") == ns)
        log = log.filter(
            F.col("segment").isNull()
            | (F.col("segment") + F.lit(self.segment_size) > F.lit(since))
        )
        out = log.filter(F.col("seqno") > since)
        if until is not None:
            out = out.filter(F.col("seqno") <= until)
        return out.drop("segment")

    def history(self, ns: str, key: str) -> DataFrame:
        """Ordered change history for one key (marasa ``history``), from the
        full retained log."""
        return (
            self._full_log()
            .filter((F.col("ns") == ns) & (F.col("key") == key))
            .orderBy("seqno")
            .drop("segment")
        )

    def namespaces(self) -> DataFrame:
        """Every namespace that has a log — live keys or all tombstoned,
        the namespaces :meth:`history` and :meth:`changes` serve — so
        :meth:`compact` never changes the answer."""
        return self._full_log().select("ns").distinct()

    # -- maintenance --------------------------------------------------------

    def compact(self) -> int:
        """Materialize the current fold as a snapshot (marasa's segment
        checkpoint). Reads after this touch snapshot ∪ tail(>S) only.
        Returns the snapshot's high-water seqno; a committed snapshot at
        the current high-water already is that fold, so it is kept — also
        when a concurrent compact commits it first (re-checked under the
        claim). The commit removes the previous fold's files. A compact
        that died holding its claim surfaces :class:`LogWriteConflict`
        after the retries, until :meth:`recover_claims`."""
        return _retry(self._compact, 10, 0.2)

    def _compact(self) -> int:
        s = self.max_seqno()
        if not s or s == self._latest_snapshot_seq():
            return s
        with self._claimed(self.snap_dir) as (version, j):
            if j is not None and j.txns[SNAPSHOT_APP] == s:
                os.unlink(_claim_path(self.snap_dir, version))
                return s
            removes = [
                {"remove": {"path": rel, "dataChange": True}} for rel in (j.adds if j else ())
            ]
            adds = self._write_snapshot(self.latest(), version)
            self._commit_log(self.snap_dir, version, removes + adds, s, [SNAPSHOT_APP])
        return s
