"""Property-based tests for the MarasaLog store (SURVEY.md §5.4).

The reference's semantics live here: random interleavings of append/compact
must make ``latest()`` equal a dict-replay model and ``asof()`` equal a
prefix replay. ts values are strictly increasing so the deterministic
append order (ns, key, ts) has no ties.
"""

from __future__ import annotations

import datetime
import itertools

import pytest

# round 12: heavy property/soak tier — deselected from the default
# driver-stampable run (see conftest); MARASA_FULL_SUITE=1 restores it
pytestmark = pytest.mark.slow
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from marasa_spark.log import DISK_SCHEMA, LogWriteConflict, MarasaLog

NS = ["alpha", "beta"]
KEYS = ["k0", "k1", "k2"]

record = st.tuples(st.sampled_from(NS), st.sampled_from(KEYS), st.integers(0, 99))
batch = st.lists(record, min_size=1, max_size=5)
# each step: (batch, compact_after?)
steps = st.lists(st.tuples(batch, st.booleans()), min_size=1, max_size=4)

_counter = itertools.count()


def _ts(i: int) -> datetime.datetime:
    return datetime.datetime(2024, 1, 1) + datetime.timedelta(seconds=i)


@pytest.fixture(scope="module")
def tmp_base(tmp_path_factory):
    return tmp_path_factory.mktemp("marasa_log")


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(steps=steps)
def test_log_replay_model(spark, tmp_base, steps):
    path = str(tmp_base / f"store_{next(_counter)}")
    store = MarasaLog(spark, path)

    model: dict[tuple[str, str], str] = {}   # (ns,key) -> value
    journal: list[tuple[int, str, str, str]] = []  # (seqno, ns, key, value)
    seq = 0
    t = 0

    for batch_rows, do_compact in steps:
        # mirror append()'s deterministic ordering: (ns, key, ts); ts is
        # strictly increasing in input order here
        rows = []
        for ns, key, v in batch_rows:
            rows.append((ns, key, _ts(t), str(v)))
            t += 1
        df = spark.createDataFrame(rows, "ns string, key string, ts timestamp, value string")
        hi = store.append(df)
        for ns, key, ts, v in sorted(rows, key=lambda r: (r[0], r[1], r[2])):
            seq += 1
            journal.append((seq, ns, key, v))
            model[(ns, key)] = v
        assert hi == seq, f"high-water {hi} != model {seq}"
        if do_compact:
            assert store.compact() == seq

    # latest == full replay
    got = {
        (r["ns"], r["key"]): r["value"]
        for r in store.latest().collect()
    }
    assert got == model

    # asof == prefix replay at a mid boundary
    if seq >= 2:
        cut = seq // 2
        prefix: dict[tuple[str, str], str] = {}
        for s, ns, key, v in journal:
            if s <= cut:
                prefix[(ns, key)] = v
        got_asof = {
            (r["ns"], r["key"]): r["value"] for r in store.asof(cut).collect()
        }
        assert got_asof == prefix

    # history of one key == its journal subsequence, in order
    ns0, key0 = journal[0][1], journal[0][2]
    expect_hist = [v for s, ns, k, v in journal if ns == ns0 and k == key0]
    got_hist = [r["value"] for r in store.history(ns0, key0).collect()]
    assert got_hist == expect_hist

    # namespaces
    assert {r["ns"] for r in store.namespaces().collect()} == {
        ns for (ns, _k) in model
    }

    # point lookup
    some_ns, some_key = next(iter(model))
    assert store.get(some_ns, some_key) == model[(some_ns, some_key)]


# maintenance interleaving: each step is one of append / compact /
# crashed-writer (claim + data, no commit) / recover (vacuum)
maint_step = st.sampled_from(["append", "compact", "crash", "recover"])
maint_steps = st.lists(maint_step, min_size=1, max_size=5)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(msteps=maint_steps)
def test_reader_snapshot_isolation_under_maintenance(spark, tmp_base, msteps):
    """Round-5 verdict #5 — the read half of the ACID contract: a reader
    pinned at seqno S must see exactly the prefix-fold state at S across
    ANY interleaving of compact / crashed-writer / vacuum-recovery /
    further appends. Structurally, vacuum may only UNLINK whole orphan
    files — the on-disk file set that backs committed rows is asserted
    bit-identical across every recover_claims(), which is what makes a
    concurrent committed read un-tearable (no byte of committed data
    moves; at worst a racing scan of a vanishing orphan file fails
    cleanly)."""
    import glob
    import os

    path = str(tmp_base / f"iso_{next(_counter)}")
    store = MarasaLog(spark, path, segment_size=5)

    def committed_files() -> dict[str, float]:
        out = {}
        for root, dirs, files in os.walk(f"{path}/log"):
            dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
            for f in files:
                if not f.startswith(("_", ".")):
                    full = os.path.join(root, f)
                    out[full] = os.path.getmtime(full)
        return out

    # two committed batches, then pin the reader at S = high-water of #1
    t = iter(range(10_000))
    def batch(rows):
        return spark.createDataFrame(
            [(ns, k, _ts(next(t)), v) for ns, k, v in rows],
            "ns string, key string, ts timestamp, value string",
        )

    s_pin = store.append(batch([("a", "k1", "v1"), ("a", "k2", "v2")]))
    store.append(batch([("a", "k1", "v3"), ("b", "k9", "v4")]))
    pinned = {
        (r["ns"], r["key"]): r["value"] for r in store.asof(s_pin).collect()
    }
    assert pinned == {("a", "k1"): "v1", ("a", "k2"): "v2"}

    files_before = committed_files()
    crashed = False
    for step in msteps:
        if step == "append":
            if crashed:
                # the dead writer's claim still holds the next version: a
                # bare append must conflict (append_retrying would wait)
                with pytest.raises(LogWriteConflict):
                    store.append(batch([("a", "k1", "never")]))
            else:
                store.append(batch([("a", "k1", f"n{next(t)}"), ("c", "kx", "y")]))
                files_before = committed_files()
        elif step == "compact":
            store.compact()
        elif step == "crash" and not crashed:
            base = store.max_seqno()
            version, _ = store._claim(store.log_dir)
            orphan = store._number_batch(
                batch([("a", "k1", "TORN"), ("b", "kz", "TORN")]), base
            ).withColumn("segment", F.lit(0).cast("long"))
            store._write_log_batch(orphan, version)
            crashed = True
        elif step == "recover":
            store.recover_claims()
            crashed = False
            after = committed_files()
            assert set(files_before) <= set(after) and all(
                after[f] == m for f, m in files_before.items()
            ), "vacuum touched a file backing committed rows"
        # the pinned reader sees the same prefix state after EVERY step
        got = {
            (r["ns"], r["key"]): r["value"] for r in store.asof(s_pin).collect()
        }
        assert got == pinned, f"snapshot at {s_pin} drifted after {step}"
    if crashed:  # leave the store recovered for the next example
        store.recover_claims()


def test_marasa_call_shapes(spark, tmp_base):
    """The reference's call shapes (SURVEY §0.4): put/write/get/read."""
    store = MarasaLog(spark, str(tmp_base / "shapes"))
    s1 = store.put("cfg", color="red", size="large")
    assert s1 == 2
    s2 = store.write("cfg", color="blue")
    assert s2 == 3
    assert store.get("cfg", "color") == "blue"
    assert store.get("cfg", "size") == "large"
    assert store.get("cfg", "color", seqno=s1) == "red"  # as-of read
    asof_rows = {r["key"]: r["value"] for r in store.read("cfg", s1).collect()}
    assert asof_rows["color"] == "red"


def test_changes_range_and_replay_invariant(spark, tmp_base):
    """changes(s, u) returns exactly the (s, u] seqno slice; consuming the
    feed in two adjacent ranges replays the full log; an open until reads
    to the head; ns filter composes."""
    store = MarasaLog(spark, str(tmp_base / "cdc"), segment_size=4)
    rows = [("a", f"k{i % 3}", _ts(i), f"v{i}") for i in range(10)]
    store.append(spark.createDataFrame(rows, "ns string, key string, ts timestamp, value string"))
    rows2 = [("b", f"k{i % 2}", _ts(100 + i), f"w{i}") for i in range(5)]
    store.append(spark.createDataFrame(rows2, "ns string, key string, ts timestamp, value string"))

    full = {r["seqno"] for r in store.changes(0).collect()}
    assert full == set(range(1, 16))
    lo = {r["seqno"] for r in store.changes(0, 7).collect()}
    hi = {r["seqno"] for r in store.changes(7).collect()}
    assert lo == set(range(1, 8)) and hi == set(range(8, 16))
    b_only = store.changes(0, ns="b").collect()
    assert {r["seqno"] for r in b_only} == set(range(11, 16))
    assert all(r["ns"] == "b" for r in b_only)
    assert store.changes(15).count() == 0


def test_concurrent_append_conflict_detected(spark, tmp_base):
    """Writer conflicts are ENFORCED, not assumed: two writers racing
    append() from the same journal version must not silently interleave
    colliding seqnos — the second claimant gets LogWriteConflict before any
    of its data lands (the Delta commit-conflict contract). Sequential
    appends (each from a fresh journal head) never conflict;
    recover_claims() clears a dead writer's claim and re-opens the
    version."""
    path = str(tmp_base / "conflict_store")
    writer_a = MarasaLog(spark, path)
    writer_b = MarasaLog(spark, path)
    df = spark.createDataFrame(
        [("ns1", "k1", "v1"), ("ns1", "k2", "v2")],
        "ns string, key string, value string",
    )
    high = writer_a.append(df)
    assert high == 2

    # race: both writers read version 0; A claims version 1 first (the
    # moment its append would, before writing), then B's append must abort
    writer_a._claim(writer_a.log_dir)
    with pytest.raises(LogWriteConflict):
        writer_b.append(df)
    # the loser wrote nothing: log still has exactly the first batch
    assert writer_b.max_seqno() == 2
    assert writer_a.latest().count() == 2

    # A died before writing: its claim blocks any retry of version 1 ...
    with pytest.raises(LogWriteConflict):
        writer_b.append(df)
    # ... until the operator clears the dead claim
    assert writer_b.recover_claims() == 1
    assert writer_b.append(df) == 4
    # a committed append releases its own claim: nothing stale remains
    assert writer_b.recover_claims() == 0
    # seqnos are contiguous and collision-free across the whole history
    seqs = [r["seqno"] for r in writer_b.changes(0).orderBy("seqno").collect()]
    assert seqs == [1, 2, 3, 4]


def test_concurrent_appends_serialize_with_retry(spark, tmp_base):
    """append_retrying turns the version claim into optimistic concurrency:
    N writers racing from the same high-water all SUCCEED, serialized by
    the commit loop (loser re-reads the advanced high-water and rebases) —
    the Delta/Iceberg commit-retry protocol. The merged history must be
    exactly the union of every writer's batch with contiguous, collision-
    free seqnos, i.e. equivalent to SOME serial order of the appends."""
    import threading

    path = str(tmp_base / "retry_store")
    n_writers, rows_each = 4, 25
    results, errors = {}, []
    barrier = threading.Barrier(n_writers)

    def run(w: int) -> None:
        store = MarasaLog(spark, path)
        df = spark.createDataFrame(
            [("ns1", f"w{w}_k{i}", _ts(w * rows_each + i), f"v{w}_{i}")
             for i in range(rows_each)],
            "ns string, key string, ts timestamp, value string",
        )
        barrier.wait()
        try:
            results[w] = store.append_retrying(
                df, max_attempts=40, backoff_s=0.25
            )
        except Exception as e:  # noqa: BLE001 — surfaced in the assert below
            errors.append(e)

    threads = [threading.Thread(target=run, args=(w,)) for w in range(n_writers)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()

    assert not errors, errors
    total = n_writers * rows_each
    # every writer landed, each returning a distinct serialized high-water
    assert sorted(results.values()) == [
        rows_each * (i + 1) for i in range(n_writers)
    ]
    reader = MarasaLog(spark, path)
    rows = reader.changes(0).orderBy("seqno").collect()
    assert [r["seqno"] for r in rows] == list(range(1, total + 1))
    # the union of batches survived intact: every key exactly once
    assert sorted(r["key"] for r in rows) == sorted(
        f"w{w}_k{i}" for w in range(n_writers) for i in range(rows_each)
    )
    # each batch's rows carry CONTIGUOUS seqnos (batches never interleave)
    by_writer = {}
    for r in rows:
        by_writer.setdefault(r["key"].split("_")[0], []).append(r["seqno"])
    for seqs in by_writer.values():
        assert seqs == list(range(min(seqs), min(seqs) + rows_each))


def test_uncommitted_batch_is_invisible_to_readers(spark, tmp_base):
    """Read atomicity against an in-flight writer: data files that landed
    WITHOUT a commit (a writer mid-append, or crashed between its data
    job and its commit) must be invisible to every read path —
    latest, asof, history-by-changes, and max_seqno (so a new writer
    numbers from the committed base, not the orphan one)."""
    path = str(tmp_base / "atomic_store")
    store = MarasaLog(spark, path)
    df = spark.createDataFrame(
        [("n", "k1", "v1"), ("n", "k2", "v2")],
        "ns string, key string, value string",
    )
    assert store.append(df) == 2

    # simulate the in-flight writer: claim + data files, NO commit
    version, _ = store._claim(store.log_dir)
    orphan = store._number_batch(
        spark.createDataFrame(
            [("n", "k1", "ORPHAN"), ("n", "k3", "ORPHAN")],
            "ns string, key string, value string",
        ),
        base=2,
    ).withColumn(
        "segment",
        (F.floor(F.col("seqno") / store.segment_size) * store.segment_size).cast("long"),
    )
    store._write_log_batch(orphan, version)

    assert store.max_seqno() == 2
    latest = {r["key"]: r["value"] for r in store.latest().collect()}
    assert latest == {"k1": "v1", "k2": "v2"}
    assert store.changes(0).count() == 2
    assert store.get("n", "k3") is None


def test_recover_vacuums_crashed_writer_orphans(spark, tmp_base):
    """Crash recovery must physically remove the orphan files: they are
    invisible, but they carry the same seqnos the next append re-issues
    from the committed base, and any directory-listing reader (the i15
    change stream) would surface them as duplicates."""
    path = str(tmp_base / "vacuum_store")
    store = MarasaLog(spark, path)
    df = spark.createDataFrame(
        [("n", "k1", "v1")], "ns string, key string, value string"
    )
    assert store.append(df) == 1
    version, _ = store._claim(store.log_dir)
    orphan = store._number_batch(
        spark.createDataFrame(
            [("n", "k1", "ORPHAN")], "ns string, key string, value string"
        ),
        base=1,
    ).withColumn(
        "segment",
        (F.floor(F.col("seqno") / store.segment_size) * store.segment_size).cast("long"),
    )
    store._write_log_batch(orphan, version)

    assert store.recover_claims() == 1
    # orphans are gone from DISK, not just unreferenced (raw directory
    # read, bypassing the journal)
    raw = spark.read.schema(DISK_SCHEMA).parquet(store.log_dir)
    assert raw.filter(F.col("seqno") > 1).count() == 0

    # the re-issued seqno now commits cleanly with no duplicate surfacing
    assert store.append(
        spark.createDataFrame(
            [("n", "k1", "v2")], "ns string, key string, value string"
        )
    ) == 2
    assert {r["value"] for r in store.history("n", "k1").collect()} == {"v1", "v2"}
    assert store.get("n", "k1") == "v2"


def test_clone_excludes_uncommitted(spark, tmp_base):
    """A backup taken while a writer's data files are on disk WITHOUT a
    commit must contain exactly the last committed state — the clone
    reads through the journal, so a torn backup is
    impossible by construction. Also: the restored store is
    reader-equivalent (latest, changes, max_seqno) and independently
    writable (its next append numbers from the copied high-water)."""
    path = str(tmp_base / "clone_src")
    store = MarasaLog(spark, path)
    df1 = spark.createDataFrame(
        [("ns1", "a", _ts(1), "v1"), ("ns1", "b", _ts(2), "v2")],
        "ns string, key string, ts timestamp, value string",
    )
    store.append(df1)

    # simulate an in-flight writer: claim + data landed, NO commit
    base = store.max_seqno()
    version, _ = store._claim(store.log_dir)
    orphan = spark.createDataFrame(
        [("ns1", "c", _ts(3), "torn")],
        "ns string, key string, ts timestamp, value string",
    )
    batch = store._number_batch(orphan, base).withColumn(
        "segment", F.lit(0).cast("long")
    )
    store._write_log_batch(batch, version)

    restored = store.clone_to(str(tmp_base / "clone_dst"))
    rows = {(r["key"], r["value"]) for r in restored.latest().collect()}
    assert rows == {("a", "v1"), ("b", "v2")}, "torn row leaked into backup"
    assert restored.max_seqno() == 2
    seqs = [r["seqno"] for r in restored.changes(0).orderBy("seqno").collect()]
    assert seqs == [1, 2]

    # the restore is a first-class store: appends continue the numbering
    assert restored.append(df1.limit(1)) == 3

    # source recovery still works after the backup
    store.recover_claims()
    assert store.max_seqno() == 2


def test_append_once_idempotence(spark, tmp_base):
    """append_once: same batch_id is a no-op returning the recorded
    high-water; distinct ids append normally; the tag survives a reader
    re-open (a NEW store object over the same path still dedups)."""
    path = str(tmp_base / "once_store")
    store = MarasaLog(spark, path)
    df = spark.createDataFrame(
        [("ns1", "a", _ts(1), "v1"), ("ns1", "b", _ts(2), "v2")],
        "ns string, key string, ts timestamp, value string",
    )
    assert store.append_once(df, "batch-1") == 2
    assert store.append_once(df, "batch-1") == 2      # resubmit: no-op
    assert store.changes(0).count() == 2
    assert store.append_once(df, "batch-2") == 4      # new id: appends
    reopened = MarasaLog(spark, path)
    assert reopened.append_once(df, "batch-1") == 2   # tag is durable
    assert reopened.changes(0).count() == 4


def test_append_once_inflight_claim(spark, tmp_base, monkeypatch):
    """A producer that died holding the version claim: a resubmit of its
    batch_id retries, then surfaces LogWriteConflict — never
    double-appends, and nothing of the dead attempt is visible.
    recover_claims clears the dead claim so the id becomes resubmittable,
    and it is idempotent again once it lands."""
    import marasa_spark.log as log_mod

    monkeypatch.setattr(log_mod.time, "sleep", lambda _s: None)
    path = str(tmp_base / "once_inflight")
    store = MarasaLog(spark, path)
    df = spark.createDataFrame(
        [("ns1", "a", _ts(1), "v1")],
        "ns string, key string, ts timestamp, value string",
    )
    # simulate a crashed owner: claim + data landed, commit never written
    version, _ = store._claim(store.log_dir)
    orphan = store._number_batch(df, 0).withColumn("segment", F.lit(0).cast("long"))
    store._write_log_batch(orphan, version)

    with pytest.raises(LogWriteConflict):
        store.append_once(df, "dead-batch")
    assert store.changes(0).count() == 0, "in-flight resubmit must not append"

    assert store.recover_claims() == 1
    assert store.append_once(df, "dead-batch") == 1  # now resubmittable
    assert store.append_once(df, "dead-batch") == 1  # and idempotent again
    assert store.changes(0).count() == 1


def test_tombstone_lifecycle(spark, tmp_base):
    """The delete verb's full contract: latest hides a tombstoned key,
    asof BEFORE the tombstone still shows it (history exact), the CDC
    feed carries the tombstone itself (consumers learn about forgets),
    a later put revives the key, and compaction physically drops
    tombstoned keys from the snapshot files."""
    store = MarasaLog(spark, str(tmp_base / f"tomb{next(_counter)}"))
    s1 = store.put("ns", a="1", b="2")
    store.delete("ns", ["a"])

    live = {r["key"]: r["value"] for r in store.latest("ns").collect()}
    assert live == {"b": "2"}, "tombstoned key must vanish from latest"
    assert store.get("ns", "a") is None

    before = {r["key"] for r in store.asof(s1, ns="ns").collect()}
    assert before == {"a", "b"}, "time travel before the delete is exact"

    feed = store.changes(0, ns="ns").collect()
    tombs = [r for r in feed if r["value"] is None]
    assert [t["key"] for t in tombs] == ["a"], "CDC must surface the tombstone"

    # compaction drops the key from the PHYSICAL snapshot
    s_compact = store.compact()
    assert store._latest_snapshot_seq() == s_compact
    snap = store._read_table(store.snap_dir)
    assert snap.filter(F.col("key") == "a").count() == 0
    assert {r["key"] for r in store.latest("ns").collect()} == {"b"}

    # revival: a put AFTER the tombstone supersedes it
    store.put("ns", a="3")
    assert store.get("ns", "a") == "3"
    # and lookup agrees with latest on the tombstone rule
    assert store.lookup("ns", ["a", "b"]).count() == 2

    # an EMPTY forget list, and a put with no changes, are no-ops: no
    # version claimed or committed, no log files written
    import os

    hw = store.max_seqno()
    version = store._journal(store.log_dir).version
    n_files = sum(len(fs) for _, _, fs in os.walk(store.log_dir))
    assert store.delete("ns", []) == hw
    assert store.put("ns") == hw
    assert store.max_seqno() == hw
    assert store._journal(store.log_dir).version == version
    assert sum(len(fs) for _, _, fs in os.walk(store.log_dir)) == n_files


text = st.sampled_from(["", "a", "b", "é", "中"])
row = st.tuples(st.sampled_from(["n", "é"]), text, st.none() | text)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    batches=st.lists(st.lists(row, min_size=1, max_size=8), min_size=1, max_size=3),
    segment_size=st.integers(1, 7),
)
def test_rows_path_numbers_like_append_property(spark, tmp_base, batches, segment_size):
    """The driver-rows front end of put/delete and the DataFrame plan of
    append stamp every row with the same seqno and segment, and return
    the same high-water, on any batches (ties, NULLs, duplicate rows,
    "" and non-ASCII strings, segment straddles)."""
    n = next(_counter)
    by_rows = MarasaLog(spark, str(tmp_base / f"rows_{n}"), segment_size=segment_size)
    by_frame = MarasaLog(spark, str(tmp_base / f"frame_{n}"), segment_size=segment_size)
    for rows in batches:
        assert by_rows._append(list(rows)) == by_frame.append(
            spark.createDataFrame(rows, "ns string, key string, value string")
        )

    def landed(store):
        return sorted(
            (r["seqno"], r["ns"], r["key"], r["value"], r["segment"])
            for r in store._read_table(store.log_dir).collect()
        )

    assert landed(by_rows) == landed(by_frame)


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(pre=batch, racing=batch)
def test_compact_racing_append_interleaving(spark, tmp_base, pre, racing):
    """The snapshot-writer-vs-appender interleaving (round-8 verdict #6):
    compact() reads high-water N, and BEFORE its snapshot materializes an
    OCC append commits N+1..M. The lazily-evaluated snapshot committed
    with high-water N may then fold in rows > N — the property pins why that is
    safe: latest() folds snapshot ∪ tail(>N) by max seqno (duplicates
    collapse idempotently), while asof()/changes() read the RAW retained
    log, never the snapshot, so time travel stays exact. Replay must
    equal the serial model at every prefix, and no live add may dangle —
    every file the journal adds exists on disk."""
    import os

    path = str(tmp_base / f"race_{next(_counter)}")
    store = MarasaLog(spark, path)
    serial: list[tuple[str, str, str]] = []

    def to_df(rows, tag):
        return spark.createDataFrame(
            [
                (ns, k, _ts(i), f"{tag}{i}_{v}")
                for i, (ns, k, v) in enumerate(rows)
            ],
            "ns string, key string, ts timestamp, value string",
        )

    def serial_order(rows, tag):
        # a batch is seqno-stamped in (ns, key, ts, value) order — the
        # parallel numbering contract of _number_batch, not input order
        stamped = sorted(
            (ns, k, _ts(i), f"{tag}{i}_{v}")
            for i, (ns, k, v) in enumerate(rows)
        )
        return [(ns, k, val) for ns, k, _, val in stamped]

    store.append(to_df(pre, "pre"))
    serial += serial_order(pre, "pre")
    n_pre = len(pre)

    # interleave: racing append commits between compact()'s max_seqno()
    # read and the physical snapshot write (the injected step runs where
    # a concurrent writer's commit would land)
    orig_write = store._write_snapshot

    def racing_write(state, version):
        racer = MarasaLog(spark, path)
        racer.append(to_df(racing, "race"))
        return orig_write(state, version)

    store._write_snapshot = racing_write
    try:
        hw = store.compact()
    finally:
        store._write_snapshot = orig_write
    serial += serial_order(racing, "race")
    assert hw == n_pre  # compact labeled the snapshot at the pre-race water

    reader = MarasaLog(spark, path)
    # 1. latest == serial last-write-wins over ALL committed rows
    want_latest = {}
    for ns, k, v in serial:
        want_latest[(ns, k)] = v
    got_latest = {
        (r["ns"], r["key"]): r["value"] for r in reader.latest().collect()
    }
    assert got_latest == want_latest
    # 2. asof(N) == the serial PREFIX model — the polluted snapshot must
    # not leak racing rows into time travel
    want_asof = {}
    for ns, k, v in serial[:n_pre]:
        want_asof[(ns, k)] = v
    got_asof = {
        (r["ns"], r["key"]): r["value"] for r in reader.asof(n_pre).collect()
    }
    assert got_asof == want_asof
    # 3. the change feed is the full serial history, gapless
    rows = reader.changes(0).orderBy("seqno").collect()
    assert [r["seqno"] for r in rows] == list(range(1, len(serial) + 1))
    assert [(r["ns"], r["key"], r["value"]) for r in rows] == serial
    # 4. no dangling add: every live file the journal resolves exists
    for table in (store.log_dir, store.snap_dir):
        for rel in reader._journal(table).adds:
            assert os.path.exists(f"{table}/{rel}"), f"dangling add {rel}"
    # 5. a follow-up compact at the new high-water restores the invariant
    assert store.compact() == len(serial)
    got2 = {(r["ns"], r["key"]): r["value"] for r in reader.latest().collect()}
    assert got2 == want_latest


# ---------------------------------------------------------------------------
# Torn-commit states: a writer can die at ANY point between producing data
# files and making them reader-visible through its commit (and a compact
# anywhere between its snapshot claim and the snapshot's commit). Inject each
# torn state directly into the store's directories and assert the reader
# sees exactly the pre-commit state — never a partial commit — and that
# recovery returns the store to full health: the next append and compact
# succeed.
# ---------------------------------------------------------------------------

_TORN = [
    # crash between the parquet data job and the commit: claim held, files
    # on disk, no add action (the log-side window)
    "data_no_commit",
    # crash inside _commit's tmp write: a torn hidden .tmp commit attempt
    # (final commit files are hard-linked whole, so only tmp can tear)
    "torn_tmp_commit",
    # a snapshot sub-directory with neither claim nor commit (a recovery
    # killed between releasing the claim and sweeping the directory):
    # selected by directory it would hide rows, so it must read as absent
    "snapshot_no_commit",
    # a compact that died right after claiming the snapshot table's next
    # version: claim held, no data
    "compact_dead_claim",
    # a compact that died between its fold data job and its commit: claim
    # held, the version's sub-directory written, no add/remove/txn
    "compact_data_no_commit",
]


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    injections=st.lists(
        st.sampled_from(_TORN), min_size=1, max_size=len(_TORN), unique=True
    ),
    n_pre=st.integers(1, 3),
)
def test_torn_commit_states_are_invisible(spark, tmp_base, injections, n_pre):
    import os
    import uuid

    path = str(tmp_base / f"torn_{uuid.uuid4().hex}")
    store = MarasaLog(spark, path)
    committed = []
    for i in range(n_pre):
        committed.append(("n", f"k{i}", f"v{i}"))
        assert (
            store.append(
                spark.createDataFrame(
                    [committed[-1]], "ns string, key string, value string"
                )
            )
            == i + 1
        )
        if i == 0:  # a committed snapshot the torn compacts would supersede
            assert store.compact() == 1
    want = {k: v for _ns, k, v in committed}
    snap_v = store._journal(store.snap_dir).version + 1  # next compact's version

    crashed_claim = snap_claim = False
    for kind in injections:
        if kind == "data_no_commit":
            version, _ = store._claim(store.log_dir)
            crashed_claim = True
            orphan = store._number_batch(
                spark.createDataFrame(
                    [("n", "k0", "TORN")], "ns string, key string, value string"
                ),
                base=n_pre,
            ).withColumn(
                "segment",
                (
                    F.floor(F.col("seqno") / store.segment_size)
                    * store.segment_size
                ).cast("long"),
            )
            store._write_log_batch(orphan, version)
        elif kind == "torn_tmp_commit":
            dlog = f"{store.log_dir}/_delta_log"
            with open(f"{dlog}/.00000000000000000099.json.dead.tmp", "w") as f:
                f.write('{"add": {"path": "truncat')  # torn mid-write
        elif kind == "snapshot_no_commit":
            staged = f"{store.snap_dir}/v{snap_v:020d}"
            os.makedirs(staged, exist_ok=True)
            with open(f"{staged}/part-00000.parquet", "wb") as f:
                f.write(b"PAR1 not really parquet")
        else:  # compact_dead_claim / compact_data_no_commit
            if not snap_claim:
                assert store._claim(store.snap_dir)[0] == snap_v
                snap_claim = True
            if kind == "compact_data_no_commit":
                torn = store.latest().withColumn("value", F.lit("TORN"))
                store._write_snapshot(torn, snap_v)

    # ATOMICITY: every read path sees exactly the committed prefix
    reader = MarasaLog(spark, path)
    assert {r["key"]: r["value"] for r in reader.latest().collect()} == want
    assert reader.max_seqno() == n_pre
    assert reader.changes(0).count() == n_pre
    assert reader.get("n", "k0") == "v0"
    assert reader._latest_snapshot_seq() == 1

    # RECOVERY: claims released, torn files swept, invariants restored
    assert store.recover_claims() == crashed_claim + snap_claim
    live = {f"{store.log_dir}/{rel}" for rel in store._journal(store.log_dir).adds}
    on_disk = {
        os.path.join(root, f)
        for root, dirs, files in os.walk(store.log_dir)
        if "_delta_log" not in root
        for f in files
        if not f.startswith(("_", "."))
    }
    assert on_disk == live, f"untracked files survived recovery: {on_disk - live}"
    for table in (store.log_dir, store.snap_dir):
        assert not [
            n for n in os.listdir(f"{table}/_delta_log") if n.startswith(".")
        ], "claim or torn commit attempt survived recovery"
    assert sorted(n for n in os.listdir(store.snap_dir) if n != "_delta_log") == [
        f"v{v:020d}" for v in range(snap_v)
    ], "uncommitted snapshot survived, or a committed one moved"

    # the store is fully writable and consistent afterwards
    assert (
        store.append(
            spark.createDataFrame(
                [("n", "knew", "vnew")], "ns string, key string, value string"
            )
        )
        == n_pre + 1
    )
    want["knew"] = "vnew"
    assert store.compact() == n_pre + 1
    assert reader._latest_snapshot_seq() == n_pre + 1
    assert {r["key"]: r["value"] for r in reader.latest().collect()} == want
