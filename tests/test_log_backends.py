"""The store's Delta-protocol journal: the on-disk layout is the open
protocol, readers resolve files from it (never the directory), and every
crash window — a claim, data without a commit, a half-written snapshot —
leaves the store readable at exactly its committed state."""

from __future__ import annotations

import datetime
import json
import os

import pytest

# round 12: heavy property/soak tier — deselected from the default
# driver-stampable run (see conftest); MARASA_FULL_SUITE=1 restores it
pytestmark = pytest.mark.slow
from pyspark.sql import functions as F

from marasa_spark.log import DISK_SCHEMA, LogWriteConflict, MarasaLog


def _ts(i: int) -> datetime.datetime:
    return datetime.datetime(2024, 1, 1) + datetime.timedelta(seconds=i)


def _batch(spark, rows, t0):
    return spark.createDataFrame(
        [(ns, k, _ts(t0 + i), v) for i, (ns, k, v) in enumerate(rows)],
        "ns string, key string, ts timestamp, value string",
    )


def _snap_dirs(store):
    """The snapshot table's fold sub-directories on disk, by name."""
    return sorted(n for n in os.listdir(store.snap_dir) if n.startswith("v"))


def _commits(table):
    """(name, actions) per numbered commit, parsed without the store's code."""
    dlog = f"{table}/_delta_log"
    names = sorted(n for n in os.listdir(dlog) if n.endswith(".json") and n[0].isdigit())
    return [
        (n, [json.loads(line) for line in open(f"{dlog}/{n}") if line.strip()])
        for n in names
    ]


def test_store_full_surface(spark, tmp_path):
    store = MarasaLog(spark, str(tmp_path / "store"), segment_size=3)

    assert store.append(_batch(spark, [("a", "k1", "v1"), ("a", "k2", "v2")], 0)) == 2
    assert store.append(_batch(spark, [("a", "k1", "v3"), ("b", "k9", "v4")], 10)) == 4

    latest = {(r["ns"], r["key"]): r["value"] for r in store.latest().collect()}
    assert latest == {("a", "k1"): "v3", ("a", "k2"): "v2", ("b", "k9"): "v4"}

    # time travel + history + point get
    asof2 = {(r["ns"], r["key"]): r["value"] for r in store.asof(2).collect()}
    assert asof2 == {("a", "k1"): "v1", ("a", "k2"): "v2"}
    assert [r["value"] for r in store.history("a", "k1").collect()] == ["v1", "v3"]
    assert store.get("a", "k1") == "v3"

    # compaction: snapshot ∪ tail keeps serving the same state
    assert store.compact() == 4
    assert store.append(_batch(spark, [("a", "k2", "v5")], 20)) == 5
    latest2 = {(r["ns"], r["key"]): r["value"] for r in store.latest().collect()}
    assert latest2[("a", "k2")] == "v5" and latest2[("a", "k1")] == "v3"
    # a re-compact at the same high-water keeps the committed snapshot;
    # the superseded fold stays on disk, removed from the one journal
    assert store.compact() == 5
    assert store.compact() == 5
    assert _snap_dirs(store) == [f"v{0:020d}", f"v{1:020d}"]
    assert len(_commits(store.snap_dir)) == 2
    assert store._latest_snapshot_seq() == 5
    assert {(r["ns"], r["key"]): r["value"] for r in store.latest().collect()} == latest2

    # crash recovery: claim + data without a commit stays invisible
    version, _ = store._claim(store.log_dir)
    orphan = store._number_batch(
        _batch(spark, [("a", "k1", "TORN")], 30), store.max_seqno()
    ).withColumn("segment", F.lit(0).cast("long"))
    store._write_log_batch(orphan, version)
    assert store.get("a", "k1") == "v3", "uncommitted row leaked"
    with pytest.raises(LogWriteConflict):
        store.append(_batch(spark, [("a", "k1", "x")], 40))
    assert store.recover_claims() == 1
    assert store.max_seqno() == 5

    # idempotent producer + consistent backup
    assert store.append_once(_batch(spark, [("c", "kz", "z1")], 50), "b-1") == 6
    assert store.append_once(_batch(spark, [("c", "kz", "z1")], 50), "b-1") == 6
    dest = store.clone_to(str(tmp_path / "clone"))
    assert dest.max_seqno() == 6
    assert len(_commits(dest.log_dir)) == 1, "clone_to writes one commit"
    assert {
        (r["ns"], r["key"]): r["value"] for r in dest.latest().collect()
    } == {
        ("a", "k1"): "v3",
        ("a", "k2"): "v5",
        ("b", "k9"): "v4",
        ("c", "kz"): "z1",
    }


def test_listing_isolation(spark, tmp_path):
    """Readers list files from the journal, never the directory. A parquet
    file that lands in the log directory without an add action (a foreign
    job, or a writer that crashed between its data job and its commit) is
    invisible — even when its seqnos sit INSIDE the committed range,
    where no seqno filter could exclude it."""
    store = MarasaLog(spark, str(tmp_path / "iso_store"))
    store.append(_batch(spark, [("a", "k1", "v1"), ("a", "k2", "v2")], 0))

    # rogue file: committed-range seqno (2 == high-water), never committed
    rogue = spark.createDataFrame(
        [("a", "k1", 2, datetime.datetime(2030, 1, 1), "ALIEN", 0)],
        "ns string, key string, seqno long, ts timestamp, value string, segment long",
    )
    rogue.write.mode("append").partitionBy("ns", "segment").parquet(store.log_dir)

    vals = {r["key"]: r["value"] for r in store.latest("a").collect()}
    assert vals == {"k1": "v1", "k2": "v2"}, (
        "an uncommitted file leaked into a read — directory listing is "
        "not isolation"
    )
    assert store.max_seqno() == 2
    # the next append numbers from the COMMITTED high-water and does not
    # adopt the rogue file into its commit
    assert store.append(_batch(spark, [("a", "k1", "v3")], 10)) == 3
    assert store.get("a", "k1") == "v3"
    assert store.changes(0).count() == 3


def test_half_written_snapshot_hides_no_rows(spark, tmp_path):
    """A compact that dies mid-write holds its claim on the snapshot
    table and leaves its version's sub-directory holding only part of
    the fold (a job commit that renamed some part files). Selected by
    directory, it would hide every row <= S it lacks; a snapshot is
    visible only through its commit, so reads must ignore it — and after
    recovery the next compact at S commits a whole one."""
    store = MarasaLog(spark, str(tmp_path / "snapcrash"))
    hw = store.append(
        _batch(spark, [("a", "k1", "v1"), ("a", "k2", "v2"), ("b", "k3", "v3")], 0)
    )
    want = {("a", "k1"): "v1", ("a", "k2"): "v2", ("b", "k3"): "v3"}

    # the crash: one of the fold's part files landed under the claim
    version, _ = store._claim(store.snap_dir)
    partial = store.latest().filter(F.col("key") == "k1")
    store._write_snapshot(partial, version)

    assert {(r["ns"], r["key"]): r["value"] for r in store.latest().collect()} == want, (
        "half-written snapshot hid committed rows from latest()"
    )
    assert {r["key"] for r in store.lookup("a", ["k1", "k2"]).collect()} == {"k1", "k2"}
    assert {r["ns"] for r in store.namespaces().collect()} == {"a", "b"}

    assert store._latest_snapshot_seq() == 0

    assert store.recover_claims() == 1
    assert _snap_dirs(store) == []
    assert store.compact() == hw
    assert [n for n, _ in _commits(store.snap_dir)] == [f"{0:020d}.json"]
    assert store._latest_snapshot_seq() == hw
    assert {(r["ns"], r["key"]): r["value"] for r in store.latest().collect()} == want


def test_concurrent_compacts_serialize(spark, tmp_path):
    """Two compacts racing at the same high-water: the other one commits
    S between this one's check and its claim, so this one re-reads the
    snapshot journal under its claim, finds S there and commits nothing —
    one snapshot commit and one fold, not two."""
    store = MarasaLog(spark, str(tmp_path / "cc"))
    other = MarasaLog(spark, store.path)
    hw = store.append(_batch(spark, [("a", "k1", "v1"), ("b", "k2", "v2")], 0))
    claim = store._claim

    def racing_claim(table):
        assert other.compact() == hw
        return claim(table)

    store._claim = racing_claim
    assert store.compact() == hw
    assert len(_commits(store.snap_dir)) == 1
    assert _snap_dirs(store) == [f"v{0:020d}"]
    assert not [n for n in os.listdir(f"{store.snap_dir}/_delta_log") if n.startswith(".")]
    assert store.get("b", "k2") == "v2"


def test_recover_sweeps_untracked_files(spark, tmp_path):
    """Files no commit tracks (crash between a data job and its commit)
    are invisible but must not accumulate: recovery unlinks exactly the
    directory-minus-journal set, removes snapshot sub-directories whose
    version never committed, and leaves committed data untouched — the
    superseded fold included, since its files were committed."""
    store = MarasaLog(spark, str(tmp_path / "sweepstore"))
    store.append(_batch(spark, [("a", "k1", "v1")], 0))
    store.compact()
    store.append(_batch(spark, [("a", "k2", "v2")], 10))
    store.compact()
    snap_files = {
        os.path.join(root, f)
        for root, dirs, files in os.walk(store.snap_dir)
        if "_delta_log" not in root
        for f in files
    }
    committed = {
        os.path.join(root, f)
        for root, dirs, files in os.walk(store.log_dir)
        if "_delta_log" not in root
        for f in files
        if not f.startswith(("_", "."))
    }

    rogue = spark.createDataFrame(
        [("a", "kX", 9, datetime.datetime(2030, 1, 1), "TORN", 0)],
        "ns string, key string, seqno long, ts timestamp, value string, segment long",
    )
    rogue.write.mode("append").partitionBy("ns", "segment").parquet(store.log_dir)
    dead_snap = f"{store.snap_dir}/v{2:020d}"
    store.latest().write.mode("overwrite").parquet(dead_snap)

    assert store.recover_claims() == 0

    left = {
        os.path.join(root, f)
        for root, dirs, files in os.walk(store.log_dir)
        if "_delta_log" not in root
        for f in files
        if not f.startswith(("_", "."))
    }
    assert left == committed, "untracked files survived, or committed ones moved"
    assert not os.path.isdir(dead_snap), "uncommitted snapshot dir survived"
    assert _snap_dirs(store) == [f"v{0:020d}", f"v{1:020d}"]
    assert all(os.path.exists(p) for p in snap_files), "a committed fold moved"
    vals = {r["key"]: r["value"] for r in store.latest("a").collect()}
    assert vals == {"k1": "v1", "k2": "v2"}
    assert store.max_seqno() == 2


def test_delta_protocol_layout_is_independently_parseable(spark, tmp_path):
    """The on-disk layout must be the OPEN protocol, checkable without any
    of the store's reader code: numbered ndjson commits under
    _delta_log/, version 0 carrying protocol (reader 1 / writer 2) and
    metaData (id, parquet format, Spark schemaString, partitionColumns),
    every add a relative path that exists with correct partitionValues,
    every log commit carrying the seqno high-water as a txn action, and
    every compaction one commit of the single snapshot table that
    removes the previous fold's files and adds its own."""
    store = MarasaLog(spark, str(tmp_path / "proto"), segment_size=3)
    store.append(_batch(spark, [("a", "k1", "v1"), ("b", "k2", "v2")], 0))
    store.compact()
    store.append(_batch(spark, [("a", "k1", "v3")], 10))
    store.compact()
    store.append_once(_batch(spark, [("b", "k5", "v5")], 20), "p-1")
    store.compact()

    commits = _commits(store.log_dir)
    assert [n for n, _ in commits] == [f"{v:020d}.json" for v in range(3)]
    actions0 = commits[0][1]
    protocols = [a["protocol"] for a in actions0 if "protocol" in a]
    metas = [a["metaData"] for a in actions0 if "metaData" in a]
    assert protocols == [{"minReaderVersion": 1, "minWriterVersion": 2}]
    assert len(metas) == 1
    meta = metas[0]
    assert meta["format"] == {"provider": "parquet", "options": {}}
    assert meta["partitionColumns"] == ["ns", "segment"]
    assert "seqno" in meta["schemaString"] and meta["id"]
    for (_name, actions), hw in zip(commits, [2, 3, 4]):
        txns = {a["txn"]["appId"]: a["txn"]["version"] for a in actions if "txn" in a}
        assert txns["marasa.seqno"] == hw
        for a in actions:
            if "add" not in a:
                continue
            add = a["add"]
            assert not add["path"].startswith("/")
            assert os.path.exists(f"{store.log_dir}/{add['path']}")
            assert add["partitionValues"].get("ns") in {"a", "b"}
            assert add["dataChange"] is True and add["size"] > 0
    assert txns["marasa.batch.p-1"] == 4, "append_once id rides its batch's commit"
    # one snapshot table: commit v adds the fold under v<v>/, removes
    # every file of the fold before it and records its high-water
    snap_commits = _commits(store.snap_dir)
    assert [n for n, _ in snap_commits] == [f"{v:020d}.json" for v in range(3)]
    assert any("metaData" in a for a in snap_commits[0][1])
    prev = set()
    for v, ((_name, actions), hw) in enumerate(zip(snap_commits, [2, 3, 4])):
        adds = {a["add"]["path"] for a in actions if "add" in a}
        removes = {a["remove"]["path"] for a in actions if "remove" in a}
        txns = {a["txn"]["appId"]: a["txn"]["version"] for a in actions if "txn" in a}
        assert adds and all(p.startswith(f"v{v:020d}/") for p in adds)
        assert removes == prev and txns == {"marasa.snapshot": hw}
        prev = adds
    # a store compacted 3 times has two journals, and nothing else at its root
    assert sorted(os.listdir(store.path)) == ["log", "snapshot"]
    dlogs = [root for root, dirs, _files in os.walk(store.path) if "_delta_log" in dirs]
    assert sorted(dlogs) == [store.log_dir, store.snap_dir]


def test_delta_checkpoint_replaces_commit_prefix(spark, tmp_path):
    """After a checkpoint lands, the JSON commits at or below its version
    are REDUNDANT: delete them (Delta's log-retention cleanup) and a fresh
    reader must still reconstruct the exact state — including the seqno
    and snapshot high-water txns — from checkpoint + tail, the property
    that bounds metadata replay on a long-lived table. Both tables cross
    a checkpoint: the snapshot table's holds only the live fold's adds."""
    store = MarasaLog(spark, str(tmp_path / "cp"), segment_size=100)
    want = {}
    for i in range(12):  # crosses CHECKPOINT_INTERVAL=10
        batch = _batch(spark, [("n", f"k{i}", f"v{i}")], i * 5)
        if i == 3:  # a producer id the checkpoint must carry
            store.append_once(batch, "early")
        else:
            store.append(batch)
        store.compact()
        want[("n", f"k{i}")] = f"v{i}"
    for table in (store.log_dir, store.snap_dir):
        dlog = f"{table}/_delta_log"
        cp_v = json.load(open(f"{dlog}/_last_checkpoint"))["version"]
        assert cp_v == 10
        removed = 0
        for name in list(os.listdir(dlog)):
            if name.endswith(".json") and name[0].isdigit() and int(name[:-5]) <= cp_v:
                os.unlink(f"{dlog}/{name}")
                removed += 1
        assert removed > 0
    reader = MarasaLog(spark, str(tmp_path / "cp"))
    assert {
        p.split("/")[0] for p in reader._journal(reader.snap_dir).adds
    } == {f"v{11:020d}"}
    got = {(r["ns"], r["key"]): r["value"] for r in reader.latest().collect()}
    assert got == want
    assert reader.max_seqno() == 12
    assert reader._latest_snapshot_seq() == 12
    assert reader.append_once(_batch(spark, [("n", "k3", "v3")], 15), "early") == 4


def test_recover_leaves_no_dangling_add(spark, tmp_path):
    """A crashed writer's orphan files must leave the table with NO add
    action pointing at a missing file after recovery — verified by
    replaying the log independently and checking every live add's file
    exists — and a raw directory read holds no orphan row."""
    store = MarasaLog(spark, str(tmp_path / "vac"), segment_size=3)
    store.append(_batch(spark, [("a", "k1", "v1")], 0))
    version, _ = store._claim(store.log_dir)
    orphan = store._number_batch(_batch(spark, [("a", "k1", "TORN")], 30), 1)
    store._write_log_batch(orphan.withColumn("segment", F.lit(0).cast("long")), version)
    assert store.get("a", "k1") == "v1", "uncommitted row leaked"
    assert store.recover_claims() == 1
    assert store.get("a", "k1") == "v1"
    active = {}
    for _name, actions in _commits(store.log_dir):
        for a in actions:
            if "add" in a:
                active[a["add"]["path"]] = True
            elif "remove" in a:
                active.pop(a["remove"]["path"], None)
    assert active, "no live files left?"
    for rel in active:
        assert os.path.exists(f"{store.log_dir}/{rel}"), f"live add points at missing {rel}"
    raw = spark.read.schema(DISK_SCHEMA).parquet(store.log_dir)
    assert raw.filter(F.col("value") == "TORN").count() == 0
    # and the store still appends cleanly from the recovered base
    assert store.append(_batch(spark, [("a", "k2", "v2")], 40)) == 2
