"""What a ``MarasaLog`` read returns does not depend on the store's state.

Reads see snapshot(≤S) ∪ tail(>S) or the full log, and an empty store
has neither. None of that may show in a read's columns, and ``compact()``
(maintenance) may not change any read's answer.
"""

from __future__ import annotations

import pytest

from marasa_spark.log import MarasaLog

LOG_COLUMNS = ["ns", "key", "seqno", "ts", "value"]

READS = {
    "latest": lambda s: s.latest(),
    "latest_ns": lambda s: s.latest("a"),
    "lookup": lambda s: s.lookup("a", ["k1", "k2", "k9"]),
    "asof": lambda s: s.asof(6),
    "asof_ns": lambda s: s.asof(6, ns="a"),
    "read": lambda s: s.read("a", 6),
    "changes": lambda s: s.changes(0),
    "changes_until_ns": lambda s: s.changes(1, until=8, ns="a"),
    "history": lambda s: s.history("a", "k1"),
}


def _populate(store: MarasaLog) -> None:
    """Puts, deletes and a revival across several segments of 3, and a
    namespace, ``x``, whose every key is tombstoned."""
    store.put("a", k1="1", k2="2", k3="3")
    store.put("b", k1="x")
    store.put("x", z="1")
    store.delete("x", ["z"])
    store.delete("a", ["k2"])
    store.put("a", k2="22", k4="4")
    store.delete("a", ["k3"])


@pytest.fixture(scope="module")
def stores(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("log_reads")
    empty = MarasaLog(spark, str(root / "empty"), segment_size=3)
    uncompacted = MarasaLog(spark, str(root / "uncompacted"), segment_size=3)
    _populate(uncompacted)
    compacted = MarasaLog(spark, str(root / "compacted"), segment_size=3)
    _populate(compacted)
    compacted.compact()
    compacted.put("a", k1="11")  # a tail above the snapshot
    return {"empty": empty, "uncompacted": uncompacted, "compacted": compacted}


@pytest.mark.parametrize("state", ["empty", "uncompacted", "compacted"])
@pytest.mark.parametrize("read", sorted(READS))
def test_read_columns_follow_log_schema(stores, read, state):
    assert READS[read](stores[state]).columns == LOG_COLUMNS


def _answers(store: MarasaLog) -> dict:
    out = {name: sorted(map(tuple, f(store).collect())) for name, f in READS.items()}
    out["namespaces"] = sorted(r["ns"] for r in store.namespaces().collect())
    out["get"] = [store.get("a", "k1"), store.get("a", "k2", seqno=6)]
    return out


def test_compact_changes_no_read(spark, tmp_path):
    """Every read answers the same before and after ``compact()``; the
    un-compacted log is the reference."""
    store = MarasaLog(spark, str(tmp_path / "s"), segment_size=3)
    _populate(store)
    before = _answers(store)
    store.compact()
    assert _answers(store) == before


def test_namespaces_keep_a_fully_deleted_namespace(spark, tmp_path):
    """``namespaces()`` lists every namespace that has a log: one whose
    keys are all tombstoned stays listed, before and after ``compact()``
    drops it from the snapshot."""
    store = MarasaLog(spark, str(tmp_path / "s"))
    store.put("x", a="1")
    store.delete("x", ["a"])
    store.put("y", b="1")
    names = lambda: sorted(r["ns"] for r in store.namespaces().collect())  # noqa: E731
    assert names() == ["x", "y"]
    store.compact()
    assert names() == ["x", "y"]
