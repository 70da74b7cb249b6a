"""The two numbering front ends of ``MarasaLog`` writes.

``put``/``delete`` number their driver-held rows in Python; ``append``
numbers a DataFrame with the parallel ``global_prefix`` plan. Both must
give every row the same seqno and segment, so these tests write the same
rows through each and compare what lands. They also pin the write-path
contracts around the claim: a bad input or a failed job leaves no claim
behind, and the next write succeeds.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from marasa_spark.log import MarasaLog

SCHEMA = "ns string, key string, value string"

# (rows, segment_size): ties on (ns, key), NULLs, duplicate full rows,
# "" and non-ASCII strings; segment_size 4 makes the batches straddle
# segment boundaries
CASES = {
    "ties_nulls_dups": (
        [
            ("n", "k", "x"),
            ("n", "k", None),
            ("n", "k", ""),
            ("n", "k", "x"),
            ("m", "k", "v"),
            ("n", "k", None),
            ("n", "a", "b"),
        ],
        100_000,
    ),
    "non_ascii_straddle": (
        [
            ("n", "é", "中"),
            ("n", "e", "z"),
            ("中", "k", "é"),
            ("n", "ÿ", None),
            ("n", "é", ""),
            ("", "", ""),
            ("n", "e", "z"),
        ],
        4,
    ),
}


def _landed(store):
    rows = store._read_table(store.log_dir).collect()
    return sorted(
        ((r["ns"], r["key"], r["seqno"], r["value"], r["segment"]) for r in rows),
        key=lambda r: r[2],
    )


def _commit(table, version):
    with open(f"{table}/_delta_log/{version:020d}.json") as f:
        return [json.loads(line) for line in f if line.strip()]


def _claims(store):
    return [
        n
        for t in (store.log_dir, store.snap_dir)
        if os.path.isdir(f"{t}/_delta_log")
        for n in os.listdir(f"{t}/_delta_log")
        if n.endswith(".claim")
    ]


@pytest.mark.parametrize("case", sorted(CASES))
def test_rows_path_numbers_like_append(spark, tmp_path, case):
    rows, segment_size = CASES[case]
    by_rows = MarasaLog(spark, str(tmp_path / "rows"), segment_size=segment_size)
    by_frame = MarasaLog(spark, str(tmp_path / "frame"), segment_size=segment_size)
    # two batches each: the first is the store's version 0 (so the rows
    # path writes metaData), the second numbers from a non-zero base
    for batch in (rows, rows[2:] + rows[:2]):
        hw = by_rows._append(list(batch))
        assert hw == by_frame.append(spark.createDataFrame(batch, SCHEMA))
    assert hw == 2 * len(rows)
    assert _landed(by_rows) == _landed(by_frame)
    assert [a for a in _commit(by_rows.log_dir, 0) if "metaData" in a]
    if segment_size < len(rows):
        assert len({seg for *_, seg in _landed(by_rows)}) > 1


def test_put_commits_one_file(spark, tmp_path):
    store = MarasaLog(spark, str(tmp_path / "put"))
    store.put("ns", a="1")
    assert store.put("ns", **{f"k{i}": f"v{i}" for i in range(8)}) == 9
    adds = [a for a in _commit(store.log_dir, 1) if "add" in a]
    assert len(adds) == 1
    assert store.delete("ns", ["k0", "k1", "k2"]) == 12
    assert len([a for a in _commit(store.log_dir, 2) if "add" in a]) == 1


def test_put_delete_type_contract(spark, tmp_path):
    """Only ``str`` keys and values (or a None tombstone) are stored; any
    other type raises before a claim exists — Spark would have stored
    ``5`` as ``"5"``, and Arrow takes ``bytes`` for a string."""
    store = MarasaLog(spark, str(tmp_path / "types"))
    store.put("ns", a="1")
    for bad in (
        lambda: store.put("ns", k=5),
        lambda: store.delete("ns", [1]),
        lambda: store.put("ns", k=b"5"),
    ):
        with pytest.raises(TypeError):
            bad()
        assert _claims(store) == []
        assert store._journal(store.log_dir).version == 0
    assert store.put("ns", b="2") == 2


def test_failed_writer_releases_its_claim(spark, tmp_path):
    """A write job that raises after the claim releases it, so the next
    write in the same process succeeds without ``recover_claims``."""
    store = MarasaLog(spark, str(tmp_path / "fail"))
    assert store.put("ns", a="1", b="2") == 2
    boom = spark.createDataFrame([("ns", "a")], "ns string, key string").withColumn(
        "value", F.raise_error(F.lit("boom")).cast("string")
    )
    with pytest.raises(Exception, match="boom"):
        store.append(boom)
    assert _claims(store) == []
    assert store.max_seqno() == 2

    def failed_snapshot(state, version):
        raise RuntimeError("snapshot job died")

    store._write_snapshot = failed_snapshot
    with pytest.raises(RuntimeError, match="snapshot job died"):
        store.compact()
    del store._write_snapshot
    assert _claims(store) == []

    assert store.put("ns", a="3") == 3
    assert store.compact() == 3
    assert store.recover_claims() == 0
    assert {(r["key"], r["value"]) for r in store.latest("ns").collect()} == {
        ("a", "3"),
        ("b", "2"),
    }
    assert [r["value"] for r in store.history("ns", "a").collect()] == ["1", "3"]
