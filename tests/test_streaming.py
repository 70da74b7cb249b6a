"""Streaming↔batch equivalence tests (SURVEY.md §5.5).

The I-group oracle entries run their constructs in batch; these tests run
the same constructs as real micro-batched streams (4 time-ordered file
chunks, availableNow) and assert the results coincide — the assumption
behind the I-group oracles.
"""

from __future__ import annotations

import pytest

# round 12: heavy property/soak tier — deselected from the default
# driver-stampable run (see conftest); MARASA_FULL_SUITE=1 restores it
pytestmark = pytest.mark.slow
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupStateTimeout

from marasa_spark.catalog import load_table
from marasa_spark.queries import _util
from marasa_spark.streaming.runtime import (
    read_event_stream,
    run_to_memory,
    stage_event_chunks,
)

SCRATCH = f"{_util.SCRATCH}/streaming_tests"


def _r2(x: float) -> float:
    """Python twin of queries/_util.py r2 (IEEE half-up floor rounding) —
    the batch side rounds with r2, so the streaming side must round with
    the SAME formula; Python's round() is banker's and flaps on .xx5 ties."""
    import math

    return math.floor(x * 100 + 0.5) / 100


@pytest.fixture(scope="module")
def chunk_dir(spark, sf_dir):
    d = f"{SCRATCH}/chunks"
    stage_event_chunks(spark, sf_dir, d, n_chunks=4)
    return d


@pytest.fixture(scope="module")
def dup_chunk_dir(spark, sf_dir):
    d = f"{SCRATCH}/chunks_dup"
    stage_event_chunks(spark, sf_dir, d, n_chunks=4, repeat=2)
    return d


def test_stream_tumbling_equals_batch(spark, sf_dir, chunk_dir):
    """i1: complete-mode windowed agg over micro-batches == batch agg."""
    stream = read_event_stream(spark, chunk_dir)
    agg = lambda df: (
        df.groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("win.start").alias("win_start"), "event_type", "n")
    )
    got = sorted(map(tuple, run_to_memory(agg(stream), "complete").collect()))
    want = sorted(map(tuple, agg(load_table(spark, sf_dir, "events")).collect()))
    assert got == want


def test_stream_dedup_across_batches(spark, sf_dir, dup_chunk_dir):
    """i5: dropDuplicates state dedups row replays across micro-batches."""
    stream = read_event_stream(spark, dup_chunk_dir).select("event_id", "user_id")
    out = run_to_memory(stream.dropDuplicates(["event_id"]), "append")
    n_events = load_table(spark, sf_dir, "events").count()
    assert out.count() == n_events
    assert out.select("event_id").distinct().count() == n_events


def test_stream_stateful_counter(spark, sf_dir, chunk_dir):
    """i6: applyInPandasWithState running counter — final per-user count
    equals the batch groupBy count."""
    import pandas as pd

    def fn(key, pdfs, state):
        (uid,) = key
        n = state.get[0] if state.exists else 0
        for pdf in pdfs:
            n += len(pdf)
        state.update((n,))
        yield pd.DataFrame({"user_id": [uid], "n": [n]})

    stream = read_event_stream(spark, chunk_dir)
    out = (
        stream.groupBy("user_id")
        .applyInPandasWithState(
            fn, "user_id long, n long", "n long", "update", GroupStateTimeout.NoTimeout
        )
    )
    sink = run_to_memory(out, "update")
    # update mode emits one row per (user, batch); the final state is the max
    got = {
        r["user_id"]: r["mx"]
        for r in sink.groupBy("user_id").agg(F.max("n").alias("mx")).collect()
    }
    want = {
        r["user_id"]: r["n"]
        for r in load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == want


def test_stream_transform_with_state(spark, sf_dir, chunk_dir):
    """i6 via the Spark-4-native transformWithStateInPandas API.

    Requires google.protobuf for the state-server protocol — not installed
    in this container (environment constraint, no pip) → skipped here;
    runs wherever protobuf exists. applyInPandasWithState above is the
    working stateful path either way.
    """
    try:
        from google.protobuf import descriptor  # noqa: F401
    except ImportError:
        pytest.skip("google.protobuf not available; transformWithState needs it")
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )

    class Counter(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle):
            self.n = handle.getValueState("n", "n long")

        def handleInputRows(self, key, rows, timerValues):
            n = self.n.get()[0] if self.n.exists() else 0
            for pdf in rows:
                n += len(pdf)
            self.n.update((n,))
            yield pd.DataFrame({"user_id": [key[0]], "n": [n]})

        def close(self):
            pass

    stream = read_event_stream(spark, chunk_dir)
    out = stream.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=Counter(),
        outputStructType="user_id long, n long",
        outputMode="Update",
        timeMode="None",
    )
    sink = run_to_memory(out, "update")
    got = {
        r["user_id"]: r["mx"]
        for r in sink.groupBy("user_id").agg(F.max("n").alias("mx")).collect()
    }
    want = {
        r["user_id"]: r["n"]
        for r in load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == want


def test_stream_watermark_append_mode(spark, sf_dir, chunk_dir):
    """i4/i8: append mode with a watermark emits only finalized windows, and
    every emitted window matches the batch result exactly."""
    stream = read_event_stream(spark, chunk_dir)
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("win.start").alias("win_start"), "event_type", "n")
    )
    got = {(r["win_start"], r["event_type"]): r["n"] for r in run_to_memory(agg, "append").collect()}
    ev = load_table(spark, sf_dir, "events")
    want = {
        (r["win_start"], r["event_type"]): r["n"]
        for r in ev.groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("win.start").alias("win_start"), "event_type", "n")
        .collect()
    }
    assert got, "append mode emitted nothing — watermark never advanced"
    assert set(got) <= set(want)
    assert all(want[k] == v for k, v in got.items())


def test_stream_static_join(spark, sf_dir, chunk_dir):
    """i7: stream⋈static enrichment equals the batch join."""
    c = load_table(spark, sf_dir, "customer")
    stream = read_event_stream(spark, chunk_dir)
    joined = stream.join(F.broadcast(c), stream.user_id == c.c_custkey).select(
        "event_id", "c_mktsegment"
    )
    out = run_to_memory(joined, "append")
    ev = load_table(spark, sf_dir, "events")
    want = ev.join(F.broadcast(c), ev.user_id == c.c_custkey).count()
    assert out.count() == want


def test_stream_stream_interval_join(spark, sf_dir, chunk_dir):
    """i9: watermarked stream⋈stream interval join (purchases within 1h
    after a click) equals the batch interval join over the same events —
    the watermarks bound both sides' join state, which is what makes the
    construct runnable unbounded."""
    def sides(df):
        c = df.filter(F.col("event_type") == "click").select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("c_ts"),
        )
        p = df.filter(F.col("event_type") == "purchase").select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("p_ts"),
        )
        return c, p

    cond = lambda: (
        (F.col("c_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 1 HOUR"))
    )
    sc, sp = sides(read_event_stream(spark, chunk_dir))
    joined = sc.withWatermark("c_ts", "2 hours").join(
        sp.withWatermark("p_ts", "2 hours"), cond()
    ).select("click_id", "purchase_id")
    got = sorted(map(tuple, run_to_memory(joined, "append").collect()))

    bc, bp = sides(load_table(spark, sf_dir, "events"))
    want = sorted(
        map(tuple, bc.join(bp, cond()).select("click_id", "purchase_id").collect())
    )
    assert got == want


def test_stream_output_modes(spark, sf_dir, chunk_dir):
    """i8: complete vs update modes of the same aggregate; complete's final
    answer equals batch."""
    stream = read_event_stream(spark, chunk_dir)
    agg = stream.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    complete = run_to_memory(agg, "complete")
    got = {r["event_type"]: r["n"] for r in complete.collect()}
    want = {
        r["event_type"]: r["n"]
        for r in load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == want
    # update mode re-emits changed keys per batch: cumulative max == final
    update = run_to_memory(
        read_event_stream(spark, chunk_dir).groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n")
        ),
        "update",
    )
    got_update = {
        r["event_type"]: r["mx"]
        for r in update.groupBy("event_type").agg(F.max("n").alias("mx")).collect()
    }
    assert got_update == want


def test_stream_checkpoint_resume_exactly_once(spark, sf_dir, chunk_dir):
    """Checkpointed restart is exactly-once at file-source granularity: a
    query that stops and resumes from the same checkpointLocation processes
    only files it hasn't committed, and a resume with nothing new appends
    nothing — the operational property that makes an incremental ingest
    pipeline restartable without dedup logic."""
    import glob as g
    import os
    import shutil

    base = f"{SCRATCH}/ckpt_resume"
    shutil.rmtree(base, ignore_errors=True)
    live, out, ck = f"{base}/live", f"{base}/out", f"{base}/ck"
    os.makedirs(live)
    staged = sorted(g.glob(f"{chunk_dir}/chunk_*.parquet"))
    assert len(staged) == 4

    def run_once() -> None:
        stream = read_event_stream(spark, live).select("event_id", "event_type")
        q = (
            stream.writeStream.outputMode("append")
            .format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        q.stop()

    for f in staged[:2]:
        shutil.copy(f, f"{live}/{os.path.basename(f)}")
    run_once()
    n_after_first = spark.read.parquet(out).count()
    assert n_after_first > 0

    for f in staged[2:]:
        shutil.copy(f, f"{live}/{os.path.basename(f)}")
    run_once()  # resume: must process ONLY the two new files
    got = spark.read.parquet(out)
    ev = load_table(spark, sf_dir, "events")
    assert got.count() == ev.count(), "resume lost or re-processed rows"
    assert got.select(F.countDistinct("event_id")).first()[0] == ev.count()

    run_once()  # nothing new: must append nothing
    assert spark.read.parquet(out).count() == ev.count()


def test_stream_session_window_equals_batch(spark, sf_dir, chunk_dir):
    """i3: session_window agg over micro-batches (complete mode, merging
    session state across batches) == the same construct in batch — the
    equivalence the i3 oracle rests on, exercised for SESSIONS (gap
    merging is the hardest streaming state: sessions can fuse when a
    later batch fills the gap between two earlier ones)."""
    agg = lambda df: (
        df.groupBy(F.session_window("ts", "30 minutes").alias("win"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .select("user_id", F.col("win.start").alias("session_start"), "n")
    )
    stream = read_event_stream(spark, chunk_dir)
    got = sorted(map(tuple, run_to_memory(agg(stream), "complete").collect()))
    want = sorted(map(tuple, agg(load_table(spark, sf_dir, "events")).collect()))
    assert got == want


def test_stream_stream_outer_join_null_emission(spark, sf_dir, chunk_dir):
    """i13: the streaming LEFT OUTER interval join must (a) never invent
    rows — its output is a subset of the batch left join — and (b) have
    EMITTED every row whose click window closed well before the stream's
    end (c_ts + 1h window + 2h watermark delay behind max event time):
    inside that closable region, null-matched clicks are not withheld."""
    def sides(df):
        c = df.filter(F.col("event_type") == "click").select(
            F.col("user_id"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("c_ts"),
        )
        p = df.filter(F.col("event_type") == "purchase").select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("p_ts"),
        )
        return c, p

    def cond():
        return (
            (F.col("user_id") == F.col("p_user"))
            & (F.col("p_ts") >= F.col("c_ts"))
            & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 1 HOUR"))
        )

    sc, sp = sides(read_event_stream(spark, chunk_dir))
    joined = (
        sc.withWatermark("c_ts", "2 hours")
        .join(sp.withWatermark("p_ts", "2 hours"), cond(), "leftOuter")
        .select("click_id", "purchase_id", "c_ts")
    )
    got_rows = run_to_memory(joined, "append").collect()
    got = {(r["click_id"], r["purchase_id"]) for r in got_rows}

    ev = load_table(spark, sf_dir, "events")
    bc, bp = sides(ev)
    want_rows = bc.join(bp, cond(), "left").select(
        "click_id", "purchase_id", "c_ts"
    ).collect()
    want = {(r["click_id"], r["purchase_id"]) for r in want_rows}

    assert got <= want, f"streaming invented rows: {sorted(got - want)[:5]}"
    # the engine's watermark is the MIN over both inputs' (max event time
    # - delay): a click's null can only emit once min(max_c, max_p) - 2h
    # has passed its 1h join window
    max_c = ev.filter(F.col("event_type") == "click").agg(F.max("ts")).first()[0]
    max_p = ev.filter(F.col("event_type") == "purchase").agg(F.max("ts")).first()[0]
    import datetime

    closable = min(max_c, max_p) - datetime.timedelta(hours=3, minutes=5)
    want_closed = {
        (r["click_id"], r["purchase_id"])
        for r in want_rows
        if r["c_ts"] <= closable
    }
    assert want_closed, "closable region unexpectedly empty"
    missing = want_closed - got
    assert not missing, f"withheld closed-window rows: {sorted(missing)[:5]}"


def test_stream_multi_state_counter(spark, sf_dir, chunk_dir):
    """i18's runnable streaming twin: three per-key state variables
    (count, set of event types, running max) carried across micro-batches.
    applyInPandasWithState packs them into one state tuple (the old API's
    single-state constraint — exactly what transformWithStateInPandas
    lifts); the FINAL state per user must equal the last row of i18's
    batch cumulative windows."""
    import json

    import pandas as pd

    def fn(key, pdfs, state):
        (uid,) = key
        if state.exists:
            n, types_json, mx = state.get
            types = set(json.loads(types_json))
        else:
            n, types, mx = 0, set(), float("-inf")
        for pdf in pdfs:
            n += len(pdf)
            types |= set(pdf["event_type"])
            mx = max(mx, float(pdf["value"].max()))
        state.update((n, json.dumps(sorted(types)), mx))
        yield pd.DataFrame(
            {"user_id": [uid], "n": [n], "n_types": [len(types)], "mx": [mx]}
        )

    stream = read_event_stream(spark, chunk_dir)
    out = stream.groupBy("user_id").applyInPandasWithState(
        fn,
        "user_id long, n long, n_types long, mx double",
        "n long, types string, mx double",
        "update",
        GroupStateTimeout.NoTimeout,
    )
    sink = run_to_memory(out, "update")
    # update mode emits one row per (user, batch); final state = row at max n
    from pyspark.sql import Window as W

    w = W.partitionBy("user_id").orderBy(F.desc("n"))
    got = {
        (r["user_id"]): (r["n"], r["n_types"], _r2(r["mx"]))
        for r in sink.withColumn("rk", F.row_number().over(w))
        .filter("rk = 1")
        .collect()
    }

    from marasa_spark.registry import queries_map

    batch = queries_map()["i18_stateful_transform"](spark, sf_dir)
    wlast = W.partitionBy("user_id").orderBy(F.desc("event_id"))
    want = {
        r["user_id"]: (r["n_so_far"], r["n_types_so_far"], r["max_so_far"])
        for r in batch.withColumn("rk", F.row_number().over(wlast))
        .filter("rk = 1")
        .collect()
    }
    assert got == want


def test_stream_transform_with_state_multi(spark, sf_dir, chunk_dir):
    """i18 via the literal Spark-4 transformWithStateInPandas API: one
    ValueState (count), one ListState (event types seen), one ValueState
    (max) — independent state handles per key, the API's headline feature.

    Requires google.protobuf for the state-server protocol — not
    installed in this container (no pip) → skipped here; runs wherever
    protobuf exists. test_stream_multi_state_counter above is the
    runnable equivalence proof for the same semantics either way.
    """
    try:
        from google.protobuf import descriptor  # noqa: F401
    except ImportError:
        pytest.skip("google.protobuf not available; transformWithState needs it")
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )

    class MultiState(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle):
            self.n = handle.getValueState("n", "n long")
            self.types = handle.getListState("types", "t string")
            self.mx = handle.getValueState("mx", "mx double")

        def handleInputRows(self, key, rows, timerValues):
            n = self.n.get()[0] if self.n.exists() else 0
            seen = {t[0] for t in self.types.get()} if self.types.exists() else set()
            mx = self.mx.get()[0] if self.mx.exists() else float("-inf")
            for pdf in rows:
                n += len(pdf)
                seen |= set(pdf["event_type"])
                mx = max(mx, float(pdf["value"].max()))
            self.n.update((n,))
            self.types.put([(t,) for t in sorted(seen)])
            self.mx.update((mx,))
            yield pd.DataFrame(
                {"user_id": [key[0]], "n": [n], "n_types": [len(seen)], "mx": [mx]}
            )

        def close(self):
            pass

    stream = read_event_stream(spark, chunk_dir)
    out = stream.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=MultiState(),
        outputStructType="user_id long, n long, n_types long, mx double",
        outputMode="Update",
        timeMode="None",
    )
    sink = run_to_memory(out, "update")
    from pyspark.sql import Window as W

    w = W.partitionBy("user_id").orderBy(F.desc("n"))
    got = {
        r["user_id"]: (r["n"], r["n_types"], _r2(r["mx"]))
        for r in sink.withColumn("rk", F.row_number().over(w)).filter("rk = 1").collect()
    }
    from marasa_spark.registry import queries_map

    batch = queries_map()["i18_stateful_transform"](spark, sf_dir)
    wlast = W.partitionBy("user_id").orderBy(F.desc("event_id"))
    want = {
        r["user_id"]: (r["n_so_far"], r["n_types_so_far"], r["max_so_far"])
        for r in batch.withColumn("rk", F.row_number().over(wlast)).filter("rk = 1").collect()
    }
    assert got == want


def test_parallel_stream_source_is_executor_side(spark):
    """VERDICT r7 #5: the partitioned DataSourceStreamReader must (a) fan
    every micro-batch out to MORE THAN ONE planned partition and (b) never
    materialize a row in the driver process. Both are proven from the sink
    alone: the source stamps each row with its InputPartition index and
    the os.getpid() of the process that ran read(), so the drained table
    carries the evidence. ids are assigned to micro-batches by
    construction (cursor advances batch_size per trigger), so
    id // batch_size recovers each row's batch window without needing
    foreachBatch bookkeeping."""
    import os
    import time
    import uuid
    from collections import defaultdict

    from marasa_spark.pysource import SeqParallelDataSource

    try:
        spark.dataSource.register(SeqParallelDataSource)
    except Exception:
        pass
    from marasa_spark.queries._util import fresh_scratch

    n, batch = 200, 60
    name = f"i19_behav_{uuid.uuid4().hex[:8]}"
    st = (
        spark.readStream.format("marasa_seq_par")
        .option("n", str(n))
        .option("batch_size", str(batch))
        .option("partitions", "4")
        .option(
            "cursor_dir",
            fresh_scratch("i19_behav_cursor", "/root/testdata/sf0.001", create=True),
        )
        .load()
    )
    q = (
        st.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .trigger(processingTime="100 milliseconds")
        .start()
    )
    try:
        deadline = time.time() + 120
        while time.time() < deadline:
            if spark.table(name).count() >= n:
                break
            time.sleep(0.3)
    finally:
        q.stop()
    rows = spark.table(name).collect()
    assert len(rows) == n  # exactly-once across batch + partition splits
    assert sorted(r.id for r in rows) == list(range(n))

    parts_per_batch = defaultdict(set)
    worker_pids = set()
    for r in rows:
        parts_per_batch[r.id // batch].add(r.part_id)
        worker_pids.add(r.worker_pid)
    # (a) every micro-batch was planned as >1 partition (the last window
    # holds 20 ids, still split across >1 slice with per=ceil(20/4)=5)
    for window, parts in parts_per_batch.items():
        assert len(parts) > 1, f"batch window {window} ran single-partition: {parts}"
    # (b) no row was produced by the driver's Python process
    assert os.getpid() not in worker_pids
    # and rows really came from executor-side Python workers (>1 distinct)
    assert len(worker_pids) > 1


def test_parallel_stream_source_restart_is_exactly_once(spark):
    """Checkpoint-restart semantics of the PACED partitioned source: stop
    the query mid-stream, build a FRESH reader instance, restart from the
    same checkpoint, drain, and require the file sink to hold EXACTLY ids
    0..n-1 — no duplicates, no gaps. The hazard this pins: Spark compares
    stream offsets only for equality, so a paced cursor that restarted
    behind the committed offset would construct a rewound batch and the
    in-between ranges would be APPENDED AGAIN (file sinks dedup replays of
    the same batch id, not re-planned ranges). The source's pacing cursor
    is therefore durable (cursor_dir file, bumped at batch plan time) —
    monotone across instances by construction — which is exactly what
    this stop/start exercises."""
    import time
    import uuid

    from marasa_spark.pysource import SeqParallelDataSource
    from marasa_spark.queries._util import fresh_scratch

    try:
        spark.dataSource.register(SeqParallelDataSource)
    except Exception:
        pass
    n, batch = 300, 30
    base = fresh_scratch("i19_restart", "/root/testdata/sf0.001", create=True)
    out, ckpt = f"{base}/out", f"{base}/ckpt"

    def start_query():
        return (
            spark.readStream.format("marasa_seq_par")
            .option("n", str(n))
            .option("batch_size", str(batch))
            .option("partitions", "4")
            .option("cursor_dir", f"{base}/cursor")
            .load()
            .select("id", "square", "parity")
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="100 milliseconds")
            .start()
        )

    q = start_query()
    try:
        deadline = time.time() + 60
        # wait until SOME batches committed but the stream is unfinished
        while time.time() < deadline:
            try:
                got = spark.read.parquet(out).count()
            except Exception:
                got = 0
            if got >= batch:
                break
            time.sleep(0.2)
    finally:
        q.stop()
    mid = spark.read.parquet(out).count()
    assert 0 < mid, "no batch committed before the stop"

    # fresh reader instance (new query -> new DataSource -> cursor at 0)
    q2 = start_query()
    try:
        deadline = time.time() + 120
        while time.time() < deadline:
            if spark.read.parquet(out).count() >= n:
                break
            time.sleep(0.3)
    finally:
        q2.stop()

    rows = spark.read.parquet(out).collect()
    ids = sorted(r.id for r in rows)
    assert len(ids) == n, f"expected {n} rows, got {len(ids)} (dups or loss)"
    assert ids == list(range(n))
    assert all(r.square == r.id * r.id for r in rows)
