"""Group I + a5 — the streaming surface (SURVEY.md §2.I).

Strategy (SURVEY §2.I): every streaming operator is built on a construct
that runs identically in batch (`window`, `session_window`, `dropDuplicates`,
stream-static join, cumulative state), so the oracle-checkable entry here is
the batch run, and actual ``readStream`` execution of the SAME constructs is
asserted in tests/test_streaming.py (micro-batched file source, availableNow
trigger, memory sink — batch↔stream equivalence).

Scale posture: tumbling/sliding windows are plain hash aggregates on
(window, key); session windows shuffle once on the user key; watermarks
bound state at real scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from marasa_spark.catalog import load_table
from marasa_spark.queries._util import fresh_scratch, r2, r2sql
from marasa_spark.registry import register

# ---------------------------------------------------------------------------
# a5 — streaming ingestion, actually executed (availableNow → memory sink)
# ---------------------------------------------------------------------------

# physical schemas of events.parquet — the ts column has shipped as both
# INT64 TIMESTAMP(NANOS) (raw ns long under nanosAsLong) and
# TIMESTAMP(MICROS, ntz); the streaming reader sniffs which via a batch read
# (readStream needs an explicit schema, so it can't self-discover).
_EVENTS_NANOS_SCHEMA = (
    "event_id long, ts long, user_id long, event_type string, value double, props string"
)
_EVENTS_MICROS_SCHEMA = (
    "event_id long, ts timestamp_ntz, user_id long, event_type string,"
    " value double, props string"
)


A5_ORACLE = f"""
SELECT event_type, count(*) AS n, {r2sql("sum(value)")} AS sum_value
FROM events
GROUP BY event_type
"""


@register("a5_stream_source", oracle=A5_ORACLE, group="A")
def a5_stream_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real Structured Streaming run: file source → availableNow trigger →
    memory sink; the hash oracle checks the STREAMED aggregate against the
    batch SQL over the same events (stream≡batch, oracle-enforced).

    The file source requires a *directory*, so the single events.parquet is
    staged into a scratch dir first.
    """
    import shutil

    from marasa_spark.session import ensure_session_configs
    from marasa_spark.streaming.runtime import run_to_memory

    ensure_session_configs(spark)
    stage = fresh_scratch("a5_stream", sf_dir, create=True)
    shutil.copy(f"{sf_dir}/events.parquet", f"{stage}/events.parquet")
    phys_ts = dict(spark.read.parquet(stage).dtypes).get("ts")
    if phys_ts == "bigint":
        stream = (
            spark.readStream.schema(_EVENTS_NANOS_SCHEMA)
            .parquet(stage)
            .withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        )
    else:
        stream = (
            spark.readStream.schema(_EVENTS_MICROS_SCHEMA)
            .parquet(stage)
            .withColumn("ts", F.col("ts").cast("timestamp"))
        )
    agg = stream.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"), r2(F.sum("value")).alias("sum_value")
    )
    return run_to_memory(agg, "complete")


# ---------------------------------------------------------------------------
# i1/i2/i3 — tumbling, sliding, session windows (batch-identical constructs)
# ---------------------------------------------------------------------------

I1_ORACLE = f"""
SELECT time_bucket(INTERVAL '1 hour', ts) AS win_start,
       event_type,
       count(*)                AS n,
       {r2sql("sum(value)")}   AS sum_value
FROM events
GROUP BY win_start, event_type
"""


@register("i1_win_tumbling", oracle=I1_ORACLE, group="I")
def i1_win_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed 1-hour windows (epoch-aligned on both engines)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), r2(F.sum("value")).alias("sum_value"))
        .select(
            F.col("win.start").alias("win_start"), "event_type", "n", "sum_value"
        )
    )


I2_ORACLE = f"""
SELECT time_bucket(INTERVAL '15 minutes', ts) - k * INTERVAL '15 minutes' AS win_start,
       event_type,
       count(*)                AS n,
       {r2sql("sum(value)")}   AS sum_value
FROM events CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS k) offsets
GROUP BY win_start, event_type
"""


@register("i2_win_sliding", oracle=I2_ORACLE, group="I")
def i2_win_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour windows sliding every 15 min — each event lands in 4 windows
    (the oracle enumerates the 4 slide offsets explicitly)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "15 minutes").alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), r2(F.sum("value")).alias("sum_value"))
        .select(
            F.col("win.start").alias("win_start"), "event_type", "n", "sum_value"
        )
    )


I3_ORACLE = """
WITH flagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), numbered AS (
  SELECT user_id, ts,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS session_id
  FROM flagged
)
SELECT user_id, min(ts) AS session_start, count(*) AS n
FROM numbered
GROUP BY user_id, session_id
"""


@register("i3_win_session", oracle=I3_ORACLE, group="I")
def i3_win_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based session windows (30-min gap) per user — `session_window`
    works identically in batch; oracle is the gaps-and-islands fold."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("win"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("user_id"), F.col("win.start").alias("session_start"), "n")
    )


# ---------------------------------------------------------------------------
# i4 — watermark (no-op in batch; behavioral check in tests)
# ---------------------------------------------------------------------------


I4_ORACLE = """
SELECT time_bucket(INTERVAL '1 hour', ts) AS win_start, event_type, count(*) AS n
FROM events
GROUP BY win_start, event_type
"""


@register("i4_watermark", oracle=I4_ORACLE, group="I")
def i4_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-data bound: same tumbling agg with a 10-min watermark attached.
    In batch the watermark is a correctness no-op (the oracle pins that);
    the append-mode emission behavior it exists for is asserted in
    tests/test_streaming.py."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("win.start").alias("win_start"), "event_type", "n")
    )


# ---------------------------------------------------------------------------
# i5 — dedup; i6 — stateful running counters; i7 — stream-static join
# ---------------------------------------------------------------------------

I5_ORACLE = """
SELECT DISTINCT event_id, user_id, event_type, value
FROM (
  SELECT event_id, user_id, event_type, value FROM events
  UNION ALL
  SELECT event_id, user_id, event_type, value FROM events
)
"""


@register("i5_stream_dedup", oracle=I5_ORACLE, group="I")
def i5_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once-ish dedup: duplicated input, dropDuplicates on the full
    row (streaming twin: dropDuplicates state across micro-batches)."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    return ev.unionAll(ev).dropDuplicates()


_I6_CUM = (
    "count(*) OVER (PARTITION BY user_id ORDER BY event_id"
    " ROWS UNBOUNDED PRECEDING)"
)
_I6_SUM = (
    "sum(value) OVER (PARTITION BY user_id ORDER BY event_id"
    " ROWS UNBOUNDED PRECEDING)"
)
I6_ORACLE = f"""
SELECT event_id, user_id,
       {_I6_CUM}            AS n_so_far,
       {r2sql(_I6_SUM)}     AS sum_so_far
FROM events
"""


@register("i6_stateful", oracle=I6_ORACLE, group="I")
def i6_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key running state (event count + value sum in arrival order) —
    the batch equivalent of an applyInPandasWithState counter (streaming
    twin exercised in tests/test_streaming.py)."""
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("event_id").rowsBetween(W.unboundedPreceding, 0)
    return ev.select(
        "event_id",
        "user_id",
        F.count(F.lit(1)).over(w).alias("n_so_far"),
        r2(F.sum("value").over(w)).alias("sum_so_far"),
    )


I7_ORACLE = """
SELECT event_id, user_id, c_mktsegment, value
FROM events JOIN customer ON user_id = c_custkey
"""


@register("i7_stream_static_join", oracle=I7_ORACLE, group="I")
def i7_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-side enrichment against a broadcast dimension (identical
    construct joins a readStream df in the streaming tests)."""
    ev = load_table(spark, sf_dir, "events")
    c = load_table(spark, sf_dir, "customer")
    return ev.join(
        F.broadcast(c), ev.user_id == c.c_custkey
    ).select("event_id", "user_id", "c_mktsegment", "value")


I9_ORACLE = """
SELECT c.user_id AS user_id, c.event_id AS click_id, p.event_id AS purchase_id
FROM events c JOIN events p
  ON c.user_id = p.user_id
 AND c.event_type = 'click' AND p.event_type = 'purchase'
 AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
"""


@register("i9_stream_stream_join", oracle=I9_ORACLE, group="I")
def i9_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join: purchases within 1 hour after a click,
    per user — the construct Structured Streaming runs with watermarks on
    BOTH sides bounding the join state (the streaming twin with real
    watermarked readStreams is asserted in tests/test_streaming.py).
    In batch the same plan is an equi join on user_id with the time band
    as a residual predicate — one shuffle, no nested loop."""
    ev = load_table(spark, sf_dir, "events")
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("event_id").alias("click_id"),
        F.col("ts").alias("c_ts"),
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("p_ts"),
    )
    return c.join(
        p,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 1 HOUR")),
    ).select(F.col("c_user").alias("user_id"), "click_id", "purchase_id")


I8_ORACLE = """
SELECT event_type, count(*) AS n FROM events GROUP BY event_type
"""


@register("i8_output_modes", oracle=I8_ORACLE, group="I")
def i8_output_modes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Output-mode surface: the complete-mode aggregate (append/update/
    complete behavior of this same query is asserted in streaming tests)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))


# ---------------------------------------------------------------------------
# i10 — streaming ingestion into the log store (stream → foreachBatch →
# MarasaLog → latest state), hash-checked end to end
# ---------------------------------------------------------------------------

I10_ORACLE = """
SELECT event_type AS ns, CAST(user_id AS VARCHAR) AS key, props AS value
FROM (
  SELECT *, row_number() OVER (PARTITION BY event_type, user_id
                               ORDER BY ts DESC, props DESC) AS rn
  FROM events
)
WHERE rn = 1
"""


@register("i10_stream_to_log", oracle=I10_ORACLE, group="I")
def i10_stream_to_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC ingestion: events replayed as 4 time-ordered micro-
    batches, each appended to MarasaLog inside foreachBatch (the sink gets
    exactly-once per-batch appends); the final latest() state must equal
    the batch latest-state SQL — stream≡batch, enforced value-exactly.
    Time-sliced batches + the store's in-batch (ns,key,ts,value) seqno
    order make last-write-wins reproduce global event-time order."""
    from marasa_spark.log import MarasaLog
    from marasa_spark.queries.logstore import _events_as_log
    from marasa_spark.streaming.runtime import stage_event_chunks, read_event_stream

    stage = fresh_scratch("i10_stream", sf_dir, create=True)
    stage_event_chunks(spark, sf_dir, f"{stage}/chunks", n_chunks=4)
    store = MarasaLog(spark, f"{stage}/log")

    def sink_batch(batch: DataFrame, batch_id: int) -> None:
        store.append(_events_as_log(spark, sf_dir, events=batch))

    q = (
        read_event_stream(spark, f"{stage}/chunks")
        .writeStream.foreachBatch(sink_batch)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    q.stop()
    return store.latest().select("ns", "key", "value")


I11_ORACLE = """
WITH p AS (
    SELECT CAST(ceil(count(*) / CAST(4 AS DOUBLE)) AS BIGINT) AS per FROM events
)
SELECT CAST(event_id // per AS BIGINT) AS batch_id, count(*) AS n_rows
FROM events, p
GROUP BY 1
"""


@register("i11_stream_metrics", oracle=I11_ORACLE, group="I")
def i11_stream_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming observability: per-micro-batch numInputRows from the
    query's OWN progress metrics (StreamingQueryProgress), checked against
    the oracle's recomputation of the 4 staged chunk sizes. maxFilesPerTrigger=1
    makes batch i exactly chunk i, so the metrics surface — the thing a
    100 TB pipeline's lag/throughput alerting consumes — is itself
    hash-verified. The 4-row progress list is driver-side metadata, not
    data."""
    from marasa_spark.streaming.runtime import stage_event_chunks, read_event_stream

    stage = fresh_scratch("i11_metrics", sf_dir, create=True)
    stage_event_chunks(spark, sf_dir, f"{stage}/chunks", n_chunks=4)
    q = (
        read_event_stream(spark, f"{stage}/chunks")
        .writeStream.format("noop")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = [
        (int(p["batchId"]), int(p["numInputRows"]))
        for p in (q.recentProgress or [])
        if int(p["numInputRows"]) > 0
    ]
    q.stop()
    return spark.createDataFrame(rows, "batch_id bigint, n_rows bigint")


I12_ORACLE = """
SELECT CAST(i AS BIGINT) AS id,
       CAST(i * i AS BIGINT) AS square,
       CASE WHEN i % 2 = 0 THEN 'even' ELSE 'odd' END AS parity
FROM range(0, 200) t(i)
"""


@register("i12_python_stream_source", oracle=I12_ORACLE, group="I")
def i12_python_stream_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom STREAMING Python data source (Spark 4 SimpleDataSourceStream-
    Reader): offsets advance a cursor per micro-batch — the shape of
    polling an upstream queue/cursor from Python. The op drains the
    bounded stream (4+ real micro-batches; the API doesn't support
    availableNow, so the driver polls the sink until the cursor hits n)
    into a memory sink and hash-checks the union of all batches against
    the closed-form oracle — exactly-once across batch boundaries,
    value-exact."""
    import time as _time
    import uuid

    from marasa_spark.pysource import SeqDataSource
    from marasa_spark.session import ensure_session_configs

    ensure_session_configs(spark)
    try:
        spark.dataSource.register(SeqDataSource)
    except Exception:
        pass
    n = 200
    name = f"i12_seq_{uuid.uuid4().hex[:8]}"
    stream = (
        spark.readStream.format("marasa_seq")
        .option("n", str(n))
        .option("batch_size", "60")
        .load()
    )
    q = (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .trigger(processingTime="100 milliseconds")
        .start()
    )
    try:
        deadline = _time.time() + 120
        while _time.time() < deadline:
            if spark.table(name).count() >= n:
                break
            _time.sleep(0.3)
    finally:
        q.stop()
    got = spark.table(name).count()
    if got < n:
        raise RuntimeError(
            f"i12 stream drained only {got}/{n} rows before the 120 s "
            "deadline — refusing to return a partial table"
        )
    return spark.table(name)


# ---------------------------------------------------------------------------
# i13 — stream-stream LEFT OUTER interval join (null emission on watermark)
# ---------------------------------------------------------------------------

I13_ORACLE = """
SELECT c.user_id AS user_id, c.event_id AS click_id, p.event_id AS purchase_id
FROM (SELECT * FROM events WHERE event_type = 'click') c
LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
  ON c.user_id = p.user_id
 AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
"""


@register("i13_stream_stream_outer", oracle=I13_ORACLE, group="I")
def i13_stream_stream_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join: every click, matched to
    purchases within the following hour OR emitted with a NULL purchase —
    the abandoned-cart construct. In batch this is a plain left join with
    the band as a residual on the user_id equi key (one shuffle). As a
    real stream it is the semantically hard sibling of i9: the NULL rows
    can only be emitted once the WATERMARK has passed the click's join
    window (before that, a match could still arrive), so unmatched
    trailing clicks are withheld until the watermark advances — the
    subset/closable-region contract is pinned against batch in
    tests/test_streaming.py. State stays bounded exactly as in i9:
    watermarks on both sides let expired rows be evicted."""
    ev = load_table(spark, sf_dir, "events")
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id"), F.col("event_id").alias("click_id"),
        F.col("ts").alias("c_ts"),
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("p_ts"),
    )
    return c.join(
        p,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 1 HOUR")),
        "left",
    ).select("user_id", "click_id", "purchase_id")


# ---------------------------------------------------------------------------
# i14 — checkpoint-resumed incremental ingestion (exactly-once across runs)
# ---------------------------------------------------------------------------

I14_ORACLE = f"""
SELECT event_type, count(*) AS n, {r2sql("sum(value)")} AS sum_value
FROM events
GROUP BY event_type
"""


@register("i14_incremental_stream_checkpoint", oracle=I14_ORACLE, group="I")
def i14_incremental_stream_checkpoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The daily-ingest contract, oracle-ENFORCED: two separate availableNow
    runs over a growing file directory share one checkpoint, so the second
    run processes ONLY the files that arrived after the first — and each
    input row lands in the parquet sink exactly once. The oracle aggregates
    the sink against the batch SQL over all events: if the checkpoint
    failed (second run reprocessing the first run's files), the first
    half's counts double and the value-hash breaks; if resume skipped new
    files, counts fall short. This is a5's stream≡batch check upgraded to
    RESTART≡batch. At 100 TB this is the shape of every incremental
    pipeline here: file listing bounded by the checkpoint's processed-set,
    per-run cost proportional to the DELTA, not the directory. The
    per-run delta property itself (run2 touches only new files, an idle
    resume appends nothing) is pinned by
    tests/test_streaming.py::test_stream_checkpoint_resume_exactly_once."""
    import os
    import shutil

    from marasa_spark.session import ensure_session_configs
    from marasa_spark.streaming.runtime import (
        EVENTS_STAGED_SCHEMA,
        stage_event_chunks,
    )

    ensure_session_configs(spark)
    side = fresh_scratch("i14_side", sf_dir, create=True)
    stage_event_chunks(spark, sf_dir, side, n_chunks=4)
    stage = fresh_scratch("i14_stage", sf_dir, create=True)
    out = fresh_scratch("i14_out", sf_dir, create=True)
    data_dir, ckpt_dir = f"{out}/data", f"{out}/ckpt"

    def run_available_now() -> None:
        q = (
            spark.readStream.schema(EVENTS_STAGED_SCHEMA)
            .parquet(stage)
            .writeStream.format("parquet")
            .option("path", data_dir)
            .option("checkpointLocation", ckpt_dir)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        if q.isActive:  # pragma: no cover - deadline guard, mirrors i12
            q.stop()
            raise RuntimeError("i14 availableNow run exceeded its deadline")

    for batch_chunks in (("chunk_00", "chunk_01"), ("chunk_02", "chunk_03")):
        for name in sorted(os.listdir(side)):
            if name.startswith(batch_chunks):
                shutil.copy(f"{side}/{name}", f"{stage}/{name}")
        run_available_now()

    return (
        spark.read.schema(EVENTS_STAGED_SCHEMA)
        .parquet(data_dir)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), r2(F.sum("value")).alias("sum_value"))
    )


# ---------------------------------------------------------------------------
# i16 — exactly-once sink under replay: the whole stream re-delivered,
# append_once dedups every batch, change counts stay exact
# ---------------------------------------------------------------------------

I16_ORACLE = """
SELECT event_type AS ns, count(*) AS n_changes
FROM events
GROUP BY event_type
"""


@register("i16_stream_exactly_once_replay", oracle=I16_ORACLE, group="I")
def i16_stream_exactly_once_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The exactly-once sink contract under the failure that actually
    happens: a restarted stream with a lost checkpoint re-delivers EVERY
    micro-batch. The sink is ``append_once(batch, batch_id)`` — the log
    store's idempotent producer tags (z8) keyed by the deterministic
    micro-batch id — so the first pass lands 4 batches and the full
    replay lands zero. The registered result is the per-namespace CHANGE
    count (not the folded state, which would mask duplicates): it equals
    the batch GROUP BY iff no replayed row landed twice. This is the
    foreachBatch idempotent-sink pattern from the Structured Streaming
    guide, with the dedup ledger inside the store's own txn journal
    instead of an external table; batch-id determinism comes from
    maxFilesPerTrigger=1 over lexicographically-listed chunks (the same
    property i11's metrics row relies on)."""
    from marasa_spark.log import MarasaLog
    from marasa_spark.queries.logstore import _events_as_log
    from marasa_spark.streaming.runtime import stage_event_chunks, read_event_stream

    stage = fresh_scratch("i16_replay", sf_dir, create=True)
    stage_event_chunks(spark, sf_dir, f"{stage}/chunks", n_chunks=4)
    store = MarasaLog(spark, f"{stage}/log")

    def sink_batch(batch: DataFrame, batch_id: int) -> None:
        store.append_once(_events_as_log(spark, sf_dir, events=batch), f"b{batch_id}")

    for _attempt in range(2):  # first delivery, then the full replay
        q = (
            read_event_stream(spark, f"{stage}/chunks")
            .writeStream.foreachBatch(sink_batch)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        q.stop()
    return (
        store.changes(0)
        .groupBy("ns")
        .agg(F.count(F.lit(1)).alias("n_changes"))
    )


# ---------------------------------------------------------------------------
# i17 — streaming MERGE upsert: foreachBatch read-modify-write keeps only
# per-key argmax state; appends carry deltas, never the corpus
# ---------------------------------------------------------------------------

I17_ORACLE = """
WITH m AS (
  SELECT user_id, max(ts) AS mts FROM events GROUP BY user_id
)
SELECT e.user_id AS user_id,
       CAST(max(CASE WHEN e.ts = m.mts THEN e.event_id END) AS BIGINT) AS last_event_id
FROM events e JOIN m USING (user_id)
GROUP BY e.user_id
"""


@register("i17_stream_merge_upsert", oracle=I17_ORACLE, group="I")
def i17_stream_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming MERGE upsert — the foreachBatch read-modify-write recipe
    every table format documents for streams (Delta's `MERGE INTO` from
    foreachBatch, here against the engine's own log store): each
    micro-batch is pre-reduced to its per-user argmax(ts, event_id) row
    (the m38 discipline: hot keys collapse map-side BEFORE any state
    meets them), joined against the CURRENT folded state, and only rows
    that BEAT the stored (ts, event_id) are appended — so the log grows
    by the churn, not by the stream, and the fold's latest-by-seqno
    equals the global argmax because appends per key are strictly
    increasing in (ts, event_id). The oracle is the batch argmax over
    the whole feed (d13's tie-proof CASE form), which holds REGARDLESS
    of how users' events interleave across micro-batches — the property
    that makes the merge correct, not just this schedule of it."""
    from marasa_spark.log import MarasaLog
    from marasa_spark.streaming.runtime import read_event_stream, stage_event_chunks

    stage = fresh_scratch("i17_merge", sf_dir, create=True)
    stage_event_chunks(spark, sf_dir, f"{stage}/chunks", n_chunks=4)
    store = MarasaLog(spark, f"{stage}/log")

    def merge_batch(batch: DataFrame, batch_id: int) -> None:
        pair = F.struct(F.col("ts"), F.col("event_id"))
        delta = (
            batch.groupBy("user_id")
            .agg(F.max(pair).alias("top"))
            .select(
                F.lit("ev").alias("ns"),
                F.col("user_id").cast("string").alias("key"),
                F.col("top.ts").alias("ts"),
                F.col("top.event_id").cast("string").alias("value"),
            )
        )
        cur = store.latest(ns="ev").select(
            F.col("key").alias("c_key"),
            F.col("ts").alias("c_ts"),
            F.col("value").cast("long").alias("c_eid"),
        )
        winners = (
            delta.join(cur, delta.key == cur.c_key, "left")
            .filter(
                F.col("c_key").isNull()
                | (
                    F.struct(F.col("ts"), F.col("value").cast("long"))
                    > F.struct(F.col("c_ts"), F.col("c_eid"))
                )
            )
            .select("ns", "key", "ts", "value")
        )
        store.append(winners)

    q = (
        read_event_stream(spark, f"{stage}/chunks")
        .writeStream.foreachBatch(merge_batch)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    q.stop()
    return store.latest(ns="ev").select(
        F.col("key").cast("long").alias("user_id"),
        F.col("value").cast("long").alias("last_event_id"),
    )


# ---------------------------------------------------------------------------
# i18 — transformWithStateInPandas-shaped stateful processing (Spark 4's
# multi-state-variable API; SURVEY §2.I names it as i6's alternative API)
# ---------------------------------------------------------------------------

I18_ORACLE = f"""
SELECT event_id, user_id,
       count(*) OVER w AS n_so_far,
       CAST(count(DISTINCT event_type) OVER w AS BIGINT) AS n_types_so_far,
       {r2sql("max(value) OVER w")} AS max_so_far
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY event_id ROWS UNBOUNDED PRECEDING)
"""


@register("i18_stateful_transform", oracle=I18_ORACLE, group="I")
def i18_stateful_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The batch equivalent of a Spark-4 ``transformWithStateInPandas``
    processor holding MULTIPLE independent state variables per key — the
    feature that distinguishes the new API from ``applyInPandasWithState``'s
    single state tuple (i6): a ValueState event counter, a set-valued state
    of event types seen, and a ValueState running maximum, all updated in
    arrival order. Batch-side each state variable is one cumulative window
    aggregate over the same (user_id, event_id) frame — one shuffle total,
    shared by all three, never one per state variable. The streaming twins
    live in tests/test_streaming.py: a runnable applyInPandasWithState
    emulation (states packed into one tuple) asserting stream↔batch
    equality, and the literal ``transformWithStateInPandas`` processor
    (ValueState + ListState handles), gated on google.protobuf — the
    state-server protocol needs it and this container cannot pip-install
    (environment constraint; the processor runs wherever protobuf exists).
    At 100 TB the streaming form's state is per-key-bounded (a counter, a
    small set, a scalar) and RocksDB-backed; the batch form is a single
    key-shuffle window."""
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.count(F.lit(1)).over(w).alias("n_so_far"),
        F.size(F.collect_set("event_type").over(w)).cast("long").alias("n_types_so_far"),
        r2(F.max("value").over(w)).alias("max_so_far"),
    )


# ---------------------------------------------------------------------------
# i19 — executor-parallel Python streaming source (VERDICT r7 #5)
# ---------------------------------------------------------------------------

I19_ORACLE = """
SELECT CAST(i AS BIGINT) AS id,
       CAST(i * i AS BIGINT) AS square,
       CASE WHEN i % 2 = 0 THEN 'even' ELSE 'odd' END AS parity
FROM range(0, 240) t(i)
"""


@register("i19_parallel_stream_source", oracle=I19_ORACLE, group="I")
def i19_parallel_stream_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioned Python streaming source (Spark 4 DataSourceStreamReader
    — the executor-parallel upgrade of i12's Simple reader, retiring
    SCALE.md break-first #5): the driver only tracks the offset cursor
    and PLANS each micro-batch as `partitions` InputPartition slices;
    `read(partition)` executes inside executor Python workers, each
    materializing just its slice — rows never exist in the driver
    process. The source emits its partition index and worker pid so the
    behavioral test (tests/test_streaming.py) can prove >1 partition per
    micro-batch and zero driver-side materialization from the sink alone;
    this op drains the bounded stream and hash-checks the (id, square,
    parity) payload against the closed-form oracle — exactly-once across
    batch AND partition boundaries, including a checkpoint RESTART
    (tests/test_streaming.py stop/start case: the pacing cursor is a
    durable file bumped at plan time, because an in-memory cursor
    restarting behind the committed offset would make Spark re-plan — and
    a file sink re-append — the in-between ranges). At 100 TB this is the
    shape a Kafka-like sharded source needs: per-batch fan-out scales
    with executors, driver state stays one integer offset."""
    import time as _time
    import uuid

    from marasa_spark.pysource import SeqParallelDataSource
    from marasa_spark.queries._util import fresh_scratch
    from marasa_spark.session import ensure_session_configs

    ensure_session_configs(spark)
    try:
        spark.dataSource.register(SeqParallelDataSource)
    except Exception:
        pass
    n = 240
    name = f"i19_seq_{uuid.uuid4().hex[:8]}"
    # cursor_dir turns on PACED micro-batches (4 real batches here); the
    # durable cursor is what keeps offsets monotone across restarts —
    # see SeqParallelStreamReader.latestOffset
    stream = (
        spark.readStream.format("marasa_seq_par")
        .option("n", str(n))
        .option("batch_size", "70")
        .option("partitions", "4")
        .option("cursor_dir", f"{fresh_scratch('i19_cursor', sf_dir, create=True)}")
        .load()
    )
    q = (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .trigger(processingTime="100 milliseconds")
        .start()
    )
    try:
        deadline = _time.time() + 120
        while _time.time() < deadline:
            if spark.table(name).count() >= n:
                break
            _time.sleep(0.3)
    finally:
        q.stop()
    got = spark.table(name).count()
    if got < n:
        raise RuntimeError(
            f"i19 stream drained only {got}/{n} rows before the 120 s "
            "deadline — refusing to return a partial table"
        )
    return spark.table(name).select("id", "square", "parity")
