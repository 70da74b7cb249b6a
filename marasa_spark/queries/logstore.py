"""Group J + a4 — the log-store operator surface (SURVEY.md §2.J).

This is the reference's own capability surface (pjz/marasa's put/get/
history/time-travel/compaction — reconstructed in SURVEY §0.4; the
reference directory is empty, so no file:line citations are possible).

Two layers exercised here:

* j2/j3/j4/j6 — the **query semantics** of a log (latest / as-of / history /
  namespaces) expressed directly over the ``events`` table, which is the
  driver's stand-in for a marasa log (FIXTURES.md: ns=event_type,
  key=user_id, seqno=event_id, value=props). Pure window/filter plans.
* j1/j5 + a4 — the **storage engine** (:class:`marasa_spark.log.MarasaLog`):
  real Parquet appends, snapshot compaction, and the snapshot∪tail read,
  run in a scratch directory. j5's oracle is the strongest check: the
  store is built from events, compacted, and its ``latest()`` must
  hash-match the plain-SQL fold over the original table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from marasa_spark.catalog import load_table
from marasa_spark.log import MarasaLog
from marasa_spark.queries._util import fresh_scratch
from marasa_spark.registry import register


def _events_as_log(
    spark: SparkSession, sf_dir: str, events: DataFrame | None = None
) -> DataFrame:
    """The canonical events→log-record mapping (ns=event_type, key=user_id,
    value=props). ``events`` lets callers pre-filter before the projection
    drops event_id."""
    ev = events if events is not None else load_table(spark, sf_dir, "events")
    return ev.select(
        F.col("event_type").alias("ns"),
        F.col("user_id").cast("string").alias("key"),
        F.col("ts"),
        F.col("props").alias("value"),
    )


# ---------------------------------------------------------------------------
# a4 / j1 — the append path (rows-only: writes real files)
# ---------------------------------------------------------------------------


# tiebreak mirrors MarasaLog.append's seqno order (ns, key, ts, value):
# on a (key, ts) tie the stored winner is the lexicographically greatest
# VALUE — event_id is never stored, so an event_id tiebreak here would
# diverge from the engine on any ts collision.
A4_ORACLE = """
SELECT event_type AS ns, CAST(user_id AS VARCHAR) AS key, props AS value
FROM (
  SELECT *, row_number() OVER (PARTITION BY event_type, user_id
                               ORDER BY ts DESC, props DESC) AS rn
  FROM events
  WHERE event_id < 500
)
WHERE rn = 1
"""


@register("a4_log_sink", oracle=A4_ORACLE, group="A")
def a4_log_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Append-only log sink: one batch of change records written via
    ``mode("append").partitionBy(ns, segment)`` and folded back — the hash
    check passes only if the physical write/read round-trip preserves the
    change stream (a deterministic event_id<500 slice, not limit())."""
    store = MarasaLog(spark, fresh_scratch("a4_log", sf_dir))
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 500)
    store.append(_events_as_log(spark, sf_dir, events=ev))
    return store.latest().select("ns", "key", "value")


# The oracle replays the store's deterministic seqno assignment in SQL:
# batch 1 (clicks) numbered in (key-as-string, ts, value) order, batch 2
# (purchases) numbered the same way offset by batch 1's size — checking
# contiguity AND cross-batch monotonicity value-exactly.
J1_ORACLE = """
WITH clicks AS (SELECT * FROM events WHERE event_type = 'click'),
     purch  AS (SELECT * FROM events WHERE event_type = 'purchase'),
c AS (
  SELECT 'click' AS ns, CAST(user_id AS VARCHAR) AS key, ts, props AS value,
         row_number() OVER (ORDER BY CAST(user_id AS VARCHAR), ts, props) AS seqno,
         1 AS batch
  FROM clicks
),
p AS (
  SELECT 'purchase' AS ns, CAST(user_id AS VARCHAR) AS key, ts, props AS value,
         (SELECT count(*) FROM clicks)
           + row_number() OVER (ORDER BY CAST(user_id AS VARCHAR), ts, props) AS seqno,
         2 AS batch
  FROM purch
)
SELECT ns, key, seqno, ts, value, batch FROM c
UNION ALL
SELECT ns, key, seqno, ts, value, batch FROM p
"""


@register("j1_log_append", oracle=J1_ORACLE, group="J")
def j1_log_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """marasa ``put``/``write``: two successive appends get contiguous,
    monotonically increasing seqnos (second batch strictly above first) —
    the oracle replays the assignment order in SQL, hash-checking the
    store's write path end to end."""
    store = MarasaLog(spark, fresh_scratch("j1_log", sf_dir))
    log_df = _events_as_log(spark, sf_dir)
    hi1 = store.append(log_df.filter(F.col("ns") == "click"))
    store.append(log_df.filter(F.col("ns") == "purchase"))
    return store._full_log().select(
        "ns",
        "key",
        "seqno",
        "ts",
        "value",
        F.when(F.col("seqno") <= hi1, 1).otherwise(2).alias("batch"),
    )


# ---------------------------------------------------------------------------
# j2/j3 — latest state & time travel (window fold; one shuffle on the key)
# ---------------------------------------------------------------------------

J2_ORACLE = """
SELECT event_type AS ns, user_id AS key, event_id AS seqno, value, props
FROM (
  SELECT *, row_number() OVER (PARTITION BY event_type, user_id
                               ORDER BY event_id DESC) AS rn
  FROM events
)
WHERE rn = 1
"""


@register("j2_log_latest", oracle=J2_ORACLE, group="J")
def j2_log_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """marasa ``get(ns, key)`` for every key: last change per (ns, key)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type", "user_id").orderBy(F.col("event_id").desc())
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.col("event_type").alias("ns"),
            F.col("user_id").alias("key"),
            F.col("event_id").alias("seqno"),
            "value",
            "props",
        )
    )


J3_ORACLE = """
SELECT event_type AS ns, user_id AS key, event_id AS seqno, props AS value
FROM (
  SELECT *, row_number() OVER (PARTITION BY event_type, user_id
                               ORDER BY event_id DESC) AS rn
  FROM events
  WHERE event_id <= 5000
)
WHERE rn = 1
"""


@register("j3_log_asof", oracle=J3_ORACLE, group="J")
def j3_log_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """marasa ``read(ns, seqno)`` time travel: prefix fold at seqno 5000."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id") <= 5000)
    w = Window.partitionBy("event_type", "user_id").orderBy(F.col("event_id").desc())
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.col("event_type").alias("ns"),
            F.col("user_id").alias("key"),
            F.col("event_id").alias("seqno"),
            F.col("props").alias("value"),
        )
    )


J4_ORACLE = """
SELECT event_type AS ns, user_id AS key, event_id AS seqno, props AS value,
       row_number() OVER (ORDER BY event_id) AS change_idx
FROM events
WHERE event_type = 'click' AND user_id = 7
"""


@register("j4_log_history", oracle=J4_ORACLE, group="J")
def j4_log_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """marasa ``history(ns, key)``: ordered per-key change stream
    (change_idx materializes the replay order for the hash check). The
    replay index is a (ns, key)-KEYED window, never a global one: with the
    predicate pinning a single key the values are identical, but the keyed
    shape hash-partitions across keys — a bulk history() over many keys
    stays parallel instead of funneling through one task."""
    ev = load_table(spark, sf_dir, "events").filter(
        (F.col("event_type") == "click") & (F.col("user_id") == 7)
    )
    w = Window.partitionBy("event_type", "user_id").orderBy("event_id")
    return ev.select(
        F.col("event_type").alias("ns"),
        F.col("user_id").alias("key"),
        F.col("event_id").alias("seqno"),
        F.col("props").alias("value"),
        F.row_number().over(w).alias("change_idx"),
    )


# ---------------------------------------------------------------------------
# j5 — compaction correctness: snapshot ∪ tail must reproduce the fold
# ---------------------------------------------------------------------------

# same tiebreak note as A4_ORACLE: (ts DESC, value DESC) mirrors append
J5_ORACLE = """
SELECT event_type AS ns, CAST(user_id AS VARCHAR) AS key, props AS value
FROM (
  SELECT *, row_number() OVER (PARTITION BY event_type, user_id
                               ORDER BY ts DESC, props DESC) AS rn
  FROM events
)
WHERE rn = 1
"""


@register("j5_log_compact", oracle=J5_ORACLE, group="J")
def j5_log_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end storage check: build a real MarasaLog from events, write a
    snapshot (compaction), then read ``latest()`` through the snapshot path
    — must hash-match the plain-SQL fold over the original table."""
    store = MarasaLog(spark, fresh_scratch("j5_log", sf_dir))
    store.append(_events_as_log(spark, sf_dir))
    store.compact()
    return store.latest().select("ns", "key", "value")


J7_ORACLE = """
WITH base AS (
  SELECT event_type AS ns, user_id AS key, props AS value FROM (
    SELECT *, row_number() OVER (PARTITION BY event_type, user_id
                                 ORDER BY event_id DESC) AS rn
    FROM events WHERE event_id <= 8000
  ) WHERE rn = 1
), batch AS (
  SELECT event_type AS ns, user_id AS key, props AS value FROM (
    SELECT *, row_number() OVER (PARTITION BY event_type, user_id
                                 ORDER BY event_id DESC) AS rn
    FROM events WHERE event_id > 8000
  ) WHERE rn = 1
)
SELECT coalesce(b.ns, u.ns) AS ns,
       coalesce(b.key, u.key) AS key,
       coalesce(u.value, b.value) AS value,
       CASE WHEN b.ns IS NULL THEN 'insert'
            WHEN u.ns IS NULL THEN 'keep'
            ELSE 'update' END AS action
FROM base b FULL OUTER JOIN batch u ON b.ns = u.ns AND b.key = u.key
"""


@register("j7_log_merge", oracle=J7_ORACLE, group="J")
def j7_log_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE/upsert semantics over the log's latest-state view: a change
    batch (event_id > 8000) is merged into the base state (event_id ≤ 8000)
    — matched keys take the batch value ('update'), unmatched batch keys
    insert, unmatched base keys keep. One full-outer join on the folded
    states; at scale both folds and the merge share the (ns, key)
    partitioning so the merge adds no extra shuffle. This is the Delta/
    Iceberg MERGE INTO seam expressed engine-side (marasa `put` batching)."""
    ev = load_table(spark, sf_dir, "events")

    def fold(df: DataFrame) -> DataFrame:
        w = Window.partitionBy("event_type", "user_id").orderBy(
            F.col("event_id").desc()
        )
        return (
            df.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select(
                F.col("event_type").alias("ns"),
                F.col("user_id").alias("key"),
                F.col("props").alias("value"),
            )
        )

    base = fold(ev.filter(F.col("event_id") <= 8000)).alias("b")
    batch = fold(ev.filter(F.col("event_id") > 8000)).alias("u")
    return base.join(
        batch, (F.col("b.ns") == F.col("u.ns")) & (F.col("b.key") == F.col("u.key")), "full_outer"
    ).select(
        F.coalesce(F.col("u.ns"), F.col("b.ns")).alias("ns"),
        F.coalesce(F.col("u.key"), F.col("b.key")).alias("key"),
        F.coalesce(F.col("u.value"), F.col("b.value")).alias("value"),
        F.when(F.col("b.ns").isNull(), "insert")
        .when(F.col("u.ns").isNull(), "keep")
        .otherwise("update")
        .alias("action"),
    )


J6_ORACLE = """
SELECT DISTINCT event_type AS ns FROM events
"""


@register("j6_log_namespaces", oracle=J6_ORACLE, group="J")
def j6_log_namespaces(spark: SparkSession, sf_dir: str) -> DataFrame:
    """marasa namespace listing."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select(F.col("event_type").alias("ns")).distinct()


# seqno replay as in J1, then the consumer's (since, until] range filter
J8_ORACLE = """
WITH clicks AS (SELECT * FROM events WHERE event_type = 'click'),
     purch  AS (SELECT * FROM events WHERE event_type = 'purchase'),
c AS (
  SELECT 'click' AS ns, CAST(user_id AS VARCHAR) AS key, ts, props AS value,
         row_number() OVER (ORDER BY CAST(user_id AS VARCHAR), ts, props) AS seqno
  FROM clicks
),
p AS (
  SELECT 'purchase' AS ns, CAST(user_id AS VARCHAR) AS key, ts, props AS value,
         (SELECT count(*) FROM clicks)
           + row_number() OVER (ORDER BY CAST(user_id AS VARCHAR), ts, props) AS seqno
  FROM purch
)
SELECT ns, key, seqno, ts, value FROM (
  SELECT * FROM c UNION ALL SELECT * FROM p
)
WHERE seqno > 1800 AND seqno <= 2200
"""


@register("j8_log_cdc_read", oracle=J8_ORACLE, group="J")
def j8_log_cdc_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental consumer read: ``changes(since, until)`` returns exactly
    the (since, until] slice of the change feed — the offset-tracking CDC
    consumer pattern (a reader that stores its last seqno never replays).
    The range here intentionally spans the batch-1/batch-2 boundary, and
    segment pruning drops whole files that end before ``since``."""
    store = MarasaLog(spark, fresh_scratch("j8_log", sf_dir), segment_size=500)
    log_df = _events_as_log(spark, sf_dir)
    store.append(log_df.filter(F.col("ns") == "click"))
    store.append(log_df.filter(F.col("ns") == "purchase"))
    return store.changes(since=1800, until=2200)


J9_ORACLE = """
WITH log AS (
  SELECT event_type AS ns, CAST(user_id AS VARCHAR) AS key, event_id AS seqno
  FROM events
), cut AS (
  SELECT CAST(max(seqno) // 2 AS BIGINT) AS cut FROM log
), head_latest AS (
  SELECT ns, key, seqno FROM (
    SELECT ns, key, seqno,
           row_number() OVER (PARTITION BY ns, key ORDER BY seqno DESC) AS rn
    FROM log, cut WHERE seqno < cut
  ) WHERE rn = 1
), kept AS (
  SELECT ns, key, seqno FROM log, cut WHERE seqno >= cut
  UNION ALL
  SELECT * FROM head_latest
)
SELECT ns, count(*) AS n_kept, min(seqno) AS min_seqno, max(seqno) AS max_seqno
FROM kept GROUP BY ns
"""


@register("j9_log_retention", oracle=J9_ORACLE, group="J")
def j9_log_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention expiry with compacted head (Kafka compacted-topic delete
    semantics, marasa's bounded-replay guarantee): everything at or after
    the retention cutoff survives verbatim, and for records OLDER than the
    cutoff only the latest version per (ns, key) is kept — point lookups
    stay correct while replay cost is bounded by tail length + live key
    count. One window over the head partition + a filter on the tail; the
    cutoff (here mid-log) broadcasts as a 1-row scalar, and on the
    partitioned log layout (a4) the head/tail split is directory pruning,
    not a data scan."""
    ev = load_table(spark, sf_dir, "events")
    log = ev.select(
        F.col("event_type").alias("ns"),
        F.col("user_id").cast("string").alias("key"),
        F.col("event_id").alias("seqno"),
    )
    cut = log.agg((F.max("seqno") / 2).cast("long").alias("cut"))
    with_cut = log.crossJoin(F.broadcast(cut))
    tail = with_cut.filter(F.col("seqno") >= F.col("cut")).select("ns", "key", "seqno")
    w = Window.partitionBy("ns", "key").orderBy(F.col("seqno").desc())
    head_latest = (
        with_cut.filter(F.col("seqno") < F.col("cut"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("ns", "key", "seqno")
    )
    return tail.unionByName(head_latest).groupBy("ns").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.min("seqno").alias("min_seqno"),
        F.max("seqno").alias("max_seqno"),
    )


J10_ORACLE = """
WITH log AS (
  SELECT event_type AS ns, event_id AS seqno FROM events
), g AS (SELECT max(seqno) AS global_max FROM log)
SELECT ns,
       count(*) AS n_records,
       max(seqno) AS max_seqno,
       CAST(global_max - max(seqno) AS BIGINT) AS lag
FROM log, g
GROUP BY ns, global_max
"""


@register("j10_log_lag_metrics", oracle=J10_ORACLE, group="J")
def j10_log_lag_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-namespace consumer-lag / staleness metrics: how far each
    namespace's newest record trails the global head seqno — the
    monitoring query every log deployment runs (a namespace whose lag
    grows is a stalled producer; marasa's single global seqno makes the
    comparison meaningful across namespaces). One partial-aggregated
    shuffle on ns plus a 1-row broadcast for the head; no windows."""
    ev = load_table(spark, sf_dir, "events")
    log = ev.select(F.col("event_type").alias("ns"), F.col("event_id").alias("seqno"))
    head = log.agg(F.max("seqno").alias("global_max"))
    return (
        log.groupBy("ns")
        .agg(F.count(F.lit(1)).alias("n_records"), F.max("seqno").alias("max_seqno"))
        .crossJoin(F.broadcast(head))
        .select(
            "ns",
            "n_records",
            "max_seqno",
            (F.col("global_max") - F.col("max_seqno")).alias("lag"),
        )
    )


J11_ORACLE = """
SELECT event_type AS ns, CAST(user_id AS VARCHAR) AS key, props AS value
FROM (
  SELECT *, row_number() OVER (PARTITION BY event_type, user_id
                               ORDER BY ts DESC, props DESC) AS rn
  FROM events
  WHERE event_type = 'click' AND user_id < 10
)
WHERE rn = 1
"""


@register("j11_point_lookup", oracle=J11_ORACLE, group="J")
def j11_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """marasa ``get(ns, key)`` as a batch point lookup against the real
    store: the ns/key predicates are applied BEFORE the latest-fold so the
    scan reads one namespace directory (partition pruning) and only the
    row groups whose key stats admit the requested keys — the common
    lookup path must never fold the whole namespace. Plan pinned in
    tests/test_plan_audit.py; values hash-checked against the SQL fold
    over the original events."""
    store = MarasaLog(spark, fresh_scratch("j11_log", sf_dir))
    store.append(_events_as_log(spark, sf_dir))
    keys = [str(i) for i in range(10)]
    return store.lookup("click", keys).select("ns", "key", "value")


# ---------------------------------------------------------------------------
# z3 — backup/restore: clone the committed history, read from the restore
# ---------------------------------------------------------------------------

# same latest-state fold as A4 (the backup must be indistinguishable from
# the source store to every reader)
Z3_ORACLE = """
SELECT event_type AS ns, CAST(user_id AS VARCHAR) AS key, props AS value
FROM (
  SELECT *, row_number() OVER (PARTITION BY event_type, user_id
                               ORDER BY ts DESC, props DESC) AS rn
  FROM events
  WHERE event_id < 500
)
WHERE rn = 1
"""


@register("z3_log_backup_restore", oracle=Z3_ORACLE, group="J")
def z3_log_backup_restore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backup/restore round-trip: write a store, ``clone_to`` a second
    location (committed rows only, seqnos verbatim, one journal commit
    carrying the high-water), then serve ``latest()`` FROM THE RESTORE — hash-checked
    against the same oracle as the source (a4), so the backup is proven
    reader-indistinguishable, not just file-copied. The torn-backup case
    (clone taken while a writer's uncommitted batch is on disk) is pinned
    in tests/test_log_properties.py::test_clone_excludes_uncommitted."""
    src = MarasaLog(spark, fresh_scratch("z3_log_src", sf_dir))
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 500)
    src.append(_events_as_log(spark, sf_dir, events=ev))
    restored = src.clone_to(fresh_scratch("z3_log_dst", sf_dir))
    return restored.latest().select("ns", "key", "value")


# ---------------------------------------------------------------------------
# i15 — CDC tail as a STREAM: subscribe to the log's change feed
# ---------------------------------------------------------------------------

I15_ORACLE = """
WITH ev AS (SELECT * FROM events WHERE event_id < 500),
     c AS (SELECT count(*) AS n FROM ev WHERE event_type = 'click'),
     p AS (SELECT count(*) AS n FROM ev WHERE event_type = 'purchase')
SELECT 'click' AS ns, c.n AS n, c.n AS max_seqno FROM c
UNION ALL
SELECT 'purchase' AS ns, p.n AS n, c.n + p.n AS max_seqno FROM c, p
"""


@register("i15_log_cdc_stream", oracle=I15_ORACLE, group="I")
def i15_log_cdc_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reverse of i10: a Structured Streaming reader tailing the log
    store's change feed — 'the log is the database' made subscribable.
    Two appends land (clicks, then purchases); a file stream over the
    log directory replays the committed changes, and the streamed
    per-namespace rollup (count + high-water seqno) is hash-checked
    against SQL that replays the append arithmetic — proving the stream
    sees every committed change exactly once AND the seqno numbering the
    writers produced. The stream lists the log directory rather than
    resolving files from the journal, so it applies the journal's
    committed high-water (``max_seqno``) as a seqno predicate: an
    in-flight writer's uncommitted files sit above it and stay invisible
    here too. At scale this is the standing consumer: new log files
    become micro-batches, checkpointed like i14, namespace directories
    prune at the listing."""
    from marasa_spark.log import DISK_SCHEMA
    from marasa_spark.streaming.runtime import run_to_memory

    store = MarasaLog(spark, fresh_scratch("i15_log", sf_dir))
    log_df = _events_as_log(
        spark, sf_dir,
        events=load_table(spark, sf_dir, "events").filter(F.col("event_id") < 500),
    )
    store.append(log_df.filter(F.col("ns") == "click"))
    store.append(log_df.filter(F.col("ns") == "purchase"))
    hw = store.max_seqno()

    stream = (
        spark.readStream.schema(DISK_SCHEMA)
        .parquet(store.log_dir)
        .filter(F.col("seqno") <= F.lit(hw))
    )
    agg = stream.groupBy("ns").agg(
        F.count(F.lit(1)).alias("n"), F.max("seqno").alias("max_seqno")
    )
    return run_to_memory(agg, "complete")


# ---------------------------------------------------------------------------
# z8 — idempotent producer: the same batch submitted twice lands once
# ---------------------------------------------------------------------------

Z8_ORACLE = """
SELECT event_type AS ns, CAST(user_id AS VARCHAR) AS key, props AS value
FROM (
  SELECT *, row_number() OVER (PARTITION BY event_type, user_id
                               ORDER BY ts DESC, props DESC) AS rn
  FROM events
  WHERE event_id < 500
)
WHERE rn = 1
"""


@register("z8_log_idempotent_append", oracle=Z8_ORACLE, group="J")
def z8_log_idempotent_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """append_once proven by the oracle: the SAME batch is submitted twice
    under one producer batch_id, and the store must fold to exactly the
    single-append state — a duplicated batch would double every history
    row and (on ts ties) flip fold winners, breaking the hash. This is
    the producer half of exactly-once (i14 is the consumer half): an
    at-least-once upstream can retry its submission blindly. Resubmission
    returns the originally recorded high-water (asserted here — a wrong
    cached seqno would be silent corruption for the caller's cursor)."""
    store = MarasaLog(spark, fresh_scratch("z8_log", sf_dir))
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 500)
    batch = _events_as_log(spark, sf_dir, events=ev)
    hw1 = store.append_once(batch, batch_id="ingest-2024-01-01")
    hw2 = store.append_once(batch, batch_id="ingest-2024-01-01")  # retry
    if hw1 != hw2:
        raise AssertionError(f"idempotent resubmit changed high-water: {hw1} != {hw2}")
    return store.latest().select("ns", "key", "value")


# ---------------------------------------------------------------------------
# j12 — forget keys: tombstone deletes with exact history (GDPR verb)
# ---------------------------------------------------------------------------

J12_ORACLE = """
SELECT event_type AS ns, CAST(user_id AS VARCHAR) AS key, props AS value
FROM (
  SELECT *, row_number() OVER (PARTITION BY event_type, user_id
                               ORDER BY ts DESC, props DESC) AS rn
  FROM events
  WHERE event_id < 500
)
WHERE rn = 1 AND NOT (event_type = 'click' AND user_id % 5 = 0)
"""


@register("j12_log_forget_keys", oracle=J12_ORACLE, group="J")
def j12_log_forget_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The right-to-be-forgotten verb: ``delete(ns, keys)`` appends NULL
    tombstones (the Kafka-compaction convention), and ``latest`` treats
    tombstone-as-last-change as key-gone — here every user_id % 5 == 0 is
    forgotten from the 'click' namespace and the served state must equal
    the fold that never saw them (the oracle's NOT predicate). Deletion
    stays an APPEND: time travel before the tombstone is exact, the CDC
    feed shows the tombstone (a downstream consumer LEARNS about the
    forget instead of silently diverging), and compaction physically
    drops the keys from the snapshot. The forget list is collected —
    driver-side by design, forget lists are human-scale — and the delete
    batch rides the normal version claim like any writer."""
    store = MarasaLog(spark, fresh_scratch("j12_forget", sf_dir))
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 500)
    store.append(_events_as_log(spark, sf_dir, events=ev))
    doomed = [
        r["key"]
        for r in ev.filter(
            (F.col("event_type") == "click") & (F.col("user_id") % 5 == 0)
        )
        .select(F.col("user_id").cast("string").alias("key"))
        .distinct()
        .collect()
    ]
    store.delete("click", doomed)
    return store.latest().select("ns", "key", "value")


# ---------------------------------------------------------------------------
# j13 — journal-resolved reads as a driver-checked row
# ---------------------------------------------------------------------------

J13_ORACLE = """
SELECT event_type AS ns, CAST(user_id AS VARCHAR) AS key, props AS value
FROM (
  SELECT *, row_number() OVER (PARTITION BY event_type, user_id
                               ORDER BY ts DESC, props DESC) AS rn
  FROM events
)
WHERE rn = 1
"""


@register("j13_log_manifest_backend", oracle=J13_ORACLE, group="J")
def j13_log_manifest_backend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Listing isolation as a hash-checked contract row: the SAME
    events→log→compact→latest pipeline as j5, then a foreign parquet file
    is planted in the log directory before the read. Its seqno sits
    inside the committed range, so no seqno filter could hide it; only
    the store's Delta journal can — readers resolve data files from the
    journal's add actions, never from a directory listing (a listing
    reader would fold the rogue row in and break the hash). The id keeps
    its historical name: the manifest backend it once ran on is now the
    store's own journal."""
    import datetime

    store = MarasaLog(spark, fresh_scratch("j13_log", sf_dir))
    store.append(_events_as_log(spark, sf_dir))
    store.compact()
    rogue = spark.createDataFrame(
        [("click", "7", 1, datetime.datetime(2030, 1, 1), "ROGUE", 0)],
        "ns string, key string, seqno long, ts timestamp, value string, segment long",
    )
    rogue.write.mode("append").partitionBy("ns", "segment").parquet(store.log_dir)
    return store.latest().select("ns", "key", "value")


# ---------------------------------------------------------------------------
# j14 — a read across a journal checkpoint as a driver-checked row
# ---------------------------------------------------------------------------

J14_ORACLE = J13_ORACLE


@register("j14_log_delta_backend", oracle=J14_ORACLE, group="J")
def j14_log_delta_backend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The journal's checkpoint path as a hash-checked row: events are
    ingested as CHECKPOINT_INTERVAL + 2 appends over consecutive ts
    ranges, so the log commits cross a parquet checkpoint; a fresh
    reader then resolves every log file from checkpoint + tail replay,
    not raw commit replay, and folds ``latest()`` over them (no
    snapshot, so a lost add breaks the hash). ts-range batches keep the
    fold identical to j13's oracle: a key's last batch holds its latest
    ts, and equal ts never straddle a batch edge."""
    import os

    from marasa_spark.log import CHECKPOINT_INTERVAL

    store = MarasaLog(spark, fresh_scratch("j14_log", sf_dir))
    log_df = _events_as_log(spark, sf_dir)
    t = F.col("ts").cast("double")
    lo, hi = log_df.agg(F.min(t), F.max(t)).first()
    n = CHECKPOINT_INTERVAL + 2
    edges = [lo + (hi - lo) * i / n for i in range(1, n)]
    for i in range(n):
        sel = F.lit(True)
        if i:
            sel = sel & (t >= edges[i - 1])
        if i < n - 1:
            sel = sel & (t < edges[i])
        store.append(log_df.filter(sel))
    if not os.path.exists(f"{store.log_dir}/_delta_log/_last_checkpoint"):
        raise AssertionError("j14 never crossed a journal checkpoint")
    return MarasaLog(spark, store.path).latest().select("ns", "key", "value")
