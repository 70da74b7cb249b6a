"""SparkSession construction and runtime-config hygiene.

Two audiences:

* Our own tests / bench (``get_spark``) — build a local session with the
  100 TB-posture defaults (AQE on, UTC, Arrow, sane shuffle parallelism).
* The driver's verify, which constructs its *own* session and merely passes
  it to ``queries()[name](spark, sf_dir)`` — so every config that affects
  **correctness** must also be settable at runtime. ``ensure_session_configs``
  is idempotent, cheap, and called from every query entry point.

Correctness-critical runtime confs (all dynamic SQLConf, safe to set on a
live session):

* ``spark.sql.legacy.parquet.nanosAsLong`` — the ``events.ts`` column has
  shipped as Parquet INT64 TIMESTAMP(NANOS), which Spark 4 refuses outright
  without this flag (SURVEY.md §1.4). With it, the column arrives as a raw
  nanosecond LongType which :mod:`marasa_spark.catalog` converts to a
  µs-truncated timestamp exactly matching DuckDB's native read. The
  current testdata ships TIMESTAMP(MICROS, isAdjustedToUTC=false), which
  needs no flag; ``load_table`` handles both encodings.
* ``spark.sql.session.timeZone=UTC`` — oracle comparisons collect Spark
  timestamps in session TZ; DuckDB is UTC-naive.
* ``spark.sql.shuffle.partitions`` — 200 default over-parallelizes the test
  scale factors ~4× (SURVEY.md §4); sized to cores instead. At real cluster
  scale AQE coalescing makes the initial number far less critical.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Runtime (dynamic) confs — safe on an already-running session.
RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Write timestamps as INT64 micros, not the legacy INT96 default:
    # INT96 columns carry NO parquet min/max statistics, which silently
    # disables row-group/file skipping on every date predicate over data
    # we wrote (a13's clustering test pins the stats' existence).
    "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
    # Align Spark's whole-stage-codegen fallback with HotSpot's
    # DontCompileHugeMethods limit (8000 bytecode bytes): a generated
    # method larger than that NEVER gets JIT-compiled, so keeping WSCG for
    # it means running janino-compiled code in the bytecode interpreter
    # forever — strictly worse than Spark's per-operator fallback path.
    # The default (65535) only falls back at the JVM hard limit. Measured
    # on k9's 15-term LSH join predicate: fresh-JVM cold 38.4 s -> 26.6 s,
    # warm 8.4 s -> 6.7 s; ops with sub-8 KB methods are unaffected.
    "spark.sql.codegen.hugeMethodLimit": "8000",
    # MarasaLog reads the explicit file list its Delta journal resolves.
    # Above this many paths (default 32) InMemoryFileIndex lists them with
    # a distributed Spark JOB: on a ~60-file store (4-core box, medians of
    # 8) building the read set took 510 ms at the default and 42 ms with
    # the threshold raised — a directory read took 44 ms. kv_log crosses
    # 32 live files within a few writes. Driver-side listing is a stat
    # per path, so a high threshold costs nothing at this file count.
    "spark.sql.sources.parallelPartitionDiscovery.threshold": "100000",
}


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 4)))


def ensure_session_configs(spark: SparkSession) -> SparkSession:
    """Idempotently pin the correctness-critical runtime confs on ``spark``.

    Called at the top of every registered query so the driver's own session
    (whose build-time configs we don't control) behaves identically to ours.
    """
    for key, value in RUNTIME_CONFS.items():
        try:
            if spark.conf.get(key, None) != value:
                spark.conf.set(key, value)
        except Exception:
            # Unknown/static conf on some Spark build: never fail a query
            # over a tuning knob; correctness confs above are all dynamic.
            pass
    # Only resize shuffle parallelism if it's still at the 200 default —
    # respect an explicit choice by whoever built the session.
    try:
        if spark.conf.get("spark.sql.shuffle.partitions") == "200":
            spark.conf.set(
                "spark.sql.shuffle.partitions", str(default_parallelism())
            )
    except Exception:
        pass
    return spark


def get_spark(
    app_name: str = "marasa_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) a local SparkSession with engine defaults."""
    cores = default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cores}]")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or cores),
        )
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.execution.pythonUDF.arrow.enabled", "true")
        # STATIC conf (settable only at session build, so it cannot go in
        # RUNTIME_CONFS): default-on PySpark "DataFrame debugging" wraps
        # every DataFrame/Column API call in a Python stack walk plus two
        # py4j origin round-trips purely to enrich error messages with the
        # user call site. That is driver-side plan-construction overhead on
        # EVERY op — measured (r11, 32-core box): k9's fn() driver residue
        # 3.97 -> 2.49 s, whole-registry construction proportionally.
        # Errors keep their full Python tracebacks; only the JVM-side
        # DataFrameQueryContext enrichment is lost. The driver's own
        # vanilla session (correctness verify, not timed) keeps the
        # default.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for key, value in RUNTIME_CONFS.items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return ensure_session_configs(spark)
