"""Round-trip integrity for the rows-only source/sink operators (a2/a3)."""

from __future__ import annotations

from pyspark.sql import functions as F

from marasa_spark.catalog import load_table
from marasa_spark.queries.sinks import a2_source_csv_json, a3_sink_parquet


def test_csv_json_roundtrip(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    out = a2_source_csv_json(spark, sf_dir)
    assert out.count() == docs.count()
    # text round-trips byte-exact through JSON: length matches n_chars
    bad = out.filter(F.col("text_len") != F.col("n_chars")).count()
    assert bad == 0
    # CSV carried the typed columns through
    want = {
        (r["doc_id"], r["lang"], r["source"], r["n_chars"])
        for r in docs.select("doc_id", "lang", "source", "n_chars").collect()
    }
    got = {
        (r["doc_id"], r["lang"], r["source"], r["n_chars"])
        for r in out.select("doc_id", "lang", "source", "n_chars").collect()
    }
    assert got == want


def test_parquet_append_doubles(spark, sf_dir):
    out = {r["o_orderpriority"]: (r["n_rows"], r["total"]) for r in a3_sink_parquet(spark, sf_dir).collect()}
    orders = load_table(spark, sf_dir, "orders")
    want = {
        r["o_orderpriority"]: r["n"]
        for r in orders.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    for prio, n in want.items():
        n_rows, total = out[prio]
        assert n_rows == 2, "append should add a second copy, not rewrite"
        assert total == 2 * n


def test_clustered_sink_stats_are_tight_and_disjoint(spark, sf_dir):
    """a13: after range-partition + local sort, each written file must
    cover a narrow, non-overlapping slice of l_shipdate — the footer-stats
    property that lets scans skip files/row-groups without reading data."""
    import glob

    import pyarrow.parquet as pq

    from marasa_spark.registry import REGISTRY

    REGISTRY["a13_clustered_sink"].fn(spark, sf_dir).collect()
    tag = sf_dir.rstrip("/").split("/")[-1]
    import os

    from marasa_spark.queries._util import SCRATCH

    d = f"{SCRATCH}/a13_cluster_{tag}_p{os.getpid()}"
    spans = []
    for f in glob.glob(f"{d}/*.parquet"):
        md = pq.ParquetFile(f).metadata
        mins, maxs = [], []
        for i in range(md.num_row_groups):
            rg = md.row_group(i)
            col = next(
                rg.column(j)
                for j in range(rg.num_columns)
                if rg.column(j).path_in_schema == "l_shipdate"
            )
            assert col.statistics is not None, (
                "no stats on l_shipdate — INT96 output? (outputTimestampType "
                "must be TIMESTAMP_MICROS for skippable timestamp columns)"
            )
            mins.append(col.statistics.min)
            maxs.append(col.statistics.max)
        spans.append((min(mins), max(maxs)))
    assert len(spans) == 4
    spans.sort()
    global_span = (spans[-1][1] - spans[0][0]).total_seconds()
    for lo, hi in spans:
        assert (hi - lo).total_seconds() < 0.6 * global_span, (
            "file covers most of the date range — clustering did not happen"
        )
    for (_, hi_prev), (lo_next, _) in zip(spans, spans[1:]):
        assert hi_prev <= lo_next, "file ranges overlap — range partitioning failed"
