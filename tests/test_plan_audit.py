"""Plan audits: the 100 TB posture encoded as assertions on .explain output
(SURVEY.md §4). A passing correctness suite with a wrong plan shape is a
latent scale bug — these tests pin the shapes we designed for:

* predicates/projections reach the Parquet scan (PushedFilters/ReadSchema);
* dimension joins broadcast, and the BIG fact is never the build side;
* global top-k plans as TakeOrderedAndProject (no full sort);
* no BroadcastNestedLoop/Cartesian outside the ops that mean it (c8/c11);
* whole-stage codegen covers the relational hot paths.
"""

from __future__ import annotations

import pytest

from marasa_spark.registry import REGISTRY, queries_map

queries_map()
SF = "/root/testdata/sf0.01"


def plan_of(spark, qid: str, execute: bool = False) -> str:
    df = REGISTRY[qid].fn(spark, SF)
    if execute:
        # AQE reveals the final (codegen-annotated) plan only after running
        df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_reaches_scan(spark):
    plan = plan_of(spark, "b2_filter_pred")
    assert "PushedFilters: [" in plan
    assert "In(o_orderstatus" in plan or "o_orderstatus" in plan.split("PushedFilters")[1][:400]


def test_projection_pruning(spark):
    plan = plan_of(spark, "b1_project")
    read = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "c_custkey" in read and "c_acctbal" in read
    assert "c_mktsegment" not in read, "unused column not pruned from scan"


def test_dim_join_broadcasts(spark):
    plan = plan_of(spark, "c1_join_inner")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_multiway_join_streams_the_fact(spark):
    """lineitem must never be a broadcast build side."""
    plan = plan_of(spark, "c2_join_multiway")
    for frag in plan.split("BroadcastExchange")[1:]:
        built = frag.split("BroadcastHashJoin")[0] if "BroadcastHashJoin" in frag else frag
        assert "lineitem.parquet" not in built.split("Exchange")[0], (
            "the big fact is being broadcast/built — build/stream inversion"
        )


def test_global_topk_avoids_full_sort(spark):
    plan = plan_of(spark, "f2_topk_global")
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan


def test_no_unintended_nested_loops(spark):
    intended = {"c8_join_cross", "c11_join_theta", "k5_dedup_near", "k11_embed_neardup"}
    for qid, spec in REGISTRY.items():
        if spec.group not in {"B", "C", "D", "E", "F", "G"} or qid in intended:
            continue
        plan = plan_of(spark, qid)
        assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan, (
            f"{qid}: unintended nested-loop join"
        )


def test_codegen_covers_hot_paths(spark):
    for qid in ["d1_agg_hash", "c2_join_multiway", "b4_expr_arith"]:
        plan = plan_of(spark, qid, execute=True)
        assert "*(" in plan, f"{qid}: no WholeStageCodegen spans in plan"


def test_lsh_band_shuffle_carries_no_token_payload(spark):
    """minhash_lsh_pairs' bands× amplified shuffles (the (band, bucket)
    exchange feeding the bucket self-join) must carry only the fixed-width
    per-set metadata — (doc, nt, kb, band, bucket) since the round-11
    restructure put the kb array on the membership rows instead of a
    per-set broadcast — token arrays re-attach per candidate AFTER dedup.
    A `toks` attribute inside any band-keyed exchange is the 100 TB
    payload-amplification bug the design forbids."""
    from marasa_spark.catalog import load_table
    from marasa_spark.ops.dedup import minhash_lsh_pairs

    docs = load_table(spark, SF, "documents")
    # cut_lineage=False: the band-bucket exchange otherwise sits inside an
    # already-materialized localCheckpoint and is invisible to the final plan
    df = minhash_lsh_pairs(
        docs, "doc_id", "text", num_hashes=32, bands=16, cut_lineage=False
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    frags = plan.split("Exchange hashpartitioning(band")
    assert len(frags) > 1, "expected a (band, bucket)-keyed exchange in the plan"
    import re

    for frag in frags[1:]:
        child = frag[:400]
        # a BARE toks#N attribute below the exchange = the array rides the
        # shuffle; `size(toks#N)` computing the int nt column is the
        # designed thin encoding and is allowed
        assert not re.search(r"[\[, ]toks#\d+", child), (
            "token payload rides the band-bucket shuffle:\n" + child
        )


def test_k21_band_shuffle_carries_no_vector_payload(spark):
    """k21's twin of the pin above: rh_lsh_pairs runs the same banded
    candidate join, so its (band, bucket) exchanges must carry only
    (vid, kb, band, bucket, salt) rows — a bare vector attribute (`v#N`,
    `embedding#N`) below a band-keyed exchange means the dim-double
    payload rides the bands× amplified shuffle. k21 checkpoints the
    per-vector buckets before banding, so its registered plan shows the
    band exchanges."""
    import re

    plan = plan_of(spark, "k21_embed_lsh_neardup")
    frags = plan.split("Exchange hashpartitioning(band")
    assert len(frags) > 1, "expected a (band, bucket)-keyed exchange in the plan"
    for frag in frags[1:]:
        child = frag[:400]
        assert not re.search(r"[\[, ](v|embedding)#\d+", child), (
            "vector payload rides the band-bucket shuffle:\n" + child
        )


def test_k21_dot_evaluated_exactly_once(spark):
    """k21's twin of test_k9_intersect_evaluated_exactly_once: the cosine
    verify's dot product (the dim-element aggregate(zip_with) fold) must
    appear ONCE in the executed plan, projected behind the
    SPARK_PARTITION_ID() >= 0 no-op so the threshold filter compares the
    projected column instead of re-running the fold per reference. The
    signature's plane folds sit inside the per-vector checkpoint, so the
    only zip_with left in the registered plan is the verify's."""
    plan = plan_of(spark, "k21_embed_lsh_neardup", execute=True)
    final = plan.split("== Initial Plan ==")[0]
    n = final.count("zip_with(")
    assert n == 1, f"the dot product appears {n}x in k21's executed plan"
    assert "CASE WHEN (SPARK_PARTITION_ID() >= 0) THEN aggregate(zip_with(" in final, (
        "k21's dot product is not behind the pushdown barrier"
    )


def test_partitioned_sink_prunes_directories(spark):
    """a6: the read-back filter on the partition key must become a
    PartitionFilters entry (directory pruning before IO) — not a post-scan
    Filter over all partitions."""
    plan = plan_of(spark, "a6_sink_partitioned")
    assert "PartitionFilters: [" in plan
    pf = plan.split("PartitionFilters:")[1][:300]
    assert "o_orderpriority" in pf, f"partition filter not pushed: {pf}"


def test_hash_sample_predicate_at_scan(spark):
    """m1: the md5 sampling predicate is stateless and must evaluate in the
    scan stage (single WholeStageCodegen, no exchange at all)."""
    plan = plan_of(spark, "m1_sample_hash")
    assert "Exchange" not in plan, "hash sampling must be shuffle-free"


def test_exchange_reuse_in_fanout_agg(spark):
    """m8: two aggregation branches over the same shuffled base must share
    one exchange (ReusedExchange), not recompute the scan+shuffle twice."""
    plan = plan_of(spark, "m8_exchange_reuse", execute=True)
    assert "ReusedExchange" in plan, "fan-out branches recompute the base exchange"


def test_fact_fact_join_is_sort_merge(spark):
    """c18: the MERGE hint must hold — large-large joins sort-merge (spill-
    graceful) rather than broadcast by small-sf stats accident."""
    plan = plan_of(spark, "c18_join_sort_merge")
    assert "SortMergeJoin" in plan
    assert "BroadcastHashJoin" not in plan


def test_bucketed_join_is_shuffle_free(spark):
    """c19: both scans report Bucketed: true and the join+groupBy plan has
    ZERO Exchange — the bucket layout is the shuffle, paid once at write."""
    plan = plan_of(spark, "c19_join_bucketed")
    assert "Bucketed: true" in plan
    assert "SortMergeJoin" in plan
    assert "Exchange" not in plan


def test_global_index_avoids_single_partition_window(spark):
    """f3: the global sequence must ride a range exchange + per-partition
    windows — an empty-partition-spec Window (one task for all data) is
    the anti-pattern this op exists to avoid."""
    plan = plan_of(spark, "f3_global_index")
    assert "rangepartitioning" in plan
    # the data-sized row_number window is keyed by _pid — never global
    assert "row_number() windowspecdefinition(_pid#" in plan


def test_interval_overlap_is_equi_join(spark):
    """c21: grid bucketing must turn the overlap theta join into an
    equi-join — no nested-loop/cartesian anywhere in the plan."""
    plan = plan_of(spark, "c21_interval_overlap_join")
    assert "NestedLoop" not in plan and "Cartesian" not in plan


def test_bucketed_asof_is_equi_join(spark):
    """z2: time-bucketing must turn the tolerance as-of into an EQUI join
    on (key, bucket) — the band bounds stay residual predicates, never a
    nested loop — and the shuffle must carry the bucket (the skew-spread
    claim: a hot key distributes across its time buckets)."""
    plan = plan_of(spark, "z2_asof_tolerance_bucketed")
    assert "NestedLoop" not in plan and "Cartesian" not in plan
    assert "_bkt" in plan  # bucket participates in the join key


def test_dpp_prunes_fact_partitions(spark):
    """c22: the dim filter's values must reach the fact scan as a runtime
    PartitionFilter (dynamicpruningexpression) — without DPP the join
    reads all five priority directories."""
    plan = plan_of(spark, "c22_dpp_join")
    assert "dynamicpruningexpression" in plan


def test_exists_decorrelates_to_hash_joins(spark):
    """c14: EXISTS/NOT EXISTS must become semi/anti HASH joins — a
    correlated re-execution or nested loop is a 100 TB non-starter."""
    plan = plan_of(spark, "c14_exists_subquery")
    assert "LeftSemi" in plan and "LeftAnti" in plan
    assert "BroadcastNestedLoop" not in plan and "CartesianProduct" not in plan


def test_null_safe_join_stays_hash(spark):
    """c16: <=> equality is hashable; the NULL bucket must not demote the
    plan to a nested loop."""
    plan = plan_of(spark, "c16_join_null_safe")
    assert "HashJoin" in plan
    assert "BroadcastNestedLoop" not in plan


def test_contamination_broadcasts_bench_side(spark):
    """k29: the benchmark shingle set must broadcast; the corpus side must
    not appear under a BroadcastExchange (it streams at 100 TB)."""
    plan = plan_of(spark, "k29_contamination")
    assert "BroadcastHashJoin" in plan, "contamination join must be broadcast"
    assert "SortMergeJoin" not in plan


def test_session_window_single_shuffle(spark):
    plan = plan_of(spark, "i3_win_session")
    assert plan.count("Exchange hashpartitioning") == 1, "session windows should shuffle once"


def test_bloom_join_injects_runtime_filter(spark):
    """c23: with the op's conf overrides in force, Catalyst must inject a
    bloom might_contain predicate on the fact side of the join (semi-join
    reduction before the shuffle). Replicates the op's scoped confs, builds
    the inner join, and checks the executed plan; also asserts the op
    restored the session confs afterwards."""
    from pyspark.sql import functions as F

    from marasa_spark.catalog import load_table
    from marasa_spark.registry import REGISTRY

    before = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", None)
    REGISTRY["c23_bloom_join"].fn(spark, SF).collect()
    assert spark.conf.get("spark.sql.autoBroadcastJoinThreshold", None) == before, (
        "c23 leaked its conf overrides onto the session"
    )

    overrides = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    prev = {k: spark.conf.get(k, None) for k in overrides}
    for k, v in overrides.items():
        spark.conf.set(k, v)
    try:
        o = load_table(spark, SF, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        li = load_table(spark, SF, "lineitem")
        j = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        j.collect()
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan, "bloom runtime filter not injected"
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_weighted_sample_is_topk(spark):
    """m25: the weighted sample's top-k must plan as TakeOrderedAndProject
    (per-partition heaps), never a global range sort."""
    plan = plan_of(spark, "m25_weighted_sample")
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan


def test_bitmap_distinct_two_stage_merge(spark):
    """d21: partial bitmaps build per (group, bucket) then OR-merge — the
    plan must show exactly the two hash-partition exchanges (bucketed
    partials, then group merge), with partial aggregation before each."""
    plan = plan_of(spark, "d21_bitmap_distinct")
    assert plan.count("Exchange hashpartitioning") == 2
    assert "bitmap_construct_agg" in plan


def test_point_lookup_prunes_before_fold(spark):
    """j11: the lookup's scan must carry the ns partition filter AND the
    key IN pushdown — the window fold runs over the pruned slice only."""
    plan = plan_of(spark, "j11_point_lookup")
    assert "PartitionFilters: [isnotnull(ns" in plan or "ns#" in plan.split("PartitionFilters")[1][:200]
    pushed = plan.split("PushedFilters")[1][:300]
    assert "In(key" in pushed, f"key IN not pushed to scan: {pushed}"


def test_shuffle_hash_hint_controls_strategy(spark):
    """c24: the SHUFFLE_HASH hint must yield ShuffledHashJoin with the
    hinted (customer) side as the build side — not broadcast, not SMJ."""
    plan = plan_of(spark, "c24_join_shuffle_hash")
    assert "ShuffledHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_log_append_avoids_single_partition_window(spark, tmp_path):
    """MarasaLog.append seqno assignment: a bulk load must never funnel the
    batch through a global empty-partition-spec window — the f3 two-phase
    shape (range exchange + pid-keyed local windows + broadcast offsets)
    is required. Pin it on the batch plan append() builds."""
    from pyspark.sql import functions as F

    from marasa_spark.catalog import load_table
    from marasa_spark.log import MarasaLog

    log = MarasaLog(spark, str(tmp_path / "audit_log"))
    records = (
        load_table(spark, SF, "orders")
        .select(
            F.lit("orders").alias("ns"),
            F.col("o_orderkey").cast("string").alias("key"),
            F.col("o_orderstatus").alias("value"),
        )
        .repartition(8)
    )
    batch = log._number_batch(records, base=0)
    plan = batch._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" in plan
    # the data-sized row_number window is keyed by _pid — never global:
    assert "row_number() windowspecdefinition(_pid#" in plan
    # the only permissible global window is the N-row offset cumsum
    assert plan.count("windowspecdefinition()") == 0


def test_log_read_set_starts_no_job(spark, tmp_path):
    """MarasaLog reads the explicit file list its journal resolves. Above
    ``spark.sql.sources.parallelPartitionDiscovery.threshold`` paths
    (default 32) InMemoryFileIndex lists them with a Spark JOB — about
    0.5 s per read on a 4-core box. Pin that building the read sets of a
    store with more than 32 live log files starts zero jobs."""
    from marasa_spark.log import MarasaLog

    log = MarasaLog(spark, str(tmp_path / "many_files"), segment_size=1)
    log.append(
        spark.createDataFrame(
            [("ns", f"k{i:02d}", "v") for i in range(40)],
            "ns string, key string, value string",
        )
    )
    log.compact()
    reader = MarasaLog(spark, log.path)  # cold: nothing resolved yet
    assert len(reader._journal(reader.log_dir).adds) > 32
    sc = spark.sparkContext
    bus = sc._jsc.sc().listenerBus()
    bus.waitUntilEmpty()
    before = set(sc.statusTracker().getJobIdsForGroup())
    reader._full_log()
    reader._union_snapshot_tail()
    bus.waitUntilEmpty()
    started = set(sc.statusTracker().getJobIdsForGroup()) - before
    assert not started, f"building the log read set started jobs {started}"


# read -> max Exchange operators in its final executed plan, measured on a
# compacted store with a tail (local[2]): the state reads fold with one
# (ns, key) shuffle, history sorts with one range exchange, namespaces
# aggregates with one, and the CDC feed is a filtered scan
LOG_READ_EXCHANGES = {
    "latest": 1,
    "lookup": 1,
    "asof": 1,
    "changes": 0,
    "history": 1,
    "namespaces": 1,
}


def test_log_read_exchange_budget(spark, tmp_path):
    from marasa_spark.log import MarasaLog

    log = MarasaLog(spark, str(tmp_path / "budget"), segment_size=3)
    log.put("a", k1="1", k2="2", k3="3")
    log.put("b", k1="x")
    log.delete("a", ["k2"])
    log.compact()
    log.put("a", k1="11", k5="5")
    log.delete("b", ["k1"])
    reads = {
        "latest": log.latest(),
        "lookup": log.lookup("a", ["k1", "k2"]),
        "asof": log.asof(5),
        "changes": log.changes(0),
        "history": log.history("a", "k1"),
        "namespaces": log.namespaces(),
    }
    for name, df in reads.items():
        df.collect()
        # AQE prints the final plan, then the initial one; count the final
        plan = df._jdf.queryExecution().executedPlan().toString()
        final = plan.split("== Initial Plan ==")[0]
        n = final.count("Exchange ") - final.count("ReusedExchange")
        assert n <= LOG_READ_EXCHANGES[name], f"{name}: {n} exchanges:\n{final}"


def test_heavy_hitters_shuffles_only_candidates(spark):
    """m29: the exact-count pass must semi-join the exploded tokens against
    the BROADCAST candidate set BEFORE the groupBy — the point of the
    two-pass plan is that the vocabulary-wide token shuffle never happens,
    only candidate tokens reach an exchange."""
    plan = plan_of(spark, "m29_heavy_hitters")
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan, plan[:1500]


def test_dup_span_shuffle_carries_hash_not_span(spark):
    """k51: every token-keyed exchange must carry the 8-byte xxhash64 of
    the span (column h), never the span string itself (column s) — span
    strings riding the shuffle is the payload-amplification bug the LSH
    band audit (above) forbids for minhash."""
    plan = plan_of(spark, "k51_dup_span_coverage")
    frags = plan.split("Exchange hashpartitioning(h#")
    assert len(frags) > 1, "expected an h-keyed exchange:\n" + plan[:1500]
    for frag in frags[1:]:
        assert " s#" not in frag[:300], (
            "span string rides the shuffle:\n" + frag[:300]
        )


def test_q21_onepass_scans_lineitem_once(spark):
    """z25's whole reason to exist: the window rewrite must touch
    lineitem in exactly ONE parquet scan, where z22's decorrelated
    EXISTS/NOT EXISTS form needs three (spine + semi + anti). Counts are
    taken on the executed AQE plan string, which prints the plan twice
    (initial + final) — hence the /2."""
    import re

    def li_scans(qid):
        plan = plan_of(spark, qid, execute=True)
        n = len(re.findall(r"Scan parquet[^\n]*lineitem", plan))
        assert n % 2 == 0, "AQE doubling assumption broke:\n" + plan[:800]
        return n // 2

    assert li_scans("z25_q21_onepass") == 1
    assert li_scans("z22_sql_frontend_q21") == 3


def test_m39_bloom_prunes_before_merge_join(spark):
    """m39: the hand-built Bloom membership test must sit on the fact side
    BEFORE the sort-merge join's exchange (prune-then-shuffle is the whole
    point), and the exact join must be SMJ — the too-big-to-broadcast shape
    the op models — not a broadcast that would make the bloom redundant."""
    from marasa_spark.registry import REGISTRY

    df = REGISTRY["m39_bloom_semijoin_prune"].fn(spark, SF)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan, "exact join is not SMJ:\n" + plan[:1200]
    # The fact-side exchange feeding the SMJ must already be downstream of
    # the bitmap filter: every hashpartitioning(l_suppkey...) fragment has
    # the element_at membership test inside it (the filter reads the map).
    frags = plan.split("Exchange hashpartitioning(l_suppkey")
    assert len(frags) > 1, "no fact-side shuffle on l_suppkey found"
    assert "element_at" in frags[1], (
        "bloom membership test is not below the fact shuffle:\n" + frags[1][:800]
    )


# ---------------------------------------------------------------------------
# §2-wide invariant: no data-sized SinglePartition window anywhere in the set
# ---------------------------------------------------------------------------

SECTION2_IDS = [
    "a1_scan_parquet", "a2_source_csv_json", "a3_sink_parquet", "a4_log_sink",
    "a5_stream_source",
    "b1_project", "b2_filter_pred", "b3_expr_case", "b4_expr_arith",
    "c1_join_inner", "c2_join_multiway", "c3_join_left", "c4_join_right",
    "c5_join_full", "c6_join_semi", "c7_join_anti", "c8_join_cross",
    "c9_join_range", "c10_join_asof", "c11_join_theta",
    "d1_agg_hash", "d2_agg_distinct", "d3_agg_rollup", "d4_agg_cube",
    "d5_agg_gsets", "d6_agg_having", "d7_agg_stats", "d8_agg_percentile",
    "d9_agg_approx", "d10_agg_collect",
    "e1_win_rank", "e2_win_analytic", "e3_win_frame_rows",
    "e4_win_frame_range", "e5_topk_per_group",
    "f1_sort_multi", "f2_topk_global",
    "g1_union_all", "g2_union_distinct", "g3_intersect", "g4_except",
    "h1_fn_string", "h2_fn_regex", "h3_fn_split_explode", "h4_fn_datetime",
    "h5_fn_math", "h6_fn_array", "h7_fn_map", "h8_fn_json", "h9_fn_hash",
    "i1_win_tumbling", "i2_win_sliding", "i3_win_session", "i4_watermark",
    "i5_stream_dedup", "i6_stateful", "i7_stream_static_join",
    "i8_output_modes",
    "j1_log_append", "j2_log_latest", "j3_log_asof", "j4_log_history",
    "j5_log_compact", "j6_log_namespaces",
    "k1_word_count", "k2_lang_stats", "k3_keyword_class", "k4_dedup_exact",
    "k5_dedup_near", "k6_sim_cosine_topk", "k7_knn_label", "k8_multimodal",
    "l1_udf_scalar", "l2_udf_pandas", "l3_udaf_pandas", "l4_grouped_map",
    "l5_udtf", "l6_map_in_arrow",
]

_CARDINALITY_COLLAPSERS = (
    "HashAggregate", "SortAggregate", "ObjectHashAggregate",
    "GlobalLimit", "LocalLimit", "TakeOrderedAndProject",
    "Scan OneRowRelation", "LocalTableScan", "BroadcastExchange",
)

_DATA_TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)


def _single_partition_windows_over_data(plan: str) -> list[str]:
    """Fragments where an Exchange SinglePartition feeds a Window/Sort AND
    its subtree reaches a raw data-table scan with no cardinality collapse
    (aggregate / limit / literal source) in between — the one plan shape
    that funnels table-sized data through one task."""
    bad = []
    frags = plan.split("Exchange SinglePartition")
    for before, after in zip(frags[:-1], frags[1:]):
        parent = "\n".join(before.splitlines()[-4:])
        if "Window" not in parent and "Sort " not in parent:
            continue  # e.g. the final stage of a scalar global aggregate
        subtree = after
        for marker in _CARDINALITY_COLLAPSERS:
            idx = subtree.find(marker)
            if idx != -1:
                subtree = subtree[:idx]
        if any(f"{t}.parquet" in subtree for t in _DATA_TABLES):
            bad.append((parent + " || Exchange SinglePartition || " + subtree)[:600])
    return bad


def test_no_section2_plan_has_data_sized_single_partition_window(spark):
    """VERDICT r6 item 1: with f1 re-registered on f3's two-phase rank
    shape, NO §2-contract plan may contain a SinglePartition exchange that
    feeds a Window/Sort directly from a raw table scan. Tiny windows over
    already-aggregated inputs (f1/f3's 16-row offset table) are exempt —
    the collapse sits between the scan and the exchange. (Kept as the
    fast contract-scoped check; the full-registry sweep below covers the
    other 225 ids.) This pin caught j4's global replay index on first
    run; the registry-wide version then caught z18/z36's global SQL
    windows — all three now ride keyed shapes."""
    offenders = {}
    for qid in SECTION2_IDS:
        plan = plan_of(spark, qid)
        bad = _single_partition_windows_over_data(plan)
        if bad:
            offenders[qid] = bad[0]
    assert not offenders, f"data-sized SinglePartition windows: {offenders}"


@pytest.mark.slow  # ~2-3 min full-registry plan build — full-tier only (r12)
def test_no_registry_plan_has_data_sized_single_partition_window(spark):
    """The same invariant swept over EVERY registered op (303 ids): no
    Exchange SinglePartition anywhere in the engine feeds a Window/Sort
    from a raw data-table scan. Costs ~3 min (it builds every plan,
    including the side-effecting sink/log ops) — that price bought two
    real catches (z18, z36) the §2 sweep couldn't see."""
    from marasa_spark.registry import REGISTRY

    offenders = {}
    for qid in sorted(REGISTRY):
        if qid in SECTION2_IDS:
            continue  # covered (faster) above
        plan = plan_of(spark, qid)
        bad = _single_partition_windows_over_data(plan)
        if bad:
            offenders[qid] = bad[0]
    assert not offenders, f"data-sized SinglePartition windows: {offenders}"


def test_k80_probe_never_rescans_corpus(spark):
    """k80: the probe-phase plan (the DataFrame the op returns) must read
    ONLY the persisted band/token index and the staged batch — the corpus
    parquet is scanned once at index-build time and never again. A
    documents.parquet scan in the probe plan would mean the 'incremental'
    op re-pays the corpus read on every daily batch."""
    plan = plan_of(spark, "k80_incremental_near_dup")
    assert "documents.parquet" not in plan, (
        "probe plan re-scans the corpus:\n" + plan[:1500]
    )
    # and the candidate join is the payload-free banded equi-join
    assert "NestedLoop" not in plan and "Cartesian" not in plan


def test_k9_intersect_evaluated_exactly_once(spark, sf_dir):
    """k9's verify cost model depends on array_intersect being evaluated
    ONCE per candidate pair. The guard is a nondeterministic-flagged
    wrapper (CASE WHEN SPARK_PARTITION_ID() >= 0) blocking predicate
    pushdown — UNDOCUMENTED optimizer behavior (VERDICT r10 #2): without
    it Catalyst substitutes the intersect into the threshold filter and
    the attach join's condition, re-evaluating it 2-3x per row on the
    non-codegen slow path (measured 831-1,059 CPU-s vs ~60 at sf0.1).
    This pin fails if a Spark upgrade starts pushing through the wrapper
    (executed plan would then show the intersect >1x) or if a
    restructure drops the barrier (SPARK_PARTITION_ID gone).

    Since the round-11 third lineage cut, the registered k9's FINAL plan
    only expands the already-checkpointed rep pairs — the verify executes
    inside minhash_lsh_pairs. So this pin inspects the same pipeline
    UNCUT (cut_lineage=False, like the band-payload audit): the verify
    subtree there is the identical optimized/codegen'd plan the
    checkpoint materialization runs."""
    from marasa_spark.catalog import load_table
    from marasa_spark.ops.dedup import minhash_lsh_pairs

    df = minhash_lsh_pairs(
        load_table(spark, sf_dir, "documents"),
        "doc_id",
        "text",
        num_hashes=32,
        bands=16,
        threshold=0.9,
        max_bucket_size=10_000,
        cut_lineage=False,
    )
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    n = final.count("array_intersect")
    assert n == 1, f"array_intersect appears {n}x in k9's uncut plan"
    assert "SPARK_PARTITION_ID() >= 0" in final, (
        "k9's pushdown barrier (nondeterministic wrapper) is gone"
    )
