"""Partitioning-determinism sweep (SURVEY.md §5.6): hash-oracle queries must
produce identical row-sets under different shuffle parallelism — catches
order-dependent float accumulation and missing tiebreakers before the
driver does. A representative subset covering every risk class (float aggs,
stats, percentiles, windows, top-k, joins, similarity) runs at
shuffle.partitions ∈ {1, 32}.
"""

from __future__ import annotations

import pytest

from marasa_spark.registry import REGISTRY, queries_map

queries_map()

SWEEP = [
    "d1_agg_hash",      # float sums/avgs
    "d7_agg_stats",     # variance/corr accumulation
    "d8_agg_percentile",
    "e1_win_rank",      # rank tiebreaks
    "e5_topk_per_group",
    "f2_topk_global",
    "c2_join_multiway",  # join + agg
    "i1_win_tumbling",
    "i3_win_session",
    "k6_sim_cosine_topk",  # similarity ranking
    "j2_log_latest",    # window fold
    "k38_unigram_logprob",  # avg-of-ln accumulation across partitions
    "m25_weighted_sample",  # pow-priority top-k boundary
    "d21_bitmap_distinct",  # bitmap merge associativity
    "c10_join_asof",    # union-sort asof: window order under repartition
    "z2_asof_tolerance_bucketed",  # bucket-replicated asof under repartition
    "k56_temperature_sampling",    # pow-share rounding boundary
    "k58_pq_encode",    # argmin codeword tiebreaks
    "k73_bpe_train",    # orderBy+limit(1) top-pair boundary per merge round
    "k75_bm25_topk",    # rounded-score top-k boundary
    "k78_mlm_masking",  # array_sort discipline over collect_list order
    "m43_market_basket",  # per-item rank tiebreaks
]


# fast-tier smoke subset (one per risk class: float aggs, rank tiebreaks,
# global top-k, asof window order, bitmap merge); the rest of the sweep is
# the heavy tier — deselected from the default driver-stampable run (see
# conftest); MARASA_FULL_SUITE=1 restores it
SMOKE = {
    "d1_agg_hash",
    "e1_win_rank",
    "f2_topk_global",
    "c10_join_asof",
    "d21_bitmap_distinct",
}


@pytest.mark.parametrize(
    "qid",
    [pytest.param(q, marks=() if q in SMOKE else pytest.mark.slow) for q in SWEEP],
)
def test_partitioning_determinism(qid, spark, sf_dir):
    spec = REGISTRY[qid]
    orig = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "1")
        rows1 = sorted(map(repr, spec.fn(spark, sf_dir).collect()))
        spark.conf.set("spark.sql.shuffle.partitions", "32")
        rows32 = sorted(map(repr, spec.fn(spark, sf_dir).collect()))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", orig)
    assert rows1 == rows32, f"{qid}: result depends on shuffle partitioning"
