"""Shuffle/exchange budget pins for the headline queries (SURVEY.md §4's
posture made regression-proof): each op's executed plan may not contain
MORE Exchange operators (shuffle or broadcast) than the count measured
when its plan shape was last reviewed. Fewer is always fine — the pin
only fails when a restructure quietly ADDS a data movement step, which
at 100 TB is the regression class that matters most.

Counts include BroadcastExchange on purpose: turning a broadcast into a
second shuffle (or adding a redundant broadcast) is exactly what this
should catch. ReusedExchange is excluded — reuse is the optimization,
not a new movement.
"""

from __future__ import annotations

import pytest

from marasa_spark.registry import REGISTRY, queries_map

queries_map()

# qid -> max allowed (Exchange count minus ReusedExchange), measured at
# sf0.01 with the repo session confs on the reviewed plans
EXCHANGE_BUDGET = {
    "d1_agg_hash": 2,
    "c2_join_multiway": 10,
    "c6_join_semi": 2,
    "c7_join_anti": 2,
    "c3_join_left": 2,
    "c9_join_range": 4,
    "e1_win_rank": 2,
    "e5_topk_per_group": 2,
    "e3_win_frame_rows": 2,
    "d3_agg_rollup": 2,
    "d2_agg_distinct": 4,
    "d7_agg_stats": 2,
    # d8/d16 (round-11 histogram-selection restructure): the data-sized
    # movements are the per-(group,bucket) counts shuffle and the target-
    # bucket rank window's shuffle; the rest are bucket-count-sized window
    # exchanges and the tiny broadcast of the target table (measured 10 at
    # sf0.01, AQE initial+final double-print)
    "d8_agg_percentile": 10,
    "d16_agg_median": 10,
    "g1_union_all": 0,
    "g3_intersect": 4,
    "g4_except": 6,
    "h1_fn_string": 0,
    "h4_fn_datetime": 0,
    "h8_fn_json": 2,
    "i1_win_tumbling": 2,
    "i3_win_session": 2,
    "c10_join_asof": 2,
    "k1_word_count": 2,
    "k4_dedup_exact": 2,
    "k6_sim_cosine_topk": 4,
    "j2_log_latest": 2,
    "f2_topk_global": 0,
    # round-5 additions, measured on the reviewed plans
    "z1_asof_tolerance": 2,
    "z2_asof_tolerance_bucketed": 4,
    "z5_asof_nearest": 6,
    "m32_hilbert_layout": 2,
    "k56_temperature_sampling": 8,
    "k57_dataset_card": 4,
    "k58_pq_encode": 6,
    "i14_incremental_stream_checkpoint": 2,
    "z7_sql_frontend_q3": 6,
    # round-6 additions, measured on the reviewed plans
    "m34_merge_upsert": 4,
    "m35_schema_evolution": 2,
    "k61_pii_redaction": 0,
    "z9_sql_frontend_q1": 2,
    "z10_sql_frontend_q5": 10,
    "z11_sql_frontend_q10": 8,
    "z12_sql_frontend_q18": 13,
    "z13_sql_frontend_q4": 4,
    # z14's 1999-cutoff active set is small enough that AQE re-plans the
    # anti join to broadcast at runtime; the doubled initial+final AQE
    # plan print counts 6 (real movement: distinct shuffle + broadcast +
    # final group = 3, one of them now a broadcast instead of an SMJ side)
    "z14_sql_frontend_cte_anti": 6,
    "z15_sql_frontend_q17": 6,
    "z16_sql_frontend_q7": 6,
    "m36_metadata_only_agg": 2,
    "m37_merge_delete": 6,
    "z17_sql_frontend_rollup": 2,
    "z18_sql_frontend_interval_range": 2,
    "z19_sql_frontend_bag_setops": 8,
    # k63's 12 are dominated by metadata-sized per-source aggregates (20
    # rows) + their broadcasts; the corpus-scale path is one scan + one
    # final groupBy
    "k63_mixture_reweight": 12,
    "k64_dedup_keep_best": 2,
    # k65's 23 are the waterline derivation over the 20-ROW per-source
    # table (sort window + three broadcasts of 1-20 row frames); the
    # corpus-scale path is still one scan + one final groupBy
    "k65_mixture_waterfill": 23,
    # z20-z24: measured on the reviewed decorrelated plans — z22's 10
    # are the three hash-join passes over lineitem (semi + anti + spine),
    # z24's 4 the window-over-join lateral decorrelation
    "z20_sql_frontend_q13": 6,
    "z21_sql_frontend_q16": 8,
    "z22_sql_frontend_q21": 10,
    "z23_sql_frontend_q22": 10,
    "z24_sql_frontend_lateral_topk": 4,
    # m38: two per-key partial-agg shuffles feeding the full-outer merge
    # join; k66: the f3 two-phase rank (range repartition + 16-row offset
    # broadcast) then the shard regroup; k67: bigram bucket counts (256-row
    # frames broadcast back) + the per-doc regroup
    "m38_merge_skew_delta": 4,
    "k66_shard_pack": 14,
    "k67_dsir_importance": 20,
    # k68 is a pure stateless map pass — ZERO exchanges, pinned at zero
    "k68_jl_projection": 0,
    # z25: pure-window form — one lineitem scan (audited in
    # test_plan_audit) and no join-back, 10 exchanges vs z22's 10 with
    # a third of the fact IO
    "z25_q21_onepass": 10,
    # k69: the f3 two-phase rank per epoch (range repartition + tiny
    # offset windows broadcast back), measured under the repo session
    "k69_epoch_shuffle": 15,
    # k70: two-phase prefix sum — range repartition + per-partition sums
    # + offset broadcast + final batch regroup
    "k70_prefix_sum_batching": 14,
    "z26_sql_frontend_q11": 6,
    "z27_sql_frontend_q15": 12,
    # z28: part-side disjunction broadcast + one agg shuffle (AQE
    # initial+final print); z29: four broadcast dims + the year groupBy
    "z28_sql_frontend_q19_disjunctive": 4,
    "z29_sql_frontend_q8_share": 12,
    # k71: count shuffles on (w1,w2)/w1 + the V scalar + per-doc regroup,
    # count tables re-attached as broadcasts (AQE initial+final print);
    # k72: one scan -> 4-row aggregate + the two tiny funnel-table joins
    "k71_bigram_lm_logprob": 16,
    "k72_filter_cascade": 10,
    # m39: bitmap build (bucket groupBy + single-row fold + broadcast) +
    # the two SMJ-side shuffles, AQE initial+final print
    "m39_bloom_semijoin_prune": 12,
    # z30-z35 (measured on the reviewed plans, AQE initial+final print):
    # z30 pure pushdown scan + 1-row final agg; z31's 21 is the
    # decorrelated Q2 — the correlated min's OWN 4-way join tree runs as
    # a second broadcast-dim chain feeding a grouped-min SMJ on
    # (price, partkey), then the DISTINCT shuffle; z32 three broadcast
    # dims + orderkey shuffle + group shuffle; z33/z34 one fact shuffle
    # (or broadcast part) + tiny final agg; z35 two stacked semi joins
    # + the (suppkey, partkey) HAVING shuffle
    # continuation-session ops (measured, AQE initial+final print):
    # k73's returned frame reads the per-iteration localCheckpoints (m40's
    # discipline — an exchange here means the checkpoint cut broke);
    # k75 double-prints its broadcast-back chain (tiny aggs), the
    # fact-sized movement is one shuffle; d23's totals are windows over
    # the ~10-row cell table (one fact shuffle + 3 tiny window
    # exchanges); k77's 4 = distinct + the (term, block) regroup
    "k73_bpe_train": 0,
    "k74_bpe_encode": 4,
    "k75_bm25_topk": 20,
    "k76_lexical_diversity": 4,
    "k77_inverted_index": 4,
    "m41_k_anonymity": 2,
    "m42_psi_drift": 8,
    "d23_chi_square": 4,
    "e10_gaps_islands": 4,
    # l8's 6 = the semi-join prune's broadcast + the two cogroup
    # co-partitioning shuffles (measured after the prune-before-Python
    # fix; the prune costs one broadcast and saves shipping the filtered
    # corpus to Python)
    "l8_cogrouped_map": 6,
    # m43: basket self-join shuffle + pair groupBy + the two-branch union's
    # rank shuffle; z38: the VALUES LocalRelation broadcasts, one agg
    # shuffle (AQE initial+final print)
    "m43_market_basket": 9,
    "z38_sql_frontend_values": 4,
    "z39_sql_frontend_filter_ilike": 4,
    "z30_sql_frontend_q6": 2,
    "z31_sql_frontend_q2": 21,
    "z32_sql_frontend_q9": 10,
    "z33_sql_frontend_q12": 4,
    "z34_sql_frontend_q14": 4,
    "z35_sql_frontend_q20": 8,
    # z40/z41: one data shuffle each (8-band FILTER agg fused into one
    # pass; channel-union rollup's Expand below a single exchange) —
    # 2 = AQE initial+final print. z42: 2 broadcasts + agg shuffle +
    # the ~125-row window's keyed exchange, doubled by the AQE print
    "z40_sql_frontend_q88_shape": 2,
    "z41_sql_frontend_q5_shape": 2,
    "z42_sql_frontend_q67_shape": 8,
    # z43: the three EXISTS channels broadcast + customer-side agg; z44:
    # two series' pre-agg + window shuffles and the full join's exchanges
    # (AQE double-print, no nested loop in either)
    "z43_sql_frontend_q35_shape": 10,
    "z44_sql_frontend_q51_shape": 12,
    # z45: AQE double-print; the FINAL plan's fact joins are all broadcast
    # semi joins into the lineitem scan, the INTERSECT runs at key-domain
    # size (its exchanges carry distinct partkeys), one brand agg shuffle.
    # z46: pre-agg + series window on the same key prefix. z47: the two
    # period aggs shuffle on the SAME key, join co-partitioned under AQE.
    "z45_sql_frontend_q14_shape": 23,
    "z46_sql_frontend_q47_shape": 4,
    "z47_sql_frontend_q58_shape": 6,
    # z48: count-band agg collapses the fact table before the key-domain
    # join; z49: (order, part) co-partition for the returns left join +
    # supplier rollup (AQE double-print on both)
    "z48_sql_frontend_q34_shape": 4,
    "z49_sql_frontend_q93_shape": 6,
    # e12: AQE double-print of {the (user,bucket) local-window shuffle,
    # the totals partial-agg shuffle (~users x B rows), the offsets
    # window's user shuffle, offsets join} — same decomposition as e11
    # with rank-family locals
    "e12_rank_family_two_phase": 10,
    # z50: grouping-sets Expand below ONE agg exchange + the fact join's
    # broadcast (AQE double-print); z51: the decorrelated chain — fact
    # pre-agg, customer attach, nation agg, key-domain joins (all at or
    # below key-domain size, AQE double-print); z52: three channel aggs
    # on the SAME key + the co-partitioned full-outer chain (double-print)
    "z50_sql_frontend_q18_shape": 4,
    "z51_sql_frontend_q1_shape": 16,
    "z52_sql_frontend_q78_shape": 8,
    # z53: the fact pre-agg + two window shuffles (nation series + global
    # series) + the period join, AQE double-print; z54: freq HAVING agg,
    # its semi join back into the fact scan, the priority rollup; z55:
    # three channel DISTINCTs + the two INTERSECT key-domain joins + the
    # segment join/agg (all at or below key-domain size, double-print)
    "z53_sql_frontend_q31_shape": 19,
    "z54_sql_frontend_q23_shape": 8,
    "z55_sql_frontend_q38_shape": 22,
    # z56: fact pre-agg to (nation x month) + the (nk, yr) framed-agg
    # window shuffle + the (nk) ordered lag/lead window shuffle, with the
    # dim broadcasts, AQE double-print; z57: the one (custkey) window
    # shuffle, double-printed — the RANGE frame adds no movement
    "z56_sql_frontend_q57_shape": 8,
    "z57_sql_frontend_rolling_30d_sum": 2,
    # the media ops (k41, k81, k83-k95): scan -> synth_payloads pandas_udf
    # -> map_payloads mapInPandas decode, row-parallel end to end (measured
    # 0 at sf0.001/0.01/0.1 for all 15); k96: split/sequence/slice/explode
    # in one projection — all shuffle-FREE by construction and must stay
    # that way
    "k41_media_header_decode": 0,
    "k81_png_pixel_stats": 0,
    "k83_png_truecolor_interlaced": 0,
    "k84_png_colortype_matrix": 0,
    "k85_wav_sample_stats": 0,
    "k86_png_subbyte_depths": 0,
    "k87_jpeg_gray_decode": 0,
    "k88_audio_frame_features": 0,
    "k89_gif_frame_sample": 0,
    "k90_jpeg_color_decode": 0,
    "k91_jpeg_420_decode": 0,
    "k92_wav_g711_stats": 0,
    "k93_mp4_box_stats": 0,
    "k94_wav_float24_stats": 0,
    "k95_bmp_pixel_stats": 0,
    "k96_chunk_overlap": 0,
    # e13: AQE double-print of {the (user,bucket) local-row_number shuffle,
    # the totals partial-agg shuffle, the offsets window's user shuffle,
    # the offsets join, the (user, frame_q) median groupBy} — the K-way
    # fan-out happens inside the last exchange's map side, no extra hop
    "e13_moving_median_two_phase": 10,
    # e11: AQE double-print of {window's (user,bucket) shuffle, the
    # partial-agged totals shuffle (~users x B rows), the offsets window's
    # user shuffle, offsets broadcast} — one data-sized movement total
    "e11_running_sum_two_phase": 8,
    # d24: AQE initial+final double-print; the FINAL plan holds exactly two
    # data-sized movements (the range partition, reused by the counts
    # branch, + the window's (pid, group) co-partition) — the rest are
    # metadata-row aggs and the two broadcasts
    "d24_percentile_two_phase": 23,
    # k9 after the round-11 THIRD lineage cut (verified rep pairs): the
    # whole candidate/verify machinery — band shuffles, thin-pair
    # repartitions, kb/toks_h broadcasts — runs inside the three
    # localCheckpoint materializations and is invisible here; the visible
    # plan is the expansion only (the two member-array broadcasts +
    # explodes, AQE initial+final print). Measured 4 at sf0.01, stable
    # over 3 runs; any growth means an expansion-stage movement was added
    # or a checkpoint stopped cutting.
    "k9_dedup_minhash_lsh": 4,
    # k21 keeps only the per-vector signature checkpoint, so the whole
    # candidate/verify plan stays visible (AQE initial+final double-
    # print): capped-cell aggregate + its broadcast, the ONE shared
    # salted membership repartition (round-11 hot-cell split — both join
    # sides are barrier-pinned filters above it, so the exchange stays
    # reused exactly like the unsalted shape), the thin-pair
    # repartitions and the vector-payload broadcasts. Measured 21 at
    # sf0.01, stable over 3 runs.
    "k21_embed_lsh_neardup": 21,
    # m40: the returned frame reads the last per-iteration localCheckpoint
    # (iteration shuffles run in earlier jobs), so the final plan is a
    # projection — any exchange appearing here means the checkpoint
    # discipline broke
    "m40_pagerank": 0,
    # k52 after the round-12 restructure: the assignment runs inside the
    # localCheckpoint, so the visible plan is the within-cluster pair join
    # (y side broadcast), the dropped-distinct aggregate and the final
    # left join (AQE initial+final double-print). Measured 7 at sf0.01,
    # stable over 3 runs; growth means the checkpoint stopped cutting or
    # the pair join regrew a shuffle side.
    "k52_semdedup": 7,
    # k60 after the round-12 restructure (no checkpoint — the whole plan
    # is visible, AQE double-print): the hashed-token df aggregate, the
    # prefix regroup, the candidate distinct + thin-pair repartition, and
    # the two verify broadcasts. Measured 14 at sf0.01, stable over 3
    # runs; the r11 shape measured ~2x this with string-keyed exchanges.
    "k60_containment_prefix_join": 14,
}


@pytest.mark.parametrize("qid", sorted(EXCHANGE_BUDGET))
def test_exchange_budget(spark, sf_dir, qid):
    df = REGISTRY[qid].fn(spark, sf_dir)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    n = plan.count("Exchange ") - plan.count("ReusedExchange")
    assert n <= EXCHANGE_BUDGET[qid], (
        f"{qid}: {n} exchanges > budget {EXCHANGE_BUDGET[qid]} — a data "
        f"movement step was added:\n" + plan[:1500]
    )
