"""Benchmark harness — run the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS]; print ONE JSON
line: {"metric": ..., "value": N, "unit": "sec", "queries": {...},
"build": {...}, "sf": ...}.

Protocol mirrors BASELINE.md: warmed session, per-query warm best-of-3
wall-clock of a full plan execution + collect(). This is the headline
number BASELINE.md's 2x targets are read against; A/B performance work
uses perfbench (BENCHMARK.json) instead.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from marasa_spark.registry import queries_map
from marasa_spark.session import get_spark

# headline set: BASELINE.md label -> registry ids (a label's time is the sum
# of its component queries, each warm best-of-3 — matches the survey's
# per-query protocol)
HEADLINE: dict[str, list[str]] = {
    "q_pricing_summary": ["d1_agg_hash"],
    "q_multiway_join": ["c2_join_multiway"],
    "q_semi_anti": ["c6_join_semi", "c7_join_anti"],
    "q_outer_join": ["c3_join_left"],
    "q_range_join": ["c9_join_range"],
    "q_window_rank": ["e1_win_rank", "e5_topk_per_group"],
    "q_window_frame": ["e3_win_frame_rows"],
    "q_rollup": ["d3_agg_rollup"],
    "q_distinct_agg": ["d2_agg_distinct"],
    "q_stats": ["d7_agg_stats", "d8_agg_percentile"],
    "q_setops": ["g1_union_all", "g3_intersect", "g4_except"],
    "q_string_date": ["h1_fn_string", "h4_fn_datetime"],
    "q_json": ["h8_fn_json"],
    "q_tumbling": ["i1_win_tumbling"],
    "q_session": ["i3_win_session"],
    "q_asof": ["c10_join_asof"],
    "q_word_count": ["k1_word_count"],
    "q_dedup_exact": ["k4_dedup_exact"],
    "q_cosine_topk": ["k6_sim_cosine_topk"],
    "q_latest_state": ["j2_log_latest"],
    "q_topk_global": ["f2_topk_global"],
}

RUNS = 3

# At sf0.1 the default 64 MB advisory size coalesces post-shuffle stages to
# one partition, serializing compute-bound stages such as the session-window
# merge. 1 MB spreads the orders/events shuffles (4-25 MB) across tasks; a
# real cluster at real data scale wants the 64 MB default or larger
# (OPTIMIZATION_r11.md §bench-confs).
ADVISORY_PARTITION_BYTES = "1m"


def bench_one(spark, fn, sf_dir: str) -> float:
    """BASELINE.md protocol: warmed session, best-of-3 collect() of the
    built plan (analysis/optimization done once — matches the survey's
    naive-PySpark measurement; execution is end-to-end each run)."""
    import gc

    df = fn(spark, sf_dir)
    times = []
    for _ in range(RUNS):
        t0 = time.perf_counter()
        rows = df.collect()
        times.append(time.perf_counter() - t0)
        # release collected rows + their py4j refs so later queries don't
        # pay this query's GC bill (measured: multi-second drift otherwise)
        del rows
    gc.collect()
    return min(times)


def _measure_headline(
    spark, sf_dir: str, qmap
) -> tuple[dict[str, float], dict[str, float]]:
    """Returns (warm best-of-N per label, BUILD time per label). Build =
    plan construction + FIRST collect (analysis, parquet footers, codegen/
    JIT, any index side-effects), recorded so the output witnesses
    plan-construction and first-run cost, not just warm latency (a 45 s
    first run once hid behind a 9 s warm number)."""
    results: dict[str, float] = {}
    builds: dict[str, float] = {}
    for label, qids in HEADLINE.items():
        if not all(qid in qmap for qid in qids):
            continue
        total_t = 0.0
        build_t = 0.0
        for qid in qids:
            fn = qmap[qid]
            t0 = time.perf_counter()
            fn(spark, sf_dir).collect()  # warm (plan + parquet footer + JIT)
            build_t += time.perf_counter() - t0
            total_t += bench_one(spark, fn, sf_dir)
        results[label] = round(total_t, 4)
        builds[label] = round(build_t, 4)
    return results, builds


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).removeprefix("sf") or "0.1")
    spark = get_spark(app_name="marasa_spark_bench")
    spark.conf.set(
        "spark.sql.adaptive.advisoryPartitionSizeInBytes", ADVISORY_PARTITION_BYTES
    )
    results, builds = _measure_headline(spark, sf_dir, queries_map())
    print(
        json.dumps(
            {
                "metric": "sum_warm_best_of_3_latency",
                "value": round(sum(results.values()), 4),
                "unit": "sec",
                "queries": results,
                # per-query BUILD cost (construction + first collect):
                # cold-start witness alongside the warm numbers
                "build": builds,
                "sf": sf,
            }
        )
    )


if __name__ == "__main__":
    main()
