"""``olap_mix`` and ``text_dedup``: registry requests over generated tables.

A request is what a user pays for: calling the registered builder (plan
construction) and delivering its result through ``collect_arrow``. One
pass runs every id of the workload once, in an order drawn from the seed.
Expected outputs are computed during set-up from the registry's DuckDB
oracles over the same generated Parquet.
"""

from __future__ import annotations

import os

import duckdb

import check
import datagen
from runner import Request

# the registry ids behind bench.py's headline labels
OLAP_IDS = (
    "d1_agg_hash", "c2_join_multiway", "c3_join_left", "c6_join_semi",
    "c7_join_anti", "c9_join_range", "c10_join_asof", "d2_agg_distinct",
    "d3_agg_rollup", "d7_agg_stats", "d8_agg_percentile", "e1_win_rank",
    "e3_win_frame_rows", "e5_topk_per_group", "f2_topk_global",
    "g1_union_all", "g3_intersect", "g4_except", "h1_fn_string",
    "h4_fn_datetime", "h8_fn_json", "i1_win_tumbling", "i3_win_session",
    "j2_log_latest", "k1_word_count", "k4_dedup_exact", "k6_sim_cosine_topk",
)
TEXT_IDS = (
    "k1_word_count", "k4_dedup_exact", "k5_dedup_near",
    "k9_dedup_minhash_lsh", "k60_containment_prefix_join",
    "k6_sim_cosine_topk", "k75_bm25_topk",
)


class RegistryWorkload:
    """Closed loop, one client, over a fixed set of registry ids."""

    def __init__(self, name, ids, sf, docs, spark, work_dir, seed, break_check=False):
        from marasa_spark.registry import oracle_sql_map, queries_map

        self.name = name
        self.ids = ids
        self.sf = sf
        self.docs = docs
        self.spark = spark
        self.seed = seed
        self.data_dir = os.path.join(work_dir, "tables")
        self.builders = queries_map()
        self.oracles = oracle_sql_map()
        self.break_check = break_check
        self.expected: dict[str, check.Expected] = {}
        self.sizes: dict[str, object] = {}
        self._order_rng = None

    # -- set-up ------------------------------------------------------------

    def prepare_inputs(self) -> None:
        """Generate the tables and compute expected outputs (repeatable)."""
        import numpy as np

        tables = datagen.make_tables(self.seed, self.sf, self.docs, self.docs)
        nbytes = datagen.write_tables(tables, self.data_dir)
        con = duckdb.connect()
        try:
            con.execute("PRAGMA threads=4")
            for t in tables:
                path = os.path.join(self.data_dir, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
            self.expected = {
                q: check.expect_oracle(con.execute(self.oracles[q]).arrow())
                for q in self.ids
                if q in self.oracles
            }
        finally:
            con.close()
        if self.break_check:
            # deliberately wrong expectation: proves a mismatch is counted
            q = next(iter(self.expected))
            self.expected[q] = check.Expected(
                self.expected[q].rows, self.expected[q].columns, "0" * 64
            )
        self.sizes = {
            "parquet_bytes": nbytes,
            "rows": {t: tables[t].num_rows for t in ("lineitem", "orders", "events", "documents", "embeddings")},
        }
        self._order_rng = np.random.default_rng(self.seed)

    def prepare_store(self) -> None:
        pass

    # -- traffic -----------------------------------------------------------

    def passes(self):
        while True:
            order = self._order_rng.permutation(len(self.ids))
            yield [self._request(self.ids[i]) for i in order]

    def _request(self, qid: str) -> Request:
        builder = self.builders[qid]

        def plan():
            return builder(self.spark, self.data_dir)

        def verify(tbl) -> bool:
            exp = self.expected.get(qid)
            if exp is None:  # no oracle: the first run fixes rows + schema
                self.expected[qid] = check.expect_shape(tbl)
                return True
            return check.matches(exp, tbl)

        return Request(qid, "query", plan, verify, build_span="queries.build")

    def extra_metrics(self, loop_s: float, requests: int) -> dict:
        if self.name != "text_dedup":
            return {}
        # each request runs one op over the whole corpus
        return {"docs_per_s": (self.docs * requests / len(self.ids) / loop_s, "docs/s")}

    def provenance(self) -> dict:
        return {"sf": self.sf, "docs": self.docs, **self.sizes}

    def layer_counts(self) -> dict:
        return {}


def olap_mix(spark, work_dir, seed, tiny=False, break_check=False):
    return RegistryWorkload(
        "olap_mix", OLAP_IDS, 0.001 if tiny else 0.01, 500, spark, work_dir, seed, break_check
    )


def text_dedup(spark, work_dir, seed, tiny=False, break_check=False):
    return RegistryWorkload(
        "text_dedup", TEXT_IDS, 0.001, 100 if tiny else 500, spark, work_dir, seed, break_check
    )

