"""SQL front-end parity (SURVEY.md §3.2 EP3): both entry points — the
DataFrame API and ``spark.sql`` — must produce identical results, since
they compile to the same Catalyst IR.

Strategy: feed each operator's ORACLE SQL to ``spark.sql``. Oracles using
DuckDB-only functions/casts don't parse in Spark and are skipped; oracles
that deliberately compensate for a dialect difference (h4 shifts dayofweek
by +1 for DuckDB) are expected mismatches. Everything else must agree with
the DataFrame build — and enough must run (≥25) for the dual-front-end
claim to be real.
"""

from __future__ import annotations

import pytest

from marasa_spark.catalog import register_views
from marasa_spark.registry import REGISTRY, queries_map

queries_map()

# oracles that intentionally encode a DuckDB-ism and so must NOT match when
# run through Spark's parser (the compensation is the point)
EXPECTED_DIALECT_MISMATCH = {
    "h4_fn_datetime",  # oracle computes dayofweek+1 (DuckDB is 0-based)
}


# fast-tier smoke subset: dialect-shared z-row texts (TPC-H Q1/Q3/Q5/Q10/Q14)
# whose oracle must parse in Spark and agree with the DataFrame build
SMOKE = [
    "z9_sql_frontend_q1",
    "z7_sql_frontend_q3",
    "z10_sql_frontend_q5",
    "z11_sql_frontend_q10",
    "z34_sql_frontend_q14",
]


def _frontend_outcome(spark, sf_dir, qid: str) -> str:
    """'agreed' / 'mismatched' when the oracle SQL runs through spark.sql,
    'skipped' when it does not parse or run there (DuckDB-only dialect)."""
    spec = REGISTRY[qid]
    try:
        sql_rows = sorted(map(repr, spark.sql(spec.oracle).collect()))
    except Exception:
        return "skipped"
    df_rows = sorted(map(repr, spec.fn(spark, sf_dir).collect()))
    return "agreed" if sql_rows == df_rows else "mismatched"


@pytest.mark.parametrize("qid", SMOKE)
def test_sql_frontend_smoke(qid, spark, sf_dir):
    register_views(spark, sf_dir)
    assert _frontend_outcome(spark, sf_dir, qid) == "agreed"


# heavy tier: the whole registry — deselected from the default
# driver-stampable run (see conftest); MARASA_FULL_SUITE=1 restores it
@pytest.mark.slow
def test_sql_frontend_parity(spark, sf_dir):
    register_views(spark, sf_dir)
    outcomes = {"agreed": [], "skipped": [], "mismatched": []}
    for qid, spec in sorted(REGISTRY.items()):
        if spec.oracle is not None:
            outcomes[_frontend_outcome(spark, sf_dir, qid)].append(qid)
    agreed, skipped = outcomes["agreed"], outcomes["skipped"]

    unexpected = [q for q in outcomes["mismatched"] if q not in EXPECTED_DIALECT_MISMATCH]
    assert not unexpected, f"SQL vs DataFrame front-end disagree: {unexpected}"
    assert len(agreed) >= 25, (
        f"only {len(agreed)} oracles ran through spark.sql "
        f"(agreed={agreed}, skipped={len(skipped)})"
    )
