"""Internal mirror of the driver's t2 check (SURVEY.md §5.2).

For every registered query: run the Spark DataFrame and the DuckDB oracle
on the same sf0.01 parquet and compare column names + an order-insensitive
canonicalized multiset of rows, with EXACT value equality (the driver hashes
values, so anything we'd have to fuzz would fail there too).
Rows-only queries (oracle=None) are executed and smoke-checked.
"""

from __future__ import annotations

import os

import pytest

from marasa_spark.registry import REGISTRY, queries_map


queries_map()  # populate REGISTRY
ALL_IDS = sorted(REGISTRY)

_DS = None


def _driver_sim():
    """Load tools/driver_sim.py as a module (it is a script, not a
    package member) to share its canonical compare and type-hazard logic
    instead of forking them."""
    global _DS
    if _DS is None:
        import importlib.util

        path = os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "tools",
            "driver_sim.py",
        )
        spec = importlib.util.spec_from_file_location("driver_sim_mod", path)
        _DS = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(_DS)
    return _DS


@pytest.mark.parametrize("qid", ALL_IDS)
def test_oracle_parity(qid, spark, duck, sf_dir):
    spec = REGISTRY[qid]
    sdf = spec.fn(spark, sf_dir)
    scols = sdf.columns
    srows = sdf.collect()

    if spec.oracle is None:
        # rows-only contract: runs, has a stable schema, row count sane
        assert len(scols) > 0
        assert len(srows) >= 0
        return

    atable = duck.execute(spec.oracle).arrow()
    # driver-grade type strictness: the value canon below collapses
    # Decimal→float, which HIDES the d14/k63 hazard class (DuckDB
    # HUGEINT/decimal128 vs Spark bigint — identical values, different
    # driver hash). Reuse driver_sim's hazard check verbatim so the fast
    # mirror fails exactly where the driver would.
    hazards = _driver_sim().type_hazards(sdf, atable)
    assert not hazards, f"{qid}: type hazards: {hazards}"

    rel = duck.execute(spec.oracle)
    dcols = [d[0] for d in rel.description]
    drows = rel.fetchall()

    assert sorted(scols) == sorted(dcols), (
        f"{qid}: column names differ: spark={sorted(scols)} duck={sorted(dcols)}"
    )
    assert len(srows) == len(drows), (
        f"{qid}: row count differs: spark={len(srows)} duck={len(drows)}"
    )
    canon_rows = _driver_sim().canon_rows
    s = canon_rows(scols, [tuple(r) for r in srows])
    d = canon_rows(dcols, drows)
    if s != d:
        mism = [(a, b) for a, b in zip(s, d) if a != b][:5]
        raise AssertionError(f"{qid}: value mismatch; first diffs: {mism}")


# -- tiny-scale edge sweep --------------------------------------------------
# sf0.001 (50 docs, 100 events... driver's t1 smoke scale) exercises
# empty/singleton-group edges the sf0.01 run never hits: slicing ops whose
# doc_id bounds exceed the corpus, samples larger than the population,
# splits with empty strata. Curated to the ops with scale-sensitive logic;
# the full-registry sweep is `MARASA_SIM_SF_DIR=... python tools/driver_sim.py`.
TINY_SF = "/root/testdata/sf0.001"
TINY_IDS = [
    "k4_dedup_exact",       # zero duplicate groups at this scale
    "k5_dedup_near",        # zero qualifying pairs
    "k19_ngram_jaccard",    # doc_id<200 slice exceeds the 50-doc corpus
    "k20_edit_distance",    # doc_id<50 slice == whole corpus
    "m24_sample_fixed",     # fixed-k sample vs small population
    "m26_dataset_split",    # split fractions over 50 docs
    "m2_stratified_sample", # strata with very few members
    "j9_log_retention",     # mid-log cutoff on a short log
    "m6_gap_fill",          # per-user grids from sparse events
    "e5_topk_per_group",    # groups smaller than k
    "k47_dedup_decisions",  # empty near-dup components at tiny scale
]


@pytest.fixture(scope="session")
def tiny_duck():
    import duckdb

    from marasa_spark.catalog import TABLES

    con = duckdb.connect()
    con.execute("PRAGMA threads=4")
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{TINY_SF}/{t}.parquet')"
        )
    yield con
    con.close()


@pytest.mark.parametrize("qid", TINY_IDS)
def test_tiny_scale_parity(qid, spark, tiny_duck):
    spec = REGISTRY[qid]
    sdf = spec.fn(spark, TINY_SF)
    scols = sdf.columns
    srows = sdf.collect()
    if spec.oracle is None:
        assert len(scols) > 0
        return
    rel = tiny_duck.execute(spec.oracle)
    dcols = [d[0] for d in rel.description]
    drows = rel.fetchall()
    assert sorted(scols) == sorted(dcols)
    assert len(srows) == len(drows), (
        f"{qid}@sf0.001: row count differs: spark={len(srows)} duck={len(drows)}"
    )
    canon_rows = _driver_sim().canon_rows
    assert canon_rows(scols, [tuple(r) for r in srows]) == canon_rows(dcols, drows)


def test_driver_window_pinned():
    """The driver reports correctness for only the sorted-first-50 registry
    ids. A new registration sorting before 'd17_group_concat' silently
    evicts a driver-verified row (it happened in round 4: a13/a14 pushed
    d18-d20 out). This test makes any window shift an explicit decision."""
    queries_map()
    _driver_sim().check_driver_window(REGISTRY)
