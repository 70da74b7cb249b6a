"""Large-star/small-star connected components (k25/k31/k47/k49) and
MinHash Jaccard estimation (k50) behavior pins.

The star algorithm must label every node with its component minimum on
any input, so its labels are checked against a union-find reference on
the real near-dup graph AND on synthetic shapes chosen to stress
convergence (a long path is the worst case for label propagation and the
motivating case for star rounds).
"""

from __future__ import annotations

import pytest

from marasa_spark.catalog import load_table
from marasa_spark.ops import dedup as D
from marasa_spark.registry import REGISTRY, queries_map


def _union_find_labels(edges: list[tuple[int, int]]) -> dict[int, int]:
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # fully compress, then relabel every node with its component MINIMUM
    roots = {n: find(n) for n in parent}
    comp_min: dict[int, int] = {}
    for n, r in roots.items():
        comp_min[r] = min(comp_min.get(r, n), n)
    return {n: comp_min[r] for n, r in roots.items()}


SYNTHETIC_GRAPHS = {
    # worst case for label propagation: diameter = n-1
    "path64": [(i, i + 1) for i in range(64)],
    "two_components": [(1, 2), (2, 3), (10, 11), (11, 12), (12, 10)],
    "star_hub_max": [(100, i) for i in range(5)],  # hub has the LARGEST id
    "dup_edges_both_orientations": [(1, 2), (2, 1), (1, 2), (2, 3)],
    # two chains and an isolated pair: multi-hop chains are the case a
    # single propagation round misses
    "chains_and_pair": [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22)],
}


@pytest.mark.parametrize("name", sorted(SYNTHETIC_GRAPHS))
def test_cc_star_matches_union_find(spark, name):
    edges = SYNTHETIC_GRAPHS[name]
    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    got = {
        r["node"]: r["cluster"]
        for r in D.connected_components_star(df).collect()
    }
    assert got == _union_find_labels(edges)


def test_cc_star_matches_union_find_on_real_pairs(spark, sf_dir):
    pairs = D.jaccard_pairs(
        load_table(spark, sf_dir, "documents"), "doc_id", "text", threshold=0.9
    )
    star = {
        r["node"]: r["cluster"] for r in D.connected_components_star(pairs).collect()
    }
    edges = [(r["doc_a"], r["doc_b"]) for r in pairs.collect()]
    assert star == _union_find_labels(edges)
    assert len(star) > 0  # the seeded testdata contains near-dup clusters


def test_path_converges_in_log_rounds(spark):
    """A 64-node path must converge well under the 25-round cap (the whole
    point of the star algorithm vs 63 propagation rounds)."""
    edges = SYNTHETIC_GRAPHS["path64"]
    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    got = D.connected_components_star(df, max_iters=10).collect()
    assert {r["cluster"] for r in got} == {0}
    assert len(got) == 65


def test_cc_star_raises_without_fixpoint(spark):
    """Reaching max_iters before the edge set stops changing raises: a
    capped run never returns a partial labelling as if it were final."""
    df = spark.createDataFrame(SYNTHETIC_GRAPHS["path64"], "doc_a long, doc_b long")
    with pytest.raises(RuntimeError, match="no fixpoint"):
        D.connected_components_star(df, max_iters=1)


def test_minhash_estimate_error_bound(spark, sf_dir):
    """k50: signature-agreement Jaccard estimates track exact Jaccard within
    the H=64 binomial error bound (mean |err| well inside 1.5 sigma-bar,
    no pathological outlier)."""
    queries_map()
    rows = REGISTRY["k50_minhash_jaccard_est"].fn(spark, sf_dir).collect()
    assert len(rows) > 0
    errs = [r["abs_err"] for r in rows]
    assert max(errs) <= 0.35, max(errs)
    assert sum(errs) / len(errs) <= 0.10, sum(errs) / len(errs)
    for r in rows:
        assert 0.0 <= r["jaccard_est"] <= 1.0


# ---------------------------------------------------------------------------
# Adversarial dense-family soak (VERDICT r10 #5): the corpus shape that
# caused k9's original 46 s cliff — one near-dup family holding ~50% of all
# documents, colliding into the same (band, bucket) in every band.
# ---------------------------------------------------------------------------


def _dense_family_corpus(spark, n_family: int = 1500, n_noise: int = 1500):
    """~50% of docs are one near-dup family: 24 shared tokens + 2
    distinguishing tokens per doc (pairwise Jaccard 24/28 ≈ 0.857, well
    over the 0.8 banding knee, so the family's minhash bands collide
    heavily); the rest are high-entropy noise docs."""
    from pyspark.sql import functions as F

    base = " ".join(f"common{i}" for i in range(24))
    fam = [
        (i, f"{base} fam{i}a fam{i}b")
        for i in range(n_family)
    ]
    noise = [
        (n_family + i, " ".join(f"n{i}w{j}" for j in range(20)))
        for i in range(n_noise)
    ]
    return spark.createDataFrame(fam + noise, "doc_id long, text string")


def test_dense_family_bucket_cap_bounds_quadratic_mass(spark):
    """The structural bound that keeps k9's wall-time finite on a dense
    family: with the per-bucket cap C, every KEPT (band, bucket) group has
    ≤ C docs, so the self-join's iteration mass Σ g² over kept buckets is
    ≤ C · Σ g ≤ C · bands · n — LINEAR in corpus size for fixed C, however
    adversarial the collisions. Asserted by reproducing the banding
    pipeline and measuring Σ g² with and without the cap on a corpus whose
    dense family (~50% of docs) drives the uncapped mass quadratic."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    docs = _dense_family_corpus(spark)
    n = docs.count()
    bands, cap = 16, 200
    toks = docs.select(
        F.col("doc_id").alias("doc"), D.tokens(F.col("text")).alias("toks")
    )
    sig = toks.withColumn("sig", D.minhash_signature(F.col("toks"), 32))
    buckets = F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: F.hash(F.slice("sig", b * 2 + 1, 2)),
    )
    banded = sig.select("doc", F.posexplode(buckets).alias("band", "bucket"))
    g = banded.groupBy("band", "bucket").agg(F.count(F.lit(1)).alias("g"))
    row = g.agg(
        F.sum(F.col("g") * F.col("g")).alias("all_mass"),
        F.sum(F.when(F.col("g") <= cap, F.col("g") * F.col("g"))).alias(
            "kept_mass"
        ),
        F.max("g").alias("gmax"),
    ).first()
    # the family really is adversarial: its bucket dwarfs the cap …
    assert row["gmax"] >= 1000, f"family did not collide: gmax={row['gmax']}"
    # … driving uncapped mass past the linear bound (≈16·n_family² here;
    # measured 27.9M vs the 9.6M cap bound on this corpus) …
    assert row["all_mass"] > 2 * cap * bands * n
    # … while the capped mass obeys the linear bound the cap guarantees
    assert row["kept_mass"] <= cap * bands * n


def test_dense_family_soak_cap_engages_and_recall_cut_is_documented_shape(
    spark,
):
    """End-to-end soak on the ~50%-dense corpus: (1) with the cap far above
    the family size, k9's pipeline emits the full quadratic family pair
    set (the answer IS quadratic — ~n_family²/2 pairs); (2) with the cap
    below the family size, every family band-bucket is dropped, the
    documented recall cut engages (family pairs vanish — members still
    pair through their other bands only if some band keeps them), and the
    run completes quickly instead of grinding bucket² per band; (3) noise
    docs never produce false positives in either mode."""
    docs = _dense_family_corpus(spark, n_family=900, n_noise=900)

    uncapped = D.minhash_lsh_pairs(
        docs, "doc_id", "text",
        num_hashes=32, bands=16, threshold=0.8, max_bucket_size=100_000,
    )
    n_un = uncapped.count()
    # the family is pairwise ≥ 0.857 ⇒ all ~900·899/2 pairs are true pairs
    assert n_un == 900 * 899 // 2, n_un

    capped = D.minhash_lsh_pairs(
        docs, "doc_id", "text",
        num_hashes=32, bands=16, threshold=0.8, max_bucket_size=200,
    )
    n_cap = capped.count()
    # recall cut: the family bucket (900 docs) exceeds the cap in EVERY
    # band, so its pairs are dropped — the documented degenerate-family
    # guard, not silent truncation (max_bucket_size is an explicit knob)
    assert n_cap == 0, n_cap

    # no false positives from noise in either mode: every emitted pair is
    # within the family id range
    bad = uncapped.filter("doc_a >= 900 or doc_b >= 900").count()
    assert bad == 0


@pytest.mark.parametrize("salt", [1, 3, 4])
def test_selfjoin_salt_is_output_invariant(spark, salt):
    """The round-11 hot-cell salt split (selfjoin_salt) must be a pure
    parallelism knob: for ANY s the emitted (doc_a, doc_b, jaccard) set is
    identical to the unsalted shape — a pair meets in exactly one salted
    sub-cell (cross-group at (min g, max g), same-group deduped by doc
    order). Runs on the dense-family corpus, the exact shape the salt
    exists to spread (one family hot in every band)."""
    docs = _dense_family_corpus(spark, n_family=300, n_noise=300)
    kw = dict(
        num_hashes=32, bands=16, threshold=0.8, max_bucket_size=100_000
    )
    ref = sorted(
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in D.minhash_lsh_pairs(
            docs, "doc_id", "text", selfjoin_salt=1, **kw
        ).collect()
    )
    got = sorted(
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in D.minhash_lsh_pairs(
            docs, "doc_id", "text", selfjoin_salt=salt, **kw
        ).collect()
    )
    assert got == ref
    # the family is pairwise above threshold ⇒ the full quadratic pair set
    assert len(ref) == 300 * 299 // 2
