"""Similarity search over embedding columns (SURVEY.md §2.K k6/k7; north
star: ANN for training-data pipelines).

All variants are pure built-in higher-order functions (zip_with/aggregate)
— JVM-side, no UDFs in the hot path. Cosine math is double-cast and
sequential-fold so the DuckDB oracles can reproduce it bit-for-bit.

Scale paths:
* brute force (`cosine_topk`) — block-partitioned crossJoin; at 100 TB the
  query side is small (a batch of probes) and gets broadcast, so the big
  side streams without a shuffle: cost O(|Q|·N) FLOPs, embarrassingly
  parallel.
* IVF (`ivf_assign` + `ivf_topk`) — coarse quantizer: vectors are assigned
  to their nearest centroid once (a tiny broadcast join), probes search
  only their cluster → the scan prunes to N/K per probe. Centroids would
  come from k-means at real scale; any deterministic fixed set works for
  the operator (the driver check uses the first K vectors).
* random-hyperplane LSH (`rh_lsh_pairs`) — sign-bit signatures banded
  through the banded-LSH core in ops/dedup.py (bucket cap + salted
  candidate join, shared with minhash_lsh_pairs), then an exact-cosine
  verify per unique candidate: O(n·bands) shuffle, no false positives.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from marasa_spark.ops.dedup import banded_kb, banded_pairs, check_banding


def r2(col: Column, n: int = 2) -> Column:
    """Lazy proxy for queries._util.r2: importing that module executes the
    queries package __init__ (which registers every operator and imports
    this module back) — a module-level import here makes `import
    marasa_spark.ops.similarity` order-dependent (llm.py's `from
    ops.similarity import _rh_signs` hits the partially-initialized
    module when ops.similarity is imported first)."""
    from marasa_spark.queries._util import r2 as _r2

    return _r2(col, n)


def dot(a: Column, b: Column) -> Column:
    """Sequential double-precision dot product of two float arrays."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    q_id: str = "q_id",
    q_vec: str = "q_vec",
    c_id: str = "c_id",
    c_vec: str = "c_vec",
    sim_decimals: int = 6,
) -> DataFrame:
    """Brute-force top-k cosine neighbors per query (self-match excluded).

    The (small) query side is broadcast against the corpus — no shuffle of
    the big side; ranking is on the rounded similarity with the corpus id
    as tiebreak, so results are stable across engines and partitionings.

    Norms are factored out per side (round 12, the k11/rh_lsh/ivf_assign
    discipline): ``dot(q, c) / (norm_q * norm_c)`` with each norm computed
    once per query row (at broadcast build) / once per corpus row is the
    identical IEEE expression to ``cosine(q, c)`` inline — same fold
    order, same operands — at a third of the per-pair interpreted-fold
    work (guide §1.2).
    """
    pairs = corpus.withColumn("_cnrm", norm(F.col(c_vec))).join(
        F.broadcast(queries.withColumn("_qnrm", norm(F.col(q_vec)))),
        F.col(q_id) != F.col(c_id),
    ).withColumn(
        "sim",
        r2(
            dot(F.col(q_vec), F.col(c_vec)) / (F.col("_qnrm") * F.col("_cnrm")),
            sim_decimals,
        ),
    )
    w = Window.partitionBy(q_id).orderBy(F.col("sim").desc(), F.col(c_id))
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(q_id, c_id, "sim", "rank")
    )


def ivf_assign(
    corpus: DataFrame,
    centroids: DataFrame,
    c_id: str = "c_id",
    c_vec: str = "c_vec",
    cent_id: str = "cent_id",
    cent_vec: str = "cent_vec",
    nprobe: int = 1,
    metric: str = "cosine",
) -> DataFrame:
    """Assign every vector to its ``nprobe`` nearest centroids (max cosine
    or min squared-L2 per ``metric``; min-id tiebreak). Centroids are
    broadcast; one pass over the corpus.

    ``nprobe=1`` is the INDEX-side assignment (each vector lives in exactly
    one inverted list). ``nprobe>1`` is the QUERY-side knob: probing the
    top-P cells trades scan cost (P/K of the corpus per probe) for recall —
    the boundary-vector misses that single-cell probing suffers (a query
    near a Voronoi edge has true neighbors just across it) are exactly what
    multi-probe recovers. k48 measures the trade as a queryable table.

    Round-12 shape notes (output bit-identical, pinned by the oracle
    parity mirror and the in-cluster exactness tests):

    * cosine factors the per-vector norms OUT of the per-(vector,
      centroid) expression: ``dot(v, c) / (norm_v * norm_c)`` with each
      norm computed once per corpus row / once per broadcast centroid is
      the same IEEE expression as ``cosine(v, c)`` evaluated inline —
      identical fold order, identical operands — but the K-way score loop
      pays one dim-element fold instead of three (higher-order folds are
      interpreted, guide §1.2: the per-task work was 3× what the math
      needs). Requires ``c_id`` values to be unique (every caller's corpus
      is keyed by its id column).
    * ``nprobe=1`` (the common index-side path, also Lloyd's assignment
      step inside kmeans_centroids) computes the argbest per vector as ONE
      map-side-partial aggregate — ``max(struct(csim, -cent_id))`` /
      ``min(struct(csim, cent_id))`` reproduces the (score, cent_id)
      tiebreak exactly — instead of a row_number window: the window
      shuffled AND sorted K rows per vector with the embedding array
      riding the exchange (guide §2.3/§2.4); the aggregate reduces to one
      row per vector map-side, so only corpus-count rows cross the wire.
      ``nprobe>1`` keeps the window (a top-P per key needs the sort)."""
    if metric == "cosine":
        corpus = corpus.withColumn("_vnrm", norm(F.col(c_vec)))
        centroids = centroids.withColumn("_cnrm", norm(F.col(cent_vec)))
        score = r2(
            dot(F.col(c_vec), F.col(cent_vec))
            / (F.col("_vnrm") * F.col("_cnrm")),
            6,
        )
        order = F.col("csim").desc()
    elif metric == "l2":
        score = r2(l2sq(F.col(c_vec), F.col(cent_vec)), 6)
        order = F.col("csim").asc()
    else:
        raise ValueError(f"metric must be 'cosine' or 'l2', got {metric!r}")
    sims = corpus.join(F.broadcast(centroids)).withColumn("csim", score)
    if nprobe == 1:
        if metric == "cosine":
            # max over (csim, -cent_id) = highest score, then LOWEST cent_id
            best = F.max(
                F.struct(
                    F.col("csim").alias("s"), (-F.col(cent_id)).alias("nc")
                )
            )
            cluster = (-F.col("_best.nc")).alias("cluster")
        else:
            # min over (csim, cent_id) = lowest distance, then lowest cent_id
            best = F.min(
                F.struct(F.col("csim").alias("s"), F.col(cent_id).alias("nc"))
            )
            cluster = F.col("_best.nc").alias("cluster")
        return (
            sims.groupBy(c_id)
            # c_vec is functionally determined by the unique c_id, so
            # first() is deterministic here (all group values identical)
            .agg(best.alias("_best"), F.first(c_vec).alias(c_vec))
            .select(c_id, c_vec, cluster)
        )
    w = Window.partitionBy(c_id).orderBy(order, F.col(cent_id))
    return (
        sims.withColumn("crank", F.row_number().over(w))
        .filter(F.col("crank") <= nprobe)
        .select(c_id, c_vec, F.col(cent_id).alias("cluster"))
    )


def _rh_signs(num_bits: int, dim: int, seed: int) -> list[list[float]]:
    """Deterministic ±1 random-hyperplane matrix (num_bits × dim), derived
    from sha256 so every executor/plan-build sees identical planes without
    shipping state. Rademacher (±1) projections satisfy the same
    Johnson-Lindenstrauss/SimHash guarantees as Gaussian planes."""
    import hashlib

    signs = []
    for b in range(num_bits):
        row = []
        for i in range(dim):
            h = hashlib.sha256(f"rh:{seed}:{b}:{i}".encode()).digest()
            row.append(1.0 if h[0] & 1 else -1.0)
        signs.append(row)
    return signs


def rh_lsh_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    threshold: float = 0.35,
    num_bits: int = 32,
    bands: int = 16,
    seed: int = 7,
    max_bucket_size: int = 5000,
    sim_decimals: int = 6,
    selfjoin_salt: int = 1,
) -> DataFrame:
    """Random-hyperplane LSH near-dup pairs over an embedding column — the
    bucketed scale path for embedding-cosine dedup (the all-pairs variant is
    the bounded reference).

    sign-bit signature → band over r = num_bits/bands bits → bucket join →
    exact-cosine verification, so the output has no false positives; recall
    is 1-(1-p^r)^b with p = 1 - θ/π per SimHash/Charikar.

    Banding, the bucket cap and the candidate self-join are
    dedup.banded_kb + dedup.banded_pairs, the core minhash_lsh_pairs runs
    (see those for the cap, the pair-once test, the salt split and the
    explicit repartitions); this op adds the signature and the cosine
    verify:

    * the signature is ONE nested higher-order expression (transform over
      an array<array<double>> plane literal), not num_bits unrolled
      aggregate subtrees — unrolling made codegen emit ~num_bits× the
      Java (the k9 46 s-cold lesson) and re-inlined the fold per band;
    * vector payloads attach per unique candidate pair, pre-cast to
      array<double> with their norms precomputed per VECTOR (the old
      shape re-derived both norms per candidate pair — a dim-element fold
      ×2 ×pairs);
    * the dot product is pinned behind a nondeterministic-flagged no-op
      so the threshold filter can't re-evaluate it on the non-codegen
      path (k9's measured 831→60 CPU-s hazard, same pin);
    * the cap counts vectors (``max_bucket_size``);
    * ``selfjoin_salt`` defaults to 1 HERE (4 in minhash_lsh_pairs): the
      shipped embedding corpus has no dense family, so at bench scale the
      salt buys nothing and costs ~+4 s of first-run codegen/JIT
      (measured interleaved at sf0.1: first collect 5.0-5.4 s at s=1 vs
      10.1 s at s=4, warm identical) — a corpus with a giant near-dup
      family should pass s ≥ 4.
    """
    check_banding(df, "rh_lsh_pairs", id_col, num_bits, bands, selfjoin_salt)
    r = num_bits // bands
    nparts = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    vecs = df.select(
        F.col(id_col).alias("vid"),
        F.col(vec_col).cast("array<double>").alias("v"),
    )
    # planes as ONE array<array<double>> literal; sign bits in one nested
    # transform — identical folds (same element order, same doubles) to the
    # unrolled per-bit aggregates this replaces
    planes = F.array(
        *[
            F.array(*[F.lit(s) for s in row])
            for row in _rh_signs(num_bits, dim, seed)
        ]
    )
    bits = F.transform(
        planes,
        lambda p: F.when(
            F.aggregate(
                F.zip_with(F.col("v"), p, lambda x, y: x * y),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            > 0,
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    # pack each band's r bits little-endian off the shared bits column —
    # identical bucket values to the unrolled shape this replaces (the
    # packing loop is Python-side over literal indices; r and bands are
    # small static ints)
    band_cols = []
    for j in range(bands):
        bucket = F.lit(0)
        for p in range(r):
            bucket = bucket + F.shiftleft(
                F.element_at("bits", j * r + p + 1), p
            )
        band_cols.append(bucket)
    buckets = F.array(*band_cols)
    # bits behind the nondeterministic no-op barrier (the k9 sig lesson):
    # the bucket packing references `bits` num_bits times, and once
    # CollapseProject inlines the projection the whole num_bits×dim plane
    # fold re-evaluates per reference.
    sig = vecs.withColumn(
        "bits",
        F.when(F.spark_partition_id() >= 0, bits).otherwise(
            F.array().cast("array<int>")
        ),
    )
    # the cap and both self-join sides consume this; without the cut the
    # signature projection (the dominant num_bits×dim fold over the
    # corpus) re-executes per branch
    per_vec = sig.select("vid", buckets.alias("bks")).localCheckpoint(eager=True)
    withkb = banded_kb(per_vec, "vid", bands, max_bucket_size)
    cand = banded_pairs(
        withkb, "vid", bands, selfjoin_salt, nparts, ("vec_a", "vec_b")
    )
    # per-VECTOR norm, computed once (the old per-pair cosine() re-derived
    # both norms per candidate); same IEEE fold as norm()
    vn = vecs.select("vid", "v", norm(F.col("v")).alias("nrm"))
    cand = cand.join(
        vn.select(
            F.col("vid").alias("vec_a"),
            F.col("v").alias("ea"),
            F.col("nrm").alias("na"),
        ),
        "vec_a",
    ).join(
        vn.select(
            F.col("vid").alias("vec_b"),
            F.col("v").alias("eb"),
            F.col("nrm").alias("nb"),
        ),
        "vec_b",
    )
    # dot product pinned behind the nondeterministic no-op (see k9): the
    # threshold filter compares the projected column, the fold runs once
    cand = cand.withColumn(
        "dp",
        F.when(
            F.spark_partition_id() >= 0,
            dot(F.col("ea"), F.col("eb")),
        ).otherwise(F.lit(0.0)),
    )
    sim = r2(F.col("dp") / (F.col("na") * F.col("nb")), sim_decimals)
    return (
        cand.withColumn("sim", sim)
        .filter(F.col("sim") >= threshold)
        .select("vec_a", "vec_b", "sim")
    )


def kmeans_centroids(
    corpus: DataFrame,
    k: int,
    dim: int,
    iters: int = 5,
    c_id: str = "c_id",
    c_vec: str = "c_vec",
    metric: str = "cosine",
) -> DataFrame:
    """Lloyd's k-means over an embedding column, cosine (or squared-L2,
    per ``metric``) assignment + elementwise-mean update. Returns a
    centroids DataFrame (cent_id, cent_vec) for ivf_assign.

    Init is deterministic (the k lowest-id vectors). Per iteration: one
    broadcast-join assignment pass over the corpus + a groupBy(cluster)
    with dim avg() aggregates. The ONLY driver-side data per iteration is
    the k×dim centroid model (what MLlib's KMeans also collects) — the
    corpus itself never leaves the executors, so the pass scales linearly.
    Empty clusters keep their previous centroid."""
    spark = corpus.sparkSession
    w = Window.orderBy(c_id)
    init = (
        corpus.orderBy(c_id)
        .limit(k)
        .select(
            (F.row_number().over(w) - 1).alias("cent_id"),
            F.col(c_vec).cast("array<double>").alias("cent_vec"),
        )
    )
    cents = {r["cent_id"]: list(r["cent_vec"]) for r in init.collect()}
    for _ in range(iters):
        cent_df = spark.createDataFrame(
            [(cid, vec) for cid, vec in sorted(cents.items())],
            "cent_id long, cent_vec array<double>",
        )
        assigned = ivf_assign(corpus, cent_df, c_id=c_id, c_vec=c_vec, metric=metric)
        means = (
            assigned.groupBy("cluster")
            .agg(*[F.avg(F.col(c_vec)[i].cast("double")).alias(f"m{i}") for i in range(dim)])
            .collect()
        )
        for row in means:
            cents[row["cluster"]] = [row[f"m{i}"] for i in range(dim)]
    return spark.createDataFrame(
        [(cid, vec) for cid, vec in sorted(cents.items())],
        "cent_id long, cent_vec array<double>",
    )


def knn_label_vote(neighbors: DataFrame, labels: DataFrame, q_id: str, c_id: str, label: str) -> DataFrame:
    """Majority label among each query's neighbors (deterministic: max
    count, then min label)."""
    counted = (
        neighbors.join(labels, on=c_id)
        .groupBy(q_id, label)
        .agg(F.count(F.lit(1)).alias("votes"))
    )
    w = Window.partitionBy(q_id).orderBy(F.col("votes").desc(), F.col(label))
    return (
        counted.withColumn("vrank", F.row_number().over(w))
        .filter(F.col("vrank") == 1)
        .select(q_id, F.col(label).alias("pred_label"), "votes")
    )


def l2sq(a: Column, b: Column) -> Column:
    """Sequential double-precision squared-L2 distance of two float arrays
    (same fold order as :func:`dot`, so a DuckDB ``list_sum(list_transform)``
    oracle matches bit-for-bit)."""
    return F.aggregate(
        F.zip_with(
            a,
            b,
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def pq_encode(
    corpus: DataFrame,
    codebooks: DataFrame,
    n_sub: int,
    sub_dim: int,
    c_id: str = "c_id",
    c_vec: str = "c_vec",
    round_dist: bool = True,
) -> DataFrame:
    """Product-quantization encode: split each vector into ``n_sub``
    contiguous subvectors and replace each with the id of its nearest
    codeword (min squared-L2, min-id tiebreak) from that subspace's
    codebook — the memory side of IVF-PQ ANN (Jégou et al., "Product
    Quantization for Nearest Neighbor Search", TPAMI 2011): 64 floats
    become ``n_sub`` small ints, and distances against the full corpus are
    later estimated from ``n_sub`` table lookups (ADC) instead of 64
    multiplies.

    ``codebooks`` has columns (cent_id, ``c_vec``) holding FULL-dimension
    vectors; subspace s uses its slice — callers pass either data-derived
    codewords (the k58 oracle shape) or per-subspace k-means output
    re-assembled to full width (k59).

    Scale shape: ONE corpus pass regardless of ``n_sub`` — the vector
    explodes to (vec, subspace, subvector) rows, joins the broadcast
    LONG-format codebook on the subspace id, takes the argmin through a
    single window on (vec, subspace), and pivots back to wide columns
    with one conditional-aggregation groupBy on the vector id. Total data
    movement: 1 broadcast + 2 shuffles (window, pivot) — not the
    4×(window+rejoin) a per-subspace loop costs (measured: 19 exchanges
    → 6 under AQE; pinned in tests/test_plan_budget.py). Output: (``c_id``,
    code_0..code_{n_sub-1}, err_0..err_{n_sub-1}) with per-subspace
    quantization error (rounded at 6 decimals when ``round_dist``,
    matching the r2 oracle rule)."""
    sub = corpus.select(
        F.col(c_id),
        F.posexplode(
            F.array(
                *[
                    F.slice(F.col(c_vec), s * sub_dim + 1, sub_dim)
                    for s in range(n_sub)
                ]
            )
        ).alias("_s", "_v"),
    )
    cb_long = codebooks.select(
        F.col("cent_id"),
        F.posexplode(
            F.array(
                *[
                    F.slice(F.col(c_vec), s * sub_dim + 1, sub_dim)
                    for s in range(n_sub)
                ]
            )
        ).alias("_s", "_cv"),
    )
    d = sub.join(F.broadcast(cb_long), "_s").withColumn(
        "_dist", l2sq(F.col("_v"), F.col("_cv"))
    )
    if round_dist:
        d = d.withColumn("_dist", r2(F.col("_dist"), 6))
    w = Window.partitionBy(c_id, "_s").orderBy(F.col("_dist").asc(), F.col("cent_id"))
    picked = (
        d.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(F.col(c_id), "_s", F.col("cent_id").cast("int").alias("_code"), "_dist")
    )
    aggs = []
    for s in range(n_sub):
        aggs.append(
            F.max(F.when(F.col("_s") == s, F.col("_code"))).alias(f"code_{s}")
        )
        aggs.append(
            F.max(F.when(F.col("_s") == s, F.col("_dist"))).alias(f"err_{s}")
        )
    return picked.groupBy(c_id).agg(*aggs)
