"""Deduplication family for training-data pipelines (SURVEY.md §2.K k4/k5;
north star: exact, MinHash-LSH, SimHash, n-gram Jaccard dedup).

All built-in expressions (hashing via xxhash64/md5, set ops via array
functions) — no Python in the data path.

Scale notes (100 TB):
* exact dedup — one shuffle on the content hash; skew-safe (hash keys are
  uniform by construction).
* pairwise Jaccard is O(n²) — correct-but-small-scale reference; MinHash-LSH
  is the scale path: O(n·H) signature pass, candidates only within LSH
  buckets (banding), exact Jaccard verification on candidates only. With b
  bands of r rows the match probability curve is 1-(1-s^r)^b — pick
  (b, r) for the target threshold.
* banded-LSH core — the bucket cap (`banded_kb`) and the salted
  first-shared-band candidate join (`banded_pairs`) are one implementation
  for every banded signature: minhash_lsh_pairs here and
  similarity.rh_lsh_pairs differ only in how they sign and verify.
  `overlap` and `size_compatible` are the pinned-intersect verify and the
  Jaccard size prune every token-set verifier shares.
* SimHash — 64-bit signature per doc in one pass; near-dup = small Hamming
  distance; bucketing on bit-blocks gives the LSH analogue for cosine-ish
  token-weight similarity.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def tokens(text: Column, distinct: bool = True) -> Column:
    t = F.split(text, " ")
    return F.array_distinct(t) if distinct else t


def char_shingles(text: Column, n: int = 5) -> Column:
    """Character n-gram shingle set (the classic MinHash input unit)."""
    idx = F.sequence(F.lit(1), F.greatest(F.length(text) - (n - 1), F.lit(1)))
    return F.array_distinct(F.transform(idx, lambda i: text.substr(i, F.lit(n))))


def exact_dup_groups(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact dedup by content hash: one row per distinct content with the
    kept representative (min id) and the duplicate count."""
    return (
        df.select(F.md5(F.col(text_col)).alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def overlap(th_a, th_b) -> Column:
    """|A ∩ B| of two hashed token arrays, as a double, evaluated once."""
    # Project it as its OWN column: spark_partition_id() >= 0 is vacuously
    # true but nondeterministic, and predicates cannot be pushed through a
    # nondeterministic projection, so a threshold filter above it compares
    # a plain column. Without the pin the optimizer substitutes the
    # intersect into the filter (and, one rewrite further, into an attach
    # join's condition), evaluating it 2-3x per row on the slow path —
    # measured on k9 at sf0.1 over 7.3M candidates: 831 CPU-s (join
    # condition) and 1,059 CPU-s (substituted filter) vs ~60 pinned. This
    # relies on UNDOCUMENTED optimizer behavior;
    # tests/test_plan_audit.py::test_k9_intersect_evaluated_exactly_once
    # fails if a Spark upgrade starts pushing predicates through it.
    return F.when(
        F.spark_partition_id() >= 0,
        F.size(F.array_intersect(th_a, th_b)).cast("double"),
    ).otherwise(F.lit(-1.0))


def size_compatible(n_a, n_b, t: float) -> Column:
    """Jaccard size prune: J ≥ t needs min(|A|,|B|) ≥ t·max (J ≤ min/max)."""
    # The 1e-9 slack keeps the prune output-neutral under IEEE rounding: a
    # pair the verify accepts has real J ≥ t − ulp/2, hence size ratio
    # ≥ t − ~3e-16 ≫ t − 1e-9; a borderline extra survivor just reaches
    # the exact verify, which stays the sole decider (md5-checked on k9 at
    # sf0.1: 964,854 pairs, unchanged hash).
    return F.least(n_a, n_b).cast("double") >= F.lit(t - 1e-9) * F.greatest(
        n_a, n_b
    ).cast("double")


def jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float,
    shingle=None,
) -> DataFrame:
    """All-pairs exact Jaccard over distinct token sets (O(n²) reference
    implementation; use minhash_lsh_pairs at scale). ``shingle`` swaps the
    whitespace tokenizer for another Column→Column set builder (k19 passes
    char_shingles).

    Plan shape matters even for the bounded reference: joining the token
    arrays directly puts the Jaccard expression INSIDE a nested-loop join
    condition, which Spark evaluates on however few partitions the tiny
    id slice landed in (AQE coalesces a KB-sized input to ONE task — the
    n² work is compute-bound, not size-bound, so byte-based coalescing
    guesses wrong). Instead (the k9 playbook, round 11):

    * the cheap nested-loop runs on (id, set-size) rows only and applies
      the size-compatibility prune IN the pair generator — J ≥ t needs
      min(|A|,|B|) ≥ t·max (J ≤ min/max), so incompatible pairs never
      reach the pair shuffle (the 1e-9 slack keeps the prune
      output-neutral under IEEE rounding; the exact verify still
      decides);
    * the pair table repartitions (MB-sized, so it actually spreads),
      then both token sets re-attach as xxhash64-HASHED long arrays —
      primitive-specialized intersect, 8 B/token payload. Equality with
      the string-set count is exact, not probabilistic, whenever the
      corpus vocabulary is collision-free under xxhash64, which the
      shipped corpora pin in tests (word tokens AND 5-gram shingles);
      on an arbitrary user corpus a collision would silently miscount
      (same documented caveat as minhash_lsh_pairs);
    * the intersect is projected behind a nondeterministic-flagged no-op
      so the threshold filter can't re-evaluate it per row on the
      non-codegen path (k9's measured 831→60 CPU-s hazard)."""
    toks_col = (shingle or tokens)(F.col(text_col))
    t = df.select(F.col(id_col).alias("doc"), toks_col.alias("toks"))
    sized = t.select("doc", F.size("toks").alias("n"))
    pair_ids = (
        sized.select(F.col("doc").alias("doc_a"), F.col("n").alias("n_a"))
        .join(
            sized.select(F.col("doc").alias("doc_b"), F.col("n").alias("n_b")),
            (F.col("doc_a") < F.col("doc_b"))
            & size_compatible(F.col("n_a"), F.col("n_b"), threshold),
        )
        .repartition("doc_a", "doc_b")
    )
    th = t.select(
        "doc", F.transform("toks", lambda x: F.xxhash64(x)).alias("th")
    )
    pairs = pair_ids.join(
        F.broadcast(th.select(F.col("doc").alias("doc_a"), F.col("th").alias("th_a"))),
        "doc_a",
    ).join(
        F.broadcast(th.select(F.col("doc").alias("doc_b"), F.col("th").alias("th_b"))),
        "doc_b",
    )
    pairs = pairs.withColumn("inter", overlap("th_a", "th_b"))
    union = (F.col("n_a") + F.col("n_b")).cast("double") - F.col("inter")
    jac = F.col("inter") / union
    return (
        pairs.filter(jac >= threshold)
        .withColumn("jaccard", jac)
        .select("doc_a", "doc_b", "jaccard")
    )


def minhash_signature(toks: Column, num_hashes: int) -> Column:
    """MinHash signature: for seed i, min over tokens of xxhash64(i, token).
    One JVM-side expression — no UDF.

    The seed loop is a NESTED higher-order function (transform over
    sequence(0, n-1)), not n unrolled array_min subtrees: unrolling made
    Catalyst carry n copies of the token-hash expression (the optimizer
    then inlines them into every band slice and doubles them across the
    LSH self-join) and made whole-stage codegen emit ~n x the Java — a
    measured 46 s cold first-run at sf0.1 (vs 8.6 s warm) that was pure
    compile/JIT, fixed to ~13 s cold by this collapse. Values are
    identical: xxhash64(INT i, token) with i from sequence() hashes the
    same bytes as the unrolled int literal."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(num_hashes - 1)),
        lambda i: F.array_min(F.transform(toks, lambda t: F.xxhash64(i, t))),
    )


def check_banding(
    df: DataFrame, op: str, id_col: str, width: int, bands: int, selfjoin_salt: int
) -> None:
    """Reject bad banded-LSH arguments before the first Spark job."""
    if width % bands != 0:
        raise ValueError(
            f"{op}: signature length ({width}) must be divisible by bands "
            f"({bands}); trailing signature entries would be silently ignored"
        )
    # The capped-cell sentinel of banded_kb is id + 2^32; with a string id
    # the addition coerces to double and yields NULL, which makes the
    # first-shared-band predicate NULL and silently DROPS pairs (ADVICE
    # r9). Map string ids to a surrogate long upstream.
    id_type = dict(df.dtypes).get(id_col)
    if id_type not in ("tinyint", "smallint", "int", "bigint"):
        raise ValueError(
            f"{op} requires an integral id column; {id_col} is {id_type}"
        )
    if selfjoin_salt < 1:
        raise ValueError(f"selfjoin_salt must be >= 1, got {selfjoin_salt}")


def _cell(band: Column, bucket: Column) -> Column:
    """(band << 32) | bucket-low-bits: one exact long per (band, bucket)."""
    return F.shiftleft(band.cast("long"), 32).bitwiseOR(
        bucket.cast("long").bitwiseAND(F.lit(0xFFFFFFFF))
    )


def banded_kb(
    per_item: DataFrame,
    id_col: str,
    bands: int,
    max_bucket_size: int,
    weight: str | None = None,
) -> DataFrame:
    """The banded-LSH bucket cap: ``per_item`` (one row per item: id,
    ``bks`` = its ``bands`` bucket hashes, carried columns) plus ``kb``,
    the bucket array with every cell holding more than ``max_bucket_size``
    items masked out. Items are counted as rows, or as the sum of
    ``weight`` when a row stands for several items. The cap is a
    documented recall cut on degenerate keys instead of an O(bucket²)
    blowup; members of a capped cell still pair through their other
    bands."""
    # The only cross-item fact — which cells are capped — reduces through
    # a map-side-partial groupBy over thin exploded cells to ONE row of
    # capped cells (a primitive array<long>), crossJoin-broadcast onto the
    # per-item rows. On a healthy corpus it is EMPTY; it is bounded by
    # items / max_bucket_size on pathological ones (past that, swap the
    # crossJoin for an anti-join of the exploded cells).
    cells = per_item.select(
        *([weight] if weight else []), F.posexplode("bks").alias("band", "bucket")
    )
    n = F.sum(weight) if weight else F.count(F.lit(1))
    capped = (
        cells.groupBy("band", "bucket")
        .agg(n.alias("n"))
        .filter(F.col("n") > max_bucket_size)
        .agg(F.collect_list(_cell(F.col("band"), F.col("bucket"))).alias("capped"))
    )
    # kb is a PRIMITIVE array<long> so banded_pairs' first-shared-band
    # test stays scalar: a capped entry becomes id + 2^32 (outside the
    # int32 bucket range, unique per item, so it never falsely matches); a
    # genuine bucket-hash collision at an earlier band is CONSISTENT with
    # the join (both items really are in that cell, so that band emits).
    bk = lambda b: F.element_at(F.col("bks"), b + 1)  # noqa: E731
    kb = F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: F.when(
            ~F.array_contains(F.col("capped"), _cell(b, bk(b))), bk(b).cast("long")
        ).otherwise(F.col(id_col) + F.lit(1 << 32)),
    )
    return per_item.crossJoin(F.broadcast(capped)).select(
        *per_item.columns, kb.alias("kb")
    )


def banded_pairs(
    withkb: DataFrame,
    id_col: str,
    bands: int,
    selfjoin_salt: int,
    nparts: int,
    names: tuple[str, str],
    carry: tuple[str, ...] = (),
    on: Column | None = None,
    extra: tuple[Column, ...] = (),
) -> DataFrame:
    """The banded-LSH candidate join: :func:`banded_kb` rows → one row per
    unordered pair sharing a kept (band, bucket) cell, as (least id,
    greatest id) named ``names`` plus ``extra``, spread over ``nparts``
    partitions. ``on`` (an extra join predicate) and ``extra`` refer to the
    sides as ``a.*``/``b.*``, which hold only id, ``carry``, kb, band and
    bucket: payloads re-attach per unique candidate after this returns, so
    they never ride the bands× amplified exchange (test_plan_audit pins
    it). ``selfjoin_salt`` = s splits each cell's pair work s·(s+1)/2 ways;
    the pair set is identical for every s."""
    # SALT (guide §2.5 hot-key split): one dense near-dup family collides
    # in EVERY band, capping the cell self-join at ``bands`` tasks however
    # many cores exist; AQE skew split never fires on the KB-sized,
    # compute-bound partitions. Each item gets a group g = pmod(xxhash64(id),
    # s); ONE membership table carries every sub-cell copy a row serves,
    # T(g) = {(g, q): q ≥ g} ∪ {(p, g): p ≤ g} (s copies after the (g, g)
    # dedup by array_union), through ONE (band, bucket, sp, sq) exchange.
    # Measured on k9 at sf0.1 (one ~2,200-set family hot in all 16 bands,
    # 32 cores): candidate-join warm noop 4.5–5.8 s → 1.3 s at s=4.
    g = F.pmod(F.xxhash64(id_col), F.lit(selfjoin_salt)).cast("int")
    copies = F.array_union(
        F.transform(
            F.sequence(F.col("g"), F.lit(selfjoin_salt - 1)),
            lambda q: F.struct(
                F.col("g").cast("int").alias("sp"), q.cast("int").alias("sq")
            ),
        ),
        F.transform(
            F.sequence(F.lit(0), F.col("g")),
            lambda p: F.struct(
                p.cast("int").alias("sp"), F.col("g").cast("int").alias("sq")
            ),
        ),
    )
    # EXPLICIT repartitions, not ENSURE_REQUIREMENTS: the membership table
    # is byte-tiny, so AQE coalesces an implicit exchange to ONE partition
    # and the pair-expanding self-join inside that stage grinds
    # bands × family² rows on one task (measured 37 s of a 45 s k9 run at
    # sf0.1). A user-numbered repartition is exempt from coalescing.
    members = (
        withkb.select(
            id_col, *carry, "kb", F.posexplode("bks").alias("band", "bucket")
        )
        .filter(F.element_at("kb", F.col("band") + 1) < F.lit(1 << 32))
        .withColumn("g", g)
        .select(
            id_col, *carry, "kb", "band", "bucket", "g",
            F.explode(copies).alias("cell"),
        )
        .select(
            id_col, *carry, "kb", "band", "bucket", "g",
            F.col("cell.sp").alias("sp"), F.col("cell.sq").alias("sq"),
        )
        .repartition(nparts, "band", "bucket", "sp", "sq")
    )
    # The two sides are FILTERS above the one exchange (a keeps its
    # sp = g copies, b its sq = g copies) behind the nondeterministic
    # no-op: pushed below the repartition they would make the two exchange
    # subtrees differ and break the reuse (measured on k21: the
    # two-exchange variant pays the capped broadcast + codegen twice,
    # first collect 5.0 → 10.4-13.3 s).
    barrier = lambda c: F.when(  # noqa: E731
        F.spark_partition_id() >= 0, c
    ).otherwise(F.lit(True))
    a = members.filter(barrier(F.col("sp") == F.col("g"))).alias("a")
    b = members.filter(barrier(F.col("sq") == F.col("g"))).alias("b")
    # PAIR ONCE, at the FIRST band where both share a kept bucket, instead
    # of once per shared band + dropDuplicates (a dense family pushed
    # bands × family² rows through that aggregate: 83M rows for 12M pairs
    # on k9 at sf0.1, most of a 46 s cold run). The test is UNROLLED into
    # scalar kb comparisons: higher-order functions in a join condition
    # knock SortMergeJoin out of codegen (measured 300+ s at sf0.1).
    no_earlier_shared = F.lit(True)
    for bp in range(bands - 1):
        no_earlier_shared = no_earlier_shared & (
            (F.lit(bp) >= F.col("a.band"))
            | (F.col("a.kb").getItem(bp) != F.col("b.kb").getItem(bp))
        )
    # Under salting a cross-group sub-cell (sp < sq) cannot hold the
    # swapped orientation (a's sp and b's sq are their own groups, and
    # sp < sq excludes a.g = b.g), so it joins once in any id order; a
    # same-group sub-cell (sp = sq) keeps the id-order test. s = 1 is the
    # unsalted plan: one copy per side and the bare id-order test.
    ia, ib = F.col(f"a.{id_col}"), F.col(f"b.{id_col}")
    cond = (
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.bucket") == F.col("b.bucket"))
        & (F.col("a.sp") == F.col("b.sp"))
        & (F.col("a.sq") == F.col("b.sq"))
        & ((F.col("a.sp") < F.col("a.sq")) | (ia < ib))
    )
    if on is not None:
        cond = cond & on
    # the thin pairs spread again BEFORE the caller attaches payloads
    # (the jaccard_pairs rule): otherwise the verify runs inside the cell
    # join's stage, on the few hot cells a dense family hashes to
    # (measured 56 s vs 11 s on k9 at sf0.1)
    return (
        a.join(b, cond & no_earlier_shared)
        .select(
            F.least(ia, ib).alias(names[0]),
            F.greatest(ia, ib).alias(names[1]),
            *extra,
        )
        .repartition(nparts, *names)
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.8,
    max_bucket_size: int = 1000,
    cut_lineage: bool = True,
    selfjoin_salt: int = 4,
) -> DataFrame:
    """MinHash + LSH banding + exact-Jaccard verification.

    shingle→minhash→band→bucket-join: candidates are only pairs sharing at
    least one band bucket; each candidate is verified with exact Jaccard so
    the output has no false positives (recall is probabilistic, tuned by
    (bands, rows-per-band)). Banding, the bucket cap and the candidate
    self-join are the shared core (:func:`banded_kb`, :func:`banded_pairs`,
    also run by similarity.rh_lsh_pairs); this op adds the signature, the
    exact-duplicate collapse, the size prune and the Jaccard verify.

    ``cut_lineage=False`` disables the three localCheckpoint
    materializations (shared set-level prefix, banded, verified rep pairs)
    — the output is identical; use it where lineage-based recovery matters
    more than the duplicate-branch/per-action recompute (the checkpoints
    trade executor-loss recoverability for not re-running the set grouping
    per consuming branch and the verify per action), or to inspect the
    full uncut plan (tests/test_plan_audit.py does).

    ``selfjoin_salt`` (s ≥ 1) splits each (band, bucket) cell's pair work
    s·(s+1)/2 ways; the output is identical for every s (see
    :func:`banded_pairs`).

    Scale posture (100 TB): the band explode and the bucket self-join carry
    ONLY (doc, nt, kb, band, bucket) — token arrays are re-attached per
    candidate pair after dedup, so the bands× shuffle amplification never
    touches the document payload. Degenerate buckets are dropped at
    ``max_bucket_size`` docs (:func:`banded_kb`).

    Exactness assumption (ADVICE r10, library API note): the verify stage
    intersects xxhash64-HASHED token arrays. On a corpus whose distinct
    token vocabulary is collision-free under xxhash64 the emitted jaccard
    is exactly the string-set value (the shipped corpora pin this in
    tests); on an arbitrary user corpus a 64-bit collision would silently
    miscount one pair's intersection (probability ~V²/2⁶⁵ for V distinct
    tokens — orders of magnitude below the banding miss mass), with no
    runtime signal.
    """
    check_banding(df, "minhash_lsh_pairs", id_col, num_hashes, bands, selfjoin_salt)
    rows_per_band = num_hashes // bands

    all_toks = df.select(
        F.col(id_col).alias("doc"),
        tokens(F.col(text_col)).alias("toks"),
    )
    # EXACT-DUPLICATE COLLAPSE before LSH: Jaccard, the minhash signature,
    # and therefore every band bucket depend only on the token SET, so
    # docs with identical sets are interchangeable — run the whole
    # LSH+verify machinery once per distinct set (representative = min
    # doc id) and expand rep-level pairs back to doc pairs at the end.
    # This is the standard production layering (exact dedup feeds
    # near-dedup): on web-scale corpora 20-50% of documents are exact
    # dups, and here it removes their ENTIRE quadratic band-bucket mass.
    # Output equivalence is exact, not probabilistic: members share the
    # rep's signature, buckets, and kept flags, a cross-group doc pair is
    # emitted iff its rep pair is (same first-shared-band logic on
    # identical kb arrays), and a same-group pair's jaccard is n/n = 1.0,
    # the identical IEEE double the verify expression produces. The
    # bucket cap counts DOCS (sum of group sizes), exactly as uncollapsed.
    # One row per distinct set via groupBy, not a per-doc window (round 11):
    # the window formulation shuffled AND sorted 600k rows keyed by the raw
    # array<string>, then carried every doc's token array through the
    # checkpoint; the aggregate shuffles the same bytes but skips the
    # array-keyed sort — the xxhash64 prefix key makes the grouping
    # comparisons long-first (the array only breaks hash ties, so groups
    # are exactly the tset groups and the output is identical
    # unconditionally — the array stays IN the key, no collision hazard) —
    # and the checkpoint shrinks to per-SET rows. The hashed token array
    # (th) is computed HERE, once, into the checkpoint: the two verify
    # attach joins below used to re-run transform(toks, xxhash64) over the
    # whole corpus per branch per collect (~12M hashes x2 each run).
    # toks is stored SORTED (tset): every consumer is order-insensitive
    # (minhash = min over elements, nt = size, verify = intersection SIZE).
    grp = (
        all_toks.withColumn("tset", F.array_sort("toks"))
        .withColumn("_tkey", F.xxhash64("tset"))
        .groupBy("_tkey", "tset")
        .agg(
            F.min("doc").alias("gid"),
            F.count(F.lit(1)).alias("gn"),
            F.collect_list("doc").alias("docs"),
        )
        .select(
            "gid",
            "gn",
            "docs",
            F.col("tset").alias("toks"),
            F.transform("tset", lambda t: F.xxhash64(t)).alias("th"),
        )
    )
    # materialize the shared prefix ONCE (the connected_components_star
    # pattern): this scan+shuffle lineage is consumed by several branches
    # (sets ×2 broadcasts, toks_df→sig, toks_h ×2) and AQE plans each
    # broadcast subquery independently, so without the cut the grouping
    # re-executes per branch — measured 9 duplicate prefix jobs / ~4 s of
    # a 16 s sf0.1 cold build. The cut trades lineage (recompute on
    # executor loss) for one materialization; disk-backed at scale like
    # any shuffle.
    if cut_lineage:
        grp = grp.localCheckpoint(eager=True)
    toks_df = grp.select(F.col("gid").alias("doc"), "toks", "gn")
    # The signature is wrapped in the nondeterministic no-op barrier (the
    # `inter` pattern below) so CollapseProject must keep it a materialized
    # attribute: the per-band bucket transform references `sig` inside a
    # lambda, and once the projection collapses, the inlined signature
    # subtree re-evaluates PER BAND ELEMENT — bands× the whole
    # 32-hash × tokens interpreted fold (measured 0.7 → 4.9 s on the
    # sf0.1 distinct sets when the round-11 per-set projection first
    # exposed this; the old exploded shape dodged it only because the
    # analyzer's generator extraction happened to pin sig in its own
    # Project).
    sig = toks_df.withColumn(
        "sig",
        F.when(
            F.spark_partition_id() >= 0,
            minhash_signature(F.col("toks"), num_hashes),
        ).otherwise(F.array().cast("array<bigint>")),
    )
    buckets = F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: F.hash(F.slice("sig", b * rows_per_band + 1, rows_per_band)),
    )
    per_set = sig.select(
        "doc", "gn", F.size("toks").alias("nt"), buckets.alias("bks")
    )
    # second lineage cut: the cap, both self-join sides and the
    # self-pairs branch all consume this — without the cut the minhash
    # signature pass re-executes per branch. One row per SET
    # (~(8·bands+28) B).
    if cut_lineage:
        per_set = per_set.localCheckpoint(eager=True)
    # the cap counts DOCS (sum of collapsed group sizes), byte-identical
    # to the uncollapsed per-doc count
    withkb = banded_kb(per_set, "doc", bands, max_bucket_size, weight="gn")
    nparts = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    # The size prune (VERDICT r10 #1) runs IN the candidate join, before
    # the pair shuffle and any token-array copy. The pair row carries both
    # sizes (16 B) so the verify needs no size-attach joins; n_a/n_b swap
    # with the ids so they stay aligned (only their sum feeds the union
    # size, so this is hygiene, not semantics).
    swap = F.col("a.doc") > F.col("b.doc")
    cand = banded_pairs(
        withkb,
        "doc",
        bands,
        selfjoin_salt,
        nparts,
        ("doc_a", "doc_b"),
        carry=("nt",),
        on=size_compatible(F.col("a.nt"), F.col("b.nt"), threshold),
        extra=(
            F.when(swap, F.col("b.nt")).otherwise(F.col("a.nt")).alias("n_a"),
            F.when(swap, F.col("a.nt")).otherwise(F.col("b.nt")).alias("n_b"),
        ),
    )
    # token payloads join in only now — once per unique candidate pair.
    # The verify intersects HASHED token arrays (array<long>), not the
    # string arrays: ArrayIntersect on a primitive type uses the
    # specialized long hash set, and the per-pair payload copy is 8 B per
    # token instead of a full UTF8String — measured 6.7x on the verify
    # stage at sf0.1 (16.1 s -> 2.4 s cold over 12.0M candidates, output
    # byte-identical). Union size comes from the STRING-distinct counts
    # (|A|+|B|-|A∩B|), so the jaccard double is the exact same IEEE
    # expression as before. Exactness: the intersect count can only differ
    # from the string intersect if xxhash64 collides between two distinct
    # tokens of one compared pair; a vocabulary of V distinct tokens has
    # collision probability ~V^2/2^65 TOTAL (~7e-11 at V=50k — five
    # orders of magnitude below the 3e-6 banding miss mass this op
    # already carries), and tests assert countDistinct(token) ==
    # countDistinct(xxhash64(token)) on the shipped corpora, which makes
    # the equality exact, not probabilistic, on every oracle-checked run.
    # hashed token arrays come straight off the set-level checkpoint (see
    # grp above) — no per-collect re-hash pass per attach branch
    toks_h = grp.select(F.col("gid").alias("doc"), "th")
    cand = cand.join(
        toks_h.select(F.col("doc").alias("doc_a"), F.col("th").alias("th_a")),
        "doc_a",
    ).join(
        toks_h.select(F.col("doc").alias("doc_b"), F.col("th").alias("th_b")),
        "doc_b",
    )
    cand = cand.withColumn("inter", overlap("th_a", "th_b"))
    union = (F.col("n_a") + F.col("n_b")).cast("double") - F.col("inter")
    jac = F.col("inter") / union
    rep_pairs = (
        cand.filter(jac >= threshold)
        .withColumn("jaccard", jac)
        .select("doc_a", "doc_b", "jaccard")
        # boundary between verify and expansion: the verified pairs are
        # output-sized and THIN (20 B/row), while fusing verify + the 4
        # expansion/union broadcast joins into one whole-stage unit
        # generated a method so large its first runs stayed un-JIT'd
        # (measured 42.6 CPU-s cold vs 6.6 warm for the fused final
        # stage). The exchange also spreads expansion work by pair key
        # instead of inheriting the verify's candidate partitioning —
        # at scale the expansion joins shuffle on gid anyway.
        .repartition(nparts, "doc_a", "doc_b")
    )
    # Same-set pairs enter as thin SELF rep-pairs (gid, gid, 1.0) BEFORE
    # the expansion joins, so they ride the same two member-array
    # broadcasts as the cross pairs instead of a separate 2-join union
    # branch (which materialized its own broadcast copies plus a
    # dedicated max(kept) aggregate — 3 extra AQE stages). Emitted iff the
    # group has at least one KEPT band bucket — the uncollapsed pipeline's
    # condition (all members share the rep's kept flags), preserving the
    # cap's degenerate-family guard; kept-ness is read off kb (a sentinel
    # entry is doc + 2^32 ≥ 2^32, a kept bucket hash is int32-range), so
    # the probe is a per-row array scan off the per-set checkpoint.
    if threshold <= 1.0:
        self_pairs = (
            withkb.filter(F.exists("kb", lambda x: x < F.lit(1 << 32)))
            .select(
                F.col("doc").alias("doc_a"),
                F.col("doc").alias("doc_b"),
                F.lit(1.0).alias("jaccard"),
            )
        )
        rep_pairs = rep_pairs.unionAll(self_pairs)
    # third lineage cut (round 11): the verified rep-level pair set is the
    # pipeline's most expensive product (candidate join + intersect verify)
    # and, like the two cuts above, it re-executed on EVERY action on the
    # returned frame — each warm collect paid the full verify again.
    # Materializing it makes the verify run once per invocation; the
    # checkpoint is rep-pair-sized (thin doc_a/doc_b/jaccard rows), far
    # below the expanded output. Same recoverability tradeoff as above.
    if cut_lineage:
        rep_pairs = rep_pairs.localCheckpoint(eager=True)
    # Expand rep-level pairs back to doc pairs by attaching each side's
    # member-doc ARRAY off the set-level checkpoint and exploding (round
    # 11): the previous per-doc mapping join broadcast a corpus-sized
    # (doc, gid) table TWICE per action (~600k rows each at sf0.1, rebuilt
    # every warm run — most of the post-checkpoint warm cost); the
    # set-level docs table is one row per distinct set (~0.7% of the
    # corpus here), so the broadcast build is negligible and the join
    # output stays thin until the final explode. Rows are identical: each
    # rep pair matches exactly one sets row per side, and
    # explode(docs_a) x explode(docs_b) is the same cross product the
    # mapping joins produced. At 100 TB with few exact dups the sets
    # table is corpus-sized again — drop F.broadcast and these become the
    # same shuffled-on-gid joins as before, with the array payload
    # bounded by the largest duplicate family (the degenerate-family cap
    # discussion above applies). A self rep-pair expands to all ordered
    # member combos; the da < db guard (applied to self rows only) keeps
    # each unordered same-set pair exactly once — cross-group rows keep
    # both orientations collapsed via least/greatest exactly as before
    # (groups are disjoint, da ≠ db).
    sets = grp.select("gid", "docs")
    cross = (
        rep_pairs.join(
            F.broadcast(
                sets.select(F.col("gid").alias("doc_a"), F.col("docs").alias("_da"))
            ),
            "doc_a",
        )
        .join(
            F.broadcast(
                sets.select(F.col("gid").alias("doc_b"), F.col("docs").alias("_db"))
            ),
            "doc_b",
        )
        .select("doc_a", "doc_b", "jaccard", F.explode("_da").alias("da"), "_db")
        .select("doc_a", "doc_b", "jaccard", "da", F.explode("_db").alias("db"))
        .filter((F.col("doc_a") != F.col("doc_b")) | (F.col("da") < F.col("db")))
        .select(
            F.least("da", "db").alias("doc_a"),
            F.greatest("da", "db").alias("doc_b"),
            "jaccard",
        )
    )
    return cross


def connected_components_star(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iters: int = 25,
) -> DataFrame:
    """Group near-dup pairs into clusters: every node gets the minimum
    reachable id as its ``cluster`` label — the step that turns a pair
    list into keep/drop decisions (k25, k31, k47, k49).

    Alternating large-star / small-star rounds (Kiveris et al.,
    "Connected Components in MapReduce and Beyond"): min-label
    propagation needs one round per hop of cluster DIAMETER; the star
    operations contract whole trees toward their minimum node, converging
    in O(log²) rounds even on path-shaped components — the difference
    between 4 and 60 shuffles when a dup chain is long (common after
    transitive LSH merging).

    Per round: large-star hangs every strictly-larger neighbor of ``u``
    under ``min(N(u) ∪ {u})``; small-star re-hangs the smaller-or-equal
    neighborhood the same way. Each is two shuffles (a groupBy min and a
    join back on the same key — Catalyst reuses the exchange). The only
    driver-side value per round is the 2-scalar convergence probe
    (edge count + order-insensitive xxhash sum); edge lineage is cut with
    localCheckpoint per round, the standard iterative-DataFrame pattern.

    At the fixpoint the edge set is a star forest (child → component
    minimum), so the label table falls out of the final edges without a
    closure pass. Returns (node, cluster) for every node of a non-self
    pair; agreement with a union-find reference is pinned in
    tests/test_dedup_star.py. Reaching ``max_iters`` without a fixpoint
    raises RuntimeError — a partial labelling is never returned.
    """
    e = (
        pairs.select(
            F.greatest(F.col(a_col), F.col(b_col)).alias("u"),
            F.least(F.col(a_col), F.col(b_col)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    # cut the pair-source lineage before iterating: the pair source is
    # typically the most expensive plan in the pipeline (a Jaccard verify
    # or LSH candidate join), and round 1's sym/large-star would otherwise
    # re-execute it twice (without a cut, per-round re-execution once
    # took k25 21 min instead of ~1 at sf0.1).
    e = e.localCheckpoint(eager=True)
    prev: tuple[int, int] | None = None
    for _ in range(max_iters):
        # large-star over the symmetrized neighborhood
        sym = e.unionAll(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = (
            sym.groupBy("u")
            .agg(F.min("v").alias("_mn"))
            .select("u", F.least(F.col("_mn"), F.col("u")).alias("m"))
        )
        ls = (
            sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .distinct()
        )
        # small-star over the (larger → smaller)-oriented edges
        mins2 = ls.groupBy("u").agg(F.min("v").alias("m"))
        ss = (
            ls.join(mins2, "u")
            .filter(F.col("v") != F.col("m"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .unionAll(mins2.select(F.col("u"), F.col("m").alias("v")))
            .distinct()
        )
        ss = ss.localCheckpoint(eager=True)
        # order-insensitive, overflow-free (ANSI mode) edge-set fingerprint
        probe = ss.agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.bit_xor(F.xxhash64("u", "v")), F.lit(0)).alias("h"),
        ).first()
        e = ss
        cur = (int(probe["n"]), int(probe["h"]))
        if cur == prev:
            break
        prev = cur
    else:
        raise RuntimeError(
            f"connected_components_star: no fixpoint after {max_iters} rounds"
        )
    labels = e.select(F.col("u").alias("node"), F.col("v").alias("cluster")).unionAll(
        e.select(F.col("v").alias("node"), F.col("v").alias("cluster"))
    )
    return labels.groupBy("node").agg(F.min("cluster").alias("cluster"))


def simhash64(toks: Column, bits: int = 64) -> Column:
    """64-bit SimHash of a token array: per bit k, sum ±1 over token hashes'
    bit k; bit k of the result is 1 iff the sum is positive.

    The vote loop is ONE nested higher-order expression (transform over a
    mask-array literal, bit test via bitwiseAND — masks sidestep the
    shift-count-must-be-literal constraint), not ``bits`` unrolled
    aggregate subtrees: unrolling made whole-stage codegen emit ~bits×
    the Java and re-hash the token array per bit (the k9/k21 signature
    lesson — measured 2.6 s/full-corpus pass at sf0.1 unrolled). Votes
    are identical: (h & (1<<k)) != 0 tests the same bit as
    (shiftright(h, k) & 1), including the k=63 sign bit."""
    masks = F.array(
        *[
            F.lit((1 << k) if k < 63 else -(2**63)).cast("long")
            for k in range(bits)
        ]
    )
    hashes = F.transform(toks, lambda t: F.xxhash64(t))
    votes = F.transform(
        masks,
        lambda m: F.aggregate(
            hashes,
            F.lit(0),
            lambda acc, h: acc
            + F.when(h.bitwiseAND(m) != 0, F.lit(1)).otherwise(F.lit(-1)),
        ),
    )
    # pack in the SAME expression tree (zip votes with their masks and OR-
    # fold) so the votes array is evaluated exactly once per row — 64
    # element_at probes would lean on codegen subexpression elimination
    return F.aggregate(
        F.zip_with(
            votes,
            masks,
            lambda v, m: F.when(v > 0, m).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc.bitwiseOR(x),
    )


def simhash_table(
    df: DataFrame, id_col: str, text_col: str, bits: int = 64
) -> DataFrame:
    """(id, simhash) for a whole corpus — the vectorized twin of
    :func:`simhash64` (bit-identical signatures, pinned in tests).

    The Column form is a nested higher-order fold, and higher-order
    functions are INTERPRETED expressions in Spark (no doGenCode) —
    measured ~0.5 ms/doc at sf0.1, the whole per-doc loop running outside
    whole-stage codegen. This shape explodes the distinct token set once,
    hashes each token once, and computes the per-bit votes as ``bits``
    plain conditional sums inside ONE codegen'd HashAggregate, then packs
    the signature with a flat when/bitwiseOR chain — every operator on
    the JVM fast path. One shuffle on the id (the aggregate); at 100 TB
    that is the same movement class as any per-doc tokenize-and-aggregate
    pass.

    explode_outer + the null guard keep docs whose token array is empty
    (signature 0, matching the Column form's empty-fold result)."""
    tok = df.select(
        F.col(id_col).alias("_sid"),
        F.explode_outer(tokens(F.col(text_col))).alias("_tok"),
    ).withColumn("_h", F.xxhash64("_tok"))
    votes = []
    for k in range(bits):
        contrib = F.when(F.col("_tok").isNull(), F.lit(0)).otherwise(
            (F.shiftright("_h", k).bitwiseAND(F.lit(1)) * 2 - 1).cast("int")
        )
        votes.append(F.sum(contrib).alias(f"_v{k}"))
    agg = tok.groupBy("_sid").agg(*votes)
    out = F.lit(0).cast("long")
    for k in range(bits):
        bit_val = (1 << k) if k < 63 else -(2**63)
        out = out.bitwiseOR(
            F.when(F.col(f"_v{k}") > 0, F.lit(bit_val).cast("long")).otherwise(
                F.lit(0).cast("long")
            )
        )
    return agg.select(F.col("_sid").alias(id_col), out.alias("simhash"))
