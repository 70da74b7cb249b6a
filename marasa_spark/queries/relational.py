"""Groups B (project/filter/expressions), F (sort/limit), G (set ops) —
SURVEY.md §2.B/F/G.

All pure built-in expressions: Catalyst pushes the B-group predicates and
projections into the Parquet scan (visible as PushedFilters/ReadSchema in
.explain), f2 plans as TakeOrderedAndProject (no global sort materialized),
and the G-group set ops are hash-based distincts/unions that scale out on
the shuffle key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from marasa_spark.catalog import load_table
from marasa_spark.ops.skew import global_prefix
from marasa_spark.queries._util import r2, r2sql
from marasa_spark.registry import register

# ---------------------------------------------------------------------------
# B — projection / filter / expressions
# ---------------------------------------------------------------------------

B1_ORACLE = """
SELECT c_custkey AS id, c_name AS name, c_acctbal AS bal FROM customer
"""


@register("b1_project", oracle=B1_ORACLE, group="B")
def b1_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column pruning + aliasing — ReadSchema should list exactly 3 cols."""
    return load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("id"),
        F.col("c_name").alias("name"),
        F.col("c_acctbal").alias("bal"),
    )


B2_ORACLE = """
SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderpriority
FROM orders
WHERE o_orderstatus IN ('F', 'O')
  AND o_totalprice BETWEEN 50000 AND 300000
  AND (o_orderpriority LIKE '1-%' OR o_orderpriority LIKE '2-%')
  AND NOT (o_orderstatus = 'O' AND o_totalprice < 100000)
"""


@register("b2_filter_pred", oracle=B2_ORACLE, group="B")
def b2_filter_pred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AND/OR/NOT, IN, BETWEEN, LIKE — all pushed to the Parquet scan."""
    o = load_table(spark, sf_dir, "orders")
    return o.filter(
        F.col("o_orderstatus").isin("F", "O")
        & F.col("o_totalprice").between(50000, 300000)
        & (F.col("o_orderpriority").like("1-%") | F.col("o_orderpriority").like("2-%"))
        & ~((F.col("o_orderstatus") == "O") & (F.col("o_totalprice") < 100000))
    ).select("o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority")


B3_ORACLE = """
SELECT
  c_custkey,
  CASE WHEN c_acctbal < 0 THEN 'neg'
       WHEN c_acctbal < 5000 THEN 'low'
       ELSE 'high' END                                  AS band,
  coalesce(nullif(c_mktsegment, 'BUILDING'), 'OTHER')   AS seg2,
  CAST(c_custkey AS VARCHAR)                            AS key_str
FROM customer
"""


@register("b3_expr_case", oracle=B3_ORACLE, group="B")
def b3_expr_case(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CASE WHEN / COALESCE / NULLIF / cast."""
    c = load_table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.when(F.col("c_acctbal") < 0, "neg")
        .when(F.col("c_acctbal") < 5000, "low")
        .otherwise("high")
        .alias("band"),
        F.coalesce(F.nullif(F.col("c_mktsegment"), F.lit("BUILDING")), F.lit("OTHER")).alias(
            "seg2"
        ),
        F.col("c_custkey").cast("string").alias("key_str"),
    )


B4_ORACLE = f"""
SELECT l_orderkey, l_linenumber,
       {r2sql("l_extendedprice * (1 - l_discount) * (1 + l_tax)")} AS gross
FROM lineitem
"""


@register("b4_expr_arith", oracle=B4_ORACLE, group="B")
def b4_expr_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-row computed column (identical IEEE op order on both engines)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        r2(
            F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax"))
        ).alias("gross"),
    )


# ---------------------------------------------------------------------------
# F — sort / limit
# ---------------------------------------------------------------------------

F1_ORACLE = """
SELECT o_orderkey,
       nullif(o_orderpriority, '5-LOW') AS prio,
       o_totalprice,
       row_number() OVER (
         ORDER BY nullif(o_orderpriority, '5-LOW') DESC NULLS LAST,
                  o_totalprice DESC, o_orderkey) AS rn
FROM orders
WHERE o_totalprice > 450000
"""


@register("f1_sort_multi", oracle=F1_ORACLE, group="F")
def f1_sort_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-key sort with explicit NULLS LAST; rn materializes the order so
    the order-insensitive hash still verifies ordering semantics. rn is
    :func:`~marasa_spark.ops.skew.global_prefix`'s parallel rank, not a
    global row_number() window (one task for every surviving row); the
    range partitioner honors nulls-last, and the unique o_orderkey
    tiebreaker makes rn exact on either side of a range boundary."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 450000)
    prio = F.nullif(F.col("o_orderpriority"), F.lit("5-LOW"))
    base = o.select("o_orderkey", prio.alias("prio"), "o_totalprice")
    keys = [
        F.col("prio").desc_nulls_last(),
        F.col("o_totalprice").desc(),
        F.col("o_orderkey"),
    ]
    return (
        global_prefix(base, keys, 16)
        .select(
            "o_orderkey", "prio", "o_totalprice", (F.col("_before") + 1).alias("rn")
        )
        .orderBy(*keys)
    )


F2_ORACLE = """
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 10
"""


@register("f2_topk_global", oracle=F2_ORACLE, group="F")
def f2_topk_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k → TakeOrderedAndProject (per-partition heap + driver
    merge, never a full sort — the 100 TB-safe plan). Unique tiebreaker
    keeps the row set deterministic."""
    return (
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# G — set operations
# ---------------------------------------------------------------------------

G1_ORACLE = """
SELECT c_custkey AS key FROM customer WHERE c_mktsegment = 'BUILDING'
UNION ALL
SELECT c_custkey AS key FROM customer WHERE c_acctbal > 5000
"""


@register("g1_union_all", oracle=G1_ORACLE, group="G")
def g1_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag union (duplicates preserved — overlapping inputs on purpose)."""
    c = load_table(spark, sf_dir, "customer")
    a = c.filter(F.col("c_mktsegment") == "BUILDING").select(F.col("c_custkey").alias("key"))
    b = c.filter(F.col("c_acctbal") > 5000).select(F.col("c_custkey").alias("key"))
    return a.unionAll(b)


G2_ORACLE = """
SELECT c_custkey AS key FROM customer WHERE c_mktsegment = 'BUILDING'
UNION
SELECT c_custkey AS key FROM customer WHERE c_acctbal > 5000
"""


@register("g2_union_distinct", oracle=G2_ORACLE, group="G")
def g2_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set union — union + hash distinct on the shuffle key."""
    c = load_table(spark, sf_dir, "customer")
    a = c.filter(F.col("c_mktsegment") == "BUILDING").select(F.col("c_custkey").alias("key"))
    b = c.filter(F.col("c_acctbal") > 5000).select(F.col("c_custkey").alias("key"))
    return a.union(b).distinct()


G3_ORACLE = """
SELECT c_nationkey AS nk FROM customer
INTERSECT
SELECT s_nationkey AS nk FROM supplier
"""


@register("g3_intersect", oracle=G3_ORACLE, group="G")
def g3_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT (distinct semantics on both engines)."""
    c = load_table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nk"))
    s = load_table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nk"))
    return c.intersect(s)


G4_ORACLE = """
SELECT DISTINCT o_custkey AS key FROM orders
EXCEPT
SELECT DISTINCT o_custkey AS key FROM orders WHERE o_totalprice > 300000
"""


@register("g4_except", oracle=G4_ORACLE, group="G")
def g4_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT (distinct): customers who order but never above 300k."""
    o = load_table(spark, sf_dir, "orders")
    all_k = o.select(F.col("o_custkey").alias("key")).distinct()
    big_k = (
        o.filter(F.col("o_totalprice") > 300000).select(F.col("o_custkey").alias("key")).distinct()
    )
    return all_k.subtract(big_k)


G5_ORACLE = """
SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
EXCEPT ALL
SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
"""


@register("g5_except_all", oracle=G5_ORACLE, group="G")
def g5_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiset EXCEPT ALL (bag semantics: per-row multiplicity subtraction,
    not the set-difference of g4) — plans as a count-propagating aggregate,
    one shuffle on the row key."""
    o = load_table(spark, sf_dir, "orders")
    open_ = o.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    final = o.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    return open_.exceptAll(final)


G6_ORACLE = """
SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
INTERSECT ALL
SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
"""


@register("g6_intersect_all", oracle=G6_ORACLE, group="G")
def g6_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiset INTERSECT ALL (min of per-side multiplicities)."""
    o = load_table(spark, sf_dir, "orders")
    open_ = o.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    final = o.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    return open_.intersectAll(final)


# Spark CAST(double AS INT) truncates toward zero; DuckDB CAST rounds —
# the oracle spells the truncation explicitly. Every other pair agrees.
B5_ORACLE = """
SELECT o_orderkey,
       CAST(trunc(o_totalprice) AS BIGINT)        AS price_int,
       CAST(o_orderkey AS VARCHAR)                AS key_str,
       CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS date_str,
       CAST('123.5' AS DOUBLE) + o_orderkey       AS parsed_plus,
       CAST(o_totalprice > 100000 AS INT)         AS is_big
FROM orders
WHERE o_orderkey < 3000
"""


@register("b5_cast_matrix", oracle=B5_ORACLE, group="B")
def b5_cast_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-type cast surface: numeric truncation (Spark cast-to-int
    truncates toward zero — the oracle mirrors with trunc(), since DuckDB's
    cast ROUNDS), number↔string, date↔string ISO, string→double parse,
    bool→int. The engine-semantics matrix every migration trips over."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 3000)
    return o.select(
        "o_orderkey",
        F.col("o_totalprice").cast("long").alias("price_int"),
        F.col("o_orderkey").cast("string").alias("key_str"),
        F.col("o_orderdate").cast("date").cast("string").alias("date_str"),
        (F.lit("123.5").cast("double") + F.col("o_orderkey")).alias("parsed_plus"),
        (F.col("o_totalprice") > 100000).cast("int").alias("is_big"),
    )


F3_ORACLE = """
SELECT c_custkey, c_acctbal,
       CAST(row_number() OVER (ORDER BY c_acctbal DESC, c_custkey) AS BIGINT)
           AS idx
FROM customer
"""


@register("f3_global_index", oracle=F3_ORACLE, group="F")
def f3_global_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global sequence assignment WITHOUT the single-partition window: a
    bare row_number() OVER (ORDER BY ...) runs all data in one task, so
    idx is :func:`~marasa_spark.ops.skew.global_prefix`'s two-phase rank
    over 16 range partitions. Matches row_number() exactly (unique
    (acctbal, custkey) total order)."""
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    keys = [F.col("c_acctbal").desc(), F.col("c_custkey")]
    return global_prefix(c, keys, 16).select(
        "c_custkey", "c_acctbal", (F.col("_before") + 1).alias("idx")
    )


G7_ORACLE = """
SELECT c_custkey AS entity_key, c_acctbal AS acctbal,
       c_mktsegment AS mktsegment, NULL AS nationkey, 'customer' AS kind
FROM customer
UNION ALL
SELECT s_suppkey, s_acctbal, NULL, s_nationkey, 'supplier'
FROM supplier
"""


@register("g7_union_schema_evolution", oracle=G7_ORACLE, group="G")
def g7_union_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Union across DIFFERENT schemas: ``unionByName(allowMissingColumns=
    True)`` aligns by column NAME and null-fills each side's missing
    columns — the union a long-lived lake actually needs (position-based
    unionAll silently mis-aligns when one producer added a column; the a8
    mergeSchema read is this same posture at the file level). The oracle
    spells out the null padding explicitly."""
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("entity_key"),
        F.col("c_acctbal").alias("acctbal"),
        F.col("c_mktsegment").alias("mktsegment"),
        F.lit("customer").alias("kind"),
    )
    s = load_table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("entity_key"),
        F.col("s_acctbal").alias("acctbal"),
        F.col("s_nationkey").alias("nationkey"),
        F.lit("supplier").alias("kind"),
    )
    return c.unionByName(s, allowMissingColumns=True).select(
        "entity_key", "acctbal", "mktsegment", "nationkey", "kind"
    )


# ---------------------------------------------------------------------------
# z7 — the SQL front end as a driver-checked row (one text, two engines)
# ---------------------------------------------------------------------------

# ONE query text executed verbatim by BOTH spark.sql and DuckDB — the
# dual-front-end claim (SURVEY §3.2 EP3, tests/test_sql_frontend.py)
# reduced to a hash-checked registry row. Dialect-shared subset only:
# ANSI joins/group/window, date literals, explicit DOUBLE casts, the
# r2sql floor-round, and a unique tiebreak on the top-k boundary.
Z7_SQL = """
SELECT o_orderkey, o_orderdate, o_orderpriority, revenue
FROM (
  SELECT o_orderkey, o_orderdate, o_orderpriority,
         CAST(floor(sum(l_extendedprice * (CAST(1 AS DOUBLE) - l_discount)) * 100 + CAST(0.5 AS DOUBLE)) AS DOUBLE) / 100 AS revenue,
         row_number() OVER (
           ORDER BY CAST(floor(sum(l_extendedprice * (CAST(1 AS DOUBLE) - l_discount)) * 100 + CAST(0.5 AS DOUBLE)) AS DOUBLE) / 100 DESC,
                    o_orderkey) AS rk
  FROM customer
  JOIN orders ON c_custkey = o_custkey
  JOIN lineitem ON l_orderkey = o_orderkey
  WHERE c_mktsegment = 'BUILDING'
    AND o_orderdate < DATE '1995-03-15'
    AND l_shipdate > DATE '1995-03-15'
  GROUP BY o_orderkey, o_orderdate, o_orderpriority
)
WHERE rk <= 10
"""


@register("z7_sql_frontend_q3", oracle=Z7_SQL, group="B")
def z7_sql_frontend_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 (shipping-priority revenue top-10) submitted through
    ``spark.sql`` with the IDENTICAL text the DuckDB oracle runs — the
    registered proof that the SQL front end is a first-class entry point:
    one query string, two engines, one value hash. Catalyst plans it like
    the DataFrame builds (broadcast dim, shuffled fact joins, partial
    aggs, rank pushdown into the top-k window); the rounding rides the
    same floor-arithmetic convention as r2sql so the text stays
    dialect-shared. The global row_number is bounded by the top-k filter
    (rank pushdown — Spark 4 computes it with a k-heap per partition)."""
    from marasa_spark.catalog import register_views

    register_views(spark, sf_dir, "customer", "orders", "lineitem")
    return spark.sql(Z7_SQL)


# ---------------------------------------------------------------------------
# z9-z14 — the dual-engine SQL surface widened (round-5 verdict #3)
# ---------------------------------------------------------------------------
# Six more dialect-shared texts, each exercising a DIFFERENT SQL surface a
# real user types: full aggregate sweep (Q1), 5-way star join (Q5 shape),
# windowed top-k over a join (Q10), HAVING-subquery IN (Q18), correlated
# EXISTS (Q4 shape), CTE + anti-join. Same contract as z7: ONE query
# string, run verbatim by spark.sql AND DuckDB, hash-compared. The only
# dialect discipline needed: ANSI joins, date literals, explicit DOUBLE
# casts on numeric literals in float arithmetic, the r2sql floor-round,
# and a unique tiebreaker on every top-k boundary. Date windows sit
# inside this corpus's 1995-2001 o_orderdate domain (TESTDATA.md), not
# classic TPC-H's 1992-1998.

_RND = "CAST(floor({x} * 100 + CAST(0.5 AS DOUBLE)) AS DOUBLE) / 100"
_REV = "sum(l_extendedprice * (CAST(1 AS DOUBLE) - l_discount))"

Z9_SQL = f"""
SELECT l_returnflag, l_linestatus,
       {_RND.format(x='sum(l_quantity)')} AS sum_qty,
       {_RND.format(x='sum(l_extendedprice)')} AS sum_base_price,
       {_RND.format(x=_REV)} AS sum_disc_price,
       {_RND.format(x='sum(l_extendedprice * (CAST(1 AS DOUBLE) - l_discount) * (CAST(1 AS DOUBLE) + l_tax))')} AS sum_charge,
       {_RND.format(x='avg(l_quantity)')} AS avg_qty,
       {_RND.format(x='avg(l_extendedprice)')} AS avg_price,
       {_RND.format(x='avg(l_discount)')} AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= DATE '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


@register("z9_sql_frontend_q1", oracle=Z9_SQL, group="B")
def z9_sql_frontend_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 (pricing summary) through the SQL front end: the full
    aggregate sweep — 3 sums, a compound-expression sum, 3 avgs, count —
    in one dialect-shared text. Catalyst gives the same plan as d1's
    DataFrame build (scan with shipdate pushdown -> partial hash agg ->
    single shuffle on the 6-group key); every float aggregate rides the
    r2sql floor-round so both engines emit identical bits."""
    from marasa_spark.catalog import register_views

    register_views(spark, sf_dir, "lineitem")
    return spark.sql(Z9_SQL)


Z10_SQL = f"""
SELECT n_name, {_RND.format(x=_REV)} AS revenue
FROM orders
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= DATE '1996-01-01' AND o_orderdate < DATE '1997-01-01'
GROUP BY n_name
"""


@register("z10_sql_frontend_q5", oracle=Z10_SQL, group="B")
def z10_sql_frontend_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape (local-supplier volume) through the SQL front end:
    a 5-way star join — two broadcast-able dims (nation, region) hanging
    off supplier, itself broadcast against the orders⋈lineitem fact spine
    — aggregated per nation. Classic Q5 adds c_nationkey = s_nationkey;
    this corpus's customer and supplier nations are independent uniform
    draws, so that colocation predicate is empty at small SF (verified) —
    the adapted text keeps the plan shape (the point here) and stays
    non-empty. Region filter prunes before the join; Catalyst pushes it
    into the region scan."""
    from marasa_spark.catalog import register_views

    register_views(spark, sf_dir, "orders", "lineitem", "supplier", "nation", "region")
    return spark.sql(Z10_SQL)


Z11_SQL = f"""
SELECT c_custkey, c_name, revenue, c_acctbal, n_name
FROM (
  SELECT c_custkey, c_name, c_acctbal, n_name,
         {_RND.format(x=_REV)} AS revenue,
         row_number() OVER (ORDER BY {_RND.format(x=_REV)} DESC, c_custkey) AS rk
  FROM customer
  JOIN orders ON c_custkey = o_custkey
  JOIN lineitem ON l_orderkey = o_orderkey
  JOIN nation ON c_nationkey = n_nationkey
  WHERE o_orderdate >= DATE '1996-10-01' AND o_orderdate < DATE '1997-01-01'
    AND l_returnflag = 'R'
  GROUP BY c_custkey, c_name, c_acctbal, n_name
)
WHERE rk <= 20
"""


@register("z11_sql_frontend_q10", oracle=Z11_SQL, group="B")
def z11_sql_frontend_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 (returned-item reporting, top-20 customers by lost
    revenue) through the SQL front end: join-then-aggregate-then-rank in
    one text. The global row_number carries the c_custkey tiebreaker
    (hard rule: every top-k ORDER BY is unique) and is bounded by the
    rk <= 20 filter, so Spark computes it with a k-heap per partition
    instead of a single-task global sort."""
    from marasa_spark.catalog import register_views

    register_views(spark, sf_dir, "customer", "orders", "lineitem", "nation")
    return spark.sql(Z11_SQL)


Z12_SQL = f"""
SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice,
       {_RND.format(x='sum(l_quantity)')} AS total_qty
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE o_orderkey IN (
  SELECT l_orderkey FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 250
)
GROUP BY c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice
"""


@register("z12_sql_frontend_q18", oracle=Z12_SQL, group="B")
def z12_sql_frontend_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 (large-volume customers) through the SQL front end: an
    IN subquery whose body is itself a grouped HAVING aggregate — the
    decorrelated-semi-join surface. Catalyst rewrites the IN to a
    left-semi hash join against the aggregated subquery (threshold 250
    fits this corpus: ~200 qualifying orders at sf0.01, vs Q18's 300
    which lands just above this data's max order size)."""
    from marasa_spark.catalog import register_views

    register_views(spark, sf_dir, "customer", "orders", "lineitem")
    return spark.sql(Z12_SQL)


Z13_SQL = """
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE o_orderdate >= DATE '1996-01-01' AND o_orderdate < DATE '1996-04-01'
  AND EXISTS (
    SELECT 1 FROM lineitem
    WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate
  )
GROUP BY o_orderpriority
"""


@register("z13_sql_frontend_q4", oracle=Z13_SQL, group="B")
def z13_sql_frontend_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape (order-priority checking) through the SQL front
    end: a CORRELATED EXISTS — the one subquery form users reach for
    first and dialects disagree on most. Both engines decorrelate it to
    a left-semi join on l_orderkey with the l_shipdate > o_orderdate
    residual (classic Q4 compares l_commitdate < l_receiptdate; those
    columns don't exist in this corpus, so the late-shipment predicate
    stands in — same decorrelation, same plan shape)."""
    from marasa_spark.catalog import register_views

    register_views(spark, sf_dir, "orders", "lineitem")
    return spark.sql(Z13_SQL)


Z14_SQL = """
WITH active AS (
  SELECT DISTINCT o_custkey FROM orders WHERE o_orderdate >= DATE '1999-01-01'
)
SELECT c_mktsegment, count(*) AS inactive_customers
FROM customer
LEFT JOIN active ON c_custkey = o_custkey
WHERE o_custkey IS NULL
GROUP BY c_mktsegment
"""


@register("z14_sql_frontend_cte_anti", oracle=Z14_SQL, group="B")
def z14_sql_frontend_cte_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CTE + null-filtered LEFT JOIN (the textbook anti-join idiom users
    write before discovering ANTI JOIN syntax) through the SQL front
    end: customers with no 1999+ orders, counted per segment (the 1996
    cutoff of the first draft left NO inactive customers at any SF —
    vacuously green; the zero-row-oracle audit caught it). Both
    engines plan the WHERE o_custkey IS NULL over the left join as an
    anti join against the DISTINCT CTE; the CTE itself is one shuffle,
    then broadcast back against customer."""
    from marasa_spark.catalog import register_views

    register_views(spark, sf_dir, "customer", "orders")
    return spark.sql(Z14_SQL)


Z15_SQL = """
SELECT count(*) AS n_small,
       CAST(floor(sum(l_extendedprice) * 100 + CAST(0.5 AS DOUBLE)) AS DOUBLE) / 100 AS sum_price
FROM lineitem l1
WHERE l_quantity < (
  SELECT CAST(0.2 AS DOUBLE) * avg(l_quantity)
  FROM lineitem l2
  WHERE l2.l_partkey = l1.l_partkey
)
"""


@register("z15_sql_frontend_q17", oracle=Z15_SQL, group="B")
def z15_sql_frontend_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape (small-quantity revenue) through the SQL front
    end: a CORRELATED SCALAR subquery — each lineitem compared against
    0.2x the average quantity of ITS OWN part. Both engines decorrelate
    to an aggregate-then-join: group lineitem by partkey once, join the
    per-part threshold back, filter. The self-join shuffles both sides
    on l_partkey; the aggregate side is partial-agg'd map-side first, so
    the heavy shuffle carries one row per part, not per lineitem."""
    from marasa_spark.catalog import register_views

    register_views(spark, sf_dir, "lineitem")
    return spark.sql(Z15_SQL)


Z16_SQL = """
SELECT n_name AS supp_nation,
       CAST(EXTRACT(YEAR FROM l_shipdate) AS BIGINT) AS l_year,
       CAST(floor(sum(l_extendedprice * (CAST(1 AS DOUBLE) - l_discount)) * 100 + CAST(0.5 AS DOUBLE)) AS DOUBLE) / 100 AS revenue
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
WHERE n_name IN ('NATION_2', 'NATION_7')
GROUP BY n_name, EXTRACT(YEAR FROM l_shipdate)
"""


@register("z16_sql_frontend_q7", oracle=Z16_SQL, group="B")
def z16_sql_frontend_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape (nation volume by ship year) through the SQL front
    end: the date-function dialect surface — EXTRACT(YEAR FROM ts) is
    the ANSI form both engines parse (Spark's year() and DuckDB's
    date_part() are not shared); the explicit BIGINT cast pins the
    result type both sides (Spark EXTRACT yields INT, DuckDB BIGINT).
    Plan: nation IN-filter pushes through the supplier join, supplier
    broadcasts against the lineitem spine, one shuffle on the 2-col
    group key."""
    from marasa_spark.catalog import register_views

    register_views(spark, sf_dir, "lineitem", "supplier", "nation")
    return spark.sql(Z16_SQL)


Z17_SQL = """
SELECT o_orderpriority, o_orderstatus,
       CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_pri,
       CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_st,
       count(*) AS n
FROM orders
GROUP BY ROLLUP(o_orderpriority, o_orderstatus)
"""


@register("z17_sql_frontend_rollup", oracle=Z17_SQL, group="B")
def z17_sql_frontend_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP + GROUPING() through the SQL front end: the subtotal-level
    indicator surface (how BI tools distinguish a real NULL group from a
    rollup subtotal row). One shared text, both engines expand the
    rollup to 3 grouping sets in a single aggregate pass — Spark
    duplicates the input per set inside one Expand node, no extra scan.
    GROUPING() is explicitly BIGINT-cast: Spark returns tinyint, DuckDB
    int64 (the d14-class type hazard, pre-empted)."""
    from marasa_spark.catalog import register_views

    register_views(spark, sf_dir, "orders")
    return spark.sql(Z17_SQL)


Z18_SQL = """
SELECT o_orderkey, o_orderpriority, o_orderdate,
       count(*) OVER w AS n_trailing_30d,
       max(o_totalprice) OVER w AS max_price_30d
FROM orders
WHERE o_orderkey % 20 = 0
WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_orderdate
             RANGE BETWEEN INTERVAL 30 DAYS PRECEDING AND CURRENT ROW)
"""


@register("z18_sql_frontend_interval_range", oracle=Z18_SQL, group="B")
def z18_sql_frontend_interval_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-interval RANGE frames through the SQL front end (plus the
    WINDOW clause — named-window syntax both engines share): trailing
    30-day count/max per priority class over a 5%-sampled stream. RANGE
    frames are tie-DETERMINISTIC by construction (the frame is defined by
    the ORDER value, so rows sharing a date share a frame — the one
    window shape exempt from the unique-tiebreaker rule), and the
    aggregates here (count, max) are order-insensitive so cross-engine
    accumulation order cannot bite. The named window carries PARTITION BY
    — round 7 retired the global-ORDER-BY form this row originally
    demonstrated (the last single-partition data windows in the registry
    fell with it; the full-registry plan sweep in test_plan_audit now
    pins their absence), and every dialect feature the row exists to map
    (WINDOW clause + INTERVAL RANGE frame) survives inside the keyed
    form."""
    from marasa_spark.catalog import register_views

    register_views(spark, sf_dir, "orders")
    return spark.sql(Z18_SQL)


Z19_SQL = """
WITH recent AS (
  SELECT o_custkey FROM orders WHERE o_orderdate >= DATE '1999-01-01'
), early AS (
  SELECT o_custkey FROM orders WHERE o_orderdate < DATE '1997-01-01'
), both_eras AS (
  SELECT o_custkey FROM recent INTERSECT ALL SELECT o_custkey FROM early
), only_recent AS (
  SELECT o_custkey FROM recent EXCEPT ALL SELECT o_custkey FROM early
)
SELECT 'both_eras' AS era_class, count(*) AS n,
       count(DISTINCT o_custkey) AS n_customers
FROM both_eras
UNION ALL
SELECT 'only_recent' AS era_class, count(*) AS n,
       count(DISTINCT o_custkey) AS n_customers
FROM only_recent
"""


@register("z19_sql_frontend_bag_setops", oracle=Z19_SQL, group="B")
def z19_sql_frontend_bag_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag-semantics set operations through the SQL front end: INTERSECT
    ALL / EXCEPT ALL keep MULTIPLICITY (min / difference of per-row
    counts) — the dialect corner where users burned by DISTINCT-by-
    default set ops end up, and where engines diverge most (both
    implement the ANSI counting semantics; both texts here are shared
    verbatim). The aggregate wrapper pins the multiplicities (n vs
    n_customers) rather than a giant row list. Plan: each ALL op is one
    shuffle on the compare key with per-side count aggregation —
    same movement class as g3/g4's DataFrame builds."""
    from marasa_spark.catalog import register_views

    register_views(spark, sf_dir, "orders")
    return spark.sql(Z19_SQL)


# ---------------------------------------------------------------------------
# z20-z24 — the dual-engine SQL surface, remaining TPC-H dialect shapes
# ---------------------------------------------------------------------------
# Five more shared texts closing out the TPC-H shape inventory the z-rows
# hadn't touched yet: filtered-ON outer join + two-level agg (Q13),
# NOT IN + count(DISTINCT) (Q16), double-correlated EXISTS/NOT EXISTS
# (Q21), scalar subquery + correlated NOT EXISTS + substr (Q22), and a
# correlated LATERAL subquery with per-row ORDER/LIMIT (the modern
# top-k-per-group SQL users reach for once both engines support it).
# Same contract as z7/z9-z19: ONE query text, run verbatim by spark.sql
# AND DuckDB, value-hash compared.

Z20_SQL = """
SELECT c_count, count(*) AS custdist
FROM (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer LEFT JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey
) per_cust
GROUP BY c_count
"""


@register("z20_sql_frontend_q13", oracle=Z20_SQL, group="B")
def z20_sql_frontend_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape (customer order-count distribution) through the
    SQL front end: the predicate lives in the LEFT JOIN's ON clause, not
    the WHERE — the semantics trap (ON filters the right side BEFORE the
    outer join, preserving zero-order customers; moving it to WHERE
    silently turns the query inner) that this shared text pins both
    engines to. Two-level aggregation: per-customer counts (shuffle on
    c_custkey — at 100 TB customer is the smaller side and AQE picks the
    broadcast direction), then the tiny histogram re-shuffle on c_count.
    count(o_orderkey) counts only MATCHED rows (NULLs skipped) — BIGINT
    in both engines, no d14 hazard."""
    from marasa_spark.catalog import register_views

    register_views(spark, sf_dir, "customer", "orders")
    return spark.sql(Z20_SQL)


Z21_SQL = """
SELECT p_brand, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
FROM part JOIN lineitem ON p_partkey = l_partkey
WHERE p_brand <> 'Brand#11'
  AND p_size IN (1, 7, 14, 21, 28, 35, 42, 49)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < CAST(0 AS DOUBLE))
GROUP BY p_brand, p_size
"""


@register("z21_sql_frontend_q16", oracle=Z21_SQL, group="B")
def z21_sql_frontend_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape (supplier count by part attribute) through the
    SQL front end: NOT IN over a subquery — the null-semantics minefield
    (one NULL in the subquery empties the result under ANSI three-valued
    logic; s_suppkey is non-null here so both engines agree) — plus
    count(DISTINCT) after a fact join. Both engines plan NOT IN as a
    null-aware anti join (6 negative-balance suppliers broadcast), the
    IN-list and brand filter push into the part scan, and the distinct
    count shuffles (brand, size, suppkey) once before the final group."""
    from marasa_spark.catalog import register_views

    register_views(spark, sf_dir, "part", "lineitem", "supplier")
    return spark.sql(Z21_SQL)


Z22_SQL = """
SELECT s_name, count(*) AS numwait
FROM supplier
JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
JOIN orders ON o_orderkey = l1.l_orderkey
WHERE o_orderstatus = 'F'
  AND l1.l_shipdate > o_orderdate
  AND EXISTS (
    SELECT 1 FROM lineitem l2
    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
  )
  AND NOT EXISTS (
    SELECT 1 FROM lineitem l3
    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
      AND l3.l_shipdate > l1.l_shipdate
  )
GROUP BY s_name
"""


@register("z22_sql_frontend_q21", oracle=Z22_SQL, group="B")
def z22_sql_frontend_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (suppliers who shipped last on multi-supplier
    finished orders) through the SQL front end: the double-correlated
    EXISTS + NOT EXISTS — the hardest decorrelation in the TPC-H suite
    and the one users' hand-written audit queries most resemble. Both
    engines rewrite the pair into a left-semi and a left-anti join
    against lineitem on l_orderkey with non-equi residuals (supplier
    inequality, shipdate comparison); the fact table is touched three
    times but every pass is a shuffle-on-orderkey hash join — no nested
    loops. Ties on max shipdate admit BOTH suppliers (strict > in the
    anti residual), which is deterministic, so no tiebreaker is needed."""
    from marasa_spark.catalog import register_views

    register_views(spark, sf_dir, "supplier", "lineitem", "orders")
    return spark.sql(Z22_SQL)


Z23_SQL = """
SELECT cntrycode, count(*) AS numcust,
       CAST(floor(sum(c_acctbal) * 100 + CAST(0.5 AS DOUBLE)) AS DOUBLE) / 100 AS totacctbal
FROM (
  SELECT substr(c_name, 17, 2) AS cntrycode, c_acctbal, c_custkey
  FROM customer
  WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > CAST(0 AS DOUBLE))
    AND NOT EXISTS (
      SELECT 1 FROM orders
      WHERE o_custkey = c_custkey AND o_orderdate >= DATE '1999-01-01'
    )
) cold
GROUP BY cntrycode
"""


@register("z23_sql_frontend_q22", oracle=Z23_SQL, group="B")
def z23_sql_frontend_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (global-sales-opportunity) through the SQL front
    end: an UNCORRELATED scalar subquery (global positive-balance
    average — computed once, broadcast as a literal-like filter) plus a
    correlated NOT EXISTS (customers with no recent orders; classic Q22
    tests no-orders-at-all, which is empty in this corpus where every
    customer ordered — the 1999+ window keeps the anti join non-trivial)
    and substr() string surgery standing in for Q22's phone-prefix
    extraction (c_name's last two digits vary; position 10 is a constant
    '0' pad). The avg threshold compares continuous doubles, so the
    cross-engine 1-ulp accumulation difference cannot flip membership;
    the final sum rides the r2sql floor-round."""
    from marasa_spark.catalog import register_views

    register_views(spark, sf_dir, "customer", "orders")
    return spark.sql(Z23_SQL)


Z24_SQL = """
SELECT c_custkey, t.o_orderkey, t.o_totalprice
FROM customer,
LATERAL (
  SELECT o_orderkey, o_totalprice FROM orders
  WHERE o_custkey = c_custkey
  ORDER BY o_totalprice DESC, o_orderkey
  LIMIT 2
) t
WHERE c_acctbal > CAST(9500 AS DOUBLE)
"""


@register("z24_sql_frontend_lateral_topk", oracle=Z24_SQL, group="B")
def z24_sql_frontend_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery with per-row ORDER BY/LIMIT through
    the SQL front end — the modern top-k-per-group idiom (top-2 orders
    per high-balance customer) that both Spark 4 and DuckDB now parse
    from the same text, and the form users migrate to from the
    row_number()-then-filter workaround (e5's shape). Spark decorrelates
    the lateral into a window-over-join: shuffle both sides on custkey,
    rank within the customer partition, keep rk <= 2 — identical
    movement to e5, no per-row re-execution. o_orderkey breaks
    o_totalprice ties on the LIMIT boundary (the top-k tiebreak rule)."""
    from marasa_spark.catalog import register_views

    register_views(spark, sf_dir, "customer", "orders")
    return spark.sql(Z24_SQL)


@register("z25_q21_onepass", oracle=Z22_SQL, group="C")
def z25_q21_onepass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The one-pass SCALE PATH for z22's Q21 (validated the k60-way: it
    shares z22's oracle text verbatim, so the rewrite is proven
    result-identical, not just plausible). Instead of three passes over
    lineitem (spine + decorrelated semi + anti), the correlation
    collapses into per-order window algebra: aggregate lineitem once per
    (order, supplier), derive per order the max shipdate, supplier
    count, how many suppliers attain the max, and the runner-up max —
    then 'no other supplier shipped later' is the stateless comparison
    shipdate >= max_other, where max_other is m1 unless THIS supplier
    uniquely holds it (then m2). Everything is windows over the raw rows
    — per-(order,supplier) max, then order-level max / runner-up /
    attainer-set — so lineitem is scanned ONCE (pinned:
    tests/test_plan_audit.py counts parquet scans, z22's decorrelated
    form needs three) with every movement keyed on l_orderkey. The
    collect_set cardinality is bounded by suppliers-per-order (single
    digits in an order-line schema), never corpus-scale; the supplier
    dim broadcasts."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderdate")
    )
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    wos = Window.partitionBy("l_orderkey", "l_suppkey")
    wo = Window.partitionBy("l_orderkey")
    x = li.withColumn("smax", F.max("l_shipdate").over(wos))
    x = (
        x.withColumn("m1", F.max("smax").over(wo))
        .withColumn("n_supp", F.size(F.collect_set("l_suppkey").over(wo)))
        .withColumn(
            "supp_at_m1",
            F.size(
                F.collect_set(
                    F.when(
                        F.col("smax") == F.max("smax").over(wo), F.col("l_suppkey")
                    )
                ).over(wo)
            ),
        )
        .withColumn(
            "m2",
            F.max(
                F.when(F.col("smax") < F.max("smax").over(wo), F.col("smax"))
            ).over(wo),
        )
    )
    max_other = F.when(
        (F.col("smax") < F.col("m1")) | (F.col("supp_at_m1") >= 2), F.col("m1")
    ).otherwise(F.col("m2"))
    rows = x.join(o, x.l_orderkey == o.o_orderkey).filter(
        (F.col("l_shipdate") > F.col("o_orderdate"))
        & (F.col("n_supp") >= 2)
        & (F.col("l_shipdate") >= max_other)
    )
    return (
        rows.join(F.broadcast(s), rows.l_suppkey == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


Z26_SQL = """
SELECT s_nationkey,
       CAST(floor(sum(s_acctbal) * 100 + CAST(0.5 AS DOUBLE)) AS DOUBLE) / 100 AS bal
FROM supplier
GROUP BY s_nationkey
HAVING sum(s_acctbal) > (SELECT sum(s_acctbal) * CAST(0.04 AS DOUBLE) FROM supplier)
"""


@register("z26_sql_frontend_q11", oracle=Z26_SQL, group="B")
def z26_sql_frontend_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape (important stock share) through the SQL front end:
    a SCALAR SUBQUERY INSIDE HAVING — the group filter compares each
    group's aggregate against a fraction of the GLOBAL aggregate, the
    dialect surface BI percent-of-total reports generate. Both engines
    compute the global sum once (a 1-row frame joined/broadcast into the
    group filter) — no re-scan per group. The HAVING compares unrounded
    doubles, safe because group sums sit nowhere near ulp distance of
    4% of the total (continuous values); the OUTPUT rides r2sql."""
    from marasa_spark.catalog import register_views

    register_views(spark, sf_dir, "supplier")
    return spark.sql(Z26_SQL)


Z27_SQL = """
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         sum(l_extendedprice * (CAST(1 AS DOUBLE) - l_discount)) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= DATE '1997-01-01' AND l_shipdate < DATE '1997-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name,
       CAST(floor(total_revenue * 100 + CAST(0.5 AS DOUBLE)) AS DOUBLE) / 100 AS total_revenue
FROM supplier JOIN revenue ON s_suppkey = supplier_no
WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
"""


@register("z27_sql_frontend_q15", oracle=Z27_SQL, group="B")
def z27_sql_frontend_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape (top supplier by quarterly revenue) through the
    SQL front end: a CTE referenced TWICE — once as the join source,
    once inside the argmax scalar subquery — the view-reuse surface
    (classic Q15 wraps this in CREATE VIEW; the CTE is the inline form
    both engines share). Spark inlines the CTE into both consumers and
    then reuses the aggregated exchange; the equality-on-double argmax
    is safe per engine (each compares its own sum against its own max
    of the same sums — bit-identical by construction), and cross-engine
    because the top-2 revenue gap is astronomically wider than
    accumulation-order jitter. Supplier dim broadcasts; the only
    corpus-scale movement is the revenue groupBy on l_suppkey."""
    from marasa_spark.catalog import register_views

    register_views(spark, sf_dir, "supplier", "lineitem")
    return spark.sql(Z27_SQL)


Z28_SQL = """
SELECT p_brand,
       CAST(count(*) AS BIGINT) AS n_matches,
       CAST(floor(sum(l_extendedprice * (CAST(1 AS DOUBLE) - l_discount)) * 100 + CAST(0.5 AS DOUBLE)) AS DOUBLE) / 100 AS revenue
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#13' AND p_type IN ('SMALL', 'ECONOMY')   AND l_quantity BETWEEN 1 AND 20 AND p_size BETWEEN 1 AND 40)
   OR (p_brand = 'Brand#11' AND p_type IN ('MEDIUM', 'STANDARD') AND l_quantity BETWEEN 10 AND 30 AND p_size BETWEEN 5 AND 45)
   OR (p_brand = 'Brand#22' AND p_type IN ('LARGE', 'PROMO')     AND l_quantity BETWEEN 20 AND 40 AND p_size BETWEEN 10 AND 50)
GROUP BY p_brand
"""


@register("z28_sql_frontend_q19_disjunctive", oracle=Z28_SQL, group="B")
def z28_sql_frontend_q19_disjunctive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape (discounted revenue under an OR of conjunction
    groups) through the SQL front end — the DISJUNCTIVE-predicate surface
    the z-sweep had not touched. The planner-relevant property: the WHERE
    is an OR whose every branch constrains BOTH sides of the join, so a
    naive engine evaluates it only post-join, while a good one factors the
    part-side disjunction (p_brand/p_type/p_size) into the part scan and
    the lineitem-side bounds (l_quantity never below 1) into the fact scan
    before the join. Catalyst does exactly that via CNF conversion /
    predicate factoring at the scan; part stays the broadcast side. The
    three brand groups keep the output multi-row so the hash check covers
    group routing, and count+revenue pin both the match set and the
    arithmetic."""
    from marasa_spark.catalog import register_views

    register_views(spark, sf_dir, "lineitem", "part")
    return spark.sql(Z28_SQL)


Z29_SQL = """
WITH region_sales AS (
  SELECT EXTRACT(YEAR FROM o_orderdate) AS o_year,
         l_extendedprice * (CAST(1 AS DOUBLE) - l_discount) AS volume,
         sn.n_regionkey AS supp_region
  FROM lineitem
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey  = c_custkey
  JOIN nation cn ON c_nationkey = cn.n_nationkey
  JOIN supplier ON l_suppkey  = s_suppkey
  JOIN nation sn ON s_nationkey = sn.n_nationkey
  WHERE cn.n_regionkey = 0
)
SELECT o_year,
       CAST(floor((sum(CASE WHEN supp_region = 0 THEN volume ELSE CAST(0 AS DOUBLE) END) / sum(volume)) * 1000000 + CAST(0.5 AS DOUBLE)) AS DOUBLE) / 1000000 AS mkt_share,
       CAST(count(*) AS BIGINT) AS n_lines
FROM region_sales
GROUP BY o_year
"""


@register("z29_sql_frontend_q8_share", oracle=Z29_SQL, group="B")
def z29_sql_frontend_q8_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape (market share by year) through the SQL front end:
    the CONDITIONAL-SHARE aggregate — sum(CASE)/sum over the same group,
    the ratio idiom behind Q8/Q14 and every percent-of-segment BI tile —
    over a 6-way snowflake join with nation joined TWICE under different
    aliases (customer side filters the region, supplier side labels the
    numerator as domestic-region volume — region-level rather than Q8's
    single nation so the numerator is live at sf0.001's 10 suppliers). Catalyst broadcasts all four dims so the fact stream
    shuffles only for the final year groupBy; the share rides a 6-decimal
    floor-round (numerator/denominator are same-group double sums whose
    cross-engine jitter is ~1e-15 relative — far inside the rounding
    grain)."""
    from marasa_spark.catalog import register_views

    register_views(spark, sf_dir, "lineitem", "orders", "customer", "nation", "supplier")
    return spark.sql(Z29_SQL)


# ---------------------------------------------------------------------------
# z30-z35 — the last six TPC-H shapes: the dual-engine sweep covers all 22
# ---------------------------------------------------------------------------
# Q2/Q9/Q12/Q20 are adapted to this corpus's schema (no partsupp table, no
# l_shipmode/l_commitdate columns — TESTDATA.md): lineitem doubles as the
# part<->supplier catalog and o_orderpriority stands in for shipmode urgency.
# The SHAPE each query exists to test (correlated scalar MIN subquery,
# multi-dim profit rollup, CASE-bucketed counts, nested IN + grouped HAVING)
# is preserved exactly.

Z30_SQL = """
SELECT CAST(floor(sum(l_extendedprice * l_discount) * 100 + CAST(0.5 AS DOUBLE)) AS DOUBLE) / 100 AS revenue,
       CAST(count(*) AS BIGINT) AS n_lines
FROM lineitem
WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1997-01-01'
  AND l_discount BETWEEN CAST(0.05 AS DOUBLE) AND CAST(0.07 AS DOUBLE)
  AND l_quantity < CAST(24 AS DOUBLE)
"""


@register("z30_sql_frontend_q6", oracle=Z30_SQL, group="B")
def z30_sql_frontend_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 (forecast revenue change) through the SQL front end: the
    pure scan-and-filter aggregate — no join, the query whose entire cost
    is how much of the WHERE reaches the parquet scan. All three
    predicates (date range, discount band, quantity cap) push down in
    both engines; Spark shows them in PushedFilters and the single-row
    global sum needs one partial->final agg with no shuffle of data rows.
    The discount band compares against CAST-parsed double literals —
    identical bits in both engines, and the stored discounts are exact
    parses of the same decimals, so boundary membership cannot diverge.
    n_lines pins the match set, revenue rides the r2sql floor-round."""
    from marasa_spark.catalog import register_views

    register_views(spark, sf_dir, "lineitem")
    return spark.sql(Z30_SQL)


Z31_SQL = """
SELECT DISTINCT p_partkey, p_brand, s_name, n_name,
       l_extendedprice AS min_price
FROM part
JOIN lineitem ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE p_size <= 5
  AND r_name = 'EUROPE'
  AND l_extendedprice = (
    SELECT min(l2.l_extendedprice)
    FROM lineitem l2
    JOIN supplier s2 ON l2.l_suppkey = s2.s_suppkey
    JOIN nation n2   ON s2.s_nationkey = n2.n_nationkey
    JOIN region r2   ON n2.n_regionkey = r2.r_regionkey
    WHERE l2.l_partkey = p_partkey AND r2.r_name = 'EUROPE'
  )
"""


@register("z31_sql_frontend_q2", oracle=Z31_SQL, group="B")
def z31_sql_frontend_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (minimum-cost supplier) through the SQL front end:
    the CORRELATED SCALAR SUBQUERY WITH ITS OWN JOIN TREE — the per-part
    min is computed over a 4-way join re-filtered to the same region,
    the decorrelation stress case Q2 exists to test. Both engines
    rewrite it as a grouped min over the region-filtered lineitem
    LEFT-JOINED back on p_partkey, never a per-row re-execution.
    lineitem stands in for partsupp as the part<->supplier catalog
    (TESTDATA.md has no partsupp); min_price is a raw stored double
    selected (not computed), so equality against the grouped min is
    bit-exact in both engines, and ties admit every attaining supplier
    (deterministic set, DISTINCT collapses repeated sale rows). Region
    prunes at both the dim (broadcast) and the correlated agg's input."""
    from marasa_spark.catalog import register_views

    register_views(spark, sf_dir, "part", "lineitem", "supplier", "nation", "region")
    return spark.sql(Z31_SQL)


Z32_SQL = """
SELECT n_name AS nation,
       CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS o_year,
       CAST(sum(CAST(floor((l_extendedprice * (CAST(1 AS DOUBLE) - l_discount) - CAST(0.8 AS DOUBLE) * p_retailprice * l_quantity) * 100 + CAST(0.5 AS DOUBLE)) AS BIGINT)) AS BIGINT) AS profit_cents
FROM lineitem
JOIN part     ON l_partkey  = p_partkey
JOIN supplier ON l_suppkey  = s_suppkey
JOIN orders   ON l_orderkey = o_orderkey
JOIN nation   ON s_nationkey = n_nationkey
WHERE p_name LIKE '%bolt%'
GROUP BY n_name, EXTRACT(YEAR FROM o_orderdate)
"""


@register("z32_sql_frontend_q9", oracle=Z32_SQL, group="B")
def z32_sql_frontend_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (product-type profit by nation and year) through
    the SQL front end: the widest snowflake in the suite — fact joined to
    THREE dims plus orders, grouped on attributes from two different
    dims, with an infix LIKE filter ('%bolt%', not prefix — cannot become
    a range predicate, both engines evaluate it at the part scan and the
    join prunes the fact). Profit substitutes 0.8*p_retailprice*quantity
    for partsupp's supply cost (no partsupp in this corpus — the
    arithmetic shape, a signed mixed-dim expression summed per group, is
    what Q9 tests). Catalyst broadcasts part/supplier/nation, shuffles
    on orderkey for orders, then one final group-key shuffle.

    The profit is summed as INTEGER CENTS (round each row, then
    sum-as-BIGINT — k53's micro-unit recipe), not rounded after a double
    sum: the signed expression cancels heavily, and at sf0.1 the 3-SF
    parity sweep caught one group whose accumulation-order jitter
    straddled the cent boundary (Spark ...65.77 vs DuckDB ...65.78).
    Per-row rounding is deterministic from identical inputs and the
    integer sum is order-independent, so the hash is stable at ANY
    scale — the general fix for float sums under cancellation, now
    demonstrated in the shared text itself (both sums CAST to BIGINT
    for DuckDB's HUGEINT surface)."""
    from marasa_spark.catalog import register_views

    register_views(spark, sf_dir, "lineitem", "part", "supplier", "orders", "nation")
    return spark.sql(Z32_SQL)


Z33_SQL = """
SELECT l_returnflag,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM orders
JOIN lineitem ON o_orderkey = l_orderkey
WHERE l_shipdate > o_orderdate
  AND l_shipdate < DATE '1999-01-01'
GROUP BY l_returnflag
"""


@register("z33_sql_frontend_q12", oracle=Z33_SQL, group="B")
def z33_sql_frontend_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (late-shipment priority split) through the SQL
    front end: the CASE-BUCKETED DUAL COUNT — two complementary
    conditional sums over one pass, the pivot-lite idiom ops dashboards
    use — plus a non-equi residual (l_shipdate > o_orderdate) on an equi
    join, standing in for Q12's commit/receipt-date lag (columns this
    corpus lacks). The integer CASE sums surface as HUGEINT in DuckDB
    (the d14 hazard) so both are CAST to BIGINT in the shared text.
    One orderkey shuffle joins the tables; the 3-group final agg is a
    map-side partial then a tiny exchange."""
    from marasa_spark.catalog import register_views

    register_views(spark, sf_dir, "orders", "lineitem")
    return spark.sql(Z33_SQL)


Z34_SQL = """
SELECT CAST(floor((CAST(100 AS DOUBLE) * sum(CASE WHEN p_type = 'PROMO' THEN l_extendedprice * (CAST(1 AS DOUBLE) - l_discount) ELSE CAST(0 AS DOUBLE) END)
                   / sum(l_extendedprice * (CAST(1 AS DOUBLE) - l_discount))) * 10000 + CAST(0.5 AS DOUBLE)) AS DOUBLE) / 10000 AS promo_revenue,
       CAST(count(*) AS BIGINT) AS n_lines
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= DATE '1997-09-01' AND l_shipdate < DATE '1997-10-01'
"""


@register("z34_sql_frontend_q14", oracle=Z34_SQL, group="B")
def z34_sql_frontend_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 (promotion revenue share) through the SQL front end:
    the GLOBAL conditional-share ratio — sum(CASE)/sum with no group key
    at all, the one-row aggregate both engines plan as a partial->final
    agg with no data-row shuffle. p_type='PROMO' is a real value in this corpus so the numerator is
    live; the one-month date window pushes into the fact scan before the
    part join (broadcast). Numerator and denominator are same-group
    double sums — cross-engine jitter ~1e-15 relative, far inside the
    4-decimal floor-round grain; n_lines pins the match set exactly."""
    from marasa_spark.catalog import register_views

    register_views(spark, sf_dir, "lineitem", "part")
    return spark.sql(Z34_SQL)


Z35_SQL = """
SELECT s_suppkey, s_name, n_name
FROM supplier
JOIN nation ON s_nationkey = n_nationkey
WHERE n_regionkey = 2
  AND s_suppkey IN (
    SELECT l_suppkey
    FROM lineitem
    WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'small%')
      AND l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1997-01-01'
    GROUP BY l_suppkey, l_partkey
    HAVING sum(l_quantity) > CAST(40 AS DOUBLE)
  )
"""


@register("z35_sql_frontend_q20", oracle=Z35_SQL, group="B")
def z35_sql_frontend_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (suppliers with significant volume of a named
    part class) through the SQL front end: NESTED IN SUBQUERIES — an IN
    whose subquery itself contains an IN plus a grouped HAVING threshold,
    the deepest subquery nesting in the suite. Both engines plan the
    inner IN as a semi join against the name-filtered part dim
    (broadcast), the grouped HAVING as one (suppkey, partkey) shuffle,
    and the outer IN as a semi join into the supplier dim. The HAVING
    sums integer-valued doubles (quantities) — exact in IEEE double
    regardless of accumulation order, so the >40 threshold cannot
    diverge between engines. Region 2 keeps the outer dim filter live
    at every SF (ASIA suppliers exist even in the 10-supplier corpus)."""
    from marasa_spark.catalog import register_views

    register_views(spark, sf_dir, "supplier", "nation", "lineitem", "part")
    return spark.sql(Z35_SQL)


# ---------------------------------------------------------------------------
# z36/z37 — dialect-shared texts beyond TPC-H: ANSI windows, grouping sets
# ---------------------------------------------------------------------------

Z36_SQL = """
SELECT o_custkey, o_orderkey,
       lag(o_totalprice, 1, CAST(0 AS DOUBLE)) OVER w AS prev_price,
       ntile(4) OVER (PARTITION BY o_orderpriority
                      ORDER BY o_totalprice DESC, o_orderkey) AS price_quartile,
       CAST(floor(avg(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) * 100 + CAST(0.5 AS DOUBLE)) AS DOUBLE) / 100 AS ma3,
       CAST(row_number() OVER w AS BIGINT) AS order_seq
FROM orders
WHERE o_custkey < 120
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
"""


@register("z36_sql_frontend_windows", oracle=Z36_SQL, group="B")
def z36_sql_frontend_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI window functions through the SQL front end: a NAMED WINDOW
    clause (the `WINDOW w AS` surface both engines parse but the TPC-H
    sweep never touches) reused by lag-with-default and row_number, a
    3-row moving-average frame over the same partitioning (spelled out:
    extending a named window inline is DuckDB-only, one of the dialect
    edges this text exists to map), plus an independent global ntile. Every
    window's ORDER BY carries the unique o_orderkey tiebreak — the house
    rule that makes lag/ntile/frames deterministic across engines; the
    moving average rides r2sql. Every window is KEYED (the ntile ranks
    price quartiles within priority class) — round 7 retired the global
    ntile this row originally carried; a global ORDER BY window is a
    single-partition operator, and the full-registry plan sweep in
    test_plan_audit now pins that none remains anywhere. row_number is
    CAST to BIGINT (DuckDB emits it as BIGINT, Spark as INT — the shared
    text pins the type)."""
    from marasa_spark.catalog import register_views

    register_views(spark, sf_dir, "orders")
    return spark.sql(Z36_SQL)


Z37_SQL = """
SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
       coalesce(l_linestatus, 'ALL') AS linestatus,
       CAST(floor(sum(l_extendedprice) * 100 + CAST(0.5 AS DOUBLE)) AS DOUBLE) / 100 AS revenue,
       CAST(count(*) AS BIGINT) AS n_lines,
       CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus) AS BIGINT) AS grp_level
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
"""


@register("z37_sql_frontend_gsets", oracle=Z37_SQL, group="B")
def z37_sql_frontend_gsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS through the SQL front end: explicit multi-level
    aggregation (detail, per-flag subtotal, grand total) in ONE shared
    text, with grouping() bits distinguishing a real NULL group key from
    a subtotal row — the disambiguation trick every rollup report needs
    and the d3/d5 DataFrame builds express natively. Both engines expand
    the sets into a single pass (Spark's Expand node — each input row
    fans out once per set, then one shuffle on the padded key; never one
    job per set). The grouping-bit arithmetic is CAST to BIGINT for the
    d14 hazard; revenue rides r2sql."""
    from marasa_spark.catalog import register_views

    register_views(spark, sf_dir, "lineitem")
    return spark.sql(Z37_SQL)


Z38_SQL = """
SELECT t.tier, CAST(count(*) AS BIGINT) AS n_cust,
       CAST(floor(sum(c_acctbal) * 100 + CAST(0.5 AS DOUBLE)) AS DOUBLE) / 100 AS tier_bal
FROM customer
JOIN (VALUES ('BUILDING', 'core'), ('AUTOMOBILE', 'core'),
             ('MACHINERY', 'growth'), ('HOUSEHOLD', 'growth'),
             ('FURNITURE', 'tail')) AS t(segment, tier)
  ON c_mktsegment = t.segment
GROUP BY t.tier
"""


@register("z38_sql_frontend_values", oracle=Z38_SQL, group="B")
def z38_sql_frontend_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inline VALUES table through the SQL front end: a literal lookup
    table (segment -> tier) declared IN THE QUERY TEXT and joined to a
    real table — the seed/mapping-table idiom users reach for before
    anything is materialized (feature-flag maps, tier rollups, enum
    decodes), and a dialect surface (`FROM (VALUES ...) AS t(cols)`)
    the TPC-H sweep never exercises. Both engines parse the ANSI form;
    the literal relation is a LocalRelation in Spark — broadcast by
    construction, the join never shuffles the customer side for it."""
    from marasa_spark.catalog import register_views

    register_views(spark, sf_dir, "customer")
    return spark.sql(Z38_SQL)


Z39_SQL = """
SELECT o_orderpriority,
       CAST(count(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT) AS n_finished,
       CAST(count(*) FILTER (WHERE o_totalprice > CAST(100000 AS DOUBLE)) AS BIGINT) AS n_large,
       CAST(count(*) AS BIGINT) AS n_total
FROM orders
JOIN customer ON o_custkey = c_custkey
WHERE c_name ILIKE 'customer#%1'
GROUP BY o_orderpriority
"""


@register("z39_sql_frontend_filter_ilike", oracle=Z39_SQL, group="B")
def z39_sql_frontend_filter_ilike(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate FILTER clause + ILIKE through the SQL front end: the
    ANSI conditional-count form (one pass, N independent predicates —
    what the CASE-sum idiom of z33 compiles down to, now in its standard
    spelling) and case-insensitive LIKE, both verified shared by running
    the constructs on each engine (SQLFRONTEND.md's table is empirical,
    not copied from docs). FILTER counts are HUGEINT on DuckDB — CAST
    to BIGINT, the d14 rule. Plan: the ILIKE prunes customers before
    the broadcast, one orderkey-side shuffle for the 5-group agg."""
    from marasa_spark.catalog import register_views

    register_views(spark, sf_dir, "orders", "customer")
    return spark.sql(Z39_SQL)


# ---------------------------------------------------------------------------
# z40..z42 — TPC-DS-shaped dialect rows (VERDICT r7 #6): the three DS
# query shapes the TPC-H sweep (z7..z35) never exercises, each one shared
# text on both engines like every z-row
# ---------------------------------------------------------------------------

Z40_SQL = """
SELECT
  CAST(count(*) FILTER (WHERE l_quantity < CAST(7 AS DOUBLE)
        AND (l_discount <= CAST(0.02 AS DOUBLE) OR l_tax >= CAST(0.06 AS DOUBLE))) AS BIGINT) AS b1,
  CAST(count(*) FILTER (WHERE l_quantity >= CAST(7 AS DOUBLE) AND l_quantity < CAST(13 AS DOUBLE)
        AND (l_returnflag = 'R' OR l_tax >= CAST(0.05 AS DOUBLE))) AS BIGINT) AS b2,
  CAST(count(*) FILTER (WHERE l_quantity >= CAST(13 AS DOUBLE) AND l_quantity < CAST(19 AS DOUBLE)
        AND (l_linestatus = 'F' OR l_discount <= CAST(0.04 AS DOUBLE))) AS BIGINT) AS b3,
  CAST(count(*) FILTER (WHERE l_quantity >= CAST(19 AS DOUBLE) AND l_quantity < CAST(25 AS DOUBLE)
        AND (l_discount <= CAST(0.02 AS DOUBLE) OR l_tax >= CAST(0.06 AS DOUBLE))) AS BIGINT) AS b4,
  CAST(count(*) FILTER (WHERE l_quantity >= CAST(25 AS DOUBLE) AND l_quantity < CAST(31 AS DOUBLE)
        AND (l_returnflag = 'R' OR l_tax >= CAST(0.05 AS DOUBLE))) AS BIGINT) AS b5,
  CAST(count(*) FILTER (WHERE l_quantity >= CAST(31 AS DOUBLE) AND l_quantity < CAST(37 AS DOUBLE)
        AND (l_linestatus = 'F' OR l_discount <= CAST(0.04 AS DOUBLE))) AS BIGINT) AS b6,
  CAST(count(*) FILTER (WHERE l_quantity >= CAST(37 AS DOUBLE) AND l_quantity < CAST(43 AS DOUBLE)
        AND (l_discount <= CAST(0.02 AS DOUBLE) OR l_tax >= CAST(0.06 AS DOUBLE))) AS BIGINT) AS b7,
  CAST(count(*) FILTER (WHERE l_quantity >= CAST(43 AS DOUBLE)
        AND (l_returnflag = 'R' OR l_tax >= CAST(0.05 AS DOUBLE))) AS BIGINT) AS b8
FROM lineitem
"""


@register("z40_sql_frontend_q88_shape", oracle=Z40_SQL, group="B")
def z40_sql_frontend_q88_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q88 shape through the SQL front end: EIGHT banded
    conditional counts answered by ONE scan. Q88's published text is
    eight scalar subqueries cross-joined — each re-reading store_sales
    for a different (time band AND demographic-OR) predicate; the
    efficient spelling both engines share is aggregate FILTER, which
    fuses all eight into a single partial+final agg over one pass
    (z39 introduced FILTER; this row pins the many-disjoint-band,
    OR-of-conditions DS idiom at global-agg cardinality). At 100 TB the
    difference is 8 scans vs 1. Dialect notes: every FILTER count CASTs
    to BIGINT (DuckDB HUGEINT, the d14 rule); every decimal literal is
    CAST to DOUBLE (Spark would parse it as DECIMAL and change the
    comparison lattice). The zero-key final agg's SinglePartition
    exchange carries 8 longs — cardinality-collapsed by the partial
    agg, the shape the plan audit explicitly allows."""
    from marasa_spark.catalog import register_views

    register_views(spark, sf_dir, "lineitem")
    return spark.sql(Z40_SQL)


Z41_SQL = """
WITH channels AS (
  SELECT 'order' AS channel, o_orderpriority AS class, o_totalprice AS amount
  FROM orders
  UNION ALL
  SELECT 'return' AS channel, l_linestatus AS class, l_extendedprice AS amount
  FROM lineitem WHERE l_returnflag = 'R'
)
SELECT coalesce(channel, 'ALL') AS channel,
       coalesce(class, 'ALL') AS class,
       CAST(grouping(channel) * 2 + grouping(class) AS BIGINT) AS grp_level,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(floor(sum(amount) * 100 + CAST(0.5 AS DOUBLE)) AS DOUBLE) / 100 AS total_amount
FROM channels
GROUP BY ROLLUP(channel, class)
"""


@register("z41_sql_frontend_q5_shape", oracle=Z41_SQL, group="B")
def z41_sql_frontend_q5_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q5 shape through the SQL front end: heterogeneous fact
    tables UNION ALLed into one (channel, class, amount) stream inside a
    CTE, then ROLLUP over (channel, class) produces per-class detail,
    per-channel subtotals, and the grand total in one pass — the
    multi-channel report every DS variant (Q5, Q77, Q80) is built on.
    Both engines push the rollup's Expand below one shuffle; the union
    itself is exchange-free (g1's posture), so the whole report costs a
    single data movement. grouping() bits disambiguate subtotal rows
    (z37's trick), CAST to BIGINT; the positive-sum rounding rides the
    shared floor form (z37 precedent at 3 SFs)."""
    from marasa_spark.catalog import register_views

    register_views(spark, sf_dir, "orders", "lineitem")
    return spark.sql(Z41_SQL)


Z42_SQL = """
WITH sales AS (
  SELECT n_name AS nation, o_orderpriority AS priority,
         CAST(count(*) AS BIGINT) AS n_orders,
         CAST(floor(sum(o_totalprice) * 100 + CAST(0.5 AS DOUBLE)) AS BIGINT) AS cents
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  GROUP BY n_name, o_orderpriority
), ranked AS (
  SELECT nation, priority, n_orders, cents,
         CAST(floor(CAST(cents AS DOUBLE) * 10000
                    / CAST(sum(cents) OVER (PARTITION BY nation) AS DOUBLE)
                    + CAST(0.5 AS DOUBLE)) AS DOUBLE) / 100 AS share_pct,
         CAST(rank() OVER (PARTITION BY nation ORDER BY cents DESC, priority) AS BIGINT) AS rk
  FROM sales
)
SELECT nation, priority, n_orders,
       CAST(cents AS DOUBLE) / 100 AS revenue, share_pct, rk
FROM ranked
WHERE rk <= 3
"""


@register("z42_sql_frontend_q67_shape", oracle=Z42_SQL, group="B")
def z42_sql_frontend_q67_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q67 shape through the SQL front end: window-over-aggregate —
    aggregate to (nation, priority) revenue, then a partitioned window
    computes each priority's share of its nation's total and ranks
    priorities within the nation, keeping the top 3. The
    rank-the-aggregates idiom (Q67's rank over rollup, Q36's ratio
    grading) that turns a report into a leaderboard. Float discipline:
    revenue is snapped to BIGINT cents IN the aggregate (rule 5 — the
    share division then starts from integers, so both engines divide
    identical exact doubles and the share's rounding boundary cannot be
    straddled by summation order); the rank ORDER BY is (cents DESC,
    priority) — integer key + unique tiebreak (rule 4); rank() CASTs to
    BIGINT (DuckDB/Spark width split). Plan: one shuffle for the agg,
    one for the nation-keyed window — both keyed, no single-partition
    operator; the window input is the agg's ~125-row output, so the
    second exchange is metadata-sized at any corpus scale."""
    from marasa_spark.catalog import register_views

    register_views(spark, sf_dir, "orders", "customer", "nation")
    return spark.sql(Z42_SQL)


Z43_SQL = """
SELECT n_name AS nation, c_mktsegment AS segment,
       CAST(count(*) AS BIGINT) AS n_cust,
       CAST(floor(CAST(sum(CAST(floor(c_acctbal * 100 + CAST(0.5 AS DOUBLE)) AS BIGINT)) AS DOUBLE)
                  / count(*) + CAST(0.5 AS DOUBLE)) AS DOUBLE) / 100 AS avg_bal,
       min(c_acctbal) AS min_bal,
       max(c_acctbal) AS max_bal
FROM customer
JOIN nation ON c_nationkey = n_nationkey
WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
  AND (EXISTS (SELECT 1 FROM orders
               WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
       OR EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_totalprice > CAST(150000 AS DOUBLE)))
GROUP BY n_name, c_mktsegment
"""


@register("z43_sql_frontend_q35_shape", oracle=Z43_SQL, group="B")
def z43_sql_frontend_q35_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q35 shape through the SQL front end: demographic stats over
    customers gated by an EXISTS in one channel AND an OR of EXISTS in
    two others — the multi-channel membership filter Q35/Q10/Q69 share,
    and the decorrelation stress case: a bare EXISTS rewrites to a
    semi-join, but EXISTS inside OR cannot (the row must survive when
    either side matches), so Catalyst plans ExistenceJoin marker columns
    and filters on the disjunction — all hash joins, no nested loop,
    verified by the registry plan audit. min/max of doubles pass through
    un-rounded (both engines pick the same stored value — exact); avg is
    computed from exact BIGINT cents (rule 5: a double avg differs
    between engines in summation order, and a 12-customer group landed
    exactly on a cent boundary at sf0.01) then floor-rounded."""
    from marasa_spark.catalog import register_views

    register_views(spark, sf_dir, "customer", "nation", "orders")
    return spark.sql(Z43_SQL)


Z44_SQL = """
WITH clicks AS (
  SELECT user_id, CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS n
  FROM events WHERE event_type = 'click' GROUP BY user_id, CAST(ts AS DATE)
), purchases AS (
  SELECT user_id, CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS n
  FROM events WHERE event_type = 'purchase' GROUP BY user_id, CAST(ts AS DATE)
), cum_c AS (
  SELECT user_id, day,
         CAST(sum(n) OVER (PARTITION BY user_id ORDER BY day) AS BIGINT) AS cum_clicks
  FROM clicks
), cum_p AS (
  SELECT user_id, day,
         CAST(sum(n) OVER (PARTITION BY user_id ORDER BY day) AS BIGINT) AS cum_purchases
  FROM purchases
)
SELECT coalesce(c.user_id, p.user_id) AS user_id,
       coalesce(c.day, p.day) AS day,
       c.cum_clicks, p.cum_purchases
FROM cum_c c
FULL JOIN cum_p p ON c.user_id = p.user_id AND c.day = p.day
WHERE coalesce(c.cum_clicks, 0) > coalesce(p.cum_purchases, 0) * 2
"""


@register("z44_sql_frontend_q51_shape", oracle=Z44_SQL, group="B")
def z44_sql_frontend_q51_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q51 shape through the SQL front end: two per-key daily
    cumulative series built by window-over-aggregate CTEs, FULL OUTER
    JOINed on (key, day), and filtered where one running total outruns
    the other — the trend-crossover detector. Dialect/determinism notes:
    day is unique per (user, series) after the pre-aggregation, so the
    running windows' ORDER BY day satisfies the unique-tiebreak rule
    with no extra key; both window sums CAST to BIGINT (DuckDB HUGEINT);
    the full join's NULL sides flow through coalesce exactly like Q51's
    published text. Every window is keyed by user_id — one shuffle per
    series, never a single-partition sort; the join keys match the
    window partitioning so AQE can plan it shuffle-free."""
    from marasa_spark.catalog import register_views

    register_views(spark, sf_dir, "events")
    return spark.sql(Z44_SQL)


# ---------------------------------------------------------------------------
# z45..z47 — second TPC-DS dialect batch (round 8 continuation): the
# cross-channel INTERSECT membership, moving-window time-series anomaly,
# and integer-exact cross-period ratio shapes
# ---------------------------------------------------------------------------

Z45_SQL = """
WITH returned_parts AS (
  SELECT DISTINCT l_partkey AS pk FROM lineitem WHERE l_returnflag = 'R'
), urgent_parts AS (
  SELECT DISTINCT l.l_partkey AS pk
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE o.o_orderpriority = '1-URGENT'
), both_channels AS (
  SELECT pk FROM returned_parts INTERSECT SELECT pk FROM urgent_parts
)
SELECT p.p_brand AS brand,
       CAST(count(*) AS BIGINT) AS n_lines,
       CAST(floor(sum(li.l_extendedprice) * 100 + CAST(0.5 AS DOUBLE)) AS BIGINT) AS revenue_cents
FROM lineitem li
JOIN part p ON li.l_partkey = p.p_partkey
WHERE li.l_partkey IN (SELECT pk FROM both_channels)
GROUP BY p.p_brand
"""


@register("z45_sql_frontend_q14_shape", oracle=Z45_SQL, group="B")
def z45_sql_frontend_q14_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q14 shape through the SQL front end: the cross-channel
    item-membership set built with INTERSECT between two DISTINCT-keyed
    derived tables (one a filtered scan, one a fact-fact join), consumed
    as an IN-subquery semi-join that gates the main aggregation — Q14's
    'items sold in every channel' idiom. Plan shape both engines share:
    the INTERSECT becomes a left-semi join between the two key sets
    (key-domain-sized, not fact-sized), the IN becomes another semi join,
    so the expensive fact table is scanned exactly twice and the dim join
    broadcasts. Revenue is emitted as integer cents (the z32/k63 snap
    rule) so the positive sum is hash-exact at any SF."""
    from marasa_spark.catalog import register_views

    register_views(spark, sf_dir, "lineitem", "orders", "part")
    return spark.sql(Z45_SQL)


Z46_SQL = """
WITH monthly AS (
  SELECT o_orderpriority AS priority,
         CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS yr,
         CAST(EXTRACT(MONTH FROM o_orderdate) AS BIGINT) AS mon,
         CAST(count(*) AS BIGINT) AS n_orders,
         CAST(floor(sum(o_totalprice) * 100 + CAST(0.5 AS DOUBLE)) AS BIGINT) AS cents
  FROM orders
  GROUP BY o_orderpriority, EXTRACT(YEAR FROM o_orderdate), EXTRACT(MONTH FROM o_orderdate)
), windowed AS (
  SELECT priority, yr, mon, n_orders, cents,
         CAST(sum(cents) OVER (PARTITION BY priority, yr) AS BIGINT) AS yr_cents,
         CAST(count(*) OVER (PARTITION BY priority, yr) AS BIGINT) AS yr_months,
         lag(cents) OVER (PARTITION BY priority ORDER BY yr, mon) AS prev_cents,
         lead(cents) OVER (PARTITION BY priority ORDER BY yr, mon) AS next_cents
  FROM monthly
)
SELECT priority, yr, mon, n_orders,
       CAST(cents AS DOUBLE) / 100 AS revenue,
       CAST(yr_cents AS DOUBLE) / 100 AS year_revenue,
       CAST(prev_cents AS DOUBLE) / 100 AS prev_revenue,
       CAST(next_cents AS DOUBLE) / 100 AS next_revenue
FROM windowed
WHERE cents * yr_months * 10 < yr_cents * 8
   OR cents * yr_months * 10 > yr_cents * 12
"""


@register("z46_sql_frontend_q47_shape", oracle=Z46_SQL, group="B")
def z46_sql_frontend_q47_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q47/Q57 shape through the SQL front end: a monthly revenue
    series per key, annotated with the same-year average (sum/count
    windows over (key, year)) and the neighbouring months (lag/lead over
    the full series), filtered to the anomalous months that deviate more
    than 20% from their year's mean — the v_std moving-deviation
    detector. Determinism discipline: the deviation test is INTEGER
    cross-multiplication (cents * months * 10 vs year_cents * 8/12), so
    no float division ever decides a boundary row; (yr, mon) is unique
    per priority after the pre-agg, satisfying the window tiebreak rule;
    month cents snap to integers before any window touches them. One agg
    shuffle + one window shuffle on the same key prefix — at 100 TB the
    series table is month-domain-sized, thousands of rows per key, never
    fact-sized."""
    from marasa_spark.catalog import register_views

    register_views(spark, sf_dir, "orders")
    return spark.sql(Z46_SQL)


Z47_SQL = """
WITH early AS (
  SELECT l_partkey AS pk,
         CAST(floor(sum(l_extendedprice) * 100 + CAST(0.5 AS DOUBLE)) AS BIGINT) AS cents_early
  FROM lineitem WHERE l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
  GROUP BY l_partkey
), late AS (
  SELECT l_partkey AS pk,
         CAST(floor(sum(l_extendedprice) * 100 + CAST(0.5 AS DOUBLE)) AS BIGINT) AS cents_late
  FROM lineitem WHERE l_shipdate >= TIMESTAMP '1998-01-01 00:00:00'
  GROUP BY l_partkey
)
SELECT e.pk AS partkey,
       CAST(e.cents_early AS DOUBLE) / 100 AS revenue_early,
       CAST(l.cents_late AS DOUBLE) / 100 AS revenue_late
FROM early e
JOIN late l ON e.pk = l.pk
WHERE e.cents_early * 10 BETWEEN l.cents_late * 9 AND l.cents_late * 11
"""


@register("z47_sql_frontend_q58_shape", oracle=Z47_SQL, group="B")
def z47_sql_frontend_q58_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q58 shape through the SQL front end: the same key
    aggregated over two disjoint periods (two CTE aggs over one fact
    table), equi-joined, and kept only where the two revenues agree
    within ±10% — the 'consistent performer' ratio filter. The published
    Q58 compares with avg-based division; the dialect-safe spelling is
    integer cross-multiplication on snapped cents (cents_early * 10
    BETWEEN cents_late * 9 AND cents_late * 11), which is exactly
    equivalent for positive revenues and can never hash-mismatch on a
    ratio boundary. Both aggs shuffle on the SAME key, so the join that
    follows is co-partitioned and exchange-free under AQE; at 100 TB
    this is two fact passes + one key-domain join, no fact-sized
    shuffle beyond the aggs."""
    from marasa_spark.catalog import register_views

    register_views(spark, sf_dir, "lineitem")
    return spark.sql(Z47_SQL)


Z48_SQL = """
WITH counts AS (
  SELECT l_orderkey AS ok, CAST(count(*) AS BIGINT) AS n_lines
  FROM lineitem GROUP BY l_orderkey
  HAVING count(*) BETWEEN 5 AND 7
)
SELECT o.o_orderkey AS orderkey, o.o_orderpriority AS priority,
       c.n_lines AS n_lines,
       CAST(floor(o.o_totalprice * 100 + CAST(0.5 AS DOUBLE)) AS BIGINT) AS total_cents
FROM counts c JOIN orders o ON c.ok = o.o_orderkey
"""


@register("z48_sql_frontend_q34_shape", oracle=Z48_SQL, group="B")
def z48_sql_frontend_q34_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q34/Q73 shape through the SQL front end: groups selected by
    a COUNT BAND in HAVING (tickets with 5-7 lines — neither singletons
    nor bulk), then joined BACK to the parent table for per-row detail —
    the 'find the mid-size baskets and show them' idiom. The aggregation
    collapses the fact table to key-domain size before the join, so the
    detail join is between two key-domain relations; HAVING pushes into
    the agg operator on both engines (no post-filter pass). Cents snap on
    the money column keeps the detail rows hash-exact."""
    from marasa_spark.catalog import register_views

    register_views(spark, sf_dir, "lineitem", "orders")
    return spark.sql(Z48_SQL)


Z49_SQL = """
WITH returns AS (
  SELECT l_orderkey AS ok, l_partkey AS pk,
         CAST(sum(l_quantity) AS DOUBLE) AS ret_qty
  FROM lineitem WHERE l_returnflag = 'R'
  GROUP BY l_orderkey, l_partkey
)
SELECT li.l_suppkey AS suppkey,
       CAST(count(*) AS BIGINT) AS n_lines,
       CAST(floor(sum(greatest(li.l_quantity - coalesce(r.ret_qty, CAST(0 AS DOUBLE)),
                               CAST(0 AS DOUBLE))) * 100 + CAST(0.5 AS DOUBLE)) AS BIGINT)
         AS net_qty_cents
FROM lineitem li
LEFT JOIN returns r ON li.l_orderkey = r.ok AND li.l_partkey = r.pk
WHERE li.l_returnflag <> 'R'
GROUP BY li.l_suppkey
"""


@register("z49_sql_frontend_q93_shape", oracle=Z49_SQL, group="B")
def z49_sql_frontend_q93_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q93 shape through the SQL front end: every sale adjusted by
    its matching RETURN row via a LEFT JOIN to a pre-aggregated returns
    side, clamped at zero (greatest), then rolled up per supplier — the
    net-of-returns report. The returns CTE aggregates BEFORE the join
    (returns are a small fraction of the fact table, so the left join
    probes a compact build side rather than fact x fact); coalesce
    handles never-returned lines exactly like Q93's published text.
    Quantities are integer-valued doubles, and the final sum snaps to
    cents — hash-exact at any SF. Two shuffles on the fact table: the
    (order, part) co-partition for the join and the supplier rollup."""
    from marasa_spark.catalog import register_views

    register_views(spark, sf_dir, "lineitem")
    return spark.sql(Z49_SQL)


Z50_SQL = """
SELECT l_returnflag AS channel, o.o_orderpriority AS priority,
       CAST(grouping(l_returnflag) AS BIGINT) AS g_channel,
       CAST(grouping(o.o_orderpriority) AS BIGINT) AS g_priority,
       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
       CAST(count(*) AS BIGINT) AS n_lines
FROM lineitem li JOIN orders o ON li.l_orderkey = o.o_orderkey
GROUP BY GROUPING SETS ((l_returnflag, o.o_orderpriority), (l_returnflag), ())
"""


@register("z50_sql_frontend_q18_shape", oracle=Z50_SQL, group="B")
def z50_sql_frontend_q18_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q18/Q22 shape through the SQL front end: a fact-dimension
    join rolled up over GROUPING SETS at three granularities — (channel,
    priority), (channel), grand total — with grouping() markers
    distinguishing a real NULL group from a rolled-up one (the published
    queries' i_item_id/NULL rollup idiom). Both engines expand grouping
    sets below a SINGLE aggregate exchange (Spark's Expand; DuckDB's
    grouping sets node), so the rollup costs one fact pass + one shuffle
    regardless of how many granularities are requested; the quantity sum
    is integer (BIGINT-cast per the d14 hazard) so all three levels
    hash-exact."""
    from marasa_spark.catalog import register_views

    register_views(spark, sf_dir, "lineitem", "orders")
    return spark.sql(Z50_SQL)


Z51_SQL = """
WITH cust_ret AS (
  SELECT o.o_custkey AS ck,
         CAST(floor(sum(li.l_extendedprice) * 100 + CAST(0.5 AS DOUBLE)) AS BIGINT) AS ret_cents
  FROM lineitem li JOIN orders o ON li.l_orderkey = o.o_orderkey
  WHERE li.l_returnflag = 'R'
  GROUP BY o.o_custkey
), natl AS (
  SELECT c.c_nationkey AS nk,
         CAST(sum(r.ret_cents) AS BIGINT) AS nation_cents,
         CAST(count(*) AS BIGINT) AS n_cust
  FROM cust_ret r JOIN customer c ON r.ck = c.c_custkey
  GROUP BY c.c_nationkey
)
SELECT c.c_custkey AS custkey, c.c_nationkey AS nationkey, r.ret_cents AS ret_cents
FROM cust_ret r
JOIN customer c ON r.ck = c.c_custkey
JOIN natl n ON c.c_nationkey = n.nk
WHERE r.ret_cents * n.n_cust * 10 > n.nation_cents * 12
"""


@register("z51_sql_frontend_q1_shape", oracle=Z51_SQL, group="B")
def z51_sql_frontend_q1_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q1 shape through the SQL front end: customers whose total
    returns exceed 1.2x the AVERAGE returns of their nation — the
    published query's correlated subquery against sr_store, decorrelated
    here (as every planner rewrites it) into a per-nation aggregate CTE
    joined back. The dialect-safe spelling of 'ret > 1.2 * avg' is
    integer cross-multiplication on snapped cents:
    ret_cents * n_cust * 10 > nation_cents * 12 — exactly equivalent for
    positive returns and immune to float-division boundary mismatches.
    The fact table aggregates to customer-domain size FIRST; the nation
    aggregate runs over that key-domain relation, so the 'average of the
    group' costs nothing fact-sized, and the final join is key-domain x
    25-row broadcast."""
    from marasa_spark.catalog import register_views

    register_views(spark, sf_dir, "lineitem", "orders", "customer")
    return spark.sql(Z51_SQL)


Z52_SQL = """
WITH ch_a AS (
  SELECT l_partkey AS pk, CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty_a
  FROM lineitem WHERE l_returnflag = 'A' GROUP BY l_partkey
), ch_n AS (
  SELECT l_partkey AS pk, CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty_n
  FROM lineitem WHERE l_returnflag = 'N' GROUP BY l_partkey
), ch_r AS (
  SELECT l_partkey AS pk, CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty_r
  FROM lineitem WHERE l_returnflag = 'R' GROUP BY l_partkey
)
SELECT COALESCE(a.pk, n.pk, r.pk) AS partkey,
       CAST(COALESCE(a.qty_a, 0) AS BIGINT) AS qty_ack,
       CAST(COALESCE(n.qty_n, 0) AS BIGINT) AS qty_none,
       CAST(COALESCE(r.qty_r, 0) AS BIGINT) AS qty_ret,
       CAST(COALESCE(a.qty_a, 0) - COALESCE(r.qty_r, 0) AS BIGINT) AS ack_minus_ret
FROM ch_a a
FULL OUTER JOIN ch_n n ON a.pk = n.pk
FULL OUTER JOIN ch_r r ON COALESCE(a.pk, n.pk) = r.pk
WHERE COALESCE(a.qty_a, 0) + COALESCE(n.qty_n, 0) + COALESCE(r.qty_r, 0) >= 120
"""


@register("z52_sql_frontend_q78_shape", oracle=Z52_SQL, group="B")
def z52_sql_frontend_q78_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q78 shape through the SQL front end: the same key
    aggregated in THREE disjoint channels (returnflag slices standing in
    for store/web/catalog), reconciled with a FULL OUTER join chain whose
    keys COALESCE left-to-right — a key present in any channel survives
    with zeros filled in for the channels that never saw it — then
    band-filtered on combined volume. The three channel aggs shuffle on
    the SAME key, so under AQE the outer joins are co-partitioned
    (exchange-free beyond the three aggs); quantities are integer sums
    (BIGINT-cast per the d14 hazard) so the reconciliation columns and
    the derived ack-minus-returned delta hash-exact. The published Q78
    ratio filter becomes an additive volume band to keep the one-text SQL
    division-free."""
    from marasa_spark.catalog import register_views

    register_views(spark, sf_dir, "lineitem")
    return spark.sql(Z52_SQL)


_Z53_G_N = "CAST(floor(CAST(s.cents AS DOUBLE) * 1000 / s.prev_cents) AS BIGINT)"
_Z53_G_T = "CAST(floor(CAST(t.tot_cents AS DOUBLE) * 1000 / t.prev_tot) AS BIGINT)"

Z53_SQL = f"""
WITH rev AS (
  SELECT c.c_nationkey AS nk,
         CAST(year(o.o_orderdate) AS BIGINT) * 4
           + CAST(floor((month(o.o_orderdate) - 1) / 3) AS BIGINT) AS q,
         CAST(floor(sum(li.l_extendedprice) * 100 + CAST(0.5 AS DOUBLE)) AS BIGINT) AS cents
  FROM lineitem li JOIN orders o ON li.l_orderkey = o.o_orderkey
                   JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY c.c_nationkey,
           CAST(year(o.o_orderdate) AS BIGINT) * 4
             + CAST(floor((month(o.o_orderdate) - 1) / 3) AS BIGINT)
), seq AS (
  SELECT nk, q, cents, lag(cents) OVER (PARTITION BY nk ORDER BY q) AS prev_cents
  FROM rev
), tot AS (
  SELECT q, CAST(sum(cents) AS BIGINT) AS tot_cents,
         lag(CAST(sum(cents) AS BIGINT)) OVER (ORDER BY q) AS prev_tot
  FROM rev GROUP BY q
)
SELECT s.nk AS nationkey, s.q AS quarter,
       {_Z53_G_N} AS growth_milli,
       {_Z53_G_T} AS global_milli
FROM seq s JOIN tot t ON s.q = t.q
WHERE s.prev_cents IS NOT NULL AND t.prev_tot IS NOT NULL
  AND {_Z53_G_N} > {_Z53_G_T}
"""


@register("z53_sql_frontend_q31_shape", oracle=Z53_SQL, group="B")
def z53_sql_frontend_q31_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q31 shape through the SQL front end: quarter-over-quarter
    growth per nation, kept where it BEATS the all-nations growth of the
    same quarter — two lag() windows over the same pre-aggregated series
    (per-nation and global), joined on the period key. Growth compares as
    integer MILLI-ratios (floor(cents * 1000 / prev) — double arithmetic
    is exact for cents < 2^53 / 1000, i.e. well past sf1000, and floor is
    IEEE-identical on both engines), not as raw cross-multiplication,
    which overflows BIGINT at data scale (cents x total_cents ~ 1e19 at
    sf0.01 already — measured round 9). The fact table aggregates to
    (nation x quarter) size before any window; both window partitions are
    tiny key-domain relations."""
    from marasa_spark.catalog import register_views

    register_views(spark, sf_dir, "lineitem", "orders", "customer")
    return spark.sql(Z53_SQL)


Z54_SQL = """
WITH freq AS (
  SELECT l_partkey AS pk FROM lineitem
  GROUP BY l_partkey HAVING count(*) >= 35
)
SELECT o.o_orderpriority AS priority,
       CAST(count(*) AS BIGINT) AS n_lines,
       CAST(sum(CAST(li.l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
FROM lineitem li
JOIN orders o ON li.l_orderkey = o.o_orderkey
WHERE li.l_partkey IN (SELECT pk FROM freq)
GROUP BY o.o_orderpriority
"""


@register("z54_sql_frontend_q23_shape", oracle=Z54_SQL, group="B")
def z54_sql_frontend_q23_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q23 shape through the SQL front end: a 'frequent items'
    set derived by a HAVING count threshold over the fact table, consumed
    as an IN semi-join back into the same fact table before the final
    rollup — the self-derived-dimension idiom. Both engines lower the IN
    to a semi join against the key-domain-sized freq set (no fact x fact
    movement); the quantity sum is BIGINT-cast per the d14 hazard."""
    from marasa_spark.catalog import register_views

    register_views(spark, sf_dir, "lineitem", "orders")
    return spark.sql(Z54_SQL)


Z55_SQL = """
WITH a AS (
  SELECT DISTINCT o.o_custkey AS ck
  FROM lineitem li JOIN orders o ON li.l_orderkey = o.o_orderkey
  WHERE li.l_returnflag = 'A'
), n AS (
  SELECT DISTINCT o.o_custkey AS ck
  FROM lineitem li JOIN orders o ON li.l_orderkey = o.o_orderkey
  WHERE li.l_returnflag = 'N'
), r AS (
  SELECT DISTINCT o.o_custkey AS ck
  FROM lineitem li JOIN orders o ON li.l_orderkey = o.o_orderkey
  WHERE li.l_returnflag = 'R'
), common AS (
  SELECT ck FROM a INTERSECT SELECT ck FROM n INTERSECT SELECT ck FROM r
)
SELECT c.c_mktsegment AS segment, CAST(count(*) AS BIGINT) AS n_cust
FROM common JOIN customer c ON common.ck = c.c_custkey
GROUP BY c.c_mktsegment
"""


@register("z55_sql_frontend_q38_shape", oracle=Z55_SQL, group="B")
def z55_sql_frontend_q38_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q38/Q87 shape through the SQL front end: customers present
    in ALL THREE channels (returnflag slices standing in for
    store/web/catalog), via a chained INTERSECT of per-channel DISTINCT
    key sets, then segmented counts off a dimension join. Both engines
    run the INTERSECT at key-domain size (the channels DISTINCT before
    the set operation, so the fact table never enters it) — z45's Q14
    posture applied to the customer domain with a two-step chain."""
    from marasa_spark.catalog import register_views

    register_views(spark, sf_dir, "lineitem", "orders", "customer")
    return spark.sql(Z55_SQL)


Z56_SQL = """
WITH rev AS (
  SELECT c.c_nationkey AS nk,
         CAST(year(o.o_orderdate) AS BIGINT) AS yr,
         CAST(month(o.o_orderdate) AS BIGINT) AS mo,
         CAST(floor(sum(li.l_extendedprice) * 100 + CAST(0.5 AS DOUBLE)) AS BIGINT) AS cents
  FROM lineitem li JOIN orders o ON li.l_orderkey = o.o_orderkey
                   JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY c.c_nationkey, year(o.o_orderdate), month(o.o_orderdate)
), w AS (
  SELECT nk, yr, mo, cents,
         CAST(sum(cents) OVER (PARTITION BY nk, yr) AS BIGINT) AS yr_cents,
         CAST(count(*) OVER (PARTITION BY nk, yr) AS BIGINT) AS yr_months,
         lag(cents)  OVER (PARTITION BY nk ORDER BY yr, mo) AS prev_cents,
         lead(cents) OVER (PARTITION BY nk ORDER BY yr, mo) AS next_cents
  FROM rev
)
SELECT nk AS nationkey, yr, mo, cents, prev_cents, next_cents
FROM w
WHERE yr_months = 12
  AND abs(cents * yr_months - yr_cents) * 10 > yr_cents
"""


@register("z56_sql_frontend_q57_shape", oracle=Z56_SQL, group="B")
def z56_sql_frontend_q57_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q57 shape through the SQL front end: per-nation monthly
    revenue series, kept where a month deviates more than 10% from its
    year's average, carrying the lag/lead neighbor months — Q57's
    outlier-month-with-context window stack (a framed aggregate over the
    (key, year) partition plus two offset windows over the ordered
    series) on the shared dialect. All arithmetic is integer: monthly
    revenue rounds once to cents (nonnegative sum — the signed-sum lint
    allows it), the yearly average comparison cross-multiplies instead
    of dividing (|cents·n − tot| · 10 > tot·n with n fixed at 12;
    magnitudes stay < 2^50 past sf1000), and the published
    avg_monthly_sales > 0 guard is subsumed by requiring a complete
    12-month year. The fact aggregates to (nation × month) size before
    any window; both window partitions are key-domain relations, and the
    (yr, mo) order key is unique per nation so lag/lead are
    tie-deterministic without an extra tiebreaker."""
    from marasa_spark.catalog import register_views

    register_views(spark, sf_dir, "lineitem", "orders", "customer")
    return spark.sql(Z56_SQL)


Z57_SQL = """
WITH priced AS (
  SELECT o_custkey, o_orderdate, o_orderkey,
         CAST(floor(o_totalprice * 100 + CAST(0.5 AS DOUBLE)) AS BIGINT) AS cents
  FROM orders WHERE o_custkey % 10 = 0
)
SELECT o_custkey, o_orderdate, o_orderkey, cents,
       CAST(sum(cents) OVER (PARTITION BY o_custkey ORDER BY o_orderdate
                             RANGE BETWEEN INTERVAL 29 DAYS PRECEDING
                                   AND CURRENT ROW) AS BIGINT) AS cents_30d,
       CAST(count(*) OVER (PARTITION BY o_custkey ORDER BY o_orderdate
                           RANGE BETWEEN INTERVAL 29 DAYS PRECEDING
                                 AND CURRENT ROW) AS BIGINT) AS n_30d
FROM priced
"""


@register("z57_sql_frontend_rolling_30d_sum", oracle=Z57_SQL, group="B")
def z57_sql_frontend_rolling_30d_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 30-day MONETARY sum per customer over an interval RANGE
    frame, on the shared dialect — the rolling-revenue window z18 could
    not carry (its interval-RANGE row pins count/max, which are
    order-insensitive; a rolling double SUM would be an
    accumulation-order hash hazard inside the frame). The k53/z32 recipe
    makes the sum exact instead: each order rounds ONCE to integer
    cents, the frame sums BIGINTs, so any accumulation order yields the
    identical total. RANGE frames are tie-deterministic by construction
    (rows sharing an order date share a frame), and o_orderkey rides
    along as the row identity. One window shuffle on the 10%-sampled
    customer key; at 100 TB the frame is bounded by a customer's 30-day
    order count, never the partition."""
    from marasa_spark.catalog import register_views

    register_views(spark, sf_dir, "orders")
    return spark.sql(Z57_SQL)
