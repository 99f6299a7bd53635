"""Relational operator surface (SURVEY.md §2.2): filters, joins,
aggregations, windows, sorts, set ops — the general analytics
capabilities the driver verifies over the TPC-H-ish tables.

The reference implements none of these (verified absent, SURVEY.md
§2.2); they are Spark built-ins, declared here as DataFrame plans so
Catalyst handles pushdown / pruning / join selection, each paired
with a DuckDB oracle.

Determinism for value-hash parity: double-typed aggregates are
summed as exact decimals and cast back to double on BOTH sides
(`_dsum`), so the result is independent of partitioning/summation
order — mandatory at any parallelism, and the reason these queries
hash-match at every scale factor.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..io import load_table, stage
from .registry import register, register_sql


def _t(spark, sf_dir, name) -> DataFrame:
    return load_table(spark, sf_dir, name)


# Single parity-critical definition lives in jly_flink_spark.functions;
# these aliases keep the existing query modules' call sites.
from ..functions import dsum as _dsum  # noqa: E402,F401
from ..functions import dsum_col as _dsum_col  # noqa: E402,F401
from ..functions import dsum_sql as _DSUM  # noqa: E402,F401


# ---------------------------------------------------------------------------
# Filters / projections (pushed into the parquet scan by Catalyst)
# ---------------------------------------------------------------------------


@register(
    "filter_project_pushdown",
    oracle="""
SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1995-01-01'
  AND l_shipdate < TIMESTAMP '1996-01-01'
  AND l_discount > 0.05
""",
    tags=("filter", "projection", "pushdown"),
    doc="Range + predicate filter with column pruning; both reach the "
    "parquet scan (PushedFilters/ReadSchema in explain).",
)
def filter_project_pushdown(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_discount") > 0.05)
    ).select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")


@register(
    "filter_in_between_like",
    oracle="""
SELECT p_partkey, p_name, p_brand, p_size
FROM part
WHERE p_brand IN ('Brand#1', 'Brand#2', 'Brand#3')
  AND p_size BETWEEN 10 AND 40
  AND p_name LIKE '%a%'
""",
    tags=("filter",),
    doc="IN-list + BETWEEN + LIKE predicates.",
)
def filter_in_between_like(spark, sf_dir):
    p = _t(spark, sf_dir, "part")
    return p.filter(
        F.col("p_brand").isin("Brand#1", "Brand#2", "Brand#3")
        & F.col("p_size").between(10, 40)
        & F.col("p_name").like("%a%")
    ).select("p_partkey", "p_name", "p_brand", "p_size")


# ---------------------------------------------------------------------------
# Joins
# ---------------------------------------------------------------------------


@register(
    "join_inner",
    oracle="""
SELECT o.o_orderkey, o.o_totalprice, c.c_name, c.c_mktsegment
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
WHERE o.o_orderstatus = 'F'
""",
    tags=("join",),
    doc="Equi inner join orders⋈customer. The customer side is a dim "
    "→ Catalyst broadcasts it under the configured threshold.",
)
def join_inner(spark, sf_dir):
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    c = _t(spark, sf_dir, "customer")
    return o.join(c, o.o_custkey == c.c_custkey, "inner").select(
        "o_orderkey", "o_totalprice", "c_name", "c_mktsegment"
    )


@register(
    "join_left_outer",
    oracle="""
SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_totalprice
FROM customer c LEFT JOIN orders o
  ON c.c_custkey = o.o_custkey AND o.o_totalprice > 400000
""",
    tags=("join",),
    doc="Left outer join with a join-side predicate (kept in the ON "
    "clause — moving it to WHERE would change semantics).",
)
def join_left_outer(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    cond = (c.c_custkey == o.o_custkey) & (o.o_totalprice > 400000)
    return c.join(o, cond, "left").select(
        "c_custkey", "c_name", "o_orderkey", "o_totalprice"
    )


@register(
    "join_full_outer",
    oracle="""
SELECT n.n_nationkey, n.n_name, s.s_suppkey, s.s_name
FROM nation n FULL OUTER JOIN supplier s ON n.n_nationkey = s.s_nationkey
""",
    tags=("join",),
    doc="Full outer join (nations without suppliers and vice versa).",
)
def join_full_outer(spark, sf_dir):
    n = _t(spark, sf_dir, "nation")
    s = _t(spark, sf_dir, "supplier")
    return n.join(s, n.n_nationkey == s.s_nationkey, "full_outer").select(
        "n_nationkey", "n_name", "s_suppkey", "s_name"
    )


@register(
    "join_semi",
    oracle="""
SELECT c_custkey, c_name
FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
""",
    tags=("join",),
    doc="Left-semi join ≡ EXISTS: customers having a big order.",
)
def join_semi(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


@register(
    "join_anti",
    oracle="""
SELECT c_custkey, c_name
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
""",
    tags=("join",),
    doc="Left-anti join ≡ NOT EXISTS: customers with no orders.",
)
def join_anti(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


@register(
    "join_broadcast_agg",
    oracle=f"""
SELECT p.p_brand, count(*) AS n_items,
       {_DSUM('l.l_quantity')} AS sum_qty
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
GROUP BY p.p_brand
""",
    tags=("join", "groupby", "broadcast"),
    doc="Fact⋈dim with explicit broadcast of the dim — the shape that "
    "must never shuffle the fact side at 100 TB.",
)
def join_broadcast_agg(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(F.count("*").alias("n_items"), _dsum("l_quantity", "sum_qty"))
    )


@register(
    "join_salted_skew",
    oracle="""
SELECT o.o_orderpriority, count(*) AS n_orders,
       CAST(sum(length(d.o_orderpriority)) AS BIGINT) AS sum_len
FROM orders o
JOIN (SELECT DISTINCT o_orderpriority FROM orders) d
  USING (o_orderpriority)
GROUP BY o.o_orderpriority
""",
    tags=("join", "skew", "salting"),
    doc="Salted skew join (operators/joins.py::salted_join): the fact "
    "side joins on a 5-value key — pathological skew for a hash "
    "join. Salting spreads each hot key over n_salts partitions by "
    "widening the join key to (key, salt) with the dim replicated "
    "per salt. The oracle is the PLAIN join: salting must be "
    "invisible in the result, and the value-hash proves it.",
)
def join_salted_skew(spark, sf_dir):
    from ..operators.joins import salted_join

    o = _t(spark, sf_dir, "orders")
    dim = o.select("o_orderpriority").distinct()
    # the salt hashes ALL left columns — the unique o_orderkey must be
    # present or every row of a hot key would land on one salt value
    joined = salted_join(
        o.select("o_orderkey", "o_orderpriority"), dim, "o_orderpriority"
    )
    return joined.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        F.sum(F.length("o_orderpriority")).cast("bigint").alias("sum_len"),
    )


@register(
    "join_cross",
    oracle="""
SELECT r1.r_name AS from_region, r2.r_name AS to_region
FROM region r1 CROSS JOIN region r2
WHERE r1.r_regionkey <> r2.r_regionkey
""",
    tags=("join",),
    doc="Cross join (tiny×tiny only — guarded use).",
)
def join_cross(spark, sf_dir):
    r1 = _t(spark, sf_dir, "region").select(
        F.col("r_regionkey").alias("k1"), F.col("r_name").alias("from_region")
    )
    r2 = _t(spark, sf_dir, "region").select(
        F.col("r_regionkey").alias("k2"), F.col("r_name").alias("to_region")
    )
    return (
        r1.crossJoin(r2)
        .filter(F.col("k1") != F.col("k2"))
        .select("from_region", "to_region")
    )


@register(
    "join_theta_range",
    oracle="""
SELECT s.s_suppkey, s.s_name, n.n_name
FROM supplier s JOIN nation n
  ON s.s_nationkey = n.n_nationkey AND s.s_acctbal > n.n_nationkey * 100
""",
    tags=("join", "theta"),
    doc="Theta join: equi key + non-equi residual condition.",
)
def join_theta_range(spark, sf_dir):
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    cond = (s.s_nationkey == n.n_nationkey) & (
        s.s_acctbal > n.n_nationkey * 100
    )
    return s.join(n, cond).select("s_suppkey", "s_name", "n_name")


@register(
    "join_multiway_q3",
    oracle=f"""
SELECT o.o_orderkey,
       {_DSUM('l.l_extendedprice * (1 - l.l_discount)')} AS revenue,
       o.o_orderdate
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1997-01-01'
  AND l.l_shipdate > TIMESTAMP '1995-03-15'
GROUP BY o.o_orderkey, o.o_orderdate
""",
    tags=("join", "groupby", "tpch", "headline"),
    doc="TPC-H Q3 shape: 3-way join, selective dim filter first, "
    "group-by revenue. Catalyst reorders so customer filters before "
    "the fact join; customer/orders broadcast when small.",
)
def join_multiway_q3(spark, sf_dir):
    c = _t(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp")
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1995-03-15").cast("timestamp")
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderkey", "o_orderdate")
        .agg(
            _dsum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")),
                "revenue",
            )
        )
        .select("o_orderkey", "revenue", "o_orderdate")
    )


@register(
    "join_multiway_q5",
    oracle=f"""
SELECT n.n_name,
       {_DSUM('l.l_extendedprice * (1 - l.l_discount)')} AS revenue
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = 'ASIA'
GROUP BY n.n_name
""",
    tags=("join", "groupby", "tpch", "headline"),
    doc="TPC-H Q5 shape: 6-way snowflake join, revenue by nation.",
)
def join_multiway_q5(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            s,
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(
            _dsum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")),
                "revenue",
            )
        )
    )


# ---------------------------------------------------------------------------
# Aggregations
# ---------------------------------------------------------------------------


@register(
    "agg_q1_pricing_summary",
    oracle=f"""
SELECT l_returnflag, l_linestatus,
       {_DSUM('l_quantity')} AS sum_qty,
       {_DSUM('l_extendedprice')} AS sum_base_price,
       {_DSUM('l_extendedprice * (1 - l_discount)')} AS sum_disc_price,
       {_DSUM('l_extendedprice * (1 - l_discount) * (1 + l_tax)')} AS sum_charge,
       {_DSUM('l_quantity')} / count(*) AS avg_qty,
       {_DSUM('l_extendedprice')} / count(*) AS avg_price,
       {_DSUM('l_discount')} / count(*) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
""",
    tags=("groupby", "tpch", "headline"),
    doc="TPC-H Q1: the canonical wide aggregation — partial (map-side) "
    "aggregation then one shuffle on the 2-col group key.",
)
def agg_q1_pricing_summary(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp")
    )
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    cnt = F.count("*")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        _dsum("l_quantity", "sum_qty"),
        _dsum("l_extendedprice", "sum_base_price"),
        _dsum(disc_price, "sum_disc_price"),
        _dsum(charge, "sum_charge"),
        (_dsum_col("l_quantity") / cnt).alias("avg_qty"),
        (_dsum_col("l_extendedprice") / cnt).alias("avg_price"),
        (_dsum_col("l_discount") / cnt).alias("avg_disc"),
        cnt.alias("count_order"),
    )


@register(
    "agg_q6_forecast_revenue",
    oracle=f"""
SELECT {_DSUM('l_extendedprice * l_discount')} AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1995-01-01'
  AND l_shipdate < TIMESTAMP '1996-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
""",
    tags=("groupby", "tpch", "headline"),
    doc="TPC-H Q6: fully-pushed-down scan + global agg, no shuffle of "
    "data rows (single scalar out of each partition).",
)
def agg_q6_forecast_revenue(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_discount").between(0.05, 0.07))
        & (F.col("l_quantity") < 24)
    ).agg(_dsum(F.col("l_extendedprice") * F.col("l_discount"), "revenue"))


@register(
    "agg_minmax_stats",
    oracle="""
SELECT o_orderstatus,
       count(*) AS n_orders,
       count(DISTINCT o_custkey) AS n_customers,
       min(o_totalprice) AS min_price,
       max(o_totalprice) AS max_price,
       min(o_orderdate) AS first_order,
       max(o_orderdate) AS last_order
FROM orders
GROUP BY o_orderstatus
""",
    tags=("groupby",),
    doc="count / distinct-count / min / max per group (min/max on "
    "doubles and timestamps are order-independent — no decimal trick "
    "needed).",
)
def agg_minmax_stats(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.count("*").alias("n_orders"),
        F.countDistinct("o_custkey").alias("n_customers"),
        F.min("o_totalprice").alias("min_price"),
        F.max("o_totalprice").alias("max_price"),
        F.min("o_orderdate").alias("first_order"),
        F.max("o_orderdate").alias("last_order"),
    )


@register(
    "agg_having",
    oracle="""
SELECT o_custkey, count(*) AS n_orders
FROM orders
GROUP BY o_custkey
HAVING count(*) >= 5
""",
    tags=("groupby",),
    doc="GROUP BY + HAVING (post-aggregation filter).",
)
def agg_having(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(F.count("*").alias("n_orders"))
        .filter(F.col("n_orders") >= 5)
    )


@register(
    "agg_rollup",
    oracle="""
SELECT l_returnflag, l_linestatus, count(*) AS n
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
""",
    tags=("groupby", "rollup"),
    doc="ROLLUP hierarchy totals (subtotal + grand total rows).",
)
def agg_rollup(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n")
    )


@register(
    "agg_cube",
    oracle="""
SELECT l_returnflag, l_linestatus, count(*) AS n
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
""",
    tags=("groupby", "cube"),
    doc="CUBE: all grouping-key combinations.",
)
def agg_cube(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(F.count("*").alias("n"))


register_sql(
    "agg_grouping_sets",
    """
SELECT l_returnflag, l_linestatus, count(*) AS n
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
""",
    tags=("groupby", "grouping_sets"),
    doc="Explicit GROUPING SETS (dialect-shared SQL; Catalyst plans the "
    "expand + single shuffle).",
)


HLL_M = 64  # registers (p=6): rse ≈ 1.04/sqrt(64) ≈ 13%
HLL_RANK_CAP = 30  # rank saturates at 30 (P[rank>30] = 2^-29/value):
# keeps alpha·m²·2^cap inside int64 so the estimator divides in EXACT
# integer arithmetic — estimates saturate near 2^30 distincts, far
# beyond any per-group cardinality this sketch would be sized for
HLL_ALPHA_PPM = 709_340  # alpha_64 = 0.7213/(1 + 1.079/64), in ppm
_HLL_NUM = HLL_ALPHA_PPM * HLL_M * HLL_M * 2**HLL_RANK_CAP  # ≈3.1e18
# rank = leading-zeros-of-50-bit-remainder + 1 = 51 - bit_length(rem);
# bin() is unpadded in BOTH engines, so bit_length = length(bin(x))
_HLL_RANK_SQL = (
    f"least(CASE WHEN {{rem}} = 0 THEN 51"
    f" ELSE 51 - length(bin({{rem}})) END, {HLL_RANK_CAP})"
)
# HLL small-range switch threshold, 2.5·m in micro-counts (exact:
# 2.5·64 = 160) — the classic estimator's linear-counting boundary
_HLL_LC_THRESH_MICRO = (5 * HLL_M // 2) * 1_000_000


def _approx_distinct_oracle() -> str:
    from ..operators.dedup import _sql_hex_to_int

    rank = _HLL_RANK_SQL.format(rem="h // 64")
    empty_inv = 2**HLL_RANK_CAP
    raw_micro = (
        f"({_HLL_NUM} // (s.present_inv"
        f" + ({HLL_M} - s.n_present) * {empty_inv}))"
    )
    chosen = (
        f"CASE WHEN {raw_micro} <= {_HLL_LC_THRESH_MICRO}"
        f" AND s.n_present < {HLL_M}"
        f" THEN CAST(round({HLL_M} * ln({HLL_M}.0"
        f" / ({HLL_M} - s.n_present)) * 1000000) AS BIGINT)"
        f" ELSE {raw_micro} END"
    )
    return f"""
WITH hashed AS (
  SELECT l_returnflag, ({_sql_hex_to_int(1)}) AS h
  FROM (SELECT l_returnflag, md5(CAST(l_partkey AS VARCHAR)) AS d
        FROM lineitem)
),
pv AS (
  SELECT l_returnflag, h % {HLL_M} AS reg, {rank} AS rk FROM hashed
),
regs AS (
  SELECT l_returnflag, reg, max(rk) AS mj FROM pv GROUP BY 1, 2
),
sk AS (
  SELECT l_returnflag,
         CAST(count(*) AS BIGINT) AS n_present,
         CAST(sum(CAST(pow(2.0, {HLL_RANK_CAP} - mj) AS BIGINT))
              AS BIGINT) AS present_inv
  FROM regs GROUP BY 1
),
nrow AS (
  SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n
  FROM lineitem GROUP BY 1
)
SELECT r.l_returnflag,
       CAST(({chosen}) // 1000000 AS BIGINT) AS approx_parts,
       r.n
FROM nrow r JOIN sk s USING (l_returnflag)
"""


@register(
    "agg_approx_distinct",
    oracle=_approx_distinct_oracle(),
    tags=("groupby", "approx"),
    doc="HyperLogLog approximate distinct — the 100-TB path for "
    "distinct counts, now FULLY value-hash-checked (round-11, "
    "verdict task 6): the estimate derives from the deterministic "
    "register state agg_hll_registers pins (64 md5-keyed registers, "
    "rank capped at 30) with the classic HLL ESTIMATOR DECISION "
    "RULE expressed identically in both engines — raw estimate "
    "alpha·m²·2^cap // Σ2^(cap−M_j) in exact integer micro-counts, "
    "switched to linear counting m·ln(m/V) (micro-quantized ln, the "
    "libm discipline) when the raw estimate ≤ 2.5m and zero "
    "registers remain — replacing the engine-internal "
    "approx_count_distinct whose HLL++ internals can never "
    "value-hash across engines (that kernel keeps its own 3×rsd "
    "accuracy pin in test_operators.py). Scale shape unchanged from "
    "the register twin: per-row expressions, map-side-combined "
    "max(rank), O(groups·64) shuffle, no distinct explosion.",
)
def agg_approx_distinct(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    h = F.conv(
        F.substring(F.md5(F.col("l_partkey").cast("string")), 1, 14),
        16,
        10,
    ).cast("bigint")
    rank = F.expr(_HLL_RANK_SQL.format(rem="h div 64"))
    pv = li.select("l_returnflag", h.alias("h")).select(
        "l_returnflag",
        F.expr(f"h % {HLL_M}").alias("reg"),
        rank.alias("rk"),
    )
    regs = pv.groupBy("l_returnflag", "reg").agg(F.max("rk").alias("mj"))
    empty_inv = 2**HLL_RANK_CAP
    sk = regs.groupBy("l_returnflag").agg(
        F.count("*").cast("bigint").alias("n_present"),
        F.sum(
            F.expr(f"CAST(pow(2.0, {HLL_RANK_CAP} - mj) AS BIGINT)")
        )
        .cast("bigint")
        .alias("present_inv"),
    )
    nrow = li.groupBy("l_returnflag").agg(
        F.count("*").cast("bigint").alias("n")
    )
    raw_micro = (
        f"(CAST({_HLL_NUM} AS BIGINT) div (present_inv"
        f" + ({HLL_M} - n_present) * {empty_inv}))"
    )
    # HLL small-range switch: LC when raw ≤ 2.5m AND zero registers
    # remain (V > 0); both branches in integer micro-counts
    chosen = (
        f"CASE WHEN {raw_micro} <= {_HLL_LC_THRESH_MICRO}"
        f" AND n_present < {HLL_M}"
        f" THEN CAST(round({HLL_M} * ln({HLL_M}.0"
        f" / ({HLL_M} - n_present)) * 1000000) AS BIGINT)"
        f" ELSE {raw_micro} END"
    )
    return nrow.join(sk, "l_returnflag").select(
        "l_returnflag",
        F.expr(f"CAST(({chosen}) div 1000000 AS BIGINT)").alias(
            "approx_parts"
        ),
        "n",
    )


KMV_K = 128  # sketch size: ~1/sqrt(K) ≈ 9% relative error
_KMV_H = 16**14  # hash space: 14 md5 hex chars = 56 bits
# (KMV_K-1) * _KMV_H = 127·2^56 still fits int64 — the K/width pair is
# chosen so the estimator stays in EXACT integer arithmetic end to end


def _kmv_oracle() -> str:
    from ..operators.dedup import _sql_hex_to_int

    return f"""
WITH hashed AS (
  SELECT DISTINCT l_returnflag, ({_sql_hex_to_int(1)}) AS h
  FROM (SELECT l_returnflag, md5(CAST(l_orderkey AS VARCHAR)) AS d
        FROM lineitem)
),
exact AS (
  SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_distinct
  FROM hashed GROUP BY 1
),
topk AS (
  SELECT l_returnflag, h,
         row_number() OVER (PARTITION BY l_returnflag ORDER BY h) AS rn
  FROM hashed
),
kth AS (
  SELECT l_returnflag, max(h) AS mk, count(*) AS kd
  FROM topk WHERE rn <= {KMV_K} GROUP BY 1
)
SELECT e.l_returnflag, e.n_distinct,
       CAST(CASE WHEN k.kd < {KMV_K} THEN k.kd
                 ELSE CAST({(KMV_K - 1) * _KMV_H} AS BIGINT) // k.mk
            END AS BIGINT) AS kmv_estimate
FROM exact e JOIN kth k USING (l_returnflag)
"""


@register(
    "agg_kmv_distinct",
    oracle=_kmv_oracle(),
    tags=("groupby", "approx", "sketch"),
    doc="KMV (K-minimum-values) distinct-count sketch — the "
    "DETERMINISTIC mergeable sketch companion to the HLL entry "
    "above: per group, keep the K smallest md5-derived 56-bit "
    "hashes; estimate = (K-1)·H / (K-th smallest), exact count when "
    "the group has fewer than K distinct values. Every step is md5 + "
    "exact integer arithmetic, so unlike HLL the estimate is "
    "bit-identical across engines and fully value-hash-checked. "
    "Scale shape: the rn<=K filter compiles to WindowGroupLimit — "
    "Spark keeps only K hashes per PARTITION before the shuffle, "
    "which is precisely the sketch's mergeability (union = K "
    "smallest of the combined K-mins); shuffle volume is "
    "O(partitions·K), not O(distinct).",
)
def agg_kmv_distinct(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    h = F.conv(
        F.substring(F.md5(F.col("l_orderkey").cast("string")), 1, 14),
        16,
        10,
    ).cast("bigint")
    hashed = li.select("l_returnflag", h.alias("h")).distinct()
    exact = hashed.groupBy("l_returnflag").agg(
        F.count("*").alias("n_distinct")
    )
    w = Window.partitionBy("l_returnflag").orderBy("h")
    kth = (
        hashed.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= KMV_K)
        .groupBy("l_returnflag")
        .agg(F.max("h").alias("mk"), F.count("*").alias("kd"))
    )
    est = F.when(F.col("kd") < KMV_K, F.col("kd")).otherwise(
        F.expr(f"CAST({(KMV_K - 1) * _KMV_H} AS BIGINT) div mk")
    )
    return exact.join(kth, "l_returnflag").select(
        "l_returnflag",
        "n_distinct",
        est.cast("bigint").alias("kmv_estimate"),
    )


def _hll_oracle() -> str:
    from ..operators.dedup import _sql_hex_to_int

    rank = _HLL_RANK_SQL.format(rem="h // 64")
    empty_inv = 2**HLL_RANK_CAP
    return f"""
WITH hashed AS (
  SELECT l_returnflag, ({_sql_hex_to_int(1)}) AS h
  FROM (SELECT l_returnflag, md5(CAST(l_partkey AS VARCHAR)) AS d
        FROM lineitem)
),
pv AS (
  SELECT l_returnflag, h % {HLL_M} AS reg, {rank} AS rk FROM hashed
),
regs AS (
  SELECT l_returnflag, reg, max(rk) AS mj FROM pv GROUP BY 1, 2
),
sk AS (
  SELECT l_returnflag,
         CAST(count(*) AS BIGINT) AS n_present,
         CAST(sum(CAST(pow(2.0, {HLL_RANK_CAP} - mj) AS BIGINT))
              AS BIGINT) AS present_inv
  FROM regs GROUP BY 1
),
ex AS (
  SELECT l_returnflag,
         CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_distinct
  FROM lineitem GROUP BY 1
)
SELECT e.l_returnflag, e.n_distinct,
       CAST({HLL_M} - s.n_present AS BIGINT) AS n_zero_regs,
       CAST(s.present_inv
            + ({HLL_M} - s.n_present) * {empty_inv} AS BIGINT)
         AS sum_inv_q,
       CAST(({_HLL_NUM} // (s.present_inv
            + ({HLL_M} - s.n_present) * {empty_inv})) // 1000000
            AS BIGINT) AS hll_estimate,
       CASE WHEN s.n_present < {HLL_M}
            THEN CAST(round({HLL_M} * ln({HLL_M}.0
                 / ({HLL_M} - s.n_present)) * 1000000) AS BIGINT)
            ELSE NULL END AS lc_estimate_micro
FROM ex e JOIN sk s USING (l_returnflag)
"""


@register(
    "agg_hll_registers",
    oracle=_hll_oracle(),
    tags=("groupby", "approx", "sketch"),
    doc="DETERMINISTIC HyperLogLog — the register-level twin of "
    "agg_approx_distinct that closes the sketch suite's one rows-only "
    "hole: per group, 64 registers keyed by the low 6 bits of a "
    "56-bit md5-derived hash, register value = max(leading-zero rank "
    "of the 50-bit remainder, capped at 30 so alpha·m²·2^cap stays "
    "inside int64), estimate = alpha_64·m²·2^cap // Σ 2^(cap−M_j) in "
    "EXACT integer arithmetic — bit-identical across engines and "
    "fully value-hash-checked, unlike the engine-native HLL++ whose "
    "internals differ per implementation. Emits the raw HLL estimate "
    "plus the linear-counting small-range estimate (micro-quantized "
    "ln, the established round(·1e6) libm discipline) and the exact "
    "distinct for error inspection. Scale shape: rank/register are "
    "per-row expressions; max(rank) per (group, register) combines "
    "map-side, so the shuffle is O(groups·64) regardless of corpus "
    "size — the sketch's mergeability is literally the plan's "
    "partial-aggregate step. No distinct-explosion anywhere.",
)
def agg_hll_registers(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    h = F.conv(
        F.substring(F.md5(F.col("l_partkey").cast("string")), 1, 14),
        16,
        10,
    ).cast("bigint")
    rank = F.expr(_HLL_RANK_SQL.format(rem="h div 64"))
    pv = li.select("l_returnflag", h.alias("h")).select(
        "l_returnflag",
        F.expr(f"h % {HLL_M}").alias("reg"),
        rank.alias("rk"),
    )
    regs = pv.groupBy("l_returnflag", "reg").agg(F.max("rk").alias("mj"))
    empty_inv = 2**HLL_RANK_CAP
    sk = regs.groupBy("l_returnflag").agg(
        F.count("*").cast("bigint").alias("n_present"),
        F.sum(
            F.expr(f"CAST(pow(2.0, {HLL_RANK_CAP} - mj) AS BIGINT)")
        )
        .cast("bigint")
        .alias("present_inv"),
    )
    ex = li.groupBy("l_returnflag").agg(
        F.count_distinct("l_partkey").cast("bigint").alias("n_distinct")
    )
    sum_inv = F.col("present_inv") + (
        (F.lit(HLL_M) - F.col("n_present")) * F.lit(empty_inv)
    )
    return ex.join(sk, "l_returnflag").select(
        "l_returnflag",
        "n_distinct",
        (F.lit(HLL_M) - F.col("n_present"))
        .cast("bigint")
        .alias("n_zero_regs"),
        sum_inv.cast("bigint").alias("sum_inv_q"),
        F.expr(
            f"CAST((CAST({_HLL_NUM} AS BIGINT) div (present_inv"
            f" + ({HLL_M} - n_present) * {empty_inv})) div 1000000"
            " AS BIGINT)"
        ).alias("hll_estimate"),
        F.expr(
            f"CASE WHEN n_present < {HLL_M}"
            f" THEN CAST(round({HLL_M} * ln({HLL_M}.0"
            f" / ({HLL_M} - n_present)) * 1000000) AS BIGINT)"
            " ELSE NULL END"
        ).alias("lc_estimate_micro"),
    )


QSK_K = 256  # sample size per group: quantile rank error ~ 1/sqrt(K)
QSK_Q = 10_000  # value quantization (floor(value·1e4) → exact ints)


def _qsk_oracle() -> str:
    from ..operators.dedup import _sql_hex_to_int

    return f"""
WITH q AS (
  SELECT event_type, event_id,
         CAST(floor(value * {QSK_Q}) AS BIGINT) AS qv,
         ({_sql_hex_to_int(1)}) AS h
  FROM (SELECT event_type, event_id, value,
               md5(CAST(event_id AS VARCHAR)) AS d
        FROM events)
),
s AS (
  SELECT event_type, qv FROM q
  QUALIFY row_number() OVER (PARTITION BY event_type
                             ORDER BY h, event_id) <= {QSK_K}
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_sample,
       quantile_cont(qv, 0.25) AS q25,
       quantile_cont(qv, 0.50) AS q50,
       quantile_cont(qv, 0.90) AS q90
FROM s GROUP BY event_type
"""


@register(
    "agg_quantile_sketch",
    oracle=_qsk_oracle(),
    tags=("groupby", "approx", "sketch", "stats"),
    doc="Deterministic quantile sketch — the quantiles member of the "
    "sketch suite (KMV distinct, HLL companion, CMS frequency, "
    "Bloom membership, MinHash/SimHash similarity): per group, the "
    "K rows with the smallest md5-derived hashes form a "
    "partitioning-independent uniform sample (bottom-k by hash is "
    "MERGEABLE — union = K smallest of the combined K-mins — and "
    "reproducible, unlike rand() reservoirs), and interpolated "
    "percentiles of the 1e4-quantized values are exact double "
    "arithmetic on integers — both engines use the same WEIGHTED "
    "interpolation lower*(hi-pos)+higher*(pos-lo) (empirically "
    "bit-identical over 9000 sampled cases; the naive "
    "lower+frac*delta form differs in the last ulp) — so the whole "
    "estimate value-hashes across engines. Scale shape: the rn<=K "
    "filter compiles to "
    "WindowGroupLimit (K rows per partition survive to the one "
    "shuffle, O(partitions·K) volume); rank error ~ 1/sqrt(K) is "
    "pinned against exact quantiles in tests/test_operators.py.",
)
def agg_quantile_sketch(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    h = F.conv(
        F.substring(F.md5(F.col("event_id").cast("string")), 1, 14),
        16,
        10,
    ).cast("bigint")
    q = ev.select(
        "event_type",
        "event_id",
        F.floor(F.col("value") * QSK_Q).cast("bigint").alias("qv"),
        h.alias("h"),
    )
    w = Window.partitionBy("event_type").orderBy("h", "event_id")
    s = (
        q.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= QSK_K)
    )
    return (
        s.groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_sample"),
            F.percentile("qv", F.lit([0.25, 0.5, 0.9])).alias("_q"),
        )
        .select(
            "event_type",
            "n_sample",
            F.element_at("_q", 1).alias("q25"),
            F.element_at("_q", 2).alias("q50"),
            F.element_at("_q", 3).alias("q90"),
        )
    )


# ---------------------------------------------------------------------------
# Window functions
# ---------------------------------------------------------------------------


@register(
    "window_topk_per_group",
    oracle="""
SELECT * FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM orders
) WHERE rn <= 3
""",
    tags=("window", "topk", "headline"),
    doc="Top-K per group via row_number — the scalable top-k idiom "
    "(one shuffle on the partition key; no global sort). Tie-broken "
    "on the unique orderkey for determinism.",
)
def window_topk_per_group(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).alias("rn"),
        ).filter(F.col("rn") <= 3)
    )


@register(
    "window_rank_dense",
    oracle="""
SELECT s_suppkey, s_nationkey, s_acctbal,
       rank() OVER (ORDER BY s_acctbal DESC) AS rnk,
       dense_rank() OVER (ORDER BY s_acctbal DESC) AS drnk,
       ntile(4) OVER (ORDER BY s_acctbal DESC, s_suppkey) AS quartile
FROM supplier
""",
    tags=("window",),
    doc="rank / dense_rank / ntile analytics — computed by the "
    "sharded global-rank operator (operators/ranking.py): range "
    "partition + per-shard windows + broadcast prefix offsets, no "
    "single-task global window.",
)
def window_rank_dense(spark, sf_dir):
    from ..operators.ranking import global_rank_analytics

    s = _t(spark, sf_dir, "supplier")
    out = global_rank_analytics(
        s, "s_acctbal", desc=True, tiebreak=("s_suppkey",), ntile=4
    )
    return out.select(
        "s_suppkey",
        "s_nationkey",
        "s_acctbal",
        F.col("g_rank").cast("long").alias("rnk"),
        F.col("g_dense_rank").cast("long").alias("drnk"),
        F.col("g_ntile").alias("quartile"),
    )


@register(
    "window_running_sum",
    oracle="""
SELECT l_orderkey, l_linenumber,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,4)))
            OVER (PARTITION BY l_orderkey
                  ORDER BY l_linenumber, l_quantity, l_partkey, l_suppkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS DOUBLE) AS running_qty
FROM lineitem
""",
    tags=("window", "frame"),
    doc="Running sum with an explicit ROWS frame; decimal accumulation "
    "keeps the prefix sums exact on both engines. (l_orderkey, "
    "l_linenumber) alone is not unique in the synthetic data, so the "
    "ordering tie-breaks on quantity/partkey/suppkey for determinism.",
)
def window_running_sum(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    w = (
        Window.partitionBy("l_orderkey")
        .orderBy("l_linenumber", "l_quantity", "l_partkey", "l_suppkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.sum(F.col("l_quantity").cast("decimal(18,4)"))
        .over(w)
        .cast("double")
        .alias("running_qty"),
    )


@register(
    "window_lag_lead",
    oracle="""
SELECT o_custkey, o_orderkey, o_orderdate,
       lag(o_orderkey) OVER (PARTITION BY o_custkey
                             ORDER BY o_orderdate, o_orderkey) AS prev_orderkey,
       lead(o_orderkey) OVER (PARTITION BY o_custkey
                              ORDER BY o_orderdate, o_orderkey) AS next_orderkey,
       datediff('day',
                lag(o_orderdate) OVER (PARTITION BY o_custkey
                                       ORDER BY o_orderdate, o_orderkey),
                o_orderdate) AS days_since_prev
FROM orders
""",
    tags=("window",),
    doc="lag/lead navigation + day gap between consecutive orders.",
)
def window_lag_lead(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    prev_date = F.lag("o_orderdate").over(w)
    return o.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        F.lag("o_orderkey").over(w).alias("prev_orderkey"),
        F.lead("o_orderkey").over(w).alias("next_orderkey"),
        F.datediff(F.col("o_orderdate"), prev_date).alias("days_since_prev"),
    )


# ---------------------------------------------------------------------------
# Sorts / limits / top-k
# ---------------------------------------------------------------------------


@register(
    "sort_limit_topk",
    oracle="""
SELECT o_orderkey, o_totalprice
FROM orders
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 10
""",
    tags=("sort", "limit"),
    doc="Global top-k: Spark plans TakeOrderedAndProject — per-partition "
    "heap + driver merge, never a full global sort.",
)
def sort_limit_topk(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return (
        o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .select("o_orderkey", "o_totalprice")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Set operations
# ---------------------------------------------------------------------------


@register(
    "set_union_all",
    oracle="""
SELECT c_nationkey AS nationkey FROM customer
UNION ALL
SELECT s_nationkey AS nationkey FROM supplier
""",
    tags=("setop",),
    doc="UNION ALL (bag semantics — same operator as the pipeline's T5).",
)
def set_union_all(spark, sf_dir):
    c = _t(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey")
    )
    s = _t(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey")
    )
    return c.unionByName(s)


@register(
    "set_intersect",
    oracle="""
SELECT c_nationkey AS nationkey FROM customer
INTERSECT
SELECT s_nationkey AS nationkey FROM supplier
""",
    tags=("setop",),
    doc="INTERSECT (distinct semantics).",
)
def set_intersect(spark, sf_dir):
    c = _t(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey")
    )
    s = _t(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey")
    )
    return c.intersect(s)


@register(
    "set_except",
    oracle="""
SELECT c_nationkey AS nationkey FROM customer
EXCEPT
SELECT s_nationkey AS nationkey FROM supplier
""",
    tags=("setop",),
    doc="EXCEPT (distinct semantics): nations with customers but no "
    "suppliers.",
)
def set_except(spark, sf_dir):
    c = _t(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey")
    )
    s = _t(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey")
    )
    return c.subtract(s)


@register(
    "set_distinct",
    oracle="SELECT DISTINCT c_mktsegment, c_nationkey FROM customer",
    tags=("setop", "distinct"),
    doc="DISTINCT projection (hash aggregation under the hood).",
)
def set_distinct(spark, sf_dir):
    return (
        _t(spark, sf_dir, "customer")
        .select("c_mktsegment", "c_nationkey")
        .distinct()
    )


# ---------------------------------------------------------------------------
# Count-Min sketch: heavy-hitter estimation in exact integer arithmetic
# ---------------------------------------------------------------------------
CMS_D = 4  # hash rows
CMS_W = 1024  # counters per row; overestimate ~ 2N/W w.p. 1-(1/2)^D
CMS_PROBES = 10  # estimates reported for the exact top-K terms


def _cms_oracle() -> str:
    from ..operators.dedup import _sql_hex_to_int

    return f"""
WITH toks AS (
  SELECT unnest(list_filter(string_split(lower(text), ' '), t -> t <> ''))
           AS tok
  FROM documents
),
cnts AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS cnt FROM toks GROUP BY tok
),
buckets AS (
  SELECT tok, cnt, dd AS d, ({_sql_hex_to_int(1)}) % {CMS_W} AS w
  FROM (
    SELECT tok, cnt, CAST(u.d AS BIGINT) AS dd,
           md5(CAST(u.d AS VARCHAR) || ':' || tok) AS d
    FROM cnts, unnest(range({CMS_D})) u(d)
  )
),
cms AS (
  SELECT d, w, CAST(sum(cnt) AS BIGINT) AS counter
  FROM buckets GROUP BY d, w
),
probes AS (
  SELECT tok, cnt FROM cnts
  ORDER BY cnt DESC, tok LIMIT {CMS_PROBES}
)
SELECT p.tok AS term, p.cnt AS n_exact,
       CAST(min(c.counter) AS BIGINT) AS n_cms
FROM probes p
JOIN buckets b ON b.tok = p.tok
JOIN cms c ON c.d = b.d AND c.w = b.w
GROUP BY p.tok, p.cnt
"""


@register(
    "agg_countmin_heavy_hitters",
    oracle=_cms_oracle(),
    tags=("agg", "sketch", "text"),
    doc="Count-Min sketch over the token stream, exact-integer end to "
    f"end: {CMS_D} md5-salted hash rows × {CMS_W} counters built from "
    "per-token counts (two map-side-combined groupBys — the second "
    "shuffles at most D·W counter partials per partition, "
    "independent of vocabulary size), then point estimates "
    "(min over rows) for the exact top-10 terms. The heavy-hitter "
    "sketch a 100-TB token pipeline keeps when the vocabulary itself "
    "no longer fits anywhere; md5-derived buckets and integer sums "
    "make estimates bit-identical across engines, so the oracle "
    "value-hashes the whole sketch. The FREQUENCY member of the "
    "sketch suite (KMV distinct + HLL companion, Bloom membership, "
    "quantile sample, MinHash/SimHash similarity). CMS guarantees "
    "n_cms >= n_exact (pinned in tests/test_operators.py).",
)
def agg_countmin_heavy_hitters(spark, sf_dir):
    from ..operators.text import tokens

    docs = _t(spark, sf_dir, "documents")
    cnts = (
        docs.select(F.explode(tokens(F.col("text"))).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").cast("bigint").alias("cnt"))
    )
    # D (d, w) buckets per term, derived from salted md5 — exact ints
    bucket_structs = F.array(
        *[
            F.struct(
                F.lit(d).cast("bigint").alias("d"),
                (
                    F.conv(
                        F.substring(
                            F.md5(F.concat(F.lit(f"{d}:"), F.col("tok"))),
                            1,
                            14,
                        ),
                        16,
                        10,
                    ).cast("bigint")
                    % CMS_W
                ).alias("w"),
            )
            for d in range(CMS_D)
        ]
    )
    buckets = cnts.select(
        "tok", "cnt", F.explode(bucket_structs).alias("b")
    ).select("tok", "cnt", F.col("b.d").alias("d"), F.col("b.w").alias("w"))
    cms = buckets.groupBy("d", "w").agg(
        F.sum("cnt").cast("bigint").alias("counter")
    )
    probes = cnts.orderBy(F.col("cnt").desc(), "tok").limit(CMS_PROBES)
    return (
        probes.join(buckets.select("tok", "d", "w"), "tok")
        .join(F.broadcast(cms), ["d", "w"])
        .groupBy(F.col("tok").alias("term"), F.col("cnt").alias("n_exact"))
        .agg(F.min("counter").cast("bigint").alias("n_cms"))
    )


# ---------------------------------------------------------------------------
# Market-basket pair mining (pairwise association rules)
# ---------------------------------------------------------------------------
BASKET_MIN_SUPPORT = 2  # pair must co-occur in >= 2 orders
BASKET_MAX_ITEMS = 1_000  # degenerate-basket guard (like ER blocks)

_BASKET_ORACLE = f"""
WITH baskets AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), sized AS (
  SELECT b.* FROM baskets b
  JOIN (SELECT l_orderkey FROM baskets GROUP BY l_orderkey
        HAVING count(*) <= {BASKET_MAX_ITEMS}) k USING (l_orderkey)
), n AS (
  SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders
  FROM sized
), supp AS (
  SELECT l_partkey, CAST(count(*) AS BIGINT) AS s FROM sized
  GROUP BY l_partkey
), pairs AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
         CAST(count(*) AS BIGINT) AS n_ab
  FROM sized a JOIN sized b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY a.l_partkey, b.l_partkey
  HAVING count(*) >= {BASKET_MIN_SUPPORT}
)
SELECT p.part_a, p.part_b, p.n_ab,
       (p.n_ab * 1000000) // n.n_orders AS support_ppm,
       (p.n_ab * 1000000) // sa.s AS conf_a_to_b_ppm,
       (p.n_ab * n.n_orders * 1000000) // (sa.s * sb.s) AS lift_ppm
FROM pairs p
JOIN supp sa ON sa.l_partkey = p.part_a
JOIN supp sb ON sb.l_partkey = p.part_b
CROSS JOIN n
"""


@register(
    "orders_basket_pairs",
    oracle=_BASKET_ORACLE,
    tags=("relational", "association", "join"),
    doc="Pairwise market-basket mining over order line items: "
    "co-occurrence count, support, directional confidence, and lift "
    "for every part pair sharing >= 2 orders — all as exact "
    "parts-per-million BIGINT floor divisions, no float path. Scale "
    "shape: pairs generate basket-locally (a self-join on the order "
    "key, so the work is Σ basket_size², bounded by the degenerate-"
    "basket guard exactly like the ER block cap), pair counts "
    "map-side combine before their exchange, and the item-support "
    "and order-count tables ride back as broadcast model state — "
    "the classic two-pass a-priori shape, never all-pairs over the "
    "catalog.",
)
def orders_basket_pairs(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    baskets = li.select("l_orderkey", "l_partkey").distinct()
    ok = (
        baskets.groupBy("l_orderkey")
        .agg(F.count("*").alias("bn"))
        .filter(F.col("bn") <= BASKET_MAX_ITEMS)
        .select("l_orderkey")
    )
    sized = baskets.join(ok, "l_orderkey").transform(stage)
    n = sized.agg(
        F.countDistinct("l_orderkey").cast("bigint").alias("n_orders")
    )
    supp = sized.groupBy("l_partkey").agg(
        F.count("*").cast("bigint").alias("s")
    )
    a = sized.select(
        "l_orderkey", F.col("l_partkey").alias("part_a")
    )
    b = sized.select(
        "l_orderkey", F.col("l_partkey").alias("part_b")
    )
    pairs = (
        a.join(b, "l_orderkey")
        .filter(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count("*").cast("bigint").alias("n_ab"))
        .filter(F.col("n_ab") >= BASKET_MIN_SUPPORT)
    )
    sa = supp.select(
        F.col("l_partkey").alias("part_a"), F.col("s").alias("s_a")
    )
    sb = supp.select(
        F.col("l_partkey").alias("part_b"), F.col("s").alias("s_b")
    )
    return (
        pairs.join(F.broadcast(sa), "part_a")
        .join(F.broadcast(sb), "part_b")
        .crossJoin(F.broadcast(n))
        .select(
            "part_a",
            "part_b",
            "n_ab",
            F.expr("(n_ab * 1000000) div n_orders").alias("support_ppm"),
            F.expr("(n_ab * 1000000) div s_a").alias("conf_a_to_b_ppm"),
            F.expr(
                "(n_ab * n_orders * 1000000) div (s_a * s_b)"
            ).alias("lift_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# ABC (Pareto 80/20) revenue classification
# ---------------------------------------------------------------------------
# Class boundaries as exact small-ratio comparisons (cum*5 <= 4*t is
# share <= 80%, cum*20 <= 19*t is <= 95%) — a ppm product cum*1e6
# overflowed int64 on the 10x corpus; ratio compares never can.
ABC_A_NUM, ABC_A_DEN = 5, 4  # share <= 4/5 = 80%
ABC_B_NUM, ABC_B_DEN = 20, 19  # share <= 19/20 = 95%

_ABC_ORACLE = f"""
WITH rev AS (
  SELECT l_partkey,
         CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                  AS BIGINT)) AS BIGINT) AS cents
  FROM lineitem GROUP BY l_partkey
), tot AS (
  SELECT CAST(sum(cents) AS BIGINT) AS t FROM rev
), ranked AS (
  SELECT l_partkey, cents,
         CAST(sum(cents) OVER (ORDER BY cents DESC, l_partkey)
              AS BIGINT) AS cum_cents
  FROM rev
), classed AS (
  SELECT l_partkey, cents,
         CASE WHEN cum_cents * {ABC_A_NUM} <= t * {ABC_A_DEN} THEN 'A'
              WHEN cum_cents * {ABC_B_NUM} <= t * {ABC_B_DEN} THEN 'B'
              ELSE 'C' END AS abc_class
  FROM ranked, tot
)
SELECT abc_class,
       CAST(count(*) AS BIGINT) AS n_parts,
       CAST(sum(cents) AS BIGINT) AS revenue_cents
FROM classed GROUP BY abc_class
"""


@register(
    "lineitem_abc_classes",
    oracle=_ABC_ORACLE,
    tags=("relational", "window", "segmentation"),
    doc="ABC / Pareto 80-20 inventory classification: parts ranked "
    "by discounted revenue (exact cents), cumulative share tested by exact "
    "small-ratio integer comparison (cum*5 <= 4*total is 80%; a ppm "
    "product overflowed int64 at the 10x corpus), classes cut at "
    "80% / 95%, rolled up to "
    "per-class part counts and revenue. The running sum orders by "
    "(revenue desc, partkey) — a total order, so the class "
    "boundaries are deterministic under ties. Scale shape: the "
    "fact table shuffles once into per-part revenue (map-side "
    "combined); the ordered prefix sum over the |parts|-row "
    "aggregate is SHARDED via operators/ranking.py::"
    "sharded_prefix_sum (range partition on revenue desc, per-shard "
    "running sums in parallel, broadcast prefix offsets) — no "
    "partition-less window: |parts| grows with the catalog, and a "
    "single-task cumulative sum over billions of parts is exactly "
    "the stall the sharded form eliminates.",
)
def lineitem_abc_classes(spark, sf_dir):
    from ..operators.ranking import sharded_prefix_sum

    rev = (
        _t(spark, sf_dir, "lineitem")
        .select(
            "l_partkey",
            F.round(
                F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
            )
            .cast("bigint")
            .alias("cents"),
        )
        .groupBy("l_partkey")
        .agg(F.sum("cents").cast("bigint").alias("cents"))
    )
    # The per-part aggregate fans out into four branches (grand
    # total + the sharded pass's boundary aggregate, offsets and
    # output): materialize the dim-sized frame ONCE instead of
    # re-aggregating lineitem per branch. At cluster scale this is
    # a durable checkpoint of a |parts|-slim projection
    # (io.stage: spark.jly.staging.mode=reliable).
    rev = rev.transform(stage)
    tot = rev.agg(F.sum("cents").cast("bigint").alias("t"))
    ranked = sharded_prefix_sum(
        rev, "cents", "cents", desc=True, tiebreak=("l_partkey",)
    ).withColumn("cum_cents", F.col("g_cum").cast("bigint"))
    classed = ranked.crossJoin(F.broadcast(tot)).select(
        "cents",
        F.when(
            F.expr(f"cum_cents * {ABC_A_NUM} <= t * {ABC_A_DEN}"), "A"
        )
        .when(F.expr(f"cum_cents * {ABC_B_NUM} <= t * {ABC_B_DEN}"), "B")
        .otherwise("C")
        .alias("abc_class"),
    )
    return classed.groupBy("abc_class").agg(
        F.count("*").cast("bigint").alias("n_parts"),
        F.sum("cents").cast("bigint").alias("revenue_cents"),
    )


# ---------------------------------------------------------------------------
# Period-over-period change (month-over-month revenue)
# ---------------------------------------------------------------------------

_MOM_ORACLE = """
WITH m AS (
  SELECT strftime(o_orderdate, '%Y-%m') AS month,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS revenue_cents,
         CAST(count(*) AS BIGINT) AS n_orders
  FROM orders GROUP BY 1
)
SELECT month, n_orders, revenue_cents,
       CAST(coalesce(
         ((revenue_cents - lag(revenue_cents) OVER (ORDER BY month))
          * 1000000) // lag(revenue_cents) OVER (ORDER BY month),
         0) AS BIGINT) AS mom_ppm
FROM m
"""


@register(
    "orders_revenue_mom_change",
    oracle=_MOM_ORACLE,
    tags=("relational", "window", "temporal"),
    doc="Month-over-month revenue change: monthly exact-cents "
    "revenue with the signed period-over-period delta in exact ppm "
    "(truncating division agrees across engines for signed values; "
    "first month coalesces to 0) — the period-comparison shape "
    "every BI layer needs. One fact shuffle into |months| rows; "
    "the lag window ranks months only.",
)
def orders_revenue_mom_change(spark, sf_dir):
    m = (
        _t(spark, sf_dir, "orders")
        .select(
            F.date_format("o_orderdate", "yyyy-MM").alias("month"),
            F.round(F.col("o_totalprice") * 100)
            .cast("bigint")
            .alias("cents"),
        )
        .groupBy("month")
        .agg(
            F.sum("cents").cast("bigint").alias("revenue_cents"),
            F.count("*").cast("bigint").alias("n_orders"),
        )
    )
    return m.withColumn(
        "mom_ppm",
        F.coalesce(
            F.expr(
                "((revenue_cents - lag(revenue_cents) OVER (ORDER BY month))"
                " * 1000000) div lag(revenue_cents) OVER (ORDER BY month)"
            ),
            F.lit(0),
        ).cast("bigint"),
    ).select("month", "n_orders", "revenue_cents", "mom_ppm")


# ---------------------------------------------------------------------------
# Market concentration (Herfindahl–Hirschman index per nation)
# ---------------------------------------------------------------------------

_HHI_ORACLE = """
WITH rev AS (
  SELECT s.s_nationkey AS nationkey, l.l_suppkey,
         CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount)
                             * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM lineitem l JOIN supplier s ON s.s_suppkey = l.l_suppkey
  GROUP BY s.s_nationkey, l.l_suppkey
), tot AS (
  SELECT nationkey, CAST(sum(cents) AS BIGINT) AS t FROM rev
  GROUP BY nationkey
), shares AS (
  SELECT r.nationkey,
         (r.cents * 10000) // t.t AS share_bp
  FROM rev r JOIN tot t ON t.nationkey = r.nationkey
)
SELECT n.n_name,
       CAST(count(*) AS BIGINT) AS n_suppliers,
       CAST(sum(share_bp * share_bp) AS BIGINT) AS hhi_bp2
FROM shares s JOIN nation n ON n.n_nationkey = s.nationkey
GROUP BY n.n_name
"""


@register(
    "supplier_nation_hhi",
    oracle=_HHI_ORACLE,
    tags=("relational", "segmentation", "statistics"),
    doc="Herfindahl–Hirschman market concentration per nation: each "
    "supplier's discounted-revenue share in exact basis points "
    "(truncating integer division), HHI = Σ share², so the index "
    "lands in the standard 0–10000² bp² scale with zero float "
    "path. One fact shuffle into (nation, supplier) revenue, "
    "broadcast nation totals and names; the HHI rollup is "
    "|nations| rows. The concentration audit behind any "
    "down-weight-dominant-sources curation decision.",
)
def supplier_nation_hhi(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").select(
        "l_suppkey",
        F.round(
            F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
        )
        .cast("bigint")
        .alias("cents"),
    )
    sup = _t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("l_suppkey"),
        F.col("s_nationkey").alias("nationkey"),
    )
    rev = (
        li.join(F.broadcast(sup), "l_suppkey")
        .groupBy("nationkey", "l_suppkey")
        .agg(F.sum("cents").cast("bigint").alias("cents"))
    )
    tot = rev.groupBy("nationkey").agg(
        F.sum("cents").cast("bigint").alias("t")
    )
    nat = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("nationkey"), "n_name"
    )
    return (
        rev.join(F.broadcast(tot), "nationkey")
        .select(
            "nationkey",
            F.expr("(cents * 10000) div t").alias("share_bp"),
        )
        .join(F.broadcast(nat), "nationkey")
        .groupBy("n_name")
        .agg(
            F.count("*").cast("bigint").alias("n_suppliers"),
            F.sum(F.col("share_bp") * F.col("share_bp"))
            .cast("bigint")
            .alias("hhi_bp2"),
        )
    )


# ---------------------------------------------------------------------------
# Chi-square independence test (brand × type contingency)
# ---------------------------------------------------------------------------

_CHI2_ORACLE = """
WITH o AS (
  SELECT p_brand, p_type, CAST(count(*) AS BIGINT) AS o
  FROM part GROUP BY p_brand, p_type
), r AS (
  SELECT p_brand, CAST(sum(o) AS BIGINT) AS r FROM o GROUP BY p_brand
), c AS (
  SELECT p_type, CAST(sum(o) AS BIGINT) AS c FROM o GROUP BY p_type
), n AS (
  SELECT CAST(sum(o) AS BIGINT) AS n FROM o
), cells AS (
  SELECT r.p_brand, c.p_type, coalesce(o.o, 0) AS o, r.r, c.c
  FROM r CROSS JOIN c
  LEFT JOIN o ON o.p_brand = r.p_brand AND o.p_type = c.p_type
), terms AS (
  SELECT (((o * n.n - r * c) * (o * n.n - r * c)) // (r * c))
           * 1000 // n.n AS t_milli
  FROM cells, n
)
SELECT (SELECT n FROM n) AS n_parts,
       (SELECT CAST(count(*) AS BIGINT) FROM r) AS n_brands,
       (SELECT CAST(count(*) AS BIGINT) FROM c) AS n_types,
       (SELECT CAST((count(*) - 1) AS BIGINT) FROM r)
         * (SELECT CAST((count(*) - 1) AS BIGINT) FROM c) AS dof,
       CAST(sum(t_milli) AS BIGINT) AS chi2_milli
FROM terms
"""


@register(
    "part_brand_type_chi2",
    oracle=_CHI2_ORACLE,
    tags=("relational", "statistics"),
    doc="Pearson chi-square independence test over the brand × type "
    "contingency table (zero cells included via the margin cross "
    "join): per-cell terms use the division-free expected-count "
    "form (O·N − R·C)²/(R·C·N), evaluated as a fixed truncating-"
    "division chain in milli-units — deterministic cross-engine by "
    "construction, exact within the documented int64 envelope "
    "(min column total ≳ N²·R·10³/2⁶³, easily met at every test "
    "scale). Scale shape: the contingency and both margins are "
    "map-side-combined model state (|brands|·|types| cells); the "
    "fact table shuffles once.",
)
def part_brand_type_chi2(spark, sf_dir):
    o = (
        _t(spark, sf_dir, "part")
        .groupBy("p_brand", "p_type")
        .agg(F.count("*").cast("bigint").alias("o"))
        .transform(stage)
    )
    r = o.groupBy("p_brand").agg(F.sum("o").cast("bigint").alias("r"))
    c = o.groupBy("p_type").agg(F.sum("o").cast("bigint").alias("c"))
    n = o.agg(F.sum("o").cast("bigint").alias("n"))
    cells = (
        r.crossJoin(F.broadcast(c))
        .join(F.broadcast(o), ["p_brand", "p_type"], "left")
        .select(
            "r",
            "c",
            F.coalesce(F.col("o"), F.lit(0)).alias("o"),
        )
    )
    terms = cells.crossJoin(F.broadcast(n)).select(
        F.expr(
            "(((o * n - r * c) * (o * n - r * c)) div (r * c))"
            " * 1000 div n"
        ).alias("t_milli")
    )
    stats = (
        r.agg(F.count("*").cast("bigint").alias("n_brands"))
        .crossJoin(c.agg(F.count("*").cast("bigint").alias("n_types")))
        .crossJoin(n)
    )
    return (
        terms.agg(F.sum("t_milli").cast("bigint").alias("chi2_milli"))
        .crossJoin(F.broadcast(stats))
        .select(
            F.col("n").alias("n_parts"),
            "n_brands",
            "n_types",
            (
                (F.col("n_brands") - 1) * (F.col("n_types") - 1)
            ).alias("dof"),
            "chi2_milli",
        )
    )


# ---------------------------------------------------------------------------
# Per-brand OLS revenue trend (closed-form least squares on combines)
# ---------------------------------------------------------------------------

_OLS_ORACLE = """
WITH daily AS (
  SELECT p.p_brand,
         CAST(floor(epoch(l.l_shipdate) / 86400) AS BIGINT) AS day,
         CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount)
                             * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
  GROUP BY p.p_brand, floor(epoch(l.l_shipdate) / 86400)
), anchored AS (
  SELECT p_brand, day - min(day) OVER (PARTITION BY p_brand) AS x,
         cents AS y
  FROM daily
), sums AS (
  SELECT p_brand,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx,
         CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * x) AS BIGINT) AS sxx,
         CAST(sum(x * y) AS BIGINT) AS sxy
  FROM anchored GROUP BY p_brand
)
, nd AS (
  SELECT p_brand, n, sx, sy,
         n * sxy - sx * sy AS num,
         n * sxx - sx * sx AS den
  FROM sums
), slope AS (
  -- num*1e6 // den computed as q*1e6 + (r*1e6)//den (exact: the
  -- fractional part lives entirely in r = num % den, |r| < |den|;
  -- den depends only on the day axis, so r*1e6 never overflows no
  -- matter how large revenue grows)
  SELECT p_brand, n, sx, sy,
         (num // den) * 1000000 + ((num % den) * 1000000) // den
           AS slope_ppm
  FROM nd WHERE den <> 0
)
SELECT p_brand, n AS n_days, slope_ppm,
       (sy * 1000000 - slope_ppm * sx) // n AS intercept_micro
FROM slope
"""


@register(
    "lineitem_ols_trend",
    oracle=_OLS_ORACLE,
    tags=("relational", "statistics", "groupby", "regression"),
    doc="Per-brand ordinary-least-squares revenue trend: daily "
    "revenue (cents) per brand regressed on the ship-day index — "
    "slope via the closed form (nΣxy − ΣxΣy)/(nΣx² − (Σx)²), "
    "intercept from it, both as exact integer ratios (ppm/micro "
    "units, trunc division; days are anchored per brand so the "
    "BIGINT products never overflow). The trend-per-segment fit "
    "every revenue dashboard runs. Scale shape: ONE fact pass "
    "map-side combines to |brands|·|days| daily rows; the per-brand "
    "day anchor is a window over that slim table; the five "
    "regression sums combine again to |brands| rows — closed-form "
    "regression IS an aggregation, no iteration, no solver.",
)
def lineitem_ols_trend(spark, sf_dir):
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    daily = (
        l.select(
            "l_partkey",
            (F.floor(F.unix_timestamp("l_shipdate") / 86400))
            .cast("bigint")
            .alias("day"),
            F.round(
                F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
            )
            .cast("bigint")
            .alias("cents"),
        )
        .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "day")
        .agg(F.sum("cents").cast("bigint").alias("y"))
    )
    anchored = daily.select(
        "p_brand",
        (
            F.col("day")
            - F.min("day").over(Window.partitionBy("p_brand"))
        ).alias("x"),
        "y",
    )
    sums = anchored.groupBy("p_brand").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
    )
    nd = sums.select(
        "p_brand",
        "n",
        "sx",
        "sy",
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).alias(
            "num"
        ),
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).alias(
            "den"
        ),
    ).filter(F.col("den") != 0)
    # num*1e6 div den as q*1e6 + (r*1e6) div den — exact (the
    # fractional part lives entirely in r = num % den, |r| < |den|),
    # and den depends only on the day axis, so r*1e6 never overflows
    # however large revenue grows
    slope = nd.select(
        "p_brand",
        "n",
        "sx",
        "sy",
        F.expr(
            "(num div den) * 1000000 + ((num % den) * 1000000) div den"
        ).alias("slope_ppm"),
    )
    return slope.select(
        "p_brand",
        F.col("n").alias("n_days"),
        "slope_ppm",
        F.expr("(sy * 1000000 - slope_ppm * sx) div n").alias(
            "intercept_micro"
        ),
    )


# ---------------------------------------------------------------------------
# Interval-overlap join via bounded fan-out (transit windows × months)
# ---------------------------------------------------------------------------

_INTERVAL_OVERLAP_ORACLE = """
WITH iv AS (
  SELECT date_trunc('month', l_shipdate) AS m0,
         date_trunc('month', l_shipdate
                    + (l_orderkey % 45 + 3) * INTERVAL 1 DAY) AS m1,
         CAST(round(l_extendedprice * (1 - l_discount) * 100)
              AS BIGINT) AS cents
  FROM lineitem
), fan AS (
  SELECT CAST(g.m AS DATE) AS month_start, cents
  FROM iv, unnest(generate_series(m0, m1, INTERVAL 1 MONTH)) AS g(m)
)
SELECT month_start,
       CAST(count(*) AS BIGINT) AS n_in_transit,
       CAST(sum(cents) AS BIGINT) AS transit_cents
FROM fan GROUP BY month_start
"""


@register(
    "lineitem_transit_by_month",
    oracle=_INTERVAL_OVERLAP_ORACLE,
    tags=("relational", "join", "temporal", "interval"),
    doc="Interval-overlap join via BOUNDED FAN-OUT: each lineitem's "
    "transit interval [shipdate, shipdate + a 3-47 day transit "
    "derived from the order key] is exploded to the "
    "calendar months it touches (sequence + explode — fan-out "
    "bounded by the transit duration, ≤ a few rows each), then a "
    "plain groupBy counts and revenue-weighs the in-transit "
    "population per month. The third interval technique in the "
    "repo, for the short-interval regime: the theta/banded join "
    "(join_range_banded) suits arbitrary range predicates, the "
    "delta sweep (orders_open_backlog_daily) suits long intervals "
    "over a fine grid, and bounded explode beats both when every "
    "interval spans few grid cells — no theta join, no window, one "
    "map-side-combined aggregation, never a cross product. Scale "
    "shape: |lineitem|·(months spanned) rows through ONE exchange "
    "into |months| groups.",
)
def lineitem_transit_by_month(spark, sf_dir):
    l = load_table(spark, sf_dir, "lineitem")
    iv = l.select(
        F.trunc(F.col("l_shipdate").cast("date"), "month").alias("m0"),
        F.trunc(
            F.date_add(
                F.col("l_shipdate").cast("date"),
                (F.col("l_orderkey") % 45 + 3).cast("int"),
            ),
            "month",
        ).alias("m1"),
        F.round(
            F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
        )
        .cast("bigint")
        .alias("cents"),
    )
    fan = iv.select(
        F.explode(
            F.sequence("m0", "m1", F.expr("interval 1 month"))
        ).alias("month_start"),
        "cents",
    )
    return fan.groupBy("month_start").agg(
        F.count("*").cast("bigint").alias("n_in_transit"),
        F.sum("cents").cast("bigint").alias("transit_cents"),
    )


# ---------------------------------------------------------------------------
# Item-item cosine neighbors (co-occurrence rec-sys serving artifact)
# ---------------------------------------------------------------------------
NEIGHBORS_TOPK = 5

_ITEM_NEIGHBORS_ORACLE = f"""
WITH baskets AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), sized AS (
  SELECT b.* FROM baskets b
  JOIN (SELECT l_orderkey FROM baskets GROUP BY l_orderkey
        HAVING count(*) <= {BASKET_MAX_ITEMS}) k USING (l_orderkey)
), supp AS (
  SELECT l_partkey, CAST(count(*) AS BIGINT) AS s FROM sized
  GROUP BY l_partkey
), pairs AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
         CAST(count(*) AS BIGINT) AS n_ab
  FROM sized a JOIN sized b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY a.l_partkey, b.l_partkey
  HAVING count(*) >= {BASKET_MIN_SUPPORT}
), sym AS (
  SELECT part_a AS item, part_b AS neighbor, n_ab FROM pairs
  UNION ALL
  SELECT part_b AS item, part_a AS neighbor, n_ab FROM pairs
), scored AS (
  SELECT s.item, s.neighbor, s.n_ab,
         (s.n_ab * s.n_ab * 1000000) // (si.s * sn.s) AS cos2_ppm
  FROM sym s
  JOIN supp si ON si.l_partkey = s.item
  JOIN supp sn ON sn.l_partkey = s.neighbor
), ranked AS (
  SELECT item, neighbor, n_ab, cos2_ppm,
         row_number() OVER (PARTITION BY item
                            ORDER BY cos2_ppm DESC, neighbor)
           AS rnk
  FROM scored
)
SELECT item, neighbor, n_ab, cos2_ppm, CAST(rnk AS BIGINT) AS rnk
FROM ranked WHERE rnk <= {NEIGHBORS_TOPK}
"""


@register(
    "orders_item_neighbors_topk",
    oracle=_ITEM_NEIGHBORS_ORACLE,
    tags=("relational", "association", "topk", "similarity"),
    doc="Item-item collaborative-filtering neighbors: cosine "
    "similarity between parts over the order-basket incidence "
    "(cos² = n_ab²/(s_a·s_b), exact ppm integers — squaring avoids "
    "the irrational sqrt while preserving the ranking; valid while "
    "n_ab ≤ ~3e6, switch the scale to ppb beyond), top-5 neighbors "
    "per item by a per-item rank — the co-occurrence rec-sys "
    "serving table ('users who bought X also bought'). Scale shape: "
    "pairs generate basket-locally under the degenerate-basket cap "
    "(Σ basket² work, never catalog all-pairs), supports ride back "
    "broadcast, the symmetric doubling is a union of the SAME pair "
    "aggregate (one computation), and the top-k window is "
    "partitioned per item — WindowGroupLimit keeps ≤ k rows per "
    "item per partition before the rank shuffle.",
)
def orders_item_neighbors_topk(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    baskets = li.select("l_orderkey", "l_partkey").distinct()
    ok = (
        baskets.groupBy("l_orderkey")
        .agg(F.count("*").alias("bn"))
        .filter(F.col("bn") <= BASKET_MAX_ITEMS)
        .select("l_orderkey")
    )
    sized = baskets.join(ok, "l_orderkey").transform(stage)
    supp = sized.groupBy("l_partkey").agg(
        F.count("*").cast("bigint").alias("s")
    )
    a = sized.select("l_orderkey", F.col("l_partkey").alias("part_a"))
    b = sized.select("l_orderkey", F.col("l_partkey").alias("part_b"))
    pairs = (
        a.join(b, "l_orderkey")
        .filter(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count("*").cast("bigint").alias("n_ab"))
        .filter(F.col("n_ab") >= BASKET_MIN_SUPPORT)
        .transform(stage)
    )
    sym = pairs.select(
        F.col("part_a").alias("item"),
        F.col("part_b").alias("neighbor"),
        "n_ab",
    ).unionByName(
        pairs.select(
            F.col("part_b").alias("item"),
            F.col("part_a").alias("neighbor"),
            "n_ab",
        )
    )
    si = supp.select(F.col("l_partkey").alias("item"), F.col("s").alias("s_i"))
    sn = supp.select(
        F.col("l_partkey").alias("neighbor"), F.col("s").alias("s_n")
    )
    scored = (
        sym.join(F.broadcast(si), "item")
        .join(F.broadcast(sn), "neighbor")
        .select(
            "item",
            "neighbor",
            "n_ab",
            F.expr("(n_ab * n_ab * 1000000) div (s_i * s_n)").alias(
                "cos2_ppm"
            ),
        )
    )
    w = Window.partitionBy("item").orderBy(
        F.col("cos2_ppm").desc(), F.col("neighbor")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rnk") <= NEIGHBORS_TOPK)
        .select("item", "neighbor", "n_ab", "cos2_ppm", "rnk")
    )


# ---------------------------------------------------------------------------
# Column profiling (the ingest-side data-quality sweep)
# ---------------------------------------------------------------------------
_PROFILE_COLS = (
    "l_orderkey",
    "l_partkey",
    "l_suppkey",
    "l_quantity",
    "l_returnflag",
    "l_linestatus",
)

_PROFILE_ORACLE = f"""
WITH melted AS (
  {" UNION ALL ".join(
    f"SELECT '{c}' AS col_name, CAST({c} AS VARCHAR) AS v FROM lineitem"
    for c in _PROFILE_COLS
  )}
)
SELECT col_name,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_nulls,
       CAST(count(DISTINCT v) AS BIGINT) AS n_distinct,
       min(v) AS min_str,
       max(v) AS max_str
FROM melted GROUP BY col_name
"""


@register(
    "profile_lineitem_columns",
    oracle=_PROFILE_ORACLE,
    tags=("relational", "profiling", "groupby", "distinct"),
    doc="Column profiling sweep — the per-column null count, exact "
    "distinct count and lexicographic min/max every ingest pipeline "
    "computes before accepting a 100-TB drop (values stringified so "
    "one uniform profile row covers every type; numeric min/max "
    "therefore follow STRING order — the profile is a fingerprint, "
    "not arithmetic). Scale shape: the unpivot (stack) is a "
    "generate-shape projection fanning each row to |cols| slim "
    "(name, value) rows with the scan read ONCE; the distinct-count "
    "aggregation is the standard two-phase (partial per (col, v), "
    "then per col); min/max combine map-side. No per-column "
    "re-scans — the naive loop over columns reads the table "
    "|cols| times.",
)
def profile_lineitem_columns(spark, sf_dir):
    l = load_table(spark, sf_dir, "lineitem")
    stack_args = ", ".join(
        f"'{c}', CAST({c} AS STRING)" for c in _PROFILE_COLS
    )
    melted = l.select(
        F.expr(
            f"stack({len(_PROFILE_COLS)}, {stack_args}) AS (col_name, v)"
        )
    )
    return melted.groupBy("col_name").agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.sum(F.col("v").isNull().cast("int"))
        .cast("bigint")
        .alias("n_nulls"),
        F.countDistinct("v").cast("bigint").alias("n_distinct"),
        F.min("v").alias("min_str"),
        F.max("v").alias("max_str"),
    )


# --------------------------------------------------------------------
# Frequent triples via Apriori candidate pruning (round 8)
# --------------------------------------------------------------------
# Relative support: a frequent itemset must appear in >= 1/REL_DEN of
# baskets (floor 2). A FIXED absolute threshold is the classic Apriori
# scale bug — at x10 baskets every co-occurring pair clears it, the
# "frequent" pair table stops being a model-sized prune set, and the
# candidate join explodes (measured 25x wall at the x10 decade probe
# before this was made relative).
APRIORI_REL_DEN = 10_000

_MINSUP_SQL = (
    "greatest(2, (SELECT (count(DISTINCT l_orderkey) + "
    f"{APRIORI_REL_DEN - 1}) // {APRIORI_REL_DEN} FROM lineitem))"
)

_TRIPLES_ORACLE = f"""
WITH items AS (
  SELECT DISTINCT l_orderkey AS ok, l_partkey AS item FROM lineitem
),
fpairs AS MATERIALIZED (
  SELECT a.item AS i1, b.item AS i2
  FROM items a JOIN items b ON a.ok = b.ok AND a.item < b.item
  GROUP BY a.item, b.item HAVING count(*) >= {_MINSUP_SQL}
),
cand AS MATERIALIZED (
  SELECT p.i1, p.i2, q.i2 AS i3
  FROM fpairs p JOIN fpairs q ON q.i1 = p.i2
  JOIN fpairs r ON r.i1 = p.i1 AND r.i2 = q.i2
),
tri AS (
  SELECT c.i1, c.i2, c.i3, CAST(count(*) AS BIGINT) AS support
  FROM cand c
  JOIN items a ON a.item = c.i1
  JOIN items b ON b.item = c.i2 AND b.ok = a.ok
  JOIN items d ON d.item = c.i3 AND d.ok = a.ok
  GROUP BY c.i1, c.i2, c.i3 HAVING count(*) >= {_MINSUP_SQL}
)
SELECT i1, i2, i3, support FROM tri
"""


@register(
    "itemsets_apriori_triples",
    oracle=_TRIPLES_ORACLE,
    tags=("relational", "join", "agg", "itemsets"),
    doc="Frequent 3-itemsets with Apriori candidate pruning — the "
    "level-3 step above orders_basket_pairs: candidates are built "
    "by self-joining the FREQUENT pairs ((i1,i2)⋈(i2,i3), pruned "
    "again on (i1,i3) — every subset of a frequent set must be "
    "frequent), and only then counted against the baskets. The "
    "pruning is the entire scale story: enumerating raw per-basket "
    "triples first is O(Σ basket³) and measured >3000x slower in "
    "the oracle engine than candidate-first on the SAME data "
    "(>300 s vs 0.1 s at sf0.01); the candidate join touches only "
    "the |frequent pairs|-sized model table. The support count is "
    "three equi-joins on the basket key — co-partitioned shuffles, "
    "no theta join anywhere. The threshold is RELATIVE (>= 1/10000 "
    "of baskets, floor 2): a fixed absolute minsup is the classic "
    "Apriori scale bug — at x10 baskets every co-occurring pair "
    "cleared it and the candidate join blew up 25x (decade probe) "
    "until support scaled with the corpus.",
)
def itemsets_apriori_triples(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    items = (
        li.select(
            F.col("l_orderkey").alias("ok"),
            F.col("l_partkey").alias("item"),
        )
        .distinct()
        .transform(stage)
    )
    # relative support threshold — model state (one count of the
    # staged basket table), mirroring the oracle's scalar subquery
    n_baskets = items.select("ok").distinct().count()
    minsup = max(
        2, (n_baskets + APRIORI_REL_DEN - 1) // APRIORI_REL_DEN
    )
    a, b = items.alias("a"), items.alias("b")
    fpairs = (
        a.join(
            b,
            (F.col("a.ok") == F.col("b.ok"))
            & (F.col("a.item") < F.col("b.item")),
        )
        .groupBy(
            F.col("a.item").alias("i1"), F.col("b.item").alias("i2")
        )
        .agg(F.count("*").alias("sup"))
        .filter(F.col("sup") >= minsup)
        .select("i1", "i2")
        .transform(stage)
    )
    p, q, r = fpairs.alias("p"), fpairs.alias("q"), fpairs.alias("r")
    cand = (
        p.join(q, F.col("q.i1") == F.col("p.i2"))
        .join(
            r,
            (F.col("r.i1") == F.col("p.i1"))
            & (F.col("r.i2") == F.col("q.i2")),
        )
        .select(
            F.col("p.i1").alias("i1"),
            F.col("p.i2").alias("i2"),
            F.col("q.i2").alias("i3"),
        )
    )
    ia, ib, ic = items.alias("ia"), items.alias("ib"), items.alias("ic")
    tri = (
        cand.join(ia, F.col("ia.item") == F.col("i1"))
        .join(
            ib,
            (F.col("ib.item") == F.col("i2"))
            & (F.col("ib.ok") == F.col("ia.ok")),
        )
        .join(
            ic,
            (F.col("ic.item") == F.col("i3"))
            & (F.col("ic.ok") == F.col("ia.ok")),
        )
        .groupBy("i1", "i2", "i3")
        .agg(F.count("*").cast("bigint").alias("support"))
        .filter(F.col("support") >= minsup)
    )
    return tri


# --------------------------------------------------------------------
# Association rules from frequent pairs (round 8): confidence + lift
# --------------------------------------------------------------------
_RULES_ORACLE = f"""
WITH items AS (
  SELECT DISTINCT l_orderkey AS ok, l_partkey AS item FROM lineitem
),
nb AS (SELECT CAST(count(DISTINCT ok) AS BIGINT) AS n FROM items),
isup AS (
  SELECT item, CAST(count(*) AS BIGINT) AS s FROM items GROUP BY item
),
minsup AS (SELECT {_MINSUP_SQL} AS m),
psup AS (
  SELECT a.item AS i1, b.item AS i2,
         CAST(count(*) AS BIGINT) AS s12
  FROM items a JOIN items b ON a.ok = b.ok AND a.item < b.item
  GROUP BY a.item, b.item
  HAVING count(*) >= (SELECT m FROM minsup)
),
rules AS (
  -- each frequent pair yields both directed rules
  SELECT i1 AS antecedent, i2 AS consequent, s12 FROM psup
  UNION ALL
  SELECT i2, i1, s12 FROM psup
)
SELECT r.antecedent, r.consequent, r.s12 AS pair_support,
       CAST(r.s12 * 1000000 // sa.s AS BIGINT) AS confidence_ppm,
       CAST(r.s12 * n * 1000000 // (sa.s * sc.s) AS BIGINT)
         AS lift_micro
FROM rules r
JOIN isup sa ON sa.item = r.antecedent
JOIN isup sc ON sc.item = r.consequent
CROSS JOIN nb
"""


@register(
    "orders_association_rules",
    oracle=_RULES_ORACLE,
    tags=("relational", "join", "agg", "itemsets"),
    doc="Association rules from the frequent pairs: for every "
    "(relative-support-thresholded) co-occurring item pair, both "
    "directed rules a→b with exact-integer confidence "
    "(s12/s_a, ppm) and lift (s12·N/(s_a·s_b), micro) — the "
    "recommendation signals the basket family feeds. Lift's "
    "three-factor product stays int64-safe while s12·N < 9e12 "
    "(documented bound; q/r split beyond). Scale shape: the SAME "
    "basket-key pair combine as itemsets_apriori_triples, then "
    "broadcast-sized joins against the |items| support table and "
    "the 1-row basket count.",
)
def orders_association_rules(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    items = (
        li.select(
            F.col("l_orderkey").alias("ok"),
            F.col("l_partkey").alias("item"),
        )
        .distinct()
        .transform(stage)
    )
    n_baskets = items.select("ok").distinct().count()
    minsup = max(
        2, (n_baskets + APRIORI_REL_DEN - 1) // APRIORI_REL_DEN
    )
    isup = items.groupBy("item").agg(
        F.count("*").cast("bigint").alias("s")
    )
    a, b = items.alias("a"), items.alias("b")
    psup = (
        a.join(
            b,
            (F.col("a.ok") == F.col("b.ok"))
            & (F.col("a.item") < F.col("b.item")),
        )
        .groupBy(
            F.col("a.item").alias("i1"), F.col("b.item").alias("i2")
        )
        .agg(F.count("*").cast("bigint").alias("s12"))
        .filter(F.col("s12") >= minsup)
    )
    rules = psup.select(
        F.col("i1").alias("antecedent"),
        F.col("i2").alias("consequent"),
        "s12",
    ).unionAll(
        psup.select(
            F.col("i2").alias("antecedent"),
            F.col("i1").alias("consequent"),
            "s12",
        )
    )
    sa = isup.select(
        F.col("item").alias("antecedent"), F.col("s").alias("s_a")
    )
    sc = isup.select(
        F.col("item").alias("consequent"), F.col("s").alias("s_c")
    )
    return (
        rules.join(F.broadcast(sa), "antecedent")
        .join(F.broadcast(sc), "consequent")
        .select(
            "antecedent",
            "consequent",
            F.col("s12").alias("pair_support"),
            F.expr("s12 * 1000000 div s_a")
            .cast("bigint")
            .alias("confidence_ppm"),
            F.expr(f"s12 * {n_baskets} * 1000000 div (s_a * s_c)")
            .cast("bigint")
            .alias("lift_micro"),
        )
    )


# --------------------------------------------------------------------
# HITS over the order–part bipartite graph (round 9): hubs =
# baskets, authorities = parts — integer fixed-iteration
# --------------------------------------------------------------------
HITS_ITERS = 2
HITS_Q = 1_000_000  # max-normalized micro-units after every half-step
HITS_TOPK = 50


def _hits_oracle() -> str:
    q, k = HITS_Q, HITS_TOPK
    its = []
    prev_a = "a0"
    # a0 = 1e6 for every part (uniform start)
    for i in range(1, HITS_ITERS + 1):
        its.append(f"""
h{i}_raw AS (
  SELECT e.ok, CAST(sum(a.s) AS BIGINT) AS s
  FROM items e JOIN {prev_a} a USING (item) GROUP BY e.ok
),
h{i} AS (
  SELECT ok, CAST(s * {q} // (SELECT max(s) FROM h{i}_raw) AS BIGINT)
    AS s
  FROM h{i}_raw
),
a{i}_raw AS (
  SELECT e.item, CAST(sum(h.s) AS BIGINT) AS s
  FROM items e JOIN h{i} h USING (ok) GROUP BY e.item
),
a{i} AS (
  SELECT item, CAST(s * {q} // (SELECT max(s) FROM a{i}_raw) AS BIGINT)
    AS s
  FROM a{i}_raw
)""")
        prev_a = f"a{i}"
    return f"""
WITH items AS (
  SELECT DISTINCT l_orderkey AS ok, l_partkey AS item FROM lineitem
),
a0 AS (SELECT DISTINCT item, CAST({q} AS BIGINT) AS s FROM items),
{",".join(its)}
SELECT item AS partkey, s AS authority_q,
       CAST(row_number() OVER (ORDER BY s DESC, item) AS BIGINT)
         AS rnk
FROM {prev_a}
ORDER BY s DESC, item LIMIT {k}
"""


@register(
    "graph_hits_authorities",
    oracle=_hits_oracle(),
    tags=("relational", "graph", "itemsets"),
    doc="HITS (Kleinberg) over the order–part bipartite graph: "
    "baskets are hubs, parts are authorities — a part scores high "
    "when it sits in baskets that also contain other high-authority "
    "parts, the mutual-reinforcement signal raw popularity (degree) "
    "misses. Fixed " f"{HITS_ITERS}" " unrolled iterations with "
    "MAX-normalization after every half-step, all exact integers "
    "(sum, then s·1e6 // max — truncating division on both "
    "engines), so the scores are bit-identical cross-engine without "
    "the float L2 normalization the textbook form uses. Scale "
    "shape: the basket table is staged once; every half-step is one "
    "co-partitioned equi-join + groupBy on ok/item (the PageRank "
    "exchange discipline), the max is a 1-row broadcast aggregate, "
    "top-50 is TakeOrdered.",
)
def graph_hits_authorities(spark, sf_dir):
    from pyspark.sql import Window

    q = HITS_Q
    li = load_table(spark, sf_dir, "lineitem")
    items = (
        li.select(
            F.col("l_orderkey").alias("ok"),
            F.col("l_partkey").alias("item"),
        )
        .distinct()
        .transform(stage)
    )
    a = items.select("item").distinct().select(
        "item", F.lit(q).cast("bigint").alias("s")
    )
    for _ in range(HITS_ITERS):
        h_raw = (
            items.join(a, "item")
            .groupBy("ok")
            .agg(F.sum("s").cast("bigint").alias("s"))
            .transform(stage)
        )
        hmax = h_raw.agg(F.max("s").alias("m"))
        h = h_raw.crossJoin(F.broadcast(hmax)).select(
            "ok", F.expr(f"s * {q} div m").cast("bigint").alias("s")
        )
        a_raw = (
            items.join(h, "ok")
            .groupBy("item")
            .agg(F.sum("s").cast("bigint").alias("s"))
            .transform(stage)
        )
        amax = a_raw.agg(F.max("s").alias("m"))
        a = a_raw.crossJoin(F.broadcast(amax)).select(
            "item", F.expr(f"s * {q} div m").cast("bigint").alias("s")
        )
    top = a.orderBy(F.col("s").desc(), "item").limit(HITS_TOPK)
    return top.select(
        F.col("item").alias("partkey"),
        F.col("s").alias("authority_q"),
        F.row_number()
        .over(Window.orderBy(F.col("s").desc(), "item"))
        .cast("bigint")
        .alias("rnk"),
    )


# --------------------------------------------------------------------
# Kaplan–Meier survival over customer tenure (round 9)
# --------------------------------------------------------------------
KM_BUCKET_S = 2_592_000  # 30-day tenure buckets (seconds)


def _km_oracle() -> str:
    b = KM_BUCKET_S
    return f"""
WITH RECURSIVE per_cust AS (
  SELECT o_custkey,
         (CAST(floor(epoch(max(o_orderdate))) AS BIGINT)
          - CAST(floor(epoch(min(o_orderdate))) AS BIGINT)) // {b}
           AS t
  FROM orders GROUP BY o_custkey
),
deaths AS (
  SELECT t, CAST(count(*) AS BIGINT) AS d FROM per_cust GROUP BY t
),
ord AS (
  SELECT t, d, row_number() OVER (ORDER BY t) AS rn FROM deaths
),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM per_cust),
km AS (
  SELECT rn, t, d,
         (SELECT n FROM tot) AS n_risk,
         CAST((SELECT n FROM tot) - d AS BIGINT) AS rem,
         CAST(1000000 * ((SELECT n FROM tot) - d)
              // (SELECT n FROM tot) AS BIGINT) AS s
  FROM ord WHERE rn = 1
  UNION ALL
  SELECT o.rn, o.t, o.d, k.rem AS n_risk,
         CAST(k.rem - o.d AS BIGINT) AS rem,
         CAST(k.s * (k.rem - o.d) // k.rem AS BIGINT) AS s
  FROM km k JOIN ord o ON o.rn = k.rn + 1
)
SELECT t AS tenure_bucket, n_risk, d AS n_churned,
       s AS survival_micro
FROM km
"""


@register(
    "customer_survival_km",
    oracle=_km_oracle(),
    tags=("relational", "timeseries", "agg"),
    doc="Kaplan–Meier survival curve over customer tenure (churn "
    "proxy: a customer's last order ends their spell; tenure = "
    "30-day buckets between first and last order — epoch-floor "
    "bucketing, the engine-exact form). At each bucket with events: "
    "risk set n_t (customers still alive entering t), churns d_t, "
    "and the product-limit estimate S_t = Π (n_i − d_i)/n_i folded "
    "in EXACT integer micro-units (S ← S·(n−d) div n, truncating "
    "division on both engines) — no float product drift, so the "
    "curve value-hashes cross-engine. Spark side folds the "
    "bucket-level tile table (one sorted collect_list of a "
    "|buckets|-sized model frame, never the customer table) inside "
    "one aggregate() expression; the oracle mirrors with a "
    "recursive CTE. Scale shape: customers reduce to per-key "
    "min/max (one combine), buckets are time-span-sized — "
    "independent of order volume.",
)
def customer_survival_km(spark, sf_dir):
    b = KM_BUCKET_S
    orders = load_table(spark, sf_dir, "orders")
    per_cust = orders.groupBy("o_custkey").agg(
        (
            (
                F.unix_timestamp(F.max("o_orderdate"))
                - F.unix_timestamp(F.min("o_orderdate"))
            )
            / F.lit(b)
        )
        .cast("bigint")
        .alias("t")
    )
    deaths = per_cust.groupBy("t").agg(
        F.count("*").cast("bigint").alias("d")
    )
    one = deaths.agg(
        F.sort_array(F.collect_list(F.struct("t", "d"))).alias("arr"),
        F.sum("d").cast("bigint").alias("n"),
    )
    folded = one.select(
        F.expr(
            """
aggregate(
  arr,
  named_struct(
    's', cast(1000000 as bigint),
    'rem', n,
    'out', cast(array() as
      array<struct<t:bigint,n_risk:bigint,d:bigint,s:bigint>>)
  ),
  (acc, x) -> named_struct(
    's', acc.s * (acc.rem - x.d) div acc.rem,
    'rem', acc.rem - x.d,
    'out', concat(acc.out, array(named_struct(
      't', x.t, 'n_risk', acc.rem, 'd', x.d,
      's', acc.s * (acc.rem - x.d) div acc.rem)))
  ),
  acc -> acc.out
)
"""
        ).alias("steps")
    )
    return folded.select(F.explode("steps").alias("st")).select(
        F.col("st.t").alias("tenure_bucket"),
        F.col("st.n_risk").alias("n_risk"),
        F.col("st.d").alias("n_churned"),
        F.col("st.s").alias("survival_micro"),
    )


# --------------------------------------------------------------------
# Wave D (round 9): inequality, robust means, cohort retention
# --------------------------------------------------------------------
@register(
    "customer_gini_by_nation",
    oracle="""
WITH rev AS (
  SELECT c.c_nationkey AS nk, o.o_custkey AS ck,
         CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT))
              AS BIGINT) AS cents
  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
  GROUP BY 1, 2
),
ranked AS (
  SELECT nk, cents,
         CAST(row_number() OVER (PARTITION BY nk
                                 ORDER BY cents, ck) AS BIGINT) AS i
  FROM rev
),
g AS (
  SELECT nk, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(cents) AS BIGINT) AS sx,
         CAST(sum(i * cents) AS BIGINT) AS si
  FROM ranked GROUP BY nk
)
SELECT n2.n_name, g.n AS n_customers,
       CAST((2 * g.si - (g.n + 1) * g.sx) * 10000
            // (g.n * g.sx) AS BIGINT) AS gini_bp
FROM g JOIN nation n2 ON n2.n_nationkey = g.nk
WHERE g.sx > 0
""",
    tags=("relational", "segmentation", "statistics"),
    doc="Gini coefficient of customer revenue concentration per "
    "nation — the inequality companion to the HHI query (HHI asks "
    "'how dominated by the few', Gini asks 'how unequal across "
    "all'): G = (2·Σ i·x_(i) − (n+1)·Σx) / (n·Σx) over "
    "ascending-sorted customer revenues, in exact basis points "
    "(integer cents, truncating division; rank ties share a value, "
    "so Σ i·x is tie-order-invariant and the result is "
    "deterministic). One fact combine to per-customer cents, one "
    "per-nation rank window over the customer-sized frame, a "
    "|nations|-row rollup. int64 headroom note: Σ i·x·10⁴ needs "
    "n·max_rev·n·10⁴ < 2⁶³ — true to ~millions of customers per "
    "nation at these price scales; above that, lift to DECIMAL.",
)
def customer_gini_by_nation(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    rev = (
        orders.join(
            cust, orders["o_custkey"] == cust["c_custkey"]
        )
        .groupBy(
            F.col("c_nationkey").alias("nk"),
            F.col("o_custkey").alias("ck"),
        )
        .agg(
            F.sum(
                F.round(F.col("o_totalprice") * 100).cast("bigint")
            )
            .cast("bigint")
            .alias("cents")
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("nk").orderBy("cents", "ck")
    ranked = rev.withColumn(
        "i", F.row_number().over(w).cast("bigint")
    )
    g = ranked.groupBy("nk").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("cents").cast("bigint").alias("sx"),
        F.sum(F.col("i") * F.col("cents")).cast("bigint").alias("si"),
    )
    return (
        g.filter(F.col("sx") > 0)
        .join(
            F.broadcast(
                nation.select(
                    F.col("n_nationkey").alias("nk"), "n_name"
                )
            ),
            "nk",
        )
        .select(
            "n_name",
            F.col("n").alias("n_customers"),
            F.expr(
                "(2 * si - (n + 1) * sx) * 10000 div (n * sx)"
            )
            .cast("bigint")
            .alias("gini_bp"),
        )
    )


@register(
    "orders_trimmed_mean",
    oracle="""
WITH c AS (
  SELECT o_orderpriority AS pri, o_orderkey AS ok,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
),
ranked AS (
  SELECT pri, cents,
         CAST(row_number() OVER (PARTITION BY pri
                                 ORDER BY cents, ok) AS BIGINT) AS i,
         CAST(count(*) OVER (PARTITION BY pri) AS BIGINT) AS n
  FROM c
),
kept AS (
  SELECT pri, cents, n FROM ranked
  WHERE i > n // 10 AND i <= n - n // 10
)
SELECT pri AS o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_used,
       CAST(sum(cents) // count(*) AS BIGINT) AS trimmed_mean_cents
FROM kept GROUP BY pri
""",
    tags=("relational", "agg", "statistics"),
    doc="10% two-sided trimmed mean of order value per priority "
    "class — the robust center the plain mean isn't (a handful of "
    "mega-orders move AVG arbitrarily; they cannot move a trimmed "
    "mean at all). Rank window per class over exact integer cents "
    "(ties broken by key, but the kept VALUE multiset is "
    "tie-order-invariant), drop the bottom/top n//10, truncating "
    "integer mean of what remains. One window + one combine, both "
    "on the class partitioning.",
)
def orders_trimmed_mean(spark, sf_dir):
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    c = orders.select(
        F.col("o_orderpriority").alias("pri"),
        F.col("o_orderkey").alias("ok"),
        F.round(F.col("o_totalprice") * 100)
        .cast("bigint")
        .alias("cents"),
    )
    w = Window.partitionBy("pri")
    ranked = c.withColumn(
        "i", F.row_number().over(w.orderBy("cents", "ok")).cast("bigint")
    ).withColumn("n", F.count("*").over(w).cast("bigint"))
    kept = ranked.filter(
        (F.col("i") > F.expr("n div 10"))
        & (F.col("i") <= F.col("n") - F.expr("n div 10"))
    )
    return kept.groupBy(F.col("pri").alias("o_orderpriority")).agg(
        F.count("*").cast("bigint").alias("n_used"),
        F.expr("sum(cents) div count(*)")
        .cast("bigint")
        .alias("trimmed_mean_cents"),
    )


@register(
    "orders_retention_triangle",
    oracle="""
WITH act AS (
  SELECT DISTINCT o_custkey AS ck,
         CAST(floor(epoch(o_orderdate)) AS BIGINT)
           // 2592000 AS p
  FROM orders
),
cohorts AS (
  SELECT ck, min(p) AS c0 FROM act GROUP BY ck
),
cells AS (
  SELECT c.c0 AS cohort_p, a.p - c.c0 AS k,
         CAST(count(DISTINCT a.ck) AS BIGINT) AS n_active
  FROM act a JOIN cohorts c USING (ck)
  GROUP BY c.c0, a.p - c.c0
),
base AS (
  SELECT cohort_p, n_active AS n_cohort FROM cells WHERE k = 0
)
SELECT c.cohort_p, c.k, c.n_active,
       CAST(c.n_active * 1000000 // b.n_cohort AS BIGINT)
         AS retention_ppm
FROM cells c JOIN base b USING (cohort_p)
""",
    tags=("relational", "timeseries", "agg"),
    doc="Cohort retention triangle: customers grouped by their "
    "first-order period (30-day epoch buckets — the engine-exact "
    "calendar the survival curve uses), each cell = distinct "
    "customers of cohort c still ordering k periods later, as a "
    "retention ppm against the cohort's own size (k=0 row = the "
    "cohort itself, retention 1e6 by construction). THE standard "
    "growth-analytics artifact next to Kaplan–Meier (KM gives the "
    "population curve, the triangle shows cohort-over-cohort "
    "drift). Two customer-keyed combines + one (cohort, k) rollup "
    "+ a broadcast-sized base join; never wider than the "
    "distinct-activity table.",
)
def orders_retention_triangle(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    act = orders.select(
        F.col("o_custkey").alias("ck"),
        (
            F.expr(
                "cast(floor(unix_timestamp(o_orderdate)) as bigint)"
            )
            / F.lit(2592000)
        )
        .cast("bigint")
        .alias("p"),
    ).distinct()
    cohorts = act.groupBy("ck").agg(F.min("p").alias("c0"))
    cells = (
        act.join(cohorts, "ck")
        .groupBy(
            F.col("c0").alias("cohort_p"),
            (F.col("p") - F.col("c0")).alias("k"),
        )
        .agg(F.count_distinct("ck").cast("bigint").alias("n_active"))
    )
    base = cells.filter(F.col("k") == 0).select(
        "cohort_p", F.col("n_active").alias("n_cohort")
    )
    return cells.join(F.broadcast(base), "cohort_p").select(
        "cohort_p",
        "k",
        "n_active",
        F.expr("n_active * 1000000 div n_cohort")
        .cast("bigint")
        .alias("retention_ppm"),
    )


# Wald-Wolfowitz runs test (round 10): is the daily-revenue delta
# sequence random, or does it trend/mean-revert? The classic
# distribution-free randomness test, next to the Benford audit and
# the CUSUM changepoint in the statistical-audit family.
_RUNS_Z_EXPR = (
    "CAST(round(((CAST(r AS DOUBLE) - (1.0 + (2.0 * n1 * n2) / n))"
    " / sqrt(((2.0 * n1 * n2) * (2.0 * n1 * n2 - n))"
    " / ((CAST(n AS DOUBLE) * n) * (n - 1.0)))) * 1000) AS BIGINT)"
)


@register(
    "orders_runs_test",
    oracle=f"""
WITH daily AS (
  SELECT o_orderdate AS d,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
              AS BIGINT) AS cents
  FROM orders GROUP BY 1
),
delta AS (
  SELECT d, cents - lag(cents) OVER (ORDER BY d) AS diff FROM daily
),
signs AS (
  SELECT d, CASE WHEN diff > 0 THEN 1 ELSE -1 END AS s
  FROM delta WHERE diff IS NOT NULL AND diff <> 0
),
flips AS (
  SELECT s, CASE WHEN lag(s) OVER (ORDER BY d) IS NULL THEN 0
                 WHEN s <> lag(s) OVER (ORDER BY d) THEN 1
                 ELSE 0 END AS flip
  FROM signs
),
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         CAST(sum(CASE WHEN s = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
         CAST(sum(flip) + 1 AS BIGINT) AS r
  FROM flips
)
SELECT n, n1, n2, r,
       CAST((1000000 * n + 2000000 * n1 * n2) // n AS BIGINT) AS mu_ppm,
       {_RUNS_Z_EXPR} AS z_milli
FROM agg
WHERE n >= 2 AND n1 >= 1 AND n2 >= 1 AND 2 * n1 * n2 <> n
""",
    tags=("statistics", "window", "temporal"),
    doc="Wald-Wolfowitz runs test over daily-revenue delta signs: "
    "count sign runs R among the nonzero day-over-day changes, "
    "compare to the randomness expectation μ = 1 + 2n₁n₂/n — too "
    "few runs = trending/autocorrelated, too many = mean-reverting "
    "oscillation; the distribution-free audit next to Benford and "
    "CUSUM. Counts and μ (truncated ppm) are exact integers; only "
    "the final z quantizes (shared double expression, round to "
    "milli — the libm discipline). The σ=0 degenerate case "
    "(2n₁n₂ = n) is excluded on both engines. Scale shape: the "
    "per-day rollup is the only corpus shuffle; the ordered lag "
    "windows run over the DAY-level frame (bounded by the calendar "
    "— ~2.4k rows at any corpus size).",
)
def orders_runs_test(spark, sf_dir):
    daily = (
        _t(spark, sf_dir, "orders")
        .select(
            F.col("o_orderdate").alias("d"),
            F.round(F.col("o_totalprice") * 100)
            .cast("bigint")
            .alias("cents"),
        )
        .groupBy("d")
        .agg(F.sum("cents").cast("bigint").alias("cents"))
    )
    w = Window.orderBy("d")
    signs = (
        daily.select(
            "d", (F.col("cents") - F.lag("cents").over(w)).alias("diff")
        )
        .filter(F.col("diff").isNotNull() & (F.col("diff") != 0))
        .select(
            "d",
            F.when(F.col("diff") > 0, F.lit(1))
            .otherwise(F.lit(-1))
            .alias("s"),
        )
    )
    flips = signs.select(
        "s",
        F.when(F.lag("s").over(w).isNull(), F.lit(0))
        .when(F.col("s") != F.lag("s").over(w), F.lit(1))
        .otherwise(F.lit(0))
        .alias("flip"),
    )
    agg = flips.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.when(F.col("s") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n1"),
        F.sum(F.when(F.col("s") == -1, 1).otherwise(0))
        .cast("bigint")
        .alias("n2"),
        (F.sum("flip") + 1).cast("bigint").alias("r"),
    )
    return agg.filter(
        (F.col("n") >= 2)
        & (F.col("n1") >= 1)
        & (F.col("n2") >= 1)
        & (F.expr("2 * n1 * n2") != F.col("n"))
    ).select(
        "n",
        "n1",
        "n2",
        "r",
        F.expr(
            "CAST((1000000 * n + 2000000 * n1 * n2) div n AS BIGINT)"
        ).alias("mu_ppm"),
        F.expr(_RUNS_Z_EXPR).alias("z_milli"),
    )
