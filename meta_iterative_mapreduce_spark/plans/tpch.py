"""Classic TPC-H-shaped multi-join workloads (Q3 / Q5 / Q18 shapes).

The fixtures are TPC-H-ish (FIXTURES.md) but not spec-complete, so
these are the canonical plan *shapes* adapted to the available
columns: selective dimension filters flowing into fact joins, small
sides broadcast, aggregation after the join tree, top-k at the end.
Catalyst ordering + AQE handle join strategy; the explicit
`broadcast` hints mark the dims that must never shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from meta_iterative_mapreduce_spark.cache import owned, persist
from meta_iterative_mapreduce_spark.io import load_table
from meta_iterative_mapreduce_spark.registry import register


@register(
    "q_tpch_q3_shape",
    oracle="""
    SELECT l.l_orderkey,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue,
           strftime(o.o_orderdate, '%Y-%m-%d') AS o_orderdate,
           o.o_orderpriority
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-03-15'
      AND l.l_shipdate > TIMESTAMP '1998-03-15'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, l.l_orderkey
    LIMIT 10
    """,
)
def q_tpch_q3_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q3 (shipping priority): segment-filtered customers → orders →
    lineitem, revenue per order, top-10. The customer side shrinks ~5×
    before the join, so it broadcasts; lineitem never shuffles twice."""
    c = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp")
    )
    return (
        li.join(o.join(F.broadcast(c), o.o_custkey == c.c_custkey),
                li.l_orderkey == o.o_orderkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            "o_orderpriority",
        )
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(10)
    )


@register(
    "q_tpch_q5_shape",
    oracle="""
    SELECT n.n_name,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue
    FROM region r
    JOIN nation n ON n.n_regionkey = r.r_regionkey
    JOIN supplier s ON s.s_nationkey = n.n_nationkey
    JOIN lineitem l ON l.l_suppkey = s.s_suppkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
    GROUP BY n.n_name
    """,
)
def q_tpch_q5_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q5 (local supplier volume): region→nation→supplier dim chain
    (all broadcast — zero shuffles until the fact join), then
    lineitem⋈orders and a per-nation rollup."""
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = load_table(spark, sf_dir, "nation")
    s = load_table(spark, sf_dir, "supplier")
    dims = s.join(
        F.broadcast(n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)),
        s.s_nationkey == n.n_nationkey,
    ).select("s_suppkey", "n_name")
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(dims), li.l_suppkey == dims.s_suppkey)
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
    )


@register(
    "q_tpch_q18_shape",
    oracle="""
    WITH big AS (
        SELECT l_orderkey
        FROM lineitem
        GROUP BY l_orderkey
        HAVING SUM(l_quantity) > 150
    )
    SELECT c.c_custkey, o.o_orderkey,
           strftime(o.o_orderdate, '%Y-%m-%d') AS o_orderdate,
           o.o_totalprice,
           ROUND(SUM(l.l_quantity), 4) AS total_qty
    FROM big
    JOIN orders o ON o.o_orderkey = big.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice
    ORDER BY o.o_totalprice DESC, o.o_orderkey
    LIMIT 20
    """,
)
def q_tpch_q18_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q18 (large-volume customers): HAVING-filtered semi-join of big
    orders back onto the fact — the aggregate-then-rejoin shape; the
    filtered key set broadcasts."""
    li = load_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("q"))
        .filter(F.col("q") > 150)
        .select(F.col("l_orderkey").alias("big_orderkey"))
    )
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    return (
        li.join(F.broadcast(big), li.l_orderkey == F.col("big_orderkey"))
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.round(F.sum("l_quantity"), 4).alias("total_qty"))
        .select(
            "c_custkey",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            "o_totalprice",
            "total_qty",
        )
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(20)
    )


@register(
    "q_tpch_q1_shape",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           ROUND(SUM(l_quantity), 4) AS sum_qty,
           ROUND(SUM(l_extendedprice), 4) AS sum_base_price,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 4)
               AS sum_disc_price,
           ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 4)
               AS sum_charge,
           ROUND(AVG(l_quantity), 4) AS avg_qty,
           ROUND(AVG(l_extendedprice), 4) AS avg_price,
           ROUND(AVG(l_discount), 4) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q_tpch_q1_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 pricing summary: the canonical full-scan aggregate.
    The plan is exactly what 100 TB wants — a pruned 7-column scan
    with the shipdate predicate pushed to parquet, partial (map-side)
    aggregation of all eight measures, then ONE exchange on the tiny
    (returnflag, linestatus) key space."""
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 4).alias("sum_base_price"),
            F.round(F.sum(disc_price), 4).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 4).alias(
                "sum_charge"
            ),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@register(
    "q_tpch_q6_shape",
    oracle="""
    SELECT ROUND(SUM(l_extendedprice * l_discount), 4) AS revenue,
           COUNT(*) AS n_rows
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q_tpch_q6_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 forecast-revenue: a pure filter-and-sum whose entire
    cost is the scan. All four predicates push down to the parquet
    reader (min/max row-group skipping on shipdate at scale) and the
    projection prunes to 4 columns; the global agg moves one partial
    row per task."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 4).alias(
                "revenue"
            ),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


@register(
    "q_tpch_q21_shape",
    oracle="""
    WITH lo AS (
        SELECT l.l_orderkey, l.l_suppkey,
               l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY AS late
        FROM lineitem l
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        WHERE o.o_orderstatus = 'F'
    )
    SELECT s.s_suppkey, s.s_name, COUNT(*) AS numwait
    FROM supplier s
    JOIN (SELECT * FROM lo WHERE late) l1 ON l1.l_suppkey = s.s_suppkey
    WHERE EXISTS (
        SELECT 1 FROM lo l2
        WHERE l2.l_orderkey = l1.l_orderkey
          AND l2.l_suppkey <> l1.l_suppkey
    )
    AND NOT EXISTS (
        SELECT 1 FROM lo l3
        WHERE l3.l_orderkey = l1.l_orderkey
          AND l3.l_suppkey <> l1.l_suppkey AND l3.late
    )
    GROUP BY s.s_suppkey, s.s_name
    ORDER BY numwait DESC, s.s_suppkey
    LIMIT 100
    """,
)
def q_tpch_q21_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (suppliers who kept finished orders waiting) —
    the canonical EXISTS + NOT EXISTS correlated pair, expressed as a
    left-semi and a left-anti join. "Late" adapts to the fixture's
    columns (no receipt/commit dates): shipped more than 90 days after
    the order date. The semi/anti sides carry only (orderkey, suppkey,
    late) projections, every pass shuffles on l_orderkey so AQE reuses
    one partitioning, and the final top-100 is TakeOrderedAndProject.
    This is the shape that punishes engines rewriting NOT EXISTS as a
    cartesian check — here both arms are hash joins."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderdate")
    )
    with owned():
        lo = persist(  # feeds l1, the semi arm, and the anti arm
            li.join(o, li.l_orderkey == o.o_orderkey)
            .select(
                "l_orderkey",
                "l_suppkey",
                # + INTERVAL (not date_add): keeps any time-of-day component,
                # exactly matching the oracle's o_orderdate + INTERVAL 90 DAY
                (
                    F.col("l_shipdate")
                    > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
                ).alias("late"),
            )
        )
        l1 = lo.filter(F.col("late")).select("l_orderkey", "l_suppkey")
        others = lo.select(
            F.col("l_orderkey").alias("o_k"), F.col("l_suppkey").alias("o_s")
        )
        l1_semi = l1.join(
            others,
            (F.col("l_orderkey") == F.col("o_k"))
            & (F.col("l_suppkey") != F.col("o_s")),
            "left_semi",
        )
        others_late = lo.filter(F.col("late")).select(
            F.col("l_orderkey").alias("a_k"), F.col("l_suppkey").alias("a_s")
        )
        l1_final = l1_semi.join(
            others_late,
            (F.col("l_orderkey") == F.col("a_k"))
            & (F.col("l_suppkey") != F.col("a_s")),
            "left_anti",
        )
        return (
            l1_final.join(s, l1_final.l_suppkey == s.s_suppkey)
            .groupBy("s_suppkey", "s_name")
            .agg(F.count(F.lit(1)).alias("numwait"))
            .orderBy(F.desc("numwait"), "s_suppkey")
            .limit(100)
            .localCheckpoint(eager=True)
        )


@register(
    "q_tpch_q2_shape",
    oracle="""
    WITH cost AS (
        SELECT l_partkey, l_suppkey,
               MIN(l_extendedprice / l_quantity) AS unit
        FROM lineitem GROUP BY l_partkey, l_suppkey
    ), best AS (
        SELECT l_partkey, MIN(unit) AS best_unit
        FROM cost GROUP BY l_partkey
    )
    SELECT p.p_partkey,
           CAST(MIN(c.l_suppkey) AS BIGINT) AS best_suppkey,
           CAST(FLOOR(b.best_unit * 10000 + 0.5) AS BIGINT) AS unit_e4
    FROM part p
    JOIN best b ON b.l_partkey = p.p_partkey
    JOIN cost c ON c.l_partkey = b.l_partkey AND c.unit = b.best_unit
    WHERE p.p_size % 7 = 0
    GROUP BY p.p_partkey, b.best_unit
    """,
)
def q_tpch_q2_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2's plan shape — MIN-per-group then JOIN-BACK to
    recover the row achieving the minimum (the schema has no
    partsupp, so 'supply cost' is the best observed unit price per
    (part, supplier) from lineitem). The per-part best and the
    (part, supplier) costs share ONE hash partitioning on partkey,
    so the join-back adds no exchange beyond the two aggregates;
    suppliers tying on the minimum collapse deterministically to
    MIN(suppkey). The double-equality join is safe cross-engine
    because both sides compute the identical IEEE quotient and MIN
    selects (not recombines) values; emission is floor-scaled e4 per
    the house float convention."""
    li = load_table(spark, sf_dir, "lineitem")
    cost = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("unit")
    )
    best = cost.groupBy("l_partkey").agg(F.min("unit").alias("best_unit"))
    p = load_table(spark, sf_dir, "part").filter(
        F.col("p_size") % 7 == 0
    ).select("p_partkey")
    return (
        p.join(best, p.p_partkey == best.l_partkey)
        .join(
            cost,
            (cost.l_partkey == best.l_partkey)
            & (cost.unit == best.best_unit),
        )
        .groupBy("p_partkey", "best_unit")
        .agg(F.min("l_suppkey").cast("bigint").alias("best_suppkey"))
        .select(
            "p_partkey",
            "best_suppkey",
            F.floor(F.col("best_unit") * 10000 + F.lit(0.5))
            .cast("bigint")
            .alias("unit_e4"),
        )
    )


@register(
    "q_tpch_q4_shape",
    oracle="""
    SELECT o.o_orderpriority, COUNT(*) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-07-01'
      AND o.o_orderdate < TIMESTAMP '1996-10-01'
      AND EXISTS (
          SELECT 1 FROM lineitem l
          WHERE l.l_orderkey = o.o_orderkey
            AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
      )
    GROUP BY o.o_orderpriority
    """,
)
def q_tpch_q4_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 order-priority checking — the canonical EXISTS
    correlated subquery, rendered as a LEFT SEMI join whose condition
    spans both sides (late shipment: any line shipped >60 days after
    the order date). The semi join materializes no lineitem columns
    and deduplicates by construction — at 100 TB the probe side
    carries only (orderkey, shipdate) and the date filter prunes the
    orders scan to one quarter before the shuffle."""
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-07-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-10-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate"
    )
    late = o.join(
        li,
        (li.l_orderkey == o.o_orderkey)
        & (li.l_shipdate > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("order_count")
    )


@register(
    "q_tpch_q13_shape",
    oracle="""
    SELECT c_count, COUNT(*) AS custdist
    FROM (
        SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
        FROM customer c
        LEFT JOIN orders o
          ON o.o_custkey = c.c_custkey
         AND o.o_orderpriority <> '1-URGENT'
        GROUP BY c.c_custkey
    )
    GROUP BY c_count
    """,
)
def q_tpch_q13_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 customer distribution — LEFT OUTER join with the
    filter INSIDE the join condition (a customer with only urgent
    orders must still appear with count 0, so the predicate cannot
    be pushed below the outer join as a WHERE), then a two-level
    aggregate: orders per customer, customers per order-count. The
    second aggregate's key space is tiny (~max orders per customer),
    so the plan is one big hash join + one big agg + one trivial
    agg."""
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    ).select("o_custkey", "o_orderkey")
    per_cust = (
        c.join(o, o.o_custkey == c.c_custkey, "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(
        F.count(F.lit(1)).alias("custdist")
    )


@register(
    "q_tpch_q17_shape",
    oracle="""
    WITH pa AS (
        SELECT l_partkey, AVG(l_quantity) AS avg_qty
        FROM lineitem GROUP BY l_partkey
    )
    SELECT CAST(SUM(CAST(FLOOR(l.l_extendedprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS revenue_c,
           COUNT(*) AS n_rows
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey AND p.p_brand = 'Brand#13'
    JOIN pa ON pa.l_partkey = l.l_partkey
    WHERE l.l_quantity < 0.2 * pa.avg_qty
    """,
)
def q_tpch_q17_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 small-quantity-order revenue — the correlated
    per-group AVERAGE THRESHOLD: each lineitem compares against its
    part's average quantity. Both the per-part average and the probe
    share the partkey partitioning (one exchange), and the brand
    filter semi-prunes before the threshold join. Cross-engine float
    safety: l_quantity is integral, so AVG is an exact
    integer-sum/count on both engines and the 0.2x threshold compare
    is deterministic; revenue is summed in floor-scaled integer
    cents."""
    li = load_table(spark, sf_dir, "lineitem")
    pa = li.groupBy("l_partkey").agg(F.avg("l_quantity").alias("avg_qty"))
    p = load_table(spark, sf_dir, "part").filter(
        F.col("p_brand") == "Brand#13"
    ).select("p_partkey")
    probe = li.select("l_partkey", "l_quantity", "l_extendedprice")
    return (
        probe.join(p, probe.l_partkey == p.p_partkey)
        .join(pa, "l_partkey")
        .filter(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
        .agg(
            F.sum(
                F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast(
                    "bigint"
                )
            )
            .cast("bigint")
            .alias("revenue_c"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


@register(
    "q_tpch_q22_shape",
    oracle="""
    WITH bal AS (
        SELECT c_custkey, c_nationkey,
               CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT) AS cents
        FROM customer
        WHERE c_nationkey IN (1, 3, 5, 7, 9, 11, 13)
    ), avg_bal AS (
        SELECT CAST(SUM(cents) AS BIGINT) AS total_c,
               COUNT(*) AS n_pos
        FROM bal WHERE cents > 0
    )
    SELECT b.c_nationkey,
           COUNT(*) AS numcust,
           CAST(SUM(b.cents) AS BIGINT) AS totacctbal_c
    FROM bal b, avg_bal a
    WHERE b.cents * a.n_pos > a.total_c
      AND NOT EXISTS (
          SELECT 1 FROM orders o
          WHERE o.o_custkey = b.c_custkey
            AND o.o_orderdate >= TIMESTAMP '1999-01-01'
      )
    GROUP BY b.c_nationkey
    """,
)
def q_tpch_q22_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 global-sales-opportunity — scalar subquery threshold
    + ANTI join: above-average-balance customers in selected nations
    with NO recent orders (every synthetic customer has SOME order,
    so the dormancy window keeps the anti join non-vacuous). The
    average-balance comparison is exact cross-engine: balances become
    floor-scaled integer CENTS first, and 'cents > avg' is the
    cross-multiplied integer test cents*n > total — no float
    summation-order hazard (the repo's float-determinism rule). The
    1-row aggregate broadcasts; the anti join streams orders pruned
    to the dormancy window."""
    nations = [1, 3, 5, 7, 9, 11, 13]
    bal = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_nationkey").isin(nations))
        .select(
            "c_custkey",
            "c_nationkey",
            F.floor(F.col("c_acctbal") * 100 + F.lit(0.5))
            .cast("bigint")
            .alias("cents"),
        )
    )
    stats = bal.filter(F.col("cents") > 0).agg(
        F.sum("cents").cast("bigint").alias("total_c"),
        F.count(F.lit(1)).alias("n_pos"),
    )
    recent = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("1999-01-01").cast("timestamp")
    ).select("o_custkey")
    rich = (
        bal.crossJoin(F.broadcast(stats))
        .filter(F.col("cents") * F.col("n_pos") > F.col("total_c"))
        .join(recent, bal.c_custkey == recent.o_custkey, "left_anti")
    )
    return rich.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("numcust"),
        F.sum("cents").cast("bigint").alias("totacctbal_c"),
    )


# ---------------------------------------------------------------------------
# Round 9: the remaining 11 TPC-H shapes (Q7-Q12, Q14-Q16, Q19, Q20),
# completing the full 22-query suite. The fixture has no partsupp,
# shipmode, receipt/commit dates, container, or comment columns, so
# each query keeps the canonical PLAN SHAPE and adapts the predicate
# to available columns (noted per query). Float discipline: every sum
# over price expressions is a floor-scaled e4 BIGINT (the repo's
# float-determinism rule) so hashes match DuckDB exactly regardless
# of summation order.


def _disc_price_e4() -> "F.Column":
    """extendedprice * (1 - discount) as a floor-scaled e4 integer —
    the per-row product is one IEEE multiply chain (identical in both
    engines), and summing BIGINTs is order-independent."""
    return (
        F.floor(
            F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000
            + F.lit(0.5)
        ).cast("bigint")
    )


_DISC_PRICE_E4_SQL = (
    "CAST(FLOOR(l_extendedprice * (1 - l_discount) * 10000 + 0.5) AS BIGINT)"
)


@register(
    "q_tpch_q7_shape",
    oracle="""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(YEAR(l.l_shipdate) AS INT) AS l_year,
           CAST(SUM(CAST(FLOOR(l.l_extendedprice * (1 - l.l_discount)
                               * 10000 + 0.5) AS BIGINT)) AS BIGINT)
               AS revenue_e4
    FROM supplier s
    JOIN lineitem l ON s.s_suppkey = l.l_suppkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n1 ON n1.n_nationkey = s.s_nationkey
    JOIN nation n2 ON n2.n_nationkey = c.c_nationkey
    WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
      AND l.l_shipdate >= TIMESTAMP '1996-01-01'
      AND l.l_shipdate < TIMESTAMP '1998-01-01'
    GROUP BY supp_nation, cust_nation, l_year
    """,
)
def q_tpch_q7_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 volume shipping — revenue BETWEEN two nations per
    year, the canonical two-dimension-chain join: the supplier and
    customer nation dims broadcast (the supplier side pre-filters
    lineitem to ~2/25 of suppliers before any shuffle), the
    lineitem⋈orders⋈customer fact spine shuffles on its keys, and the
    (supp, cust) pair filter runs only once both nations are known —
    it cannot push below the joins because either direction of the
    pair qualifies. Revenue is summed in floor-scaled e4 integers."""
    nation = load_table(spark, sf_dir, "nation")
    n1 = nation.filter(F.col("n_name").isin("NATION_1", "NATION_2")).select(
        F.col("n_nationkey").alias("sn_key"),
        F.col("n_name").alias("supp_nation"),
    )
    n2 = nation.filter(F.col("n_name").isin("NATION_1", "NATION_2")).select(
        F.col("n_nationkey").alias("cn_key"),
        F.col("n_name").alias("cust_nation"),
    )
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    sd = s.join(F.broadcast(n1), s.s_nationkey == F.col("sn_key")).select(
        "s_suppkey", "supp_nation"
    )
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    cd = c.join(F.broadcast(n2), c.c_nationkey == F.col("cn_key")).select(
        "c_custkey", "cust_nation"
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .select(
            "l_orderkey",
            "l_suppkey",
            F.year("l_shipdate").alias("l_year"),
            _disc_price_e4().alias("v_e4"),
        )
    )
    return (
        li.join(F.broadcast(sd), li.l_suppkey == sd.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(cd, o.o_custkey == cd.c_custkey)
        .filter(
            (
                (F.col("supp_nation") == "NATION_1")
                & (F.col("cust_nation") == "NATION_2")
            )
            | (
                (F.col("supp_nation") == "NATION_2")
                & (F.col("cust_nation") == "NATION_1")
            )
        )
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(F.sum("v_e4").cast("bigint").alias("revenue_e4"))
    )


@register(
    "q_tpch_q8_shape",
    oracle="""
    WITH vol AS (
        SELECT CAST(YEAR(o.o_orderdate) AS INT) AS o_year,
               CAST(FLOOR(l.l_extendedprice * (1 - l.l_discount)
                          * 10000 + 0.5) AS BIGINT) AS v_e4,
               n1.n_name AS supp_nation
        FROM part p
        JOIN lineitem l ON p.p_partkey = l.l_partkey
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN nation n1 ON n1.n_nationkey = s.s_nationkey
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n2 ON n2.n_nationkey = c.c_nationkey
        JOIN region r ON r.r_regionkey = n2.n_regionkey
        WHERE r.r_name = 'ASIA' AND p.p_type = 'PROMO'
          AND o.o_orderdate >= TIMESTAMP '1995-01-01'
          AND o.o_orderdate < TIMESTAMP '1997-01-01'
    )
    SELECT o_year,
           CAST(SUM(CASE WHEN supp_nation = 'NATION_5' THEN v_e4
                         ELSE 0 END) AS BIGINT) AS nation_volume_e4,
           CAST(SUM(v_e4) AS BIGINT) AS total_volume_e4
    FROM vol GROUP BY o_year
    """,
)
def q_tpch_q8_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 national market share — one nation's share of a
    region's market for one part type, per year. The share DIVISION is
    deliberately not emitted: numerator and denominator ship as exact
    e4 BIGINTs (a float ratio of two float sums would reintroduce the
    summation-order hazard the house rule exists to kill; the consumer
    divides). Plan: the PROMO part filter and the full supplier-nation
    dim broadcast into lineitem (two map-side prunes, zero shuffles),
    then the orders⋈customer spine shuffles once per key with the ASIA
    region chain broadcast into customer."""
    part = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_type") == "PROMO")
        .select("p_partkey")
    )
    nation = load_table(spark, sf_dir, "nation")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    sd = s.join(
        F.broadcast(
            nation.select(
                F.col("n_nationkey").alias("sn_key"),
                F.col("n_name").alias("supp_nation"),
            )
        ),
        s.s_nationkey == F.col("sn_key"),
    ).select("s_suppkey", "supp_nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n2 = nation.join(
        F.broadcast(r), nation.n_regionkey == r.r_regionkey
    ).select(F.col("n_nationkey").alias("cn_key"))
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    cd = c.join(F.broadcast(n2), c.c_nationkey == F.col("cn_key")).select(
        "c_custkey"
    )
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    ).select("o_orderkey", "o_custkey", F.year("o_orderdate").alias("o_year"))
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", _disc_price_e4().alias("v_e4")
    )
    vol = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(sd), li.l_suppkey == sd.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(cd, o.o_custkey == cd.c_custkey)
    )
    return vol.groupBy("o_year").agg(
        F.sum(
            F.when(F.col("supp_nation") == "NATION_5", F.col("v_e4")).otherwise(
                F.lit(0)
            )
        )
        .cast("bigint")
        .alias("nation_volume_e4"),
        F.sum("v_e4").cast("bigint").alias("total_volume_e4"),
    )


@register(
    "q_tpch_q9_shape",
    oracle="""
    SELECT n.n_name, CAST(YEAR(o.o_orderdate) AS INT) AS o_year,
           CAST(SUM(CAST(FLOOR(l.l_extendedprice * (1 - l.l_discount)
                               * 10000 + 0.5) AS BIGINT)
                  - CAST(FLOOR(0.6 * p.p_retailprice * l.l_quantity
                               * 10000 + 0.5) AS BIGINT)) AS BIGINT)
               AS profit_e4
    FROM part p
    JOIN lineitem l ON p.p_partkey = l.l_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    WHERE p.p_name LIKE '%red%'
    GROUP BY n.n_name, o_year
    """,
)
def q_tpch_q9_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 product-type profit — profit by supplier nation and
    year for parts matching a name token. No partsupp in the fixture,
    so supply cost adapts to 60% of the part's retail price (the
    shape — revenue minus a per-part cost joined in from the part dim
    — is unchanged). Each term becomes a floor-scaled e4 integer
    BEFORE the subtraction and sum, so the aggregate is exact; both
    engines evaluate the identical left-associated multiply chain.
    Plan: the %red% part filter (with retailprice) and the
    supplier-nation dim broadcast into lineitem, orders joins on the
    spine, one hash-agg on the tiny (nation, year) key space."""
    part = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%red%"))
        .select("p_partkey", "p_retailprice")
    )
    nation = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("sn_key"), "n_name"
    )
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    sd = s.join(F.broadcast(nation), s.s_nationkey == F.col("sn_key")).select(
        "s_suppkey", "n_name"
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.year("o_orderdate").alias("o_year")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
        _disc_price_e4().alias("rev_e4"),
    )
    cost_e4 = F.floor(
        F.lit(0.6) * F.col("p_retailprice") * F.col("l_quantity") * 10000
        + F.lit(0.5)
    ).cast("bigint")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(sd), li.l_suppkey == sd.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .select("n_name", "o_year", (F.col("rev_e4") - cost_e4).alias("p_e4"))
        .groupBy("n_name", "o_year")
        .agg(F.sum("p_e4").cast("bigint").alias("profit_e4"))
    )


@register(
    "q_tpch_q10_shape",
    oracle="""
    SELECT c.c_custkey, c.c_name,
           CAST(SUM(CAST(FLOOR(l.l_extendedprice * (1 - l.l_discount)
                               * 10000 + 0.5) AS BIGINT)) AS BIGINT)
               AS revenue_e4,
           n.n_name
    FROM customer c
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    WHERE o.o_orderdate >= TIMESTAMP '1996-10-01'
      AND o.o_orderdate < TIMESTAMP '1997-01-01'
      AND l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, n.n_name
    ORDER BY revenue_e4 DESC, c.c_custkey
    LIMIT 20
    """,
)
def q_tpch_q10_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 returned-item reporting — top-20 customers by revenue
    lost to returns in one quarter. The returnflag and quarter filters
    push to both scans before the orderkey shuffle, the nation dim
    broadcasts into the customer side, and the final top-20 is
    TakeOrderedAndProject (no global sort materializes). Revenue in
    exact e4 integers makes the DESC ordering itself deterministic
    cross-engine — a float sum could order ties differently."""
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey"
    )
    n = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("nk"), "n_name"
    )
    cd = c.join(F.broadcast(n), c.c_nationkey == F.col("nk")).select(
        "c_custkey", "c_name", "n_name"
    )
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-10-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    ).select("o_orderkey", "o_custkey")
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag") == "R")
        .select("l_orderkey", _disc_price_e4().alias("v_e4"))
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(cd, o.o_custkey == cd.c_custkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.sum("v_e4").cast("bigint").alias("revenue_e4"))
        .select("c_custkey", "c_name", "revenue_e4", "n_name")
        .orderBy(F.col("revenue_e4").desc(), "c_custkey")
        .limit(20)
    )


@register(
    "q_tpch_q11_shape",
    oracle="""
    WITH pv AS (
        SELECT l_partkey,
               CAST(SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount)
                                   * 10000 + 0.5) AS BIGINT)) AS BIGINT)
                   AS value_e4
        FROM lineitem GROUP BY l_partkey
    ), tot AS (
        SELECT CAST(SUM(value_e4) AS BIGINT) AS total_e4 FROM pv
    )
    SELECT p.l_partkey, p.value_e4
    FROM pv p, tot t
    WHERE p.value_e4 * 1400 > t.total_e4
    """,
)
def q_tpch_q11_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 important stock — groups whose value exceeds a
    FRACTION of the global total (1/1400), the scalar-subquery-threshold
    shape. No partsupp, so 'stock value' adapts to lineitem revenue
    per part. The fraction compare is integer cross-multiplication
    (value*1400 > total) on exact e4 sums — no float division — and
    the 1-row total broadcasts into the per-part aggregate, so the
    plan is two hash-aggs sharing the partkey partitioning plus a
    broadcast of one row. HAVING-over-global-scalar is the part
    engines get wrong by recomputing the total per group; here it is
    computed once."""
    li = load_table(spark, sf_dir, "lineitem")
    pv = li.groupBy("l_partkey").agg(
        F.sum(_disc_price_e4()).cast("bigint").alias("value_e4")
    )
    tot = pv.agg(F.sum("value_e4").cast("bigint").alias("total_e4"))
    return (
        pv.crossJoin(F.broadcast(tot))
        .filter(F.col("value_e4") * 1400 > F.col("total_e4"))
        .select("l_partkey", "value_e4")
    )


@register(
    "q_tpch_q12_shape",
    oracle="""
    SELECT CASE WHEN l.l_quantity < 25 THEN 'SMALL' ELSE 'BULK' END
               AS ship_mode,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-01-01'
      AND l.l_shipdate < TIMESTAMP '1998-01-01'
    GROUP BY ship_mode
    """,
)
def q_tpch_q12_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shipping-mode priority split — the conditional
    two-way count after a fact join. The fixture has no l_shipmode or
    receipt/commit dates, so the mode adapts to a quantity bucket
    (SMALL/BULK) and the lateness window to a shipdate year; the shape
    — join, CASE-pivot on a priority class, group by mode — is
    unchanged. The year filter pushes to the lineitem scan, orders
    carries only (orderkey, priority), and the agg output is two
    rows."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    ).select("l_orderkey", "l_quantity")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(
            F.when(F.col("l_quantity") < 25, "SMALL")
            .otherwise("BULK")
            .alias("ship_mode"),
            F.when(high, 1).otherwise(0).alias("is_high"),
        )
        .groupBy("ship_mode")
        .agg(
            F.sum("is_high").cast("bigint").alias("high_line_count"),
            F.sum(1 - F.col("is_high")).cast("bigint").alias("low_line_count"),
        )
    )


@register(
    "q_tpch_q14_shape",
    oracle="""
    SELECT CAST(SUM(CASE WHEN p.p_type = 'PROMO'
                         THEN CAST(FLOOR(l.l_extendedprice
                                         * (1 - l.l_discount)
                                         * 10000 + 0.5) AS BIGINT)
                         ELSE 0 END) AS BIGINT) AS promo_revenue_e4,
           CAST(SUM(CAST(FLOOR(l.l_extendedprice * (1 - l.l_discount)
                               * 10000 + 0.5) AS BIGINT)) AS BIGINT)
               AS total_revenue_e4
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-09-01'
      AND l.l_shipdate < TIMESTAMP '1997-10-01'
    """,
)
def q_tpch_q14_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 promotion effect — the share of one month's revenue
    from PROMO-type parts. The percentage division is not emitted
    (numerator and denominator ship as exact e4 integers; a float
    ratio would reintroduce summation-order drift). Plan: the month
    filter prunes lineitem to ~1/36 of rows at the scan, the part dim
    broadcasts carrying only (partkey, type), and the global agg moves
    one partial row per task."""
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-10-01").cast("timestamp"))
    ).select("l_partkey", _disc_price_e4().alias("v_e4"))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .agg(
            F.sum(
                F.when(F.col("p_type") == "PROMO", F.col("v_e4")).otherwise(0)
            )
            .cast("bigint")
            .alias("promo_revenue_e4"),
            F.sum("v_e4").cast("bigint").alias("total_revenue_e4"),
        )
    )


@register(
    "q_tpch_q15_shape",
    oracle="""
    WITH rev AS (
        SELECT l_suppkey,
               CAST(SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount)
                                   * 10000 + 0.5) AS BIGINT)) AS BIGINT)
                   AS total_revenue_e4
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1996-04-01'
        GROUP BY l_suppkey
    ), m AS (
        SELECT MAX(total_revenue_e4) AS mx FROM rev
    )
    SELECT s.s_suppkey, s.s_name, r.total_revenue_e4
    FROM supplier s
    JOIN rev r ON r.l_suppkey = s.s_suppkey, m
    WHERE r.total_revenue_e4 = m.mx
    """,
)
def q_tpch_q15_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 top supplier — the supplier(s) achieving MAXIMUM
    quarterly revenue, the scalar-MAX-equality shape (the spec's view
    is inlined as a CTE). Revenue in exact e4 integers makes the
    max-equality join safe cross-engine — float sums could disagree on
    which supplier is 'the' max. Plan: one quarter-pruned scan-agg on
    suppkey, a 1-row MAX broadcast back over it, and a broadcast
    supplier-dim join for the name; ties all surface (no arbitrary
    pick)."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    rev = li.groupBy("l_suppkey").agg(
        F.sum(_disc_price_e4()).cast("bigint").alias("total_revenue_e4")
    )
    mx = rev.agg(F.max("total_revenue_e4").alias("mx"))
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        rev.crossJoin(F.broadcast(mx))
        .filter(F.col("total_revenue_e4") == F.col("mx"))
        .join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue_e4")
    )


@register(
    "q_tpch_q16_shape",
    oracle="""
    WITH ps AS (
        SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
    )
    SELECT p.p_brand, p.p_type, p.p_size,
           CAST(COUNT(DISTINCT ps.l_suppkey) AS BIGINT) AS supplier_cnt
    FROM ps JOIN part p ON p.p_partkey = ps.l_partkey
    WHERE p.p_brand <> 'Brand#13'
      AND p.p_size IN (1, 7, 14, 21, 28, 35, 42, 49)
      AND ps.l_suppkey NOT IN (
          SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
      )
    GROUP BY p.p_brand, p.p_type, p.p_size
    """,
)
def q_tpch_q16_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 parts/supplier relationship — distinct supplier
    counts per (brand, type, size) excluding a supplier blocklist. No
    partsupp table, so the part-supplier relation is the DISTINCT
    (partkey, suppkey) pairs observed in lineitem; the complaint
    filter adapts to negative account balance. The NOT IN renders as a
    LEFT ANTI join (the blocklist broadcasts — NOT IN with a
    shuffled subquery is the classic planner trap), the part filter
    broadcasts, and COUNT(DISTINCT) rides the same (brand, type,
    size) partitioning as the group-by."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey"
    ).distinct()
    bad = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#13")
        & F.col("p_size").isin(1, 7, 14, 21, 28, 35, 42, 49)
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    return (
        li.join(F.broadcast(bad), li.l_suppkey == bad.s_suppkey, "left_anti")
        .join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").cast("bigint").alias("supplier_cnt"))
    )


@register(
    "q_tpch_q19_shape",
    oracle="""
    SELECT CAST(SUM(CAST(FLOOR(l.l_extendedprice * (1 - l.l_discount)
                               * 10000 + 0.5) AS BIGINT)) AS BIGINT)
               AS revenue_e4,
           COUNT(*) AS n_rows
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 5
           AND l.l_quantity BETWEEN 1 AND 11)
       OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 10
           AND l.l_quantity BETWEEN 10 AND 20)
       OR (p.p_brand = 'Brand#24' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 20 AND 30)
    """,
)
def q_tpch_q19_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 discounted revenue — the disjunction-of-conjunctions
    predicate spanning BOTH join sides (brand/size from part,
    quantity from lineitem), the shape that punishes planners which
    can't factor OR-of-ANDs: the common p_partkey equi-key must still
    drive a hash join with the disjunction as a residual filter, never
    a cartesian. The fixture has no container/shipmode, so those
    clauses adapt to size ranges. Catalyst additionally pushes the
    per-side implied disjuncts (brand IN (...), size <= 15, quantity
    <= 30) below the join."""
    p = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_brand", "p_size"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", _disc_price_e4().alias("v_e4")
    )
    joined = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
    clause = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 5)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 10)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#24")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return joined.filter(clause).agg(
        F.sum("v_e4").cast("bigint").alias("revenue_e4"),
        F.count(F.lit(1)).alias("n_rows"),
    )


@register(
    "q_tpch_q20_shape",
    oracle="""
    WITH sp AS (
        SELECT l_partkey, l_suppkey,
               CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1997-01-01'
        GROUP BY l_partkey, l_suppkey
    ), pt AS (
        SELECT l_partkey, CAST(SUM(qty) AS BIGINT) AS part_qty
        FROM sp GROUP BY l_partkey
    ), dominant AS (
        SELECT DISTINCT sp.l_suppkey
        FROM sp
        JOIN pt ON pt.l_partkey = sp.l_partkey
        JOIN part b ON b.p_partkey = sp.l_partkey
        WHERE b.p_name LIKE '%bolt%' AND sp.qty * 2 > pt.part_qty
    )
    SELECT s.s_suppkey, s.s_name
    FROM supplier s JOIN dominant d ON d.l_suppkey = s.s_suppkey
    WHERE s.s_nationkey = 5
    """,
)
def q_tpch_q20_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 potential part promotion — suppliers in one nation
    who DOMINATE supply of a named part family, the nested-semi-join
    shape. No partsupp availqty, so 'excess stock' adapts to shipping
    more than half the part's yearly volume (sp.qty*2 > pt.part_qty —
    integer cross-multiplication; quantities are integral so the
    BIGINT cast is exact in both engines). Plan: the year window
    prunes the scan, the (partkey, suppkey) and per-part aggregates
    share one partkey partitioning so the threshold join-back adds no
    exchange, the %bolt% part filter broadcasts, and the distinct
    supplier set semi-joins a broadcast supplier dim."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    sp = li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum(F.col("l_quantity").cast("bigint")).cast("bigint").alias("qty")
    )
    pt = sp.groupBy("l_partkey").agg(
        F.sum("qty").cast("bigint").alias("part_qty")
    )
    bolts = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%bolt%"))
        .select("p_partkey")
    )
    dominant = (
        sp.join(pt, "l_partkey")
        .join(F.broadcast(bolts), F.col("l_partkey") == bolts.p_partkey)
        .filter(F.col("qty") * 2 > F.col("part_qty"))
        .select("l_suppkey")
        .distinct()
    )
    s = load_table(spark, sf_dir, "supplier").filter(
        F.col("s_nationkey") == 5
    ).select("s_suppkey", "s_name")
    return dominant.join(
        F.broadcast(s), dominant.l_suppkey == s.s_suppkey
    ).select("s_suppkey", "s_name")
