"""Relational coverage, batch 2: more TPC-H-shaped analytics, pivot,
the SQL front end, and the temporal joins (as-of / interval)
(SURVEY.md §2.3). NULL handling, posexplode, union-by-name, scalar
subqueries and the stats moments live in the consolidated suites
(relational_q / windows_q)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.functions.exact import dsum, dsum_expr
from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.queries import TaggedUnion, query
from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.sources import load_table


def rel_q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure scan-filter-agg; every predicate must reach
    the parquet scan (no join, no shuffle beyond the 1-row final agg)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            dsum(F.col("l_extendedprice") * F.col("l_discount"), 6, alias="revenue"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


@query(
    "rel_q12_shipmode_priority",
    oracle="""
    SELECT l_linestatus,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1997-07-01'
    GROUP BY l_linestatus
    """,
)
def rel_q12_shipmode_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: conditional aggregation over a fact-fact join.

    The oracle SUMs are CAST to BIGINT: DuckDB's SUM over INTEGER widens
    to HUGEINT (arrow decimal128), Spark's sum(when) is BIGINT, and the
    driver's value hash is type-sensitive (round-2 failure)."""
    li, o = load_table(spark, sf_dir, "lineitem"), load_table(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-07-01").cast("timestamp"))
        )
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_count"),
        )
    )


def rel_q14_promo_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: dim join (auto-broadcast while part fits the
    threshold) + conditional revenue ratio."""
    li, p = load_table(spark, sf_dir, "lineitem"), load_table(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo_rev = F.when(F.col("p_type").startswith("PROMO"), rev).otherwise(F.lit(0.0))
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1997-09-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-10-01").cast("timestamp"))
        )
        .join(p, F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            (F.lit(100.0) * dsum(promo_rev, 6) / dsum(rev, 6)).alias("promo_revenue_pct")
        )
    )


@query(
    "rel_q18_large_orders",
    oracle=f"""
    SELECT o.o_orderkey, o.o_custkey, {dsum_expr('l.l_quantity')} AS total_qty
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    GROUP BY o.o_orderkey, o.o_custkey
    HAVING {dsum_expr('l.l_quantity')} > 150
    """,
)
def rel_q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: join + grouped HAVING on an exact sum."""
    li, o = load_table(spark, sf_dir, "lineitem"), load_table(spark, sf_dir, "orders")
    return (
        o.join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("o_orderkey", "o_custkey")
        .agg(dsum("l_quantity", alias="total_qty"))
        .where(F.col("total_qty") > 150)
    )


def rel_q19_or_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: disjunctive mixed-table predicates over a join."""
    li, p = load_table(spark, sf_dir, "lineitem"), load_table(spark, sf_dir, "part")
    joined = li.join(p, F.col("p_partkey") == F.col("l_partkey"))
    cond1 = (
        (F.col("p_brand") == "Brand#1")
        & F.col("p_size").between(1, 15)
        & F.col("l_quantity").between(1, 20)
    )
    cond2 = (
        (F.col("p_brand") == "Brand#2")
        & F.col("p_size").between(10, 30)
        & F.col("l_quantity").between(10, 30)
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return joined.where(cond1 | cond2).agg(dsum(rev, 6, alias="revenue"))


@query(
    "rel_tpch_scalar_suite",
    oracle=f"""
    SELECT 'q6' AS q, CAST(NULL AS VARCHAR) AS key, {dsum_expr('l_extendedprice * l_discount', 6)} AS value, count(*) AS n_rows
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate < TIMESTAMP '1998-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
  UNION ALL
    SELECT 'q14', CAST(NULL AS VARCHAR), CAST(100.0 AS DOUBLE) * {dsum_expr("CASE WHEN p_type LIKE 'PROMO%' THEN l_extendedprice * (1 - l_discount) ELSE 0 END", 6)}
             / {dsum_expr('l_extendedprice * (1 - l_discount)', 6)}, CAST(NULL AS BIGINT)
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1997-09-01' AND l_shipdate < TIMESTAMP '1997-10-01'
  UNION ALL
    SELECT 'q19', CAST(NULL AS VARCHAR), {dsum_expr('l_extendedprice * (1 - l_discount)', 6)}, CAST(NULL AS BIGINT)
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity >= 1 AND l_quantity <= 20)
       OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30 AND l_quantity >= 10 AND l_quantity <= 30)
  UNION ALL
    SELECT 'q7', s_nat || '|' || c_nat || '|' || CAST(yr AS VARCHAR),
           {dsum_expr('rev', 6)}, count(*)
    FROM (
        SELECT ns.n_name AS s_nat, nc.n_name AS c_nat,
               CAST(year(l.l_shipdate) AS BIGINT) AS yr,
               l.l_extendedprice * (1 - l.l_discount) AS rev
        FROM lineitem l
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN nation ns ON ns.n_nationkey = s.s_nationkey
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation nc ON nc.n_nationkey = c.c_nationkey
        WHERE (ns.n_name = 'NATION_1' AND nc.n_name = 'NATION_2')
           OR (ns.n_name = 'NATION_2' AND nc.n_name = 'NATION_1')
    )
    GROUP BY s_nat, c_nat, yr
  UNION ALL
    SELECT 'q10', CAST(c_custkey AS VARCHAR), rev, n_li FROM (
        SELECT c.c_custkey, {dsum_expr('l.l_extendedprice * (1 - l.l_discount)', 6)} AS rev,
               count(*) AS n_li
        FROM customer c
        JOIN orders o ON o.o_custkey = c.c_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        WHERE l.l_returnflag = 'R'
        GROUP BY c.c_custkey
        ORDER BY rev DESC, c.c_custkey ASC
        LIMIT 20
    )
  UNION ALL
    SELECT 'q8', CAST(yr AS VARCHAR), share, n FROM (
        SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
               {dsum_expr("CASE WHEN sn.n_name = 'NATION_1' THEN l_extendedprice * (1 - l_discount) ELSE 0 END", 6)}
                 / {dsum_expr('l_extendedprice * (1 - l_discount)', 6)} AS share,
               count(*) AS n
        FROM lineitem
        JOIN part ON p_partkey = l_partkey AND p_type = 'STANDARD'
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN nation sn ON sn.n_nationkey = s_nationkey
        JOIN orders ON o_orderkey = l_orderkey
        JOIN customer ON c_custkey = o_custkey
        JOIN nation cn ON cn.n_nationkey = c_nationkey
        JOIN region ON r_regionkey = cn.n_regionkey AND r_name = 'ASIA'
        WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
        GROUP BY 1
    )
  UNION ALL
    SELECT 'q9', sn.n_name || '|' || CAST(CAST(year(o_orderdate) AS BIGINT) AS VARCHAR),
           {dsum_expr('l_extendedprice * (1 - l_discount) - p_retailprice * l_quantity * 0.5', 6)},
           count(*)
    FROM lineitem
    JOIN part ON p_partkey = l_partkey AND p_name LIKE '%widget%'
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation sn ON sn.n_nationkey = s_nationkey
    JOIN orders ON o_orderkey = l_orderkey
    GROUP BY sn.n_name, year(o_orderdate)
    """,
)
def rel_tpch_scalar_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consolidated TPC-H shapes, one tagged union (registry-slot
    discipline — the driver verifies ~50 entries): Q6 pure
    scan-filter-agg, Q14 broadcast-dim conditional ratio, Q19
    disjunctive mixed-table predicates, Q7 nation-pair volume (two
    broadcast nation joins on either side of the one fact-fact shuffle,
    grouped by bi-directional pair and year), Q10 returned-item revenue
    (top-20 customers by exact revenue fold — TakeOrderedAndProject,
    custkey tiebreak for determinism), Q8 market share (conditional
    ratio per order-year; the part filter, supplier nation, and
    region-restricted customer set join around the single
    lineitem⋈orders shuffle — auto-broadcast while they fit), Q9 product profit by supplier nation and
    order year (retail cost stands in for the reference schema's missing
    supplycost; the 0.5 cost factor is binary-exact so the double
    arithmetic is engine-identical before the decimal fold). Each branch
    keeps its own plan; the union never mixes their shuffles."""

    u = TaggedUnion("q", key="string", value="double", n_rows="long")
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    p = load_table(spark, sf_dir, "part")
    r = load_table(spark, sf_dir, "region")

    ns = n.select(F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("s_nat"))
    nc = n.select(F.col("n_nationkey").alias("c_nkey"), F.col("n_name").alias("c_nat"))
    pair = (
        ((F.col("s_nat") == "NATION_1") & (F.col("c_nat") == "NATION_2"))
        | ((F.col("s_nat") == "NATION_2") & (F.col("c_nat") == "NATION_1"))
    )
    q7 = u.branch(
        li.join(s, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(ns), F.col("s_nkey") == F.col("s_nationkey"))
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(nc), F.col("c_nkey") == F.col("c_nationkey"))
        .where(pair)
        .groupBy("s_nat", "c_nat", F.year("l_shipdate").cast("long").alias("yr"))
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 6, alias="value"),
            F.count(F.lit(1)).alias("n_rows"),
        ),
        "q7", "value", "n_rows",
        key=F.concat_ws("|", "s_nat", "c_nat", F.col("yr").cast("string")),
    )

    q10 = u.branch(
        c.join(o, F.col("o_custkey") == F.col("c_custkey"))
        .join(li.where(F.col("l_returnflag") == "R"), F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("c_custkey")
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 6, alias="value"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .orderBy(F.col("value").desc(), F.col("c_custkey").asc())
        .limit(20),
        "q10", "value", "n_rows", key="c_custkey",
    )

    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    asia_nations = n.join(
        F.broadcast(r.where(F.col("r_name") == "ASIA")),
        F.col("n_regionkey") == F.col("r_regionkey"),
    ).select("n_nationkey")
    asia_cust = c.join(
        F.broadcast(asia_nations), F.col("c_nationkey") == F.col("n_nationkey")
    ).select("c_custkey")
    supp_nat = s.join(
        F.broadcast(
            n.select(F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation"))
        ),
        F.col("s_nationkey") == F.col("sn_key"),
    ).select("s_suppkey", "supp_nation")
    std_parts = p.where(F.col("p_type") == "STANDARD").select("p_partkey")
    q8 = u.branch(
        li.join(std_parts, F.col("l_partkey") == F.col("p_partkey"))
        .join(supp_nat, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(
            o.where(
                (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
                & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
            ),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .join(asia_cust, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy(F.year("o_orderdate").cast("long").alias("yr"))
        .agg(
            (
                dsum(F.when(F.col("supp_nation") == "NATION_1", rev).otherwise(F.lit(0.0)), 6)
                / dsum(rev, 6)
            ).alias("value"),
            F.count(F.lit(1)).alias("n_rows"),
        ),
        "q8", "value", "n_rows", key="yr",
    )

    widget_parts = p.where(F.col("p_name").contains("widget")).select(
        "p_partkey", "p_retailprice"
    )
    amount = rev - F.col("p_retailprice") * F.col("l_quantity") * F.lit(0.5)
    q9 = u.branch(
        li.join(widget_parts, F.col("l_partkey") == F.col("p_partkey"))
        .join(supp_nat, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("supp_nation", F.year("o_orderdate").cast("long").alias("yr"))
        .agg(dsum(amount, 6, alias="value"), F.count(F.lit(1)).alias("n_rows")),
        "q9", "value", "n_rows",
        key=F.concat_ws("|", "supp_nation", F.col("yr").cast("string")),
    )

    return u.union(
        u.branch(rel_q6_forecast_revenue(spark, sf_dir), "q6", "n_rows", value="revenue"),
        u.branch(rel_q14_promo_ratio(spark, sf_dir), "q14", value="promo_revenue_pct"),
        u.branch(rel_q19_or_predicates(spark, sf_dir), "q19", value="revenue"),
        q7, q10, q8, q9,
    )


@query(
    "rel_subquery_deep_suite",
    oracle=f"""
    SELECT 'q4' AS q, o_orderpriority AS key, count(*) AS n, CAST(NULL AS DOUBLE) AS v
    FROM orders o
    WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1997-07-01'
      AND EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey
          AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
      )
    GROUP BY o_orderpriority
  UNION ALL
    SELECT 'q13', CAST(c_count AS VARCHAR), count(*), CAST(NULL AS DOUBLE)
    FROM (
        SELECT c.c_custkey, count(o.o_orderkey) AS c_count
        FROM customer c
        LEFT JOIN (SELECT * FROM orders WHERE o_orderpriority <> '1-URGENT') o
          ON c.c_custkey = o.o_custkey
        GROUP BY c.c_custkey
    )
    GROUP BY c_count
  UNION ALL
    SELECT 'q17', CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT),
           {dsum_expr('l.l_extendedprice', 6)} / CAST(7.0 AS DOUBLE)
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN (
        SELECT l_partkey, CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
               count(*) AS n_li
        FROM lineitem JOIN part ON p_partkey = l_partkey
        WHERE p_brand = 'Brand#1'
        GROUP BY l_partkey
    ) s ON s.l_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#1'
      AND 5 * CAST(l.l_quantity AS BIGINT) * s.n_li < s.sum_qty
  UNION ALL
    SELECT 'q2', CAST(v.l_partkey AS VARCHAR) || '|' || CAST(v.l_suppkey AS VARCHAR),
           v.cost, CAST(NULL AS DOUBLE)
    FROM (
        SELECT l_partkey, l_suppkey, CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS cost
        FROM lineitem JOIN part ON p_partkey = l_partkey
        WHERE p_size < 10
        GROUP BY l_partkey, l_suppkey
    ) v
    WHERE v.cost = (
        SELECT min(v2.cost) FROM (
            SELECT l_partkey, l_suppkey, CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS cost
            FROM lineitem JOIN part ON p_partkey = l_partkey
            WHERE p_size < 10
            GROUP BY l_partkey, l_suppkey
        ) v2 WHERE v2.l_partkey = v.l_partkey
    )
  UNION ALL
    SELECT 'q15', CAST(r.l_suppkey AS VARCHAR), CAST(NULL AS BIGINT), r.total_rev
    FROM (
        SELECT l_suppkey, {dsum_expr('l_extendedprice * (1 - l_discount)', 6)} AS total_rev
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1997-04-01'
        GROUP BY l_suppkey
    ) r
    WHERE r.total_rev = (
        SELECT max(total_rev) FROM (
            SELECT l_suppkey, {dsum_expr('l_extendedprice * (1 - l_discount)', 6)} AS total_rev
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1997-04-01'
            GROUP BY l_suppkey
        )
    )
  UNION ALL
    SELECT 'q21', CAST(l_suppkey AS VARCHAR), count(*), CAST(NULL AS DOUBLE)
    FROM (
        SELECT *, SUM(CASE WHEN smax = omax THEN 1 ELSE 0 END)
                    OVER (PARTITION BY l_orderkey) AS n_at_max
        FROM (
            SELECT *, max(smax) OVER (PARTITION BY l_orderkey) AS omax,
                   count(*) OVER (PARTITION BY l_orderkey) AS n_supp
            FROM (
                SELECT l_orderkey, l_suppkey, max(l_shipdate) AS smax
                FROM lineitem GROUP BY l_orderkey, l_suppkey
            )
        )
    )
    WHERE n_supp > 1 AND smax = omax AND n_at_max = 1
    GROUP BY l_suppkey
  UNION ALL
    SELECT 'q22', CAST(c_nationkey % 5 AS VARCHAR), count(*),
           {dsum_expr('c_acctbal')}
    FROM customer c
    WHERE c_acctbal > (
        SELECT {dsum_expr('c_acctbal')} / count(*) FROM customer WHERE c_acctbal > 0
    )
      AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    GROUP BY c_nationkey % 5
  UNION ALL
    SELECT 'q11', CAST(l_partkey AS VARCHAR), CAST(NULL AS BIGINT), val FROM (
        SELECT l_partkey, {dsum_expr('l_extendedprice')} AS val
        FROM lineitem
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN nation ON n_nationkey = s_nationkey
        JOIN region ON r_regionkey = n_regionkey AND r_name = 'AFRICA'
        GROUP BY l_partkey
    )
    WHERE val > (
        SELECT {dsum_expr('l_extendedprice')}
        FROM lineitem
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN nation ON n_nationkey = s_nationkey
        JOIN region ON r_regionkey = n_regionkey AND r_name = 'AFRICA'
    ) * 0.001
  UNION ALL
    SELECT 'q16', p_brand || '|' || p_type || '|' || CAST(p_size AS VARCHAR),
           count(DISTINCT l_suppkey), CAST(NULL AS DOUBLE)
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#1' AND p_type NOT LIKE 'PROMO%'
      AND p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 2000)
    GROUP BY p_brand, p_type, p_size
  UNION ALL
    SELECT 'q20', CAST(l_suppkey AS VARCHAR), count(*), CAST(NULL AS DOUBLE) FROM (
        SELECT ps.l_suppkey, ps.l_partkey
        FROM (
            SELECT l_partkey, l_suppkey, CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sqty
            FROM lineitem JOIN part ON p_partkey = l_partkey AND p_type = 'SMALL'
            WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
            GROUP BY l_partkey, l_suppkey
        ) ps
        JOIN (
            SELECT l_partkey, CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS tqty
            FROM lineitem JOIN part ON p_partkey = l_partkey AND p_type = 'SMALL'
            WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
            GROUP BY l_partkey
        ) pt ON pt.l_partkey = ps.l_partkey
        WHERE 2 * ps.sqty > pt.tqty
          AND ps.l_suppkey IN (
            SELECT s_suppkey FROM supplier
            JOIN nation ON n_nationkey = s_nationkey
            JOIN region ON r_regionkey = n_regionkey AND r_name = 'EUROPE'
          )
    )
    GROUP BY l_suppkey
    """,
)
def rel_subquery_deep_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deep subquery shapes the flat suites don't cover, one tagged union:

    - q4 (TPC-H Q4 shape): correlated EXISTS with a cross-table predicate
      (lineitem shipped >60 days after its order's date) → Spark plans
      the compound-condition left-semi join; counts per priority.
    - q13 (TPC-H Q13 shape): left outer join + count of non-NULL keys per
      customer, then the distribution of those counts (group on an
      aggregate) — zero-order customers must survive as c_count = 0.
    - q17 (TPC-H Q17 shape): correlated scalar aggregate (per-part
      average quantity) feeding a strict inequality. Rewritten to the
      decorrelated join-aggregate; the threshold compare is pure integer
      arithmetic (5·qty·n < Σqty ⟺ qty < 0.2·avg) so both engines agree
      bit-for-bit, and the revenue sum is the exact decimal fold.
    - q2 (TPC-H Q2 shape): correlated MIN subquery (cheapest supplier per
      small part, volume standing in for the missing partsupp cost) →
      decorrelated per-part min-aggregate joined back on (part, min);
      min ties survive on both engines.
    - q15 (TPC-H Q15 shape): scalar MAX subquery over an aggregated
      derived table (top revenue supplier for a quarter) → broadcast
      1-row max joined on equality of the exact decimal revenue fold.
    - q21 (TPC-H Q21 shape): the EXISTS(another supplier) AND NOT
      EXISTS(another supplier shipped later) pair, decorrelated into
      per-order window aggregates over per-(order, supplier) max ship
      dates; counts orders per supplier where it was the UNIQUE latest
      shipper in a multi-supplier order.
    - q22 (TPC-H Q22 shape): uncorrelated scalar AVG threshold
      (exact-decimal avg of positive balances) + NOT EXISTS anti join
      against orders, grouped by country code (nationkey mod 5).
    - q11 (TPC-H Q11 shape): per-part value for one region's suppliers,
      kept only where it exceeds a global-fraction threshold — the
      uncorrelated scalar subquery becomes a broadcast 1-row join; both
      sides of the compare are the same exact decimal fold so the
      double inequality is engine-identical.
    - q16 (TPC-H Q16 shape): distinct supplier count per (brand, type,
      size) with a NOT IN exclusion subquery → broadcast anti join
      before the count-distinct aggregation.
    - q20 (TPC-H Q20 shape): nested IN + correlated scalar aggregate
      (suppliers shipping >50% of a small part's 1997 volume) →
      per-(part, supplier) integer sums, per-part totals re-aggregated
      from them, a join on the threshold predicate, and a broadcast
      semi join restricting to one region's suppliers.
    """
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    c = load_table(spark, sf_dir, "customer")
    p = load_table(spark, sf_dir, "part")
    u = TaggedUnion("q", key="string", n="long", v="double")

    q4 = u.branch(
        o.where(
            (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1997-07-01").cast("timestamp"))
        )
        .join(
            li,
            (F.col("l_orderkey") == F.col("o_orderkey"))
            & (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n")),
        "q4", "n", key="o_orderpriority",
    )

    per_cust = (
        c.join(
            o.where(F.col("o_orderpriority") != "1-URGENT"),
            F.col("c_custkey") == F.col("o_custkey"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    q13 = u.branch(per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("n")), "q13", "n", key="c_count")

    brand_parts = p.where(F.col("p_brand") == "Brand#1").select("p_partkey")
    li_brand = li.join(brand_parts, F.col("l_partkey") == F.col("p_partkey")).drop(
        "p_partkey"
    )
    stats = li_brand.groupBy("l_partkey").agg(
        F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
        F.count(F.lit(1)).alias("n_li"),
    )
    q17 = u.branch(
        li_brand.join(stats.withColumnRenamed("l_partkey", "s_partkey"),
                      F.col("l_partkey") == F.col("s_partkey"))
        .where(5 * F.col("l_quantity").cast("long") * F.col("n_li") < F.col("sum_qty"))
        .agg((dsum("l_extendedprice", 6) / F.lit(7.0)).alias("v")),
        "q17", "v",
    )

    small = p.where(F.col("p_size") < 10).select("p_partkey")
    vol = (
        li.join(small, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum(F.col("l_quantity").cast("long")).alias("cost"))
    )
    part_min = vol.groupBy(F.col("l_partkey").alias("m_partkey")).agg(F.min("cost").alias("min_cost"))
    q2 = u.branch(
        vol.join(
            part_min,
            (F.col("l_partkey") == F.col("m_partkey")) & (F.col("cost") == F.col("min_cost")),
        ),
        "q2",
        key=F.concat_ws("|", F.col("l_partkey").cast("string"), F.col("l_suppkey").cast("string")),
        n="cost",
    )

    rev = (
        li.where(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
        )
        .groupBy("l_suppkey")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 6, alias="total_rev"))
    )
    max_rev = rev.agg(F.max("total_rev").alias("mx"))
    q15 = u.branch(
        rev.join(F.broadcast(max_rev), F.col("total_rev") == F.col("mx")), "q15", key="l_suppkey", v="total_rev"
    )

    from pyspark.sql import Window

    w_ord = Window.partitionBy("l_orderkey")
    sm = li.groupBy("l_orderkey", "l_suppkey").agg(F.max("l_shipdate").alias("smax"))
    ann = sm.select(
        "*",
        F.max("smax").over(w_ord).alias("omax"),
        F.count(F.lit(1)).over(w_ord).alias("n_supp"),
    )
    ann = ann.withColumn(
        "n_at_max",
        F.sum(F.when(F.col("smax") == F.col("omax"), 1).otherwise(0)).over(w_ord),
    )
    q21 = u.branch(
        ann.where((F.col("n_supp") > 1) & (F.col("smax") == F.col("omax")) & (F.col("n_at_max") == 1))
        .groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("numwait")),
        "q21", key="l_suppkey", n="numwait",
    )

    thr = c.where(F.col("c_acctbal") > 0).agg(
        (dsum("c_acctbal") / F.count(F.col("c_acctbal"))).alias("thr")
    )
    q22 = u.branch(
        c.join(F.broadcast(thr))
        .where(F.col("c_acctbal") > F.col("thr"))
        .join(o, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy((F.col("c_nationkey") % 5).cast("string").alias("key"))
        .agg(F.count(F.lit(1)).alias("n"), dsum("c_acctbal", alias="v")),
        "q22", *u.columns,
    )

    n = load_table(spark, sf_dir, "nation")
    s = load_table(spark, sf_dir, "supplier")
    r = load_table(spark, sf_dir, "region")

    def region_suppliers(r_name: str) -> DataFrame:
        keys = n.join(
            F.broadcast(r.where(F.col("r_name") == r_name)),
            F.col("n_regionkey") == F.col("r_regionkey"),
        ).select("n_nationkey")
        return s.join(
            F.broadcast(keys), F.col("s_nationkey") == F.col("n_nationkey")
        ).select("s_suppkey")

    li_af = li.join(
        region_suppliers("AFRICA"), F.col("l_suppkey") == F.col("s_suppkey")
    )
    part_val = li_af.groupBy("l_partkey").agg(dsum("l_extendedprice", alias="val"))
    total_val = li_af.agg(dsum("l_extendedprice", alias="tot"))
    q11 = u.branch(
        part_val.join(F.broadcast(total_val)).where(F.col("val") > F.col("tot") * 0.001),
        "q11", key="l_partkey", v="val",
    )

    parts16 = p.where(
        (F.col("p_brand") != "Brand#1")
        & ~F.col("p_type").startswith("PROMO")
        & F.col("p_size").isin(1, 4, 9, 14, 19, 23, 36, 45)
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    excl16 = s.where(F.col("s_acctbal") < 2000).select("s_suppkey")
    q16 = u.branch(
        li.join(parts16, F.col("l_partkey") == F.col("p_partkey"))
        .join(excl16, F.col("l_suppkey") == F.col("s_suppkey"), "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("n")),
        "q16", "n",
        key=F.concat_ws("|", "p_brand", "p_type", F.col("p_size").cast("string")),
    )

    small_parts = p.where(F.col("p_type") == "SMALL").select("p_partkey")
    li97_small = li.where(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    ).join(small_parts, F.col("l_partkey") == F.col("p_partkey"))
    per_ps = li97_small.groupBy("l_partkey", "l_suppkey").agg(
        F.sum(F.col("l_quantity").cast("long")).alias("sqty")
    )
    per_part = per_ps.groupBy(F.col("l_partkey").alias("t_partkey")).agg(
        F.sum("sqty").alias("tqty")
    )
    q20 = u.branch(
        per_ps.join(per_part, F.col("l_partkey") == F.col("t_partkey"))
        .where(2 * F.col("sqty") > F.col("tqty"))
        .join(
            region_suppliers("EUROPE"),
            F.col("l_suppkey") == F.col("s_suppkey"),
            "left_semi",
        )
        .groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("n")),
        "q20", "n", key="l_suppkey",
    )

    return u.union(q4, q13, q17, q2, q15, q21, q22, q11, q16, q20)


@query(
    "rel_pivot_event_types",
    oracle="""
    SELECT user_id % 10 AS user_bucket,
           count(*) FILTER (event_type = 'click') AS click,
           count(*) FILTER (event_type = 'view') AS view,
           count(*) FILTER (event_type = 'purchase') AS purchase,
           count(*) FILTER (event_type = 'signup') AS signup,
           count(*) FILTER (event_type = 'error') AS error
    FROM events
    GROUP BY 1
    """,
)
def rel_pivot_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (long→wide): explicit value list so the plan is a single
    aggregation — no distinct-values pre-pass, which is the scalable form."""
    e = load_table(spark, sf_dir, "events")
    types = ["click", "view", "purchase", "signup", "error"]
    return (
        e.withColumn("user_bucket", F.col("user_id") % 10)
        .groupBy("user_bucket")
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
        .na.fill(0, types)
    )


_FRONTEND_SQL = """
    SELECT n_name, count(*) AS n_customers,
           CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(27,4))) AS VARCHAR(64)) AS DOUBLE) AS total_balance,
           (SELECT max(c_acctbal) FROM customer) AS best_balance
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name
"""


@query("rel_sql_frontend", oracle=_FRONTEND_SQL)
def rel_sql_frontend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL front end itself (ABSENT in the reference, §2.3): the
    IDENTICAL ANSI text runs on spark.sql over registered views and on
    the DuckDB oracle — including an uncorrelated scalar subquery
    (planned by Spark as a 1-row broadcast)."""
    for name in ("customer", "nation"):
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
    return spark.sql(_FRONTEND_SQL)


@query(
    "rel_asof_last_click",
    oracle="""
    SELECT e.event_id, e.user_id, e.ts, c.event_id AS asof_event_id
    FROM (SELECT * FROM events WHERE event_type = 'error') e
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON e.user_id = c.user_id AND e.ts >= c.ts
    """,
)
def rel_asof_last_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: for every error event, the most recent click by the
    same user at or before it. Spark side is the union+window form
    (operators/relational.py::as_of_join — one shuffle, one sort); the
    oracle is DuckDB's native ASOF JOIN, an independently-derived
    implementation of the same semantics.

    Precondition for exact parity: (user_id, ts) unique on the right
    side — among equal-ts clicks BOTH engines pick an arbitrary winner
    (DuckDB ASOF gives no tie order either), so ties make the query
    underdetermined rather than either engine wrong. The fixtures
    guarantee uniqueness (make_scale jitters replica ts by +i µs)."""
    from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.operators.relational import as_of_join

    e = load_table(spark, sf_dir, "events")
    errors = e.where(F.col("event_type") == "error").select("event_id", "user_id", "ts")
    clicks = e.where(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    return as_of_join(errors, clicks).select(
        "event_id", "user_id", "ts", "asof_event_id"
    )


@query(
    "rel_interval_join_bursts",
    oracle="""
    WITH e AS (
        SELECT event_id, ts, epoch_us(ts) AS us, epoch_us(ts) // 60000000 AS bk
        FROM events WHERE event_type = 'error'
    ),
    probe AS (SELECT event_id, ts, us, unnest([bk - 1, bk, bk + 1]) AS bk2 FROM e)
    SELECT a.event_id AS id_a, p.event_id AS id_b, a.ts AS ts_a, p.ts AS ts_b
    FROM e a JOIN probe p ON a.bk = p.bk2
    WHERE a.event_id < p.event_id AND abs(a.us - p.us) <= 60 * 1000000
    """,
)
def rel_interval_join_bursts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval self-join: pairs of error events within 60 s of each
    other (burst detection). Spark side uses time-bucket candidate
    generation (never a cross join). The oracle originally brute-forced
    the range predicate, which is quadratic and blew the sf1 oracle
    budget (>180 s for 198k errors); it now states the same bucketed
    hash-join form (2.4 s at sf1) — exhaustiveness is structural, not
    shared code: any pair with |gap| <= 60 s has bucket ids differing by
    at most 1, so the 3-bucket probe covers every qualifying pair, and
    each pair matches exactly once because the probe's three bucket
    values are distinct."""
    from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.operators.relational import interval_self_join

    e = load_table(spark, sf_dir, "events").where(F.col("event_type") == "error")
    return interval_self_join(e)
