"""Relational coverage queries: projections, filters, joins (all types),
aggregation suite, TPC-H-flavored analytics over the star schema.

Every double aggregate uses the decimal-sum pattern from
``functions.exact`` so Spark and the DuckDB oracle agree bit-for-bit
regardless of aggregation order (see that module's docstring).

Registry note (round 2): the driver verifies at most ~50 registry
entries, so single-operator queries are consolidated into labeled
union *suites* — each sub-operator still executes as its own Catalyst
plan fragment and contributes its full row set (schema-aligned, tagged
with an ``op`` column), so value-level verification is unchanged; only
the registry slot count shrinks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.functions.exact import (
    charge_col,
    charge_sql,
    davg,
    dsum,
    dsum_expr,
    rev_col,
    rev_sql,
)
from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.queries import TaggedUnion, query
from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.sources import load_table


def _t(spark: SparkSession, sf_dir: str, *names: str) -> list[DataFrame]:
    return [load_table(spark, sf_dir, n) for n in names]


# --------------------------------------------------------------------------
# TPC-H-flavored analytics (joins + aggregates together, the bench headliners)
# --------------------------------------------------------------------------


@query(
    "rel_q1_pricing_summary",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {dsum_expr('l_quantity')} AS sum_qty,
           {dsum_expr('l_extendedprice')} AS sum_base_price,
           {dsum_expr(rev_sql(), 6)} AS sum_disc_price,
           {dsum_expr(charge_sql(), 6)} AS sum_charge,
           {dsum_expr('l_quantity')} / count(l_quantity) AS avg_qty,
           {dsum_expr('l_extendedprice')} / count(l_extendedprice) AS avg_price,
           {dsum_expr('l_discount')} / count(l_discount) AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2001-09-01'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def rel_q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan-heavy grouped aggregate — the canonical
    partial/final hash-agg plan; the filter pushes to the parquet scan
    (through the conditional spread — verified in plans/r13).

    spread() (round 13): Q1's cost center is the PARTIAL aggregate —
    nine decimal sums per row — which runs at the scan's split
    parallelism because nothing before it re-partitions (SCALE.md
    lesson 7 applied to decimal aggregation, not just token explodes).
    The bench fixture's one ~11 MB file yields ~3 splits, serializing
    the decimal work on 3 of 32 cores; measured A/B at sf0.1
    (tools/r13_q1_simhash_ab.py at e49ef4e, 5 interleaved reps): 1.661 s
    as-is vs 1.127 s spread = 0.68x. Round-robin (no key: the grouping key has
    ~6 distinct values — hashing on it would collapse parallelism), and
    conditional: at production split counts spread() is a no-op and the
    plan is unchanged."""
    from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.plans.parallelism import spread

    (li,) = _t(spark, sf_dir, "lineitem")
    disc_price = rev_col()  # exact decimal product (see functions/exact.py)
    return (
        spread(li).where(F.col("l_shipdate") <= F.lit("2001-09-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity", alias="sum_qty"),
            dsum("l_extendedprice", alias="sum_base_price"),
            dsum(disc_price, 6, alias="sum_disc_price"),
            dsum(charge_col(), 6, alias="sum_charge"),
            davg("l_quantity", alias="avg_qty"),
            davg("l_extendedprice", alias="avg_price"),
            davg("l_discount", alias="avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@query(
    "rel_q3_shipping_priority",
    oracle=f"""
    SELECT l.l_orderkey,
           {dsum_expr(rev_sql('l.l_extendedprice', 'l.l_discount'), 6)} AS revenue,
           o.o_orderdate
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-01-01'
      AND l.l_shipdate > TIMESTAMP '1998-01-01'
    GROUP BY l.l_orderkey, o.o_orderdate
    ORDER BY revenue DESC, l_orderkey ASC
    LIMIT 10
    """,
)
def rel_q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective dim filter joined into the fact chain →
    grouped revenue → top-10. No forced broadcast hint on customer: it
    scales WITH the fact tables (≈2% of a 100 TB deployment — far past
    any driver), so the size-based planner + AQE pick broadcast while it
    fits (it does at every test SF — plan-pinned) and fall back to a
    shuffle join when it doesn't. The orders↔lineitem join shuffles on
    orderkey (co-partitioned keys)."""
    li, o, c = _t(spark, sf_dir, "lineitem", "orders", "customer")
    building = c.where(F.col("c_mktsegment") == "BUILDING")
    joined = (
        o.where(F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
        .join(building, o.o_custkey == building.c_custkey)
        .join(
            li.where(F.col("l_shipdate") > F.lit("1998-01-01").cast("timestamp")),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
    )
    revenue = rev_col()  # exact decimal product
    return (
        joined.groupBy("l_orderkey", "o_orderdate")
        .agg(dsum(revenue, 6, alias="revenue"))
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
        .select("l_orderkey", "revenue", "o_orderdate")
    )


@query(
    "rel_q5_region_revenue",
    oracle=f"""
    SELECT n.n_name,
           {dsum_expr(rev_sql('l.l_extendedprice', 'l.l_discount'), 6)} AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA' AND o.o_orderdate >= TIMESTAMP '1996-01-01'
    GROUP BY n.n_name
    """,
)
def rel_q5_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: five-way star join, one fact-fact shuffle join
    (orders↔lineitem). nation⋈region is hint-broadcast (provably tiny at
    any scale); customer/supplier carry no hint — they broadcast via the
    size-based planner at test SFs (plan-pinned) and degrade to shuffle
    joins at deployments where they outgrow the threshold."""
    li, o, c, s, n, r = _t(spark, sf_dir, "lineitem", "orders", "customer", "supplier", "nation", "region")
    asia_nations = (
        n.join(F.broadcast(r.where(F.col("r_name") == "ASIA")), n.n_regionkey == r.r_regionkey)
        .select("n_nationkey", "n_name")
    )
    joined = (
        o.where(F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        .join(c, o.o_custkey == c.c_custkey)
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(asia_nations), F.col("s_nationkey") == F.col("n_nationkey"))
    )
    revenue = rev_col()  # exact decimal product
    return joined.groupBy("n_name").agg(dsum(revenue, 6, alias="revenue"))


# --------------------------------------------------------------------------
# Join-type suite: every join type as one schema-aligned labeled union.
# Columns: op | i1, i2 (BIGINT) | s1 (STRING) | d1 (DOUBLE) — full row sets,
# so value-level verification is identical to the former per-type queries.
# --------------------------------------------------------------------------

_JOIN_SUITE_ORACLE = f"""
    SELECT 'inner' AS op, o.o_orderkey AS i1, CAST(NULL AS BIGINT) AS i2,
           concat(c.c_name, '|', c.c_mktsegment) AS s1, o.o_totalprice AS d1
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE o.o_orderstatus = 'F'
  UNION ALL
    SELECT 'left_outer', c.c_custkey, count(o.o_orderkey), NULL,
           {dsum_expr('COALESCE(o.o_totalprice, 0)')}
    FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
    GROUP BY c.c_custkey
  UNION ALL
    SELECT 'right_outer', o.o_orderkey, NULL, c.c_name, NULL
    FROM customer c RIGHT JOIN orders o ON o.o_custkey = c.c_custkey
    WHERE o.o_orderkey % 100 = 0
  UNION ALL
    SELECT 'full_outer', a.cnt, b.cnt,
           concat(COALESCE(a.event_type, '~'), '|', COALESCE(b.event_type, '~')), NULL
    FROM (SELECT event_type, count(*) AS cnt FROM events WHERE value < 100 GROUP BY event_type) a
    FULL JOIN (SELECT event_type, count(*) AS cnt FROM events WHERE value >= 400 GROUP BY event_type) b
      ON a.event_type = b.event_type
  UNION ALL
    SELECT 'semi', c_custkey, NULL, c_name, NULL FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
  UNION ALL
    SELECT 'anti', c_custkey, NULL, c_name, NULL FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
  UNION ALL
    SELECT 'cross', NULL, NULL, concat(r.r_name, '|', n.n_name), NULL
    FROM region r CROSS JOIN nation n
  UNION ALL
    SELECT 'theta', CAST(a.n_nationkey AS BIGINT), CAST(b.n_nationkey AS BIGINT), NULL, NULL
    FROM nation a JOIN nation b
      ON a.n_regionkey = b.n_regionkey AND a.n_nationkey < b.n_nationkey
  UNION ALL
    SELECT 'null_handling', c.c_custkey, NULL,
           concat(CASE WHEN o.o_orderkey IS NULL THEN 'no_order' ELSE 'has_order' END,
                  '|', COALESCE(nullif(c.c_mktsegment, 'BUILDING'), '~')),
           coalesce(o.o_totalprice, 0.0)
    FROM customer c LEFT JOIN (SELECT * FROM orders WHERE o_orderkey % 97 = 0) o
      ON o.o_custkey = c.c_custkey
"""


@query("rel_join_suite", oracle=_JOIN_SUITE_ORACLE)
def rel_join_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every join type, one plan each, unioned with an ``op`` tag:
    inner (broadcast dim), left/right/full outer, left-semi, left-anti,
    cross (tiny broadcast relations only), theta (inequality conjunct
    self-join), and NULL-surface handling through an outer join
    (coalesce / IS NULL / nullif)."""
    o, c, e, n, r = _t(spark, sf_dir, "orders", "customer", "events", "nation", "region")
    u = TaggedUnion("op", i1="long", i2="long", s1="string", d1="double")
    lo = e.where(F.col("value") < 100).groupBy("event_type").agg(F.count(F.lit(1)).alias("cnt")).alias("a")
    hi = e.where(F.col("value") >= 400).groupBy("event_type").agg(F.count(F.lit(1)).alias("cnt")).alias("b")
    big = o.where(F.col("o_totalprice") > 400000)
    na, nb = n.alias("na"), n.alias("nb")
    sparse = o.where(F.col("o_orderkey") % 97 == 0)
    return u.union(
        u.branch(
            o.where(F.col("o_orderstatus") == "F").join(c, o.o_custkey == c.c_custkey), "inner",
            i1="o_orderkey", s1=F.concat(F.col("c_name"), F.lit("|"), F.col("c_mktsegment")), d1="o_totalprice",
        ),
        u.branch(
            c.join(o, o.o_custkey == c.c_custkey, "left")
            .groupBy("c_custkey")
            .agg(
                F.count("o_orderkey").alias("n_orders"),
                dsum(F.coalesce(F.col("o_totalprice"), F.lit(0.0)), alias="total_spent"),
            ),
            "left_outer", i1="c_custkey", i2="n_orders", d1="total_spent",
        ),
        u.branch(
            c.join(o, o.o_custkey == c.c_custkey, "right").where(F.col("o_orderkey") % 100 == 0),
            "right_outer", i1="o_orderkey", s1="c_name",
        ),
        u.branch(
            lo.join(hi, F.col("a.event_type") == F.col("b.event_type"), "full"), "full_outer",
            i1="a.cnt", i2="b.cnt",
            s1=F.concat(
                F.coalesce(F.col("a.event_type"), F.lit("~")),
                F.lit("|"),
                F.coalesce(F.col("b.event_type"), F.lit("~")),
            ),
        ),
        u.branch(c.join(big, big.o_custkey == c.c_custkey, "left_semi"), "semi", i1="c_custkey", s1="c_name"),
        u.branch(c.join(big, big.o_custkey == c.c_custkey, "left_anti"), "anti", i1="c_custkey", s1="c_name"),
        u.branch(r.crossJoin(F.broadcast(n)), "cross", s1=F.concat(F.col("r_name"), F.lit("|"), F.col("n_name"))),
        u.branch(
            na.join(
                nb,
                (F.col("na.n_regionkey") == F.col("nb.n_regionkey"))
                & (F.col("na.n_nationkey") < F.col("nb.n_nationkey")),
            ),
            "theta", i1="na.n_nationkey", i2="nb.n_nationkey",
        ),
        u.branch(
            c.join(sparse, sparse.o_custkey == c.c_custkey, "left"), "null_handling",
            i1="c_custkey",
            s1=F.concat(
                F.when(F.col("o_orderkey").isNull(), "no_order").otherwise("has_order"),
                F.lit("|"),
                F.coalesce(F.nullif(F.col("c_mktsegment"), F.lit("BUILDING")), F.lit("~")),
            ),
            d1=F.coalesce(F.col("o_totalprice"), F.lit(0.0)),
        ),
    )


# --------------------------------------------------------------------------
# Aggregation suite
# --------------------------------------------------------------------------


@query(
    "rel_agg_suite",
    oracle=f"""
    SELECT l_returnflag,
           count(*) AS n_rows,
           count(DISTINCT l_partkey) AS n_parts,
           {dsum_expr('l_quantity')} AS sum_qty,
           min(l_quantity) AS min_qty,
           max(l_quantity) AS max_qty,
           {dsum_expr('l_extendedprice')} / count(l_extendedprice) AS avg_price,
           min(l_shipdate) AS first_ship,
           max(l_shipdate) AS last_ship
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def rel_agg_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    (li,) = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("l_partkey").alias("n_parts"),
        dsum("l_quantity", alias="sum_qty"),
        F.min("l_quantity").alias("min_qty"),
        F.max("l_quantity").alias("max_qty"),
        davg("l_extendedprice", alias="avg_price"),
        F.min("l_shipdate").alias("first_ship"),
        F.max("l_shipdate").alias("last_ship"),
    )


_GROUPING_SUITE_ORACLE = f"""
    SELECT 'rollup' AS mode, l_returnflag AS k1, l_linestatus AS k2,
           count(*) AS cnt, {dsum_expr('l_quantity')} AS val
    FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
  UNION ALL
    SELECT 'cube', o_orderstatus, o_orderpriority,
           count(*), {dsum_expr('o_totalprice')}
    FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
  UNION ALL
    SELECT 'gsets', l_returnflag, l_linestatus,
           count(*), {dsum_expr('l_extendedprice')}
    FROM lineitem GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
  UNION ALL
    SELECT 'trollup',
           CASE WHEN grouping(h) = 0 THEN 'hour'
                WHEN grouping(d) = 0 THEN 'day'
                ELSE 'month' END,
           CAST(COALESCE(h, d, m) AS VARCHAR),
           count(*), {dsum_expr('value')}
    FROM (
        SELECT date_trunc('hour', ts) AS h, date_trunc('day', ts) AS d,
               date_trunc('month', ts) AS m, value
        FROM events
    )
    GROUP BY GROUPING SETS ((h), (d), (m))
"""


@query("rel_grouping_suite", oracle=_GROUPING_SUITE_ORACLE)
def rel_grouping_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-dimensional aggregation: ROLLUP (hierarchical subtotals),
    CUBE (all combinations), GROUPING SETS (explicit list), and a
    hypertable-style continuous aggregate (``trollup``: hour/day/month
    time buckets of the events stream materialized in ONE pass via
    grouping sets over three date_truncs — the batch form of a rollup
    a time-series store keeps incrementally) — one plan each, unioned
    with a ``mode`` tag. Catalyst plans each as a single Expand + hash
    aggregate (no per-set re-scan)."""
    li, o = _t(spark, sf_dir, "lineitem", "orders")
    e = _t(spark, sf_dir, "events")[0]
    u = TaggedUnion("mode", k1="string", k2="string", cnt="long", val="double")
    buckets = e.select(
        F.date_trunc("hour", "ts").alias("h"),
        F.date_trunc("day", "ts").alias("d"),
        F.date_trunc("month", "ts").alias("m"),
        "value",
    )
    return u.union(
        u.branch(
            li.rollup("l_returnflag", "l_linestatus")
            .agg(F.count(F.lit(1)).alias("cnt"), dsum("l_quantity", alias="val")),
            "rollup", "cnt", "val", k1="l_returnflag", k2="l_linestatus",
        ),
        u.branch(
            o.cube("o_orderstatus", "o_orderpriority")
            .agg(F.count(F.lit(1)).alias("cnt"), dsum("o_totalprice", alias="val")),
            "cube", "cnt", "val", k1="o_orderstatus", k2="o_orderpriority",
        ),
        u.branch(
            li.groupingSets([["l_returnflag"], ["l_linestatus"]], "l_returnflag", "l_linestatus")
            .agg(F.count(F.lit(1)).alias("cnt"), dsum("l_extendedprice", alias="val")),
            "gsets", "cnt", "val", k1="l_returnflag", k2="l_linestatus",
        ),
        u.branch(
            buckets.groupingSets([["h"], ["d"], ["m"]], "h", "d", "m")
            .agg(
                # Label with grouping() (NULL-safe: a NULL ts date_truncs to
                # NULL in all three buckets; isNotNull would then mislabel the
                # (h)/(d) grouping-set rows as 'month' while the oracle's
                # grouping(h)/grouping(d) labels them correctly).
                F.when(F.grouping("h") == 0, "hour")
                .when(F.grouping("d") == 0, "day")
                .otherwise("month")
                .alias("k1"),
                F.count(F.lit(1)).alias("cnt"),
                dsum("value", alias="val"),
            ),
            "trollup", "k1", "cnt", "val", k2=F.coalesce(F.col("h"), F.col("d"), F.col("m")),
        ),
    )


@query(
    "rel_sketch_suite",
    oracle="""
    SELECT 'hll' AS sketch, CAST(count(DISTINCT l_partkey) AS BIGINT) AS n,
           CAST(NULL AS DOUBLE) AS v, true AS ok
    FROM lineitem
  UNION ALL
    SELECT 'cms', max(cnt), CAST(NULL AS DOUBLE), true FROM (
        SELECT count(*) AS cnt
        FROM (SELECT unnest(regexp_split_to_array(text, '[ \n]')) AS word FROM documents)
        WHERE word <> ''
        GROUP BY word
    )
  UNION ALL
    SELECT 'bloom', count(*), CAST(NULL AS DOUBLE), true
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
  UNION ALL
    SELECT 'quantile', CAST(NULL AS BIGINT), quantile_cont(l_quantity, 0.5), true
    FROM lineitem
    """,
)
def rel_sketch_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probabilistic sketches, one tagged union — the 100 TB substitutes
    for exact-but-expensive plans, each verified by a driver-checkable
    invariant row (exact oracle-computable value + provable-or-generous
    bound booleans, the rel/ann recall-invariant pattern):

    - hll: HyperLogLog++ distinct estimate vs exact COUNT(DISTINCT).
      Checked tolerance is 3x the requested rsd (0.02 is only a ~1σ
      bound); the tight 2% accuracy at the test SFs is asserted in
      tests instead.
    - cms: count-min frequency sketch over the documents token stream
      (operators/sketch.py). n = the exact max word frequency; ok =
      (every estimate >= its exact count — provable) AND (max
      overestimate <= ceil(e/width * N), the classic (eps, delta)
      bound with width 2048 >> 31 distinct words, so the margin is
      enormous).
    - bloom: Bloom filter built from orders.o_custkey probed with true
      members (customers holding orders) and a disjoint synthetic
      negative set (custkey + 10^9). n = the exact member count; ok =
      (no false negatives — provable) AND (false positives <= 1% of
      negatives; the filter is sized at ~32 bits/key from the build
      cardinality, keeping the expected rate ~2e-4 — a 50x margin —
      at every scale factor).
    - quantile: approx_percentile (GK sketch) vs the exact interpolated
      median. v = exact percentile(l_quantity, 0.5) (integer-valued
      doubles, so the (a+b)/2 interpolation is engine-exact); ok = the
      returned element's rank interval overlaps [0.5*N +- (N/acc + 1)]
      — the GK guarantee with accuracy 10000, so provable.
    """
    from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.operators import sketch as sk
    from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.operators import wordcount as wc

    li, c, o, docs = _t(spark, sf_dir, "lineitem", "customer", "orders", "documents")

    u = TaggedUnion("sketch", n="long", v="double", ok="boolean")
    hll = u.branch(
        li.agg(
            F.approx_count_distinct("l_partkey", 0.02).alias("approx_parts"),
            F.countDistinct("l_partkey").alias("exact_parts"),
        ),
        "hll",
        n="exact_parts",
        ok=F.abs(F.col("approx_parts") - F.col("exact_parts")) / F.col("exact_parts") <= 0.06,
    )

    words = wc.tokenize(docs)
    exact_counts = words.groupBy("word").agg(F.count(F.lit(1)).alias("exact"))
    depth, width = 4, 2048
    # Round-6 single-pass build (the round-5 VERDICT's rel_sketch_suite
    # bisect): the counter table is built WEIGHTED from exact_counts —
    # bit-identical counters, but the explode runs over |vocab| rows
    # instead of a second full token-stream pass — and the conservation
    # row sums ride the same ROLLUP aggregation instead of a third pass.
    # Token-stream passes in this branch: one (exact_counts; its shuffle
    # subtree is identical under every consumer, so ReusedExchange
    # serves the rest). Measured: suite 3.12 s -> ~2.6 s uncontended.
    table = sk.count_min_counters(exact_counts, depth, width)
    counters = table.where(F.col("slot").isNotNull())
    est = sk.count_min_estimates(counters, exact_counts.select("word"), depth, width)
    # PROVABLE invariants only (round 4): no-underestimate (one-sided
    # error, holds for every input) and per-depth-row counter
    # conservation (each occurrence increments exactly one slot per
    # row, so every row's counters sum to the token total). The classic
    # max-overestimate <= ceil(e/width * N) claim is (eps, delta)-
    # PROBABILISTIC — it held at sf0.1's 31-word vocabulary but
    # legitimately fails once the vocabulary is large enough that some
    # word collides in all `depth` rows (first seen at sf1's 341 words;
    # p ≈ (m/width)^depth per word). The accuracy property stays
    # asserted as a tolerance test at fixture SFs in tests/test_sketch.py.
    cons_stats = table.where(F.col("slot").isNull()).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("cnt").alias("row_lo"),
        F.max("cnt").alias("row_hi"),
    )
    cms = u.branch(
        exact_counts.join(est, "word")
        .agg(
            F.max("exact").alias("n"),
            F.min(F.col("cms_est") - F.col("exact")).alias("min_err"),
            F.sum("exact").alias("total"),
        )
        .join(F.broadcast(cons_stats)),
        "cms",
        "n",
        ok=(
            (F.col("min_err") >= 0)
            & (F.col("n_rows") == depth)
            & (F.col("row_lo") == F.col("total"))
            & (F.col("row_hi") == F.col("total"))
        ),
    )

    # Size the filter to the build cardinality: ~32 bits/key keeps the
    # expected fp rate ~2e-4 at ANY scale factor (a fixed 2^16 would
    # blow the 1% bound already at sf0.1's 15k keys). The count is one
    # tiny distinct-agg job; at production scale you'd size from table
    # stats instead.
    members = o.select(F.col("o_custkey").alias("key")).distinct()
    n_keys = members.count()
    num_bits, num_hashes = max(1 << 16, 1 << (32 * n_keys).bit_length()), 4
    positions = sk.bloom_build(members, num_bits, num_hashes)
    true_members = (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"), "left_semi")
        .select(F.col("c_custkey").alias("key"))
    )
    negatives = c.select((F.col("c_custkey") + F.lit(1_000_000_000)).alias("key"))
    pos_stats = sk.bloom_probe(positions, true_members, num_bits, num_hashes).agg(
        F.count(F.lit(1)).alias("n_members"),
        F.min(F.col("might_contain").cast("int")).alias("all_pass"),
    )
    neg_stats = sk.bloom_probe(positions, negatives, num_bits, num_hashes).agg(
        F.sum(F.col("might_contain").cast("long")).alias("fps"),
        F.count(F.lit(1)).alias("n_neg"),
    )
    bloom = u.branch(
        pos_stats.join(F.broadcast(neg_stats)),
        "bloom",
        n="n_members",
        ok=(F.col("all_pass") == 1) & (F.col("fps") <= F.lit(0.01) * F.col("n_neg")),
    )

    accuracy = 10000
    qstats = li.agg(
        F.expr("percentile(l_quantity, 0.5)").alias("med"),
        F.expr(f"approx_percentile(l_quantity, 0.5, {accuracy})").alias("apx"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    quantile = u.branch(
        li.join(F.broadcast(qstats)).agg(
            F.sum((F.col("l_quantity") < F.col("apx")).cast("long")).alias("rank_lo"),
            F.sum((F.col("l_quantity") <= F.col("apx")).cast("long")).alias("rank_hi"),
            F.first("med").alias("med"),
            F.first("n_rows").alias("n_rows"),
        ),
        "quantile",
        v="med",
        ok=(
            (F.col("rank_lo") <= 0.5 * F.col("n_rows") + F.col("n_rows") / accuracy + 1)
            & (F.col("rank_hi") >= 0.5 * F.col("n_rows") - F.col("n_rows") / accuracy - 1)
        ),
    )

    return u.union(hll, cms, bloom, quantile)


@query(
    "fn_stats_moments",
    oracle="""
    SELECT event_type, n,
           (n * sxx - sx * sx) / (n * (n - 1)) AS var_value,
           sqrt((n * sxx - sx * sx) / (n * (n - 1))) AS stddev_value,
           (n * sxy - sx * sy)
             / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)) AS corr_value_user
    FROM (
        SELECT event_type,
               count(*) AS n,
               CAST(CAST(SUM(CAST(value AS DECIMAL(27,4))) AS VARCHAR) AS DOUBLE) AS sx,
               CAST(CAST(SUM(CAST(value * value AS DECIMAL(27,4))) AS VARCHAR) AS DOUBLE) AS sxx,
               CAST(CAST(SUM(CAST(CAST(user_id % 100 AS DOUBLE) AS DECIMAL(27,4))) AS VARCHAR) AS DOUBLE) AS sy,
               CAST(CAST(SUM(CAST(CAST(user_id % 100 AS DOUBLE) * CAST(user_id % 100 AS DOUBLE) AS DECIMAL(27,4))) AS VARCHAR) AS DOUBLE) AS syy,
               CAST(CAST(SUM(CAST(value * CAST(user_id % 100 AS DOUBLE) AS DECIMAL(27,4))) AS VARCHAR) AS DOUBLE) AS sxy
        FROM events GROUP BY event_type
    )
    """,
)
def fn_stats_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variance / stddev / correlation — deterministic versions.

    Built-in stddev/corr accumulate doubles in partition order, so their
    last bits are not reproducible (and can't hash-match any oracle).
    The engine's form computes exact decimal power sums (order-free)
    first, then derives the moments with a fixed double expression:
    var = (nΣx² − (Σx)²)/(n(n−1)), corr analogous. Same single shuffle
    and partial aggregation as the built-ins.
    """
    (e,) = _t(spark, sf_dir, "events")
    x = F.col("value")
    y = (F.col("user_id") % 100).cast("double")
    base = e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        dsum(x, alias="sx"),
        dsum(x * x, alias="sxx"),
        dsum(y, alias="sy"),
        dsum(y * y, alias="syy"),
        dsum(x * y, alias="sxy"),
    )
    n, sx, sxx = F.col("n"), F.col("sx"), F.col("sxx")
    sy, syy, sxy = F.col("sy"), F.col("syy"), F.col("sxy")
    var = (n * sxx - sx * sx) / (n * (n - 1))
    corr = (n * sxy - sx * sy) / (F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy))
    return base.select(
        "event_type",
        "n",
        var.alias("var_value"),
        F.sqrt(var).alias("stddev_value"),
        corr.alias("corr_value_user"),
    )


# --------------------------------------------------------------------------
# Scan shape / distinct / set ops / subqueries
# --------------------------------------------------------------------------


@query(
    "rel_scan_shape",
    oracle="""
    SELECT p_partkey, p_name, p_retailprice * 0.9 AS sale_price
    FROM part
    WHERE p_size >= 30 AND p_type LIKE '%MO%'
    ORDER BY sale_price DESC, p_partkey ASC
    LIMIT 25
    """,
)
def rel_scan_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Projection + predicate + top-N in one scan: both the filter and the
    3-column projection must reach the parquet scan (PushedFilters /
    ReadSchema) and the sort-limit must plan as TakeOrderedAndProject —
    asserted in tests/test_plans.py. Predicate chosen to be selective but
    non-empty at every SF."""
    (p,) = _t(spark, sf_dir, "part")
    projected = (
        p.where((F.col("p_size") >= 30) & F.col("p_type").contains("MO"))
        .select("p_partkey", "p_name", (F.col("p_retailprice") * 0.9).alias("sale_price"))
    )
    return projected.orderBy(F.col("sale_price").desc(), F.col("p_partkey").asc()).limit(25)


_DISTINCT_SUITE_ORACLE = """
    SELECT 'pairs' AS kind, l_returnflag AS k1, l_linestatus AS k2,
           CAST(NULL AS BIGINT) AS id, CAST(NULL AS DOUBLE) AS price
    FROM lineitem GROUP BY l_returnflag, l_linestatus
  UNION ALL
    SELECT 'survivor', CAST(o_custkey AS VARCHAR), NULL, o_orderkey, o_totalprice FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS rn
        FROM orders
    ) WHERE rn = 1
"""


@query("rel_distinct_suite", oracle=_DISTINCT_SUITE_ORACLE)
def rel_distinct_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT surface: full-row distinct over a projection, plus
    keep-one-row-per-key with a *deterministic* survivor. Spark's bare
    dropDuplicates keeps an arbitrary row — fine for idempotent dedup,
    wrong for differential testing — so the engine's canonical form is
    the row_number window."""
    from pyspark.sql import Window

    li, o = _t(spark, sf_dir, "lineitem", "orders")
    u = TaggedUnion("kind", k1="string", k2="string", id="long", price="double")
    w = Window.partitionBy("o_custkey").orderBy("o_orderkey")
    return u.union(
        u.branch(
            li.select("l_returnflag", "l_linestatus").distinct(), "pairs", k1="l_returnflag", k2="l_linestatus"
        ),
        u.branch(
            o.withColumn("rn", F.row_number().over(w)).where(F.col("rn") == 1),
            "survivor", k1="o_custkey", id="o_orderkey", price="o_totalprice",
        ),
    )


_SETOP_SUITE_ORACLE = """
    SELECT 'union_all' AS op, c_custkey AS id, 'building' AS tag, CAST(NULL AS DOUBLE) AS bal
    FROM customer WHERE c_mktsegment = 'BUILDING'
  UNION ALL
    SELECT 'union_all', c_custkey, 'rich', NULL FROM customer WHERE c_acctbal > 9000
  UNION ALL
    SELECT 'intersect', custkey, NULL, NULL FROM (
        SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        INTERSECT
        SELECT o_custkey FROM orders WHERE o_totalprice > 300000
    )
  UNION ALL
    SELECT 'except', custkey, NULL, NULL FROM (
        SELECT c_custkey AS custkey FROM customer
        EXCEPT
        SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
    )
  UNION ALL
    SELECT 'union_by_name', entity_id, kind, balance FROM (
        SELECT c_custkey AS entity_id, c_acctbal AS balance, 'customer' AS kind FROM customer
        UNION ALL
        SELECT s_suppkey, s_acctbal, 'supplier' FROM supplier
    )
"""


@query("rel_setop_suite", oracle=_SETOP_SUITE_ORACLE)
def rel_setop_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operations: UNION ALL (bag), INTERSECT / EXCEPT (set semantics,
    planned as semi/anti joins), and schema-aligned unionByName over
    heterogeneous entities."""
    o, c, s = _t(spark, sf_dir, "orders", "customer", "supplier")
    u = TaggedUnion("op", id="long", tag="string", bal="double")
    return u.union(
        u.branch(
            c.where(F.col("c_mktsegment") == "BUILDING").select("c_custkey", F.lit("building").alias("t"))
            .unionAll(c.where(F.col("c_acctbal") > 9000).select("c_custkey", F.lit("rich").alias("t"))),
            "union_all", id="c_custkey", tag="t",
        ),
        u.branch(
            c.where(F.col("c_mktsegment") == "BUILDING").select(F.col("c_custkey").alias("custkey"))
            .intersect(o.where(F.col("o_totalprice") > 300000).select(F.col("o_custkey").alias("custkey"))),
            "intersect", id="custkey",
        ),
        u.branch(
            c.select(F.col("c_custkey").alias("custkey"))
            .subtract(o.where(F.col("o_orderstatus") == "O").select(F.col("o_custkey").alias("custkey"))),
            "except", id="custkey",
        ),
        u.branch(
            c.select(
                F.col("c_custkey").alias("entity_id"),
                F.col("c_acctbal").alias("balance"),
                F.lit("customer").alias("kind"),
            ).unionByName(
                s.select(
                    F.col("s_suppkey").alias("entity_id"),
                    F.col("s_acctbal").alias("balance"),
                    F.lit("supplier").alias("kind"),
                )
            ),
            "union_by_name", id="entity_id", tag="kind", bal="balance",
        ),
    )


_SUBQUERY_SUITE_ORACLE = """
    SELECT 'in' AS kind, o_orderkey, o_custkey, o_totalprice FROM orders
    WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal < 0)
  UNION ALL
    SELECT 'above_avg', o_orderkey, o_custkey, o_totalprice FROM (
        SELECT o_orderkey, o_custkey, o_totalprice,
               CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(27,4))) OVER (PARTITION BY o_custkey) AS VARCHAR) AS DOUBLE)
                 / count(*) OVER (PARTITION BY o_custkey) AS cust_avg
        FROM orders
    ) WHERE o_totalprice > cust_avg
"""


@query("rel_subquery_suite", oracle=_SUBQUERY_SUITE_ORACLE)
def rel_subquery_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subquery surface: IN-subquery (planned as a broadcast left-semi
    join) and the correlated 'above the per-customer average' —
    decorrelated into one window pass, no self-join (what Catalyst
    rewrites a correlated scalar subquery into). The uncorrelated scalar
    subquery lives in rel_sql_frontend."""
    from pyspark.sql import Window

    o, c = _t(spark, sf_dir, "orders", "customer")
    u = TaggedUnion("kind", o_orderkey="long", o_custkey="long", o_totalprice="double")
    debtors = c.where(F.col("c_acctbal") < 0).select("c_custkey")
    w = Window.partitionBy("o_custkey")
    cust_avg = (
        F.sum(F.col("o_totalprice").cast("decimal(27,4)")).over(w).cast("double")
        / F.count(F.lit(1)).over(w)
    )
    return u.union(
        u.branch(o.join(debtors, o.o_custkey == debtors.c_custkey, "left_semi"), "in", *u.columns),
        u.branch(
            o.withColumn("cust_avg", cust_avg).where(F.col("o_totalprice") > F.col("cust_avg")),
            "above_avg", *u.columns,
        ),
    )
