"""Window functions, scalar function coverage, and the Pandas-UDF surface
(SURVEY.md §2.3 — all ABSENT in the reference, standard in this engine).

Windowed SUM over doubles is order-sensitive AND some engines compute
sliding frames incrementally (add/remove), so every windowed sum here
uses the same decimal-cast pattern as grouped aggregation.

Registry note (round 2): consolidated under the driver's ~50-entry
verification window — analytic windows merged into one wide per-event
frame, CASE bucketing into the math suite, the semi-structured scalar
functions (JSON / array / lateral posexplode) into one labeled suite,
and both Pandas-UDF flavors into one chained query.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.queries import TaggedUnion, query
from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.sources import load_table


# --------------------------------------------------------------------------
# Window functions
# --------------------------------------------------------------------------


@query(
    "win_rank_suite",
    oracle="""
    SELECT c_custkey, c_nationkey, c_acctbal,
           row_number() OVER w AS rn,
           rank() OVER w AS rnk,
           dense_rank() OVER w AS drnk,
           ntile(4) OVER w AS quartile
    FROM customer
    WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey ASC)
    """,
)
def win_rank_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking family over one window — single Exchange(nationkey) + sort."""
    c = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(F.col("c_acctbal").desc(), F.col("c_custkey").asc())
    return c.select(
        "c_custkey",
        "c_nationkey",
        "c_acctbal",
        F.row_number().over(w).alias("rn"),
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.ntile(4).over(w).alias("quartile"),
    )


@query(
    "win_lag_frames",
    oracle="""
    SELECT event_id, user_id, ts, value,
           lag(value) OVER w AS prev_value,
           lead(value) OVER w AS next_value,
           lag(event_type, 1, 'none') OVER w AS prev_type,
           CAST(SUM(CAST(value AS DECIMAL(27,4))) OVER
                (w ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE)
             / count(value) OVER (w ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS moving_avg_3,
           first_value(event_type) OVER
               (w ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS first_type,
           last_value(event_type) OVER
               (w ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_type,
           count(*) OVER (PARTITION BY user_id) AS n_events
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
    """,
)
def win_lag_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic-window suite over one per-user event ordering: lag/lead
    (sequencing), a 3-event moving average (bounded frame; decimal sum
    keeps incremental add/remove evaluation exact), first/last over the
    full-partition frame (the default-frame last_value trap avoided
    explicitly), and the partition count — all sharing one
    Exchange(user_id) + sort."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    w3 = w.rowsBetween(-2, Window.currentRow)
    wfull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    avg3 = F.sum(F.col("value").cast("decimal(27,4)")).over(w3).cast("double") / F.count("value").over(w3)
    return e.select(
        "event_id",
        "user_id",
        "ts",
        "value",
        F.lag("value").over(w).alias("prev_value"),
        F.lead("value").over(w).alias("next_value"),
        F.lag("event_type", 1, "none").over(w).alias("prev_type"),
        avg3.alias("moving_avg_3"),
        F.first("event_type").over(wfull).alias("first_type"),
        F.last("event_type").over(wfull).alias("last_type"),
        F.count(F.lit(1)).over(Window.partitionBy("user_id")).alias("n_events"),
    )


@query(
    "win_running_sum",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderdate,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(27,4))) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS DOUBLE) AS running_spend
    FROM orders
    """,
)
def win_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative per-customer spend — decimal-cast so the running sum is
    exact at every prefix."""
    o = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.col("o_orderdate").asc(), F.col("o_orderkey").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    running = F.sum(F.col("o_totalprice").cast("decimal(27,4)")).over(w).cast("double")
    return o.select("o_orderkey", "o_custkey", "o_orderdate", running.alias("running_spend"))


# --------------------------------------------------------------------------
# Scalar function coverage
# --------------------------------------------------------------------------


@query(
    "fn_string_suite",
    oracle="""
    SELECT p_partkey,
           upper(p_name) AS name_upper,
           lower(p_brand) AS brand_lower,
           length(p_name) AS name_len,
           substr(p_type, 1, 5) AS type_prefix,
           concat(p_brand, ':', p_type) AS brand_type,
           replace(p_name, ' ', '_') AS name_snake,
           lpad(CAST(p_size AS VARCHAR), 4, '0') AS size_padded,
           reverse(p_brand) AS brand_rev,
           trim(p_name) AS name_trim
    FROM part
    """,
)
def fn_string_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper("p_name").alias("name_upper"),
        F.lower("p_brand").alias("brand_lower"),
        F.length("p_name").alias("name_len").cast("long"),
        F.substring("p_type", 1, 5).alias("type_prefix"),
        F.concat_ws(":", "p_brand", "p_type").alias("brand_type"),
        F.replace(F.col("p_name"), F.lit(" "), F.lit("_")).alias("name_snake"),
        F.lpad(F.col("p_size").cast("string"), 4, "0").alias("size_padded"),
        F.reverse("p_brand").alias("brand_rev"),
        F.trim("p_name").alias("name_trim"),
    )


@query(
    "fn_date_suite",
    oracle="""
    SELECT o_orderkey,
           CAST(year(o_orderdate) AS BIGINT) AS order_year,
           CAST(month(o_orderdate) AS BIGINT) AS order_month,
           CAST(day(o_orderdate) AS BIGINT) AS order_day,
           CAST(quarter(o_orderdate) AS BIGINT) AS order_quarter,
           CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start,
           strftime(o_orderdate, '%Y-%m') AS year_month,
           datediff('day', TIMESTAMP '1995-01-01', o_orderdate) AS days_since_epoch_start
    FROM orders
    WHERE o_orderkey % 50 = 0
    """,
)
def fn_date_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.where(F.col("o_orderkey") % 50 == 0).select(
        "o_orderkey",
        F.year("o_orderdate").cast("long").alias("order_year"),
        F.month("o_orderdate").cast("long").alias("order_month"),
        F.dayofmonth("o_orderdate").cast("long").alias("order_day"),
        F.quarter("o_orderdate").cast("long").alias("order_quarter"),
        F.date_trunc("month", F.col("o_orderdate")).alias("month_start"),
        F.date_format("o_orderdate", "yyyy-MM").alias("year_month"),
        F.datediff(F.col("o_orderdate"), F.lit("1995-01-01").cast("timestamp"))
        .cast("long")
        .alias("days_since_epoch_start"),
    )


@query(
    "fn_math_suite",
    oracle="""
    SELECT c_custkey,
           abs(c_acctbal) AS bal_abs,
           round(c_acctbal, 1) AS bal_round1,
           CAST(floor(c_acctbal) AS DOUBLE) AS bal_floor,
           CAST(ceil(c_acctbal) AS DOUBLE) AS bal_ceil,
           sqrt(abs(c_acctbal)) AS bal_sqrt,
           c_custkey % 7 AS key_mod,
           CAST(sign(c_acctbal) AS DOUBLE) AS bal_sign,
           greatest(c_acctbal, 0.0) AS bal_pos,
           least(c_acctbal, 0.0) AS bal_neg,
           CASE WHEN c_acctbal < 0 THEN 'debt'
                WHEN c_acctbal < 5000 THEN 'low'
                WHEN c_acctbal < 9000 THEN 'mid'
                ELSE 'high' END AS bal_bucket
    FROM customer
    """,
)
def fn_math_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math functions restricted to the correctly-rounded IEEE set (sqrt,
    abs, floor/ceil, round-half-away) — transcendentals (ln/exp/pow) are
    deliberately excluded from differential testing since libm results
    differ in ULPs across engines. sign() is cast to DOUBLE on the
    oracle side: DuckDB returns INTEGER where Spark's signum returns
    DOUBLE (the round-1 hash-mismatch). CASE bucketing rides along as
    the conditional-expression surface."""
    c = load_table(spark, sf_dir, "customer")
    bal = F.col("c_acctbal")
    bucket = (
        F.when(bal < 0, "debt")
        .when(bal < 5000, "low")
        .when(bal < 9000, "mid")
        .otherwise("high")
    )
    return c.select(
        "c_custkey",
        F.abs(bal).alias("bal_abs"),
        F.round(bal, 1).alias("bal_round1"),
        F.floor(bal).cast("double").alias("bal_floor"),
        F.ceil(bal).cast("double").alias("bal_ceil"),
        F.sqrt(F.abs(bal)).alias("bal_sqrt"),
        (F.col("c_custkey") % 7).alias("key_mod"),
        F.signum(bal).alias("bal_sign"),
        F.greatest(bal, F.lit(0.0)).alias("bal_pos"),
        F.least(bal, F.lit(0.0)).alias("bal_neg"),
        bucket.alias("bal_bucket"),
    )


_SEMI_STRUCTURED_ORACLE = """
    SELECT 'json' AS kind,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS i1,
           count(*) AS i2, min(event_id) AS i3,
           CAST(NULL AS DOUBLE) AS d1, CAST(NULL AS DOUBLE) AS d2,
           CAST(NULL AS VARCHAR) AS s1
    FROM events GROUP BY 2
  UNION ALL
    SELECT 'array', vec_id, len(embedding)::BIGINT, NULL,
           embedding[1], embedding[64],
           array_to_string(list_transform(list_slice(embedding, 1, 4),
                           x -> CAST(CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT) AS VARCHAR)), ',')
    FROM embeddings WHERE vec_id % 20 = 0
  UNION ALL
    SELECT 'posexplode', vec_id, pos - 1, NULL, component, NULL, NULL
    FROM (SELECT vec_id, unnest(embedding) AS component,
                 generate_subscripts(embedding, 1) AS pos
          FROM embeddings WHERE vec_id % 100 = 0)
"""


@query("fn_semi_structured_suite", oracle=_SEMI_STRUCTURED_ORACLE)
def fn_semi_structured_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured column surface, one labeled plan per shape:
    JSON property extraction (events.props) feeding an aggregate; array
    ops over the embeddings table (1-indexed access in both engines; the
    sliced head serialized as integer basis-points so the differential
    hash never depends on float formatting); and the lateral array
    flatten with position (posexplode / unnest WITH ORDINALITY)."""
    e = load_table(spark, sf_dir, "events")
    emb = load_table(spark, sf_dir, "embeddings")
    u = TaggedUnion("kind", i1="long", i2="long", i3="long", d1="double", d2="double", s1="string")

    k = F.get_json_object("props", "$.k").cast("long")
    json_q = u.branch(
        e.groupBy(k.alias("i1")).agg(F.count(F.lit(1)).alias("i2"), F.min("event_id").alias("i3")),
        "json", "i1", "i2", "i3",
    )
    head4 = F.array_join(
        F.transform(
            F.slice("embedding", 1, 4),
            lambda x: F.round(x.cast("double") * 10000).cast("long").cast("string"),
        ),
        ",",
    )
    array_q = u.branch(
        emb.where(F.col("vec_id") % 20 == 0), "array",
        i1="vec_id",
        i2=F.size("embedding"),
        d1=F.element_at("embedding", 1),
        d2=F.element_at("embedding", 64),
        s1=head4,
    )
    pos_q = u.branch(
        emb.where(F.col("vec_id") % 100 == 0).select("vec_id", F.posexplode("embedding").alias("pos", "component")),
        "posexplode", i1="vec_id", i2="pos", d1="component",
    )
    return u.union(json_q, array_q, pos_q)


# --------------------------------------------------------------------------
# Pandas-UDF surface (Arrow-batched; the engine's sanctioned Python escape
# hatch — never row-at-a-time Python UDFs). mapInPandas is covered by
# mm_suite in similarity_q.py.
# --------------------------------------------------------------------------


@query(
    "udf_suite",
    oracle="""
    SELECT 'pandas' AS op, CAST(c_custkey AS VARCHAR) AS key,
           c_acctbal - max(c_acctbal) OVER (PARTITION BY c_nationkey) AS v1,
           (c_acctbal - max(c_acctbal) OVER (PARTITION BY c_nationkey)) * 0.9 AS v2
    FROM customer
  UNION ALL
    SELECT 'udtf', word, CAST(count(*) AS DOUBLE), CAST(NULL AS DOUBLE)
    FROM (SELECT unnest(regexp_split_to_array(text, '[ \n]')) AS word FROM documents)
    WHERE word <> ''
    GROUP BY word
    """,
)
def udf_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full Python-function surface in one tagged union:

    - pandas: both vectorized flavors chained — applyInPandas
      (grouped-map; each nation becomes one pandas frame, max-relative
      so the result is float-exact vs the window oracle) into a scalar
      pandas_udf over Arrow batches (one IEEE multiply, bitwise-identical
      to the SQL expression).
    - udtf: a genuine Python UDTF (Spark 4 ``@udtf``, Arrow-optimized) —
      the reference's map() function verbatim (slave.cc:96-110: split on
      space/newline, drop empties, emit one row per word), lateral-joined
      over documents and aggregated to word counts. posexplode covers the
      built-in-UDTF shape in fn_semi_structured_suite; this is the
      user-defined one. Row-emitting Python stays off the 100 TB hot
      path by policy (SCALE.md) — registered here to prove the API
      surface, with the Catalyst tokenize as the production form.
    """
    from pyspark.sql.functions import pandas_udf, udtf

    c = load_table(spark, sf_dir, "customer")

    def demean(pdf: pd.DataFrame) -> pd.DataFrame:
        out = pdf[["c_custkey", "c_nationkey"]].copy()
        out["bal_vs_best"] = pdf["c_acctbal"] - pdf["c_acctbal"].max()
        return out

    demeaned = c.groupBy("c_nationkey").applyInPandas(
        demean, schema="c_custkey long, c_nationkey int, bal_vs_best double"
    )

    @pandas_udf("double")
    def scale(v: pd.Series) -> pd.Series:
        return v * 0.9

    u = TaggedUnion("op", key="string", v1="double", v2="double")
    pandas_branch = u.branch(demeaned, "pandas", key="c_custkey", v1="bal_vs_best", v2=scale("bal_vs_best"))

    @udtf(returnType="word: string", useArrow=True)
    class TokenizeUdtf:
        def eval(self, text: str):
            # slave.cc:96-110 semantics: split on the exact [ \n] set,
            # drop empty tokens, keep case/punctuation
            import re

            for w in re.split("[ \n]", text or ""):
                if w:
                    yield (w,)

    spark.udtf.register("tokenize_udtf", TokenizeUdtf)
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("udtf_documents")
    udtf_branch = u.branch(
        spark.sql("SELECT word FROM udtf_documents, LATERAL tokenize_udtf(text)")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt")),
        "udtf", key="word", v1="cnt",
    )
    return u.union(pandas_branch, udtf_branch)
