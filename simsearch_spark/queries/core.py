"""Declared queries — reference-parity core (SURVEY.md §2 "declared query"
column).  Each entry pairs a PySpark implementation with a hand-written
DuckDB oracle over the same parquet fixtures; the driver hash-compares them
at sf0.01 (__spark_entry__.py contract).

Cross-engine determinism rules used throughout (FIXTURES.md §F4):
- selection/ranking happens on *distances* (exact IEEE arithmetic in both
  engines), never on exp() outputs;
- reported scores are rounded to 6 decimals in BOTH engines so libm last-ulp
  differences collapse;
- ties broken by id ASC.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from simsearch_spark.operators.rank_agg import multi_facet_topk, score_facets
from simsearch_spark.operators.topk import single_facet_topk
from simsearch_spark.plans.spec import Facet, SearchRequest
from simsearch_spark.sources.registry import load_table

K = 10
NUM_Q = 1000.0
TEMPORAL_Q = "1998-01-01 00:00:00"
SPATIAL_Q = (12.5, -40.0)
TEXT_Q = "Customer#000000042"

# DuckDB helper fragments -----------------------------------------------------

# q-gram set (q=3) of a lowercased string; matches functions.text.qgrams
QGRAMS_SQL = (
    "list_sort(list_distinct(list_transform("
    "range(1, greatest(length({s})-1, 2)), i -> substr(lower({s}), i::INT, 3))))"
)


def _decay_sql(dist: str, scale: str) -> str:
    return f"round(exp(-0.05 * {dist} / (CASE WHEN {scale} <= 0 THEN 1.0 ELSE {scale} END)), 6)"


# -----------------------------------------------------------------------------
# S1/P1: scan + projection
# -----------------------------------------------------------------------------

def q_scan_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1/P1: key/value projection — Catalyst prunes the parquet scan to the
    two selected columns (``DataIngestor.java:95-147``)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        F.col("l_orderkey").alias("id"),
        F.col("l_linenumber").alias("line"),
        F.col("l_extendedprice").alias("value"),
    )


SQL_SCAN_PROJECT = """
SELECT l_orderkey AS id, l_linenumber AS line, l_extendedprice AS value FROM lineitem
"""


# -----------------------------------------------------------------------------
# K1/T4: numerical top-k with auto scale (k-th distance of the k rows)
# -----------------------------------------------------------------------------

def q_num_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    facet = Facet(name="acctbal", kind="numerical", value_cols=["c_acctbal"], query_value=NUM_Q)
    res = single_facet_topk(cust, "c_custkey", facet, k=K)
    return res.select(
        F.col("c_custkey").alias("id"),
        F.col("c_acctbal").alias("value"),
        F.col("dist"),
        F.col("score"),
        F.col("rank"),
    )


SQL_NUM_TOPK = f"""
WITH base AS (
  SELECT c_custkey AS id, c_acctbal AS value, abs(c_acctbal - {NUM_Q}) AS dist
  FROM customer WHERE c_acctbal IS NOT NULL
), s AS (
  SELECT max(dist) AS scale FROM (SELECT dist FROM base ORDER BY dist LIMIT {K})
)
SELECT id, value, dist, {_decay_sql('dist', 'scale')} AS score,
       row_number() OVER (ORDER BY dist, id) AS rank
FROM base, s ORDER BY dist, id LIMIT {K}
"""


# -----------------------------------------------------------------------------
# K6: query value "max" resolved to attribute max (SearchHandler.java:434-441)
# -----------------------------------------------------------------------------

def q_num_topk_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    facet = Facet(name="acctbal", kind="numerical", value_cols=["c_acctbal"], query_value="max")
    res = single_facet_topk(cust, "c_custkey", facet, k=K)
    return res.select(
        F.col("c_custkey").alias("id"),
        F.col("c_acctbal").alias("value"),
        F.col("dist"),
        F.col("score"),
        F.col("rank"),
    )


SQL_NUM_TOPK_MAX = f"""
WITH q AS (SELECT max(c_acctbal) AS qv FROM customer),
base AS (
  SELECT c_custkey AS id, c_acctbal AS value, abs(c_acctbal - qv) AS dist
  FROM customer, q WHERE c_acctbal IS NOT NULL
), s AS (
  SELECT max(dist) AS scale FROM (SELECT dist FROM base ORDER BY dist LIMIT {K})
)
SELECT id, value, dist, {_decay_sql('dist', 'scale')} AS score,
       row_number() OVER (ORDER BY dist, id) AS rank
FROM base, s ORDER BY dist, id LIMIT {K}
"""


# -----------------------------------------------------------------------------
# K2: temporal top-k over epoch seconds (DataIngestor.java:326-369), with
# R4 date re-formatting of the reported value (RankAggregator.java:244-246)
# -----------------------------------------------------------------------------

def q_temporal_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    facet = Facet(name="odate", kind="temporal", value_cols=["o_orderdate"], query_value=TEMPORAL_Q)
    res = single_facet_topk(orders, "o_orderkey", facet, k=K)
    return res.select(
        F.col("o_orderkey").alias("id"),
        F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss").alias("value"),
        F.col("dist"),
        F.col("score"),
        F.col("rank"),
    )


SQL_TEMPORAL_TOPK = f"""
WITH base AS (
  SELECT o_orderkey AS id, strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS value,
         abs(epoch(o_orderdate) - epoch(TIMESTAMP '{TEMPORAL_Q}')) AS dist
  FROM orders WHERE o_orderdate IS NOT NULL
), s AS (
  SELECT max(dist) AS scale FROM (SELECT dist FROM base ORDER BY dist LIMIT {K})
)
SELECT id, value, dist, {_decay_sql('dist', 'scale')} AS score,
       row_number() OVER (ORDER BY dist, id) AS rank
FROM base, s ORDER BY dist, id LIMIT {K}
"""


# -----------------------------------------------------------------------------
# K3: spatial k-NN, planar-degrees distance (SpatialDistance.java:42,53 —
# JTS Euclidean on lon/lat despite "Haversine" naming).  The fixtures carry
# no geo columns, so lon/lat are derived deterministically from customer
# columns — identical derivation in both engines.
# -----------------------------------------------------------------------------

def q_spatial_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        (F.abs(F.col("c_acctbal")) % 360 - 180).alias("lon"),
        ((F.col("c_custkey") % 180) - 90).cast("double").alias("lat"),
    )
    facet = Facet(name="loc", kind="spatial", value_cols=["lon", "lat"], query_value=SPATIAL_Q)
    res = single_facet_topk(cust, "c_custkey", facet, k=K)
    return res.select(
        F.col("c_custkey").alias("id"),
        F.col("lon"),
        F.col("lat"),
        F.col("dist"),
        F.col("score"),
        F.col("rank"),
    )


SQL_SPATIAL_KNN = f"""
WITH pts AS (
  SELECT c_custkey AS id, fmod(abs(c_acctbal), 360) - 180 AS lon,
         (c_custkey % 180 - 90)::DOUBLE AS lat
  FROM customer
), base AS (
  SELECT id, lon, lat,
         sqrt((lon - {SPATIAL_Q[0]}) * (lon - {SPATIAL_Q[0]})
            + (lat - {SPATIAL_Q[1]}) * (lat - {SPATIAL_Q[1]})) AS dist
  FROM pts WHERE lon IS NOT NULL
), s AS (
  SELECT max(dist) AS scale FROM (SELECT dist FROM base ORDER BY dist LIMIT {K})
)
SELECT id, lon, lat, dist, {_decay_sql('dist', 'scale')} AS score,
       row_number() OVER (ORDER BY dist, id) AS rank
FROM base, s ORDER BY dist, id LIMIT {K}
"""


# -----------------------------------------------------------------------------
# P2/P4: boolean pre-filter before scoring (SimSearchJdbcQuery.java:136-148)
# -----------------------------------------------------------------------------

def q_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    facet = Facet(
        name="acctbal",
        kind="numerical",
        value_cols=["c_acctbal"],
        query_value=NUM_Q,
        filter="c_mktsegment = 'BUILDING'",
    )
    res = single_facet_topk(cust, "c_custkey", facet, k=K)
    return res.select(
        F.col("c_custkey").alias("id"),
        F.col("c_acctbal").alias("value"),
        F.col("dist"),
        F.col("score"),
        F.col("rank"),
    )


SQL_FILTERED_TOPK = f"""
WITH base AS (
  SELECT c_custkey AS id, c_acctbal AS value, abs(c_acctbal - {NUM_Q}) AS dist
  FROM customer WHERE c_mktsegment = 'BUILDING' AND c_acctbal IS NOT NULL
), s AS (
  SELECT max(dist) AS scale FROM (SELECT dist FROM base ORDER BY dist LIMIT {K})
)
SELECT id, value, dist, {_decay_sql('dist', 'scale')} AS score,
       row_number() OVER (ORDER BY dist, id) AS rank
FROM base, s ORDER BY dist, id LIMIT {K}
"""


# -----------------------------------------------------------------------------
# multi-attribute rank aggregation (T1/T4): numerical + textual facets on one
# table, weighted mean, NULL facet -> sim 0 with weight kept in denominator
# -----------------------------------------------------------------------------

def _customer_two_facets(weights_a, weights_b):
    return [
        Facet(name="acctbal", kind="numerical", value_cols=["c_acctbal"], query_value=NUM_Q, weights=weights_a),
        Facet(name="name", kind="textual", value_cols=["c_name"], query_value=TEXT_Q, weights=weights_b),
    ]


#: shared oracle skeleton for the 2-facet customer query; weights are
#: interpolated per declared query.  Mirrors score_facets + weighted mean.
def _sql_multi_attr(weight_pairs: list[tuple[float, float]]) -> str:
    combo_selects = []
    for j, (wa, wb) in enumerate(weight_pairs):
        total = wa + wb
        combo_selects.append(
            f"""SELECT {j} AS combo, id, round(({wa} * sim_a + {wb} * sim_b) / {total}, 6) AS score,
       value_a, value_b, round(sim_a, 6) AS acctbal_sim, round(sim_b, 6) AS name_sim,
       row_number() OVER (ORDER BY round(({wa} * sim_a + {wb} * sim_b) / {total}, 6) DESC, id) AS rank
FROM scored QUALIFY rank <= {K}"""
        )
    union = "\nUNION ALL\n".join(combo_selects)
    qg = QGRAMS_SQL.format(s="c_name")
    qq = QGRAMS_SQL.format(s=f"'{TEXT_Q}'")
    return f"""
WITH base AS (
  SELECT c_custkey AS id, c_acctbal AS value_a, c_name AS value_b,
         abs(c_acctbal - {NUM_Q}) AS dist_a,
         1.0 - len(list_intersect({qg}, {qq}))::DOUBLE
             / (len({qg}) + len({qq}) - len(list_intersect({qg}, {qq})))::DOUBLE AS dist_b
  FROM customer
), sa AS (
  SELECT max(dist_a) AS scale_a FROM (SELECT dist_a FROM base WHERE dist_a IS NOT NULL ORDER BY dist_a LIMIT {K})
), sb AS (
  SELECT max(dist_b) AS scale_b FROM (SELECT dist_b FROM base WHERE dist_b IS NOT NULL ORDER BY dist_b LIMIT {K})
), scored AS (
  SELECT id, value_a, value_b,
         coalesce(exp(-0.05 * dist_a / (CASE WHEN scale_a <= 0 THEN 1.0 ELSE scale_a END)), 0.0) AS sim_a,
         coalesce(CASE WHEN dist_b >= 1.0 THEN 0.0
                       ELSE exp(-0.05 * dist_b / (CASE WHEN scale_b <= 0 THEN 1.0 ELSE scale_b END)) END, 0.0) AS sim_b
  FROM base, sa, sb
)
{union}
"""


def _run_multi_attr(spark: SparkSession, sf_dir: str, weights_a, weights_b) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    req = SearchRequest(
        table="customer",
        key_column="c_custkey",
        facets=_customer_two_facets(weights_a, weights_b),
        k=K,
    )
    out = multi_facet_topk(cust, req)
    from pyspark.sql.window import Window

    w = Window.partitionBy("combo").orderBy(F.col("score").desc(), F.col("c_custkey").asc())
    return out.withColumn("rank", F.row_number().over(w)).select(
        F.col("combo"),
        F.col("c_custkey").alias("id"),
        F.col("score"),
        F.col("c_acctbal").alias("value_a"),
        F.col("c_name").alias("value_b"),
        F.col("acctbal_sim"),
        F.col("name_sim"),
        F.col("rank"),
    )


def q_multi_attr_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _run_multi_attr(spark, sf_dir, [1.0], [1.0])


SQL_MULTI_ATTR_TOPK = _sql_multi_attr([(1.0, 1.0)])


def q_multi_attr_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _run_multi_attr(spark, sf_dir, [0.7], [0.3])


SQL_MULTI_ATTR_WEIGHTED = _sql_multi_attr([(0.7, 0.3)])


def q_multi_weight_combos(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T7: three weight combinations, one candidate pass, one ranked list
    per combination (RankAggregator.java:104-129)."""
    return _run_multi_attr(spark, sf_dir, [0.9, 0.5, 0.2], [0.1, 0.5, 0.8])


SQL_MULTI_WEIGHT_COMBOS = _sql_multi_attr([(0.9, 0.1), (0.5, 0.5), (0.2, 0.8)])


# -----------------------------------------------------------------------------
# P3: NULL handling — null attribute value scores 0 for that facet, entity
# still ranks on its other facets, weight stays in denominator
# (RankAggregator.java:236-259)
# -----------------------------------------------------------------------------

def q_null_handling(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").withColumn(
        "acctbal_n",
        F.when(F.col("c_custkey") % 7 == 0, F.lit(None).cast("double")).otherwise(F.col("c_acctbal")),
    )
    facets = [
        Facet(name="bal", kind="numerical", value_cols=["acctbal_n"], query_value=NUM_Q, weights=[0.5]),
        Facet(name="nat", kind="numerical", value_cols=["c_nationkey"], query_value=10.0, weights=[0.5]),
    ]
    req = SearchRequest(table="customer", key_column="c_custkey", facets=facets, k=K)
    out = multi_facet_topk(cust, req)
    return out.select(
        F.col("c_custkey").alias("id"),
        F.col("score"),
        F.col("bal_sim"),
        F.col("nat_sim"),
    )


SQL_NULL_HANDLING = f"""
WITH base AS (
  SELECT c_custkey AS id,
         CASE WHEN c_custkey % 7 = 0 THEN NULL ELSE c_acctbal END AS bal,
         c_nationkey::DOUBLE AS nat
  FROM customer
), d AS (
  SELECT id, abs(bal - {NUM_Q}) AS dist_a, abs(nat - 10.0) AS dist_b FROM base
), sa AS (
  SELECT max(dist_a) AS scale_a FROM (SELECT dist_a FROM d WHERE dist_a IS NOT NULL ORDER BY dist_a LIMIT {K})
), sb AS (
  SELECT max(dist_b) AS scale_b FROM (SELECT dist_b FROM d WHERE dist_b IS NOT NULL ORDER BY dist_b LIMIT {K})
), scored AS (
  SELECT id,
         coalesce(exp(-0.05 * dist_a / (CASE WHEN scale_a <= 0 THEN 1.0 ELSE scale_a END)), 0.0) AS sim_a,
         coalesce(exp(-0.05 * dist_b / (CASE WHEN scale_b <= 0 THEN 1.0 ELSE scale_b END)), 0.0) AS sim_b
  FROM d, sa, sb
)
SELECT id, round((0.5 * sim_a + 0.5 * sim_b) / 1.0, 6) AS score,
       round(sim_a, 6) AS bal_sim, round(sim_b, 6) AS nat_sim
FROM scored ORDER BY round((0.5 * sim_a + 0.5 * sim_b) / 1.0, 6) DESC, id LIMIT {K}
"""


# -----------------------------------------------------------------------------
# T5: weight auto-estimation — percentile p = (1 - k/N) of candidate scores
# (Estimator.java:177-189)
# -----------------------------------------------------------------------------

def q_weight_estimation(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    facets = [
        Facet(name="acctbal", kind="numerical", value_cols=["c_acctbal"], query_value=NUM_Q),
        Facet(name="nat", kind="numerical", value_cols=["c_nationkey"], query_value=10.0),
    ]
    _, est = score_facets(cust, facets, K, estimate_weights=True)
    rows = [(name, round(w, 6)) for name, w in sorted(est.items())]
    return spark.createDataFrame(rows, "facet string, weight double")


SQL_WEIGHT_ESTIMATION = f"""
WITH d AS (
  SELECT c_custkey AS id, abs(c_acctbal - {NUM_Q}) AS dist_a,
         abs(c_nationkey::DOUBLE - 10.0) AS dist_b
  FROM customer
), sa AS (
  SELECT max(dist_a) AS scale_a FROM (SELECT dist_a FROM d WHERE dist_a IS NOT NULL ORDER BY dist_a LIMIT {K})
), sb AS (
  SELECT max(dist_b) AS scale_b FROM (SELECT dist_b FROM d WHERE dist_b IS NOT NULL ORDER BY dist_b LIMIT {K})
), scored AS (
  SELECT coalesce(exp(-0.05 * dist_a / (CASE WHEN scale_a <= 0 THEN 1.0 ELSE scale_a END)), 0.0) AS sim_a,
         coalesce(exp(-0.05 * dist_b / (CASE WHEN scale_b <= 0 THEN 1.0 ELSE scale_b END)), 0.0) AS sim_b
  FROM d, sa, sb
), ord_a AS (
  SELECT sim_a AS sim, row_number() OVER (ORDER BY sim_a) - 1 AS rn,
         (1.0 - 10.0/count(*) OVER ()) * (count(*) OVER () - 1) AS pos
  FROM scored
), ord_b AS (
  SELECT sim_b AS sim, row_number() OVER (ORDER BY sim_b) - 1 AS rn,
         (1.0 - 10.0/count(*) OVER ()) * (count(*) OVER () - 1) AS pos
  FROM scored
)
SELECT 'acctbal' AS facet, round(
    max(CASE WHEN rn = floor(pos)::BIGINT THEN sim END) * (1.0 - max(pos - floor(pos)))
  + max(CASE WHEN rn = ceil(pos)::BIGINT THEN sim END) * max(pos - floor(pos)), 6) AS weight
FROM ord_a
UNION ALL
SELECT 'nat' AS facet, round(
    max(CASE WHEN rn = floor(pos)::BIGINT THEN sim END) * (1.0 - max(pos - floor(pos)))
  + max(CASE WHEN rn = ceil(pos)::BIGINT THEN sim END) * max(pos - floor(pos)), 6) AS weight
FROM ord_b
"""


CORE_QUERIES = {
    "scan_project": (q_scan_project, SQL_SCAN_PROJECT),
    "num_topk": (q_num_topk, SQL_NUM_TOPK),
    "num_topk_max": (q_num_topk_max, SQL_NUM_TOPK_MAX),
    "temporal_topk": (q_temporal_topk, SQL_TEMPORAL_TOPK),
    "spatial_knn": (q_spatial_knn, SQL_SPATIAL_KNN),
    "filtered_topk": (q_filtered_topk, SQL_FILTERED_TOPK),
    "multi_attr_topk": (q_multi_attr_topk, SQL_MULTI_ATTR_TOPK),
    "multi_attr_weighted": (q_multi_attr_weighted, SQL_MULTI_ATTR_WEIGHTED),
    "multi_weight_combos": (q_multi_weight_combos, SQL_MULTI_WEIGHT_COMBOS),
    "null_handling": (q_null_handling, SQL_NULL_HANDLING),
    "weight_estimation": (q_weight_estimation, SQL_WEIGHT_ESTIMATION),
}
