"""Declared query: IVF-probed ANN — the learned-quantizer scale path.

Centroids = element-wise mean embedding per fixture `label` cluster
(computed in-engine, the mount-time "train" step); the query probes the
`N_PROBE` centroids nearest the query vector and exact-scores only their
members.  The oracle replays centroid training, probe selection, and member
scoring entirely in SQL, so the whole IVF pipeline — not just the final
top-k — is verified.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from simsearch_spark.operators.ann import ivf_topk
from simsearch_spark.queries.core import K
from simsearch_spark.queries.vector import _cosine_sql, _l2_sql
from simsearch_spark.sources.registry import load_table

IVF_QUERY_ID = 11
N_PROBE = 2
EMB_DIM = 64


def _centroid_map(spark: SparkSession, sf_dir: str) -> dict[int, list[float]]:
    """label → mean embedding, collected once (bounded: n_cells × dim)."""
    emb = load_table(spark, sf_dir, "embeddings")
    flat = emb.select(
        "label", F.posexplode(F.col("embedding")).alias("pos", "v")
    ).groupBy("label", "pos").agg(F.avg(F.col("v").cast("double")).alias("mv"))
    rows = (
        flat.groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "mv"))).alias("pairs"))
        .select("label", F.transform("pairs", lambda p: p["mv"]).alias("centroid"))
        .collect()
    )
    return {int(r[0]): [float(x) for x in r[1]] for r in rows}


def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    qvec = [float(x) for x in emb.where(F.col("vec_id") == IVF_QUERY_ID).first().embedding]
    cents = _centroid_map(spark, sf_dir)
    out = ivf_topk(
        emb, "vec_id", "embedding", cents, qvec, K, n_probe=N_PROBE, assign_col="label"
    )
    return out.select(F.col("vec_id").alias("id"), F.col("cos_sim"))


SQL_IVF_TOPK = f"""
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = {IVF_QUERY_ID}),
flat AS (
  SELECT label, i, embedding[i]::DOUBLE AS v
  FROM embeddings, unnest(range(1, {EMB_DIM + 1})) AS u(i)
), cm AS (
  SELECT label, i, avg(v) AS mv FROM flat GROUP BY label, i
), cent AS (
  SELECT label, list(mv ORDER BY i) AS c FROM cm GROUP BY label
), probe AS (
  SELECT label FROM cent, q ORDER BY {_l2_sql('c', 'qv')} ASC, label ASC LIMIT {N_PROBE}
)
SELECT e.vec_id AS id, round({_cosine_sql('e.embedding', 'qv')}, 6) AS cos_sim
FROM embeddings e, q
WHERE e.label IN (SELECT label FROM probe)
ORDER BY round({_cosine_sql('e.embedding', 'qv')}, 6) DESC, e.vec_id LIMIT {K}
"""


# -----------------------------------------------------------------------------
# embed_outliers: distance-to-own-centroid scoring — the embedding-space
# curation op (flag members far from their cluster center before training).
# Centroid dims are ROUNDED to 6 before the distance so both engines fold
# identical doubles (cross-row avg order is the only nondeterministic sum;
# rounding pins it).  One groupBy(label) with packed per-dimension avgs
# (map-side combine) + a broadcast join back — no row explosion.
# -----------------------------------------------------------------------------


def q_embed_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from simsearch_spark.functions.measures import euclidean_distance

    emb = load_table(spark, sf_dir, "embeddings")
    aggs = [
        F.round(F.avg(F.col("embedding").getItem(i).cast("double")), 6).alias(f"_c{i}")
        for i in range(EMB_DIM)
    ]
    cent = (
        emb.groupBy("label")
        .agg(*aggs)
        .select("label", F.array(*[F.col(f"_c{i}") for i in range(EMB_DIM)]).alias("centroid"))
    )
    # no kernel fan-out: the centroid distance is a codegen'd JVM
    # expression behind a broadcast join — cheaper than a shuffle of the
    # embedding payloads (r14 site A/B: 1.38 s fanned vs 1.28 s direct,
    # and the 4-leg A/B showed +0.25 s stable with the fan-out)
    joined = emb.join(F.broadcast(cent), "label")
    dist = euclidean_distance(F.col("embedding"), F.col("centroid"))
    return joined.select(
        "vec_id", "label", F.round(dist, 6).alias("centroid_dist")
    )


SQL_EMBED_OUTLIERS = f"""
WITH flat AS (
  SELECT label, i, embedding[i]::DOUBLE AS v
  FROM embeddings, unnest(range(1, {EMB_DIM + 1})) AS u(i)
), cm AS (
  SELECT label, i, round(avg(v), 6) AS mv FROM flat GROUP BY label, i
), cent AS (
  SELECT label, list(mv ORDER BY i) AS c FROM cm GROUP BY label
)
SELECT e.vec_id, e.label, round({_l2_sql('e.embedding', 'c')}, 6) AS centroid_dist
FROM embeddings e JOIN cent ON e.label = cent.label
"""


# -----------------------------------------------------------------------------
# ann_multi_query_topk: batch retrieval — Q queries, one corpus scan
# -----------------------------------------------------------------------------

MULTI_QUERY_IDS = (3, 7, 11)


def q_ann_multi_query_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-k per query for a batch of query vectors
    (operators/ann.py::multi_query_cosine_topk): one Arrow-kernel corpus
    pass emits batch-local per-query top-k, a tournament window ranks the
    survivors — Q scans collapse into one."""
    from simsearch_spark.operators.ann import multi_query_cosine_topk

    emb = load_table(spark, sf_dir, "embeddings")
    qrows = emb.where(F.col("vec_id").isin(*MULTI_QUERY_IDS)).select("vec_id", "embedding").collect()
    queries = sorted((int(r.vec_id), [float(x) for x in r.embedding]) for r in qrows)
    # no kernel fan-out: the per-query cosines are codegen'd JVM
    # expressions — cheaper than a shuffle of the embedding payloads
    # (r14 A/B: 0.76 s fanned vs 0.58 s direct at sf0.1)
    out = multi_query_cosine_topk(emb, "vec_id", "embedding", queries, K)
    return out.select("query_id", F.col("vec_id").alias("id"), "cos_sim", "rank")


SQL_ANN_MULTI_QUERY_TOPK = f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qv FROM embeddings
  WHERE vec_id IN {MULTI_QUERY_IDS}
), s AS (
  SELECT q.query_id, e.vec_id AS id,
         round({_cosine_sql('e.embedding', 'qv')}, 6) AS cos_sim,
         row_number() OVER (
           PARTITION BY q.query_id
           ORDER BY round({_cosine_sql('e.embedding', 'qv')}, 6) DESC, e.vec_id ASC
         ) AS rank
  FROM embeddings e CROSS JOIN q
)
SELECT query_id, id, cos_sim, rank FROM s WHERE rank <= {K}
"""


IVF_QUERIES = {
    "ann_ivf_topk": (q_ivf_topk, SQL_IVF_TOPK),
    "embed_outliers": (q_embed_outliers, SQL_EMBED_OUTLIERS),
    "ann_multi_query_topk": (q_ann_multi_query_topk, SQL_ANN_MULTI_QUERY_TOPK),
}
