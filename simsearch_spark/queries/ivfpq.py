"""Declared query: composed IVF-PQ ANN serving — the actual billion-scale
retrieval shape both halves were built for (Jégou, Douze, Schmid 2011 §V;
the FAISS ``IndexIVFPQ`` recipe): coarse IVF routing prunes the corpus to
``N_PROBE`` cells, the PQ ADC scan ranks only those cells' codes, and an
exact rescore of the bounded candidate set returns the true-cosine top-k.

The oracle replays the ENTIRE composition in SQL: the bounded-sample PQ
training chains (every Lloyd pass unrolled, queries/cluster.py), centroid
training + probe selection (queries/ivf.py's shape), the cell-filtered ADC
scan with the same left-fold LUT arithmetic, and the exact rerank — so
routing, compression, scanning, and rescoring all hold a driver verdict
together, not just the final ordering.

This module also hosts ``ann_recall_audit`` (moved from queries/ivf.py):
the audit now measures all THREE approximate paths — sign-LSH, IVF, and
IVF-PQ — against the exact scan, and importing the PQ machinery here keeps
queries/ivf.py free of a circular import (cluster.py imports ivf.py).

Reference parity note: the reference engine has no quantized ANN (its
vector path is pivot-based exact k-NN, ``pivoting/``); IVF-PQ completes
the LLM-pipeline ANN family (SURVEY.md §8) as its scale-serving member.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from simsearch_spark.queries.cluster import (
    _l2sq_sql,
    PQ_ITERS,
    PQ_KSUB,
    PQ_M,
    PQ_TRAIN_N,
)
from simsearch_spark.queries.core import K
from simsearch_spark.queries.ivf import (
    _centroid_map,
    EMB_DIM,
    IVF_QUERY_ID,
    N_PROBE,
    SQL_IVF_TOPK,  # noqa: F401  (re-exported context for readers)
)
from simsearch_spark.queries.vector import _cosine_sql, _l2_sql
from simsearch_spark.sources.registry import load_table

#: exact-rescore depth: the ADC scan keeps this many candidates for the
#: true-cosine rerank — 3x the served k, the standard recall/read-volume
#: trade (driver state stays O(RERANK))
RERANK = 30

_DSUB = EMB_DIM // PQ_M


def _centroids6(emb: DataFrame) -> DataFrame:
    """Per-label centroids with every dimension ROUND-6 PINNED — the
    residual-mode determinism contract (an unrounded float avg folds
    differently per plan/engine; rounding pins the doubles both engines
    subtract).  Same construction as q_embed_outliers' centroid frame."""
    aggs = [
        F.round(F.avg(F.col("embedding").getItem(i).cast("double")), 6).alias(f"_c{i}")
        for i in range(EMB_DIM)
    ]
    return (
        emb.groupBy("label")
        .agg(*aggs)
        .select(
            F.col("label").alias("cluster_id"),
            F.array(*[F.col(f"_c{i}") for i in range(EMB_DIM)]).alias("centroid"),
        )
    )


def _centroid_map6(emb: DataFrame) -> dict[int, list[float]]:
    """``_centroids6`` collected ONCE as the cell id → centroid map
    (bounded: n_cells × dim) — shared by residual training, probe
    selection, and the residual when-chains, so the centroid aggregation
    runs exactly one Spark job per query (guide §1.2: it used to rerun
    under the training passes, the probe collect, and the plan
    when-chains before the r14 restructure)."""
    return {int(r[0]): [float(x) for x in r[1]] for r in _centroids6(emb).collect()}


def _sample_rows(emb: DataFrame) -> list:
    """The bounded lowest-id PQ training sample, collected in one job
    (≤PQ_TRAIN_N rows; the ``pq_training_sample`` contract with the label
    kept for the residual subtraction)."""
    return (
        emb.orderBy("vec_id")
        .limit(PQ_TRAIN_N)
        .select("vec_id", "label", "embedding")
        .collect()
    )


def _train_books_residual_rows(
    sample_rows: list, cmap: dict[int, list[float]]
) -> list[dict[int, list[float]]]:
    """PQ codebooks over RESIDUALS ``v − centroid(label)`` of the bounded
    lowest-id sample — the FAISS IndexIVFPQ training recipe, computed
    driver-side from the collected sample (r14: the residual subtraction
    and every Lloyd pass are arithmetic over ≤PQ_TRAIN_N·dim doubles; the
    former broadcast join + persisted frame + per-pass Spark jobs were
    pure scheduling latency — equivalence pinned in tests/test_pq.py).
    Rows whose label has no centroid are dropped, exactly like the former
    inner join."""
    from simsearch_spark.operators.pq import pq_train_rows

    res_rows = []
    for r in sample_rows:
        lab = r["label"]
        if lab not in cmap:
            continue
        vec = [float(x) for x in r["embedding"]]
        cent = cmap[lab]
        res_rows.append(
            (int(r["vec_id"]), [x - m for x, m in zip(vec, cent)])
        )
    return pq_train_rows(res_rows, m=PQ_M, ksub=PQ_KSUB, iters=PQ_ITERS)


def q_ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ top-k with RESIDUAL encoding (operators/pq.py::ivf_pq_topk,
    the full FAISS IndexIVFPQ semantic): round-6-pinned label-mean IVF
    centroids route the query to its ``N_PROBE`` nearest cells; PQ
    codebooks trained on the bounded sample's RESIDUALS ``v − centroid``
    ADC-scan only those cells with one LUT per probed cell (built from
    ``q − centroid(cell)``); the best ``RERANK`` ADC candidates are
    exact-rescored to the true-cosine top-``K``.  Bytes scanned ∝
    n_probe/n_cells, never N — the predicate is pushed to the parquet
    scan (plan-asserted, tests/test_pq.py)."""
    from simsearch_spark.operators.pq import ivf_pq_topk

    # persisted: scanned by the qvec probe, the centroid aggregation, the
    # bounded-sample collect, and the final cell-filtered serve plan
    emb = load_table(spark, sf_dir, "embeddings").persist()
    try:
        qvec = [float(x) for x in emb.where(F.col("vec_id") == IVF_QUERY_ID).first().embedding]
        cmap = _centroid_map6(emb)
        books = _train_books_residual_rows(_sample_rows(emb), cmap)
        out = ivf_pq_topk(
            emb, "vec_id", "embedding", cmap, books, qvec, K,
            n_probe=N_PROBE, rerank=RERANK, assign_col="label",
        )
        # K rows — materialize eagerly so the session-scoped caches can be
        # dropped here instead of leaking across queries (ADVICE r10)
        return out.select(
            F.col("vec_id").alias("id"), "adc_dist", "cos_sim"
        ).localCheckpoint(eager=True)
    finally:
        emb.unpersist()


def _pq_res_sub_ctes(j: int) -> str:
    """Per-subspace unrolled Lloyd chain over RESIDUAL slices — the
    queries/cluster.py ``_pq_sub_ctes`` construction with the slice source
    replaced by ``embedding[i] − pcent6(label)[i]``: training reads the
    bounded sample CTE ``tr``'s residuals (``t{j}``), the terminal
    assignment ``af{j}`` scores EVERY row's residual slice (``e{j}``)
    against the final codebook, exactly like the operator's
    ``pq_encode(residuals)``."""
    a, b = j * _DSUB + 1, (j + 1) * _DSUB
    res = (
        f"list_transform(range({a}, {b + 1}), "
        f"i -> e.embedding[i]::DOUBLE - c6.c[i])"
    )
    sql = f"""t{j} AS (SELECT e.vec_id, {res} AS s FROM tr e JOIN pcent6 c6 ON e.label = c6.label),
e{j} AS (SELECT e.vec_id, {res} AS s FROM embeddings e JOIN pcent6 c6 ON e.label = c6.label),
c0x{j} AS (
  SELECT (row_number() OVER (ORDER BY vec_id) - 1)::INT AS cluster_id,
         list_transform(s, x -> round(x::DOUBLE, 6)) AS c
  FROM (SELECT vec_id, s FROM t{j} ORDER BY vec_id LIMIT {PQ_KSUB})
)"""
    prev = f"c0x{j}"
    for it in range(1, PQ_ITERS + 1):
        sql += f""",
a{it}x{j} AS (
  SELECT vec_id, cluster_id,
         row_number() OVER (PARTITION BY vec_id ORDER BY dist ASC, cluster_id ASC) AS rn
  FROM (SELECT e.vec_id, c.cluster_id, {_l2_sql('e.s', 'c.c')} AS dist
        FROM t{j} e, {prev} c)
),
m{it}x{j} AS (
  SELECT s.cluster_id, u.i, round(avg(e.s[u.i]::DOUBLE), 6) AS mv
  FROM (SELECT vec_id, cluster_id FROM a{it}x{j} WHERE rn = 1) s
  JOIN t{j} e USING (vec_id), unnest(range(1, {_DSUB + 1})) AS u(i)
  GROUP BY s.cluster_id, u.i
),
cn{it}x{j} AS (SELECT cluster_id, list(mv ORDER BY i) AS c FROM m{it}x{j} GROUP BY cluster_id),
c{it}x{j} AS (
  SELECT p.cluster_id, coalesce(n.c, p.c) AS c
  FROM {prev} p LEFT JOIN cn{it}x{j} n USING (cluster_id)
)"""
        prev = f"c{it}x{j}"
    sql += f""",
af{j} AS (
  SELECT vec_id, cluster_id, dist,
         row_number() OVER (PARTITION BY vec_id ORDER BY dist ASC, cluster_id ASC) AS rn
  FROM (SELECT e.vec_id, c.cluster_id, {_l2_sql('e.s', 'c.c')} AS dist
        FROM e{j} e, {prev} c)
)"""
    return sql


def _ivfpq_train_ctes() -> str:
    """The query-INDEPENDENT training prefix (no leading ``WITH``): the
    bounded lowest-id sample, round-6 centroid training, and all m
    residual Lloyd chains with their terminal corpus assignments — shared
    verbatim by the single-query oracle, the recall audit, and the batch
    multi-query oracle (one training, Q serving fragments, exactly like
    the engine)."""
    chains = ",\n".join(_pq_res_sub_ctes(j) for j in range(PQ_M))
    sels = ",\n".join(
        f"sel{j} AS (SELECT vec_id, cluster_id FROM af{j} WHERE rn = 1)"
        for j in range(PQ_M)
    )
    return f"""tr AS (SELECT vec_id, label, embedding FROM embeddings ORDER BY vec_id LIMIT {PQ_TRAIN_N}),
pflat AS (
  SELECT label, i, embedding[i]::DOUBLE AS v
  FROM embeddings, unnest(range(1, {EMB_DIM + 1})) AS u(i)
),
pcm AS (SELECT label, i, round(avg(v), 6) AS mv FROM pflat GROUP BY label, i),
pcent6 AS (SELECT label, list(mv ORDER BY i) AS c FROM pcm GROUP BY label),
{chains},
{sels}"""


def _ivfpq_query_frag(query_id: int, n_probe: int, rerank: int, tag: str = "") -> str:
    """The per-QUERY serving fragment: probe selection, the probed-cell
    ADC scan (each row's d_j measures the QUERY RESIDUAL against that
    row's assigned residual centroid), and the rerank cut.  CTE names take
    a ``tag`` suffix so Q fragments compose into one batch oracle."""
    dists = ", ".join(
        _l2sq_sql(
            f"list_transform(range({j * _DSUB + 1}, {(j + 1) * _DSUB + 1}), "
            f"i -> pqv[i]::DOUBLE - ct.c[i])",
            f"cb{j}.c",
        )
        + f" AS d{j}"
        for j in range(PQ_M)
    )
    joins = " ".join(
        f"JOIN sel{j} USING (vec_id) "
        f"JOIN c{PQ_ITERS}x{j} cb{j} ON cb{j}.cluster_id = sel{j}.cluster_id"
        for j in range(PQ_M)
    )
    total = " + ".join(f"d{j}" for j in range(PQ_M))
    return f"""pqq{tag} AS (SELECT embedding AS pqv FROM embeddings WHERE vec_id = {query_id}),
pprobe{tag} AS (
  SELECT label FROM pcent6, pqq{tag} ORDER BY {_l2_sql('c', 'pqv')} ASC, label ASC LIMIT {n_probe}
),
padc{tag} AS (
  SELECT e.vec_id, e.embedding, {dists}
  FROM embeddings e JOIN pcent6 ct ON e.label = ct.label {joins}, pqq{tag}
  WHERE e.label IN (SELECT label FROM pprobe{tag})
),
ivfpq_cand{tag} AS (
  SELECT vec_id, embedding, round(sqrt({total}), 6) AS adc_dist
  FROM padc{tag} ORDER BY adc_dist ASC, vec_id ASC LIMIT {rerank}
)"""


def _ivfpq_cand_ctes(query_id: int, n_probe: int, rerank: int) -> str:
    """WITH-fragment (no leading ``WITH``) ending in
    ``ivfpq_cand(vec_id, embedding, adc_dist)`` — the full RESIDUAL IVF-PQ
    replay up to the rerank input: round-6 centroid training, probe
    selection, bounded-sample residual training chains, cell filter, and
    the per-cell ADC fold.  CTE names are prefixed (``pqq``, ``pprobe``,
    …) so the fragment composes into the recall-audit oracle without
    clashing with its own CTEs."""
    return (
        _ivfpq_train_ctes()
        + ",\n"
        + _ivfpq_query_frag(query_id, n_probe, rerank)
    )


SQL_ANN_IVFPQ_TOPK = f"""
WITH {_ivfpq_cand_ctes(IVF_QUERY_ID, N_PROBE, RERANK)}
SELECT c.vec_id AS id, c.adc_dist,
       round({_cosine_sql('c.embedding', 'pqv')}, 6) AS cos_sim
FROM ivfpq_cand c, pqq
ORDER BY cos_sim DESC, c.vec_id ASC LIMIT {K}
"""


# -----------------------------------------------------------------------------
# ann_ivfpq_multi_topk: BATCH IVF-PQ serving — Q queries, one cell-routed scan
# -----------------------------------------------------------------------------


def q_ann_ivfpq_multi_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch residual IVF-PQ (operators/pq.py::ivf_pq_multi_topk): the
    MULTI_QUERY_IDS batch routes to the UNION of its probed cells and is
    served by ONE pushed-filter scan — Q query-residual LUT folds share
    the per-row encode; per-query rerank + exact cosine rescore follow.
    The oracle replays the shared training ONCE and each query's probe/
    ADC/rerank fragment verbatim (the same train-once/serve-Q split the
    engine executes)."""
    from simsearch_spark.operators.pq import ivf_pq_multi_topk
    from simsearch_spark.queries.ivf import MULTI_QUERY_IDS

    emb = load_table(spark, sf_dir, "embeddings").persist()
    try:
        qrows = (
            emb.where(F.col("vec_id").isin(*MULTI_QUERY_IDS))
            .select("vec_id", "embedding")
            .collect()
        )
        qs = sorted((int(r.vec_id), [float(x) for x in r.embedding]) for r in qrows)
        cmap = _centroid_map6(emb)
        books = _train_books_residual_rows(_sample_rows(emb), cmap)
        out = ivf_pq_multi_topk(
            emb, "vec_id", "embedding", cmap, books,
            qs, K, n_probe=N_PROBE, rerank=RERANK, assign_col="label",
        )
        return out.select(
            "query_id", F.col("vec_id").alias("id"), "adc_dist", "cos_sim", "rank"
        ).localCheckpoint(eager=True)
    finally:
        emb.unpersist()


def _multi_oracle() -> str:
    from simsearch_spark.queries.ivf import MULTI_QUERY_IDS

    frags = ",\n".join(
        _ivfpq_query_frag(qid, N_PROBE, RERANK, tag=f"_q{qid}")
        for qid in sorted(MULTI_QUERY_IDS)
    )
    arms = "\n  UNION ALL\n".join(
        f"""  SELECT {qid} AS query_id, c.vec_id AS id, c.adc_dist,
         round({_cosine_sql('c.embedding', 'pqv')}, 6) AS cos_sim
  FROM ivfpq_cand_q{qid} c, pqq_q{qid}"""
        for qid in sorted(MULTI_QUERY_IDS)
    )
    return f"""
WITH {_ivfpq_train_ctes()},
{frags},
am AS (
{arms}
)
SELECT query_id, id, adc_dist, cos_sim,
       row_number() OVER (
         PARTITION BY query_id ORDER BY cos_sim DESC, id ASC
       )::INT AS rank
FROM am
QUALIFY rank <= {K}
ORDER BY query_id, rank
"""


SQL_ANN_IVFPQ_MULTI_TOPK = _multi_oracle()


# -----------------------------------------------------------------------------
# ann_recall_audit: recall@k of every approximate ANN path vs brute force
# (moved from queries/ivf.py; the ivfpq arm is new)
# -----------------------------------------------------------------------------


def q_ann_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured retrieval quality of the three approximate ANN paths — the
    audit every production deployment runs before trusting an index:
    recall@k of sign-LSH (multi-probe hamming<=1), IVF (n_probe
    centroids), and composed IVF-PQ (cell-routed ADC + exact rerank)
    against the exact brute-force top-k, for the same query vector the
    declared ANN queries use.  All candidate frames are k rows, so the
    audit joins are constant-sized; the only corpus-scale work is the
    scans the audited paths themselves perform.

    Expected numbers on the SYNTHETIC fixtures are low (~0.1-0.2): the
    embeddings are near-uniform random, so LSH buckets and the label-based
    IVF cells correlate weakly with true cosine neighborhoods — precisely
    the situation the audit exists to expose before anyone trusts an
    index.  On clustered real-corpus embeddings the same paths recover
    high recall; the tuning levers are probe_hamming (LSH), n_probe (IVF,
    IVF-PQ), and rerank depth (IVF-PQ), each trading read volume for
    recall monotonically.  IVF-PQ's recall is capped by its IVF routing
    (same probed cells) and approaches the IVF arm from below as rerank
    grows — visible directly in the report."""
    emb = load_table(spark, sf_dir, "embeddings").persist()
    try:
        return _recall_audit_body(spark, sf_dir, emb).localCheckpoint(eager=True)
    finally:
        emb.unpersist()


def _recall_audit_body(spark: SparkSession, sf_dir: str, emb: DataFrame) -> DataFrame:
    from simsearch_spark.operators.ann import cosine_topk, ivf_topk, lsh_cosine_topk
    from simsearch_spark.operators.pq import ivf_pq_topk
    from simsearch_spark.queries.pipeline import ANN_QUERY_ID, PLANES

    qvec = [float(x) for x in emb.where(F.col("vec_id") == ANN_QUERY_ID).first().embedding]
    cents = _centroid_map(spark, sf_dir)
    exact = cosine_topk(emb, "vec_id", "embedding", qvec, K).select(F.col("vec_id").alias("id"))
    lsh = lsh_cosine_topk(emb, "vec_id", "embedding", qvec, K, PLANES, probe_hamming=1).select(
        F.lit("lsh").alias("method"), F.col("vec_id").alias("id")
    )
    ivf = ivf_topk(
        emb, "vec_id", "embedding", cents, qvec, K,
        n_probe=N_PROBE, assign_col="label",
    ).select(F.lit("ivf").alias("method"), F.col("vec_id").alias("id"))
    cmap6 = _centroid_map6(emb)
    books = _train_books_residual_rows(_sample_rows(emb), cmap6)
    ivfpq = ivf_pq_topk(
        emb, "vec_id", "embedding", cmap6, books,
        qvec, K, n_probe=N_PROBE, rerank=RERANK, assign_col="label",
    ).select(F.lit("ivfpq").alias("method"), F.col("vec_id").alias("id"))
    hits = (
        lsh.unionByName(ivf).unionByName(ivfpq)
        .join(exact, "id", "left_semi")
        .groupBy("method")
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    methods = spark.createDataFrame([("lsh",), ("ivf",), ("ivfpq",)], "method string")
    n_hit = F.coalesce(F.col("n_hit"), F.lit(0).cast("long"))
    return methods.join(hits, "method", "left").select(
        "method",
        F.lit(K).alias("k"),
        n_hit.alias("n_hit"),
        F.round(n_hit.cast("double") / F.lit(float(K)), 6).alias("recall"),
    )


def _recall_oracle() -> str:
    from simsearch_spark.queries.pipeline import (
        ANN_QUERY_ID,
        lsh_bucket_sql,
        lsh_plane_cols_sql,
    )

    cos = _cosine_sql("e.embedding", "qv")
    return f"""
WITH planes AS (SELECT {lsh_plane_cols_sql()}),
q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = {ANN_QUERY_ID}),
exact AS (
  SELECT e.vec_id AS id FROM embeddings e, q
  ORDER BY round({cos}, 6) DESC, e.vec_id LIMIT {K}
),
qb AS (SELECT {lsh_bucket_sql('qv')} AS qbucket FROM q, planes),
lsh AS (
  SELECT e.vec_id AS id FROM embeddings e, q, qb, planes
  WHERE bit_count(xor({lsh_bucket_sql('e.embedding')}, qbucket)) <= 1
  ORDER BY round({cos}, 6) DESC, e.vec_id LIMIT {K}
),
flat AS (
  SELECT label, i, embedding[i]::DOUBLE AS v
  FROM embeddings, unnest(range(1, {EMB_DIM + 1})) AS u(i)
), cm AS (
  SELECT label, i, avg(v) AS mv FROM flat GROUP BY label, i
), cent AS (
  SELECT label, list(mv ORDER BY i) AS c FROM cm GROUP BY label
), probe AS (
  SELECT label FROM cent, q ORDER BY {_l2_sql('c', 'qv')} ASC, label ASC LIMIT {N_PROBE}
),
ivf AS (
  SELECT e.vec_id AS id FROM embeddings e, q
  WHERE e.label IN (SELECT label FROM probe)
  ORDER BY round({cos}, 6) DESC, e.vec_id LIMIT {K}
),
{_ivfpq_cand_ctes(ANN_QUERY_ID, N_PROBE, RERANK)},
ivfpq AS (
  SELECT c.vec_id AS id FROM ivfpq_cand c, pqq
  ORDER BY round({_cosine_sql('c.embedding', 'pqv')}, 6) DESC, c.vec_id ASC LIMIT {K}
),
am AS (
  SELECT 'lsh' AS method, id FROM lsh
  UNION ALL
  SELECT 'ivf' AS method, id FROM ivf
  UNION ALL
  SELECT 'ivfpq' AS method, id FROM ivfpq
),
hits AS (
  SELECT method, count(*)::BIGINT AS n_hit FROM am
  WHERE id IN (SELECT id FROM exact) GROUP BY method
)
SELECT m.method, {K} AS k, coalesce(h.n_hit, 0)::BIGINT AS n_hit,
       round(coalesce(h.n_hit, 0)::DOUBLE / {K}, 6) AS recall
FROM (VALUES ('lsh'), ('ivf'), ('ivfpq')) m(method) LEFT JOIN hits h USING (method)
"""


SQL_ANN_RECALL_AUDIT = _recall_oracle()


IVFPQ_QUERIES = {
    "ann_ivfpq_topk": (q_ann_ivfpq_topk, SQL_ANN_IVFPQ_TOPK),
    "ann_ivfpq_multi_topk": (q_ann_ivfpq_multi_topk, SQL_ANN_IVFPQ_MULTI_TOPK),
    "ann_recall_audit": (q_ann_recall_audit, SQL_ANN_RECALL_AUDIT),
}
