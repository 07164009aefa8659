"""Similarity search over embedding columns (ANN).

Baseline: brute-force cosine top-k — a single column-expression pass +
TakeOrderedAndProject; this is exact and already the right answer for
one-off queries at any scale that can afford a scan.

Scale path: sign-LSH (random hyperplanes) bucketing.  Each vector gets a
b-bit signature (sign of dot with b fixed hyperplanes); a query probes its
own bucket plus all buckets within `probe_hamming` bits (multi-probe), and
only those rows get exact-scored.  Persisting the table partitioned by
`bucket` makes the probe a partition-pruned read — the scan never touches
the rest of the corpus.  Hyperplanes come from a fixed LCG (deterministic,
literal-expressible in oracle SQL).

IVF variant: coarse centroids (here: the fixture's `label` k-means-style
clusters, or any precomputed centroid map) → probe nearest `n_probe`
centroids → exact-score members.  Same plan shape as LSH with a learned
quantizer.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from simsearch_spark.functions import measures
from simsearch_spark.operators.kmeans import probe_cells


def lcg_hyperplanes(dim: int, n_planes: int, seed: int = 7) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes in [-1, 1]^dim from a fixed
    LCG — no RNG at query time; values are embeddable as literals in both
    Spark plans and oracle SQL."""
    state = seed
    planes = []
    for _ in range(n_planes):
        v = []
        for _ in range(dim):
            state = (state * 6364136223846793005 + 1442695040888963407) % (2**63)
            v.append(round((state % 2_000_001) / 1_000_000.0 - 1.0, 6))
        planes.append(v)
    return planes


def lsh_bucket(vec: Column, planes: list[list[float]]) -> Column:
    """Sign-LSH bucket id: bit_i = 1 iff dot(vec, plane_i) > 0.  At most
    63 planes — the id is a signed 64-bit key (bit 63 would overflow);
    wider signatures mean multiple bucket columns, not a wider int."""
    if len(planes) > 63:
        raise ValueError(f"{len(planes)} hyperplanes > 63-bit signed bucket key")
    acc = F.lit(0).cast("long")
    for i, plane in enumerate(planes):
        pv = F.array(*[F.lit(float(x)) for x in plane])
        d = measures.dot_product(vec, pv)
        acc = acc + F.when(d > 0, F.lit(2**i).cast("long")).otherwise(F.lit(0).cast("long"))
    return acc


def cosine_topk(
    df: DataFrame, id_col: str, vec_col: str, query_vec: list[float], k: int
) -> DataFrame:
    """Exact brute-force cosine top-k (the correctness baseline every ANN
    variant is measured against)."""
    qv = F.array(*[F.lit(float(x)) for x in query_vec])
    score = F.round(measures.cosine_similarity(F.col(vec_col), qv), 6)
    return (
        df.withColumn("cos_sim", score)
        .orderBy(F.col("cos_sim").desc(), F.col(id_col).asc())
        .limit(k)
        .select(id_col, "cos_sim")
    )


def lsh_cosine_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query_vec: list[float],
    k: int,
    planes: list[list[float]],
    probe_hamming: int = 1,
) -> DataFrame:
    """Approximate cosine top-k: probe buckets within `probe_hamming` bits of
    the query bucket, exact-score only those rows.

    The bucket filter is a plain predicate on a persisted column → partition
    pruning at scale.  Recall grows with probe_hamming (0 = single bucket).
    """
    bucket = lsh_bucket(F.col(vec_col), planes)
    bucketed = df.withColumn("bucket", bucket)
    q_bits = sum(
        (1 << i)
        for i, plane in enumerate(planes)
        if sum(a * b for a, b in zip(query_vec, plane)) > 0
    )
    probe = F.bit_count(F.col("bucket").bitwiseXOR(F.lit(q_bits))) <= probe_hamming
    qv = F.array(*[F.lit(float(x)) for x in query_vec])
    score = F.round(measures.cosine_similarity(F.col(vec_col), qv), 6)
    return (
        bucketed.where(probe)
        .withColumn("cos_sim", score)
        .orderBy(F.col("cos_sim").desc(), F.col(id_col).asc())
        .limit(k)
        .select(id_col, "cos_sim", "bucket")
    )


def multi_query_cosine_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    queries: list[tuple[int, list[float]]],
    k: int,
) -> DataFrame:
    """Exact top-k per query for a BATCH of query vectors in one corpus scan.

    The retrieval-at-scale shape: Q queries amortize a single pass instead
    of Q separate scans.  An Arrow kernel scores each record batch against
    the broadcast Q×D query matrix and emits only each batch's top-k per
    query (plus a 2e-6 guard band so the authoritative JVM round-6 ordering
    can never disagree with the batch-local pruning); the global stage ranks
    (batches × k) survivors per query — a tournament top-k, never a
    corpus-sized shuffle.

    Exactness contract: dot products and norms replay the JVM left-fold
    (ascending-dimension rank-1 updates, one IEEE add per element per step —
    the same fold ``measures.dot_product``/``l2_norm`` evaluate and the
    DuckDB oracle's ``list_reduce`` replays), so raw cosines are
    bit-identical across engines and the final ``F.round(·, 6)`` ordering
    matches the oracle's.
    """
    from pyspark.sql.window import Window

    qids = [int(q) for q, _v in queries]
    qvecs = [[float(x) for x in v] for _q, v in queries]
    id_dtype = dict(df.dtypes)[id_col]

    def score(batches):
        import numpy as np
        import pandas as pd

        Qm = np.array(qvecs, dtype=np.float64)  # Q×D
        qn = np.empty(len(qids), dtype=np.float64)
        for qi, vec in enumerate(qvecs):
            acc = 0.0
            for x in vec:
                acc = acc + x * x
            qn[qi] = acc ** 0.5
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.array([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            n, d = V.shape
            dot = np.zeros((n, len(qids)), dtype=np.float64)
            nsq = np.zeros(n, dtype=np.float64)
            for j in range(d):  # ascending-dim left fold == JVM aggregate
                col = V[:, j]
                dot += col[:, None] * Qm[None, :, j]
                nsq += col * col
            denom = np.sqrt(nsq)[:, None] * qn[None, :]
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = np.where(denom == 0.0, 0.0, dot / denom)
            ids = pdf[id_col].values
            out_q, out_id, out_raw = [], [], []
            for qi, qid in enumerate(qids):
                c = cos[:, qi]
                if n > k:
                    kth = np.partition(c, n - k)[n - k]
                    keep = np.nonzero(c >= kth - 2e-6)[0]
                else:
                    keep = np.arange(n)
                out_q.extend([qid] * len(keep))
                out_id.extend(ids[keep])
                out_raw.extend(c[keep])
            yield pd.DataFrame({"query_id": out_q, id_col: out_id, "cos_raw": out_raw})

    survivors = df.select(id_col, vec_col).mapInPandas(
        score, f"query_id long, {id_col} {id_dtype}, cos_raw double"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.round("cos_raw", 6).desc(), F.col(id_col).asc()
    )
    return (
        survivors.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", id_col, F.round("cos_raw", 6).alias("cos_sim"), "rank")
    )


def ivf_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: dict[int, list[float]],
    query_vec: list[float],
    k: int,
    n_probe: int = 1,
    assign_col: str = "label",
) -> DataFrame:
    """IVF: probe the `n_probe` centroids nearest the query
    (``kmeans.probe_cells``), exact-score their members.  `centroids` is
    the cell id → centroid map; rows are routed by their persisted
    assignment `assign_col`, a pushable ``IN`` filter — one scan, no join.
    """
    probe_ids = probe_cells(centroids, query_vec, n_probe)
    qv = F.array(*[F.lit(float(x)) for x in query_vec])
    score = F.round(measures.cosine_similarity(F.col(vec_col), qv), 6)
    return (
        df.where(F.col(assign_col).isin(probe_ids))
        .withColumn("cos_sim", score)
        .orderBy(F.col("cos_sim").desc(), F.col(id_col).asc())
        .limit(k)
        .select(id_col, "cos_sim")
    )


def valid_embeddings(df: DataFrame, vec_col: str = "embedding", dim: int | None = None) -> DataFrame:
    """Filter to structurally VALID embeddings: non-null, uniform dimension
    (probed from the first non-null row when not given), every element
    finite.  This is the explicit validation stage every embedding consumer
    in this engine assumes — vector kernels batch rows into fixed-shape
    numpy/Arrow arrays and codegen distance trees, where a NULL, ragged, or
    NaN/Inf vector is a structural error, not a data point (embeddings come
    from a fixed-dim model; a corrupt row means a broken producer).  Run it
    once after ingest, the way a schema check runs — pure codegen column
    predicates, no UDF, no shuffle."""
    if dim is None:
        row = df.where(F.col(vec_col).isNotNull()).select(F.size(vec_col)).first()
        if row is None:
            return df.where(F.lit(False))
        dim = int(row[0])
    v = F.col(vec_col)
    inf = F.lit(float("inf")).cast("double")
    bad = F.exists(
        v,
        # exact Inf test — a magnitude threshold like 1e308 would reject
        # legitimate finite doubles in (1e308, DBL_MAX≈1.797e308]
        lambda x: F.isnan(x.cast("double")) | (F.abs(x.cast("double")) == inf),
    )
    return df.where(v.isNotNull() & (F.size(v) == F.lit(dim)) & ~bad)
