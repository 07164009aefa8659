"""Deterministic distributed k-means (Lloyd's) over an embedding column.

The document-clustering step of a training-data pipeline (domain discovery,
cluster-balanced sampling, dedup-block seeding).  Same execution shape as
Spark MLlib's KMeans — per iteration: one corpus pass to assign points to
broadcast centroids, one groupBy to re-average them — but fully
deterministic so a SQL oracle can replay it bit-for-bit:

- init = the embeddings of the ``k`` LOWEST ids (no RNG);
- assignment = strict-``<`` argmin over L2, which keeps the lowest
  cluster id on ties (the oracle's ``row_number() ORDER BY dist,
  cluster_id`` is the identical rule);
- centroid components are ROUNDED to 6 decimals each iteration, pinning
  the only order-nondeterministic float sum (the cross-row mean) so both
  engines fold identical doubles thereafter.

100 TB design: per iteration the corpus is scanned once with map-side
partial aggregation for the means; only k×dim rounded doubles ever reach
the driver (k=8, dim=64 → 512 values), the same bounded-centroid-collect
contract as IVF training (operators/ann.py).  The corpus itself never
shuffles for assignment.  TWO assignment kernels share that contract:

- ``literal`` (k ≤ LITERAL_K_MAX): distances evaluated in whole-stage
  codegen against literal centroid arrays — zero Python, but the codegen
  tree grows with k (k=8 once produced multi-MiB task binaries; see
  `assign_clusters`), so it is capped.
- ``table`` (large k): an Arrow ``mapInPandas`` kernel over a broadcast
  centroid ndarray — task-binary size is O(1) in k, letting k grow with
  the corpus (the published SemDeDup recipe needs 10⁴–10⁵ clusters at
  100 TB).  The kernel replays the engines' exact IEEE arithmetic
  (ascending-index left-fold of ``d*d``, strict-``<`` argmin keeping the
  lowest cluster id) so both paths are BIT-IDENTICAL — equality-tested in
  tests/test_cluster.py.

``kmeans_assign`` picks the table kernel iff k > ``LITERAL_K_MAX``.

The two IVF routing rules every centroid consumer shares live here too:
``nearest_center`` (the strict-``<`` argmin above, as one column) and
``probe_cells`` (the query's probe order) — the declared operators, the
mount and the serve path all call these, so they agree by construction.

Reference scope note: the reference engine has no clustering operator
(clusters arrive pre-labeled, e.g. ``pivoting/` uses data-dependent pivot
selection instead); this is part of the LLM-pipeline extension surface.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from simsearch_spark.functions.measures import euclidean_distance


#: Above this k, literal-centroid codegen trees get JIT-hostile (multi-MiB
#: task binaries) — switch to the broadcast-centroid Arrow kernel.
LITERAL_K_MAX = 32


def _lit_vec(vals: list[float]) -> Column:
    return F.lit([float(v) for v in vals])


def nearest_center(vec: Column, centers: dict[int, list[float]]) -> Column:
    """The nearest center of ``vec`` (L2; lowest id wins ties) as a
    ``struct(dist, id)`` column.

    The argmin is ``array_min`` over (dist, id) structs: Spark's struct
    ordering compares dist first, then id, which is exactly the
    strict-``<``/lowest-id-on-ties rule.  Each center's distance
    expression appears ONCE — a folded when-chain would re-embed every
    prior distance inside each comparison, doubling the codegen tree per
    center (k=8 produced multi-MiB task binaries and dominated runtime
    with JIT compilation, not data)."""
    return F.array_min(
        F.array(
            *[
                F.struct(
                    euclidean_distance(vec, _lit_vec(cvec)).alias("dist"),
                    F.lit(int(cid)).alias("id"),
                )
                for cid, cvec in sorted(centers.items())
            ]
        )
    )


def probe_cells(
    cmap: dict[int, list[float]], query: list[float], n_probe: int
) -> list[int]:
    """The ``n_probe`` cells nearest ``query``, nearest first: L2² to the
    centroid, ties by cell id (a bare stable sort would leak the map's
    order into ties).  Driver-side over the bounded centroid map.  A query
    whose length differs from the centroids' raises — ``zip`` would
    otherwise truncate it silently and route on a prefix."""
    q = [float(x) for x in query]
    for cid, vec in cmap.items():
        if len(vec) != len(q):
            raise ValueError(f"query dim {len(q)} != centroid {cid}'s {len(vec)}")
    by_dist = sorted(
        cmap.items(), key=lambda c: (sum((a - b) ** 2 for a, b in zip(q, c[1])), c[0])
    )
    return [cid for cid, _v in by_dist[:n_probe]]


def assign_clusters(
    df: DataFrame, vec_col: str, centroids: dict[int, list[float]]
) -> DataFrame:
    """Add ``cluster_id`` (``nearest_center``) and ``dist`` columns.  Pure
    column expressions — no shuffle, no UDF."""
    best = nearest_center(F.col(vec_col), centroids)
    return df.withColumn("cluster_id", best["id"]).withColumn("dist", best["dist"])


def assign_clusters_table(
    df: DataFrame, vec_col: str, centroids: dict[int, list[float]]
) -> DataFrame:
    """Large-k assignment: one Arrow ``mapInPandas`` pass against a
    broadcast centroid matrix (closure-captured — k×dim doubles, e.g.
    10⁵×64 ≈ 50 MB at the published SemDeDup scale, well under executor
    memory; NO join, NO shuffle, task-binary size independent of k).

    Bit-identical to `assign_clusters`: squared deltas are accumulated in
    ascending dimension order (the engines' shared left-fold — each
    ``acc += d*d`` numpy op adds dimension j for every (row, centroid)
    pair, so per-element addition order is exactly ``((0+d₀²)+d₁²)+…``),
    and the argmin scans centroids in ascending cluster-id order with
    strict ``<``, keeping the lowest id on ties.

    Pathological inputs never kill the task (ADVICE r7): a null or
    wrong-length embedding distances to +inf everywhere (assigns to the
    lowest cluster id with ``dist = inf``; the literal path yields a null
    ``dist`` there — clean-embedding input is the documented precondition
    for bit-equality), and NaN distances sort last exactly as Spark's
    struct ``array_min`` orders them (finite < inf < NaN)."""
    from pyspark.sql.types import DoubleType, IntegerType, StructField, StructType

    items = sorted(centroids.items())
    cids = [int(cid) for cid, _ in items]
    cmat = [[float(v) for v in cvec] for _, cvec in items]
    out_schema = StructType(
        list(df.schema.fields)
        + [
            StructField("cluster_id", IntegerType(), False),
            # nullable: an all-NaN distance row (NaN element in every
            # centroid / in the vector) surfaces as dist NULL — pandas'
            # NaN is Arrow's missing sentinel, it cannot round-trip as a
            # real NaN through mapInPandas
            StructField("dist", DoubleType(), True),
        ]
    )
    in_cols = [f.name for f in df.schema.fields]

    def proc(batches):
        import numpy as np

        cmx = np.asarray(cmat, dtype=np.float64)  # k × dim
        ids = np.asarray(cids, dtype=np.int64)
        dim = cmx.shape[1]
        for pdf in batches:
            if len(pdf) == 0:
                continue
            # Guard nulls/NaNs so the table path matches the codegen
            # literal path on pathological rows (ADVICE r7): a null or
            # wrong-length embedding distances to +inf (never wins),
            # and NaN elements poison that centroid's distance to +inf
            # (Spark's struct array_min orders NaN last, i.e. never
            # the minimum while any finite distance exists).
            x = np.full((len(pdf), dim), np.inf, dtype=np.float64)
            for i, v in enumerate(pdf[vec_col]):
                if v is None:
                    continue
                a = np.asarray(v, dtype=np.float64)
                if a.shape == (dim,):
                    x[i] = a
            acc = np.zeros((len(pdf), cmx.shape[0]))
            for j in range(dim):  # ascending-index left-fold, per element
                d = x[:, j, None] - cmx[None, :, j]
                acc += d * d
            dist = np.sqrt(acc)
            # first-occurrence argmin over ascending cluster ids == the
            # strict-< / lowest-id-on-ties rule of the literal path.
            # NaN distances (a NaN element in a CENTROID) must sort LAST
            # (Spark: finite < inf < NaN), while np.argmin would return
            # the first NaN index — mask NaN to inf for the scan, then
            # for all-inf rows prefer the first true (non-NaN) inf, as
            # Spark's struct ordering would (ADVICE r7).
            nanmask = np.isnan(dist)
            d2 = np.where(nanmask, np.inf, dist)
            best = np.argmin(d2, axis=1)
            allbad = ~np.isfinite(d2[np.arange(len(pdf)), best])
            if allbad.any():
                true_inf = np.isinf(dist) & ~nanmask
                best[allbad] = np.argmax(true_inf, axis=1)[allbad]
            out = pdf.copy()
            out["cluster_id"] = ids[best].astype("int32")
            out["dist"] = dist[np.arange(len(pdf)), best]
            yield out[in_cols + ["cluster_id", "dist"]]

    return df.mapInPandas(proc, out_schema)


def _rounded_means(assigned: DataFrame, vec_col: str) -> dict[int, list[float]]:
    """Per-cluster element-wise mean, rounded to 6 decimals IN-ENGINE (so the
    driver never re-rounds with Python's banker's rounding).  One corpus
    pass with map-side combine; result is k×dim rows."""
    rows = (
        assigned.select("cluster_id", F.posexplode(F.col(vec_col)).alias("pos", "v"))
        .groupBy("cluster_id", "pos")
        .agg(F.round(F.avg(F.col("v").cast("double")), 6).alias("mv"))
        .collect()
    )
    out: dict[int, dict[int, float]] = {}
    for r in rows:
        out.setdefault(int(r["cluster_id"]), {})[int(r["pos"])] = float(r["mv"])
    return {cid: [d[p] for p in sorted(d)] for cid, d in out.items()}


def kmeans_assign(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 8,
    iters: int = 2,
) -> DataFrame:
    """Run ``iters`` deterministic Lloyd iterations and return ``df`` with
    final ``cluster_id`` + ``dist`` columns.  Empty clusters keep their
    previous centroid (mirrored by the oracle's LEFT JOIN + coalesce).

    Assignment runs the literal codegen kernel up to ``LITERAL_K_MAX``
    clusters and the broadcast Arrow kernel above it; both are
    bit-identical, so the choice is a physical-plan knob."""
    assign = assign_clusters_table if k > LITERAL_K_MAX else assign_clusters
    # persist across the training passes (r14): the seed collect and each
    # Lloyd mean re-scan the frame — without the pin every pass re-runs
    # the caller's lineage (scan + any fan-out exchange).  The cache is
    # dropped before returning; the final lazy assignment recomputes the
    # lineage exactly once at the consumer's action.
    df_c = df.persist()
    try:
        init_rows = (
            df_c.orderBy(id_col)
            .limit(k)
            .select(F.transform(F.col(vec_col), lambda x: F.round(x.cast("double"), 6)).alias("c"))
            .collect()
        )
        cents = {i: [float(v) for v in r["c"]] for i, r in enumerate(init_rows)}
        for _ in range(iters):
            assigned = assign(df_c, vec_col, cents)
            means = _rounded_means(assigned, vec_col)
            cents = {cid: means.get(cid, old) for cid, old in cents.items()}
    finally:
        df_c.unpersist()
    return assign(df, vec_col, cents)


def auto_km_k(n_rows: int, rows_per_cluster: int = 5_000, k_min: int = 8) -> int:
    """The SemDeDup k-sizing rule: clusters should be ~task-sized, so k
    grows LINEARLY with the corpus (Abbas et al. 2023 use 1.1×10⁴ clusters
    for 10⁸ LAION embeddings — ~10⁴ rows/cluster).  With k ∝ N, the
    within-cluster pair stage does N·rows_per_cluster work — linear, not
    N² — and `assign_clusters_table` keeps assignment O(1) in task-binary
    size however large k gets."""
    return max(k_min, -(-n_rows // rows_per_cluster))
