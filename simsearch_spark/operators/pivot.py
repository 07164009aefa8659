"""Pivot-based multi-metric path (SURVEY.md §2.5 V1-V6).

Reference: R pivots per attribute (default 8, ``Constants.java:53``) chosen
by farthest-point "Hull of Foci" (``pivoting/PivotSelector.java:46-171``),
entities embedded as distance-to-pivot vectors, bulk-loaded into an in-heap
RR*-tree (``PivotManager.java:356-398``), searched best-first with
triangle-inequality node bounds and *exact re-scoring* before emission
(``pivoting/rtree/MultiMetricSimilaritySearch.java:69-131, 298-312``).

Spark-first: no tree.  The embedding is a mount-time batch job
(crossJoin(broadcast(pivots))); search is exact scoring + TakeOrdered, with
an optional *lower-bound pre-filter* that replays the reference's triangle
inequality as a column predicate:

    lb(e, q) = max_p |embed_e[p] - embed_q[p]|  <=  true_dist(e, q)

so ``filter(lb <= kth_best_estimate)`` prunes before the expensive exact
distance — prunes partitions too if the table is range-partitioned on a
leading embedding coordinate.  Exactness is preserved because survivors are
re-scored exactly, as the reference does (MultiMetricSimilaritySearch.java:95).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from simsearch_spark.functions import measures

METRICS = {
    "euclidean": measures.euclidean_distance,
    "manhattan": measures.manhattan_distance,
    "chebyshev": measures.chebyshev_distance,
}


def select_pivots_farthest_point(
    df: DataFrame, id_col: str, vec_col: str, n_pivots: int = 8, start_id=None
) -> list:
    """V2 "Hull of Foci" farthest-point selection on a driver-collected sample
    (the reference samples 500 points — ``Constants.java:57`` — and runs the
    same O(sample²) loop in-heap; determinism: seeded by `start_id` instead of
    the reference's random draw, FIXTURES.md §F4).

    Returns [(id, vector)] — small enough to broadcast as literals.
    """
    sample = [
        (r[0], list(r[1]))
        for r in df.select(id_col, vec_col).orderBy(id_col).limit(500).collect()
    ]
    if not sample:
        return []
    by_id = dict(sample)
    first = start_id if start_id is not None else sample[0][0]
    pivots = [(first, by_id[first])]

    def edist(a, b):
        return sum((x - y) ** 2 for x, y in zip(a, b)) ** 0.5

    while len(pivots) < min(n_pivots, len(sample)):
        best_id, best_d = None, -1.0
        for pid, vec in sample:
            if pid in {p[0] for p in pivots}:
                continue
            d = min(edist(vec, pv) for _, pv in pivots)
            if d > best_d:
                best_id, best_d = pid, d
        pivots.append((best_id, by_id[best_id]))
    return pivots


def embed_distances(
    df: DataFrame, vec_col: str, pivots: list, metric: str = "euclidean"
) -> DataFrame:
    """V2 embedding: one distance-to-pivot column per pivot (``emb_0..emb_R``)
    computed in a single projection — pivot vectors ride along as literals
    (broadcast), so this is a shuffle-free map over the table."""
    dist_fn = METRICS[metric]
    out = df
    for i, (_pid, vec) in enumerate(pivots):
        pv = F.array(*[F.lit(float(x)) for x in vec])
        out = out.withColumn(f"emb_{i}", dist_fn(F.col(vec_col), pv))
    return out


def embedding_lower_bound(n_pivots: int, query_emb: list[float]) -> Column:
    """V4 triangle-inequality lower bound: max_p |emb_p - q_emb_p| ≤ d(e,q)
    (MultiMetricSimilaritySearch.java:226-288 computes the same per-pivot gap
    on MBRs; per-point it reduces to this)."""
    gaps = [F.abs(F.col(f"emb_{i}") - F.lit(float(query_emb[i]))) for i in range(n_pivots)]
    lb = gaps[0]
    for g in gaps[1:]:
        lb = F.greatest(lb, g)
    return lb


def query_embedding(pivots: list, query_vec: list[float]) -> list[float]:
    """The query's row of the pivot embedding: its euclidean distance to
    each pivot, driver-side.  A query whose length differs from the
    pivots' raises — ``zip`` would truncate it into a wrong embedding,
    and its NULL exact distances would leave the radius pass no row."""
    for pid, vec in pivots:
        if len(vec) != len(query_vec):
            raise ValueError(f"query dim {len(query_vec)} != pivot {pid}'s {len(vec)}")
    return [
        float(sum((a - b) ** 2 for a, b in zip(query_vec, vec)) ** 0.5)
        for _pid, vec in pivots
    ]


def pivot_knn(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query_vec: list[float],
    k: int,
    pivots: list | None = None,
    metric: str = "euclidean",
) -> DataFrame:
    """Exact k-NN, pivot-pruned when ``pivots`` are given (a plain scan
    without them).

    Two passes when pruning: (1) TakeOrdered on the cheap lower bound to get a
    conservative radius estimate from k-th *exact* distance of the lb-top
    candidates, (2) filter lb <= radius, exact re-score, TakeOrdered.  Both
    passes are O(k) memory; the second scan skips (at 100 TB: entire row
    groups via min/max stats on persisted emb_* columns) everything the bound
    excludes.  Exact because lb never overestimates the true distance.
    """
    dist_fn = METRICS[metric]
    qv = F.array(*[F.lit(float(x)) for x in query_vec])
    exact_dist = dist_fn(F.col(vec_col), qv)

    if not pivots:
        return (
            df.withColumn("dist", exact_dist)
            .orderBy(F.col("dist").asc(), F.col(id_col).asc())
            .limit(k)
        )

    if metric != "euclidean":
        raise NotImplementedError(
            "pruned path implemented for euclidean; pass no pivots for other metrics"
        )
    embedded = embed_distances(df, vec_col, pivots, metric)
    lb = embedding_lower_bound(len(pivots), query_embedding(pivots, query_vec))
    with_lb = embedded.withColumn("lb", lb)

    # pass 1: radius = exact k-th distance among the k best lower-bound rows
    seed = with_lb.orderBy(F.col("lb").asc(), F.col(id_col).asc()).limit(k)
    radius_df = seed.withColumn("dist", exact_dist).agg(F.max("dist").alias("radius"))

    # pass 2: prune by lb ≤ radius, exact re-score survivors
    survivors = with_lb.crossJoin(F.broadcast(radius_df)).where(F.col("lb") <= F.col("radius"))
    return (
        survivors.withColumn("dist", exact_dist)
        .orderBy(F.col("dist").asc(), F.col(id_col).asc())
        .limit(k)
        .drop("lb", "radius", *[f"emb_{i}" for i in range(len(pivots))])
    )


def epsilon_scale(sample: list[list[float]]) -> float:
    """V1's per-attribute ε = mean nearest-neighbour distance on the sample
    (``PivotManager.java:271-296``; reused as the fixed scale factor,
    ``Constants.java:57`` context).  Driver-side over ≤500 points, as the
    reference computes it."""
    if len(sample) < 2:
        return 1.0

    def edist(a, b):
        return sum((x - y) ** 2 for x, y in zip(a, b)) ** 0.5

    total = 0.0
    for i, v in enumerate(sample):
        total += min(edist(v, w) for j, w in enumerate(sample) if j != i)
    return total / len(sample) or 1.0


def allocate_pivots(samples: dict[str, list[list[float]]], total_pivots: int = 8) -> dict[str, int]:
    """V1 pivot-count allocation (``pivoting/PivotAllocation.java:64-234``):
    greedily hand out R pivots across attributes, each round giving the next
    pivot to the attribute whose sample retains the largest remaining spread
    (farthest-point residual — the triangle-inequality pruning potential the
    reference maximizes).  Every attribute gets at least one pivot.
    """
    attrs = list(samples)
    if not attrs:
        return {}
    alloc = {a: 1 for a in attrs}

    def edist(a, b):
        return sum((x - y) ** 2 for x, y in zip(a, b)) ** 0.5

    # residual spread after placing n farthest-point pivots on the sample
    def residual(attr: str, n: int) -> float:
        pts = samples[attr]
        if len(pts) <= n:
            return 0.0
        pivots = [pts[0]]
        while len(pivots) < n:
            far = max(pts, key=lambda p: min(edist(p, q) for q in pivots))
            pivots.append(far)
        return max(min(edist(p, q) for q in pivots) for p in pts)

    for _ in range(total_pivots - len(attrs)):
        best = max(attrs, key=lambda a: residual(a, alloc[a]))
        alloc[best] += 1
    return alloc
