"""k-means + quantization operator invariants (the declared queries'
oracle parity checks values; these pin algorithmic properties that hold
under ANY partitioning — the 1000-executor contract)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from simsearch_spark.operators.kmeans import kmeans_assign, nearest_center, probe_cells
from simsearch_spark.operators.quantize import QUANT_LEVELS, quantization_error
from simsearch_spark.sources.registry import load_table


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_nearest_center_ties_keep_lowest_id(spark):
    """Strict-< argmin: the nearest center wins; among equidistant
    centers the lowest id does, whatever the map's insertion order."""
    centers = {5: [1.0, 0.0], 2: [-1.0, 0.0], 9: [3.0, 0.0]}
    vec = lambda *xs: F.array(*[F.lit(float(x)) for x in xs])
    row = spark.range(1).select(
        nearest_center(vec(0.0, 0.0), centers).alias("tie"),
        nearest_center(vec(0.5, 0.0), centers).alias("win"),
    ).first()
    assert (row.tie.id, row.tie.dist) == (2, 1.0)
    assert (row.win.id, row.win.dist) == (5, 0.5)


def test_probe_cells_order_distance_then_id():
    """Probe order is L2² to the centroid, ties by cell id; a query of the
    wrong length raises instead of routing on a truncated prefix."""
    cmap = {7: [1.0, 0.0], 4: [2.0, 0.0], 3: [0.0, 1.0], 1: [-1.0, 0.0]}
    assert probe_cells(cmap, [0.0, 0.0], 3) == [1, 3, 7]
    assert probe_cells(cmap, [0.0, 0.0], 9) == [1, 3, 7, 4]
    assert probe_cells(cmap, [2.0, 0.1], 2) == [4, 7]
    with pytest.raises(ValueError, match="query dim"):
        probe_cells(cmap, [0.0], 1)


def test_kmeans_partitioning_invariance(spark, sf_dir):
    """Cluster assignment must be a pure function of the data, not of the
    physical layout: 1-partition and 16-partition runs agree exactly."""
    emb = load_table(spark, sf_dir, "embeddings")
    a = kmeans_assign(emb.coalesce(1), "vec_id", "embedding", k=4, iters=2)
    b = kmeans_assign(emb.repartition(16), "vec_id", "embedding", k=4, iters=2)
    sel = lambda d: d.select("vec_id", "cluster_id", F.round("dist", 6).alias("d"))
    assert _rows(sel(a)) == _rows(sel(b))


def test_kmeans_iterations_do_not_increase_inertia(spark, sf_dir):
    """Lloyd's monotonicity: total within-cluster squared distance after 2
    iterations is ≤ after 1 (rounding grain tolerance)."""
    emb = load_table(spark, sf_dir, "embeddings")

    def inertia(iters):
        out = kmeans_assign(emb, "vec_id", "embedding", k=4, iters=iters)
        return out.agg(F.sum(F.col("dist") * F.col("dist"))).first()[0]

    assert inertia(2) <= inertia(1) + 1e-3

    # every point sits in SOME cluster, exactly once
    out = kmeans_assign(emb, "vec_id", "embedding", k=4, iters=2)
    assert out.count() == emb.count()
    assert out.select("vec_id").distinct().count() == emb.count()


def test_quantization_error_bound(spark, sf_dir):
    """Affine int8 codes bound the per-dimension error by scale/2 (interior)
    — so the per-vector L2 error is ≤ sqrt(dim) · max_scale/2 + slack."""
    emb = load_table(spark, sf_dir, "embeddings")
    dim = len(emb.first()["embedding"])
    qerr = quantization_error(emb, "vec_id", "embedding")
    max_err = qerr.agg(F.max("err")).first()[0]

    flat = emb.select(F.posexplode("embedding").alias("pos", "v"))
    widest = (
        flat.groupBy("pos")
        .agg(((F.max(F.col("v").cast("double")) - F.min(F.col("v").cast("double"))) / QUANT_LEVELS).alias("sc"))
        .agg(F.max("sc"))
        .first()[0]
    )
    assert max_err <= math.sqrt(dim) * widest / 2 + 1e-6
    assert qerr.count() == emb.count()


# ---------------------------------------------------------------------------
# round 7: large-k assignment + tiled within-cluster pair stage (the r6
# semdedup scale fix) — both new physical paths must be BIT-identical to the
# small-k/naive logical semantics.
# ---------------------------------------------------------------------------


def test_assignment_table_equals_literal(spark, sf_dir, monkeypatch):
    """assign via broadcast-centroid Arrow kernel == literal-centroid
    codegen, on raw (unrounded) distances — the bit-identical contract
    that lets k switch paths as a pure physical-plan knob.  Each kernel
    is forced by moving the ``LITERAL_K_MAX`` switch point."""
    from simsearch_spark.operators import kmeans

    emb = load_table(spark, sf_dir, "embeddings")
    for k in (3, 8, 33):
        monkeypatch.setattr(kmeans, "LITERAL_K_MAX", k)
        lit = kmeans_assign(emb, "vec_id", "embedding", k=k, iters=2)
        monkeypatch.setattr(kmeans, "LITERAL_K_MAX", k - 1)
        tab = kmeans_assign(emb, "vec_id", "embedding", k=k, iters=2)
        sel = lambda d: d.select("vec_id", "cluster_id", "dist")
        assert _rows(sel(lit)) == _rows(sel(tab)), f"k={k} path divergence"


def test_clustered_pairs_equal_naive_join(spark, sf_dir):
    """clustered_cosine_pairs (per-cluster block tiling, block_rows forced
    tiny so every cluster really is multi-tile) == the naive cluster-keyed
    self-join it replaces."""
    from simsearch_spark.functions.measures import cosine_similarity
    from simsearch_spark.operators.dedup import clustered_cosine_pairs

    emb = load_table(spark, sf_dir, "embeddings")
    assigned = kmeans_assign(emb, "vec_id", "embedding", k=4, iters=1)
    t = 0.2  # loose threshold → plenty of surviving pairs to compare
    # (sf0.001 within-cluster cosine p90≈0.19, max≈0.47 — 0.2 keeps ~10%)
    tiled = clustered_cosine_pairs(
        assigned, "vec_id", "embedding", "cluster_id", threshold=t, block_rows=7
    )
    a = assigned.select("cluster_id", F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"))
    b = assigned.select("cluster_id", F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"))
    naive = (
        a.join(b, "cluster_id")
        .where(F.col("id_a") < F.col("id_b"))
        .withColumn("cos_sim", F.round(cosine_similarity(F.col("va"), F.col("vb")), 6))
        .where(F.col("cos_sim") >= t)
        .select("id_a", "id_b", "cos_sim")
    )
    assert _rows(tiled) == _rows(naive)
    assert tiled.count() > 0  # the comparison actually compared something


def test_semdedup_prune_auto_k_scales_k_with_corpus(spark, sf_dir):
    """auto_km_k grows k linearly with N (the published SemDeDup sizing);
    semdedup_prune with an explicit large k runs the table-assignment +
    tiled-pair path end-to-end and flags a sane subset."""
    from simsearch_spark.operators.kmeans import LITERAL_K_MAX, auto_km_k
    from simsearch_spark.queries.cluster import semdedup_prune

    assert auto_km_k(100) == 8  # floor
    assert auto_km_k(10_000_000) == 2_000
    assert auto_km_k(100_000_000, rows_per_cluster=10_000) == 10_000

    emb = load_table(spark, sf_dir, "embeddings")
    k = LITERAL_K_MAX + 8  # force the table path through the full recipe
    out = semdedup_prune(emb, "vec_id", "embedding", k=k, threshold=0.8)
    n = emb.count()
    flags = dict(out.groupBy("is_pruned").count().collect() and
                 [(r["is_pruned"], r["count"]) for r in out.groupBy("is_pruned").count().collect()])
    assert sum(flags.values()) == n
    assert flags.get(1, 0) < n  # never prunes everything


def test_assignment_table_pathological_rows(spark):
    """Null / wrong-length / NaN-element embeddings must not kill the Arrow
    kernel (ADVICE r7): malformed rows distance to +inf everywhere, and NaN
    distances sort LAST exactly as Spark orders doubles (finite < inf < NaN),
    so a NaN-bearing centroid never beats a finite one."""
    from simsearch_spark.operators.kmeans import assign_clusters_table

    df = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, None), (3, [1.0]), (4, [float("nan"), 0.0])],
        "id long, embedding array<double>",
    )
    cents = {0: [float("nan"), 0.0], 1: [5.0, 5.0], 2: [0.5, 0.0]}
    got = {
        r["id"]: (r["cluster_id"], r["dist"])
        for r in assign_clusters_table(df, "embedding", cents).collect()
    }
    assert got[1] == (2, 0.5)  # NaN centroid 0 sorts last; 2 is nearest
    # null / wrong-length rows: +inf to every centroid; among all-inf ties the
    # first NON-NaN centroid wins (inf < NaN), mirroring Spark's ordering
    assert got[2] == (1, float("inf"))
    assert got[3] == (1, float("inf"))
    # all-NaN distances -> lowest id; NaN dist surfaces as NULL (pandas'
    # NaN is Arrow's missing sentinel — it cannot cross mapInPandas as NaN)
    assert got[4] == (0, None)
