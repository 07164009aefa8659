"""Distance / similarity measures as pure Column expressions.

Every function here is Column-in/Column-out and compiles to JVM built-ins
inside whole-stage codegen — no Python UDFs.  Semantics mirror the reference
(/root/reference), cited per function; divergences are documented.

Reference scoring model (SURVEY.md §2.3): per-attribute similarity is
``sim = exp(-decay * dist / scale)`` with decay λ=0.05
(``Constants.java:38``) and scale auto-set to the k-th nearest distance when
not user-given (``engine/measure/DecayedSimilarity.java:66-75``,
``engine/measure/Scaling.java``).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: reference defaults (BASELINE.md; Constants.java:38,40,42)
DECAY_FACTOR = 0.05
QGRAM = 3
K_MAX = 50


# ---------------------------------------------------------------------------
# distances
# ---------------------------------------------------------------------------

def abs_diff(col: Column, query: Column) -> Column:
    """Numerical/temporal distance ``|v - q|``
    (``NumericalSimSearch.java:89-305`` walks a B+-tree outward from q — the
    emitted order is exactly ascending ``|v-q|``)."""
    return F.abs(col.cast("double") - query.cast("double"))


def planar_distance(lon: Column, lat: Column, qlon: Column, qlat: Column) -> Column:
    """Spatial distance in *planar degrees* — the reference's actual metric:
    JTS Euclidean on lon/lat despite "Haversine" naming
    (``engine/measure/SpatialDistance.java:42,53``; SURVEY.md §2.3 K3)."""
    dx = lon.cast("double") - qlon.cast("double")
    dy = lat.cast("double") - qlat.cast("double")
    return F.sqrt(dx * dx + dy * dy)


def haversine_distance(lon: Column, lat: Column, qlon: Column, qlat: Column) -> Column:
    """True great-circle distance in km (offered as the documented option the
    reference names but does not use on the ingested path; the pivot metric
    ``pivoting/metrics/HaversineDistance.java:42-60`` does use it)."""
    r = 6371.0088
    lam1, phi1 = F.radians(lon.cast("double")), F.radians(lat.cast("double"))
    lam2, phi2 = F.radians(qlon.cast("double")), F.radians(qlat.cast("double"))
    dphi, dlam = phi2 - phi1, lam2 - lam1
    a = F.sin(dphi / 2) ** 2 + F.cos(phi1) * F.cos(phi2) * F.sin(dlam / 2) ** 2
    return F.lit(2 * r) * F.asin(F.sqrt(a))


def jaccard_distance(tokens: Column, query_tokens: Column) -> Column:
    """Set distance ``1 - |A∩B| / |A∪B|``
    (``engine/measure/CategoricalDistance.java:45,67``).  Inputs must be
    deduplicated arrays (``array_distinct`` upstream), so
    ``|A∪B| = |A| + |B| - |A∩B|`` needs no union array — the DuckDB
    oracles compute it the same way.  A NULL set has a NULL distance."""
    isect = F.size(F.array_intersect(tokens, query_tokens))
    union = F.size(tokens) + F.size(query_tokens) - isect
    return F.when(union == 0, F.lit(0.0)).otherwise(
        F.lit(1.0) - isect.cast("double") / union.cast("double")
    )


def euclidean_distance(a: Column, b: Column) -> Column:
    """L2 over two array<double> columns via zip_with + aggregate
    (``pivoting/metrics/EuclideanDistance.java:41``)."""
    sq = F.zip_with(a, b, lambda x, y: (x.cast("double") - y.cast("double")) ** 2)
    return F.sqrt(F.aggregate(sq, F.lit(0.0), lambda acc, x: acc + x))


def manhattan_distance(a: Column, b: Column) -> Column:
    """L1 (``pivoting/metrics/ManhattanDistance.java:43``)."""
    d = F.zip_with(a, b, lambda x, y: F.abs(x.cast("double") - y.cast("double")))
    return F.aggregate(d, F.lit(0.0), lambda acc, x: acc + x)


def chebyshev_distance(a: Column, b: Column) -> Column:
    """L∞ (``pivoting/metrics/ChebyshevDistance.java:41``)."""
    d = F.zip_with(a, b, lambda x, y: F.abs(x.cast("double") - y.cast("double")))
    return F.aggregate(d, F.lit(0.0), lambda acc, x: F.greatest(acc, x))


def dot_product(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ — the ANN/embedding workhorse. Left-fold keeps summation order
    deterministic (oracle-hash safe)."""
    prod = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prod, F.lit(0.0), lambda acc, x: acc + x)


def l2_norm(a: Column) -> Column:
    sq = F.transform(a, lambda x: x.cast("double") * x.cast("double"))
    return F.sqrt(F.aggregate(sq, F.lit(0.0), lambda acc, x: acc + x))


def cosine_similarity(a: Column, b: Column) -> Column:
    """cos(a,b); 0 when either norm is 0 (mirrors the reference's NaN→zero
    contribution rule, ``pivoting/MetricSimilarity.java``)."""
    denom = l2_norm(a) * l2_norm(b)
    return F.when(denom == 0, F.lit(0.0)).otherwise(dot_product(a, b) / denom)


# ---------------------------------------------------------------------------
# similarity scoring
# ---------------------------------------------------------------------------

def decayed_similarity(dist: Column, scale: Column, decay: float = DECAY_FACTOR) -> Column:
    """``exp(-decay * dist / scale)`` (``DecayedSimilarity.java:66-75``).

    Guard rails replicated from the reference:
    - scale ≤ 0 (k-th distance 0, i.e. ≥k exact matches) → treat scale as 1
      so exact matches score 1.0 and the expression stays finite.
    """
    safe_scale = F.when(scale <= 0, F.lit(1.0)).otherwise(scale)
    return F.exp(F.lit(-decay) * dist / safe_scale)


def jaccard_similarity_scored(dist: Column, scale: Column, decay: float = DECAY_FACTOR) -> Column:
    """Categorical special case: a Jaccard distance of ~1 (disjoint sets) is
    forced to similarity 0, not exp(-λ) (``DecayedSimilarity.java:69-70``;
    SURVEY.md §7 hard part (d))."""
    sim = decayed_similarity(dist, scale, decay)
    return F.when(dist >= 1.0, F.lit(0.0)).otherwise(sim)


# ---------------------------------------------------------------------------
# normalization (manager/ingested/numerical/{ZNormal,UnityNormal}.java)
# ---------------------------------------------------------------------------

def z_normal(col: Column, mean: Column, std: Column) -> Column:
    """(v−μ)/σ (``ZNormal.java:23``); σ=0 → 0."""
    return F.when(std == 0, F.lit(0.0)).otherwise((col - mean) / std)


def unity_normal(col: Column, vmin: Column, vmax: Column) -> Column:
    """(v−min)/(max−min) (``UnityNormal.java:25``); degenerate range → 0."""
    rng = vmax - vmin
    return F.when(rng == 0, F.lit(0.0)).otherwise((col - vmin) / rng)
