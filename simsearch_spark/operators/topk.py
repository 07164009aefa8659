"""Per-attribute similarity-search kernels (SURVEY.md §2.3 K1–K6).

The reference walks per-attribute in-heap indexes (B+-tree leaves outward
from q, STR-tree k-NN, inverted-list AllPairs) on one thread per attribute.
The Spark-first equivalent is a declarative score-everything plan:

    scan → [pre-filter] → dist column → orderBy(dist, id) LIMIT k
         → scale, decayed sim and rank over the k rows

which Catalyst executes as parquet scan with pushed filters + pruned columns
feeding a ``TakeOrderedAndProject`` — per-partition top-k heaps merged on the
driver, i.e. O(rows) scan but O(k) memory/network, the right trade at 100 TB
where maintaining a mutable global index is the wrong primitive.

Scale rule (the data-dependent part): when ``Facet.scale`` is None the scale
factor is the exact k-th nearest distance (``NumericalSimSearch.java:244-246``,
``CategoricalSimSearch.java:300-311``, ``SpatialSimSearch.java:129-137``).
That is the largest distance among the k rows the search returns, so it is
a window over those rows: the table is scanned once and nothing joins
back to it.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from simsearch_spark.functions import measures
from simsearch_spark.functions.text import qgrams
from simsearch_spark.plans.spec import Facet


# ---------------------------------------------------------------------------
# distance binding per facet kind
# ---------------------------------------------------------------------------

def operands(facet: Facet, cols: list[Column]) -> list[Column]:
    """A row's value columns as distance operands: a textual value becomes
    its q-gram set, a categorical one its distinct tokens, every other kind
    is compared as stored."""
    if facet.kind == "textual":
        return [qgrams(cols[0], facet.qgram)]
    if facet.kind == "categorical":
        return [F.array_distinct(cols[0])]
    return cols


def query_operands(facet: Facet) -> list[Column]:
    """The query value as literal distance operands.  Set-valued queries are
    resolved driver-side: Catalyst does not constant-fold higher-order array
    exprs over literals, and a literal array is ~4x cheaper per row
    (measured at sf0.1)."""
    q = facet.query_value
    if facet.kind == "numerical":
        return [F.lit(float(q))]
    if facet.kind == "temporal":
        return [F.lit(q)]
    if facet.kind == "spatial":
        return [F.lit(float(q[0])), F.lit(float(q[1]))]
    if facet.kind == "categorical":
        return [F.array(*[F.lit(t) for t in sorted(set(q))])]
    if facet.kind == "textual":
        qs, w = str(q).lower(), facet.qgram
        grams = sorted({qs[i : i + w] for i in range(max(len(qs) - w + 1, 1))})
        return [F.array(*[F.lit(g) for g in grams])]
    if facet.kind == "vector":
        return [F.array(*[F.lit(float(x)) for x in q])]
    raise ValueError(f"unsupported facet kind {facet.kind}")


def distance(facet: Facet, a: list[Column], b: list[Column]) -> Column:
    """The facet's distance between two operand lists (``operands`` /
    ``query_operands``) — the one per-kind dispatch, shared by the query
    and the result matrix.

    Mirrors the (operation × ingested) kernel dispatch of
    ``engine/processor/ingested/IndexSimSearch.java:155-271``.
    """
    if facet.kind == "numerical":
        return measures.abs_diff(a[0], b[0])
    if facet.kind == "temporal":
        # epoch-seconds double semantics (DataIngestor.java:326-369)
        return F.abs(a[0].cast("timestamp").cast("double") - b[0].cast("timestamp").cast("double"))
    if facet.kind == "spatial":
        if facet.metric == "haversine":
            return measures.haversine_distance(*a[:2], *b[:2])
        return measures.planar_distance(*a[:2], *b[:2])
    if facet.kind in ("categorical", "textual"):
        return measures.jaccard_distance(a[0], b[0])
    if facet.kind == "vector":
        if facet.metric == "cosine":
            return F.lit(1.0) - measures.cosine_similarity(a[0], b[0])
        metric = {
            "euclidean": measures.euclidean_distance,
            "manhattan": measures.manhattan_distance,
            "chebyshev": measures.chebyshev_distance,
        }
        return metric[facet.metric](a[0], b[0])
    raise ValueError(f"unsupported facet kind {facet.kind}")


def facet_distance(df_cols: dict[str, Column], facet: Facet) -> Column:
    """Bind a facet's distance from the query value over the source columns."""
    row = operands(facet, [df_cols[c] for c in facet.value_cols])
    return distance(facet, row, query_operands(facet))


def facet_similarity(dist: Column, scale: Column, facet: Facet) -> Column:
    """Decayed similarity with the categorical disjoint-set special case
    (``DecayedSimilarity.java:69-70``)."""
    if facet.kind in ("categorical", "textual"):
        return measures.jaccard_similarity_scored(dist, scale, facet.decay)
    return measures.decayed_similarity(dist, scale, facet.decay)


def scale_over_rows(order: list[Column]) -> Column:
    """The auto scale of top-k rows sorted by ``order``: the largest of
    their distances.  The rows are k of the smallest distances, so that is
    the k-th nearest distance whichever tied rows were kept."""
    frame = Window.orderBy(*order).rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return F.max("dist").over(frame)


def resolve_query_value(df: DataFrame, facet: Facet) -> Any:
    """K6: the literal query value "max" resolves to the attribute maximum
    before search (``SearchHandler.java:434-441``).  This is the one place a
    scalar aggregate is collected driver-side — a single number, as the
    reference does."""
    if facet.kind == "numerical" and isinstance(facet.query_value, str) and facet.query_value == "max":
        vmax = df.agg(F.max(facet.value_cols[0])).first()[0]
        return float(vmax)
    return facet.query_value


# ---------------------------------------------------------------------------
# single-facet top-k (K1/K2/K3 + T4 Singleton ranking)
# ---------------------------------------------------------------------------

def single_facet_topk(
    df: DataFrame,
    key_column: str,
    facet: Facet,
    k: int,
    round_digits: int | None = 6,
) -> DataFrame:
    """Top-k by one similarity condition — reference kernel + Singleton
    ranking (``SingletonRanking.java:105-218``).

    Output: (id, value, dist, score, rank) ordered by (dist asc, id asc);
    ranking by ascending distance ≡ descending similarity since the decay is
    monotone, and distance comparisons are exact IEEE ops (hash-safe across
    engines, unlike comparing exp() outputs).
    """
    facet = Facet(**{**facet.__dict__, "query_value": resolve_query_value(df, facet)})
    cols = {c: F.col(c) for c in df.columns}

    base = df
    if facet.filter:
        # P2 pre-filter: applied before scoring, pushed to the scan by Catalyst
        base = base.where(F.expr(facet.filter))

    # TakeOrderedAndProject keeps this O(k) memory; everything after it —
    # the auto scale and the rank — runs on the k rows (one tiny partition)
    order = [F.col("dist").asc_nulls_last(), F.col(key_column).asc()]
    scale_col = scale_over_rows(order) if facet.scale is None else F.lit(float(facet.scale))
    sim = facet_similarity(F.col("dist"), scale_col, facet)
    if round_digits is not None:
        sim = F.round(sim, round_digits)

    out = (
        base.withColumn("dist", facet_distance(cols, facet))
        .orderBy(*order)
        .limit(k)
        # P3: a NULL distance (a NULL value, coordinate or vector element)
        # never ranks.  NULLs sort last, so dropping them after the limit
        # leaves the k nearest non-NULL rows, and a filter before the sort
        # would evaluate the distance a second time per row.
        .where(F.col("dist").isNotNull())
        .withColumns({"score": sim, "rank": F.row_number().over(Window.orderBy(*order))})
    )
    keep = [key_column, *facet.value_cols, "dist", "score", "rank"]
    return out.select(*[c for c in keep if c in out.columns])
