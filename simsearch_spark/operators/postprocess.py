"""Result post-processing (SURVEY.md §2.6 R1-R3).

R1 extra columns: report attributes not used as similarity criteria.
Reference batches ``IN (ids)`` lookups (``SearchHandler.java:772-834``).
A search request carries them in the projection over its k result rows
(``rank_agg.multi_facet_topk``); ``attach_extra_columns`` serves callers
that hold only a ranked result, with no request.

R2 similarity matrix: k×k pairwise weighted similarity between result
entities (``engine/processor/ResultMatrix.java:62-124``; skipped when k>50,
gate at ``SearchResponseFormat.java:122-126``).  A self-crossJoin of k≤50
rows is trivially cheap at any corpus scale because it runs on the *result*,
not the data.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from simsearch_spark.operators import topk
from simsearch_spark.plans.spec import Facet


def attach_extra_columns(
    result: DataFrame, base: DataFrame, key_column: str, extra_columns: list[str]
) -> DataFrame:
    """R1: left-join extra attributes onto a ranked result by key.  A left
    outer join can build only its right side, so Spark broadcasts (or, above
    the broadcast threshold, shuffles) the base table pruned to the key and
    the extra columns — a search request avoids that by projecting them."""
    return result.join(base.select(key_column, *extra_columns), on=key_column, how="left")


def similarity_matrix(
    result: DataFrame,
    facets: list[Facet],
    key_column: str,
    scales: dict[str, float],
    weights: dict[str, float] | None = None,
    round_digits: int | None = 6,
) -> DataFrame:
    """R2: pairwise weighted similarity between all result pairs, using the
    query's own per-facet distance (``topk.distance``), decayed similarity
    and scale factors (ResultMatrix.java:62-124 re-uses the facet measures
    verbatim).

    Output: (left, right, sim) for all k² ordered pairs, diagonal included —
    matching the reference's full matrix shape.
    """
    ws = weights or {f.name: 1.0 for f in facets}
    total_w = sum(ws.values())

    needed = [c for f in facets for c in f.value_cols]
    left = result.select(
        F.col(key_column).alias("left"), *[F.col(c).alias(f"l_{c}") for c in needed]
    )
    right = result.select(
        F.col(key_column).alias("right"), *[F.col(c).alias(f"r_{c}") for c in needed]
    )
    pairs = left.crossJoin(right)

    sims = []
    for f in facets:
        d = topk.distance(
            f,
            topk.operands(f, [F.col(f"l_{c}") for c in f.value_cols]),
            topk.operands(f, [F.col(f"r_{c}") for c in f.value_cols]),
        )
        s = topk.facet_similarity(d, F.lit(float(scales[f.name])), f)
        sims.append(F.coalesce(s, F.lit(0.0)) * F.lit(ws[f.name]))

    total = functools.reduce(lambda a, b: a + b, sims) / F.lit(total_w)
    if round_digits is not None:
        total = F.round(total, round_digits)
    return pairs.select("left", "right", total.alias("sim"))
