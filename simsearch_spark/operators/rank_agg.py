"""Multi-attribute rank aggregation (SURVEY.md §2.4 T1–T8).

Reference semantics: aggregate score of entity e =
``Σ w_i·sim_i(e) / Σ w_i`` with a missing/NULL attribute contributing
sim 0 while its weight stays in the denominator
(``RankAggregator.java:236-259``).  TA / NRA / PRA differ only in *access
strategy* (queue pops + random access vs bound maintenance) — on complete
data all three produce the same ranked list, so the Spark build has a single
exact execution strategy: full per-facet scoring + weighted mean +
TakeOrderedAndProject.  The ``algorithm`` request field is accepted and
echoed for parity (SURVEY.md §2.4, T1–T3).

Multi-weight fan-out (T7, ``RankAggregator.java:104-129``): the j-th weight
of every facet forms combination j; all combination scores are computed in
ONE projection, then k rows per combination are taken with one TakeOrdered
each — no full sort.

Scale: the aggregation is a single wide projection when all facets live on
one table (zero shuffles: scan → project → TakeOrdered).  For facets on
different tables, per-facet score rows union into one (key, facet, sim)
relation aggregated with ONE key-grouped shuffle (map-side partial agg) —
full-outer joins cannot broadcast, so the join-free shape is the scale
contract; per-facet LIMIT M pruning bounds the unioned row count.

Two passes, nothing cached: a probe pass collects, per facet whose scale
or weight is data-dependent, its k+1 smallest distances (one TakeOrdered
job each, plus one row count when a weight is estimated); the final pass
binds the scales and weights as literals.  The probe is exact: the scale is
the largest of the k smallest distances, and the T5 weight — Spark's exact
``percentile(sim, 1 - k/N)`` — interpolates between the k-th and the
(k+1)-th largest similarity, which are the similarities of the k+1 smallest
distances (similarity never rises with distance; NULL-distance and disjoint
rows score 0, so the list is padded with zeros when fewer rows have a
distance).
"""

from __future__ import annotations

import functools
import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from simsearch_spark.operators import topk
from simsearch_spark.plans.spec import Facet, SearchRequest


def _similarity(dist: Column, scale: float | None, f: Facet) -> Column:
    """Facet similarity at a bound scale; a NULL distance (or an unknown
    scale) scores 0 (RankAggregator.java:239-241)."""
    sim = topk.facet_similarity(dist, F.lit(scale).cast("double"), f)
    return F.coalesce(sim, F.lit(0.0))


def score_facets(
    df: DataFrame, facets: list[Facet], k: int, estimate_weights: bool = False
) -> tuple[DataFrame, dict[str, float]]:
    """Probe pass of the single-table path.

    Returns ``df`` restricted to the facets' pre-filters (P2,
    ``SimSearchJdbcQuery.java:136-148``) with per-facet ``__dist_<name>``
    and ``__sim_<name>`` columns whose scales are bound as literals, and —
    with ``estimate_weights`` — the T5 weight of every facet whose
    ``weights`` is None (``engine/weights/Estimator.java:177-189``): the
    p = 1 - k/N percentile of its similarities over the N filtered rows.

    Spark jobs: one ``orderBy(dist).limit(k or k+1)`` collect per facet
    with an auto scale or an estimated weight, plus one row count when any
    weight is estimated.  The similarities of the probed distances come
    from the final plan's own expression over a one-row local relation,
    which Spark's optimizer folds to a constant without running a job.
    """
    filters = list(dict.fromkeys(f.filter for f in facets if f.filter))
    base = df.where(F.expr(" AND ".join(f"({c})" for c in filters))) if filters else df
    cols = {c: F.col(c) for c in base.columns}
    scored = base.withColumns({
        f"__dist_{f.name}": topk.facet_distance(
            cols, Facet(**{**f.__dict__, "query_value": topk.resolve_query_value(df, f)})
        )
        for f in facets
    })

    estimate = [f for f in facets if f.weights is None] if estimate_weights else []
    n = base.count() if estimate else 0
    # Spark's Percentile interpolates between ascending positions lo and hi
    # of pos = (n - 1)·p, so the weight needs the column's n - lo largest
    # similarities: the k-th and (k+1)-th, or all n rows when n <= k + 1
    pos = (n - 1) * max(0.0, min(1.0, 1.0 - k / max(n, 1)))
    lo, hi = math.floor(pos), math.ceil(pos)
    nearest: dict[str, list[float]] = {}
    for f in facets:
        limit = max(k if f.scale is None else 0, n - lo if f in estimate else 0)
        if limit:
            d = f"__dist_{f.name}"
            probe = scored.select(d).where(F.col(d).isNotNull()).orderBy(d).limit(limit)
            nearest[f.name] = [r[0] for r in probe.collect()]

    scales = {}
    for f in facets:
        # Spark sorts NaN last, so the k-th entry is the k smallest's max
        auto = nearest.get(f.name, [])[:k]
        scales[f.name] = f.scale if f.scale is not None else (auto[-1] if auto else None)
        sim = _similarity(F.col(f"__dist_{f.name}"), scales[f.name], f)
        scored = scored.withColumn(f"__sim_{f.name}", sim)

    weights = {f.name: 0.0 for f in estimate}  # no rows: nothing to weigh
    if n:
        sims = df.sparkSession.sql("VALUES (0)").select(*[
            F.array(*[
                _similarity(F.lit(d), scales[f.name], f)
                for d in nearest[f.name] + [None] * (n - lo - len(nearest[f.name]))
            ])
            for f in estimate
        ]).first()
        for f, top in zip(estimate, map(sorted, sims)):
            v_lo, v_hi = top[0], top[hi - lo]  # Percentile.getPercentile
            weights[f.name] = v_lo if v_lo == v_hi else (hi - pos) * v_lo + (pos - lo) * v_hi
    return scored, weights


def multi_facet_topk(
    df: DataFrame,
    request: SearchRequest,
    round_digits: int | None = 6,
) -> DataFrame:
    """Rank-aggregated top-k over facets of one table.

    Output (per combination j): (combo, id-as-key_column, score,
    per-facet value + ``<name>_sim``, the request's extra columns) with the
    determinism contract
    ``ORDER BY score DESC, id ASC`` (FIXTURES.md §F4).  The aggregate score
    is rounded *before* ranking so cross-engine exp() last-ulp differences
    collapse into exact ties broken by id.

    PROBE → FINAL: the probe pass (``score_facets``) runs its small jobs
    eagerly and returns scales and estimated weights as numbers; the
    returned frame is the final pass — scan → project → one TakeOrdered per
    weight combination, with every scale and weight a literal.  Nothing is
    persisted, so the result holds no cache and needs no cleanup; the
    price is that the final pass recomputes the distances the probes saw.
    """
    facets, k, key = request.facets, request.k, request.key_column
    # a lone facet's weight cancels in Σw·sim/Σw — unless it is 0, which
    # would zero every score — so one facet runs no estimate and weighs 1
    scored, est = score_facets(df, facets, k, estimate_weights=len(facets) > 1)

    n_combos = request.n_combinations
    weight_sets: list[dict[str, float]] = []
    for j in range(n_combos):
        weight_sets.append(
            {f.name: (f.weights[j] if f.weights is not None else est.get(f.name, 1.0)) for f in facets}
        )

    # T7: every combination's score in one projection over one scan
    for j, ws in enumerate(weight_sets):
        total_w = sum(ws.values())
        num = functools.reduce(
            lambda a, b: a + b,
            [F.col(f"__sim_{f.name}") * F.lit(ws[f.name]) for f in facets],
        )
        score = num / F.lit(total_w) if total_w else F.lit(0.0)
        if round_digits is not None:
            score = F.round(score, round_digits)
        scored = scored.withColumn(f"__score_{j}", score)

    facet_cols: list = []
    for f in facets:
        for c in f.value_cols:
            facet_cols.append(c)
        facet_cols.append(f"{f.name}_sim")
        sim = F.col(f"__sim_{f.name}")
        scored = scored.withColumn(
            f"{f.name}_sim", F.round(sim, round_digits) if round_digits is not None else sim
        )

    # R1 extra columns ride the projection over each combination's k rows
    out_cols = [F.col(c) for c in dict.fromkeys([*facet_cols, *request.extra_columns])]
    per_combo = []
    for j in range(n_combos):
        top = (
            scored.orderBy(F.col(f"__score_{j}").desc(), F.col(key).asc())
            .limit(k)
            .select(
                F.lit(j).alias("combo"),
                F.col(key),
                F.col(f"__score_{j}").alias("score"),
                *out_cols,
            )
        )
        per_combo.append(top)
    return functools.reduce(lambda a, b: a.unionByName(b), per_combo)


def multi_source_topk(
    frames: dict[str, DataFrame],
    facets: list[Facet],
    key_column: str,
    k: int,
    weights: dict[str, float] | None = None,
    round_digits: int | None = 6,
    prune_m: int | None = None,
) -> DataFrame:
    """General path: facets over *different* tables (the reference's vertical
    per-attribute maps, ``Coordinator.java:75``).  Each frame is scored
    independently; the per-facet (key, sim) rows union into one relation and
    aggregate with ONE key-grouped shuffle — absent entities produce no row
    for that facet, so their sim coalesces to 0
    (RankAggregator.java:239-241).

    Per-facet frames can be pre-pruned to their M = 1000·k best candidates
    (INFLATION_FACTOR, Constants.java:44), bounding the unioned row count —
    the exact analog of the reference's bounded candidate queues.
    """
    sim_frames = []
    for f in facets:
        df = frames[f.name]
        scored, _ = score_facets(df, [f], k)
        frame = scored.select(
            F.col(key_column),
            F.lit(f.name).alias("__facet"),
            F.col(f"__sim_{f.name}").alias("__sim"),
        )
        if prune_m is not None:
            # INFLATION_FACTOR candidate pruning (Constants.java:44,
            # SearchHandler.java:318-320): keep each facet's M best
            # candidates before aggregation.  With M = 1000·k this matches
            # the reference's bounded queues — and like the reference, an
            # entity outside every facet's top-M cannot surface (the
            # reference's approximate-tail caveat, SURVEY §4); omit prune_m
            # for the exact path.
            frame = frame.orderBy(F.col("__sim").desc(), F.col(key_column).asc()).limit(prune_m)
        sim_frames.append(frame)
    return aggregate_sim_frames(
        sim_frames, [f.name for f in facets], key_column, k, weights, round_digits
    )


INFLATION_FACTOR = 1000  # Constants.java:44 — candidate bound M = 1000·k


def multi_source_topk_approximate(
    frames: dict[str, DataFrame],
    facets: list[Facet],
    key_column: str,
    k: int,
    weights: dict[str, float] | None = None,
    round_digits: int | None = 6,
    prune_m: int | None = None,
) -> DataFrame:
    """T8 approximate tail fill (``ThresholdRanking.java:294-310``,
    ``NoRandomAccessRanking.java:252-269``): bounded-candidate ranking where
    incompletely-seen entities still surface, ranked by their LOWER-BOUND
    aggregate score (unseen facets contribute 0 — the same fill-in the
    reference reports when its queues dry up), with a per-row ``exact``
    flag: true iff every facet scored the entity.

    The Spark analog of "emission stalled" is the per-facet candidate bound:
    each facet keeps its M = INFLATION_FACTOR·k best candidates
    (``Constants.java:44``), so an entity inside some facets' top-M but
    outside others' gets a partial (lower-bound) score and exact=false —
    exactly the reference's approximate tail, without its timeout
    nondeterminism.  ``prune_m=None`` uses the reference default M."""
    m = prune_m if prune_m is not None else INFLATION_FACTOR * k
    out = multi_source_topk(frames, facets, key_column, k, weights, round_digits, prune_m=m)
    exact = functools.reduce(
        lambda a, b: a & b, [F.col(f"{f.name}_sim").isNotNull() for f in facets]
    )
    return out.withColumn("exact", exact)


def aggregate_sim_frames(
    sim_frames: list[DataFrame],
    facet_names: list[str],
    key_column: str,
    k: int,
    weights: dict[str, float] | None = None,
    round_digits: int | None = 6,
) -> DataFrame:
    """Weighted top-k over pre-scored facet frames of shape
    (key_column, __facet, __sim) — the aggregation tail shared by
    ``multi_source_topk`` and federated REST facets (whose scores arrive
    already computed by the remote engine, ``SimSearchRestQuery.java:
    188-189``, and must NOT be rescored locally).

    union + key-grouped aggregation instead of chained full-outer joins:
    full outer cannot broadcast (SMJ per facet pair), but a union shuffles
    ONCE on the entity key with map-side partial aggregation, handles any
    facet count, and reproduces absent-facet-scores-0 semantics exactly
    (no row → max(when)=NULL → coalesce 0, RankAggregator.java:239-241)."""
    unioned = functools.reduce(lambda a, b: a.unionByName(b), sim_frames)
    agg_cols = [
        F.max(F.when(F.col("__facet") == name, F.col("__sim"))).alias(f"{name}_sim")
        for name in facet_names
    ]
    joined = unioned.groupBy(key_column).agg(*agg_cols)
    ws = weights or {name: 1.0 for name in facet_names}
    total_w = sum(ws.values())
    num = functools.reduce(
        lambda a, b: a + b,
        [F.coalesce(F.col(f"{name}_sim"), F.lit(0.0)) * F.lit(ws[name]) for name in facet_names],
    )
    score = num / F.lit(total_w)
    if round_digits is not None:
        score = F.round(score, round_digits)
    return (
        joined.withColumn("score", score)
        .orderBy(F.col("score").desc(), F.col(key_column).asc())
        .limit(k)
    )
