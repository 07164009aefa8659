"""Multi-attribute rank aggregation (SURVEY.md §2.4 T1–T8).

Reference semantics: aggregate score of entity e =
``Σ w_i·sim_i(e) / Σ w_i`` with a missing/NULL attribute contributing
sim 0 while its weight stays in the denominator
(``RankAggregator.java:236-259``).  TA / NRA / PRA differ only in *access
strategy* (queue pops + random access vs bound maintenance) — on complete
data all three produce the same ranked list.  The Spark build runs one
exact strategy, the Threshold Algorithm's stopping rule
(``ThresholdRanking.java:189-289``) over at most two scans; the
``algorithm`` request field is accepted and echoed for parity (SURVEY.md
§2.4, T1–T3):

- *Probe pass (sorted access).*  Every facet whose scale or weight is
  data-dependent returns its nearest rows in one TakeOrdered job (plus one
  row count when a weight is estimated).  The scale is the largest of the
  k smallest distances; the T5 weight — Spark's exact
  ``percentile(sim, 1 - k/N)`` — interpolates between the k-th and the
  (k+1)-th largest similarity, which are the similarities of the k+1
  smallest distances (similarity never rises with distance; NULL-distance
  and disjoint rows score 0, so the list is padded with zeros when fewer
  rows have a distance).
- *Candidate answer.*  When every facet is probed, each probe returns its
  D = max(``DEPTH``, k+1) nearest rows with the key, every facet's value
  columns and distances and the request's extra columns.  The union of
  those rows is scored with the final pass's own expressions over a local
  relation, which runs no job.  A row no probe returned is at least the
  D-th distance away on every facet that returned D rows and has no
  distance on the others; as a similarity never rises with distance and
  ``+``, ``×w`` (w ≥ 0), ``/Σw`` and the rounding are monotone, its score
  is at most τ_j, combination j's score of those D-th distances.  When
  every combination's k-th candidate beats τ_j by more than one rounding
  unit, no unseen row can place and the candidates are the answer: a local
  relation, with no second scan of the table.
- *Final pass (fallback).*  Otherwise — the certificate fails (ties wider
  than D, fewer than k scored rows), or a facet has an explicit scale and
  weight so nothing probes it — the final pass scans the table once:
  scan → project → one TakeOrdered per weight combination, every scale and
  weight a literal.  Nothing is persisted in either case.

Multi-weight fan-out (T7, ``RankAggregator.java:104-129``): the j-th weight
of every facet forms combination j; all combination scores are computed in
ONE projection, then k rows per combination are taken — no full sort.

Scale: the aggregation is a single wide projection when all facets live on
one table (zero shuffles: scan → project → TakeOrdered).  For facets on
different tables, per-facet score rows union into one (key, facet, sim)
relation aggregated with ONE key-grouped shuffle (map-side partial agg) —
full-outer joins cannot broadcast, so the join-free shape is the scale
contract.
"""

from __future__ import annotations

import functools
import math
from collections import Counter
from dataclasses import dataclass
from typing import Any

import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.conversion import LocalDataToArrowConversion
from pyspark.sql.types import (
    DateType,
    DoubleType,
    IntegerType,
    IntegralType,
    StringType,
    StructField,
    StructType,
)

from simsearch_spark.operators import topk
from simsearch_spark.plans.spec import Facet, SearchRequest

#: TA sorted-access depth: with every facet probed, each probe returns its
#: max(DEPTH, k + 1) nearest rows as candidates.  0 turns the candidate
#: answer off, so every search runs the final pass.
DEPTH = 1024


def _similarity(dist: Column, scale: float | None, f: Facet) -> Column:
    """Facet similarity at a bound scale; a NULL distance (or an unknown
    scale) scores 0 (RankAggregator.java:239-241)."""
    sim = topk.facet_similarity(dist, F.lit(scale).cast("double"), f)
    return F.coalesce(sim, F.lit(0.0))


@dataclass
class _Probe:
    base: DataFrame  # the table restricted to the facets' pre-filters
    dists: dict[str, Column]  # ``__dist_<name>`` -> its expression over ``base``
    scales: dict[str, float | None]
    weights: dict[str, float]  # the estimated T5 weights
    rows: dict[str, list]  # candidate mode: each facet's non-NULL-distance rows
    #: candidate mode: each facet's D-th distance, None when its probe
    #: returned fewer rows (every row it did not return has no distance)
    bounds: dict[str, float | None]


def _probe(
    df: DataFrame, facets: list[Facet], k: int, estimate_weights: bool,
    carry: list[str] | None = None,
) -> _Probe:
    """The probe pass: scales and T5 weights as numbers.

    With ``carry`` (candidate mode) every facet is probed for its D nearest
    rows, each carrying the ``carry`` columns and every facet's distance;
    NaN distances sort first, so a probe that is not all NaN saw every NaN
    row.  Without it a facet is probed only for the distances its scale or
    weight reads."""
    filters = list(dict.fromkeys(f.filter for f in facets if f.filter))
    base = df.where(F.expr(" AND ".join(f"({c})" for c in filters))) if filters else df
    cols = {c: F.col(c) for c in base.columns}
    dists = {
        f"__dist_{f.name}": topk.facet_distance(
            cols, Facet(**{**f.__dict__, "query_value": topk.resolve_query_value(df, f)})
        )
        for f in facets
    }

    estimate = [f for f in facets if f.weights is None] if estimate_weights else []
    n = base.count() if estimate else 0
    # Spark's Percentile interpolates between ascending positions lo and hi
    # of pos = (n - 1)·p, so the weight needs the column's n - lo largest
    # similarities: the k-th and (k+1)-th, or all n rows when n <= k + 1
    pos = (n - 1) * max(0.0, min(1.0, 1.0 - k / max(n, 1)))
    lo, hi = math.floor(pos), math.ceil(pos)
    depth = max(DEPTH, k + 1) if carry is not None else 0
    nearest: dict[str, list[float]] = {}
    rows: dict[str, list] = {}
    bounds: dict[str, float | None] = {}
    for f in facets:
        need = max(k if f.scale is None else 0, n - lo if f in estimate else 0)
        limit = max(depth, need)
        if not limit:
            continue
        name = f"__dist_{f.name}"
        if carry is None:
            got = _nearest(base.select(dists[name].alias(name)), name, limit)
            nearest[f.name] = [r[0] for r in got]
            continue
        # the other facets' distances are computed on the D rows only
        got = _nearest(
            base.select(*carry, dists[name].alias(name)), name, limit, nan_first=True,
            then=[*carry, *[F.col(c) if c == name else e.alias(c) for c, e in dists.items()]],
        )
        vals = [r[name] for r in got]
        rows[f.name], bounds[f.name] = got, (vals[-1] if len(got) == limit else None)
        nan = [v for v in vals if math.isnan(v)]
        nearest[f.name] = [v for v in vals if not math.isnan(v)] + nan
        if len(got) == limit and len(vals) - len(nan) < need:
            # NaN rows crowd out distances the scale or the weight reads
            got = _nearest(base.select(dists[name].alias(name)), name, need)
            nearest[f.name] = [r[0] for r in got]

    scales = {}
    for f in facets:
        # Spark sorts NaN last, so the k-th entry is the k smallest's max
        auto = nearest.get(f.name, [])[:k]
        scales[f.name] = f.scale if f.scale is not None else (auto[-1] if auto else None)

    weights = {f.name: 0.0 for f in estimate}  # no rows: nothing to weigh
    if n:
        # one similarity expression per facet over the n - lo nearest
        # distances, padded with NULLs (sim 0), as a local relation: the
        # projection folds on the driver and runs no job
        table = pa.table({
            f"d{i}": pa.array((nearest[f.name] + [None] * (n - lo))[: n - lo], pa.float64())
            for i, f in enumerate(estimate)
        })
        sims = df.sparkSession.createDataFrame(table).select(*[
            _similarity(F.col(f"d{i}"), scales[f.name], f) for i, f in enumerate(estimate)
        ])
        for f, top in zip(estimate, map(sorted, zip(*sims.collect()))):
            v_lo, v_hi = top[0], top[hi - lo]  # Percentile.getPercentile
            weights[f.name] = v_lo if v_lo == v_hi else (hi - pos) * v_lo + (pos - lo) * v_hi
    return _Probe(base, dists, scales, weights, rows, bounds)


def _nearest(
    frame: DataFrame, name: str, limit: int, nan_first: bool = False,
    then: list[Column] | None = None,
) -> list:
    """The rows of ``frame`` nearest by distance column ``name``, collected
    (projected to ``then`` after the limit), without those whose distance
    is NULL.  NULLs sort last, so dropping them after the limit leaves the
    nearest non-NULL rows, where a filter before the sort would evaluate
    the distance a second time per row."""
    d = F.col(name)
    order = [F.isnan(d).desc(), d.asc_nulls_last()] if nan_first else [d.asc_nulls_last()]
    top = frame.orderBy(*order).limit(limit)
    if then is not None:
        top = top.select(*then)
    return [r for r in top.collect() if r[name] is not None]


def score_facets(
    df: DataFrame, facets: list[Facet], k: int, estimate_weights: bool = False
) -> tuple[DataFrame, dict[str, float]]:
    """Probe pass of the single-table path, with the table-side scores.

    Returns ``df`` restricted to the facets' pre-filters (P2,
    ``SimSearchJdbcQuery.java:136-148``) with per-facet ``__dist_<name>``
    and ``__sim_<name>`` columns whose scales are bound as literals, and —
    with ``estimate_weights`` — the T5 weight of every facet whose
    ``weights`` is None (``engine/weights/Estimator.java:177-189``): the
    p = 1 - k/N percentile of its similarities over the N filtered rows.

    Spark jobs: one ``orderBy(dist).limit(k or k+1)`` collect per facet
    with an auto scale or an estimated weight, plus one row count when any
    weight is estimated.
    """
    p = _probe(df, facets, k, estimate_weights)
    return p.base.withColumns(p.dists).withColumns(_sims(facets, p.scales)), p.weights


def _sims(facets: list[Facet], scales: dict[str, float | None]) -> dict[str, Column]:
    """``__sim_<name>`` over the ``__dist_<name>`` columns."""
    return {
        f"__sim_{f.name}": _similarity(F.col(f"__dist_{f.name}"), scales[f.name], f)
        for f in facets
    }


def _score_columns(
    facets: list[Facet], scales: dict[str, float | None],
    weight_sets: list[dict[str, float]], round_digits: int | None,
) -> list[dict[str, Column]]:
    """The final pass's expressions over the ``__dist_<name>`` columns, in
    two stages: the ``__sim_<name>`` similarities, then every combination's
    ``__score_<j>`` (T7: all of them in one projection) and the rounded
    ``<name>_sim`` output columns."""
    out = {}
    for j, ws in enumerate(weight_sets):
        total_w = sum(ws.values())
        num = functools.reduce(
            lambda a, b: a + b,
            [F.col(f"__sim_{f.name}") * F.lit(ws[f.name]) for f in facets],
        )
        score = num / F.lit(total_w) if total_w else F.lit(0.0)
        if round_digits is not None:
            score = F.round(score, round_digits)
        out[f"__score_{j}"] = score
    for f in facets:
        sim = F.col(f"__sim_{f.name}")
        out[f"{f.name}_sim"] = F.round(sim, round_digits) if round_digits is not None else sim
    return [_sims(facets, scales), out]


def _output_columns(request: SearchRequest) -> list[str]:
    """Per-facet value columns + ``<name>_sim``, then the R1 extra columns."""
    cols = []
    for f in request.facets:
        cols += [*f.value_cols, f"{f.name}_sim"]
    return list(dict.fromkeys([*cols, *request.extra_columns]))


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

    PROBE → CANDIDATES | FINAL (module docstring): the probe pass runs its
    small jobs eagerly; the answer is a local relation read from the
    probed rows when the TA certificate holds, and otherwise the final
    pass — scan → project → one TakeOrdered per weight combination.
    """
    facets, k, key = request.facets, request.k, request.key_column
    # a lone facet's weight cancels in Σw·sim/Σw — unless it is 0, which
    # would zero every score — so one facet runs no estimate and weighs 1
    estimate = len(facets) > 1
    # the candidate answer needs every facet's sorted access; a facet with
    # an explicit scale and weight has no probe, so its request keeps the
    # single final pass
    carry = None
    if DEPTH > 0 and all(f.scale is None or (estimate and f.weights is None) for f in facets):
        value_cols = [c for f in facets for c in f.value_cols]
        carry = list(dict.fromkeys([key, *value_cols, *request.extra_columns]))
    probe = _probe(df, facets, k, estimate, carry)

    weight_sets = [
        {f.name: (f.weights[j] if f.weights is not None else probe.weights.get(f.name, 1.0)) for f in facets}
        for j in range(request.n_combinations)
    ]
    stages = _score_columns(facets, probe.scales, weight_sets, round_digits)
    if carry:
        answer = _candidate_answer(probe, request, weight_sets, stages, round_digits)
        if answer is not None:
            return answer

    scored = probe.base.withColumns(probe.dists)
    for stage in stages:
        scored = scored.withColumns(stage)
    # R1 extra columns ride the projection over each combination's k rows
    out_cols = [F.col(c) for c in _output_columns(request)]
    per_combo = []
    for j in range(len(weight_sets)):
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


def _candidate_answer(
    probe: _Probe, request: SearchRequest, weight_sets: list[dict[str, float]],
    stages: list[dict[str, Column]], round_digits: int | None,
) -> DataFrame | None:
    """The top-k read from the probed rows, or None when the TA certificate
    does not hold (module docstring).  The candidates are scored with the
    final pass's expressions over a local relation of their distances and
    ranked here, so the key type must order in Python as in Spark."""
    facets, k, key = request.facets, request.k, request.key_column
    schema = probe.base.schema
    if not (
        _python_ordered(schema[key].dataType)
        # the bound needs scores that never rise with distance
        and all(0 < f.decay < math.inf for f in facets)
        and all(s is None or math.isfinite(s) for s in probe.scales.values())
        and all(0 <= w < math.inf for ws in weight_sets for w in ws.values())
    ):
        return None

    # a row returned by several probes counts once, with as many copies as
    # the probe that saw it most often: a row that can place lies strictly
    # inside some probe, which then returned all of its copies
    copies: dict[Any, list] = {}
    for f in facets:
        seen = Counter()
        for r in probe.rows[f.name]:
            frozen = _frozen(r)
            seen[frozen] += 1
            copies.setdefault(frozen, [r, 0])
        for frozen, c in seen.items():
            copies[frozen][1] = max(copies[frozen][1], c)
    cands = [r for r, c in copies.values() for _ in range(c)]
    if len(cands) < k:
        return None

    # one more row holds each facet's D-th distance (NULL where the probe
    # returned fewer rows); its scores are the bounds τ_j
    table = pa.table({
        f"__dist_{f.name}": pa.array(
            [r[f"__dist_{f.name}"] for r in cands] + [probe.bounds[f.name]], pa.float64()
        )
        for f in facets
    })
    scored = probe.base.sparkSession.createDataFrame(table)
    for stage in stages:
        scored = scored.withColumns(stage)
    score_cols = [f"__score_{j}" for j in range(len(weight_sets))]
    sim_cols = [f"{f.name}_sim" for f in facets]
    scored = scored.select(*score_cols, *sim_cols)
    *values, taus = scored.collect()

    # Spark ranks a NaN score first; every NaN-distance row is a candidate
    # unless a probe returned only NaN rows, whose NaN bound fails the test
    eps = 10.0 ** -round_digits if round_digits is not None else 1e-9
    out_cols = _output_columns(request)
    sim_at = {c: len(score_cols) + i for i, c in enumerate(sim_cols)}
    out_rows = []
    for j in range(len(weight_sets)):
        order = sorted(range(len(cands)), key=lambda i: _rank_key(values[i][j], cands[i][key]))[:k]
        if not values[order[-1]][j] > taus[j] + eps:
            return None
        for i in order:
            r, v = cands[i], values[i]
            out_rows.append((j, r[key], v[j], *[v[sim_at[c]] if c in sim_at else r[c] for c in out_cols]))

    fields = {f.name: f for f in scored.schema.fields}
    out_schema = StructType([
        StructField("combo", IntegerType(), False),
        schema[key],
        StructField("score", DoubleType(), any(fields[c].nullable for c in score_cols)),
        *[fields[c] if c in sim_at else schema[c] for c in out_cols],
    ])
    arrow = LocalDataToArrowConversion.convert(out_rows, out_schema, False)
    return probe.base.sparkSession.createDataFrame(arrow, schema=out_schema)


def _python_ordered(t) -> bool:
    """Key types whose Python order is Spark's ascending order."""
    if isinstance(t, StringType):
        return t.collation == "UTF8_BINARY"  # UTF-8 bytes order as code points
    return isinstance(t, (IntegralType, DateType))


def _rank_key(score: float, key: Any) -> tuple:
    """``ORDER BY score DESC, key ASC`` as Spark sorts: NaN is the largest
    double and a NULL key the smallest key."""
    nan = math.isnan(score)
    return (not nan, 0.0 if nan else -score, key is not None, key)


def _frozen(v: Any) -> Any:
    """A collected value as a hashable one that tells apart exactly the
    values Spark tells apart (NaN equals NaN, -0.0 is not 0.0)."""
    if isinstance(v, float):
        return v.hex()
    if isinstance(v, (list, tuple)):
        return tuple(map(_frozen, v))
    if isinstance(v, dict):
        return tuple((_frozen(a), _frozen(b)) for a, b in v.items())
    if isinstance(v, bytearray):
        return bytes(v)
    return v


def multi_source_topk(
    frames: dict[str, DataFrame],
    facets: list[Facet],
    key_column: str,
    k: int,
    weights: dict[str, float] | None = None,
    round_digits: int | None = 6,
) -> DataFrame:
    """General path: facets over *different* tables (the reference's vertical
    per-attribute maps, ``Coordinator.java:75``).  Each frame is scored
    independently; the per-facet (key, sim) rows union into one relation and
    aggregate with ONE key-grouped shuffle — absent entities produce no row
    for that facet, so their sim coalesces to 0
    (RankAggregator.java:239-241)."""
    sim_frames = []
    for f in facets:
        scored, _ = score_facets(frames[f.name], [f], k)
        sim_frames.append(scored.select(
            F.col(key_column),
            F.lit(f.name).alias("__facet"),
            F.col(f"__sim_{f.name}").alias("__sim"),
        ))
    return aggregate_sim_frames(
        sim_frames, [f.name for f in facets], key_column, k, weights, round_digits
    )


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
