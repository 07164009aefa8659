"""Query IR: facets and search requests.

The reference has no logical/physical plan split — its IR is the Jackson
POJO ``request/SearchRequest.java`` {k, algorithm, output, queries[]}
(SURVEY.md §3.1).  We keep the same shape: a `SearchRequest` is a list of
`Facet`s (one per similarity condition) plus k and weight combinations.
The *plan* is then built declaratively as a DataFrame, so Catalyst is the
optimizer the reference never had (SURVEY.md §4).

Determinism contract (FIXTURES.md §F4): ties broken ``score DESC, id ASC``;
the reference's ties are arbitrary (``RankAggregator.java:209``).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any

from simsearch_spark.functions.measures import DECAY_FACTOR

#: facet kinds — mirrors manager/DataType.java:13-21 + engine extensions
KINDS = (
    "numerical",    # K1  numerical_topk   — NUMBER
    "temporal",     # K2  temporal_topk    — DATE_TIME (epoch seconds)
    "spatial",      # K3  spatial_knn      — GEOLOCATION (planar degrees)
    "categorical",  # K4  categorical_topk — KEYWORD_SET (Jaccard)
    "textual",      # K5  textual_topk     — STRING (q-gram Jaccard)
    "vector",       # extension: NUMBER_ARRAY with metric distance (pivot path)
)


@dataclass
class Facet:
    """One similarity condition = reference ``SearchSpecs`` entry.

    value_cols: source column(s) — one except spatial (lon, lat).
    query_value: number | ISO timestamp string | (lon, lat) | list of tokens |
        string | list of floats | the literal "max" (K6: resolves to the
        attribute max, ``SearchHandler.java:434-441``).
    weights: one weight per combination (T7 multi-weight fan-out,
        ``RankAggregator.java:104-129``); None → estimated from the candidate
        score distribution (T5, ``engine/weights/Estimator.java:177-189``).
    scale: None → auto = exact k-th nearest distance
        (``NumericalSimSearch.java:244-246`` et al.).
    filter: optional boolean SQL applied *before* scoring (P2 pre-filter,
        ``SimSearchJdbcQuery.java:136-148``).
    metric: for vector facets: euclidean | manhattan | chebyshev | cosine.
    """

    name: str
    kind: str
    value_cols: list[str]
    query_value: Any
    weights: list[float] | None = None
    decay: float = DECAY_FACTOR
    scale: float | None = None
    filter: str | None = None
    metric: str = "euclidean"
    qgram: int = 3

    def __post_init__(self) -> None:
        if self.kind not in KINDS:
            raise ValueError(f"unknown facet kind {self.kind!r}; one of {KINDS}")
        if isinstance(self.value_cols, str):
            self.value_cols = [self.value_cols]


@dataclass
class SearchRequest:
    """k + facets (+ algorithm accepted for parity, recorded not dispatched:
    TA/NRA/PRA produce identical results on complete data — SURVEY.md §2.4 —
    so the Spark build has one exact execution strategy, TA's stopping
    rule: the answer is read from the probed facets' nearest rows when the
    threshold certificate proves no unseen row can place, and a final pass
    over the table runs otherwise — see ``operators.rank_agg``)."""

    table: str
    key_column: str
    facets: list[Facet]
    k: int = 50
    algorithm: str = "threshold"
    extra_columns: list[str] = field(default_factory=list)

    def __post_init__(self) -> None:
        # K_MAX=50 cap for multi-attribute queries (Constants.java:42,
        # SearchHandler.java:253-263)
        if len(self.facets) > 1 and self.k > 50:
            raise ValueError("k must be <= 50 for multi-attribute queries (K_MAX)")
        if self.k <= 0:
            raise ValueError("k must be positive")
        # T6 validation (Validator.java:14-24); NaN fails the range test
        for f in self.facets:
            for w in f.weights or ():
                if not 0.0 <= w <= 1.0:
                    raise ValueError(f"weight {w} of facet {f.name!r} outside [0, 1]")

    @property
    def n_combinations(self) -> int:
        ns = {len(f.weights) for f in self.facets if f.weights is not None}
        if len(ns) > 1:
            raise ValueError("all facets must declare the same number of weight combinations")
        return ns.pop() if ns else 1
