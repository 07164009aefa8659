"""R3 response formatting: assemble the reference's JSON response shape
(``engine/SearchResponseFormat.java``; golden shape
``data/gdelt/standalone/search_results.json``).

Per weight combination the reference emits: the weights used, and ranked
results each carrying (id, score, exact flag, rank, per-attribute
{name, value, score}, optional extra attributes).  Every Spark search
path is exact — the candidate answer only stands when the TA certificate
proves it (``rank_agg``) — so ``exact`` is always true.
"""

from __future__ import annotations

import json
from typing import Any

from pyspark.sql import DataFrame

from simsearch_spark.plans.spec import SearchRequest


def format_response(
    result: DataFrame,
    request: SearchRequest,
    weights_used: dict[int, dict[str, float]],
    elapsed_s: float | None = None,
) -> list[dict[str, Any]]:
    """Shape the `multi_facet_topk` output into one response object per
    weight combination (SearchResponseFormat.java:60-196).

    Driver-side by design: this formats the k·combos collected rows, never
    table-scale data.
    """
    rows = result.collect()
    by_combo: dict[int, list] = {}
    for r in rows:
        by_combo.setdefault(r["combo"] if "combo" in r.__fields__ else 0, []).append(r)

    responses = []
    for combo in sorted(by_combo):
        ranked = []
        combo_rows = sorted(
            by_combo[combo], key=lambda r: (-r["score"], r[request.key_column])
        )
        for rank, r in enumerate(combo_rows, start=1):
            attributes = []
            for f in request.facets:
                attributes.append(
                    {
                        "name": f.name,
                        "value": _jsonable(r[f.value_cols[0]]) if f.value_cols[0] in r.__fields__ else None,
                        "score": r[f"{f.name}_sim"] if f"{f.name}_sim" in r.__fields__ else None,
                    }
                )
            ranked.append(
                {
                    "id": _jsonable(r[request.key_column]),
                    "rank": rank,
                    "score": r["score"],
                    "exact": True,
                    "attributes": attributes,
                    "extraAttributes": {
                        c: _jsonable(r[c]) for c in request.extra_columns if c in r.__fields__
                    },
                }
            )
        resp = {
            "weights": [weights_used[combo][f.name] for f in request.facets],
            "searchedAttributes": [f.name for f in request.facets],
            "algorithm": request.algorithm,
            "k": request.k,
            "rankedResults": ranked,
        }
        if elapsed_s is not None:
            resp["timeInSeconds"] = elapsed_s
        responses.append(resp)
    return responses


def to_json(responses: list[dict[str, Any]], indent: int | None = None) -> str:
    return json.dumps(responses, indent=indent, default=str)


def _jsonable(v):
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return [_jsonable(x) for x in v]
    return v
