"""Reference-format configuration loader: mount sources and execute searches
from the SAME JSON files a simsearch deployment already has.

A user of the reference engine drives it with two files
(``README.md:54-137``): ``sources.json`` (mount specs —
``manager/MountSpecs.java``, parsed at ``Coordinator.java:287-360``) and
``search.json`` (``engine/SearchSpecs.java``).  This module accepts both
verbatim, so switching engines is a code-free migration: the end-to-end test
feeds the reference's own GDELT config files through here and reproduces its
committed golden results.

Scope: file (csv/parquet) sources on one dataset per search request — the
standalone deployment shape.  JDBC/REST sources keep their documented
dispositions (SURVEY §2.1); multi-dataset requests route through
``operators.rank_agg.multi_source_topk``.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from simsearch_spark.functions.text import tokenize
from simsearch_spark.plans.spec import Facet, SearchRequest
from simsearch_spark.plans.sql_frontend import _POINT_RE

#: the reference's compact timestamp format in the GDELT corpus
#: (DataIngestor date-format detection; explicit here — no sniffing)
DEFAULT_TEMPORAL_FORMAT = "yyyyMMddHHmmss"

OP_TO_KIND = {
    "numerical_topk": "numerical",
    "temporal_topk": "temporal",
    "spatial_knn": "spatial",
    "categorical_topk": "categorical",
    "textual_topk": "textual",
    "pivot_based": "vector",
}


@dataclass
class ConfiguredMount:
    name: str
    kind: str
    value_cols: list[str]
    key_column: str


@dataclass
class ConfiguredCatalog:
    frame: DataFrame
    key_column: str
    mounts: dict[str, ConfiguredMount]


def mount_reference_sources(
    spark: SparkSession,
    sources_json: str,
    base_dir: str | None = None,
    temporal_format: str = DEFAULT_TEMPORAL_FORMAT,
) -> ConfiguredCatalog:
    """Mount every attribute in a reference ``sources.json``.

    Returns one ConfiguredCatalog over the (single) dataset the search
    entries reference; derived columns (token sets, parsed timestamps) are
    attached the way the reference's DataIngestor materializes them at
    mount time."""
    cfg = json.load(open(sources_json))
    sources = {s["name"]: s for s in cfg["sources"]}
    frame: DataFrame | None = None
    frame_key: tuple[str, str] | None = None
    mounts: dict[str, ConfiguredMount] = {}
    key_column = None

    for e in cfg["search"]:
        src = sources[e["source"]]
        if src.get("type", "csv") not in ("csv", "parquet"):
            raise NotImplementedError(
                f"source type {src.get('type')!r} is query-time, not mount-time: "
                "jdbc mounts via sources.catalog register_source(jdbc_url=...), "
                "restapi facets via sources.rest (es_facet_frame / "
                "simsearch_facet_sim_frame) + multi_source_topk"
            )
        if e["operation"] == "vector_dictionary":
            # word-vector dictionary source (Coordinator.java:608-643): a
            # lookup table for the word2vec transform (its own dataset), not
            # a searchable attribute — nothing to mount facet-wise
            continue
        this_key = (e["source"], e["dataset"])
        if frame_key is None:
            directory = base_dir or src["directory"]
            path = os.path.join(directory, e["dataset"])
            if src.get("type", "csv") == "parquet":
                frame = spark.read.parquet(path)
            else:
                frame = spark.read.csv(
                    path,
                    sep=e.get("separator", ","),
                    header=str(e.get("header", "true")).lower() == "true",
                    inferSchema=True,
                )
            frame_key = this_key
        elif this_key != frame_key:
            raise NotImplementedError(
                "multi-dataset mounts: score per-dataset and combine with multi_source_topk"
            )

        op = e["operation"]
        cols = e["search_column"]
        cols = [cols] if isinstance(cols, str) else list(cols)
        name = e.get("alias_column") or cols[0]
        # every facet joins on ONE entity key; silently keeping the last
        # entry's key would join earlier facets on the wrong column and
        # return wrong results with no error — fail loudly like the
        # multi-dataset guard above
        if key_column is not None and e["key_column"] != key_column:
            raise ValueError(
                f"search entries disagree on key_column: {key_column!r} vs "
                f"{e['key_column']!r} (entry {name!r}); a single-dataset mount "
                "must use one entity key"
            )
        key_column = e["key_column"]

        if op == "pivot_based":
            # pivot deployments mount every attribute as pivot_based; the
            # per-attribute metric comes from the column shape, exactly the
            # DataIngestor dispatch: (lon, lat) pair → spatial, delimited
            # token column → categorical, parseable date → temporal,
            # numeric → numerical
            if len(cols) == 2:
                op = "spatial_knn"
            elif "token_delimiter" in e:
                op = "categorical_topk"
            elif dict(frame.dtypes).get(cols[0]) in ("string",):
                op = "textual_topk"
            else:
                sample = frame.select(F.col(cols[0]).cast("string")).first()
                is_ts = sample is not None and len(str(sample[0] or "")) == len(
                    "yyyyMMddHHmmss"
                ) and str(sample[0]).isdigit()
                op = "temporal_topk" if is_ts else "numerical_topk"
        if op not in OP_TO_KIND:
            raise ValueError(f"unknown operation {op!r}")

        if op == "categorical_topk":
            delim = e.get("token_delimiter", ",")
            derived = f"{name}__tokens"
            frame = frame.withColumn(derived, tokenize(F.col(cols[0]), delim))
            cols = [derived]
        elif op == "temporal_topk":
            derived = f"{name}__ts"
            frame = frame.withColumn(
                derived, F.to_timestamp(F.col(cols[0]).cast("string"), temporal_format)
            )
            cols = [derived]
        elif op == "spatial_knn":
            frame = frame.withColumn(cols[0], F.col(cols[0]).cast("double")).withColumn(
                cols[1], F.col(cols[1]).cast("double")
            )

        mounts[name] = ConfiguredMount(
            name=name, kind=OP_TO_KIND[op], value_cols=cols, key_column=key_column
        )

    if frame is None:
        raise ValueError("sources.json declares no search entries")
    return ConfiguredCatalog(frame=frame, key_column=key_column, mounts=mounts)


def persist_catalog(cat: ConfiguredCatalog, mount_dir: str) -> None:
    """Persist a configured catalog as mount artifacts (r12 — the full
    §3.1+§3.3 lifecycle on the reference's own config fixtures): the
    ingested frame WITH its mount-time derived columns (token sets,
    parsed timestamps, cast coordinates) lands as parquet, the facet
    specs as ``reference_catalog.json``.  A later serve process loads
    both (``load_catalog``) and answers ``search.json`` requests without
    re-ingesting or re-deriving anything — the golden outputs reproduce
    from the artifacts alone (tests/test_gdelt_golden.py)."""
    os.makedirs(mount_dir, exist_ok=True)
    cat.frame.write.mode("overwrite").parquet(
        os.path.join(mount_dir, "catalog_frame")
    )
    meta = {
        "key_column": cat.key_column,
        "mounts": [
            {
                "name": m.name,
                "kind": m.kind,
                "value_cols": list(m.value_cols),
                "key_column": m.key_column,
            }
            for m in cat.mounts.values()
        ],
    }
    with open(os.path.join(mount_dir, "reference_catalog.json"), "w") as f:
        json.dump(meta, f, indent=1, sort_keys=True)


def load_catalog(spark: SparkSession, mount_dir: str) -> ConfiguredCatalog:
    """Rehydrate a ``persist_catalog`` mount: same frame (derived columns
    included), same facet specs — the serve half of the lifecycle."""
    with open(os.path.join(mount_dir, "reference_catalog.json")) as f:
        meta = json.load(f)
    frame = spark.read.parquet(os.path.join(mount_dir, "catalog_frame"))
    mounts = {
        m["name"]: ConfiguredMount(
            name=m["name"],
            kind=m["kind"],
            value_cols=list(m["value_cols"]),
            key_column=m["key_column"],
        )
        for m in meta["mounts"]
    }
    return ConfiguredCatalog(
        frame=frame, key_column=meta["key_column"], mounts=mounts
    )


def _bind_query_value(kind: str, value):
    if kind == "spatial" and isinstance(value, str):
        m = _POINT_RE.match(value.strip())
        if not m:
            raise ValueError(f"spatial query value must be WKT POINT, got {value!r}")
        return (float(m.group(1)), float(m.group(2)))
    if kind == "numerical" and not isinstance(value, (int, float)):
        return value if value == "max" else float(value)
    if kind == "temporal" and isinstance(value, str):
        v = value.strip()
        if v.isdigit() and len(v) == 14:  # the reference's compact yyyyMMddHHmmss
            import datetime as _dt

            return _dt.datetime.strptime(v, "%Y%m%d%H%M%S").strftime("%Y-%m-%d %H:%M:%S")
    return value


def search_reference_request(
    cat: ConfiguredCatalog,
    search_json: str,
    scales: dict[str, float] | None = None,
    round_digits: int | None = 6,
) -> DataFrame:
    """Execute a reference ``search.json`` against a ConfiguredCatalog.

    ``scales`` supplies explicit per-attribute ε (``SearchSpecs.scale``) —
    the reference's user-given-scale path; omitted attributes use the
    two-pass k-th-distance auto-scale."""
    from simsearch_spark.operators.rank_agg import multi_facet_topk

    spec = json.load(open(search_json))
    facets = []
    for q in spec["queries"]:
        name = q["column"]
        if name not in cat.mounts:
            raise KeyError(f"attribute {name!r} not mounted by sources.json")
        m = cat.mounts[name]
        weights = [float(w) for w in q.get("weights", [])] or None
        facets.append(
            Facet(
                name=name,
                kind=m.kind,
                value_cols=m.value_cols,
                query_value=_bind_query_value(m.kind, q["value"]),
                weights=weights,
                scale=(scales or {}).get(name),
            )
        )
    req = SearchRequest(
        table="configured",
        key_column=cat.key_column,
        facets=facets,
        k=int(spec.get("k", 50)),
        algorithm=spec.get("algorithm", "threshold"),
        extra_columns=list((spec.get("output") or {}).get("extra_columns", [])),
    )
    return multi_facet_topk(cat.frame, req, round_digits=round_digits)
