"""Golden-file parity with the reference's own end-to-end test corpus
(SURVEY.md §5): run the GDELT search (`data/gdelt/standalone/search.json`)
through THIS engine and compare against the committed golden output
(`search_results.json`) — ids, ranks, per-attribute scores, and aggregate
scores for every weight combination.

Scale factors: the golden was generated with per-attribute scale factors
(`SearchSpecs.scale` — the request field exists; the committed search.json
omits them).  They are recovered from the golden itself (persons 2.5,
timestamp 450000 s, position 5x the min spatial distance) and fed as
explicit `Facet.scale` — the reference supports exactly this (user-given
scale), so parity on all 2x5 results x 3 attributes is a real end-to-end
check of tokenization, epoch conversion, planar distance, decay scoring,
NULL handling, and weighted aggregation.
"""

import json
import math
import os

import pytest
from pyspark.sql import functions as F

from simsearch_spark.functions.text import tokenize
from simsearch_spark.operators.rank_agg import multi_facet_topk
from simsearch_spark.plans.spec import Facet, SearchRequest

GDELT_DIR = "/root/reference/data/gdelt"
SAMPLE = f"{GDELT_DIR}/sample.csv"
GOLDEN = f"{GDELT_DIR}/standalone/search_results.json"

SCALE_PERSONS = 2.5
SCALE_TIMESTAMP = 450_000.0
SCALE_POSITION = 0.001627882059605522 * 5  # 5 x min planar distance to query

needs_fixture = pytest.mark.skipif(
    not (os.path.exists(SAMPLE) and os.path.exists(GOLDEN)), reason="reference fixture absent"
)


@needs_fixture
def test_gdelt_golden_parity(spark):
    df = (
        spark.read.csv(SAMPLE, header=True, inferSchema=True)
        .withColumn("persons_set", tokenize(F.col("persons"), ";"))
        .withColumn("ts", F.to_timestamp(F.col("timestamp").cast("string"), "yyyyMMddHHmmss"))
        .withColumn("longitude", F.col("longitude").cast("double"))
        .withColumn("latitude", F.col("latitude").cast("double"))
    )
    facets = [
        Facet(
            name="persons", kind="categorical", value_cols=["persons_set"],
            query_value=["joe biden", "donald trump"], weights=[1.0, 0.8], scale=SCALE_PERSONS,
        ),
        Facet(
            name="timestamp", kind="temporal", value_cols=["ts"],
            query_value="2019-11-04 08:45:00", weights=[1.0, 0.4], scale=SCALE_TIMESTAMP,
        ),
        Facet(
            name="position", kind="spatial", value_cols=["longitude", "latitude"],
            query_value=(-74.94, 42.15), weights=[1.0, 0.7], scale=SCALE_POSITION,
        ),
    ]
    req = SearchRequest(table="gdelt", key_column="article_id", facets=facets, k=5)
    out = multi_facet_topk(df, req, round_digits=None).collect()

    golden = json.load(open(GOLDEN))
    assert len(golden) == 2  # two weight combinations

    by_combo = {}
    for r in out:
        by_combo.setdefault(r.combo, []).append(r)

    for combo_idx, resp in enumerate(golden):
        got = sorted(by_combo[combo_idx], key=lambda r: -r.score)
        want = resp["rankedResults"]
        assert len(got) == len(want) == 5
        for g, w in zip(got, want):
            assert g.article_id == w["id"], (combo_idx, g.article_id, w["id"])
            assert math.isclose(g.score, w["score"], abs_tol=1e-9), (w["id"], g.score, w["score"])
            want_attr = {a["name"]: a["score"] for a in w["attributes"]}
            assert math.isclose(g.persons_sim, want_attr["persons"], abs_tol=1e-9)
            assert math.isclose(g.timestamp_sim, want_attr["timestamp"], abs_tol=1e-9)
            assert math.isclose(g.position_sim, want_attr["position"], abs_tol=1e-9)


@needs_fixture
def test_gdelt_missing_values_score_zero(spark):
    """Rows with empty lon/lat or persons must still rank via other facets
    (P3/NULL semantics, RankAggregator.java:239-241) — verified on the
    reference's own data which contains such rows."""
    df = (
        spark.read.csv(SAMPLE, header=True, inferSchema=True)
        .withColumn("persons_set", tokenize(F.col("persons"), ";"))
        .withColumn("longitude", F.col("longitude").cast("double"))
        .withColumn("latitude", F.col("latitude").cast("double"))
    )
    n_missing = df.where(F.col("longitude").isNull()).count()
    assert n_missing > 0  # the fixture really exercises this
    facets = [
        Facet(name="persons", kind="categorical", value_cols=["persons_set"],
              query_value=["donald trump"], weights=[0.5], scale=SCALE_PERSONS),
        Facet(name="position", kind="spatial", value_cols=["longitude", "latitude"],
              query_value=(-74.94, 42.15), weights=[0.5], scale=SCALE_POSITION),
    ]
    from simsearch_spark.operators.rank_agg import score_facets

    scored, _ = score_facets(df, facets, 50)
    missing = scored.where(F.col("longitude").isNull())
    rows = missing.select("article_id", "__sim_persons", "__sim_position").collect()
    assert rows, "fixture should contain NULL-position rows"
    # NULL facet contributes exactly 0, other facets still score
    assert all(r["__sim_position"] == 0.0 for r in rows)
    assert any(r["__sim_persons"] > 0.0 for r in rows)


PIVOT_GOLDEN = f"{GDELT_DIR}/standalone/search_pivot_results.json"


@needs_fixture
def test_gdelt_pivot_golden_partial_parity(spark):
    """Partial parity with the reference's pivot-mode golden
    (`search_pivot_results.json`, query `search_pivot.json`).

    Finding (round-2 adjudication follow-up): the golden records per-result
    per-attribute SCORES but not the ε scales.  Solving
    ``ε = decay·dist / -ln(score)`` against raw attribute distances shows
    - positive_sentiment and position imply ONE consistent ε across all
      results (the pivot-embedded distance equals the raw distance for them),
    - timestamp and organizations imply a DIFFERENT ε per result (up to ~13×
      spread): their recorded scores depend on the unseeded random pivots
      (``pivoting/PivotSelector.java:141-145``) through lower-bound embedded
      distances, so they are not deterministically recoverable — the
      documented disposition for full pivot replay stands.

    This test recovers ε for the two recoverable attributes from the FIRST
    golden result only, then requires our engine's scoring pipeline to
    reproduce the remaining recorded scores to 1e-9 — an end-to-end check of
    csv ingest, numeric/spatial distance, and decay scoring in pivot mode.
    """
    import math as m

    from simsearch_spark.functions.measures import DECAY_FACTOR
    from simsearch_spark.operators.rank_agg import score_facets

    golden = json.load(open(PIVOT_GOLDEN))
    results = [r for combo in golden for r in combo["rankedResults"]]
    by_attr = {
        a: {r["id"]: {x["name"]: x["score"] for x in r["attributes"]}[a] for r in results}
        for a in ("positive_sentiment", "position")
    }

    df = (
        spark.read.csv(SAMPLE, header=True, inferSchema=True)
        .withColumn("positive_sentiment", F.col("positive_sentiment").cast("double"))
        .withColumn("longitude", F.col("longitude").cast("double"))
        .withColumn("latitude", F.col("latitude").cast("double"))
    )
    # pass 1: raw distances (scale 1.0) for the golden ids
    probe = [
        Facet(name="positive_sentiment", kind="numerical", value_cols=["positive_sentiment"],
              query_value=2.5, scale=1.0),
        Facet(name="position", kind="spatial", value_cols=["longitude", "latitude"],
              query_value=(-74.94, 42.15), scale=1.0),
    ]
    ids = sorted({r["id"] for r in results})
    dist_rows = {
        r.article_id: r
        for r in score_facets(df.where(F.col("article_id").isin(ids)), probe, 5)[0]
        .select("article_id", "__dist_positive_sentiment", "__dist_position")
        .collect()
    }
    # recover ε from the first golden result, then verify every other result
    scales = {}
    first = golden[0]["rankedResults"][0]["id"]
    for attr, dist_col in (("positive_sentiment", "__dist_positive_sentiment"),
                           ("position", "__dist_position")):
        s0, d0 = by_attr[attr][first], dist_rows[first][dist_col]
        assert 0 < s0 < 1 and d0 > 0
        scales[attr] = DECAY_FACTOR * d0 / -m.log(s0)

    scored = score_facets(
        df.where(F.col("article_id").isin(ids)),
        [Facet(name="positive_sentiment", kind="numerical", value_cols=["positive_sentiment"],
               query_value=2.5, scale=scales["positive_sentiment"]),
         Facet(name="position", kind="spatial", value_cols=["longitude", "latitude"],
               query_value=(-74.94, 42.15), scale=scales["position"])],
        5,
    )[0].select("article_id", "__sim_positive_sentiment", "__sim_position").collect()
    checked = 0
    for r in scored:
        for attr, col in (("positive_sentiment", "__sim_positive_sentiment"),
                          ("position", "__sim_position")):
            want = by_attr[attr].get(r.article_id)
            if want is None:
                continue
            assert math.isclose(r[col], want, abs_tol=1e-9), (r.article_id, attr, r[col], want)
            checked += 1
    assert checked >= 12  # both attributes across the golden result set


@needs_fixture
def test_gdelt_pivot_golden_ts_org_scales_unrecoverable(spark):
    """The negative half of the finding, pinned as a test so the disposition
    is evidence, not assertion: per-result implied ε for timestamp and
    organizations is NOT constant (unseeded pivot embedding) — if a future
    reference version starts recording raw-distance scores, this fails and
    tells us full pivot parity became possible."""
    import csv as _csv
    import datetime as _dt
    import math as m

    golden = json.load(open(PIVOT_GOLDEN))
    rows = {r["article_id"]: r for r in _csv.DictReader(open(SAMPLE))}
    q_ts = _dt.datetime(2019, 11, 4, 8, 45, 0)
    q_org = {"white house", "cnn"}
    for attr in ("timestamp", "organizations"):
        implied = []
        for res in golden[0]["rankedResults"]:
            s = {a["name"]: a["score"] for a in res["attributes"]}[attr]
            r = rows[res["id"]]
            if attr == "timestamp":
                d = abs((_dt.datetime.strptime(r["timestamp"], "%Y%m%d%H%M%S") - q_ts).total_seconds())
            else:
                orgs = {t.strip().lower() for t in r["organizations"].split(";") if t.strip()}
                d = 1 - len(orgs & q_org) / len(orgs | q_org)
            if 0 < s < 1 and d > 0:
                implied.append(0.05 * d / -m.log(s))
        spread = max(implied) / min(implied)
        assert spread > 1.5, (attr, implied)  # genuinely inconsistent


@needs_fixture
def test_reference_config_files_drive_engine_to_golden(spark):
    """Code-free migration: mount from the reference's own sources.json and
    execute its own search.json (both verbatim), then match its committed
    golden output — ids, ranks, aggregate scores — for both weight combos.
    Scales are the golden-recovered ε values (the user-given-scale path)."""
    from simsearch_spark.sources.config import (
        mount_reference_sources,
        search_reference_request,
    )

    cat = mount_reference_sources(
        spark, f"{GDELT_DIR}/standalone/sources.json", base_dir=GDELT_DIR
    )
    assert set(cat.mounts) == {
        "persons", "timestamp", "position", "positive_sentiment", "negative_sentiment",
    }
    out = search_reference_request(
        cat,
        f"{GDELT_DIR}/standalone/search.json",
        scales={
            "persons": SCALE_PERSONS,
            "timestamp": SCALE_TIMESTAMP,
            "position": SCALE_POSITION,
        },
        round_digits=None,
    ).collect()

    golden = json.load(open(GOLDEN))
    by_combo = {}
    for r in out:
        by_combo.setdefault(r.combo, []).append(r)
    for combo_idx, resp in enumerate(golden):
        got = sorted(by_combo[combo_idx], key=lambda r: -r.score)
        want = resp["rankedResults"]
        assert [g.article_id for g in got] == [w["id"] for w in want]
        for g, w in zip(got, want):
            assert math.isclose(g.score, w["score"], abs_tol=1e-9), (w["id"], g.score)


@needs_fixture
def test_golden_reproduces_from_persisted_mount(spark, tmp_path):
    """The full mount/search lifecycle (§3.1 + §3.3, r12): mount from the
    reference's sources.json, PERSIST the catalog as artifacts, reload it
    in a separate serve step (no re-ingest, no re-derive), execute the
    reference's search.json — and the committed golden reproduces
    byte-for-byte (same ids, same ranks, scores to 1e-9)."""
    from simsearch_spark.sources.config import (
        load_catalog,
        mount_reference_sources,
        persist_catalog,
        search_reference_request,
    )

    d = str(tmp_path / "ref_mount")
    persist_catalog(
        mount_reference_sources(
            spark, f"{GDELT_DIR}/standalone/sources.json", base_dir=GDELT_DIR
        ),
        d,
    )
    served = load_catalog(spark, d)  # the serve process's view
    assert set(served.mounts) == {
        "persons", "timestamp", "position", "positive_sentiment", "negative_sentiment",
    }
    out = search_reference_request(
        served,
        f"{GDELT_DIR}/standalone/search.json",
        scales={
            "persons": SCALE_PERSONS,
            "timestamp": SCALE_TIMESTAMP,
            "position": SCALE_POSITION,
        },
        round_digits=None,
    ).collect()

    golden = json.load(open(GOLDEN))
    by_combo = {}
    for r in out:
        by_combo.setdefault(r.combo, []).append(r)
    for combo_idx, resp in enumerate(golden):
        got = sorted(by_combo[combo_idx], key=lambda r: -r.score)
        want = resp["rankedResults"]
        assert [g.article_id for g in got] == [w["id"] for w in want]
        for g, w in zip(got, want):
            assert math.isclose(g.score, w["score"], abs_tol=1e-9), (w["id"], g.score)
            want_attr = {a["name"]: a["score"] for a in w["attributes"]}
            assert math.isclose(g.persons_sim, want_attr["persons"], abs_tol=1e-9)
            assert math.isclose(g.timestamp_sim, want_attr["timestamp"], abs_tol=1e-9)
            assert math.isclose(g.position_sim, want_attr["position"], abs_tol=1e-9)


@needs_fixture
def test_reference_pivot_config_mounts_and_searches(spark):
    """The pivot deployment's config files: every attribute mounts as
    pivot_based with its metric inferred from column shape (the DataIngestor
    dispatch); the vector_dictionary source is a lookup, not a facet.  The
    search executes end-to-end with the golden-recovered ε for the two
    recoverable attributes and returns k ranked rows with the requested
    extra column."""
    from simsearch_spark.sources.config import (
        mount_reference_sources,
        search_reference_request,
    )

    cat = mount_reference_sources(
        spark, f"{GDELT_DIR}/standalone/sources_pivot.json", base_dir=GDELT_DIR
    )
    kinds = {m.name: m.kind for m in cat.mounts.values()}
    assert kinds == {
        "position": "spatial",
        "organizations": "categorical",
        "timestamp": "temporal",
        "positive_sentiment": "numerical",
        "negative_sentiment": "numerical",
    }
    out = search_reference_request(
        cat,
        f"{GDELT_DIR}/standalone/search_pivot.json",
        scales={"positive_sentiment": 0.009894391287351795, "position": 1.1101190716697534,
                "organizations": 0.12, "timestamp": 450_000.0},
    ).collect()
    assert len(out) == 2 * 5  # two weight combos x k=5
    assert "negative_sentiment" in out[0].asDict()  # extra_columns honored


def test_mount_rejects_conflicting_key_columns(spark, tmp_path):
    """Entries disagreeing on key_column must raise, not silently keep the
    last one (every facet would then join on the wrong entity key and return
    wrong results with no error)."""
    import json

    import pytest

    from simsearch_spark.sources.config import mount_reference_sources

    (tmp_path / "d.csv").write_text("id,a,b\n1,2.5,3.5\n2,4.5,5.5\n")
    cfg = {
        "sources": [{"name": "s1", "type": "csv", "directory": str(tmp_path)}],
        "search": [
            {"source": "s1", "dataset": "d.csv", "operation": "numerical_topk",
             "search_column": "a", "key_column": "id"},
            {"source": "s1", "dataset": "d.csv", "operation": "numerical_topk",
             "search_column": "b", "key_column": "a"},
        ],
    }
    p = tmp_path / "sources.json"
    p.write_text(json.dumps(cfg))
    with pytest.raises(ValueError, match="key_column"):
        mount_reference_sources(spark, str(p))


def test_search_json_extra_columns_match_base_rows(spark, tmp_path):
    """``output.extra_columns`` of a reference ``search.json`` come back on
    every ranked row with the base rows' values."""
    import json

    from simsearch_spark.sources.config import mount_reference_sources, search_reference_request

    (tmp_path / "d.csv").write_text("id,a,b\n1,2.5,x\n2,4.5,y\n3,9.0,z\n")
    cfg = {
        "sources": [{"name": "s1", "type": "csv", "directory": str(tmp_path)}],
        "search": [{"source": "s1", "dataset": "d.csv", "operation": "numerical_topk",
                    "search_column": "a", "key_column": "id"}],
    }
    (tmp_path / "sources.json").write_text(json.dumps(cfg))
    search = {"queries": [{"column": "a", "value": 4.0}], "k": 2,
              "output": {"extra_columns": ["b"]}}
    (tmp_path / "search.json").write_text(json.dumps(search))
    cat = mount_reference_sources(spark, str(tmp_path / "sources.json"))
    out = search_reference_request(cat, str(tmp_path / "search.json")).collect()
    assert sorted((r.id, r.b) for r in out) == [(1, "x"), (2, "y")]
