from hypothesis import example, given, settings, strategies as st
from pyspark.sql import functions as F

from simsearch_spark.operators.rank_agg import multi_facet_topk, multi_source_topk
from simsearch_spark.operators.topk import single_facet_topk
from simsearch_spark.plans.spec import Facet, SearchRequest
from simsearch_spark.sources.registry import load_table


def test_num_topk_basic(spark, sf_dir):
    cust = load_table(spark, sf_dir, "customer")
    f = Facet(name="bal", kind="numerical", value_cols=["c_acctbal"], query_value=1000.0)
    res = single_facet_topk(cust, "c_custkey", f, k=5).collect()
    assert len(res) == 5
    dists = [r.dist for r in res]
    assert dists == sorted(dists)
    assert [r.rank for r in res] == [1, 2, 3, 4, 5]
    assert all(0.0 <= r.score <= 1.0 for r in res)
    # nearest neighbour scores the highest
    assert res[0].score == max(r.score for r in res)


def test_explicit_scale_respected(spark, sf_dir):
    cust = load_table(spark, sf_dir, "customer")
    f = Facet(name="bal", kind="numerical", value_cols=["c_acctbal"], query_value=1000.0, scale=100.0)
    auto = Facet(name="bal", kind="numerical", value_cols=["c_acctbal"], query_value=1000.0)
    r1 = single_facet_topk(cust, "c_custkey", f, k=3).collect()
    r2 = single_facet_topk(cust, "c_custkey", auto, k=3).collect()
    assert [r.c_custkey for r in r1] == [r.c_custkey for r in r2]  # same ranking
    assert r1[0].score != r2[0].score  # different scale ⇒ different scores


def test_max_query_value(spark, sf_dir):
    cust = load_table(spark, sf_dir, "customer")
    f = Facet(name="bal", kind="numerical", value_cols=["c_acctbal"], query_value="max")
    res = single_facet_topk(cust, "c_custkey", f, k=1).collect()
    top_val = cust.agg(F.max("c_acctbal")).first()[0]
    assert res[0].c_acctbal == top_val and res[0].dist == 0.0


def test_filter_applied_before_scoring(spark, sf_dir):
    cust = load_table(spark, sf_dir, "customer")
    f = Facet(
        name="bal", kind="numerical", value_cols=["c_acctbal"], query_value=1000.0,
        filter="c_mktsegment = 'BUILDING'",
    )
    res = single_facet_topk(cust, "c_custkey", f, k=5)
    ids = [r.c_custkey for r in res.collect()]
    segs = {
        r.c_mktsegment
        for r in cust.where(F.col("c_custkey").isin(ids)).select("c_mktsegment").collect()
    }
    assert segs == {"BUILDING"}


def test_null_distance_never_ranks(spark):
    """P3: a row whose distance is NULL — a NULL latitude, or a vector with
    a NULL element — never ranks, even though its first value column is
    set; with fewer non-NULL rows than k every non-NULL row is returned."""
    import math

    df = spark.createDataFrame(
        [
            (i, float(i), None if i == 7 else 0.0, [None, 0.0] if i == 3 else [float(i), 0.0])
            for i in range(20)
        ],
        "id long, lon double, lat double, vec array<double>",
    )
    spatial = Facet(name="loc", kind="spatial", value_cols=["lon", "lat"], query_value=(6.5, 0.0))
    vector = Facet(name="v", kind="vector", value_cols=["vec"], query_value=[2.5, 0.0])
    for facet, k, want in (
        (spatial, 3, [6, 8, 5]),
        (vector, 4, [2, 1, 4, 0]),
        (spatial, 25, [i for i in range(20) if i != 7]),
    ):
        res = single_facet_topk(df, "id", facet, k=k).collect()
        assert sorted(r.id for r in res) == sorted(want)
        assert [r.rank for r in res] == list(range(1, len(want) + 1))
        assert all(r.dist is not None and r.score is not None for r in res)
        # the auto scale is the largest returned distance: its row scores exp(-decay)
        assert res[-1].score == round(math.exp(-0.05), 6)


def test_multi_attr_weight_denominator(spark, sf_dir):
    """NULL facet ⇒ sim 0 but weight stays in denominator (RankAggregator.java:236-259)."""
    df = spark.createDataFrame(
        [(1, 10.0, 10.0), (2, None, 10.0), (3, 10.0, None)],
        "id long, a double, b double",
    )
    facets = [
        Facet(name="fa", kind="numerical", value_cols=["a"], query_value=10.0, weights=[1.0], scale=1.0),
        Facet(name="fb", kind="numerical", value_cols=["b"], query_value=10.0, weights=[1.0], scale=1.0),
    ]
    req = SearchRequest(table="t", key_column="id", facets=facets, k=3)
    rows = {r.id: r for r in multi_facet_topk(df, req).collect()}
    assert rows[1].score == 1.0      # both facets exact
    assert rows[2].score == 0.5      # one facet NULL: (0 + 1)/2
    assert rows[3].score == 0.5
    assert rows[2].fa_sim == 0.0 and rows[2].fb_sim == 1.0


def test_multi_weight_combos_single_pass(spark, sf_dir):
    cust = load_table(spark, sf_dir, "customer")
    facets = [
        Facet(name="bal", kind="numerical", value_cols=["c_acctbal"], query_value=1000.0, weights=[0.9, 0.1]),
        Facet(name="nat", kind="numerical", value_cols=["c_nationkey"], query_value=10.0, weights=[0.1, 0.9]),
    ]
    req = SearchRequest(table="customer", key_column="c_custkey", facets=facets, k=4)
    res = multi_facet_topk(cust, req).collect()
    assert len(res) == 8
    assert {r.combo for r in res} == {0, 1}


def test_multi_source_outer_join_path(spark, sf_dir):
    """Facets on different tables: entities absent from one source still rank
    (vertical decomposition, Coordinator.java:75)."""
    a = spark.createDataFrame([(1, 5.0), (2, 5.0)], "id long, x double")
    b = spark.createDataFrame([(2, 7.0), (3, 7.0)], "id long, y double")
    facets = [
        Facet(name="fx", kind="numerical", value_cols=["x"], query_value=5.0, scale=1.0),
        Facet(name="fy", kind="numerical", value_cols=["y"], query_value=7.0, scale=1.0),
    ]
    res = multi_source_topk({"fx": a, "fy": b}, facets, "id", k=3)
    rows = {r.id: r.score for r in res.collect()}
    assert rows[2] == 1.0           # present in both, exact on both
    assert rows[1] == rows[3] == 0.5  # present in one


def test_kmax_validation(spark):
    facets = [
        Facet(name="a", kind="numerical", value_cols=["x"], query_value=1.0),
        Facet(name="b", kind="numerical", value_cols=["y"], query_value=1.0),
    ]
    try:
        SearchRequest(table="t", key_column="id", facets=facets, k=51)
        raise AssertionError("expected K_MAX validation error")
    except ValueError:
        pass


def test_multi_source_prune_m_matches_exact_when_m_large(spark, sf_dir):
    """With M >= per-facet candidate counts, INFLATION_FACTOR pruning must
    not change the result; with tiny M it bounds each facet's reach (the
    reference's approximate-tail behavior, SURVEY §4)."""
    from simsearch_spark.sources.registry import load_table

    cust = load_table(spark, sf_dir, "customer")
    facets = [
        Facet(name="bal", kind="numerical", value_cols=["c_acctbal"], query_value=1000.0),
        Facet(name="nat", kind="numerical", value_cols=["c_nationkey"], query_value=10.0),
    ]
    frames = {"bal": cust, "nat": cust}
    exact = [(r.c_custkey, r.score) for r in
             multi_source_topk(frames, facets, "c_custkey", 5).collect()]
    pruned = [(r.c_custkey, r.score) for r in
              multi_source_topk(frames, facets, "c_custkey", 5, prune_m=1_000_000).collect()]
    assert exact == pruned
    tiny = multi_source_topk(frames, facets, "c_custkey", 5, prune_m=5).collect()
    assert len(tiny) == 5  # still fills k from the bounded candidate pool


def test_t8_approximate_tail_fill_flags_lower_bound_rows(spark):
    """T8 (ThresholdRanking.java:294-310): entities outside some facet's
    candidate bound still surface with a lower-bound score and exact=false;
    fully-scored entities are exact=true; an ample bound reproduces the
    exact path with every row exact."""
    from simsearch_spark.operators.rank_agg import multi_source_topk_approximate

    a = spark.createDataFrame(
        [(1, 5.0), (2, 4.9), (3, 0.0)], "id long, x double"
    )
    b = spark.createDataFrame(
        [(3, 7.0), (1, 6.9), (2, 0.0)], "id long, y double"
    )
    facets = [
        Facet(name="fx", kind="numerical", value_cols=["x"], query_value=5.0, scale=1.0),
        Facet(name="fy", kind="numerical", value_cols=["y"], query_value=7.0, scale=1.0),
    ]
    # prune_m=2 keeps each facet's 2 best: id=3 drops from fx, id=2 from fy
    rows = {
        r.id: r
        for r in multi_source_topk_approximate(
            {"fx": a, "fy": b}, facets, "id", k=3, prune_m=2
        ).collect()
    }
    assert rows[1].exact  # both facets saw it
    assert not rows[2].exact and rows[2].fy_sim is None  # fy unseen -> lower bound
    assert not rows[3].exact and rows[3].fx_sim is None
    # reference-default bound (1000*k) covers everything here: all exact and
    # identical to the exact path
    ample = multi_source_topk_approximate({"fx": a, "fy": b}, facets, "id", k=3)
    assert all(r.exact for r in ample.collect())
    exact_path = multi_source_topk({"fx": a, "fy": b}, facets, "id", k=3)
    assert [(r.id, r.score) for r in ample.collect()] == [
        (r.id, r.score) for r in exact_path.collect()
    ]


def test_t8_exact_flag_reaches_response(spark):
    """The per-row exact flag must surface in the reference JSON shape."""
    from simsearch_spark.operators.response import format_response
    from simsearch_spark.operators.rank_agg import multi_source_topk_approximate

    a = spark.createDataFrame([(1, 5.0), (2, 4.9), (3, 0.0)], "id long, x double")
    b = spark.createDataFrame([(3, 7.0), (1, 6.9), (2, 0.0)], "id long, y double")
    facets = [
        Facet(name="fx", kind="numerical", value_cols=["x"], query_value=5.0, scale=1.0),
        Facet(name="fy", kind="numerical", value_cols=["y"], query_value=7.0, scale=1.0),
    ]
    out = multi_source_topk_approximate({"fx": a, "fy": b}, facets, "id", k=3, prune_m=2)
    req = SearchRequest(table="t", key_column="id", facets=facets, k=3)
    resp = format_response(out, req, weights_used={0: {"fx": 1.0, "fy": 1.0}})
    flags = {r["id"]: r["exact"] for r in resp[0]["rankedResults"]}
    assert flags[1] is True and flags[2] is False and flags[3] is False


def test_multi_facet_search_persists_nothing(spark, sf_dir, monkeypatch):
    """Auto-scaled, auto-weighted and multi-combination searches cache no
    frame: the probe pass collects numbers and the final plan is scan →
    project → TakeOrdered, with no broadcast scale join and no cached
    relation.  Recorded via persist/cache hooks on the classic DataFrame
    (in PySpark 4 it overrides both, so a base-class patch never fires)."""
    from pyspark.sql.classic.dataframe import DataFrame

    recorded = []

    def recording(orig):
        def hook(self, *a, **kw):
            recorded.append(self)
            return orig(self, *a, **kw)

        return hook

    for name in ("persist", "cache"):
        monkeypatch.setattr(DataFrame, name, recording(getattr(DataFrame, name)))

    cust = load_table(spark, sf_dir, "customer")
    auto = [
        Facet(name="bal", kind="numerical", value_cols=["c_acctbal"], query_value=1000.0),
        Facet(name="nm", kind="textual", value_cols=["c_name"], query_value="Customer#000000007"),
    ]
    combos = [
        Facet(name="bal", kind="numerical", value_cols=["c_acctbal"], query_value=1000.0, weights=[0.9, 0.2]),
        Facet(name="nat", kind="numerical", value_cols=["c_nationkey"], query_value=10.0, weights=[0.1, 0.8]),
    ]
    for facets, n_rows in ((auto, 5), (combos, 10)):
        out = multi_facet_topk(cust, SearchRequest(table="customer", key_column="c_custkey", facets=facets, k=5))
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "InMemoryTableScan" not in plan and "BroadcastExchange" not in plan
        assert "percentile" not in plan.lower()
        assert len(out.collect()) == n_rows
    assert recorded == []


def test_search_jobs_bounded_by_probed_facets(spark, sf_dir):
    """``Catalog.search`` launches at most P + 3 Spark jobs, P = facets
    probed (auto scale or estimated weight): P probes, a row count (two jobs
    under AQE) when a weight is estimated, and the final TakeOrdered."""
    from simsearch_spark.sources.catalog import Catalog

    cat = Catalog(spark)
    cat.register_source("customer", df=load_table(spark, sf_dir, "customer"))
    cat.mount("bal", "customer", "c_custkey", ["c_acctbal"], "numerical_topk")
    cat.mount("nat", "customer", "c_custkey", ["c_nationkey"], "numerical_topk")
    cat.mount("nm", "customer", "c_custkey", ["c_name"], "textual_topk")
    sc = spark.sparkContext

    def jobs(group, conditions, weights=None):
        sc.setJobGroup(group, group)
        try:
            assert cat.search(conditions, k=10, weights=weights).collect()
        finally:
            sc.setJobGroup(None, None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    assert jobs("probe-one", {"bal": 1000.0}) <= 1 + 3
    three = {"bal": 1000.0, "nat": 10.0, "nm": "Customer#000000007"}
    weights = {"bal": [0.5], "nat": [0.3], "nm": [0.2]}
    assert jobs("probe-three", three, weights) <= 3 + 3


_PROBE_VALUES = st.one_of(st.none(), st.sampled_from([0.0, 1.0, 2.5, 4.0, 7.0]))
_PROBE_TEXTS = st.one_of(st.none(), st.text(alphabet="ab", max_size=4))


@given(
    rows=st.lists(st.tuples(_PROBE_VALUES, _PROBE_TEXTS), max_size=12),
    k=st.integers(1, 6),
    case=st.sampled_from(["numerical", "textual", "disjoint"]),
)
@example(rows=[(1.0, "ab")] * 2, k=5, case="numerical")              # N < k
@example(rows=[(1.0, "ab"), (2.5, "b")] * 2, k=4, case="numerical")  # N = k, ties
@example(rows=[(v, "a") for v in (0.0, 1.0, 1.0, 4.0, None)], k=4, case="numerical")  # N = k+1
@example(rows=[(v, "ab") for v in (0.0, 1.0, 2.5, 4.0, 7.0, 1.0)], k=2, case="numerical")  # N > k+1
@example(rows=[(None, t) for t in ("ab", "abab", "b", "aba", "ba")], k=2, case="textual")
@example(rows=[(None, None)] * 3, k=2, case="textual")              # no distance at all
@example(rows=[(1.0, "abab"), (2.5, None), (4.0, "b")], k=1, case="disjoint")
@settings(max_examples=8, deadline=None)
def test_probe_scale_and_weight_equal_full_column(spark_prop, rows, k, case):
    """The probe pass's scale and T5 weight are bit-identical to the
    full-column definitions: the k-th nearest distance (the largest of the
    k smallest non-NULL distances) and Spark's exact
    ``percentile(sim, 1 - k/N)`` over all N rows —
    across NULLs, tied distances, N < k, N = k, N = k+1 and a textual
    query sharing no q-gram with any row."""
    from simsearch_spark.operators.rank_agg import score_facets
    from simsearch_spark.operators.topk import facet_similarity

    df = spark_prop.createDataFrame(
        [(i, x, t) for i, (x, t) in enumerate(rows)], "id long, x double, t string"
    )
    if case == "numerical":
        facet = Facet(name="f", kind="numerical", value_cols=["x"], query_value=2.0)
    else:
        q = "zzz" if case == "disjoint" else "abab"
        facet = Facet(name="f", kind="textual", value_cols=["t"], query_value=q)
    scored, weights = score_facets(df, [facet], k, estimate_weights=True)

    kth_distance = (
        scored.select("__dist_f")
        .where(F.col("__dist_f").isNotNull())
        .orderBy(F.col("__dist_f"))
        .limit(k)
        .agg(F.max("__dist_f").alias("__scale"))
    )
    ref = scored.crossJoin(kth_distance).withColumn(
        "ref_sim",
        F.coalesce(facet_similarity(F.col("__dist_f"), F.col("__scale"), facet), F.lit(0.0)),
    )
    p = max(0.0, min(1.0, 1.0 - k / max(len(rows), 1)))
    got = ref.agg(
        F.count(F.when(~F.col("__sim_f").eqNullSafe(F.col("ref_sim")), 1)).alias("mismatched"),
        F.percentile(F.col("ref_sim"), F.lit(p)).alias("weight"),
    ).first()
    assert got.mismatched == 0
    if rows:
        assert weights["f"] == got.weight
