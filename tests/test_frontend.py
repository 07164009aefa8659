import datetime

import pytest
from pyspark.sql import functions as F

from simsearch_spark.operators.rank_agg import multi_facet_topk
from simsearch_spark.operators.response import format_response, to_json
from simsearch_spark.operators.transform import unity_normalize, word2vec_transform, z_normalize
from simsearch_spark.plans.spec import SearchRequest
from simsearch_spark.plans.sql_frontend import SqlParseError, parse_search_sql
from simsearch_spark.sources.registry import load_table


@pytest.fixture(scope="module")
def cust(spark, sf_dir):
    return load_table(spark, sf_dir, "customer")


@pytest.fixture(scope="module")
def orders(spark, sf_dir):
    return load_table(spark, sf_dir, "orders")


#: pre-filters whose ANDs are not conjunctions: BETWEEN bounds (typed,
#: spaced and negated) and a quoted string holding the words
BETWEEN_FILTERS = [
    "o_orderdate BETWEEN '1995-01-01 00:00:00' AND '1996-01-01'",
    "o_orderdate BETWEEN DATE '1995-01-01' AND DATE '1996-01-01'",
    "o_orderdate BETWEEN TIMESTAMP '1995-01-01 00:00:00' AND TIMESTAMP '1996-01-01 00:00:00'",
    "o_totalprice NOT BETWEEN 1000 AND 2000.5",
    "o_orderpriority <> 'between 1 AND 2'",
]


def test_parse_basic(cust):
    p = parse_search_sql(cust, "customer", "SELECT * FROM customer WHERE c_acctbal ~= 500 LIMIT 5", "c_custkey")
    assert len(p.request.facets) == 1
    f = p.request.facets[0]
    assert (f.kind, f.query_value, p.request.k) == ("numerical", 500.0, 5)


def test_parse_default_k_is_50(cust):
    p = parse_search_sql(cust, "customer", "SELECT * FROM customer WHERE c_acctbal ~= 500", "c_custkey")
    assert p.request.k == 50  # SqlParser.java:83-86


def test_parse_kinds_from_schema(cust, spark, sf_dir):
    p = parse_search_sql(
        cust, "customer",
        "SELECT * FROM customer WHERE c_name ~= 'Customer#0' AND c_acctbal ~= max LIMIT 3",
        "c_custkey",
    )
    kinds = {f.name: f.kind for f in p.request.facets}
    assert kinds == {"c_name": "textual", "c_acctbal": "numerical"}
    assert p.request.facets[1].query_value == "max"  # K6
    orders = load_table(spark, sf_dir, "orders")
    p2 = parse_search_sql(
        orders, "orders", "SELECT * FROM orders WHERE o_orderdate ~= '1997-01-01' LIMIT 2", "o_orderkey"
    )
    assert p2.request.facets[0].kind == "temporal"


def test_parse_weights_combos_and_filters(cust, orders):
    p = parse_search_sql(
        cust, "customer",
        "SELECT c_mktsegment FROM customer WHERE c_acctbal ~= 100 AND c_name ~= 'x' "
        "AND c_mktsegment = 'BUILDING' WEIGHTS 0.9, 0.1; 0.5, 0.5 ALGORITHM no_random_access LIMIT 7",
        "c_custkey",
    )
    assert p.request.n_combinations == 2
    assert p.request.algorithm == "no_random_access"
    assert p.filters == ["c_mktsegment = 'BUILDING'"]
    assert p.request.extra_columns == ["c_mktsegment"]
    for flt in BETWEEN_FILTERS:
        p = parse_search_sql(
            orders, "orders",
            f"SELECT * FROM orders WHERE o_totalprice ~= 100 AND {flt} AND o_orderstatus = 'F' LIMIT 5",
            "o_orderkey",
        )
        assert [f.name for f in p.request.facets] == ["o_totalprice"]
        assert p.filters == [flt, "o_orderstatus = 'F'"]


def test_sql_between_prefilter_equals_range_filters(spark, orders):
    """A BETWEEN pre-filter with typed bounds returns the rows of the same
    range written as ``>=`` / ``<=`` pre-filters."""
    from simsearch_spark.plans.sql_frontend import execute_search_sql

    sql = "SELECT o_orderdate FROM orders WHERE o_totalprice ~= 100000 AND {} LIMIT 10"
    lo, hi = "DATE '1996-01-01'", "TIMESTAMP '1997-06-30 12:00:00'"
    between = execute_search_sql(
        spark, orders, "orders", sql.format(f"o_orderdate BETWEEN {lo} AND {hi}"), "o_orderkey"
    ).collect()
    ranged = execute_search_sql(
        spark, orders, "orders",
        sql.format(f"o_orderdate >= {lo} AND o_orderdate <= {hi}"), "o_orderkey",
    ).collect()
    assert len(between) == 10 and between == ranged
    assert all(
        datetime.datetime(1996, 1, 1) <= r.o_orderdate <= datetime.datetime(1997, 6, 30, 12)
        for r in between
    )


def test_parse_rejects(cust):
    with pytest.raises(SqlParseError):  # no similarity condition
        parse_search_sql(cust, "customer", "SELECT * FROM customer WHERE c_acctbal = 5", "c_custkey")
    with pytest.raises(SqlParseError):  # weight arity
        parse_search_sql(
            cust, "customer", "SELECT * FROM customer WHERE c_acctbal ~= 5 WEIGHTS 0.5, 0.5", "c_custkey"
        )
    with pytest.raises(SqlParseError):  # weight range (T6)
        parse_search_sql(
            cust, "customer", "SELECT * FROM customer WHERE c_acctbal ~= 5 WEIGHTS 1.5", "c_custkey"
        )
    with pytest.raises(SqlParseError):  # subquery
        parse_search_sql(
            cust, "customer",
            "SELECT * FROM customer WHERE c_acctbal ~= 5 AND c_custkey IN (SELECT 1)", "c_custkey",
        )
    with pytest.raises(SqlParseError):  # SELECT expression
        parse_search_sql(
            cust, "customer", "SELECT upper(c_name) FROM customer WHERE c_acctbal ~= 5", "c_custkey"
        )
    with pytest.raises(SqlParseError):  # unknown algorithm
        parse_search_sql(
            cust, "customer", "SELECT * FROM customer WHERE c_acctbal ~= 5 ALGORITHM magic", "c_custkey"
        )


def test_sql_prefilter_applies_before_scale_and_weight(spark, sf_dir):
    """Ordinary WHERE predicates are P2 pre-filters: only matching rows
    rank, and the auto scale (k-th nearest distance) and estimated weight
    come from the filtered rows — checked against a numpy recomputation."""
    import numpy as np

    from simsearch_spark.plans.sql_frontend import execute_search_sql

    part = load_table(spark, sf_dir, "part")
    q, k = 1450.0, 10
    sql = f"SELECT p_size FROM part WHERE p_size > 25 AND p_retailprice ~= {q} LIMIT {k}"
    rows = execute_search_sql(spark, part, "part", sql, "p_partkey").collect()

    src = part.select("p_partkey", "p_size", "p_retailprice").toPandas()
    kept = src[src.p_size > 25]
    assert len(kept) < len(src)  # the filter really removes rows
    dist = np.abs(kept.p_retailprice.to_numpy() - q)
    scale = np.sort(dist)[k - 1]
    sim = np.exp(-0.05 * dist / (scale if scale > 0 else 1.0))
    want = sorted(zip(-np.round(sim, 6), kept.p_partkey), key=lambda t: (t[0], t[1]))[:k]
    assert [r.p_partkey for r in rows] == [int(i) for _, i in want]
    assert all(r.p_size > 25 for r in rows)
    for r, (neg_score, _) in zip(rows, want):
        assert abs(r.score + neg_score) <= 2e-6
        assert abs(r.p_retailprice_sim + neg_score) <= 2e-6


def test_parse_point_lat_heuristic_guarded(spark):
    """POINT binding must not blindly take 'the next column' as latitude: a
    non-numeric or missing neighbor is a parse error steering the caller to
    alias_columns, never an IndexError or a silently wrong column pair."""
    lon_last = spark.createDataFrame([(1, "x", 1.0)], "id long, name string, lon double")
    with pytest.raises(SqlParseError, match="alias_columns"):
        parse_search_sql(lon_last, "t", "SELECT * WHERE lon ~= 'POINT (1.0 2.0)'", "id")
    str_next = spark.createDataFrame([(1, 1.0, "x")], "id long, lon double, name string")
    with pytest.raises(SqlParseError, match="alias_columns"):
        parse_search_sql(str_next, "t", "SELECT * WHERE lon ~= 'POINT (1.0 2.0)'", "id")
    # a declared alias resolves regardless of physical column order
    p = parse_search_sql(
        str_next, "t", "SELECT * WHERE pos ~= 'POINT (1.0 2.0)'", "id",
        alias_columns={"pos": ["lon", "lon"]},
    )
    assert p.request.facets[0].kind == "spatial"


def test_response_format_shape(cust):
    from simsearch_spark.plans.spec import Facet

    facets = [
        Facet(name="bal", kind="numerical", value_cols=["c_acctbal"], query_value=1000.0, weights=[0.6]),
        Facet(name="nm", kind="textual", value_cols=["c_name"], query_value="Customer#000000001", weights=[0.4]),
    ]
    req = SearchRequest(table="customer", key_column="c_custkey", facets=facets, k=3)
    out = multi_facet_topk(cust, req)
    resp = format_response(out, req, weights_used={0: {"bal": 0.6, "nm": 0.4}}, elapsed_s=0.1)
    assert len(resp) == 1
    r0 = resp[0]
    assert r0["weights"] == [0.6, 0.4]
    assert len(r0["rankedResults"]) == 3
    first = r0["rankedResults"][0]
    assert first["rank"] == 1 and first["exact"] is True
    assert {a["name"] for a in first["attributes"]} == {"bal", "nm"}
    assert "timeInSeconds" in r0
    assert to_json(resp).startswith("[")


def test_catalog_search_returns_extra_columns(spark, cust):
    """R1: ``Catalog.search(extra_columns=...)`` returns the requested
    columns with the base rows' values."""
    from simsearch_spark.sources.catalog import Catalog

    cat = Catalog(spark)
    cat.register_source("customer", df=cust)
    cat.mount("bal", "customer", "c_custkey", ["c_acctbal"], "numerical_topk")
    out = cat.search({"bal": 1000.0}, k=5, extra_columns=["c_mktsegment", "c_nationkey"]).collect()
    base = {r.c_custkey: r for r in cust.collect()}
    assert len(out) == 5
    for r in out:
        assert (r.c_mktsegment, r.c_nationkey) == (
            base[r.c_custkey].c_mktsegment, base[r.c_custkey].c_nationkey
        )


def test_single_facet_ranks_by_similarity_when_estimate_is_zero(spark):
    """A one-facet request without weights ranks by similarity.  Only rows
    17-19 share a q-gram with the query, so an estimated T5 weight (the
    1 - k/N percentile of the similarities) would be 0, zero every score
    and return the k lowest keys."""
    from simsearch_spark.sources.catalog import Catalog

    names = [f"{c}{c}{c} lemon" for c in "abcdefghijklmnoprs"[:17]]
    names += ["zqxw", "zqxw lemon", "lemon zqx"]
    df = spark.createDataFrame(list(enumerate(names)), "id long, nm string")
    cat = Catalog(spark)
    cat.register_source("t", df=df)
    cat.mount("nm", "t", "id", ["nm"], "textual_topk")
    out = cat.search({"nm": "zqxw"}, k=5).collect()
    assert out[0].id == 17 and {r.id for r in out[:3]} == {17, 18, 19}
    assert out[0].score == 1.0 and all(r.score > 0 for r in out[:3])


def test_similarity_matrix_uses_the_facet_distance(spark):
    """R2: the matrix scores each pair with the facet's own distance —
    q-gram Jaccard for a textual facet, the facet's vector metric, and
    haversine when the spatial facet asks for it — recomputed here in
    plain Python."""
    import math

    from simsearch_spark.operators.postprocess import similarity_matrix
    from simsearch_spark.plans.spec import Facet

    rows = [
        (1, "red widget", [0.0, 1.0], 2.35, 48.85),
        (2, "Red Widgets", [3.0, -1.0], -0.13, 51.51),
        (3, "blue gadget", [0.5, 0.5], 13.40, 52.52),
        (4, "ab", [2.0, 2.0], 2.35, 48.86),
    ]
    result = spark.createDataFrame(rows, "id long, name string, vec array<double>, lon double, lat double")
    facets = [
        Facet(name="nm", kind="textual", value_cols=["name"], query_value="red"),
        Facet(name="v", kind="vector", value_cols=["vec"], query_value=[0.0, 0.0], metric="manhattan"),
        Facet(name="geo", kind="spatial", value_cols=["lon", "lat"], query_value=(0.0, 0.0),
              metric="haversine"),
    ]
    scales = {"nm": 0.5, "v": 2.0, "geo": 300.0}
    weights = {"nm": 0.5, "v": 0.3, "geo": 0.2}
    got = {
        (r.left, r.right): r.sim
        for r in similarity_matrix(result, facets, "id", scales, weights).collect()
    }

    def grams(s):
        s = s.lower()
        return {s[i : i + 3] for i in range(max(len(s) - 2, 1))} - {""}

    def haversine(lon1, lat1, lon2, lat2):
        p1, p2 = math.radians(lat1), math.radians(lat2)
        dphi, dlam = p2 - p1, math.radians(lon2) - math.radians(lon1)
        a = math.sin(dphi / 2) ** 2 + math.cos(p1) * math.cos(p2) * math.sin(dlam / 2) ** 2
        return 2 * 6371.0088 * math.asin(math.sqrt(a))

    def sim(d, scale, jaccard=False):
        return 0.0 if jaccard and d >= 1.0 else math.exp(-0.05 * d / scale)

    assert len(got) == len(rows) ** 2
    for a in rows:
        for b in rows:
            ga, gb = grams(a[1]), grams(b[1])
            d_nm = 1.0 - len(ga & gb) / len(ga | gb)
            d_v = sum(abs(x - y) for x, y in zip(a[2], b[2]))
            d_geo = haversine(a[3], a[4], b[3], b[4])
            want = (
                weights["nm"] * sim(d_nm, scales["nm"], jaccard=True)
                + weights["v"] * sim(d_v, scales["v"])
                + weights["geo"] * sim(d_geo, scales["geo"])
            ) / sum(weights.values())
            assert abs(got[(a[0], b[0])] - want) < 1.5e-6, (a[0], b[0])


def test_word2vec_skips_unknown_tokens(spark):
    docs = spark.createDataFrame(
        [(1, ["a", "b"]), (2, ["zzz"]), (3, ["a"])], "id long, tokens array<string>"
    )
    d = spark.createDataFrame(
        [("a", [1.0, 3.0]), ("b", [3.0, 5.0])], "term string, vec array<double>"
    )
    out = {r.id: r.vec for r in word2vec_transform(docs, "id", "tokens", d).collect()}
    assert out[1] == [2.0, 4.0]  # mean of a,b
    assert out[3] == [1.0, 3.0]
    assert 2 not in out  # all tokens unknown → entity absent (reference parity)


def test_normalization_stats(cust):
    normed, mean, std = z_normalize(cust, "c_acctbal")
    agg = normed.agg(F.round(F.avg("c_acctbal_z"), 6), F.round(F.stddev("c_acctbal_z"), 6)).first()
    assert abs(agg[0]) < 1e-6 and abs(agg[1] - 1.0) < 1e-6
    uni, lo, hi = unity_normalize(cust, "c_acctbal")
    mm = uni.agg(F.min("c_acctbal_u"), F.max("c_acctbal_u")).first()
    assert mm[0] == 0.0 and mm[1] == 1.0
