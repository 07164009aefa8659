"""The Threshold Algorithm's stopping rule in ``rank_agg.multi_facet_topk``:
the answer read from the probed candidates is bit-identical to the final
pass (rows, order and schema), and the lambda-free q-gram kernel keeps the
q-gram semantics."""

import datetime
import decimal

from hypothesis import event, example, given, settings, strategies as st
from pyspark.sql import functions as F

from simsearch_spark.functions.text import qgrams
from simsearch_spark.operators import rank_agg, topk
from simsearch_spark.plans.spec import Facet, SearchRequest


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _both(df, req, depth=None):
    """(answer at ``depth``, forced final pass) as (collected rows, schema,
    plan) triples; ``depth`` None keeps the module's ``DEPTH``."""
    out = []
    saved = rank_agg.DEPTH
    try:
        for d in (saved if depth is None else depth, 0):
            rank_agg.DEPTH = d
            res = rank_agg.multi_facet_topk(df, req)
            out.append(([repr(tuple(r)) for r in res.collect()], res.schema, _plan(res)))
    finally:
        rank_agg.DEPTH = saved
    return out


def _from_candidates(plan: str) -> bool:
    return "TakeOrderedAndProject" not in plan and "LocalTableScan" in plan


_VALUES = st.sampled_from([None, 0.0, 1.0, 1.0, 2.5, 3.0, 4.0, float("nan")])
_TEXTS = st.sampled_from([None, "", "ab", "abab", "aba", "bab", "xabax", "ababab", "b a"])
_DATES = st.sampled_from([None, *[datetime.date(2020, 1, d) for d in (1, 1, 2, 5)]])
#: (copies, x, t, d): the key is the row's position, repeated ``copies``
#: times — a key's rows are identical, so the answer's order is determined
_ROWS = st.lists(st.tuples(st.sampled_from([1, 1, 1, 2]), _VALUES, _TEXTS, _DATES), min_size=3, max_size=12)


@given(
    rows=_ROWS,
    k=st.integers(1, 4),
    depth=st.sampled_from([2, 1024, 1024]),
    kinds=st.sampled_from([("x", "t"), ("x", "d"), ("t", "d"), ("x", "t", "d"), ("t",)]),
    weights=st.one_of(
        st.none(), st.lists(st.sampled_from([0.0, 0.25, 0.5, 1.0]), min_size=2, max_size=3)
    ),
    prefilter=st.booleans(),
)
@example(rows=[(1, 1.0, "ab", datetime.date(2020, 1, 1))] * 6, k=2, depth=1,
         kinds=("x", "t"), weights=None, prefilter=False)  # ties wider than D
@example(rows=[(2, 1.0, "ab", None), (1, None, None, None), (2, 2.5, "abab", None)], k=3,
         depth=1024, kinds=("x", "t"), weights=[1.0, 0.0], prefilter=False)  # duplicates, 0 weight
@example(rows=[(1, 2.5, "b", None)], k=4, depth=1024, kinds=("x", "t", "d"),
         weights=None, prefilter=True)  # N < k, estimated weights
@example(rows=[(1, float("nan") if i % 2 else 1.0, "ba", None) for i in range(5)], k=2,
         depth=1, kinds=("x", "t"), weights=[1.0, 1.0], prefilter=False)  # NaN distances
@settings(max_examples=16, deadline=None)
def test_candidate_answer_equals_final_pass(spark_prop, rows, k, depth, kinds,
                                            weights, prefilter):
    """Across ties (duplicate numbers, shared q-grams, equal dates), NULL
    and NaN values, duplicate rows, N <= D and N < k, 2-3 weight
    combinations or estimated weights, a pre-filter, extra columns and a 0
    weight, the answer equals the final pass bit for bit."""
    df = spark_prop.createDataFrame(
        [(key, x, t, d, f"ünï{key % 3}")
         for key, (copies, x, t, d) in enumerate(rows) for _ in range(copies)],
        "id long, x double, t string, d date, tag string",
    )
    spec = {
        "x": ("numerical", ["x"], 2.0),
        "t": ("textual", ["t"], "abab"),
        "d": ("temporal", ["d"], "2020-01-02"),
    }
    facets = []
    for i, name in enumerate(kinds):
        kind, cols, q = spec[name]
        ws = None if weights is None else weights[i:] + weights[:i]
        facets.append(Facet(
            name=name, kind=kind, value_cols=cols, query_value=q, weights=ws,
            filter="id % 4 <> 1" if prefilter and i == 0 else None,
        ))
    req = SearchRequest(table="t", key_column="id", facets=facets, k=k, extra_columns=["tag"])
    (got, got_schema, got_plan), (want, want_schema, want_plan) = _both(df, req, depth)
    event("candidate answer" if _from_candidates(got_plan) else "final pass")
    assert "TakeOrderedAndProject" in want_plan
    assert got == want
    assert got_schema == want_schema


def test_candidate_answer_round_trips_column_types(spark):
    """Candidate columns survive the trip through Python and Arrow: a
    non-ASCII string key, TIMESTAMP, DATE and DECIMAL values and extras —
    the answer is a local relation equal to the final pass.  A key whose
    Python order may differ from Spark's (double) takes the final pass."""
    ts = [datetime.datetime(2021, 3, 28, 1, 30, 0, 123456) + datetime.timedelta(hours=7 * i)
          for i in range(12)]
    df = spark.createDataFrame(
        [
            (f"ключ-{i:02d}😀", ts[i], datetime.date(2020, 1, 1 + i % 5),
             decimal.Decimal(f"{i % 4}.25"), float(i) / 2, [f"s{i % 3}", "z"])
            for i in range(12)
        ],
        "key string, ts timestamp, day date, amount decimal(12,2), dkey double, toks array<string>",
    )
    facets = [
        Facet(name="when", kind="temporal", value_cols=["ts"], query_value="2021-03-29 09:00:00"),
        Facet(name="amt", kind="numerical", value_cols=["amount"], query_value=1.0, weights=None),
        Facet(name="toks", kind="categorical", value_cols=["toks"], query_value=["s1", "q"]),
    ]
    for key, local in (("key", True), ("dkey", False)):
        req = SearchRequest(table="t", key_column=key, facets=facets, k=4,
                            extra_columns=["day", "key", "amount"])
        (got, got_schema, got_plan), (want, want_schema, _) = _both(df, req)
        assert _from_candidates(got_plan) is local
        assert got == want and got_schema == want_schema


def test_candidate_answer_runs_no_final_pass(spark, monkeypatch):
    """When the certificate holds the answer is a local relation read from
    the probes; when ties at the D-th distance could hide a placing row
    (D forced to k + 1) the final pass runs.  Both equal the forced final
    pass, and a SQL ``WHERE`` pre-filter applies to either."""
    from simsearch_spark.plans.sql_frontend import execute_search_sql

    df = spark.createDataFrame(
        [(i, float(i % 7), f"name {i % 5}", i % 3) for i in range(40)],
        "id long, v double, nm string, grp int",
    )
    sql = "SELECT grp FROM t WHERE grp <> 1 AND v ~= 3.0 AND nm ~= 'name 3' WEIGHTS 0.5, 0.5 LIMIT 3"
    for depth, local in ((1024, True), (1, False)):
        monkeypatch.setattr(rank_agg, "DEPTH", depth)
        out = execute_search_sql(spark, df, "t", sql, "id")
        assert _from_candidates(_plan(out)) is local
        rows = out.collect()
        assert all(r.grp != 1 for r in rows) and len(rows) == 3
        monkeypatch.setattr(rank_agg, "DEPTH", 0)
        assert rows == execute_search_sql(spark, df, "t", sql, "id").collect()


def test_qgram_edge_cases(spark):
    """The lambda-free kernel's q-grams: a NULL text has none (so it scores
    distance 1.0, not NULL), '' none, a 1-2 character string itself, and
    lowercasing may change the length ('İ' lowers to two characters);
    astral characters count as one character each, as in Python."""
    texts = [None, "", "a", "Ab", "İstanbul", "a😀bcd", "aaaa"]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "i int, t string")
    facet = Facet(name="t", kind="textual", value_cols=["t"], query_value="abcd")
    rows = df.select(
        "t", qgrams(F.col("t")).alias("g"), topk.facet_distance({"t": F.col("t")}, facet).alias("d")
    ).orderBy("i").collect()

    def py_grams(s):
        s = (s or "").lower()
        return sorted({s[i:i + 3] for i in range(max(len(s) - 2, 1))} - {""})

    for r, t in zip(rows, texts):
        assert r.g == py_grams(t), (t, r.g)
    assert rows[0].d == 1.0 and rows[1].d == 1.0
    assert rows[4].g == py_grams("i̇stanbul") and len(rows[4].g) == 7
    assert rows[5].g == ["a😀b", "bcd", "😀bc"]


def test_categorical_distance_keeps_set_semantics(spark):
    """A stored token array may repeat a token or hold a NULL element: the
    distance treats it as a set, as the union/intersect kernel did, and a
    NULL array has a NULL distance."""
    df = spark.createDataFrame(
        [(["a", "a"],), (["a", None],), ([None],), ([],), (None,)], "toks array<string>"
    )
    facet = Facet(name="c", kind="categorical", value_cols=["toks"], query_value=["a", "b"])
    got = [r.d for r in df.select(topk.facet_distance({"toks": F.col("toks")}, facet).alias("d")).collect()]
    assert got == [0.5, 1 - 1 / 3, 1.0, 1.0, None]


def test_textual_distance_plan_has_no_comparator_or_filter_lambda(spark):
    """The textual distance sorts with ``sort_array`` and drops empties with
    ``array_remove``: the only lambda left is the substring ``transform``,
    and no union array is built."""
    df = spark.createDataFrame([(1, "red widget")], "id int, nm string")
    facet = Facet(name="nm", kind="textual", value_cols=["nm"], query_value="widget")
    d = topk.facet_distance({"nm": F.col("nm")}, facet)
    plan = df.select(d.alias("d"))._jdf.queryExecution().optimizedPlan().toString()
    assert "array_sort" not in plan and "filter(" not in plan and "array_union" not in plan
    assert plan.count("lambdafunction") == plan.count("transform(") > 0
