"""Property-based tests (hypothesis) — the reference ships zero tests
(SURVEY.md §5); these pin the algebraic properties the operators rely on.
Each property evaluates one batched Spark job over many generated examples
(per-example sessions would be prohibitively slow).
"""

from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from simsearch_spark.functions.text import char_fold_hash, qgrams
from simsearch_spark.operators.setsim import jaccard_self_join, jaccard_self_join_naive

ASCII_TOKEN = st.text(alphabet=st.characters(min_codepoint=33, max_codepoint=126), min_size=1, max_size=8)


def _py_charfold(s: str, mod: int = 1_000_000_007, mult: int = 31) -> int:
    h = 0
    for c in s:
        h = (h * mult + ord(c)) % mod
    return h


@given(st.lists(st.text(alphabet=st.characters(min_codepoint=32, max_codepoint=126), max_size=40), min_size=1, max_size=30))
@settings(max_examples=10, deadline=None)
def test_char_fold_hash_matches_python(spark_prop, strings):
    df = spark_prop.createDataFrame([(s,) for s in strings], "s string")
    got = [r.h for r in df.select(char_fold_hash(F.col("s")).alias("h")).collect()]
    assert got == [_py_charfold(s) for s in strings]


@given(st.lists(st.text(alphabet="abcd ", min_size=0, max_size=25), min_size=1, max_size=20))
@settings(max_examples=10, deadline=None)
def test_qgram_count_bounds(spark_prop, strings):
    df = spark_prop.createDataFrame([(s,) for s in strings], "s string")
    rows = df.select(F.col("s"), F.size(qgrams(F.col("s"))).alias("n")).collect()
    for r in rows:
        # distinct q-grams: at least 1 (nonempty), at most len-2 for len>=3
        expected_max = max(len(r.s) - 2, 1) if r.s else 1
        assert 0 <= r.n <= expected_max


@given(
    st.lists(
        st.lists(ASCII_TOKEN, min_size=0, max_size=12).map(lambda x: sorted(set(x))),
        min_size=2,
        max_size=14,
    ),
    st.sampled_from([0.3, 0.6, 0.9]),
)
@settings(max_examples=8, deadline=None)
def test_prefix_join_equals_naive_property(spark_prop, sets, threshold):
    rows = [(i, toks) for i, toks in enumerate(sets)]
    df = spark_prop.createDataFrame(rows, "id long, tokens array<string>")
    nonempty = df.where(F.size("tokens") > 0)
    fast = {
        (r.id_a, r.id_b, round(r.jaccard, 9))
        for r in jaccard_self_join(nonempty, "id", "tokens", threshold).collect()
    }
    naive = {
        (r.id_a, r.id_b, round(r.jaccard, 9))
        for r in jaccard_self_join_naive(nonempty, "id", "tokens", threshold).collect()
    }
    assert fast == naive


def test_decay_monotone_and_bounded(spark):
    """exp(-λ d/s) is strictly decreasing in d and bounded in (0, 1]."""
    from simsearch_spark.functions.measures import decayed_similarity

    df = spark.range(1, 2000).select((F.col("id") / 10.0).alias("d"))
    rows = df.select("d", decayed_similarity(F.col("d"), F.lit(7.0)).alias("s")).orderBy("d").collect()
    sims = [r.s for r in rows]
    assert all(0.0 < s <= 1.0 for s in sims)
    assert all(a > b for a, b in zip(sims, sims[1:]))


def test_minhash_identical_sets_identical_sigs(spark):
    from simsearch_spark.functions.hashing import minhash_signature, token_hashes

    df = spark.createDataFrame(
        [(1, ["x", "y", "z"]), (2, ["z", "y", "x"]), (3, ["x", "y"])],
        "id long, toks array<string>",
    )
    sigs = {
        r.id: tuple(r.sig)
        for r in df.withColumn("h", token_hashes(F.col("toks")))
        .select(F.col("id"), minhash_signature(F.col("h")).alias("sig"))
        .collect()
    }
    assert sigs[1] == sigs[2]  # order-insensitive
    assert sigs[1] != sigs[3]


@given(st.lists(st.lists(ASCII_TOKEN, min_size=0, max_size=150), min_size=1, max_size=20))
@settings(max_examples=10, deadline=None)
def test_doc_chunks_partition_tokens_exactly(spark_prop, token_lists):
    """Chunking is a partition: chunk sizes sum to the doc's token count,
    every chunk except the last is exactly W, and re-joining chunk texts in
    order reproduces the tokenized document."""
    from simsearch_spark.queries import corpus as C

    df = spark_prop.createDataFrame(
        [(i, " ".join(toks)) for i, toks in enumerate(token_lists)],
        "doc_id long, text string",
    )
    import unittest.mock as _m

    with _m.patch.object(C, "load_table", lambda spark, sf_dir, name: df):
        rows = C.q_doc_chunks(spark_prop, "x").collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append((r.chunk_idx, r.chunk_tokens, r.chunk_text))
    for i, toks in enumerate(token_lists):
        toks = [t for t in " ".join(toks).lower().split() if t]
        chunks = sorted(by_doc.get(i, []))
        assert sum(c[1] for c in chunks) == len(toks)
        assert all(c[1] == C.CHUNK_W for c in chunks[:-1])
        rejoined = " ".join(c[2] for c in chunks)
        assert rejoined.split() == toks


def test_multi_source_aggregation_has_no_join(spark, sf_dir):
    """Multi-source rank aggregation is a union + ONE key-grouped
    aggregation, never a chain of (unbroadcastable) full-outer joins —
    full outer cannot use BroadcastHashJoin, so the join-free shape is the
    scale contract."""
    from simsearch_spark.operators.rank_agg import multi_source_topk
    from simsearch_spark.plans.spec import Facet
    from simsearch_spark.sources.registry import load_table

    cust = load_table(spark, sf_dir, "customer")
    facets = [
        Facet(name="bal", kind="numerical", value_cols=["c_acctbal"], query_value=500.0),
        Facet(name="nm", kind="textual", value_cols=["c_name"], query_value="Customer#0"),
    ]
    out = multi_source_topk({"bal": cust, "nm": cust}, facets, "c_custkey", 5)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan and "FullOuter" not in plan, plan
    assert out.count() == 5


def test_corpus_quality_filter_buckets(spark, sf_dir):
    """The CCNet-style composition: bucket counts must be internally
    consistent with an independent numpy replay of the p90 threshold over
    the query's own scores (percentile == numpy 'linear' interpolation),
    and the keep fraction must be ~LM_QUALITY_P of scored docs."""
    import numpy as np

    from simsearch_spark.queries.vocab import LM_QUALITY_P, q_corpus_quality_filter

    rows = q_corpus_quality_filter(spark, sf_dir).collect()
    scored = [r for r in rows if r.log_ppl is not None]
    assert {r.bucket for r in rows} <= {"keep", "drop_tail", "drop_unscored"}
    assert all(r.bucket == "drop_unscored" for r in rows if r.log_ppl is None)
    thr = round(float(np.percentile([r.log_ppl for r in scored], LM_QUALITY_P * 100)), 6)
    for r in scored:
        want = "drop_tail" if r.log_ppl > thr else "keep"
        assert r.bucket == want, (r.doc_id, r.log_ppl, thr, r.bucket)
    keep = sum(1 for r in scored if r.bucket == "keep")
    assert abs(keep / len(scored) - LM_QUALITY_P) < 0.05


def test_corpus_quality_filter_all_unscored(spark, tmp_path):
    """A corpus of <2-token docs has no scored rows: the threshold
    aggregate is a single NULL row (never empty), and every doc buckets
    drop_unscored instead of crashing or misclassifying."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from simsearch_spark.queries.vocab import q_corpus_quality_filter

    d = tmp_path / "sf_tiny"
    d.mkdir()
    t = pa.Table.from_pylist(
        [
            {"doc_id": 1, "text": "one", "lang": "en", "source": "s", "n_chars": 3},
            {"doc_id": 2, "text": "", "lang": "en", "source": "s", "n_chars": 0},
            {"doc_id": 3, "text": None, "lang": "en", "source": "s", "n_chars": 0},
        ]
    )
    pq.write_table(t, str(d / "documents.parquet"))
    rows = q_corpus_quality_filter(spark, str(d)).collect()
    got = {r.doc_id: r.bucket for r in rows}
    assert got == {1: "drop_unscored", 2: "drop_unscored"}  # NULL text filtered upstream
