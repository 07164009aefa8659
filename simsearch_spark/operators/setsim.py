"""Set-similarity search & join at scale (SURVEY.md §2.3 K4/K5).

Reference: AllPairs-style search over an in-heap inverted index with prefix +
length filters (``engine/processor/ingested/CategoricalSimSearch.java``,
int-encoded token sets sorted by global frequency,
``categorical/CollectionTransformer.java:35,113-114``).

Spark-first scale path (the inverted index as a *join*, not a structure):

1. token-frequency dictionary: ``explode → groupBy(token).count`` — one
   shuffle, a mount-time artifact, broadcast afterwards;
2. each set's tokens ordered rarest-first by (freq, token) — sorting struct
   arrays per row, NO global rank window (a dense-rank window would funnel
   the whole vocabulary through one partition at 100 TB);
3. prefix filter: a set with |A| tokens and threshold t can only match sets
   sharing one of its first ``|A| - ceil(t·|A|) + 1`` rarest tokens — only
   the prefix explodes into the inverted-list join;
4. join on token → candidate pairs → exact Jaccard from the full token
   arrays (overlap via array_intersect — pair-count work, not corpus-count).

This is the standard distributed set-similarity-join pattern (prefix filter
pushes the candidate count down by orders of magnitude at 100 TB; the final
shuffle carries candidate pairs that survive the filter).

The *small path* (direct ``array_intersect`` scoring, used by top-k facet
queries where one side is a literal) lives in measures.jaccard_distance.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def token_frequency_dict(df: DataFrame, tokens_col: str = "tokens") -> DataFrame:
    """Global token→frequency dictionary; rarest-first order is (freq asc,
    token asc) — the reference's int encoding sorts its tokens the same way
    (CollectionTransformer.java:35).  One shuffle, reusable artifact — at
    100 TB this is a mount-time precompute, broadcast afterwards."""
    return (
        df.select(F.explode(tokens_col).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def _ordered_tokens(df: DataFrame, id_col: str, tokens_col: str, dict_df: DataFrame) -> DataFrame:
    """(id, tokens sorted rarest-first, set size) — per-row struct sort, no
    global window."""
    exploded = df.select(F.col(id_col), F.explode(tokens_col).alias("token"))
    with_freq = exploded.join(F.broadcast(dict_df), "token")
    return (
        with_freq.groupBy(id_col)
        .agg(
            F.array_sort(F.collect_list(F.struct("freq", "token"))).alias("ft"),
            F.count(F.lit(1)).alias("setsize"),
        )
        .select(
            F.col(id_col),
            F.transform("ft", lambda s: s["token"]).alias("tokens"),
            F.col("setsize"),
        )
    )


def jaccard_self_join(
    df: DataFrame,
    id_col: str,
    tokens_col: str,
    threshold: float,
    dict_df: DataFrame | None = None,
) -> DataFrame:
    """All pairs (a < b) with Jaccard similarity ≥ threshold.

    Output: (id_a, id_b, overlap, size_a, size_b, jaccard).  Exact — the
    prefix filter only prunes candidates that provably cannot reach the
    threshold (AllPairs/PPJoin bound, same pruning family as
    CategoricalSimSearch.java:126-320); verified equal to the naive n² join
    in tests.
    """
    # materialize the token arrays once: the dictionary pass and the ordering
    # pass otherwise both re-evaluate the (possibly expensive) tokenization
    # chain feeding `tokens_col` (~2 extra HOF evaluations measured at sf0.1)
    df = df.select(id_col, tokens_col).persist()
    if dict_df is None:
        dict_df = token_frequency_dict(df, tokens_col)
    ordered = _ordered_tokens(df, id_col, tokens_col, dict_df)

    # prefix length per set: |A| - ceil(t*|A|) + 1
    prefix_len = (
        F.col("setsize")
        - F.ceil(F.col("setsize") * F.lit(float(threshold))).cast("int")
        + F.lit(1)
    )
    # materialization barrier: both join sides and verification read this
    # frame; without it the Generate stage re-evaluates the sort/join chain
    # outside codegen (see operators/dedup.py minhash note)
    prefixed = ordered.withColumn("prefix", F.slice("tokens", 1, prefix_len)).persist()

    left = prefixed.select(
        F.col(id_col).alias("id_a"),
        F.col("setsize").alias("size_a"),
        F.explode("prefix").alias("tok"),
    )
    right = prefixed.select(
        F.col(id_col).alias("id_b"),
        F.col("setsize").alias("size_b"),
        F.explode("prefix").alias("tok"),
    )
    # candidate pairs sharing >=1 prefix token; a<b dedups; length filter:
    # max(|A|,|B|) * t <= min(|A|,|B|) is necessary for J >= t.  Token
    # arrays stay OUT of the explode/shuffle (ids + sizes only); the
    # verification joins them back by id.  A PPJoin positional bound was
    # measured here and pruned only ~4% of candidates on shingle data
    # (near-unique tokens -> weak positional bounds) while its groupBy-agg
    # cost more than it saved — dropped deliberately.
    cand = (
        left.join(right, "tok")
        .where(F.col("id_a") < F.col("id_b"))
        .where(F.col("size_a") * F.lit(1.0) >= F.lit(float(threshold)) * F.col("size_b"))
        .where(F.col("size_b") * F.lit(1.0) >= F.lit(float(threshold)) * F.col("size_a"))
        .select("id_a", "id_b", "size_a", "size_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    sm = prefixed.select(F.col(id_col), F.col("tokens"))
    ver = (
        cand.join(sm.select(F.col(id_col).alias("id_a"), F.col("tokens").alias("toks_a")), "id_a")
        .join(sm.select(F.col(id_col).alias("id_b"), F.col("tokens").alias("toks_b")), "id_b")
    )
    overlap = F.size(F.array_intersect("toks_a", "toks_b"))
    out = ver.withColumn("overlap", overlap).withColumn(
        "jaccard",
        F.col("overlap").cast("double")
        / (F.col("size_a") + F.col("size_b") - F.col("overlap")).cast("double"),
    )
    return out.where(F.col("jaccard") >= float(threshold)).select(
        "id_a", "id_b", "overlap", "size_a", "size_b", "jaccard"
    )


def jaccard_self_join_naive(df: DataFrame, id_col: str, tokens_col: str, threshold: float) -> DataFrame:
    """Reference semantics without pruning (crossJoin) — test oracle for the
    prefix-filtered path on small data; never the scale path."""
    a = df.select(F.col(id_col).alias("id_a"), F.col(tokens_col).alias("t_a"))
    b = df.select(F.col(id_col).alias("id_b"), F.col(tokens_col).alias("t_b"))
    pairs = a.crossJoin(b).where(F.col("id_a") < F.col("id_b"))
    overlap = F.size(F.array_intersect("t_a", "t_b"))
    union = F.size(F.array_union("t_a", "t_b"))
    return (
        pairs.withColumn("overlap", overlap)
        .withColumn("size_a", F.size("t_a"))
        .withColumn("size_b", F.size("t_b"))
        .withColumn(
            "jaccard",
            F.when(union == 0, F.lit(0.0)).otherwise(F.col("overlap").cast("double") / union.cast("double")),
        )
        .where(F.col("jaccard") >= float(threshold))
        .select("id_a", "id_b", "overlap", "size_a", "size_b", "jaccard")
    )
