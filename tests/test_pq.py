"""Tests for product quantization (operators/pq.py)."""

import random

import pytest
from pyspark.sql import functions as F

from simsearch_spark.operators.pq import pq_adc_topk, pq_encode, pq_train


def _frame(spark, vecs):
    return spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )


def test_planted_codebook_is_exact(spark):
    """Vectors drawn exactly from ksub distinct subvector values per
    subspace: training recovers them (Lloyd's is a fixed point), every
    encode distance is 0, and ADC top-k equals the exact scan."""
    rng = random.Random(3)
    m, dsub, ksub = 2, 4, 4
    # 4 possible subvectors per subspace, integer-valued (round-6 stable)
    pool = [[float(rng.randint(-5, 5)) for _ in range(dsub)] for _ in range(ksub)]
    pool2 = [[float(rng.randint(-5, 5)) for _ in range(dsub)] for _ in range(ksub)]
    vecs = []
    for i in range(64):
        vecs.append(pool[i % ksub] + pool2[(i * 7 + 1) % ksub])
    df = _frame(spark, vecs).persist()
    books = pq_train(df, "vec_id", "embedding", m=m, ksub=ksub, iters=3)
    enc = pq_encode(df, "vec_id", "embedding", books).persist()
    dists = enc.agg(F.max("dist_0"), F.max("dist_1")).first()
    assert dists[0] == 0.0 and dists[1] == 0.0

    q = vecs[5]
    adc = [r.vec_id for r in pq_adc_topk(enc, "vec_id", books, q, 10).collect()]
    # exact scan: since quantization is lossless here, ADC == exact L2 order
    from simsearch_spark.functions.measures import euclidean_distance

    exact = [
        r.vec_id
        for r in df.select(
            "vec_id",
            F.round(euclidean_distance(F.col("embedding"), F.lit(q)), 6).alias("d"),
        )
        .orderBy(F.col("d").asc(), F.col("vec_id").asc())
        .limit(10)
        .collect()
    ]
    assert adc == exact


def test_adc_candidates_plus_rerank_recall_on_live_fixture(spark, sf_dir):
    """The production PQ serving shape — ADC scan as the CANDIDATE stage,
    exact re-rank of the short list (the IVF-PQ pattern): on the real
    embeddings, ADC top-100 candidates re-ranked exactly must recover
    nearly all of the exact L2 top-10.  (The fixture's embeddings are
    near-uniform random — distances concentrate, the hardest case for
    quantization — so direct ADC top-10 is NOT expected to be exact;
    candidates + re-rank is the documented contract.)"""
    from simsearch_spark.functions.measures import euclidean_distance
    from simsearch_spark.sources.registry import load_table

    emb = load_table(spark, sf_dir, "embeddings").persist()
    books = pq_train(emb, "vec_id", "embedding", m=8, ksub=16, iters=2)
    enc = pq_encode(emb, "vec_id", "embedding", books).persist()
    q = [float(x) for x in emb.orderBy("vec_id").first()["embedding"]]
    cand = pq_adc_topk(enc, "vec_id", books, q, 100).select("vec_id")
    rerank = [
        r.vec_id
        for r in cand.join(emb, "vec_id")
        .select(
            "vec_id",
            euclidean_distance(F.col("embedding"), F.lit(q)).alias("d"),
        )
        .orderBy(F.col("d").asc(), F.col("vec_id").asc())
        .limit(10)
        .collect()
    ]
    exact = [
        r.vec_id
        for r in emb.select(
            "vec_id",
            euclidean_distance(F.col("embedding"), F.lit(q)).alias("d"),
        )
        .orderBy(F.col("d").asc(), F.col("vec_id").asc())
        .limit(10)
        .collect()
    ]
    assert len(set(rerank) & set(exact)) >= 8, (rerank, exact)
    # survivors keep the exact order (re-rank IS the exact metric)
    common = [v for v in exact if v in set(rerank)]
    assert [v for v in rerank if v in set(common)] == common


def test_encode_plan_is_shuffle_free(spark):
    """The 100 TB contract: PQ encode is a pure projection — the corpus
    never moves.  The executed plan must contain no Exchange."""
    vecs = [[float(i % 7), float(i % 3), float(-i % 5), 1.0] for i in range(40)]
    df = _frame(spark, vecs)
    books = pq_train(df, "vec_id", "embedding", m=2, ksub=4, iters=1)
    plan = (
        pq_encode(df, "vec_id", "embedding", books)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan


def test_dim_must_divide_and_empty_frame(spark):
    df = _frame(spark, [[1.0, 2.0, 3.0]])
    with pytest.raises(ValueError, match="not divisible"):
        pq_train(df, "vec_id", "embedding", m=2, ksub=2)
    empty = df.where(F.lit(False))
    with pytest.raises(ValueError, match="empty"):
        pq_train(empty, "vec_id", "embedding", m=1, ksub=2)


def test_training_sample_is_plan_bounded(spark, sf_dir):
    """VERDICT r9: the gated PQ plan must BE the 100 TB plan — the declared
    queries train on the deterministic lowest-id PQ_TRAIN_N sample, never
    the corpus.  The sample frame's physical plan is a take-ordered limit
    (bounded rows reach every training pass), and at fixture scale the
    bound is really exercised: sample-trained codebooks differ from
    full-frame-trained ones."""
    from simsearch_spark.queries.cluster import (
        PQ_ITERS, PQ_KSUB, PQ_M, PQ_TRAIN_N, pq_training_sample,
    )
    from simsearch_spark.sources.registry import load_table

    emb = load_table(spark, sf_dir, "embeddings").persist()
    sample = pq_training_sample(emb)
    plan = sample._jdf.queryExecution().executedPlan().toString()
    assert f"limit={PQ_TRAIN_N}" in plan or f"GlobalLimit {PQ_TRAIN_N}" in plan, plan
    assert sample.count() == min(PQ_TRAIN_N, emb.count())
    books_s = pq_train(sample, "vec_id", "embedding", m=PQ_M, ksub=PQ_KSUB, iters=PQ_ITERS)
    books_f = pq_train(emb, "vec_id", "embedding", m=PQ_M, ksub=PQ_KSUB, iters=PQ_ITERS)
    if emb.count() > PQ_TRAIN_N:
        assert books_s != books_f


def test_ivf_pq_scans_only_probed_cells(spark, sf_dir):
    """The composed IVF-PQ serving shape: the cell predicate must reach the
    parquet scan (bytes read ∝ n_probe/n_cells, not N), the whole plan must
    stay shuffle-free (codegen encode + ADC + TakeOrderedAndProject), and
    every served row must come from a probed cell."""
    from simsearch_spark.operators.pq import ivf_pq_topk
    from simsearch_spark.queries.cluster import pq_training_sample
    from simsearch_spark.queries.ivf import _centroid_map
    from simsearch_spark.sources.registry import load_table

    # another test's persist() of this table would make the CacheManager
    # swap the scan for an InMemoryRelation and hide the parquet pushdown
    spark.catalog.clearCache()
    emb = load_table(spark, sf_dir, "embeddings")  # NOT persisted: real scan
    q = [float(x) for x in emb.orderBy("vec_id").first()["embedding"]]
    books = pq_train(pq_training_sample(emb), "vec_id", "embedding", m=4, ksub=8, iters=1)
    cents = _centroid_map(spark, sf_dir)
    out = ivf_pq_topk(
        emb, "vec_id", "embedding", cents, books, q, 10,
        n_probe=2, rerank=30, assign_col="label",
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "In(label" in plan, plan
    assert "Exchange" not in plan, plan
    # membership: served ids lie in the 2 probed cells
    cent = sorted(
        cents.items(),
        key=lambda c: (sum((a - b) ** 2 for a, b in zip(q, c[1])), c[0]),
    )
    probed = {cid for cid, _ in cent[:2]}
    ids = [r.vec_id for r in out.collect()]
    got_labels = {
        r.label for r in emb.where(F.col("vec_id").isin(ids)).select("label").collect()
    }
    assert got_labels <= probed
    assert len(ids) == 10 and ids == sorted(set(ids), key=ids.index)


def test_ivf_pq_rerank_monotone_and_exact_at_depth(spark, sf_dir):
    """Recall contract of the rerank stage: with rerank == the probed-cell
    population, IVF-PQ returns EXACTLY the true-cosine top-k of the probed
    cells (ADC ordering can no longer drop a winner), and recall vs that
    in-cell exact scan is monotone in rerank depth."""
    from simsearch_spark.functions.measures import cosine_similarity
    from simsearch_spark.operators.pq import ivf_pq_topk
    from simsearch_spark.queries.cluster import pq_training_sample
    from simsearch_spark.queries.ivf import _centroid_map
    from simsearch_spark.sources.registry import load_table

    emb = load_table(spark, sf_dir, "embeddings").persist()
    q = [float(x) for x in emb.orderBy("vec_id").first()["embedding"]]
    books = pq_train(pq_training_sample(emb), "vec_id", "embedding", m=4, ksub=8, iters=1)
    cents = _centroid_map(spark, sf_dir)
    cent = sorted(
        cents.items(),
        key=lambda c: (sum((a - b) ** 2 for a, b in zip(q, c[1])), c[0]),
    )
    probed = [cid for cid, _ in cent[:2]]
    in_cells = emb.where(F.col("label").isin(probed))
    n_cells = in_cells.count()
    exact = [
        r.vec_id
        for r in in_cells.select(
            "vec_id", F.round(cosine_similarity(F.col("embedding"), F.lit(q)), 6).alias("c")
        )
        .orderBy(F.col("c").desc(), F.col("vec_id").asc())
        .limit(10)
        .collect()
    ]

    def recall(rerank):
        got = [
            r.vec_id
            for r in ivf_pq_topk(
                emb, "vec_id", "embedding", cents, books, q, 10,
                n_probe=2, rerank=rerank, assign_col="label",
            ).collect()
        ]
        return len(set(got) & set(exact)), got

    full, got_full = recall(n_cells)
    assert got_full == exact and full == 10
    shallow, _ = recall(10)
    mid, _ = recall(50)
    assert shallow <= mid <= full


def test_encode_passthrough_and_code_range(spark):
    vecs = [[float(i % 7), float(i % 3), float(-i % 5), 1.0] for i in range(40)]
    df = _frame(spark, vecs).withColumn("label", F.col("vec_id") % 4)
    books = pq_train(df, "vec_id", "embedding", m=2, ksub=4, iters=1)
    enc = pq_encode(df, "vec_id", "embedding", books)
    assert set(enc.columns) == {"vec_id", "label", "code_0", "dist_0", "code_1", "dist_1"}
    stats = enc.agg(
        F.min("code_0"), F.max("code_0"), F.min("code_1"), F.max("code_1")
    ).first()
    assert stats[0] >= 0 and stats[1] <= 3 and stats[2] >= 0 and stats[3] <= 3


def test_ivf_pq_residual_zero_centroids_equals_plain(spark):
    """With all-zero centroids the residual transform is the identity, so
    IVF-PQ probing every cell must reproduce the plain ADC scan
    (``pq_adc_topk``) EXACTLY — the same candidates with the same ADC
    distances — the algebraic pin for the per-cell LUT plumbing."""
    from simsearch_spark.operators.pq import ivf_pq_topk

    rng = random.Random(21)
    rows = [
        (i, [rng.gauss(0, 1) for _ in range(8)], i % 3) for i in range(120)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>, cell int").persist()
    zero_cents = {c: [0.0] * 8 for c in range(3)}
    books = pq_train(df, "vec_id", "embedding", m=2, ksub=4, iters=2)
    q = [rng.gauss(0, 1) for _ in range(8)]
    plain = pq_adc_topk(pq_encode(df, "vec_id", "embedding", books), "vec_id", books, q, 25)
    res = ivf_pq_topk(df, "vec_id", "embedding", zero_cents, books, q, 25,
                      n_probe=3, rerank=25, assign_col="cell")
    key = lambda rows: sorted((r.vec_id, r.adc_dist) for r in rows)
    got = key(res.collect())
    assert key(plain.collect()) == got and len(got) == 25


def test_ivf_pq_residual_exact_at_full_rerank(spark, sf_dir):
    """Residual mode keeps the exact-at-depth guarantee: with rerank equal
    to the probed-cell population, the true-cosine top-k of the probed
    cells comes back verbatim — and residual codes really differ from
    plain codes (the transform is live)."""
    from simsearch_spark.functions.measures import cosine_similarity
    from simsearch_spark.operators.pq import ivf_pq_topk
    from simsearch_spark.queries.ivfpq import (
        _centroid_map6,
        _sample_rows,
        _train_books_residual_rows,
    )
    from simsearch_spark.sources.registry import load_table

    emb = load_table(spark, sf_dir, "embeddings").persist()
    q = [float(x) for x in emb.orderBy("vec_id").first()["embedding"]]
    cents = _centroid_map6(emb)
    books = _train_books_residual_rows(_sample_rows(emb), cents)
    cent = sorted(
        cents.items(),
        key=lambda c: (sum((a - b) ** 2 for a, b in zip(q, c[1])), c[0]),
    )
    probed = [cid for cid, _ in cent[:2]]
    in_cells = emb.where(F.col("label").isin(probed))
    exact = [
        r.vec_id
        for r in in_cells.select(
            "vec_id", F.round(cosine_similarity(F.col("embedding"), F.lit(q)), 6).alias("c")
        )
        .orderBy(F.col("c").desc(), F.col("vec_id").asc())
        .limit(10)
        .collect()
    ]
    got = [
        r.vec_id
        for r in ivf_pq_topk(
            emb, "vec_id", "embedding", cents, books, q, 10,
            n_probe=2, rerank=in_cells.count(), assign_col="label",
        ).collect()
    ]
    assert got == exact


def test_multi_query_ivfpq_single_union_scan(spark, sf_dir):
    """Batch IVF-PQ (r11): the Q-query batch must be served by ONE parquet
    scan whose pushed cell predicate is the UNION of every query's probed
    cells — and per-query results must equal the single-query operator run
    Q times (the batch changes the scan count, never the answer)."""
    from simsearch_spark.operators.pq import ivf_pq_multi_topk, ivf_pq_topk
    from simsearch_spark.queries.cluster import pq_training_sample
    from simsearch_spark.queries.ivf import _centroid_map
    from simsearch_spark.sources.registry import load_table

    spark.catalog.clearCache()
    emb = load_table(spark, sf_dir, "embeddings")  # NOT persisted: real scan
    qrows = emb.where(F.col("vec_id").isin(3, 7, 11)).select("vec_id", "embedding").collect()
    qs = sorted((int(r.vec_id), [float(x) for x in r.embedding]) for r in qrows)
    books = pq_train(pq_training_sample(emb), "vec_id", "embedding", m=4, ksub=8, iters=1)
    cents = _centroid_map(spark, sf_dir)
    out = ivf_pq_multi_topk(
        emb, "vec_id", "embedding", cents, books, qs, 10,
        n_probe=2, rerank=30, assign_col="label",
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    # exactly ONE embeddings scan, with the union cell predicate pushed
    assert plan.count("FileScan parquet") == 1, plan
    assert "PushedFilters" in plan and "In(label" in plan, plan

    # union membership: the pushed set is the union of per-query probes
    cent = list(cents.items())
    union = set()
    for _qid, qv in qs:
        by = sorted(cent, key=lambda c: (sum((a - b) ** 2 for a, b in zip(qv, c[1])), c[0]))
        union |= {cid for cid, _ in by[:2]}
    import re

    pushed = re.search(r"In\(label, \[([^\]]*)\]", plan)
    assert pushed and {int(x) for x in pushed.group(1).split(",")} == union, plan

    # answer parity with Q single-query runs
    got = {
        qid: [(r.vec_id, r.adc_dist, r.cos_sim) for r in rows]
        for qid, rows in (
            (qid, [r for r in out.collect() if r.query_id == qid]) for qid, _ in qs
        )
    }
    for qid, qv in qs:
        single = ivf_pq_topk(
            emb, "vec_id", "embedding", cents, books, qv, 10,
            n_probe=2, rerank=30, assign_col="label",
        ).collect()
        assert got[qid] == [(r.vec_id, r.adc_dist, r.cos_sim) for r in single], qid


def test_driver_local_training_equals_engine_arm(spark, sf_dir):
    """r14 optimization pin: ``pq_train`` (one bounded-sample collect +
    driver-local Lloyd, ``pq_train_rows``) must produce codebooks
    IDENTICAL to the retired in-engine arm (``_pq_train_engine`` — one
    Spark job per Lloyd pass), on both the plain and the residual
    training frames.  This is the regression gate for the r14 job-count
    cut across embed_pq / ann_pq_topk / ann_ivfpq_* / mount training."""
    from simsearch_spark.operators.pq import _pq_train_engine
    from simsearch_spark.queries.cluster import (
        PQ_ITERS, PQ_KSUB, PQ_M, pq_training_sample,
    )
    from simsearch_spark.queries.ivfpq import (
        _centroid_map6,
        _sample_rows,
        _train_books_residual_rows,
    )
    from simsearch_spark.sources.registry import load_table

    emb = load_table(spark, sf_dir, "embeddings").persist()
    try:
        sample = pq_training_sample(emb)
        local = pq_train(sample, "vec_id", "embedding",
                         m=PQ_M, ksub=PQ_KSUB, iters=PQ_ITERS)
        engine = _pq_train_engine(sample, "vec_id", "embedding",
                                  m=PQ_M, ksub=PQ_KSUB, iters=PQ_ITERS)
        assert local == engine

        # residual arm: driver-side ``v − centroid(label)`` must match the
        # former broadcast-join + in-engine-Lloyd construction
        cmap = _centroid_map6(emb)
        books_local = _train_books_residual_rows(_sample_rows(emb), cmap)
        res = F.zip_with(
            F.transform(F.col("embedding"), lambda x: x.cast("double")),
            F.col("centroid"),
            lambda x, m: x - m,
        )
        cents_df = spark.createDataFrame(
            sorted(cmap.items()), "cluster_id int, centroid array<double>"
        )
        sample_df = emb.orderBy("vec_id").limit(256).select(
            "vec_id", "label", "embedding"
        )
        frame = sample_df.join(
            F.broadcast(cents_df), sample_df["label"] == cents_df["cluster_id"]
        ).select("vec_id", res.alias("res"))
        books_engine = _pq_train_engine(
            frame, "vec_id", "res", m=PQ_M, ksub=PQ_KSUB, iters=PQ_ITERS
        )
        assert books_local == books_engine
    finally:
        emb.unpersist()
