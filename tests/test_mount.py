"""Mount/serve parity — the train-once/serve-many layer must change WHERE
the work happens, never the answer.

Reference parity: ``Coordinator.mount`` (Coordinator.java:237-800) trains
artifacts once; ``Coordinator.search`` (:1085-1098) serves against them;
``SimSearchController`` ``/append``+``/delete`` (:315-496) maintain a
mounted catalog.  Every test here compares a serve-side operator against
its self-contained declared query (which retrains in-query and carries the
driver's SQL-oracle verdict), so the mounted path inherits the oracle
verdict transitively.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from simsearch_spark.mount import (
    append_rows,
    delete_ids,
    load_manifest,
    mount,
    serve_bm25_topk,
    serve_ivfpq_topk,
    serve_lang_id,
    serve_lm_perplexity,
)
from simsearch_spark.sources.registry import load_table


@pytest.fixture(scope="module")
def mount_dir(spark, sf_dir, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("mounts") / "m0")
    mount(spark, sf_dir, d)
    return d


def _rows(df):
    cols = sorted(df.columns)
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_manifest_round_trip(mount_dir):
    m = load_manifest(mount_dir)
    assert m["counts"]["n_vectors"] > 0
    assert m["params"]["n_cells"] > 0
    assert "pq_codes" in m["artifacts"]


def test_served_ivfpq_equals_declared(spark, sf_dir, mount_dir):
    """The headline parity: IVF-PQ top-k from mounted artifacts hash-equals
    the self-contained declared query (which holds the driver's full-replay
    SQL oracle verdict) — training moved to mount time, answer unchanged."""
    from simsearch_spark.queries.ivf import IVF_QUERY_ID, N_PROBE
    from simsearch_spark.queries.core import K
    from simsearch_spark.queries.ivfpq import RERANK, q_ann_ivfpq_topk

    emb = load_table(spark, sf_dir, "embeddings")
    qvec = [
        float(x)
        for x in emb.where(F.col("vec_id") == IVF_QUERY_ID).first().embedding
    ]
    served = serve_ivfpq_topk(
        spark, mount_dir, emb, qvec, K, n_probe=N_PROBE, rerank=RERANK
    )
    declared = q_ann_ivfpq_topk(spark, sf_dir)
    assert _rows(served) == _rows(declared)
    assert len(served.collect()) == K


def test_serve_codes_scan_prunes_partitions(spark, mount_dir):
    """The codes table is partitioned by cell: the probe predicate must be
    a PARTITION filter (directory pruning — files of unprobed cells are
    never listed), the physical reason serve cost ∝ n_probe/n_cells."""
    from simsearch_spark.mount.serve import read_codes

    spark.catalog.clearCache()
    plan = (
        read_codes(spark, mount_dir)
        .where(F.col("cell").isin([0, 1]))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters" in plan
    head = plan[plan.index("PartitionFilters") :][:200]
    assert "cell" in head, head


def test_served_bm25_equals_declared(spark, sf_dir, mount_dir):
    from simsearch_spark.functions.text import ws_tokens
    from simsearch_spark.queries.corpus import BM25_K, BM25_QUERY, q_bm25_topk

    docs = load_table(spark, sf_dir, "documents").withColumn(
        "toks", ws_tokens(F.col("text"))
    )
    served = serve_bm25_topk(spark, mount_dir, docs, BM25_QUERY, BM25_K)
    assert _rows(served) == _rows(q_bm25_topk(spark, sf_dir))


def test_served_langid_equals_embedded_kernel(spark, sf_dir, mount_dir):
    from simsearch_spark.functions.langid import PROFILES, langid_frame
    from simsearch_spark.mount.artifacts import load_profiles

    assert load_profiles(spark, mount_dir) == PROFILES  # exact round-trip
    docs = load_table(spark, sf_dir, "documents").limit(60)
    served = serve_lang_id(spark, mount_dir, docs)
    assert _rows(served) == _rows(langid_frame(docs, "doc_id", "text"))


def test_served_lm_equals_declared(spark, sf_dir, mount_dir):
    from simsearch_spark.queries.vocab import q_lm_perplexity

    docs = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    served = serve_lm_perplexity(spark, mount_dir, docs)
    assert _rows(served) == _rows(q_lm_perplexity(spark, sf_dir))


def test_lm_scores_only_arm(spark, sf_dir):
    """r14: the scores_only arm (no docs re-attach join) left-joined back
    onto the corpus reproduces the full q_lm_perplexity frame bitwise —
    the identity that lets corpus_curation_pipeline (which left-joins the
    scores onto its own doc-keyed frame anyway) skip one `documents` scan
    and one doc-keyed join: X ⟕ (docs ⟕ S) ≡ X ⟕ S on the unique key."""
    from simsearch_spark.queries.vocab import _lm_join_docs, q_lm_perplexity

    docs = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    scores = q_lm_perplexity(spark, sf_dir, scores_only=True)
    # the arm emits only scorable docs (≥1 bigram)
    assert scores.count() <= docs.count()
    reattached = _lm_join_docs(docs, scores)
    assert _rows(reattached) == _rows(q_lm_perplexity(spark, sf_dir))


def test_lm_window_arm_equals_join_arm(spark, sf_dir):
    """r14: q_lm_perplexity scores through window sums over its own bigram
    frame (lm_score_self); the serve/audit join arm (lm_score over
    aggregated tables) must stay exactly equal — integer counts make the
    two folds order-independent, so equality is bitwise, not approximate."""
    from simsearch_spark.queries.vocab import (
        lm_count_tables,
        lm_doc_bigrams,
        lm_score,
        q_lm_perplexity,
    )

    docs = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    bgc = lm_doc_bigrams(docs).persist()
    try:
        joined = lm_score(docs, bgc, *lm_count_tables(bgc, docs))
        assert _rows(q_lm_perplexity(spark, sf_dir)) == _rows(joined)
    finally:
        bgc.unpersist()


def test_append_equals_union_mount(spark, sf_dir, tmp_path):
    """Frozen-artifact append parity: mount(base) + append(delta) serves
    EXACTLY like mount(base ∪ delta, train_frame=base) — appends assign to
    existing cells and encode with existing codebooks, never retrain."""
    from simsearch_spark.queries.ivf import IVF_QUERY_ID, N_PROBE
    from simsearch_spark.queries.core import K
    from simsearch_spark.queries.ivfpq import RERANK

    emb = load_table(spark, sf_dir, "embeddings")
    cut = 300
    base = emb.where(F.col("vec_id") < cut)
    delta = emb.where(F.col("vec_id") >= cut)
    docs = load_table(spark, sf_dir, "documents")
    dbase = docs.where(F.col("doc_id") < cut)
    ddelta = docs.where(F.col("doc_id") >= cut)

    m_inc = str(tmp_path / "m_inc")
    mount(spark, sf_dir, m_inc, emb_frame=base, docs_frame=dbase)
    append_rows(spark, m_inc, emb_delta=delta, docs_delta=ddelta)

    m_all = str(tmp_path / "m_all")
    mount(spark, sf_dir, m_all, train_frame=base, docs_frame=docs)

    qvec = [
        float(x)
        for x in emb.where(F.col("vec_id") == IVF_QUERY_ID).first().embedding
    ]
    a = serve_ivfpq_topk(spark, m_inc, emb, qvec, K, n_probe=N_PROBE, rerank=RERANK)
    b = serve_ivfpq_topk(spark, m_all, emb, qvec, K, n_probe=N_PROBE, rerank=RERANK)
    assert _rows(a) == _rows(b) and len(a.collect()) == K
    assert (
        load_manifest(m_inc)["counts"]["n_vectors"]
        == load_manifest(m_all)["counts"]["n_vectors"]
    )

    # the mergeable statistics merged EXACTLY (integer sums / set unions)
    from simsearch_spark.mount.artifacts import snapshot

    for t in ("bm25_df", "bm25_global", "lm_bigrams", "lm_ctx", "lm_vocab"):
        inc = _rows(snapshot(spark, m_inc).read(t))
        full = _rows(snapshot(spark, m_all).read(t))
        assert inc == full, t


def test_delete_tombstones_exclude_from_serving(spark, sf_dir, tmp_path):
    from simsearch_spark.queries.ivf import IVF_QUERY_ID, N_PROBE
    from simsearch_spark.queries.core import K
    from simsearch_spark.queries.ivfpq import RERANK

    d = str(tmp_path / "m_del")
    mount(spark, sf_dir, d)
    emb = load_table(spark, sf_dir, "embeddings")
    qvec = [
        float(x)
        for x in emb.where(F.col("vec_id") == IVF_QUERY_ID).first().embedding
    ]
    before = serve_ivfpq_topk(spark, d, emb, qvec, K, n_probe=N_PROBE, rerank=RERANK)
    victims = [r.id for r in before.collect()[:2]]
    delete_ids(spark, d, victims)
    after = serve_ivfpq_topk(spark, d, emb, qvec, K, n_probe=N_PROBE, rerank=RERANK)
    got = [r.id for r in after.collect()]
    assert not set(victims) & set(got)
    assert len(got) == K  # replacements surface from the candidate pool


def test_served_multi_query_equals_operator(spark, sf_dir, mount_dir):
    """Batch serving from artifacts == the in-query batch operator (which
    itself equals Q single-query runs, tests/test_pq.py) — the full
    train-once/serve-many production shape for a query batch."""
    from simsearch_spark.mount.serve import serve_ivfpq_multi_topk
    from simsearch_spark.operators.pq import ivf_pq_multi_topk
    from simsearch_spark.queries.core import K
    from simsearch_spark.queries.ivf import MULTI_QUERY_IDS, N_PROBE
    from simsearch_spark.queries.ivfpq import (
        RERANK,
        _centroid_map6,
        _sample_rows,
        _train_books_residual_rows,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    qrows = (
        emb.where(F.col("vec_id").isin(*MULTI_QUERY_IDS))
        .select("vec_id", "embedding")
        .collect()
    )
    qs = sorted((int(r.vec_id), [float(x) for x in r.embedding]) for r in qrows)
    served = serve_ivfpq_multi_topk(
        spark, mount_dir, emb, qs, K, n_probe=N_PROBE, rerank=RERANK
    )
    cents = _centroid_map6(emb)
    declared = ivf_pq_multi_topk(
        emb, "vec_id", "embedding", cents,
        _train_books_residual_rows(_sample_rows(emb), cents),
        qs, K, n_probe=N_PROBE, rerank=RERANK, assign_col="label",
    )
    assert _rows(served) == _rows(declared)
    assert len(served.collect()) == K * len(qs)


def test_compaction_reclaims_tombstones_serving_unchanged(spark, sf_dir, tmp_path):
    from simsearch_spark.mount.maintain import compact_codes
    from simsearch_spark.queries.ivf import IVF_QUERY_ID, N_PROBE
    from simsearch_spark.queries.core import K
    from simsearch_spark.queries.ivfpq import RERANK

    d = str(tmp_path / "m_compact")
    mount(spark, sf_dir, d)
    emb = load_table(spark, sf_dir, "embeddings")
    qvec = [
        float(x)
        for x in emb.where(F.col("vec_id") == IVF_QUERY_ID).first().embedding
    ]
    before = serve_ivfpq_topk(spark, d, emb, qvec, K, n_probe=N_PROBE, rerank=RERANK)
    victims = [r.id for r in before.collect()[:2]]
    delete_ids(spark, d, victims)
    tombstoned = _rows(
        serve_ivfpq_topk(spark, d, emb, qvec, K, n_probe=N_PROBE, rerank=RERANK)
    )
    n0 = load_manifest(d)["counts"]["n_vectors"]
    assert compact_codes(spark, d) == len(victims)
    assert load_manifest(d)["counts"]["n_vectors"] == n0 - len(victims)
    from simsearch_spark.mount.artifacts import snapshot

    assert not snapshot(spark, d).has("tombstones")
    # serving is unchanged by construction; the anti-join just disappears
    compacted = _rows(
        serve_ivfpq_topk(spark, d, emb, qvec, K, n_probe=N_PROBE, rerank=RERANK)
    )
    assert compacted == tombstoned
    assert compact_codes(spark, d) == 0  # idempotent on a clean mount


def test_served_pivot_knn_equals_operator_and_brute(spark, sf_dir, mount_dir):
    """The reference's own mount-time artifact (pivot selection +
    distance embedding, Coordinator.java:760-788) served: pruned k-NN
    over the persisted emb_* table equals the in-query pruned operator
    AND the brute-force scan (the bound never overestimates)."""
    from simsearch_spark.mount.artifacts import load_pivots
    from simsearch_spark.mount.serve import serve_pivot_knn
    from simsearch_spark.operators.pivot import (
        pivot_knn,
        select_pivots_farthest_point,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    qvec = [float(x) for x in emb.where(F.col("vec_id") == 7).first().embedding]
    k = 12
    served = [
        (r.vec_id, round(r.dist, 9))
        for r in serve_pivot_knn(spark, mount_dir, emb, qvec, k).collect()
    ]
    pivots = select_pivots_farthest_point(emb, "vec_id", "embedding", 8)
    assert load_pivots(spark, mount_dir) == [
        (pid, [float(x) for x in vec]) for pid, vec in pivots
    ]
    pruned = [
        (r.vec_id, round(r.dist, 9))
        for r in pivot_knn(emb, "vec_id", "embedding", qvec, k, pivots=pivots).collect()
    ]
    brute = [
        (r.vec_id, round(r.dist, 9))
        for r in pivot_knn(emb, "vec_id", "embedding", qvec, k).collect()
    ]
    assert served == pruned == brute and len(served) == k


def test_served_pivot_knn_rejects_wrong_length_query(spark, sf_dir, mount_dir):
    """A query of the wrong length raises rather than getting NULL exact
    distances, a NULL radius, and an empty answer."""
    from simsearch_spark.mount.serve import serve_pivot_knn

    emb = load_table(spark, sf_dir, "embeddings")
    with pytest.raises(ValueError, match="query dim"):
        serve_pivot_knn(spark, mount_dir, emb, [0.5, 0.25], 5)


def test_stream_append_equals_batch_append(spark, sf_dir, tmp_path):
    """Continuous ingestion parity: streaming a delta into the mount (any
    micro-batch split) yields the IDENTICAL codes table and served top-k
    as one batch append_rows call — encoding is a pure row-local function
    of the frozen artifacts."""
    from simsearch_spark.mount.maintain import stream_append_codes
    from simsearch_spark.queries.ivf import IVF_QUERY_ID, N_PROBE
    from simsearch_spark.queries.core import K
    from simsearch_spark.queries.ivfpq import RERANK

    emb = load_table(spark, sf_dir, "embeddings")
    cut = 300
    base = emb.where(F.col("vec_id") < cut)
    delta = emb.where(F.col("vec_id") >= cut)
    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < cut)

    m_batch = str(tmp_path / "m_batch")
    mount(spark, sf_dir, m_batch, emb_frame=base, docs_frame=docs)
    append_rows(spark, m_batch, emb_delta=delta)

    m_stream = str(tmp_path / "m_stream")
    mount(spark, sf_dir, m_stream, emb_frame=base, docs_frame=docs)
    src = str(tmp_path / "delta_src")
    for bi in range(3):  # 3-way split by id residue
        delta.where(F.pmod(F.col("vec_id"), F.lit(3)) == bi).write.parquet(
            f"{src}/b{bi}"
        )
    stream = spark.readStream.schema(
        "vec_id long, label int, embedding array<double>"
    ).parquet(src + "/*")
    q = stream_append_codes(
        spark, m_stream, stream.select("vec_id", "label", "embedding"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(180)

    from simsearch_spark.mount.artifacts import snapshot

    a = _rows(snapshot(spark, m_batch).read("pq_codes"))
    b = _rows(snapshot(spark, m_stream).read("pq_codes"))
    assert a == b and len(a) == emb.count()
    assert (
        load_manifest(m_stream)["counts"]["n_vectors"]
        == load_manifest(m_batch)["counts"]["n_vectors"]
    )
    qvec = [
        float(x)
        for x in emb.where(F.col("vec_id") == IVF_QUERY_ID).first().embedding
    ]
    sa = serve_ivfpq_topk(spark, m_batch, emb, qvec, K, n_probe=N_PROBE, rerank=RERANK)
    sb = serve_ivfpq_topk(spark, m_stream, emb, qvec, K, n_probe=N_PROBE, rerank=RERANK)
    assert _rows(sa) == _rows(sb)


def test_compaction_trigger_policy(spark, sf_dir, tmp_path):
    """The r12 trigger (COMPACT_TOMBSTONE_FRACTION / COMPACT_FILES_PER_CELL,
    derived from tools/maintain_probe.py — SCALE.md §r12): a clean mount
    does not trigger; tombstoning past the fraction budget does;
    fragmenting past the per-cell file budget does; compaction clears both
    and collapses the file debris to one file per cell."""
    from simsearch_spark.mount.maintain import (
        COMPACT_FILES_PER_CELL,
        COMPACT_TOMBSTONE_FRACTION,
        compact_codes,
        maintenance_stats,
        should_compact,
    )

    d = str(tmp_path / "m_trig")
    emb = load_table(spark, sf_dir, "embeddings").where(F.col("vec_id") < 200)
    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 50)
    from simsearch_spark.mount import mount as _mount

    _mount(spark, sf_dir, d, emb_frame=emb, docs_frame=docs, dedup=False)
    assert not should_compact(spark, d)

    # tombstone budget: just under stays quiet, just over triggers
    n = int(load_manifest(d)["counts"]["n_vectors"])
    under = int(n * COMPACT_TOMBSTONE_FRACTION) - 1
    delete_ids(spark, d, list(range(under)))
    assert not should_compact(spark, d)
    delete_ids(spark, d, [under, under + 1])
    assert should_compact(spark, d)
    assert compact_codes(spark, d) == under + 2
    assert not should_compact(spark, d)

    # file budget: many small appends fragment past the per-cell cap
    a = 0
    while maintenance_stats(spark, d)["max_files_per_cell"] <= COMPACT_FILES_PER_CELL:
        delta = emb.limit(30).select(
            (F.col("vec_id") + 10_000 + a * 30).alias("vec_id"), "embedding"
        )
        append_rows(spark, d, emb_delta=delta)
        a += 1
        assert a <= 3 * COMPACT_FILES_PER_CELL  # must fragment eventually
    assert should_compact(spark, d)
    compact_codes(spark, d)
    s = maintenance_stats(spark, d)
    assert s["max_files_per_cell"] == 1 and not should_compact(spark, d)
