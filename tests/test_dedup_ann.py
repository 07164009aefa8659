import pytest
from pyspark.sql import functions as F

from simsearch_spark.operators.ann import cosine_topk, ivf_topk, lcg_hyperplanes, lsh_cosine_topk
from simsearch_spark.operators.dedup import (
    embedding_cosine_pairs,
    exact_dedup_groups,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
    word_shingles,
)
from simsearch_spark.functions import measures
from simsearch_spark.functions.hashing import hamming64
from simsearch_spark.operators.setsim import jaccard_self_join, jaccard_self_join_naive
from simsearch_spark.sources.registry import load_table


def _cosine_pairs_oracle(df, id_col, vec_col, threshold):
    """All-pairs cosine join in column expressions — the cross-engine
    reference the block-tiled ``embedding_cosine_pairs`` must equal."""
    normed = df.select(
        F.col(id_col),
        F.transform(vec_col, lambda x: x.cast("double")).alias("v"),
        measures.l2_norm(F.col(vec_col)).alias("nrm"),
    )
    a = normed.select(F.col(id_col).alias("id_a"), F.col("v").alias("v_a"), F.col("nrm").alias("n_a"))
    b = normed.select(F.col(id_col).alias("id_b"), F.col("v").alias("v_b"), F.col("nrm").alias("n_b"))
    denom = F.col("n_a") * F.col("n_b")
    cos = F.when(denom == 0, F.lit(0.0)).otherwise(
        measures.dot_product(F.col("v_a"), F.col("v_b")) / denom
    )
    return (
        a.crossJoin(b)
        .where(F.col("id_a") < F.col("id_b"))
        .withColumn("cos_sim", F.round(cos, 6))
        .where(F.col("cos_sim") >= float(threshold))
        .select("id_a", "id_b", "cos_sim")
    )


def test_word_shingles(spark):
    df = spark.createDataFrame([("a b c d",), ("x y",)], "t string")
    rows = df.select(word_shingles(F.col("t")).alias("s")).collect()
    assert sorted(rows[0].s) == ["a b c", "b c d"]
    assert rows[1].s == ["x y"]  # shorter than n: one truncated shingle


def test_exact_dedup_collapses_whitespace_case(spark):
    df = spark.createDataFrame(
        [(1, "Hello  World"), (2, "hello world"), (3, "other text")],
        "id long, text string",
    )
    groups = {r.keeper: r.n_docs for r in exact_dedup_groups(df, "id", "text").collect()}
    assert groups == {1: 2, 3: 1}


def test_prefix_join_equals_naive(spark, sf_dir):
    """The prefix-filtered set-sim join must be exact: identical pairs to the
    naive crossJoin at every threshold."""
    docs = load_table(spark, sf_dir, "documents").limit(120)
    sh = docs.select("doc_id", word_shingles(F.col("text")).alias("s"))
    for t in (0.5, 0.8):
        fast = {(r.id_a, r.id_b) for r in jaccard_self_join(sh, "doc_id", "s", t).collect()}
        naive = {(r.id_a, r.id_b) for r in jaccard_self_join_naive(sh, "doc_id", "s", t).collect()}
        assert fast == naive


def test_minhash_lsh_finds_planted_dups(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    lsh = {(r.id_a, r.id_b) for r in minhash_lsh_pairs(docs, "doc_id", "text", 0.7).collect()}
    exact = {(r.id_a, r.id_b) for r in ngram_jaccard_pairs(docs, "doc_id", "text", 0.7).collect()}
    assert lsh, "expected planted near-duplicates"
    assert lsh <= exact  # LSH+verify never yields false positives
    # recall of banding at this threshold should be near-total on j≈0.97 dups
    assert len(lsh) >= 0.8 * len(exact)


def test_simhash_pairs_overlap_exact_dups(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    sim = {(r.id_a, r.id_b) for r in simhash_pairs(docs, "doc_id", "text", 6).collect()}
    exact = {(r.id_a, r.id_b) for r in ngram_jaccard_pairs(docs, "doc_id", "text", 0.9).collect()}
    assert exact and exact <= sim  # strong near-dups must be within hamming 6


def test_embedding_cosine_pairs_symmetric_bound(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    pairs = embedding_cosine_pairs(emb, "vec_id", "embedding", 0.4).collect()
    assert all(r.id_a < r.id_b and r.cos_sim >= 0.4 for r in pairs)


def test_lsh_topk_recall_vs_brute(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    qvec = [float(x) for x in emb.where(F.col("vec_id") == 3).first().embedding]
    brute = [r.vec_id for r in cosine_topk(emb, "vec_id", "embedding", qvec, 10).collect()]
    planes = lcg_hyperplanes(len(qvec), 8)
    approx = [
        r.vec_id
        for r in lsh_cosine_topk(emb, "vec_id", "embedding", qvec, 10, planes, probe_hamming=2).collect()
    ]
    assert brute[0] == 3  # query vector itself is its own 1-NN
    assert 3 in approx
    recall = len(set(brute) & set(approx)) / 10
    assert recall >= 0.3, f"LSH recall collapsed: {recall}"


def test_ivf_topk_probes_clusters(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    qvec = [float(x) for x in emb.where(F.col("vec_id") == 3).first().embedding]
    # centroids from the fixture's label clusters: mean embedding per label
    import numpy as np

    rows = emb.select("label", "embedding").collect()
    by_label = {}
    for r in rows:
        by_label.setdefault(r.label, []).append(np.array(r.embedding, dtype=float))
    cent = {int(lbl): [float(x) for x in np.mean(vs, axis=0)] for lbl, vs in by_label.items()}
    res = ivf_topk(emb, "vec_id", "embedding", cent, qvec, 5, n_probe=2, assign_col="label")
    got = [r.vec_id for r in res.collect()]
    assert len(got) == 5 and 3 in got


def test_ivf_topk_rejects_wrong_length_query(spark):
    """A query shorter than the vectors raises rather than routing on a
    truncated prefix and scoring k rows NULL (``zip_with`` pads)."""
    df = spark.createDataFrame(
        [(i, [float(i), 1.0, 0.0], i % 2) for i in range(6)],
        "vec_id long, embedding array<double>, label int",
    )
    cents = {0: [2.0, 1.0, 0.0], 1: [3.0, 1.0, 0.0]}
    with pytest.raises(ValueError, match="query dim"):
        ivf_topk(df, "vec_id", "embedding", cents, [1.0, 1.0], 3, assign_col="label")


def test_simhash_banded_equals_allpairs(spark, sf_dir):
    """Pigeonhole banding is a pruning strategy, never a semantic: the
    banded simhash join must produce the all-pairs join's pair set."""
    from simsearch_spark.functions.hashing import nonblank_text
    from simsearch_spark.operators.dedup import simhash_frame

    docs = load_table(spark, sf_dir, "documents")
    sh = simhash_frame(docs.where(nonblank_text("text")), "doc_id", "text", 32)
    a = sh.select(F.col("doc_id").alias("id_a"), F.col("sig").alias("sig_a"))
    b = sh.select(F.col("doc_id").alias("id_b"), F.col("sig").alias("sig_b"))
    allp = {
        (r.id_a, r.id_b, r.hamming)
        for r in a.crossJoin(b)
        .where(F.col("id_a") < F.col("id_b"))
        .withColumn("hamming", hamming64(F.col("sig_a"), F.col("sig_b")))
        .where(F.col("hamming") <= 6)
        .collect()
    }
    band = {(r.id_a, r.id_b, r.hamming) for r in simhash_pairs(docs, "doc_id", "text", 6).collect()}
    assert allp == band and allp


def test_embed_cosine_blocked_equals_column_expr(spark, sf_dir):
    """The numpy-blocked scorer's left-fold is bit-identical to the JVM fold:
    pair sets AND rounded values must match exactly."""
    emb = load_table(spark, sf_dir, "embeddings")
    fast = sorted(tuple(r) for r in
                  embedding_cosine_pairs(emb, "vec_id", "embedding", 0.45).collect())
    slow = sorted(tuple(r) for r in
                  _cosine_pairs_oracle(emb, "vec_id", "embedding", 0.45).collect())
    assert fast == slow and fast


def test_embed_cosine_tiled_multiblock_equals_column_expr(spark, sf_dir):
    """Force many tiles (block_rows << n) so diagonal AND off-diagonal tile
    kernels both execute; results must still be exactly the column-expression
    pair join — the tiling is pure distribution, never semantics."""
    emb = load_table(spark, sf_dir, "embeddings")
    tiled = sorted(tuple(r) for r in
                   embedding_cosine_pairs(emb, "vec_id", "embedding", 0.45,
                                          block_rows=16).collect())
    slow = sorted(tuple(r) for r in
                  _cosine_pairs_oracle(emb, "vec_id", "embedding", 0.45).collect())
    assert tiled == slow and tiled


def test_shingle_frame_equals_column_fn(spark, sf_dir):
    """The pandas shingler must be byte-identical to the column-expression
    shingler on real documents (incl. short/degenerate ones)."""
    from simsearch_spark.operators.dedup import shingle_frame

    docs = load_table(spark, sf_dir, "documents").limit(200)
    extra = spark.createDataFrame([(9001, "x y"), (9002, ""), (9003, "one")],
                                  "doc_id long, text string")
    both = docs.select("doc_id", "text").unionByName(extra)
    col_fn = {r.doc_id: list(r.s) for r in
              both.select("doc_id", word_shingles(F.col("text")).alias("s")).collect()}
    pandas_fn = {r.doc_id: list(r.shingles) for r in
                 shingle_frame(both, "doc_id", "text").collect()}
    assert col_fn == pandas_fn


def test_simhash_banded_blocks_carry_entropy(spark, sf_dir):
    """Round-1 advice: the char-fold base hash is < 2^30, so a block lying
    past the meaningful bit range is the constant 0 for every row and its
    equi-join degenerates to n².  Blocks now partition [0, bits) exactly —
    every block must take >1 distinct value on the fixture corpus."""
    from simsearch_spark.functions.hashing import simhash, token_hashes
    from simsearch_spark.operators.dedup import shingle_frame

    bits, max_hamming = 32, 6
    docs = load_table(spark, sf_dir, "documents")
    sig = (
        shingle_frame(docs, "doc_id", "text")
        .withColumn("hashes", token_hashes(F.col("shingles")))
        .select(simhash(F.col("hashes"), bits).alias("sig"))
    )
    n_blocks = max_hamming + 1
    base_w, rem = divmod(bits, n_blocks)
    widths = [base_w + 1] * rem + [base_w] * (n_blocks - rem)
    offsets = [sum(widths[:i]) for i in range(n_blocks)]
    assert offsets[-1] + widths[-1] == bits  # exact partition, no dead bits
    distinct_per_block = [
        sig.select(
            F.shiftright(F.col("sig"), off).bitwiseAND(F.lit((1 << w) - 1)).alias("b")
        ).distinct().count()
        for off, w in zip(offsets, widths)
    ]
    assert all(d > 1 for d in distinct_per_block), distinct_per_block


def test_dedup_simhash_declared_plan_has_no_cross_join(spark, sf_dir):
    """The declared query must run the banded equi-join: a CartesianProduct
    or BroadcastNestedLoopJoin in the plan is the n² scale-killer."""
    from simsearch_spark.queries.pipeline import q_dedup_simhash

    plan = q_dedup_simhash(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_simhash_frame_equals_column_chain(spark, sf_dir):
    """The fused signature kernel must be bit-identical to the
    shingle→token_hashes→simhash column chain on real documents plus
    degenerate rows."""
    from simsearch_spark.functions.hashing import simhash, token_hashes
    from simsearch_spark.operators.dedup import shingle_frame, simhash_frame

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").limit(200)
    extra = spark.createDataFrame([(9001, "x y"), (9002, ""), (9003, "one")],
                                  "doc_id long, text string")
    both = docs.unionByName(extra)
    col_fn = {r.doc_id: r.sig for r in
              shingle_frame(both, "doc_id", "text")
              .withColumn("hashes", token_hashes(F.col("shingles")))
              .select("doc_id", simhash(F.col("hashes"), 32).alias("sig")).collect()}
    kernel = {r.doc_id: r.sig for r in simhash_frame(both, "doc_id", "text", 32).collect()}
    assert col_fn == kernel


def test_embed_cosine_empty_block_tiles_no_duplicates(spark):
    """A tile whose q-block is empty must emit NOTHING — treating it as a
    diagonal tile would re-score the p-block against itself and duplicate
    pairs (round-2 review finding).  block_rows=1 over a few rows forces
    empty blocks for some tile coordinates."""
    rows = [(i, [float(i == j) for j in range(4)]) for i in range(5)]
    rows += [(10 + i, [1.0, 1.0, 0.0, 0.0]) for i in range(3)]  # identical vecs
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    for br in (1, 2, 3):
        tiled = sorted(tuple(r) for r in
                       embedding_cosine_pairs(emb, "vec_id", "embedding", 0.5,
                                              block_rows=br).collect())
        plain = sorted(tuple(r) for r in
                       _cosine_pairs_oracle(emb, "vec_id", "embedding", 0.5).collect())
        assert tiled == plain, br


def test_minhash_banded_frame_equals_column_chain(spark, sf_dir):
    """The fused MinHash kernel must be bit-identical to the
    shingle→token_hashes→signature→bands column chain, sentinel rows
    included."""
    from simsearch_spark.functions.hashing import minhash_bands, minhash_signature, token_hashes
    from simsearch_spark.operators.dedup import minhash_banded_frame, shingle_frame

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").limit(200)
    extra = spark.createDataFrame([(9001, "x y"), (9002, ""), (9003, "one")],
                                  "doc_id long, text string")
    both = docs.unionByName(extra)
    col_fn = {r.doc_id: (list(r.shingles), list(r.bands)) for r in
              shingle_frame(both, "doc_id", "text")
              .withColumn("hashes", token_hashes(F.col("shingles")))
              .withColumn("sig", minhash_signature(F.col("hashes"), 16))
              .withColumn("bands", minhash_bands(F.col("sig"), 4, 4))
              .select("doc_id", "shingles", "bands").collect()}
    kernel = {r.doc_id: (list(r.shingles), list(r.bands)) for r in
              minhash_banded_frame(both, "doc_id", "text", 16, 4).collect()}
    assert col_fn == kernel


def test_embed_cosine_leaves_no_cached_relation(spark):
    """The pair operator caches nothing: a call (and its collect) leaves
    the session's CacheManager as empty as it found it."""
    rows = [(i, [float(i % 5), 1.0, float(i % 3)]) for i in range(50)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    spark.catalog.clearCache()
    cache = spark._jsparkSession.sharedState().cacheManager()
    assert cache.isEmpty()
    assert embedding_cosine_pairs(emb, "vec_id", "embedding", 0.9).collect()
    assert cache.isEmpty()


def test_hash_dedup_excludes_empty_docs(spark):
    """NULL/whitespace-only documents must never form near-dup pairs in the
    hash tiers (they have no shingle content to be near-duplicates BY; the
    column chain used to shingle them as [""] and verify at jaccard 1.0).
    Exact dedup still groups them — that tier's legitimate job."""
    from simsearch_spark.operators.dedup import exact_dedup_groups, minhash_lsh_pairs, simhash_pairs

    rows = [
        (1, "the quick brown fox jumps over the lazy dog again and again"),
        (2, "the quick brown fox jumps over the lazy dog again and again"),
        (3, None),
        (4, ""),
        (5, "   "),
        (6, "completely different text about something else entirely here now"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    mh = [(r.id_a, r.id_b) for r in minhash_lsh_pairs(df, "doc_id", "text", 0.7).collect()]
    assert mh == [(1, 2)]
    sh = [(r.id_a, r.id_b) for r in simhash_pairs(df, "doc_id", "text", 3).collect()]
    assert (1, 2) in sh and all(a not in (3, 4, 5) and b not in (3, 4, 5) for a, b in sh)
    # the exact tier still collapses the empty family where it belongs:
    # "" and "   " normalize to fingerprint 0 (one group); NULL text keeps a
    # NULL fingerprint (SQL null propagation), its own group
    ex = {r.fingerprint: r.n_docs for r in exact_dedup_groups(df, "doc_id", "text").collect()}
    assert ex[0] == 2 and ex[None] == 1


def test_connected_components_chains_and_jumping(spark):
    """Hash-min + pointer-jump CC: a 21-node path (forces multiple rounds —
    log-depth, not one hop), a triangle, an isolated pair, and transitive
    merging across clusters must all resolve to min-id components."""
    from simsearch_spark.operators.dedup import connected_components

    chain = [(i, i + 1) for i in range(100, 120)]        # path of 21 nodes
    tri = [(1, 2), (2, 3), (1, 3)]
    iso = [(50, 51)]
    pairs = spark.createDataFrame(chain + tri + iso, "id_a long, id_b long")
    comp = {r.id: r.component for r in connected_components(pairs).collect()}
    assert all(comp[i] == 100 for i in range(100, 121))
    assert comp[1] == comp[2] == comp[3] == 1
    assert comp[50] == comp[51] == 50


def test_connected_components_empty_pairs(spark):
    from simsearch_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame([], "id_a long, id_b long")
    assert connected_components(pairs).count() == 0


def test_cc_driver_tier_equals_distributed_tier(spark):
    """r14: the driver union-find tier must reproduce the distributed
    label-propagation loop EXACTLY (rows and schema) — component = min
    reachable id is order-independent, so the arms agree bitwise.  Covers
    multi-round chains, cycles, cross-merging, self-loops, duplicate and
    reversed edges."""
    from simsearch_spark.operators.dedup import connected_components

    edges = (
        [(i, i + 1) for i in range(100, 120)]     # long path
        + [(1, 2), (2, 3), (1, 3), (3, 1)]        # cycle + reversed dup
        + [(50, 51), (51, 50), (7, 7)]            # iso pair both ways, self-loop
        + [(119, 3)]                              # merges chain into triangle
    )
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    drv = connected_components(pairs)
    dist = connected_components(pairs, driver_max_edges=0)
    assert drv.schema == dist.schema
    key = lambda r: (r.id, r.component)
    assert sorted(map(key, drv.collect())) == sorted(map(key, dist.collect()))
    # overflow guard: cap below the edge count falls back to distributed
    ovf = connected_components(pairs, driver_max_edges=4)
    assert sorted(map(key, ovf.collect())) == sorted(map(key, dist.collect()))


def test_multi_query_topk_equals_per_query_brute(spark, sf_dir):
    """The batched kernel must reproduce Q independent single-query brute
    top-k results exactly (same fold, same round-6 ordering), including
    under tiny Arrow batches (forces multi-batch tournament pruning)."""
    from simsearch_spark.operators.ann import cosine_topk, multi_query_cosine_topk
    from simsearch_spark.sources.registry import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    qids = (3, 7, 11)
    queries = [
        (q, [float(x) for x in emb.where(F.col("vec_id") == q).first().embedding])
        for q in qids
    ]
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "37")
    try:
        got = {
            (r.query_id, r.rank): (r.vec_id, r.cos_sim)
            for r in multi_query_cosine_topk(emb.repartition(7), "vec_id", "embedding", queries, 10).collect()
        }
    finally:
        spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")
    for q, vec in queries:
        want = cosine_topk(emb, "vec_id", "embedding", vec, 10).collect()
        for rank, r in enumerate(want, start=1):
            assert got[(q, rank)] == (r.vec_id, r.cos_sim), (q, rank)


def test_valid_embeddings_filters_structural_garbage(spark, sf_dir):
    """The explicit validation stage (r8): NULL, ragged, NaN, and Inf
    vectors are dropped; clean rows pass untouched, and every downstream
    vector operator then behaves as on a clean corpus."""
    import math

    from simsearch_spark.operators.ann import cosine_topk, valid_embeddings
    from simsearch_spark.sources.registry import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    n_clean = emb.count()
    dim = len(emb.first().embedding)
    dirty = emb.unionByName(
        spark.createDataFrame(
            [
                (90001, None, 0),
                (90002, [1.0], 0),
                (90003, [float("nan")] + [0.0] * (dim - 1), 0),
                (90004, [float("inf")] + [0.0] * (dim - 1), 0),
                (90005, [0.0] * dim, 0),  # zero vector IS structurally valid
            ],
            f"vec_id long, embedding array<float>, label int",
        )
    )
    valid = valid_embeddings(dirty, "embedding")
    ids = {r.vec_id for r in valid.select("vec_id").collect()}
    assert 90005 in ids and not ({90001, 90002, 90003, 90004} & ids)
    assert len(ids) == n_clean + 1
    # downstream operator runs clean on the validated frame
    q = [float(x) for x in emb.first().embedding]
    top_dirty = cosine_topk(valid, "vec_id", "embedding", q, 5).collect()
    top_clean = cosine_topk(emb, "vec_id", "embedding", q, 5).collect()
    assert [(r.vec_id, r.cos_sim) for r in top_dirty] == [
        (r.vec_id, r.cos_sim) for r in top_clean
    ]
    assert all(not math.isnan(r.cos_sim) for r in top_dirty)


def test_pair_kernel_block_rows_clamped_to_task_budget(spark):
    """VERDICT r13 task 4: the block tiling must shrink its tile edge
    when (block_rows, dim) would blow the per-task memory budget — a
    deliberately oversized request still produces the exact pair set,
    just over more tiles, and the clamp math respects the 8·(3·br² +
    2·br·dim) working-set model."""
    import numpy as np

    from simsearch_spark.operators.dedup import (
        PAIR_KERNEL_TASK_BYTES,
        _clamp_block_rows,
        embedding_cosine_pairs,
    )

    # closed-form sanity: the returned size fits the budget, the next
    # size up does not (away from the floor), and narrow dims keep the
    # caller's request.  Model: 8·(4·br² + 2·br·dim), tracemalloc-
    # measured at 1.03× actual peak (tools/bpe_probe.py, SCALE.md §r14)
    for dim, budget in [(64, 1 << 20), (4096, PAIR_KERNEL_TASK_BYTES), (16384, PAIR_KERNEL_TASK_BYTES)]:
        br = _clamp_block_rows(1 << 30, dim, budget)
        cost = lambda b: 8 * (4 * b * b + 2 * b * dim)
        assert cost(br) <= budget or br == 16
        if br > 16:
            assert cost(br + 1) > budget
    assert _clamp_block_rows(2048, 64) == 2048  # under-budget stays untouched
    # the 4096 default sits AT the 512 MiB edge for narrow dims (~0.4 %
    # trim) and shrinks hard for wide embeddings
    assert _clamp_block_rows(4096, 64) >= 4000
    assert _clamp_block_rows(4096, 16384) < 2100

    # end-to-end: an oversized request (block_rows ≫ budget allows) is
    # clamped into many tiles and the pair set equals the plain join
    rng = np.random.default_rng(3)
    base = rng.normal(size=(6, 32))
    rows = []
    for i in range(60):
        v = base[i % 6] + rng.normal(scale=0.01, size=32)
        rows.append((i, [float(x) for x in v]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    tiny_budget = 8 * (4 * 20 * 20 + 2 * 20 * 32)  # fits ~20-row tiles
    got = embedding_cosine_pairs(
        df, "vec_id", "embedding", threshold=0.95,
        block_rows=1_000_000, task_mem_bytes=tiny_budget,
    )
    want = _cosine_pairs_oracle(df, "vec_id", "embedding", 0.95)
    rows_of = lambda d: sorted(tuple(r) for r in d.collect())
    assert rows_of(got) == rows_of(want)
    assert len(rows_of(got)) > 0


def test_clustered_pair_kernel_clamped(spark):
    """The SemDeDup per-cluster tiling honors the same budget clamp."""
    import numpy as np

    from simsearch_spark.operators.dedup import clustered_cosine_pairs

    rng = np.random.default_rng(5)
    ctr = rng.normal(size=(2, 16))
    rows = []
    for i in range(40):
        c = i % 2
        v = ctr[c] + rng.normal(scale=0.005, size=16)
        rows.append((i, c, [float(x) for x in v]))
    df = spark.createDataFrame(rows, "vec_id long, cl int, embedding array<double>")

    tiny = 8 * (4 * 16 * 16 + 2 * 16 * 16)  # the floor: 16-row tiles
    got = clustered_cosine_pairs(
        df, "vec_id", "embedding", "cl", threshold=0.99,
        block_rows=1_000_000, task_mem_bytes=tiny,
    )
    want = clustered_cosine_pairs(
        df, "vec_id", "embedding", "cl", threshold=0.99,
    )
    rows_of = lambda d: sorted(tuple(r) for r in d.collect())
    assert rows_of(got) == rows_of(want)
    assert len(rows_of(got)) > 0


def test_minhash_rows_equals_banded_frame(spark, sf_dir):
    """The driver-side kernel IS the Arrow kernel: ``minhash_rows`` on a
    list gives the rows ``minhash_banded_frame`` gives, NULL, blank and
    unicode texts included."""
    from simsearch_spark.operators.dedup import minhash_banded_frame, minhash_rows

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").limit(120)
    extra = spark.createDataFrame(
        [(9001, "x y"), (9002, ""), (9003, None), (9004, "  déjà ✨ vu  "), (9005, "\t")],
        "doc_id long, text string",
    )
    rows = sorted(tuple(r) for r in docs.unionByName(extra).collect())
    sh, bands = minhash_rows([t for _i, t in rows], 16, 4, 3, 42)
    got = {i: (s, b) for (i, _t), s, b in zip(rows, sh, bands)}
    want = {
        r.doc_id: (list(r.shingles), list(r.bands))
        for r in minhash_banded_frame(
            docs.unionByName(extra), "doc_id", "text", 16, 4, 3, 42
        ).collect()
    }
    assert got == want
