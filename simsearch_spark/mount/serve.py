"""Serve step: answer queries from MOUNTED artifacts, retraining nothing —
the Spark analog of the reference's ``Coordinator.search``
(``Coordinator.java:1085-1098``: queries run against the instance the
mount built).

Every serve operator here must reproduce its self-contained declared
query EXACTLY (tests/test_mount.py) — the mount changes where the work
happens, never the answer:

- ``serve_ivfpq_topk``  == ``queries/ivfpq.py q_ann_ivfpq_topk``
- ``serve_bm25_topk``   == ``queries/corpus.py q_bm25_topk``
- ``serve_lang_id``     == ``functions/langid.py langid_frame`` (the
  lang_id_trigram kernel) under the mounted profile set
- ``serve_lm_perplexity`` == ``queries/vocab.py q_lm_perplexity``

The 100 TB shape this buys: the declared ``ann_ivfpq_topk`` pays ~80 %
of its runtime training centroids + codebooks in-query (bench
BENCH_DETAIL ``ivfpq_serve`` vs the declared query); the serve path reads
the probed cells' code PARTITIONS (directory pruning via
``partitionBy("cell")``), runs the m-lookup ADC fold, and point-looks-up
``rerank`` full vectors — per-query cost ∝ n_probe/n_cells plus O(rerank),
independent of corpus size and of training cost.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from simsearch_spark.mount.artifacts import (
    _snap,
    load_centroid_map,
    load_codebooks,
    load_pivots,
    load_profiles,
    snapshot,
)

__all__ = [
    "serve_ivfpq_topk",
    "serve_ivfpq_multi_topk",
    "serve_pivot_knn",
    "serve_bm25_topk",
    "serve_lang_id",
    "serve_lm_perplexity",
    "serve_dedup_lookup",
    "read_codes",
]


def serve_dedup_lookup(
    spark: SparkSession, mount_dir: str, text: str, probe_id=None
) -> DataFrame:
    """Which mounted documents near-duplicate ``text``?  The READ dual of
    ``mount/dedup.py dedup_append`` (VERDICT r12 task 6): the probe text
    enters as a single-row delta with ``update=False`` — same frozen
    hash family, same directory-pruned band probe, same hot-bucket
    policy across the boundary — so the result is hash-equal to the
    batch operator's pairs restricted to the probe
    (tests/test_mount_dedup.py).  Returns (<id_col>, jaccard) rows of
    the mounted near-duplicates, the ``serve_ivfpq_topk`` symmetry for
    the text-dedup mount.

    ``probe_id`` is the synthetic id the probe travels under (default
    ``-1`` for numeric id columns); a collision with a mounted id would
    silently read as "no duplicates" (the replay guard drops mounted
    ids), so collisions are rejected loudly — pass a fresh id if the
    corpus legitimately uses the default.

    A read like every serve: one manifest snapshot, no write lock —
    with ``update=False`` the append body writes nothing."""
    from pyspark.sql.types import DataType

    from simsearch_spark.mount.dedup import _dedup_delta, _local_frame

    snap = snapshot(spark, mount_dir)
    dd = snap.manifest.get("dedup")
    if not dd:
        raise ValueError("mount has no dedup artifacts — run mount_dedup first")
    id_col, text_col = dd["id_col"], dd["text_col"]
    id_dtype = dd.get("id_dtype", "bigint")
    if probe_id is None:
        if id_dtype in ("string", "varchar"):
            probe_id = "\x00__dedup_probe__"
        else:
            probe_id = -1
    # a local relation: the append's gate collect folds on the driver
    delta = _local_frame(
        spark, [(probe_id, text)],
        DataType.fromDDL(f"{id_col} {id_dtype}, {text_col} string"),
    )
    pairs, n_mounted = _dedup_delta(spark, snap, delta, False, None)
    # the append's own idempotency probe found the probe id mounted
    if n_mounted:
        raise ValueError(
            f"serve_dedup_lookup: probe_id {probe_id!r} is a mounted id — "
            "the lookup would read as a replay; pass an unused probe_id"
        )
    return pairs.select(
        F.when(F.col("id_a") == F.lit(probe_id), F.col("id_b"))
        .otherwise(F.col("id_a"))
        .alias(id_col),
        "jaccard",
    )


def read_codes(spark: SparkSession, mount_dir) -> DataFrame:
    """The encoded corpus minus tombstones (maintain.delete_ids), both
    from one snapshot (``mount_dir`` may be a ``Snapshot``).  The
    tombstone subtraction is a broadcast anti-join on the bounded delete
    set — serve plans stay scan-shaped."""
    snap = _snap(spark, mount_dir)
    codes = snap.read("pq_codes")
    if snap.has("tombstones"):
        tomb = snap.read("tombstones").select("vec_id").distinct()
        codes = codes.join(F.broadcast(tomb), "vec_id", "left_anti")
    return codes


def serve_ivfpq_topk(
    spark: SparkSession,
    mount_dir: str,
    emb: DataFrame,
    query_vec: list[float],
    k: int,
    n_probe: int = 1,
    rerank: int = 32,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ top-k from mounted artifacts: probe selection against the
    mounted centroids (driver-side, bounded), an ADC scan over ONLY the
    probed cells' code partitions, and an exact rescore of the ``rerank``
    best candidates via a point-lookup into ``emb`` (the full-vector
    store; in production a key-value store — here the embeddings table
    with a pushed ``IN`` filter on the bounded candidate ids).

    The candidate and scoring rules are the ones
    ``operators/pq.py ivf_pq_topk`` calls — ``probe_cells`` and
    ``cell_adc`` — plus the same round-6 cosine rerank: hash-equal
    output, zero training."""
    from simsearch_spark.functions.measures import cosine_similarity
    from simsearch_spark.operators.kmeans import _lit_vec, probe_cells
    from simsearch_spark.operators.pq import cell_adc

    snap = snapshot(spark, mount_dir)
    cmap = load_centroid_map(spark, snap)
    books = load_codebooks(spark, snap)
    qv = [float(x) for x in query_vec]
    probe_ids = probe_cells(cmap, qv, n_probe)

    codes = read_codes(spark, snap).where(F.col("cell").isin(probe_ids))
    adc = cell_adc(books, cmap, qv, probe_ids, "cell")
    cand = (
        codes.select(F.col(id_col), adc.alias("adc_dist"))
        .orderBy(F.col("adc_dist").asc(), F.col(id_col).asc())
        .limit(rerank)
        .collect()
    )
    ids = [r[id_col] for r in cand]
    adc_of = {r[id_col]: float(r["adc_dist"]) for r in cand}
    adc_lit = F.element_at(
        F.create_map(
            *[F.lit(v) for pair in adc_of.items() for v in pair]
        ),
        F.col(id_col),
    ) if ids else F.lit(None).cast("double")

    lookup = emb.where(F.col(id_col).isin(ids)).select(
        F.col(id_col),
        adc_lit.alias("adc_dist"),
        F.round(cosine_similarity(F.col(vec_col), _lit_vec(qv)), 6).alias("cos_sim"),
    )
    return (
        lookup.select(F.col(id_col).alias("id"), "adc_dist", "cos_sim")
        .orderBy(F.col("cos_sim").desc(), F.col("id").asc())
        .limit(k)
    )


def serve_ivfpq_multi_topk(
    spark: SparkSession,
    mount_dir: str,
    emb: DataFrame,
    queries: list[tuple[int, list[float]]],
    k: int,
    n_probe: int = 1,
    rerank: int = 32,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """BATCH serving from mounted artifacts — the full production shape:
    Q queries route driver-side against the mounted centroids, ONE scan
    over the union of probed code partitions computes every query's ADC
    (an Arrow kernel gathering each query's per-cell residual LUTs),
    per-query rerank is a rank-limit window, and one point-lookup into
    ``emb`` rescores the ≤ Q·rerank candidate union exactly.  Per-query
    results equal ``operators/pq.py ivf_pq_multi_topk`` (and therefore Q
    single-query serves) — tests/test_mount.py."""
    from collections.abc import Iterator

    import numpy as np
    import pyarrow as pa
    from pyspark.sql.window import Window

    from simsearch_spark.functions.measures import cosine_similarity
    from simsearch_spark.operators.kmeans import probe_cells
    from simsearch_spark.operators.pq import cell_luts

    snap = snapshot(spark, mount_dir)
    cmap = load_centroid_map(spark, snap)
    books = load_codebooks(spark, snap)
    qs = [(int(qid), [float(x) for x in qv]) for qid, qv in queries]
    probes = {qid: probe_cells(cmap, qv, n_probe) for qid, qv in qs}
    union_cells = sorted({c for ps in probes.values() for c in ps})

    codes = read_codes(spark, snap).where(F.col("cell").isin(union_cells))
    # the per-(query, cell) residual LUTs, built once driver-side — the
    # same `cell_luts` constants the literal `cell_adc` path indexes, so
    # the Arrow kernel below is float-identical to the Q-sized when-chain
    # it replaces (r13: at Q=16 the chain cost ~0.5 s/query in codegen +
    # eval; the kernel is a numpy gather per (query, cell))
    m = len(books)
    luts = {
        (qid, cid): np.asarray(lut, dtype=np.float64)
        for qid, qv in qs
        for cid, lut in cell_luts(books, cmap, qv, probes[qid])
    }
    sel = codes.select(
        F.col(id_col), F.col("cell").cast("int").alias("cell"),
        *[F.col(f"code_{j}") for j in range(m)],
    )
    id_dt = dict(sel.dtypes)[id_col]

    def adc_kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in batches:
            ids = b.column(0).to_numpy(zero_copy_only=False)
            cell = b.column(1).to_numpy(zero_copy_only=False)
            code_np = [
                b.column(2 + j).to_numpy(zero_copy_only=False) for j in range(m)
            ]
            q_out, i_out, a_out = [], [], []
            for (qid, cid), lut in luts.items():
                idx = np.flatnonzero(cell == cid)
                if idx.size == 0:
                    continue
                # left-associated += reproduces the literal chain's
                # fixed-order double sum exactly
                acc = lut[0][code_np[0][idx]].copy()
                for j in range(1, m):
                    acc = acc + lut[j][code_np[j][idx]]
                q_out.append(np.full(idx.size, qid, dtype=np.int32))
                i_out.append(ids[idx])
                a_out.append(acc)
            if q_out:
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(np.concatenate(q_out), type=pa.int32()),
                        pa.array(np.concatenate(i_out)),
                        pa.array(np.concatenate(a_out), type=pa.float64()),
                    ],
                    names=["query_id", id_col, "_acc"],
                )

    w_adc = Window.partitionBy("query_id").orderBy(
        F.col("adc_dist").asc(), F.col(id_col).asc()
    )
    cand = (
        sel.mapInArrow(
            adc_kernel, f"query_id int, {id_col} {id_dt}, _acc double"
        )
        # the score contract (round(sqrt(Σ), 6)) applied by the ENGINE on
        # the kernel's raw accumulator — bit-equal to the expression path
        .withColumn("adc_dist", F.round(F.sqrt(F.col("_acc")), 6))
        .drop("_acc")
        .withColumn("_rn", F.row_number().over(w_adc))
        .where(F.col("_rn") <= int(rerank))
        .drop("_rn")
        .collect()
    )
    if not cand:
        # every probed partition empty or fully tombstoned — empty result
        # with the contract schema, like the single-query serve path.
        # The id column uses the MOUNTED dtype (derived from the codes
        # schema above), so a non-bigint mount returns the same schema
        # whether or not any probed cell had rows (ADVICE r13)
        return spark.createDataFrame(
            [],
            f"query_id int, {id_col} {id_dt}, adc_dist double, "
            "cos_sim double, rank int",
        )
    ids = sorted({r[id_col] for r in cand})

    # rescore tail with a CONSTANT-size plan (r13): the r12 shape built Q
    # cosine columns against Q query literals plus Q create_map arms and
    # a Q-way union — ~4 s of pure Catalyst/py4j plan construction at
    # Q=16.  The candidates are already driver-resident (≤ Q·rerank
    # rows), so they re-enter as a local relation, the query vectors join
    # as a broadcast 16-row frame, and ONE cosine expression rescores
    # every (query, candidate) row — float-identical (the same doubles
    # flow through the same expression, literal vs column source)
    cand_local = spark.createDataFrame(
        [(int(r["query_id"]), r[id_col], float(r["adc_dist"])) for r in cand],
        f"query_id int, {id_col} {id_dt}, adc_dist double",
    )
    qvecs = spark.createDataFrame(
        [(qid, qv) for qid, qv in qs], "query_id int, _qvec array<double>"
    )
    lookup = emb.where(F.col(id_col).isin(ids)).select(
        F.col(id_col), F.col(vec_col).alias("_v")
    )
    out = (
        cand_local.join(lookup, id_col)
        .join(F.broadcast(qvecs), "query_id")
        .withColumn(
            "cos_sim",
            F.round(cosine_similarity(F.col("_v"), F.col("_qvec")), 6),
        )
        .drop("_v", "_qvec")
    )
    w_cos = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col(id_col).asc()
    )
    return (
        out.withColumn("rank", F.row_number().over(w_cos))
        .where(F.col("rank") <= int(k))
        .select("query_id", id_col, "adc_dist", "cos_sim", "rank")
    )


def serve_pivot_knn(
    spark: SparkSession,
    mount_dir: str,
    emb: DataFrame,
    query_vec: list[float],
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """EXACT euclidean k-NN from the mounted pivot embedding — the
    reference's own mount-time V-path served (Coordinator.java:760-788
    selects pivots and embeds at mount; MultiMetricSimilaritySearch prunes
    at query time).  The two pruning passes read the PERSISTED narrow
    ``emb_*`` table (at scale: row groups skipped via min/max stats on
    those columns) instead of re-embedding the corpus; the exact rescore
    joins the survivors back to the vector store by id.  Identical answer
    to ``operators/pivot.py pivot_knn`` (pruned or brute — the bound never
    overestimates) — tests/test_mount.py."""
    from simsearch_spark.functions.measures import euclidean_distance
    from simsearch_spark.operators.kmeans import _lit_vec
    from simsearch_spark.operators.pivot import embedding_lower_bound, query_embedding

    snap = snapshot(spark, mount_dir)
    pivots = load_pivots(spark, snap)
    qv = [float(x) for x in query_vec]
    embd = snap.read("pivot_embedded")
    with_lb = embd.withColumn(
        "lb", embedding_lower_bound(len(pivots), query_embedding(pivots, qv))
    )

    exact_dist = euclidean_distance(F.col(vec_col), _lit_vec(qv))
    # pass 1: radius = exact k-th distance among the k best lb rows — the
    # k seed vectors come from one pushed-IN point-lookup
    seed_ids = [
        r[id_col]
        for r in with_lb.orderBy(F.col("lb").asc(), F.col(id_col).asc())
        .limit(k)
        .collect()
    ]
    radius_df = (
        emb.where(F.col(id_col).isin(seed_ids))
        .select(exact_dist.alias("dist"))
        .agg(F.max("dist").alias("radius"))
    )
    # pass 2: lb ≤ radius over the narrow embedded table, exact rescore of
    # the survivors via an id join against the vector store
    survivors = (
        with_lb.crossJoin(F.broadcast(radius_df))
        .where(F.col("lb") <= F.col("radius"))
        .select(id_col)
    )
    return (
        emb.join(survivors, id_col, "left_semi")
        .withColumn("dist", exact_dist)
        .orderBy(F.col("dist").asc(), F.col(id_col).asc())
        .limit(k)
        .select(id_col, "dist")
    )


def serve_bm25_topk(
    spark: SparkSession,
    mount_dir: str,
    docs: DataFrame,
    query_tokens: list[str],
    k: int,
    id_col: str = "doc_id",
    tokens_col: str = "toks",
) -> DataFrame:
    """BM25 top-k with the corpus statistics read from the mounted
    ``bm25_global``/``bm25_df`` tables: the per-query work is the SCORE
    scan alone (``operators/bm25.py bm25_score_topk``) — the stats pass
    every ``bm25_topk`` call pays is the mount's job.  Per-term document
    frequencies come from one pushed-filter read of |terms| rows; terms
    outside the mounted vocabulary score with df = 0, exactly as the
    one-pass operator counts them."""
    from simsearch_spark.operators.bm25 import bm25_idf, bm25_score_topk

    snap = snapshot(spark, mount_dir)
    g = snap.read("bm25_global").first()
    n_docs, avgdl = int(g["n_docs"]), float(g["avgdl"] or 0.0)
    terms = sorted(set(query_tokens))
    df_rows = (
        snap.read("bm25_df")
        .where(F.col("term").isin(terms))
        .collect()
    )
    df_of = {str(r["term"]): int(r["df"]) for r in df_rows}
    term_idfs = [(t, bm25_idf(n_docs, df_of.get(t, 0))) for t in terms]
    return bm25_score_topk(docs, id_col, tokens_col, term_idfs, avgdl, k)


def serve_lang_id(
    spark: SparkSession,
    mount_dir: str,
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The fused language-ID kernel under the MOUNTED profile artifact —
    identical output to the embedded-profile kernel when the mount stored
    the defaults, and the drop-in path for corpus-trained profiles
    (``functions/langid.py train_profiles``)."""
    from simsearch_spark.functions.langid import langid_frame

    return langid_frame(docs, id_col, text_col, profiles=load_profiles(spark, mount_dir))


def serve_lm_perplexity(
    spark: SparkSession, mount_dir: str, docs: DataFrame
) -> DataFrame:
    """Per-document bigram-LM log-perplexity against the MOUNTED LM count
    tables: the per-query work is the scored documents' own bigram
    fan-out + the LM joins — the corpus-wide count aggregation is the
    mount's job.  Same arithmetic as ``q_lm_perplexity`` (micro-nat
    integer pinning and all)."""
    from simsearch_spark.queries.vocab import lm_doc_bigrams, lm_score

    snap = snapshot(spark, mount_dir)
    bgc = lm_doc_bigrams(docs)
    cb = snap.read("lm_bigrams")
    cu = snap.read("lm_ctx")
    vocab = snap.read("lm_vocab")
    return lm_score(docs, bgc, cb, cu, vocab)
