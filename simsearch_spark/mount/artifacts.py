"""Mount step: train every expensive artifact ONCE and persist it as
parquet under a mount directory — the Spark analog of the reference's
``Coordinator.mount`` (``Coordinator.java:237-800``: ingest, index
construction, embedding, pivot selection happen at mount; queries only
read).

Artifact inventory (all sized far below the corpus; the PQ codes table is
the one corpus-proportional artifact and it is the POINT — m small ints
per vector instead of the raw embedding):

==================  ========================================  ============
artifact            schema                                    trains from
==================  ========================================  ============
ivf_centroids       (cluster_id, centroid array<double>)      label means,
                                                              round-6 pinned
pq_codebooks        (j, cluster_id, centroid array<double>)   residual
                                                              Lloyd chains on
                                                              the bounded
                                                              lowest-id sample
pq_codes            (vec_id, cell, code_0..code_{m-1})        full corpus,
  [partitioned                                                encoded against
   by cell]                                                   its own cell
langid_profiles     (lane, lang, tri, w)                      embedded seeds
                                                              or a labeled
                                                              sample
lm_bigrams/ctx/     (ngram, cb) / (ctx, cu) / (v)             corpus bigram
  vocab                                                       counts
bm25_df/global      (term, df) / (n_docs, avgdl)              corpus token
                                                              stats
tombstones          (vec_id)                                  maintain.delete
==================  ========================================  ============

``manifest.json`` records the training parameters and row counts so a
serve process can validate compatibility before reading anything.

Scale notes: ``pq_codes`` is written ``partitionBy("cell")`` so the serve
path's cell predicate is DIRECTORY pruning — probed cells' files are the
only ones listed, let alone read.  All other artifacts are
driver-bounded (n_cells·dim, m·ksub·dsub, langs·k, vocab-sized LM/BM25
tables that every real deployment maintains as tables, not driver state).

The frozen-artifact contract: ``train_frame`` (default: the corpus)
determines every trained artifact; appending rows later (maintain.py)
reuses these artifacts unchanged, so mount(base)+append(delta) ==
mount(base ∪ delta, train_frame=base) exactly — the parity
tests/test_mount.py pins.
"""

from __future__ import annotations

import json
import os

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from simsearch_spark.mount.lock import locked, mount_state_token, next_generation

MANIFEST_VERSION = 1

#: pivots selected at mount (the reference defaults to a handful per
#: attribute; 8 matches the operators/pivot.py test contract)
N_PIVOTS = 8

#: artifact families for INCREMENTAL refresh (VERDICT r13 task 1): drift
#: is usually localized to one family, and at 100 TB the full
#: retrain-and-swap is the engine's most expensive lifecycle job —
#: ``refresh(families=[...])`` regenerates only the drifted family,
#: write-new-then-swap at family granularity, leaving the other
#: families' artifacts byte-identical.
FAMILY_ARTIFACTS: dict[str, list[str]] = {
    "vector": ["ivf_centroids", "pq_codebooks", "pq_codes", "pivots",
               "pivot_embedded"],
    "text": ["langid_profiles", "lm_bigrams", "lm_ctx", "lm_vocab",
             "lm_tokens", "bm25_df", "bm25_global"],
    "dedup": ["dedup_bands", "dedup_shingles"],
    "bpe": ["bpe_merges"],
}

__all__ = [
    "mount",
    "FAMILY_ARTIFACTS",
    "load_manifest",
    "save_manifest",
    "load_centroid_map",
    "load_codebooks",
    "load_profiles",
    "load_pivots",
    "encode_residual_codes",
]


def encode_residual_codes(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    cell_col: str,
    cmap: dict[int, list[float]],
    codebooks: list[dict[int, list[float]]],
) -> DataFrame:
    """(id, cell, code_0..code_{m-1}): every vector PQ-encoded against its
    own cell's residual.  Pure codegen column expressions (argmin over
    ksub literal centroids per subspace), row-local, zero shuffles — the
    corpus never moves; identical code values to the probe-time encode
    inside ``ivf_pq_topk`` (the same ``cell_residual`` and ``pq_encode``)."""
    from simsearch_spark.operators.pq import cell_residual, pq_encode

    enc_in = emb.select(
        F.col(id_col),
        cell_residual(vec_col, cell_col, cmap, sorted(cmap)).alias("__r"),
        F.col(cell_col).alias("cell"),
    )
    enc = pq_encode(enc_in, id_col, "__r", codebooks)
    m = len(codebooks)
    return enc.select(
        F.col(id_col), F.col("cell"), *[F.col(f"code_{j}") for j in range(m)]
    )


def _write(
    df: DataFrame, path: str, partition_by: str | list[str] | None = None
) -> None:
    w = df.write.mode("overwrite")
    if partition_by:
        cols = [partition_by] if isinstance(partition_by, str) else partition_by
        w = w.partitionBy(*cols)
    w.parquet(path)


def _train_vector_family(
    spark: SparkSession, emb: DataFrame, train: DataFrame, out_dir: str
) -> tuple[dict, int]:
    """Train and persist the VECTOR artifact family (IVF centroids,
    residual PQ codebooks, the cell-partitioned codes table, pivots and
    the pivot distance embedding) into ``out_dir``.  ``emb`` should
    arrive persisted — the trainers make several passes over it.
    Returns ``(params_fragment, n_vectors)`` for the manifest."""
    from simsearch_spark.queries.cluster import PQ_ITERS, PQ_KSUB, PQ_M, PQ_TRAIN_N
    from simsearch_spark.queries.ivfpq import (
        _centroid_map6,
        _sample_rows,
        _train_books_residual_rows,
    )

    from concurrent.futures import ThreadPoolExecutor

    # one centroid aggregation + one bounded-sample collect; the Lloyd
    # chains run driver-side on the collected sample (r14 — identical
    # codebooks, tests/test_pq.py pins the arms equal)
    cmap = _centroid_map6(train)
    books = _train_books_residual_rows(_sample_rows(train), cmap)

    # the five artifact writes and the vector count are independent jobs
    # over the persisted emb/driver-resident training output — overlap
    # them so later jobs back-fill each write's straggler tail (guide
    # §2.6; the manifest, the mount's only discovery point, is written by
    # the caller strictly after every future resolves)
    def write_centroids():
        _write(
            spark.createDataFrame(
                sorted(cmap.items()), "cluster_id int, centroid array<double>"
            ),
            os.path.join(out_dir, "ivf_centroids"),
        )

    def write_codebooks():
        _write(
            spark.createDataFrame(
                [
                    (j, int(cid), [float(x) for x in vec])
                    for j, cb in enumerate(books)
                    for cid, vec in sorted(cb.items())
                ],
                "j int, cluster_id int, centroid array<double>",
            ),
            os.path.join(out_dir, "pq_codebooks"),
        )

    def write_codes():
        codes = encode_residual_codes(
            emb, "vec_id", "embedding", "label", cmap, books
        )
        # repartition ON the partition column: a fresh mount starts at one
        # file per cell (the same layout compact_codes restores), so the
        # COMPACT_FILES_PER_CELL trigger measures append debris, not the
        # writer's shuffle spray; a petabyte mount would repartition(n,
        # "cell") to keep intra-cell file parallelism
        _write(
            codes.repartition("cell"),
            os.path.join(out_dir, "pq_codes"),
            partition_by="cell",
        )

    def write_pivot_artifacts():
        # pivot artifacts — the reference's own mount-time V-path
        # (Coordinator.java:760-788: allocate/select pivots, embed): the
        # deterministic farthest-point pivots and the per-row distance
        # embedding, persisted so serve-side pruned k-NN reads narrow
        # emb_* columns (and, at scale, skips row groups via their
        # min/max stats) instead of re-embedding the corpus per query
        from simsearch_spark.operators.pivot import (
            embed_distances,
            select_pivots_farthest_point,
        )

        pivots = select_pivots_farthest_point(train, "vec_id", "embedding", N_PIVOTS)
        _write(
            spark.createDataFrame(
                [
                    (pos, int(pid), [float(x) for x in vec])
                    for pos, (pid, vec) in enumerate(pivots)
                ],
                "pos int, pivot_id long, vector array<double>",
            ),
            os.path.join(out_dir, "pivots"),
        )
        _write(
            embed_distances(emb, "embedding", pivots).select(
                "vec_id", *[f"emb_{i}" for i in range(len(pivots))]
            ),
            os.path.join(out_dir, "pivot_embedded"),
        )

    with ThreadPoolExecutor(max_workers=4) as ex:
        futs = [
            ex.submit(inheritable_thread_target(spark)(fn))
            for fn in (
                write_centroids, write_codebooks, write_codes, write_pivot_artifacts
            )
        ]
        f_count = ex.submit(inheritable_thread_target(spark)(emb.count))
        for f in futs:
            f.result()
        n_vectors = int(f_count.result())
    params = {
        "pq_m": PQ_M,
        "pq_ksub": PQ_KSUB,
        "pq_iters": PQ_ITERS,
        "pq_train_n": PQ_TRAIN_N,
        "n_cells": len(cmap),
    }
    return params, n_vectors


def _train_text_family(
    spark: SparkSession,
    docs: DataFrame,
    profiles: dict[str, dict[str, int]] | None,
    out_dir: str,
) -> list[str]:
    """Train and persist the TEXT artifact family (language-ID profiles,
    LM bigram/context/vocab tables, BM25 stats) into ``out_dir``.
    ``docs`` must already be text-notnull-filtered and should arrive
    persisted — the trainers make several passes and the dedup trainer
    shares the same read.  Returns the lane-ordered language list."""
    from simsearch_spark.functions.langid import PROFILES, _langs_of
    from simsearch_spark.functions.text import ws_tokens
    from simsearch_spark.queries.vocab import lm_count_tables, lm_doc_bigrams

    prof = PROFILES if profiles is None else profiles
    langs = _langs_of(profiles)
    _write(
        spark.createDataFrame(
            [
                (lane, lang, tri, int(w))
                for lane, lang in enumerate(langs)
                for tri, w in sorted(prof[lang].items())
            ],
            "lane int, lang string, tri string, w long",
        ),
        os.path.join(out_dir, "langid_profiles"),
    )

    from concurrent.futures import ThreadPoolExecutor

    toks = ws_tokens(F.col("text"))
    bgc = lm_doc_bigrams(docs).persist()
    try:
        cb, cu, vocab = lm_count_tables(bgc, docs)
        tdocs = docs.select("doc_id", toks.alias("toks")).where(
            F.col("toks").isNotNull()
        )
        # the six LM/BM25 artifact writes are independent aggregations
        # over the persisted bgc/docs frames — overlap them (guide §2.6;
        # the manifest is written by the caller after every write lands)
        jobs = [
            (cb, "lm_bigrams", None),
            (cu, "lm_ctx", None),
            (vocab, "lm_vocab", None),
            # the distinct token set behind lm_vocab's count —
            # countDistinct is not mergeable from counts alone, so
            # appends re-derive v from the merged token set
            # (maintain.append_rows)
            (docs.select(F.explode(toks).alias("tok")).distinct(), "lm_tokens", None),
            (
                tdocs.select(
                    "doc_id", F.explode(F.array_distinct("toks")).alias("term")
                )
                .groupBy("term")
                .agg(F.count(F.lit(1)).alias("df")),
                "bm25_df",
                None,
            ),
            (
                tdocs.agg(
                    F.count(F.lit(1)).alias("n_docs"),
                    F.avg(F.size("toks").cast("double")).alias("avgdl"),
                    F.sum(F.size("toks").cast("long")).alias("sum_dl"),
                ),
                "bm25_global",
                None,
            ),
        ]
        with ThreadPoolExecutor(max_workers=4) as ex:
            futs = [
                ex.submit(
                    inheritable_thread_target(spark)(_write),
                    frame, os.path.join(out_dir, name), part,
                )
                for frame, name, part in jobs
            ]
            for f in futs:
                f.result()
    finally:
        bgc.unpersist()
    return list(langs)


def _dedup_family_params(dedup_params: dict | None) -> dict:
    """The frozen MinHash family the dedup index is built with: module
    defaults overlaid with the caller's (or the previous generation's)
    overrides, unknown keys rejected loudly."""
    from simsearch_spark.queries.pipeline import MINHASH_T, N_BANDS, N_HASHES

    dp = {"threshold": MINHASH_T, "n_hashes": N_HASHES, "bands": N_BANDS}
    if dedup_params:
        allowed = {
            "id_col", "text_col", "threshold", "n_hashes", "bands",
            "shingle_n", "seed", "bucket_cap",
            # layout fan-outs: auto-derived from corpus size when absent
            # (r15); a refresh deliberately does NOT carry them so the
            # new generation re-sizes for the refreshed corpus
            "n_bkt", "n_sbkt",
        }
        bad = set(dedup_params) - allowed
        if bad:
            raise ValueError(f"dedup_params keys not settable: {sorted(bad)}")
        dp.update(dedup_params)
    return dp


@locked("mount", arg=2, makedirs=True)
def mount(
    spark: SparkSession,
    sf_dir: str,
    mount_dir: str,
    train_frame: DataFrame | None = None,
    profiles: dict[str, dict[str, int]] | None = None,
    emb_frame: DataFrame | None = None,
    docs_frame: DataFrame | None = None,
    dedup: bool = True,
    dedup_params: dict | None = None,
) -> dict:
    """Train and persist the full artifact set from the corpus at
    ``sf_dir``; returns the manifest (also written to
    ``mount_dir/manifest.json``).

    ``train_frame``: the embeddings frame the IVF centroids and residual
    PQ codebooks are trained on (default: the corpus itself — which makes
    the mounted artifacts EQUAL to what the self-contained declared
    queries train in-query, the parity contract).  ``profiles``: a
    language-ID profile dict (e.g. ``train_profiles`` output); default is
    the embedded seed profiles the declared queries use.  ``emb_frame`` /
    ``docs_frame`` override the corpus frames themselves (partial mounts,
    the frozen-artifact append parity tests).

    The training is structured as per-FAMILY trainers (vector / text /
    dedup, ``FAMILY_ARTIFACTS``) sharing one persisted corpus read per
    table, so ``audit.refresh(families=[...])`` can regenerate a single
    drifted family without re-paying the others (VERDICT r13 task 1)."""
    from simsearch_spark.sources.registry import load_table

    emb = (
        load_table(spark, sf_dir, "embeddings") if emb_frame is None else emb_frame
    ).persist()
    train = emb if train_frame is None else train_frame
    try:
        vparams, n_vectors = _train_vector_family(spark, emb, train, mount_dir)
    finally:
        emb.unpersist()

    # ONE persisted documents read shared by the text AND dedup trainers
    docs = (
        (load_table(spark, sf_dir, "documents") if docs_frame is None else docs_frame)
        .where(F.col("text").isNotNull())
        .persist()
    )
    try:
        langs = _train_text_family(spark, docs, profiles, mount_dir)
        # text-family drift baseline (r14): the mounted LM's mean
        # log-perplexity on a bounded sample of its own training corpus —
        # audit_text compares current data against it
        from simsearch_spark.mount.audit import _sample_lm_stats

        txt_stats = _sample_lm_stats(spark, mount_dir, docs)

        manifest = {
            "version": MANIFEST_VERSION,
            "source": os.path.abspath(sf_dir),
            "params": {**vparams, "langs": langs},
            "counts": {"n_vectors": n_vectors},
            "text_audit": {
                "baseline_ppl": txt_stats["log_ppl"],
                "baseline_coverage": txt_stats["coverage"],
            },
            "artifacts": FAMILY_ARTIFACTS["vector"] + FAMILY_ARTIFACTS["text"],
        }
        if dedup:
            # the persisted MinHash signature/band index (mount/dedup.py) —
            # frozen hash family matching the declared dedup queries, so
            # dedup_append deltas stay parity-equal to the batch operator.
            # ``dedup_params`` overrides the family (a refresh passes the
            # OLD manifest's block through, so a regenerated mount never
            # silently reverts a custom family to defaults — r12)
            from simsearch_spark.mount.dedup import _build_dedup

            _add_family(
                manifest, "dedup",
                _build_dedup(spark, mount_dir, docs, **_dedup_family_params(dedup_params)),
            )
    finally:
        docs.unpersist()
    save_manifest(mount_dir, manifest)
    return manifest


def load_manifest(mount_dir: str) -> dict:
    with open(os.path.join(mount_dir, "manifest.json")) as f:
        m = json.load(f)
    if m.get("version") != MANIFEST_VERSION:
        raise ValueError(
            f"mount manifest version {m.get('version')} != {MANIFEST_VERSION}"
        )
    return m


def _add_family(manifest: dict, family: str, block: dict) -> None:
    """Record a single-family trainer's manifest ``block`` (``dedup``,
    ``bpe``) and list the family's artifacts."""
    manifest[family] = block
    manifest["artifacts"] += [
        a for a in FAMILY_ARTIFACTS[family] if a not in manifest["artifacts"]
    ]


def _publish_family(mount_dir: str, family: str, build) -> dict:
    """Train one family into a new mount generation and publish it
    (``mount_dedup``, ``mount_bpe``; runs under their write lock):
    ``build(out_dir)`` writes the family's artifacts into the
    ``lock.next_generation`` tree and returns its manifest block, which
    joins the live manifest — or a fresh one in a directory the trainer is
    creating.  Readers see the old artifacts or the new ones; a failure
    leaves the live mount untouched.  Returns the new manifest."""
    token = mount_state_token(mount_dir)
    try:
        manifest = load_manifest(mount_dir)
    except FileNotFoundError:
        manifest = {
            "version": MANIFEST_VERSION,
            "source": None,
            "params": {},
            "counts": {},
            "artifacts": [],
        }
    rewrite = {*FAMILY_ARTIFACTS[family], "manifest.json"}
    with next_generation(mount_dir, f"mount_{family}", token, rewrite) as nxt:
        _add_family(manifest, family, build(nxt))
        save_manifest(nxt, manifest)
    return manifest


def save_manifest(mount_dir: str, manifest: dict) -> None:
    """The ONE writer of ``manifest.json``: dump to a sibling temp file,
    then ``os.replace`` it over the old one.  A reader, or a crash
    mid-dump, sees the previous manifest or the new one, never a
    truncated one; and inside a ``lock.next_generation`` tree the
    hardlinked previous manifest is replaced, never written through."""
    path = os.path.join(mount_dir, "manifest.json")
    with open(path + ".tmp", "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    os.replace(path + ".tmp", path)


def load_centroid_map(spark: SparkSession, mount_dir: str) -> dict[int, list[float]]:
    """cluster_id -> round-6-pinned centroid (bounded: n_cells · dim)."""
    rows = spark.read.parquet(os.path.join(mount_dir, "ivf_centroids")).collect()
    return {int(r["cluster_id"]): [float(x) for x in r["centroid"]] for r in rows}


def load_codebooks(spark: SparkSession, mount_dir: str) -> list[dict[int, list[float]]]:
    """The residual PQ codebooks in ``pq_train``'s shape (bounded:
    m · ksub · dsub)."""
    rows = spark.read.parquet(os.path.join(mount_dir, "pq_codebooks")).collect()
    m = 1 + max(int(r["j"]) for r in rows)
    books: list[dict[int, list[float]]] = [{} for _ in range(m)]
    for r in rows:
        books[int(r["j"])][int(r["cluster_id"])] = [float(x) for x in r["centroid"]]
    return books


def load_pivots(spark: SparkSession, mount_dir: str) -> list:
    """The mounted pivot set in ``select_pivots_farthest_point``'s
    [(id, vector)] shape, selection order restored (bounded: p · dim)."""
    rows = spark.read.parquet(os.path.join(mount_dir, "pivots")).collect()
    return [
        (int(r["pivot_id"]), [float(x) for x in r["vector"]])
        for r in sorted(rows, key=lambda r: int(r["pos"]))
    ]


def load_profiles(spark: SparkSession, mount_dir: str) -> dict[str, dict[str, int]]:
    """Language-ID profiles with the lane order restored (bounded:
    langs · k rows)."""
    rows = spark.read.parquet(os.path.join(mount_dir, "langid_profiles")).collect()
    by_lane: dict[int, str] = {}
    tris: dict[str, dict[str, int]] = {}
    for r in rows:
        by_lane[int(r["lane"])] = str(r["lang"])
        tris.setdefault(str(r["lang"]), {})[str(r["tri"])] = int(r["w"])
    return {by_lane[lane]: tris[by_lane[lane]] for lane in sorted(by_lane)}
