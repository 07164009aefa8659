"""Measured scaling probe: replicate the sf0.1 fixtures Nx into /tmp and
time the scale-sensitive operators at each factor.

This turns SCALE.md's "would hold at 100 TB" arguments into a measured
local curve: each probe's cost should grow ~linearly with the factor (the
shuffles are keyed, the windows are partitioned, the joins are
pruned/banded), and a super-linear probe is a bug to chase.  Replicas are
re-keyed (ids/users shifted per copy) and documents get a per-replica
prefix token so copies are NOT near-duplicates of each other — the dup
structure replicates linearly instead of exploding quadratically.

Usage: python tools/scale_probe.py [factors...]   (default: 1 3 10)
Prints one JSON line: {probe: {factor: seconds}}.
SPARK_GRAFT_PROBE=name[,name...] restricts to named probes (timed probes
must run on a quiet machine — see MEMORY/SCALE.md jitter discipline — so
re-measuring one probe must not force re-running them all).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

BASE = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def replicate(root: str, factor: int) -> str:
    out = os.path.join(root, f"x{factor}")
    for table, id_col in (("documents", "doc_id"), ("events", "event_id"), ("embeddings", "vec_id")):
        t = pq.read_table(os.path.join(BASE, f"{table}.parquet"))
        dirpath = os.path.join(out, f"{table}.parquet")
        os.makedirs(dirpath, exist_ok=True)
        max_id = pc.max(t.column(id_col)).as_py() + 1
        max_user = pc.max(t.column("user_id")).as_py() + 1 if table == "events" else 0
        for k in range(factor):
            part = t
            part = part.set_column(
                part.schema.get_field_index(id_col), id_col,
                pc.add(part.column(id_col), k * max_id),
            )
            if table == "events":
                part = part.set_column(
                    part.schema.get_field_index("user_id"), "user_id",
                    pc.add(part.column("user_id"), k * max_user),
                )
            if table == "documents" and k > 0:
                # per-replica word SUFFIX on NON-STOPWORD tokens: any
                # shingle containing a content word (the overwhelming
                # majority) is distinct across replicas, so the dup/pair
                # structure still replicates ~linearly, while within-replica
                # near-dup structure is preserved verbatim.  Stopwords are
                # left INTACT so replicas keep their English stopword
                # density: the r8 probe suffixed every token, the language
                # filter classified all k>0 replicas non-English, and the
                # curation probe's survivor set stayed flat by construction
                # (SCALE.md r8 caveat) — it measured scan cost, not
                # survivor-volume scaling through the LM join + tail
                # threshold.  Weaker constructions measured here: a prefix
                # token leaves shingle sets ~identical (every doc gains
                # `factor` near-dup copies; pair output quadratic — 119 s
                # at 100x from ~25M true pairs); a seeded word SORT groups
                # repeated words adjacently, manufacturing shared "w w w"
                # shingles corpus-wide (hot LSH buckets).
                from simsearch_spark.functions.text import LANG_STOPWORDS

                sw = set(LANG_STOPWORDS["en"])
                sfx = f"_{k}"
                part = part.set_column(
                    part.schema.get_field_index("text"), "text",
                    pa.array(
                        [
                            " ".join(
                                w if w.lower() in sw else w + sfx
                                for w in t_.split()
                            )
                            if t_ else t_
                            for t_ in part.column("text").to_pylist()
                        ]
                    ),
                )
            if table == "embeddings" and k > 0:
                # per-replica deterministic SIGN FLIP: cos(s⊙x, s⊙y) == cos(x, y)
                # for a shared pattern s (norms and dots are sign-invariant), so
                # within-replica near-dup structure is preserved EXACTLY, while
                # cross-replica cosines become random-sign sums ≈ 0 — without
                # this, identical vectors across replicas give every row
                # `factor` exact dups and the semdedup pair OUTPUT is quadratic
                # (a quadratic answer, not a quadratic algorithm).
                import numpy as np

                mat = np.array(part.column("embedding").to_pylist(), dtype=np.float32)
                rng = np.random.default_rng(k)  # seeded per replica: deterministic
                signs = rng.choice([-1.0, 1.0], size=mat.shape[1]).astype(np.float32)
                part = part.set_column(
                    part.schema.get_field_index("embedding"), "embedding",
                    pa.array(list(mat * signs), type=part.schema.field("embedding").type),
                )
            pq.write_table(part, os.path.join(dirpath, f"part{k}.parquet"))
    return out


def _auto_minhash_candidates(spark, sf_dir: str) -> int:
    from pyspark.sql import functions as F

    from simsearch_spark.functions.hashing import nonblank_text
    from simsearch_spark.operators.dedup import minhash_banded_frame
    from simsearch_spark.operators.lshparams import auto_minhash_params
    from simsearch_spark.sources.registry import load_table

    docs = load_table(spark, sf_dir, "documents").where(nonblank_text("text"))
    prm = auto_minhash_params(docs.count(), 0.7)
    banded = minhash_banded_frame(
        docs, "doc_id", "text", prm.n_hashes, prm.bands
    ).persist()
    expl = banded.select(
        F.col("doc_id"), F.posexplode("bands").alias("band_idx", "band_hash")
    )
    left = expl.select(F.col("doc_id").alias("id_a"), "band_idx", "band_hash")
    right = expl.select(F.col("doc_id").alias("id_b"), "band_idx", "band_hash")
    cand = (
        left.join(right, ["band_idx", "band_hash"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
        .count()
    )
    banded.unpersist()
    return cand


def _grouped_quantile_probe(spark, sf_dir: str) -> int:
    from pyspark.sql import functions as F

    from simsearch_spark.operators.quantile import exact_grouped_quantile_cont
    from simsearch_spark.sources.registry import load_table

    docs = load_table(spark, sf_dir, "documents").select(
        "source", (F.hash("text").cast("double") / F.lit(2.0 ** 31)).alias("u")
    )
    thr = exact_grouped_quantile_cont(docs, "source", "u", 0.9)
    return len(thr)


def _pq_encode_probe(spark, sf_dir: str) -> int:
    from pyspark.sql import functions as F

    from simsearch_spark.operators.pq import pq_encode, pq_train
    from simsearch_spark.sources.registry import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    sample = emb.orderBy("vec_id").limit(2000).persist()
    books = pq_train(sample, "vec_id", "embedding", m=4, ksub=8, iters=2)
    sample.unpersist()
    enc = pq_encode(emb, "vec_id", "embedding", books)
    return int(enc.agg(F.sum("code_0") + F.count(F.lit(1))).first()[0])


def _ivfpq_serve_probe(spark, sf_dir: str) -> int:
    """The composed RESIDUAL IVF-PQ serve (r10, the declared query's exact
    shape): round-6 centroids + bounded-sample residual PQ training, then
    ``ivf_pq_topk`` routed to n_probe=2 of the fixture
    cells.  Returns the ADC-SCANNED row count (the probed cells'
    population): the scale claim is that this is N·(n_probe/n_cells) — the
    probed FRACTION stays constant as N grows (labels replicate, so cell
    count is fixed while cells grow ∝ N), vs the full-N scan a flat index
    would pay.  Centroid/codebook training inside the lambda is the fixed
    mount-time cost, same accounting as embed_pq_encode."""
    from pyspark.sql import functions as F

    from simsearch_spark.operators.kmeans import probe_cells
    from simsearch_spark.operators.pq import ivf_pq_topk
    from simsearch_spark.queries.ivfpq import (
        _centroid_map6,
        _sample_rows,
        _train_books_residual_rows,
    )
    from simsearch_spark.sources.registry import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    cmap = _centroid_map6(emb)
    books = _train_books_residual_rows(_sample_rows(emb), cmap)
    q = [float(x) for x in emb.orderBy("vec_id").first()["embedding"]]
    served = ivf_pq_topk(
        emb, "vec_id", "embedding", cmap, books, q, 10,
        n_probe=2, rerank=50, assign_col="label",
    ).collect()
    assert len(served) == 10
    probed = probe_cells(cmap, q, 2)
    return int(emb.where(F.col("label").isin(probed)).count())


def _ivfpq_multi_serve_probe(spark, sf_dir: str) -> int:
    """Batch IVF-PQ serving (r11): Q queries, ONE union-cell scan.
    Returns the UNION-scanned row count — the scale claim is twofold:
    the scanned fraction is |∪ probed cells| / n_cells of N (flat as N
    grows), and the batch pays it ONCE where Q single-query serves would
    re-scan their (overlapping) cells Q times."""
    from pyspark.sql import functions as F

    from simsearch_spark.operators.kmeans import probe_cells
    from simsearch_spark.operators.pq import ivf_pq_multi_topk
    from simsearch_spark.queries.ivfpq import (
        _centroid_map6,
        _sample_rows,
        _train_books_residual_rows,
    )
    from simsearch_spark.sources.registry import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    cmap = _centroid_map6(emb)
    books = _train_books_residual_rows(_sample_rows(emb), cmap)
    qrows = (
        emb.where(F.col("vec_id").isin(3, 7, 11)).select("vec_id", "embedding").collect()
    )
    qs = sorted((int(r.vec_id), [float(x) for x in r.embedding]) for r in qrows)
    served = ivf_pq_multi_topk(
        emb, "vec_id", "embedding", cmap, books, qs, 10,
        n_probe=2, rerank=50, assign_col="label",
    ).collect()
    assert len(served) == 10 * len(qs)
    union = {cid for _qid, qv in qs for cid in probe_cells(cmap, qv, 2)}
    return int(emb.where(F.col("label").isin(sorted(union))).count())


#: fixed-size crawl delta for the incremental-dedup probe — constant
#: across factors so the curve isolates base-corpus-size sensitivity
DEDUP_DELTA_N = 300


#: per-sf_dir probe-delta cutoff and delta FRAME — computed once in the
#: UNTIMED prepare (fixture definition, not operator cost: the timed
#: lambda was paying a redundant orderBy/limit job plus a fresh
#: documents-relation resolution per run; a production appender holds
#: its input stream, it does not re-open the source per delta)
_DEDUP_CUTOFFS: dict[str, int] = {}
_DEDUP_DELTAS: dict[str, object] = {}


def _dedup_cutoff(spark, sf_dir: str) -> int:
    from pyspark.sql import functions as F

    from simsearch_spark.sources.registry import load_table

    if sf_dir not in _DEDUP_CUTOFFS:
        docs = load_table(spark, sf_dir, "documents")
        _DEDUP_CUTOFFS[sf_dir] = docs.select("doc_id").orderBy("doc_id").limit(
            DEDUP_DELTA_N
        ).agg(F.max("doc_id")).first()[0]
        _DEDUP_DELTAS[sf_dir] = docs.where(
            F.col("doc_id") <= _DEDUP_CUTOFFS[sf_dir]
        )
    return _DEDUP_CUTOFFS[sf_dir]


def _dedup_mount_prepare(spark, sf_dir: str) -> str:
    """Build (once per factor dir, UNTIMED — registered in PREPARES) the
    mounted dedup index over everything except the fixed probe delta."""
    from pyspark.sql import functions as F

    from simsearch_spark.mount.artifacts import snapshot
    from simsearch_spark.mount.dedup import mount_dedup
    from simsearch_spark.queries.pipeline import MINHASH_T, N_BANDS, N_HASHES
    from simsearch_spark.sources.registry import load_table

    d = os.path.join(sf_dir, "_dedup_mount")
    cutoff = _dedup_cutoff(spark, sf_dir)
    if snapshot(spark, d, missing_ok=True).has("dedup_bands"):
        return d
    docs = load_table(spark, sf_dir, "documents")
    base = docs.where(F.col("doc_id") > cutoff)
    mount_dedup(spark, d, base, threshold=MINHASH_T, n_hashes=N_HASHES, bands=N_BANDS)
    return d


def _dedup_append_probe(spark, sf_dir: str) -> int:
    """Incremental dedup against the mounted base (r12): a FIXED-size
    delta joins the persisted band index — delta shingling/banding,
    broadcast key probe into the directory-pruned + In-filtered base
    scan, candidate generation over touched buckets only, verification
    against point-looked-up base shingles.  The scale claim: this cost is
    governed by |delta| (constant here) plus a narrow-int index probe —
    compare its curve against the ``dedup_minhash_lsh`` probe, which is
    what a deployment WITHOUT the mounted index re-pays per delta (full
    re-shingle + full self-join of base ∪ delta).  ``update=False`` keeps
    the prepared mount reusable across the warmup and timed runs."""
    from simsearch_spark.mount.dedup import dedup_append

    d = _dedup_mount_prepare(spark, sf_dir)
    _dedup_cutoff(spark, sf_dir)
    delta = _DEDUP_DELTAS[sf_dir]
    return int(dedup_append(spark, d, delta, update=False).count())


#: per-probe UNTIMED setup, run before the timed lambda at each factor
#: (mount construction is the train-once cost, not the per-delta cost)
PREPARES = {
    "dedup_append": _dedup_mount_prepare,
}


def probes(spark, sf_dir: str):
    from pyspark.sql import functions as F

    from simsearch_spark.operators.ann import cosine_topk
    from simsearch_spark.operators.dedup import exact_dedup_groups, minhash_lsh_pairs
    from simsearch_spark.operators.kmeans import auto_km_k
    from simsearch_spark.operators.quantile import exact_quantile_cont
    from simsearch_spark.queries.cluster import semdedup_prune
    from simsearch_spark.queries.media import q_media_frame_pixel_stats
    from simsearch_spark.queries.corpus import CORPUS_QUERIES
    from simsearch_spark.queries.pipeline import PIPELINE_QUERIES
    from simsearch_spark.queries.vocab import q_lm_perplexity, q_ngram_vocab
    from simsearch_spark.sources.registry import load_table

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    return {
        "dedup_exact": lambda: exact_dedup_groups(docs, "doc_id", "text").count(),
        "dedup_minhash_lsh": lambda: minhash_lsh_pairs(docs, "doc_id", "text").count(),
        "dedup_append": lambda: _dedup_append_probe(spark, sf_dir),
        "events_sessionize": lambda: PIPELINE_QUERIES["events_sessionize"][0](spark, sf_dir).count(),
        "ngram_vocab": lambda: q_ngram_vocab(spark, sf_dir).count(),
        "ann_brute_topk": lambda: cosine_topk(
            emb, "vec_id", "embedding",
            [float(x) for x in emb.orderBy("vec_id").first()["embedding"]], 10,
        ).count(),
        "corpus_tokens": lambda: docs.select(
            F.sum(F.size(F.split(F.lower("text"), r"\s+")))
        ).collect(),
        # k grows ∝ N (the published SemDeDup sizing): clusters stay
        # ~rows_per_cluster-sized, so assignment is N·k kernel flops and the
        # tiled pair stage is N·rows_per_cluster pairs — both linear in N.
        # rows_per_cluster=500 makes k actually MOVE across factors
        # (sf0.1 ≈ 5k vecs → k=10 at 1x, 100 at 10x, 1000 at 100x).
        # threshold 0.8, not the corpus COSINE_T=0.45: sign-flipped
        # cross-replica cosines are random sums that clear 0.45 at a small
        # but k-means-selected rate (within-cluster pairs are cosine-biased
        # by construction), which makes the pruned OUTPUT super-linear while
        # the runtime stays linear; at 0.8 only true (within-replica)
        # near-dups survive and the answer replicates linearly too.
        # the vocab²-sized LM is joined by SHUFFLE, not broadcast — this
        # probe measures that join's curve as the per-replica-suffixed
        # vocab (and so the LM table) grows with the corpus.  NOT .count():
        # the final left join is on unique aggregate keys, so Catalyst
        # eliminates the whole scoring subtree under a bare count —
        # aggregate the SCORE columns to force the real plan
        "lm_perplexity": lambda: int(
            q_lm_perplexity(spark, sf_dir)
            .agg(F.count("log_ppl") + F.count(F.lit(1)))
            .first()[0]
        ),
        # row-local Arrow codec composition (AVI index + JPEG entropy
        # decode in one batch) — should be embarrassingly linear
        "media_frame_pixel_stats": lambda: q_media_frame_pixel_stats(
            spark, sf_dir
        ).count(),
        # winnowing is a row-local Arrow kernel (linear); the cut joins are
        # keyed on fp / doc — suffix-decorrelated replicas share no
        # fingerprints, so the shared-fp table and cut volume replicate
        # linearly too
        "passage_removal": lambda: PIPELINE_QUERIES["passage_removal"][0](
            spark, sf_dir
        ).agg(F.sum("n_removed") + F.sum("n_spans")).first()[0],
        # one groupBy(host) with a countDistinct over the 64-bit text
        # fingerprint — the cost is the JVM char-fold over every document
        # plus one domain-cardinality shuffle
        "domain_curation": lambda: CORPUS_QUERIES["domain_curation"][0](
            spark, sf_dir
        ).agg(F.sum("n_kept") + F.sum("n_unique")).first()[0],
        # the composed curation pipeline: corpus_clean + full-corpus LM
        # scoring + one doc-keyed join + 1-row threshold — its curve should
        # track lm_perplexity's (the dominant stage)
        "corpus_curation_pipeline": lambda: CORPUS_QUERIES[
            "corpus_curation_pipeline"
        ][0](spark, sf_dir).agg(F.sum("n_tokens") + F.count(F.lit(1))).first()[0],
        # ADAPTIVE MinHash sizing (operators/lshparams.py): candidate PAIRS
        # under auto params must stay ~flat PER ROW as N grows — the probe
        # counts distinct band-join candidates; divide rows by the corpus
        # size across factors to read the flatness claim (fixed params are
        # Θ(N²·2^-bits): the r8 finding the profile exists to fix)
        "auto_minhash_candidates": lambda: _auto_minhash_candidates(spark, sf_dir),
        # the distributed exact-quantile threshold stage in ISOLATION (the
        # r8 'weak' fix, operators/quantile.py): p90 over a continuous
        # per-doc double — count/min/max + 2-3 histogram-narrowing passes +
        # the neighbor pass, every one a map-side-combinable aggregation
        # with O(bins) driver state.  hash-derived uniform doubles force
        # real narrowing (integer lengths would converge in one pass);
        # cost must stay a flat small multiple of the scan as N grows
        "exact_quantile_threshold": lambda: int(
            exact_quantile_cont(
                docs.select(
                    (F.hash("text").cast("double") / F.lit(2.0 ** 31)).alias("u")
                ),
                "u",
                0.9,
            )
            * 1e6
        ),
        # the GROUPED exact quantile (r9): per-source p90 of a continuous
        # per-doc double — group count stays fixed (~20 sources) while
        # group sizes grow with the corpus; all groups narrow against one
        # broadcast state frame, so the pass count stays O(log bins-range)
        # and runtime tracks the scan
        "grouped_quantile_threshold": lambda: _grouped_quantile_probe(spark, sf_dir),
        # PQ (r9): train on a FIXED-size head sample (the production
        # pattern — codebooks saturate long before corpus size), then
        # encode the whole corpus row-locally; cost must track the scan
        "embed_pq_encode": lambda: _pq_encode_probe(spark, sf_dir),
        # composed IVF-PQ serving (r10): rows = ADC-scanned cell population
        # — must stay the n_probe/n_cells FRACTION of N at every factor
        # (the routing prunes the scan; a flat index would read N)
        "ivfpq_serve": lambda: _ivfpq_serve_probe(spark, sf_dir),
        "ivfpq_multi_serve": lambda: _ivfpq_multi_serve_probe(spark, sf_dir),
        "semdedup_auto_k": lambda: semdedup_prune(
            emb, "vec_id", "embedding",
            k=auto_km_k(emb.count(), rows_per_cluster=500),
            threshold=0.8,
            rows_per_cluster=500,
        ).where(F.col("is_pruned") == 1).count(),
    }


def main() -> None:
    factors = [int(a) for a in sys.argv[1:]] or [1, 3, 10]
    from simsearch_spark.session import get_spark

    spark = get_spark(app_name="scale-probe")
    spark.sparkContext.setLogLevel("ERROR")
    root = tempfile.mkdtemp(prefix="simsearch_scale_")
    results: dict[str, dict[int, float]] = {}
    try:
        dirs = {f: replicate(root, f) for f in factors}
        # warmup at the smallest factor so JIT cost lands outside the curve
        only = {n for n in os.environ.get("SPARK_GRAFT_PROBE", "").split(",") if n}
        for name, fn in probes(spark, dirs[factors[0]]).items():
            if not only or name in only:
                fn()
        for f in factors:
            for name, fn in probes(spark, dirs[f]).items():
                if only and name not in only:
                    continue
                if name in PREPARES:  # untimed train-once setup
                    PREPARES[name](spark, dirs[f])
                t0 = time.perf_counter()
                n = fn()
                results.setdefault(name, {})[f] = {
                    "sec": round(time.perf_counter() - t0, 3),
                    # result count makes the curve interpretable: a probe
                    # whose OUTPUT grows super-linearly explains its runtime
                    "rows": n if isinstance(n, int) else len(n),
                }
    finally:
        shutil.rmtree(root, ignore_errors=True)
        spark.stop()
    print(json.dumps({"base": BASE, "results": results}))


if __name__ == "__main__":
    main()
