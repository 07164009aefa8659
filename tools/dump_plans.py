"""Dump explain("formatted") plans for a set of registry queries into
plans/r14/<query>_<suffix>.txt (guide §7.2 evidence for the optimization
round).

Usage:
    python tools/dump_plans.py --suffix=after q1 q2 ...
    python tools/dump_plans.py --suffix=after --all-touched

Queries whose declared callable returns an eager localCheckpoint (the
IVF-PQ family) would explain as a bare RDD scan; for those the SERVING
plan (the pre-checkpoint computation) is rebuilt through the same
operators and dumped instead — the honest plan the checkpoint hides.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from simsearch_spark.queries import REGISTRY
from simsearch_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

#: queries I touched this round — the default capture set
TOUCHED = [
    "ann_ivfpq_topk", "ann_ivfpq_multi_topk", "ann_recall_audit",
    "embed_pq", "ann_pq_topk", "embed_kmeans", "semdedup", "embed_quantize",
    "embed_outliers", "ann_multi_query_topk",
    "dedup_minhash_lsh", "dedup_clusters", "dedup_simhash",
    "dedup_ngram_jaccard", "dedup_embed_cosine", "dedup_append_mounted",
    "media_meta", "media_pixel_stats", "media_audio_stats",
    "media_frame_sample", "media_jpeg_stats", "media_frame_pixel_stats",
    "media_image_dedup", "media_shot_boundaries", "media_audio_spectral",
    "corpus_clean", "lang_id_trigram", "text_lang_id", "text_quality",
    "text_repetition", "corpus_quality_filter", "lm_perplexity", "doc_contamination",
    "corpus_curation_pipeline", "ngram_vocab", "tfidf_keywords",
    "bm25_topk", "hybrid_rrf_topk", "source_quality_threshold",
    "bpe_merges", "bpe_token_stats", "bpe_encode_mounted",
    "doc_winnow", "winnow_overlap", "passage_removal",
    "domain_curation", "split_leakage_safe",
]

#: eager-checkpoint queries: explain the serving computation instead
CHECKPOINTED = {"ann_ivfpq_topk", "ann_ivfpq_multi_topk", "ann_recall_audit",
                "bpe_encode_mounted"}


def _fmt(df) -> str:
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


def _ivfpq_serving_frame(spark, multi: bool):
    from pyspark.sql import functions as F

    from simsearch_spark.operators.pq import ivf_pq_multi_topk, ivf_pq_topk
    from simsearch_spark.queries.core import K
    from simsearch_spark.queries.ivf import IVF_QUERY_ID, MULTI_QUERY_IDS, N_PROBE
    from simsearch_spark.queries.ivfpq import (
        RERANK,
        _centroid_map6,
        _sample_rows,
        _train_books_residual_rows,
    )
    from simsearch_spark.sources.registry import load_table

    emb = load_table(spark, SF_DIR, "embeddings").persist()
    cmap = _centroid_map6(emb)
    books = _train_books_residual_rows(_sample_rows(emb), cmap)
    if multi:
        qrows = (
            emb.where(F.col("vec_id").isin(*MULTI_QUERY_IDS))
            .select("vec_id", "embedding").collect()
        )
        qs = sorted((int(r.vec_id), [float(x) for x in r.embedding]) for r in qrows)
        return ivf_pq_multi_topk(
            emb, "vec_id", "embedding", cmap, books, qs, K,
            n_probe=N_PROBE, rerank=RERANK, assign_col="label",
        )
    qvec = [float(x) for x in emb.where(F.col("vec_id") == IVF_QUERY_ID).first().embedding]
    return ivf_pq_topk(
        emb, "vec_id", "embedding", cmap, books, qvec, K,
        n_probe=N_PROBE, rerank=RERANK, assign_col="label",
    )


def main() -> None:
    names = [a for a in sys.argv[1:] if not a.startswith("--")]
    suffix = "after"
    for a in sys.argv[1:]:
        if a.startswith("--suffix="):
            suffix = a.split("=", 1)[1]
    if "--all-touched" in sys.argv or not names:
        names = TOUCHED
    spark = get_spark(app_name="simsearch-plans")
    spark.sparkContext.setLogLevel("ERROR")
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", "r14"
    )
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        if name not in REGISTRY:
            print(f"skip unknown {name}", file=sys.stderr)
            continue
        try:
            if name == "ann_ivfpq_topk":
                df = _ivfpq_serving_frame(spark, multi=False)
                note = "# serving plan (pre-checkpoint): ivf_pq_topk composition\n"
            elif name == "ann_ivfpq_multi_topk":
                df = _ivfpq_serving_frame(spark, multi=True)
                note = "# serving plan (pre-checkpoint): ivf_pq_multi_topk composition\n"
            else:
                df = REGISTRY[name][0](spark, SF_DIR)
                note = ""
                if name in CHECKPOINTED:
                    note = ("# NOTE: declared callable returns an eager "
                            "localCheckpoint; this is the checkpointed frame's "
                            "plan — see the operator plans in OPTIMIZATION_r14.md\n")
            with open(os.path.join(out_dir, f"{name}_{suffix}.txt"), "w") as f:
                f.write(note + _fmt(df))
            print(f"wrote {name}_{suffix}.txt")
        except Exception as e:  # noqa: BLE001 - capture what we can, report rest
            print(f"FAILED {name}: {e}", file=sys.stderr)
        spark.catalog.clearCache()
    spark.stop()


if __name__ == "__main__":
    main()
