"""Regression tests for the round-11 ADVICE items:

1. tiled JPEG-in-TIFF no longer falls into the raw-tile path (covered in
   tests/test_tiff.py::test_jpeg_in_tiff_tiled — the decode is now real);
2. interlaced sub-byte PNG decodes instead of dying in the Adam7 length
   check (covered in tests/test_png.py::test_sub_byte_interlaced_png);
3. serve_ivfpq_multi_topk returns an EMPTY frame (contract schema) when
   every probed partition is empty/tombstoned, instead of IndexError;
4. append/stream-append are idempotent under duplicate vec_ids and
   replayed micro-batches — no duplicate code rows, no double-counted
   manifest.
"""

from __future__ import annotations

import shutil

from pyspark.sql import functions as F

from simsearch_spark.mount import (
    append_rows,
    delete_ids,
    load_manifest,
    mount,
)
from simsearch_spark.mount.artifacts import snapshot
from simsearch_spark.sources.registry import load_table


def test_serve_multi_empty_candidates_returns_empty_frame(spark, sf_dir, tmp_path):
    """ADVICE r11 #3: tombstoning every vector must make batch serving
    return ZERO rows with the (query_id, id, adc_dist, cos_sim, rank)
    schema — the single-query serve contract — not crash on arms[0]."""
    from simsearch_spark.mount.serve import serve_ivfpq_multi_topk
    from simsearch_spark.queries.ivf import MULTI_QUERY_IDS, N_PROBE

    d = str(tmp_path / "m_empty")
    emb = load_table(spark, sf_dir, "embeddings").where(F.col("vec_id") < 120)
    mount(spark, sf_dir, d, emb_frame=emb)
    delete_ids(spark, d, [r.vec_id for r in emb.select("vec_id").collect()])

    qrows = (
        load_table(spark, sf_dir, "embeddings")
        .where(F.col("vec_id").isin(*MULTI_QUERY_IDS))
        .collect()
    )
    qs = [(int(r.vec_id), [float(x) for x in r.embedding]) for r in qrows]
    out = serve_ivfpq_multi_topk(spark, d, emb, qs, 5, n_probe=N_PROBE, rerank=8)
    assert out.columns == ["query_id", "vec_id", "adc_dist", "cos_sim", "rank"]
    assert out.count() == 0


def test_append_rows_duplicate_ids_are_noops(spark, sf_dir, tmp_path):
    """ADVICE r11 #4a: re-submitting an already-appended delta (or a delta
    overlapping the base) adds NO code rows and does not double-count the
    manifest — re-submission is exactly a no-op."""
    d = str(tmp_path / "m_dupe")
    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.where(F.col("vec_id") < 200)
    delta = emb.where((F.col("vec_id") >= 150) & (F.col("vec_id") < 260))
    mount(spark, sf_dir, d, emb_frame=base)
    n_base = load_manifest(d)["counts"]["n_vectors"]

    append_rows(spark, d, emb_delta=delta)  # 150..199 overlap the base
    codes = snapshot(spark, d).read("pq_codes")
    assert codes.count() == 260  # 0..259, overlap not duplicated
    assert codes.groupBy("vec_id").count().where("count > 1").count() == 0
    assert load_manifest(d)["counts"]["n_vectors"] == n_base + 60

    append_rows(spark, d, emb_delta=delta)  # full re-submission: no-op
    codes = snapshot(spark, d).read("pq_codes")
    assert codes.count() == 260
    assert load_manifest(d)["counts"]["n_vectors"] == n_base + 60


def test_stream_append_replay_is_idempotent(spark, sf_dir, tmp_path):
    """ADVICE r11 #4b: replaying the ENTIRE stream (checkpoint wiped, same
    source — every micro-batch redelivered with restarted batch ids) must
    append nothing: the id anti-join dedupes each replayed batch to an
    empty delta, so code rows AND the manifest count are unchanged."""
    from simsearch_spark.mount.maintain import stream_append_codes

    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.where(F.col("vec_id") < 200)
    delta = emb.where(F.col("vec_id") >= 200)
    d = str(tmp_path / "m_replay")
    mount(spark, sf_dir, d, emb_frame=base)

    src = str(tmp_path / "delta_src")
    for bi in range(2):
        delta.where(F.pmod(F.col("vec_id"), F.lit(2)) == bi).write.parquet(
            f"{src}/b{bi}"
        )

    def run_stream():
        stream = spark.readStream.schema(
            "vec_id long, label int, embedding array<double>"
        ).parquet(src + "/*")
        q = stream_append_codes(
            spark, d, stream.select("vec_id", "label", "embedding"),
            checkpoint_dir=str(tmp_path / "ckpt"),
        )
        q.awaitTermination(180)

    run_stream()
    n1 = load_manifest(d)["counts"]["n_vectors"]
    rows1 = snapshot(spark, d).read("pq_codes").count()
    assert n1 == emb.count() and rows1 == n1

    # wipe the checkpoint: the next run replays every batch from scratch
    shutil.rmtree(str(tmp_path / "ckpt"))
    run_stream()
    assert load_manifest(d)["counts"]["n_vectors"] == n1
    codes = snapshot(spark, d).read("pq_codes")
    assert codes.count() == rows1
    assert codes.groupBy("vec_id").count().where("count > 1").count() == 0
