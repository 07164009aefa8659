"""Regression tests for the r12 self-review findings: tombstone
resurrect rejection, stream-pairs replay, an uncapped mount,
delta id-dtype normalization, refresh crash recovery and
shrink guard."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from simsearch_spark.mount import (
    append_rows,
    delete_ids,
    load_manifest,
    mount,
    mount_dedup,
    dedup_append,
    refresh,
)
from simsearch_spark.mount.maintain import compact_codes
from simsearch_spark.queries.pipeline import MINHASH_T, N_BANDS, N_HASHES
from simsearch_spark.sources.registry import load_table


@pytest.fixture()
def docs_stub(spark):
    return spark.createDataFrame(
        [(i, f"stub doc {i} some words") for i in range(10)],
        "doc_id long, text string",
    )


def test_tombstoned_id_not_reusable_until_compaction(spark, sf_dir, docs_stub, tmp_path):
    """Insert → delete → append(same id) must FAIL LOUDLY (the code row
    still occupies the id); after compact_codes the id is reusable."""
    d = str(tmp_path / "m")
    emb = load_table(spark, sf_dir, "embeddings").where(F.col("vec_id") < 150)
    mount(spark, "", d, emb_frame=emb, docs_frame=docs_stub, dedup=False)
    delete_ids(spark, d, [7])
    resurrect = emb.where(F.col("vec_id") == 7).select("vec_id", "embedding")
    with pytest.raises(ValueError, match="tombstoned"):
        append_rows(spark, d, emb_delta=resurrect)
    assert compact_codes(spark, d) == 1
    n0 = load_manifest(d)["counts"]["n_vectors"]
    append_rows(spark, d, emb_delta=resurrect)  # reusable post-compaction
    assert load_manifest(d)["counts"]["n_vectors"] == n0 + 1


def test_stream_replay_keeps_full_pair_set(spark, sf_dir, tmp_path, monkeypatch):
    """A batch that crashes between its pair write and its index commit,
    or just after the commit, is replayed from the checkpoint; either
    way the batch directory ends holding the batch's full pair set, and
    the index holds the batch once."""
    import simsearch_spark.mount.dedup as dedupmod
    from simsearch_spark.mount.dedup import stream_dedup_append

    docs = load_table(spark, sf_dir, "documents")
    base = docs.where(F.col("doc_id") < 300)
    delta = docs.where(F.col("doc_id") >= 300).select("doc_id", "text")
    fam = dict(threshold=MINHASH_T, n_hashes=N_HASHES, bands=N_BANDS)
    ref = str(tmp_path / "ref")
    mount_dedup(spark, ref, base, **fam)
    want = sorted(tuple(r) for r in dedup_append(spark, ref, delta).collect())
    assert want

    src = str(tmp_path / "src")
    delta.write.parquet(src + "/b0")
    stream = spark.readStream.schema("doc_id long, text string").parquet(src + "/*")
    real_update = dedupmod._update_index
    for crash in ("before_commit", "after_commit"):
        d = str(tmp_path / crash / "m")
        mount_dedup(spark, d, base, **fam)
        pairs_dir = str(tmp_path / crash / "pairs")
        ckpt = str(tmp_path / crash / "ckpt")

        def crashing_update(*a, crash=crash, **kw):
            if crash == "after_commit":
                real_update(*a, **kw)
            raise OSError(f"crash {crash}")

        monkeypatch.setattr(dedupmod, "_update_index", crashing_update)
        with pytest.raises(Exception, match=f"crash {crash}"):
            stream_dedup_append(
                spark, d, stream, pairs_dir, checkpoint_dir=ckpt
            ).awaitTermination(180)
        monkeypatch.undo()
        batch_dir = os.path.join(pairs_dir, "batch_id=0")
        assert os.path.exists(os.path.join(batch_dir, "_SUCCESS")), crash

        stream_dedup_append(
            spark, d, stream, pairs_dir, checkpoint_dir=ckpt
        ).awaitTermination(180)
        got = sorted(tuple(r) for r in spark.read.parquet(batch_dir).collect())
        assert got == want, crash
        assert load_manifest(d)["dedup"]["n_docs"] == docs.count(), crash

    # and a vector-only mount fails synchronously, not per-batch
    d2 = str(tmp_path / "m2")
    emb = load_table(spark, sf_dir, "embeddings").where(F.col("vec_id") < 100)
    docs_stub = spark.createDataFrame([(1, "x y z")], "doc_id long, text string")
    mount(spark, "", d2, emb_frame=emb, docs_frame=docs_stub, dedup=False)
    with pytest.raises(ValueError, match="no dedup artifacts"):
        stream_dedup_append(spark, d2, stream, pairs_dir)


def test_uncapped_mount_is_plain_join(spark, sf_dir, tmp_path):
    """A mount with bucket_cap=None appends exactly the uncapped batch
    join's delta-touching pairs (no bucket is hot)."""
    from simsearch_spark.operators.dedup import minhash_lsh_pairs

    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 350)
    plain = sorted(
        tuple(r)
        for r in minhash_lsh_pairs(
            docs, "doc_id", "text", MINHASH_T, N_HASHES, N_BANDS, bucket_cap=None
        ).collect()
    )

    d = str(tmp_path / "m_nocap")
    base = docs.where(F.col("doc_id") < 250)
    mount_dedup(
        spark, d, base, threshold=MINHASH_T, n_hashes=N_HASHES, bands=N_BANDS,
        bucket_cap=None,
    )
    got = dedup_append(spark, d, docs.where(F.col("doc_id") >= 250))
    ids = [r.doc_id for r in docs.where(F.col("doc_id") >= 250).select("doc_id").collect()]
    want = [
        tuple(r)
        for r in spark.createDataFrame(plain, "id_a long, id_b long, jaccard double")
        .where(F.col("id_a").isin(ids) | F.col("id_b").isin(ids))
        .collect()
    ]
    assert sorted(tuple(r) for r in got.collect()) == sorted(want)


def test_delta_id_dtype_normalized_to_mounted(spark, sf_dir, tmp_path):
    """xxhash64 is type-sensitive: an INT-typed delta against a
    LONG-typed mount must still prune the right sbkt partitions — same
    pairs as the long-typed delta, and idempotency intact."""
    docs = load_table(spark, sf_dir, "documents")
    base = docs.where(F.col("doc_id") < 300)
    delta = docs.where(F.col("doc_id") >= 300)
    delta_int = delta.withColumn("doc_id", F.col("doc_id").cast("int"))

    d = str(tmp_path / "m_long")
    mount_dedup(spark, d, base, threshold=MINHASH_T, n_hashes=N_HASHES, bands=N_BANDS)
    assert load_manifest(d)["dedup"]["id_dtype"] == "bigint"
    got_int = sorted(tuple(r) for r in dedup_append(spark, d, delta_int).collect())

    d2 = str(tmp_path / "m_long2")
    mount_dedup(spark, d2, base, threshold=MINHASH_T, n_hashes=N_HASHES, bands=N_BANDS)
    got_long = sorted(tuple(r) for r in dedup_append(spark, d2, delta).collect())
    assert got_int == got_long and len(got_int) > 0

    # idempotency survives the dtype mismatch too
    again = dedup_append(spark, d, delta_int)
    assert again.count() == 0


def test_refresh_crash_recovery_and_shrink_guard(
    spark, sf_dir, docs_stub, tmp_path, monkeypatch
):
    """A refresh that crashed before its commit leaves the live
    generation in place; the next refresh proceeds and collects the
    crashed one's directories.  A retrain frame covering fewer vectors
    than mounted is rejected (appended rows would silently vanish)
    unless allow_shrink=True."""
    from simsearch_spark.mount import artifacts

    emb = load_table(spark, sf_dir, "embeddings").where(F.col("vec_id") < 150)
    d = str(tmp_path / "m")
    mount(spark, "", d, emb_frame=emb, docs_frame=docs_stub, dedup=False)
    n0 = load_manifest(d)["counts"]["n_vectors"]
    live0 = set(os.listdir(os.path.join(d, "pq_codes")))

    def crash(*_a, **_kw):
        raise OSError("crash before the commit")

    monkeypatch.setattr(artifacts, "save_manifest", crash)
    with pytest.raises(OSError, match="before the commit"):
        refresh(spark, d, sf_dir="", emb_frame=emb, docs_frame=docs_stub)
    monkeypatch.undo()
    assert "generation" not in load_manifest(d)
    debris = set(os.listdir(os.path.join(d, "pq_codes"))) - live0
    assert len(debris) == 1
    man = refresh(spark, d, sf_dir="", emb_frame=emb, docs_frame=docs_stub)
    assert man["generation"] == 1
    assert load_manifest(d)["counts"]["n_vectors"] == n0
    assert not debris & set(os.listdir(os.path.join(d, "pq_codes")))

    # shrink guard
    smaller = emb.where(F.col("vec_id") < 100)
    with pytest.raises(ValueError, match="silently vanish"):
        refresh(spark, d, sf_dir="", emb_frame=smaller, docs_frame=docs_stub)
    assert load_manifest(d)["generation"] == 1  # old generation untouched
    man = refresh(
        spark, d, sf_dir="", emb_frame=smaller, docs_frame=docs_stub,
        allow_shrink=True,
    )
    assert man["generation"] == 2
    assert load_manifest(d)["counts"]["n_vectors"] == smaller.count()
