"""Regression tests for the round-13 ADVICE items:

1. (medium) ``mount/dedup._update_index``: the shingle artifact is the
   idempotency MARKER — it must never name a delta whose band rows are
   missing.  A bands-write failure must leave the marker untouched so a
   retry re-runs the full append instead of mis-classifying the delta
   as a replay (which would silently lose its LSH band rows forever).
2. (low) the swap sites this item covered are gone: artifacts are
   written once into new directories and published by one manifest
   commit (tests/test_mount_snapshot.py pins the crash behaviour).
3. (low) ``mount/audit._brute_local`` 6-decimal HALF_UP rounding must
   match Spark's ``round()`` (BigDecimal over the shortest-decimal
   repr) exactly, including at representation boundaries where the old
   ``floor(|x|*1e6+0.5)`` emulation was 1 ulp off.
4. (low) ``serve_ivfpq_multi_topk``'s empty-candidate result must carry
   the MOUNTED id dtype (derived from the codes schema), identical to
   the non-empty path's schema, for non-bigint id mounts.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from simsearch_spark.mount.artifacts import snapshot
from simsearch_spark.mount.dedup import dedup_append, mount_dedup
from simsearch_spark.operators.dedup import minhash_lsh_pairs
from simsearch_spark.queries.pipeline import MINHASH_T, N_BANDS, N_HASHES
from simsearch_spark.sources.registry import load_table


def _pair_rows(df):
    return sorted(tuple(r) for r in df.select("id_a", "id_b", "jaccard").collect())


def _batch_restricted(docs, delta_ids):
    pairs = minhash_lsh_pairs(docs, "doc_id", "text", MINHASH_T, N_HASHES, N_BANDS)
    ids = list(delta_ids)
    return pairs.where(F.col("id_a").isin(ids) | F.col("id_b").isin(ids))


def test_bands_failure_does_not_mark_delta_mounted(spark, sf_dir, tmp_path, monkeypatch):
    """ADVICE r13 #1: inject a bands-append failure mid-``dedup_append``;
    the shingle marker must stay free of the delta's ids (so the retry
    is NOT a replay), the retry must produce the full batch-restricted
    pair set, and a later delta must still find near-dups against the
    retried one — the rows the r13 ordering could silently lose."""
    import pyspark.sql.readwriter as rw

    docs = load_table(spark, sf_dir, "documents")
    base = docs.where(F.col("doc_id") < 250)
    d1 = docs.where((F.col("doc_id") >= 250) & (F.col("doc_id") % 2 == 0))
    d2 = docs.where((F.col("doc_id") >= 250) & (F.col("doc_id") % 2 == 1))
    d1_ids = [r.doc_id for r in d1.select("doc_id").collect()]
    all_ids = [r.doc_id for r in docs.where(F.col("doc_id") >= 250).select("doc_id").collect()]

    d = str(tmp_path / "m_commit")
    mount_dedup(spark, d, base, threshold=MINHASH_T, n_hashes=N_HASHES, bands=N_BANDS)

    orig = rw.DataFrameWriter.parquet

    def boom(self, path, *a, **kw):
        if "/dedup_bands/" in str(path):
            raise RuntimeError("injected bands write failure")
        return orig(self, path, *a, **kw)

    monkeypatch.setattr(rw.DataFrameWriter, "parquet", boom)
    with pytest.raises(RuntimeError, match="injected bands write failure"):
        dedup_append(spark, d, d1)
    monkeypatch.setattr(rw.DataFrameWriter, "parquet", orig)

    # the marker artifact must NOT contain the failed delta's ids —
    # otherwise the retry below would be classified as a replay
    sh = snapshot(spark, d).read("dedup_shingles")
    assert sh.where(F.col("doc_id").isin(d1_ids)).count() == 0

    # retry is a FULL append: batch-restricted pairs, index rows present
    p1 = _pair_rows(dedup_append(spark, d, d1))
    want1 = _pair_rows(_batch_restricted(base.unionByName(d1), d1_ids))
    assert p1 == want1 and len(p1) > 0

    # the next delta sees d1's band rows (the rows r13 could lose)
    p2 = _pair_rows(dedup_append(spark, d, d2))
    assert sorted(p1 + p2) == _pair_rows(_batch_restricted(docs, all_ids))


def test_round6_half_up_matches_spark_round(spark):
    """ADVICE r13 #3: the driver-side rounding equals Spark's
    round(x, 6) on adversarial representation-boundary values (where the
    old floor-emulation was 1 ulp off) and on a seeded random sweep."""
    import numpy as np

    from simsearch_spark.operators.pq import _round6_half_up

    # values where floor(|x|*1e6+0.5) and shortest-decimal HALF_UP differ
    boundary = [0.1250045, 0.1250325, 0.1250605, -0.1250045, -0.1250885]
    rng = np.random.default_rng(7)
    vals = boundary + [float(v) for v in rng.uniform(-1, 1, 200)]

    got = [_round6_half_up(v) for v in vals]
    want = [
        r[0]
        for r in spark.createDataFrame([(v,) for v in vals], "x double")
        .select(F.round("x", 6))
        .collect()
    ]
    assert list(got) == want
    # and the old emulation genuinely disagreed on the boundary values —
    # the regression this test exists to hold
    old = np.copysign(
        np.floor(np.abs(np.array(boundary)) * 1e6 + 0.5), np.array(boundary)
    ) / 1e6
    assert any(o != w for o, w in zip(old, want[: len(boundary)]))


def test_multi_serve_empty_schema_matches_nonempty_for_int_ids(
    spark, sf_dir, tmp_path
):
    """ADVICE r13 #4: with an int-typed id mount, the empty-candidate
    path of serve_ivfpq_multi_topk must return the same (int-id) schema
    as the non-empty path — not a hardcoded bigint."""
    from simsearch_spark.mount import delete_ids, mount
    from simsearch_spark.mount.serve import serve_ivfpq_multi_topk

    d = str(tmp_path / "m_intid")
    emb = (
        load_table(spark, sf_dir, "embeddings")
        .where(F.col("vec_id") < 120)
        .withColumn("vec_id", F.col("vec_id").cast("int"))
    )
    mount(spark, sf_dir, d, emb_frame=emb)
    qrows = emb.where(F.col("vec_id") < 2).collect()
    qs = [(int(r.vec_id), [float(x) for x in r.embedding]) for r in qrows]

    nonempty = serve_ivfpq_multi_topk(spark, d, emb, qs, 3, n_probe=1, rerank=8)
    schema_nonempty = [(f.name, f.dataType.simpleString()) for f in nonempty.schema]
    assert nonempty.count() > 0
    assert ("vec_id", "int") in schema_nonempty

    delete_ids(spark, d, [int(r.vec_id) for r in emb.select("vec_id").collect()])
    empty = serve_ivfpq_multi_topk(spark, d, emb, qs, 3, n_probe=1, rerank=8)
    assert [(f.name, f.dataType.simpleString()) for f in empty.schema] == schema_nonempty
    assert empty.count() == 0
