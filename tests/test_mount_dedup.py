"""Incremental dedup against a mounted corpus (VERDICT r11 task 1).

The contract under test: ``mount_dedup(base)`` + ``dedup_append(delta)``
emits EXACTLY the pairs ``minhash_lsh_pairs(base ∪ delta)`` (the batch
operator, which holds the driver's SQL-oracle verdict through the
dedup_minhash_lsh surface query) would emit restricted to pairs touching
a delta id — same ids, same verified jaccard values — at cost ∝ |delta|,
split-invariant across delta batches, with the hot-bucket cap/salt policy
holding ACROSS the mounted boundary, and idempotent under re-submission.
"""

from __future__ import annotations

import os
import random

import pytest
from pyspark.sql import functions as F

from simsearch_spark.mount.artifacts import snapshot
from simsearch_spark.mount.dedup import dedup_append, mount_dedup
from simsearch_spark.operators.dedup import minhash_lsh_pairs
from simsearch_spark.queries.pipeline import MINHASH_T, N_BANDS, N_HASHES
from simsearch_spark.sources.registry import load_table


def _rows(df):
    return sorted(tuple(r) for r in df.select("id_a", "id_b", "jaccard").collect())


def _batch_restricted(docs, delta_ids, **kw):
    """The batch operator on the union corpus, restricted to pairs with at
    least one delta member — the definitional right answer."""
    pairs = minhash_lsh_pairs(docs, "doc_id", "text", MINHASH_T, N_HASHES, N_BANDS, **kw)
    ids = list(delta_ids)
    return pairs.where(F.col("id_a").isin(ids) | F.col("id_b").isin(ids))


def test_dedup_append_equals_batch_union_restricted(spark, sf_dir, tmp_path):
    """The headline parity pin on the real fixture corpus."""
    docs = load_table(spark, sf_dir, "documents")
    cut = 300
    base = docs.where(F.col("doc_id") < cut)
    delta = docs.where(F.col("doc_id") >= cut)
    delta_ids = [r.doc_id for r in delta.select("doc_id").collect()]

    d = str(tmp_path / "m_dedup")
    mount_dedup(spark, d, base, threshold=MINHASH_T, n_hashes=N_HASHES, bands=N_BANDS)
    got = dedup_append(spark, d, delta)
    want = _batch_restricted(docs, delta_ids)
    assert _rows(got) == _rows(want)
    assert len(_rows(got)) > 0  # the fixture corpus plants near-dups


def test_dedup_append_split_invariant(spark, sf_dir, tmp_path):
    """append(d1); append(d2) accumulates the SAME pair set as one
    append(d1 ∪ d2) and as the batch union restricted — the mounted index
    grows between batches, so d2 is compared against base ∪ d1."""
    docs = load_table(spark, sf_dir, "documents")
    base = docs.where(F.col("doc_id") < 250)
    d1 = docs.where((F.col("doc_id") >= 250) & (F.col("doc_id") % 2 == 0))
    d2 = docs.where((F.col("doc_id") >= 250) & (F.col("doc_id") % 2 == 1))
    delta_ids = [r.doc_id for r in docs.where(F.col("doc_id") >= 250).select("doc_id").collect()]

    m_split = str(tmp_path / "m_split")
    mount_dedup(spark, m_split, base, threshold=MINHASH_T, n_hashes=N_HASHES, bands=N_BANDS)
    p1 = _rows(dedup_append(spark, m_split, d1))
    p2 = _rows(dedup_append(spark, m_split, d2))
    assert not set(p1) & set(p2)  # batches never re-emit earlier pairs

    m_one = str(tmp_path / "m_one")
    mount_dedup(spark, m_one, base, threshold=MINHASH_T, n_hashes=N_HASHES, bands=N_BANDS)
    p_one = _rows(dedup_append(spark, m_one, d1.unionByName(d2)))

    want = _rows(_batch_restricted(docs, delta_ids))
    assert sorted(p1 + p2) == p_one == want


def test_dedup_append_idempotent(spark, sf_dir, tmp_path):
    """Re-submitting a delta returns NO pairs and appends nothing — the
    maintain.append_rows replay discipline."""
    from simsearch_spark.mount.artifacts import load_manifest

    docs = load_table(spark, sf_dir, "documents")
    base = docs.where(F.col("doc_id") < 300)
    delta = docs.where(F.col("doc_id") >= 300)

    d = str(tmp_path / "m_idem")
    mount_dedup(spark, d, base, threshold=MINHASH_T, n_hashes=N_HASHES, bands=N_BANDS)
    first = _rows(dedup_append(spark, d, delta))
    n1 = load_manifest(d)["dedup"]["n_docs"]
    bands_rows = snapshot(spark, d).read("dedup_bands").count()

    again = dedup_append(spark, d, delta)
    assert again.count() == 0
    assert load_manifest(d)["dedup"]["n_docs"] == n1
    assert snapshot(spark, d).read("dedup_bands").count() == bands_rows
    assert len(first) > 0


def test_hot_bucket_policy_across_mounted_boundary(spark, tmp_path, monkeypatch):
    """A boilerplate cluster SPANNING base and delta: bucket size is the
    base+delta membership, and the cap (lowest-id keep) matches the batch
    operator on the union exactly.

    With cap=6 and a 10-member cluster (6 base + 4 delta), cap keeps each
    over-cap bucket's six lowest ids — recall drops wherever a bucket
    overflowed (members can still pair through their under-cap bands,
    the documented drop-with-count semantics).  The incremental result
    must equal the batch-on-union operator under the same cap.  Distinct
    tail words keep the planted cluster's jaccard above threshold while
    unrelated filler stays below."""
    boiler = "the quick brown fox jumps over the lazy dog again and again "
    rows = []
    for i in range(10):  # planted cluster: ids 0..5 base, 6..9 delta
        rows.append((i, boiler + f"tail{i}"))
    for i in range(10, 40):  # unrelated filler, half base half delta
        rows.append((i, f"unrelated document number {i} " * 4 + f"word{i} " * 6))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    base = docs.where((F.col("doc_id") < 6) | ((F.col("doc_id") >= 10) & (F.col("doc_id") % 2 == 0)))
    delta = docs.join(base, "doc_id", "left_anti")
    delta_ids = [r.doc_id for r in delta.select("doc_id").collect()]

    cap = 6
    d = str(tmp_path / "m_hot")
    mount_dedup(
        spark, d, base, threshold=MINHASH_T, n_hashes=N_HASHES, bands=N_BANDS,
        bucket_cap=cap,
    )
    # the delta is small, but its over-cap buckets route it from the
    # driver path to the capped distributed path
    import simsearch_spark.mount.dedup as md

    large_calls = []
    orig = md._append_large
    monkeypatch.setattr(md, "_append_large", lambda *a: large_calls.append(1) or orig(*a))
    got = _rows(dedup_append(spark, d, delta))
    assert large_calls == [1]
    want = _rows(_batch_restricted(docs, delta_ids, bucket_cap=cap))
    assert got == want
    cluster_pairs = [
        (a, b) for a, b, _j in got if a < 10 and b < 10
    ]
    # recall inside over-cap buckets is reduced, never increased: fewer
    # than all 6·4 + C(4,2) delta-touching cluster pairs
    assert 0 < len(cluster_pairs) < 6 * 4 + 6


def test_mount_builds_dedup_artifacts_by_default(spark, sf_dir, tmp_path):
    """mount() ships the dedup index alongside the vector/text artifacts,
    under the declared queries' frozen hash family."""
    from simsearch_spark.mount import mount
    from simsearch_spark.mount.artifacts import load_manifest

    d = str(tmp_path / "m_full")
    emb = load_table(spark, sf_dir, "embeddings").where(F.col("vec_id") < 150)
    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 150)
    mount(spark, sf_dir, d, emb_frame=emb, docs_frame=docs)
    m = load_manifest(d)
    assert m["dedup"]["n_hashes"] == N_HASHES and m["dedup"]["bands"] == N_BANDS
    assert "dedup_bands" in m["artifacts"] and "dedup_shingles" in m["artifacts"]
    got = dedup_append(
        spark, d, load_table(spark, sf_dir, "documents").where(F.col("doc_id") >= 150)
    )
    assert got.columns == ["id_a", "id_b", "jaccard"]


def test_dedup_append_base_scan_is_directory_pruned(spark, sf_dir, tmp_path):
    """The physical 100 TB claim: the base band table is read through
    PartitionFilters on (bkt) — hash-range DIRECTORY pruning, the
    pq_codes pattern — and the probe join against the delta's key set is
    a broadcast, so the base side never shuffles."""
    from simsearch_spark.mount.dedup import N_BKT

    docs = load_table(spark, sf_dir, "documents")
    base = docs.where(F.col("doc_id") < 400)
    d = str(tmp_path / "m_plan")
    mount_dedup(spark, d, base, threshold=MINHASH_T, n_hashes=N_HASHES, bands=N_BANDS)

    spark.catalog.clearCache()
    plan = (
        snapshot(spark, d).read("dedup_bands")
        .where(F.col("bkt").isin([0, 1, 2]))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters" in plan
    head = plan[plan.index("PartitionFilters"):][:200]
    assert "bkt" in head, head
    assert N_BKT >= 16  # enough fan-out for the pruning to mean something


def test_stream_dedup_append_equals_batch(spark, sf_dir, tmp_path):
    """The streaming dual: a 3-way micro-batch split streamed into the
    mounted index yields the SAME union of pairs as one batch
    dedup_append of the whole delta (later batches dedup against earlier
    ones because the index grows between batches), and a full replay
    (checkpoint wiped) adds nothing — index rows and committed pairs
    unchanged."""
    import shutil

    from simsearch_spark.mount.artifacts import load_manifest
    from simsearch_spark.mount.dedup import stream_dedup_append

    docs = load_table(spark, sf_dir, "documents")
    base = docs.where(F.col("doc_id") < 250)
    delta = docs.where(F.col("doc_id") >= 250)

    m_one = str(tmp_path / "m_one")
    mount_dedup(spark, m_one, base, threshold=MINHASH_T, n_hashes=N_HASHES, bands=N_BANDS)
    want = _rows(dedup_append(spark, m_one, delta))

    m_s = str(tmp_path / "m_stream")
    mount_dedup(spark, m_s, base, threshold=MINHASH_T, n_hashes=N_HASHES, bands=N_BANDS)
    src = str(tmp_path / "delta_src")
    for bi in range(3):
        delta.where(F.pmod(F.col("doc_id"), F.lit(3)) == bi).select(
            "doc_id", "text"
        ).write.parquet(f"{src}/b{bi}")
    pairs_dir = str(tmp_path / "pairs")

    def run():
        stream = spark.readStream.schema("doc_id long, text string").parquet(src + "/*")
        q = stream_dedup_append(
            spark, m_s, stream, pairs_dir, checkpoint_dir=str(tmp_path / "ckpt")
        )
        q.awaitTermination(180)

    run()
    got = sorted(
        tuple(r)
        for r in spark.read.parquet(pairs_dir)
        .select("id_a", "id_b", "jaccard")
        .collect()
    )
    assert got == want and len(want) > 0
    n1 = load_manifest(m_s)["dedup"]["n_docs"]
    assert n1 == load_manifest(m_one)["dedup"]["n_docs"]
    bands_rows = snapshot(spark, m_s).read("dedup_bands").count()

    # full replay: wipe the checkpoint, stream the same source again
    shutil.rmtree(str(tmp_path / "ckpt"))
    run()
    got2 = sorted(
        tuple(r)
        for r in spark.read.parquet(pairs_dir)
        .select("id_a", "id_b", "jaccard")
        .collect()
    )
    assert got2 == want
    assert load_manifest(m_s)["dedup"]["n_docs"] == n1
    assert snapshot(spark, m_s).read("dedup_bands").count() == bands_rows


def test_dedup_embed_append_same_cell_parity(spark, sf_dir, tmp_path):
    """The embedding front (r12): delta vectors assign to the FROZEN
    cells and pair against same-cell mounted members by exact cosine —
    equal to computing same-cell delta-touching cosine pairs directly
    over the union (the SemDeDup within-cluster scope), idempotent after
    update=True, and tombstoned base members never pair."""
    from pyspark.sql.window import Window

    from simsearch_spark.functions.measures import cosine_similarity
    from simsearch_spark.mount import delete_ids, mount
    from simsearch_spark.mount.artifacts import load_centroid_map
    from simsearch_spark.mount.dedup import dedup_embed_append
    from simsearch_spark.mount.maintain import _assign_cells

    emb = load_table(spark, sf_dir, "embeddings")
    cut = 300
    base = emb.where(F.col("vec_id") < cut)
    delta = emb.where(F.col("vec_id") >= cut).select("vec_id", "embedding")
    docs = spark.createDataFrame(
        [(i, f"doc {i} words here") for i in range(10)], "doc_id long, text string"
    )
    d = str(tmp_path / "m_emb")
    mount(spark, "", d, emb_frame=base, docs_frame=docs, dedup=False)

    T = 0.45
    got = sorted(
        tuple(r)
        for r in dedup_embed_append(spark, d, delta, emb, threshold=T).collect()
    )

    # direct comparator: base rows keep their MOUNTED cell (the codes
    # table was encoded with assign_col="label"); delta rows assign by
    # the frozen-centroid argmin — exactly the operator's contract; pair
    # same-cell, keep delta-touching, exact rounded cosine >= T
    cmap = load_centroid_map(spark, d)
    assigned = base.select(
        "vec_id", "embedding", F.col("label").cast("int").alias("cell")
    ).unionByName(
        _assign_cells(delta, "vec_id", "embedding", cmap).select(
            "vec_id", "embedding", F.col("__cell").alias("cell")
        )
    )
    a = assigned.select(
        F.col("vec_id").alias("ia"), F.col("embedding").alias("va"), "cell"
    )
    b = assigned.select(
        F.col("vec_id").alias("ib"), F.col("embedding").alias("vb"), "cell"
    )
    want = sorted(
        tuple(r)
        for r in a.join(b, "cell")
        .where(F.col("ia") < F.col("ib"))
        .where((F.col("ia") >= cut) | (F.col("ib") >= cut))
        .withColumn("cos_sim", F.round(cosine_similarity("va", "vb"), 6))
        .where(F.col("cos_sim") >= T)
        .select(F.col("ia").alias("id_a"), F.col("ib").alias("id_b"), "cos_sim")
        .collect()
    )
    assert got == want and len(got) > 0

    # tombstoned base members drop out of the candidate universe
    victim = min(p[0] for p in got if p[0] < cut)
    delete_ids(spark, d, [victim])
    got_t = sorted(
        tuple(r)
        for r in dedup_embed_append(spark, d, delta, emb, threshold=T).collect()
    )
    assert got_t == [p for p in got if p[0] != victim and p[1] != victim]

    # update=True appends the delta's codes once; a re-submission is empty
    n0 = snapshot(spark, d).read("pq_codes").count()
    pairs = dedup_embed_append(spark, d, delta, emb, threshold=T, update=True)
    assert pairs.count() == len(got_t)
    n1 = snapshot(spark, d).read("pq_codes").count()
    assert n1 == n0 + delta.count()
    again = dedup_embed_append(spark, d, delta, emb, threshold=T, update=True)
    assert again.count() == 0
    assert snapshot(spark, d).read("pq_codes").count() == n1


def test_fanouts_frozen_in_manifest(spark, sf_dir, tmp_path, monkeypatch):
    """Self-review r12: N_BKT/N_SBKT are layout constants the index was
    WRITTEN with — dedup_append must read the manifest's frozen values,
    so raising the module constants later never silently breaks
    directory pruning on an existing mount."""
    import simsearch_spark.mount.dedup as md

    docs = load_table(spark, sf_dir, "documents")
    cut = 300
    base = docs.where(F.col("doc_id") < cut)
    delta = docs.where(F.col("doc_id") >= cut)
    delta_ids = [r.doc_id for r in delta.select("doc_id").collect()]

    d = str(tmp_path / "m_frozen")
    # explicit fan-outs (the module constants) so the frozen-vs-constant
    # distinction below stays meaningful under r15 auto-derivation
    man = mount_dedup(
        spark, d, base, threshold=MINHASH_T, n_hashes=N_HASHES, bands=N_BANDS,
        n_bkt=md.N_BKT, n_sbkt=md.N_SBKT,
    )
    assert man["dedup"]["n_bkt"] == md.N_BKT
    assert man["dedup"]["n_sbkt"] == md.N_SBKT
    # a "deployment" raises the constants AFTER the mount was written
    monkeypatch.setattr(md, "N_BKT", 64)
    monkeypatch.setattr(md, "N_SBKT", 512)
    got = dedup_append(spark, d, delta)
    want = _batch_restricted(docs, delta_ids)
    assert _rows(got) == _rows(want)
    # and the replay is still a no-op (sbkt probe found the mounted ids)
    assert dedup_append(spark, d, delta).count() == 0


def test_maintenance_stats_on_dedup_only_mount(spark, sf_dir, tmp_path):
    """Self-review r12: a dedup-only mount has counts={} — maintenance
    accessors report zero vectors instead of a bare KeyError."""
    from simsearch_spark.mount.maintain import maintenance_stats, should_compact

    docs = load_table(spark, sf_dir, "documents").limit(50)
    d = str(tmp_path / "m_only")
    mount_dedup(spark, d, docs)
    stats = maintenance_stats(spark, d)
    assert stats["n_vectors"] == 0
    assert should_compact(spark, d) in (False, True)  # no crash


def test_failed_remount_leaves_live_index_untouched(
    spark, sf_dir, tmp_path, monkeypatch, live_files
):
    """``mount_dedup`` on an existing mount commits a new generation: a
    failure in its second artifact write leaves every live artifact file
    and the manifest byte-identical, and the next commit collects the
    unnamed debris."""
    import threading

    from simsearch_spark.mount import artifacts

    docs = load_table(spark, sf_dir, "documents")
    d = str(tmp_path / "m_pub")
    mount_dedup(spark, d, docs.where(F.col("doc_id") < 40))

    before = live_files(d)
    calls, guard, real_write = [], threading.Lock(), artifacts.Snapshot.write

    def write_then_fail(*a, **kw):
        with guard:
            calls.append(1)
            n = len(calls)
        if n == 2:
            raise OSError("disk full")
        return real_write(*a, **kw)

    monkeypatch.setattr(artifacts.Snapshot, "write", write_then_fail)
    with pytest.raises(OSError, match="disk full"):
        mount_dedup(spark, d, docs.where(F.col("doc_id") < 80))
    monkeypatch.undo()
    assert len(calls) == 2
    assert live_files(d) == before
    mount_dedup(spark, d, docs.where(F.col("doc_id") < 40))
    n_dirs = sum(
        len(os.listdir(os.path.join(d, a))) for a in ("dedup_bands", "dedup_shingles")
    )
    assert n_dirs == 4  # the two live generations; the debris is gone


def test_hot_mode_is_not_a_family_key():
    """The dedup family has one hot-bucket policy (the cap): a
    ``hot_mode`` override is rejected like any unknown key."""
    from simsearch_spark.mount.artifacts import _dedup_family_params

    with pytest.raises(ValueError, match="not settable"):
        _dedup_family_params({"hot_mode": "salt"})


def test_serve_dedup_lookup_equals_batch_restricted(spark, sf_dir, tmp_path):
    """VERDICT r12 task 6: the read query "which mounted docs
    near-duplicate this text?" — hash-equal to the batch operator on
    base ∪ probe restricted to probe-touching pairs, and a colliding
    probe id is rejected loudly instead of reading as 'no duplicates'."""
    from simsearch_spark.mount.serve import serve_dedup_lookup
    from simsearch_spark.operators.dedup import minhash_lsh_pairs

    docs = load_table(spark, sf_dir, "documents")
    base = docs.where(F.col("doc_id") < 400)
    d = str(tmp_path / "m_lookup")
    mount_dedup(spark, d, base, threshold=MINHASH_T, n_hashes=N_HASHES, bands=N_BANDS)

    # probe with an exact copy of a mounted text: must surface it
    probe_text = base.where(F.col("doc_id") == 7).first()["text"]
    got = sorted(
        (int(r["doc_id"]), float(r["jaccard"]))
        for r in serve_dedup_lookup(spark, d, probe_text).collect()
    )
    assert (7, 1.0) in got

    # hash-equal to the batch operator restricted to the probe id
    probe = spark.createDataFrame([(-1, probe_text)], "doc_id long, text string")
    batch = minhash_lsh_pairs(
        base.select("doc_id", "text").unionByName(probe), "doc_id", "text",
        threshold=MINHASH_T, n_hashes=N_HASHES, bands=N_BANDS,
    ).where((F.col("id_a") == -1) | (F.col("id_b") == -1))
    want = sorted(
        (int(r["id_b"] if r["id_a"] == -1 else r["id_a"]), float(r["jaccard"]))
        for r in batch.collect()
    )
    assert got == want

    # a probe text with no mounted near-dup: empty, not an error
    assert serve_dedup_lookup(
        spark, d, "entirely novel text with nothing shared whatsoever xyzzy"
    ).count() == 0

    # collision with a mounted id is loud
    with pytest.raises(ValueError, match="mounted id"):
        serve_dedup_lookup(spark, d, probe_text, probe_id=7)


def test_compact_dedup_collapses_append_debris(spark, sf_dir, tmp_path, monkeypatch):
    """r13: every append adds one parquet file per touched band/shingle
    directory; compact_dedup rewrites both artifacts to the mount-time
    one-file-per-directory layout with results pinned unchanged, the
    fragmentation shows in maintenance_stats, and the should_compact
    budget covers it."""
    import simsearch_spark.mount.maintain as mm
    from simsearch_spark.mount.maintain import (
        compact_dedup,
        maintenance_stats,
        should_compact,
    )

    docs = load_table(spark, sf_dir, "documents")
    base = docs.where(F.col("doc_id") < 300)
    d = str(tmp_path / "m_compact")
    mount_dedup(spark, d, base, threshold=MINHASH_T, n_hashes=N_HASHES, bands=N_BANDS)
    for i in range(3):
        delta = docs.where(
            (F.col("doc_id") >= 300 + 50 * i) & (F.col("doc_id") < 350 + 50 * i)
        )
        dedup_append(spark, d, delta)
    s = maintenance_stats(spark, d)
    assert s["max_files_per_dedup_dir"] > 1
    monkeypatch.setattr(mm, "COMPACT_FILES_PER_CELL", 2)
    assert should_compact(spark, d)

    # a re-crawl probe (mounted texts under fresh ids) has nonempty pairs
    probe = docs.where(F.col("doc_id") < 30).select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"), "text"
    )
    before = _rows(dedup_append(spark, d, probe, update=False))
    assert before
    assert compact_dedup(spark, d) > 0
    s2 = maintenance_stats(spark, d)
    assert s2["max_files_per_dedup_dir"] == 1
    assert not should_compact(spark, d)
    # results unchanged by construction — same pairs, same lookup
    assert _rows(dedup_append(spark, d, probe, update=False)) == before
    # idempotent: a clean layout reclaims nothing
    assert compact_dedup(spark, d) == 0
    # and appends keep working against the compacted layout
    extra = docs.where(
        (F.col("doc_id") >= 450) & (F.col("doc_id") < 470)
    )
    dedup_append(spark, d, extra)
    from simsearch_spark.mount.artifacts import load_manifest as _lm

    assert _lm(d)["dedup"]["n_docs"] == 300 + 150 + 20


def test_delete_docs_lifecycle(spark, tmp_path):
    """r14: the dedup mount's delete path — tombstoned docs vanish from
    every pair result immediately, their index rows reclaim at
    compaction, the manifest count refreshes, and the deleted id becomes
    reusable only after compaction (insert → delete → compact → reusable,
    the vector-side delete_ids lifecycle)."""
    from simsearch_spark.mount.dedup import delete_docs, mount_dedup
    from simsearch_spark.mount.maintain import (
        compact_dedup,
        maintenance_stats,
        should_compact,
    )
    from simsearch_spark.mount.serve import serve_dedup_lookup

    t_dup = "alpha beta gamma delta epsilon zeta eta theta"
    base = spark.createDataFrame(
        [(1, t_dup), (2, t_dup), (3, "one two three four five six seven")],
        "doc_id long, text string",
    )
    d = str(tmp_path / "m_del")
    mount_dedup(spark, d, base, threshold=0.7)

    hits = lambda: sorted(
        r.doc_id for r in serve_dedup_lookup(spark, d, t_dup).collect()
    )
    assert hits() == [1, 2]

    delete_docs(spark, d, [2])
    assert hits() == [1]  # excluded immediately, before any compaction
    s = maintenance_stats(spark, d)
    assert s["n_dedup_tombstones"] == 1
    assert s["dedup_tombstone_fraction"] == pytest.approx(1 / 3)
    assert should_compact(spark, d)  # 1/3 ≥ the 0.2 budget

    # an appended near-dup of the duplicated text pairs only with doc 1
    p1 = _rows(dedup_append(spark, d, spark.createDataFrame(
        [(50, t_dup)], "doc_id long, text string",
    )))
    assert sorted(a for a, _b, _j in p1) == [1]

    # the deleted id is NOT reusable yet: its shingle rows still mark it
    # mounted, so re-submission drops as a replay
    assert _rows(dedup_append(spark, d, spark.createDataFrame(
        [(2, "completely different replacement text here")],
        "doc_id long, text string",
    ))) == []

    # compaction reclaims the dead rows, clears the horizon, refreshes
    # the count — and the id becomes reusable
    compact_dedup(spark, d)
    assert not snapshot(spark, d).has("dedup_tombstones")
    from simsearch_spark.mount import load_manifest

    assert load_manifest(d)["dedup"]["n_docs"] == 3  # 1, 3, 50
    assert maintenance_stats(spark, d)["n_dedup_tombstones"] == 0
    assert hits() == [1, 50]
    p2 = _rows(dedup_append(spark, d, spark.createDataFrame(
        [(2, t_dup)], "doc_id long, text string",
    )))
    assert sorted({a for a, _b, _j in p2} | {b for _a, b, _j in p2}) == [1, 2, 50]


def test_append_large_path_parity_and_tombstones(spark, sf_dir, tmp_path, monkeypatch):
    """The DISTRIBUTED append path (_append_large, taken when the delta
    overflows the fast-path gate) must match the batch-restricted answer
    exactly and honor tombstone exclusion — forced here by shrinking the
    gate so every delta takes it."""
    import simsearch_spark.mount.dedup as md

    docs = load_table(spark, sf_dir, "documents")
    cut = 300
    base = docs.where(F.col("doc_id") < cut)
    delta = docs.where(F.col("doc_id") >= cut)
    delta_ids = [r.doc_id for r in delta.select("doc_id").collect()]

    d = str(tmp_path / "m_large")
    mount_dedup(spark, d, base, threshold=MINHASH_T, n_hashes=N_HASHES, bands=N_BANDS)
    monkeypatch.setattr(md, "MAX_IN_LITERALS", 4)  # gate: lim = 1 → large path
    got = _rows(dedup_append(spark, d, delta, update=False))
    want = _rows(_batch_restricted(docs, delta_ids))
    assert got == want and len(got) > 0

    # tombstone one base id that participates in a pair; the large path
    # must drop its pairs too
    from simsearch_spark.mount.dedup import delete_docs

    base_side = sorted({a for a, _b, _j in got} | {b for _a, b, _j in got})
    victims = [i for i in base_side if i < cut][:1]
    assert victims, "fixture should pair a delta doc with a base doc"
    delete_docs(spark, d, victims)
    got2 = _rows(dedup_append(spark, d, delta, update=False))
    assert got2 == [
        (a, b, j) for a, b, j in want if a not in victims and b not in victims
    ]


def test_audit_dedup_band_scan_is_pruned(spark, tmp_path, monkeypatch):
    """r14: audit_dedup's index read must carry the append path's scan
    shape — bkt PartitionFilters (directory pruning) plus band_hash point
    predicates (row-group skipping on the sort key) — never an id-only
    full scan.  Verified by capturing the reader the audit builds."""
    from simsearch_spark.mount import audit_dedup
    from simsearch_spark.mount.dedup import mount_dedup
    from simsearch_spark.sources.registry import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    d = str(tmp_path / "m_auditplan")
    mount_dedup(spark, d, docs, threshold=MINHASH_T, n_hashes=N_HASHES, bands=N_BANDS)

    # Spark 4: pyspark.sql.DataFrame is the abstract facade — the
    # concrete class (whose collect actually runs) lives in sql.classic
    from pyspark.sql.classic.dataframe import DataFrame as _DF

    plans: list[str] = []
    orig_collect = _DF.collect

    def spy_collect(self):
        plans.append(self._jdf.queryExecution().executedPlan().toString())
        return orig_collect(self)

    monkeypatch.setattr(_DF, "collect", spy_collect)
    out = audit_dedup(spark, d, sample_n=32)
    monkeypatch.setattr(_DF, "collect", orig_collect)
    assert out["index_integrity_mismatches"] == 0

    # identify the band-index scan by its column, not by path: Spark
    # truncates FileScan Location strings at maxMetadataStringLength
    # (100 chars), which swallows "dedup_bands" under pytest's tmp_path
    band_plans = [p for p in plans if "band_hash#" in p]
    assert band_plans, "the audit must read the band index"
    p = band_plans[-1]
    assert "PartitionFilters" in p
    head = p[p.index("PartitionFilters"):][:300]
    assert "bkt" in head, head
    assert "band_hash" in p[p.index("PushedFilters"):][:400]


def test_auto_fanout_scales_with_corpus(spark, sf_dir, tmp_path):
    """r15: mount_dedup derives its hash-range directory fan-outs from the
    corpus size (pow-2, ~1k band rows / ~512 shingle rows per directory,
    clamped) and freezes the derived values in the manifest — a bench-scale
    mount stops paying hundreds of near-empty directories while a large
    corpus climbs toward the caps."""
    from simsearch_spark.mount.artifacts import load_manifest
    from simsearch_spark.mount.dedup import _auto_fanout

    # the formula itself: clamps, pow-2 rounding, scale growth
    assert _auto_fanout(0, 512, 8, 4096) == 8
    assert _auto_fanout(400, 512, 8, 4096) == 8
    assert _auto_fanout(4500, 512, 8, 4096) == 16
    assert _auto_fanout(4500, 1024, 8, 1024) == 8
    assert _auto_fanout(10**9, 512, 8, 4096) == 4096       # cap
    assert _auto_fanout(3000, 512, 8, 4096) == 8           # ceil(5.9)->8
    for n in (1, 100, 10**6):
        v = _auto_fanout(n, 512, 8, 4096)
        assert v & (v - 1) == 0                            # power of two

    docs = load_table(spark, sf_dir, "documents")
    base = docs.where(F.col("doc_id") < 300)
    d = str(tmp_path / "m_auto")
    man = mount_dedup(
        spark, d, base, threshold=MINHASH_T, n_hashes=N_HASHES, bands=N_BANDS
    )
    dd = man["dedup"]
    # 300 docs -> both fan-outs at the floor, and the on-disk layout agrees
    assert dd["n_bkt"] == 8 and dd["n_sbkt"] == 8
    sdirs = snapshot(spark, d).file_counts("dedup_shingles")
    assert all(x.startswith("sbkt=") for x in sdirs)
    assert 0 < len(sdirs) <= 8
    assert load_manifest(d)["dedup"]["n_sbkt"] == 8


# -- the driver-resident small-delta path -----------------------------------
# A delta within the fast-path gate is signed, paired and verified on the
# driver; it must answer exactly as the distributed path (_append_large),
# which these tests force by making the driver path decline.


def _texts(seed: int, n: int, words: int = 30) -> list[str]:
    rng = random.Random(seed)
    return [" ".join(f"w{rng.randrange(400)}" for _ in range(words)) for _ in range(n)]


def _near(t: str) -> str:
    """``t`` plus one word: 3-shingle jaccard 28/29."""
    return t + " zz"


def _mount_texts(spark, d, texts, id_dtype="bigint", ids=None, **kw):
    ids = list(range(len(texts))) if ids is None else ids
    base = spark.createDataFrame(list(zip(ids, texts)), f"doc_id {id_dtype}, text string")
    mount_dedup(spark, d, base, threshold=MINHASH_T, n_hashes=N_HASHES, bands=N_BANDS, **kw)


def _both_paths(monkeypatch, fn):
    """``fn()`` on the driver path (asserting it did not fall back), then
    with the driver path declining so the distributed path answers."""
    import simsearch_spark.mount.dedup as md

    fell_back = []
    orig = md._append_large
    with monkeypatch.context() as m:
        m.setattr(md, "_append_large", lambda *a: fell_back.append(1) or orig(*a))
        driver = fn()
    assert not fell_back, "the driver path fell back"
    with monkeypatch.context() as m:
        m.setattr(md, "_append_driver", lambda *a: None)
        large = fn()
    return driver, large


@pytest.fixture(scope="module")
def small_mount(spark, tmp_path_factory):
    """40 random documents, mounted once; tests read it with update=False."""
    texts = _texts(11, 40)
    d = str(tmp_path_factory.mktemp("driver_path") / "m")
    _mount_texts(spark, d, texts)
    return d, texts


def test_driver_path_equals_large_path(spark, small_mount, monkeypatch):
    """Near-dups of base docs, delta↔delta pairs, a partial replay, a full
    replay, an all-empty-text delta and an int delta against the bigint
    mount: the driver path and the distributed path agree row for row."""
    from simsearch_spark.mount.serve import serve_dedup_lookup

    d, texts = small_mount
    fresh = _texts(12, 1)[0]
    rows = (
        [(1000 + i, _near(texts[i])) for i in range(6)]  # delta ↔ base
        + [(2000, fresh), (2001, _near(fresh))]  # delta ↔ delta
        + [(i, texts[i]) for i in range(10, 14)]  # partial replay
    )
    delta = spark.createDataFrame(rows, "doc_id bigint, text string")
    driver, large = _both_paths(
        monkeypatch, lambda: _rows(dedup_append(spark, d, delta, update=False))
    )
    assert driver == large
    got = {(a, b) for a, b, _j in driver}
    assert {(i, 1000 + i) for i in range(6)} <= got and (2000, 2001) in got
    assert not {i for p in got for i in p} & set(range(10, 14))  # replayed ids

    as_int = delta.withColumn("doc_id", F.col("doc_id").cast("int"))
    assert _both_paths(
        monkeypatch, lambda: _rows(dedup_append(spark, d, as_int, update=False))
    ) == (driver, driver)

    for quiet in (
        spark.createDataFrame([(i, texts[i]) for i in range(8)], "doc_id bigint, text string"),
        spark.createDataFrame([(3000, ""), (3001, "   "), (3002, None)], "doc_id bigint, text string"),
    ):
        assert _both_paths(
            monkeypatch, lambda: _rows(dedup_append(spark, d, quiet, update=False))
        ) == ([], [])

    def lookup(text):
        return lambda: sorted(tuple(r) for r in serve_dedup_lookup(spark, d, text).collect())

    assert _both_paths(monkeypatch, lookup(_texts(13, 1)[0])) == ([], [])
    hit, hit_large = _both_paths(monkeypatch, lookup(_near(texts[3])))
    assert hit == hit_large and [i for i, _j in hit] == [3]


def test_tab_and_newline_only_texts_have_shingles(spark, small_mount, monkeypatch):
    """SQL's trim strips spaces only, so tab- and newline-only texts pass
    every dedup filter; each kernel must give them their one shingle, so
    two equal ones verify as a jaccard-1 pair instead of a 0/0 — in the
    batch operator and on both append paths."""
    d, _ = small_mount
    docs = spark.createDataFrame(
        [(5000, "\t"), (5001, "\t"), (5002, "\n"), (5003, "\n"), (5004, "\t\n")],
        "doc_id bigint, text string",
    )
    want = [(5000, 5001, 1.0), (5002, 5003, 1.0)]
    batch = minhash_lsh_pairs(docs, "doc_id", "text", MINHASH_T, N_HASHES, N_BANDS)
    assert _rows(batch) == want
    assert _both_paths(
        monkeypatch, lambda: _rows(dedup_append(spark, d, docs, update=False))
    ) == (want, want)


def test_driver_path_string_ids(spark, tmp_path, monkeypatch):
    """String ids order in Python as least/greatest order them in Spark."""
    from simsearch_spark.mount.serve import serve_dedup_lookup

    texts = _texts(21, 24)
    ids = [f"doc-{i:02d}é" for i in range(24)]
    d = str(tmp_path / "m_str")
    _mount_texts(spark, d, texts, id_dtype="string", ids=ids)
    delta = spark.createDataFrame(
        [("a-new", _near(texts[4])), ("z-new", _near(texts[7])), ("doc-05é", texts[5])],
        "doc_id string, text string",
    )
    driver, large = _both_paths(
        monkeypatch, lambda: _rows(dedup_append(spark, d, delta, update=False))
    )
    assert driver == large
    assert {(a, b) for a, b, _j in driver} >= {("a-new", "doc-04é"), ("doc-07é", "z-new")}
    hit = _both_paths(
        monkeypatch,
        lambda: sorted(tuple(r) for r in serve_dedup_lookup(spark, d, texts[9]).collect()),
    )
    assert hit[0] == hit[1] == [("doc-09é", 1.0)]


def test_driver_path_tombstones_and_index_rows(spark, tmp_path, monkeypatch):
    """A tombstoned base doc never pairs on either path, and an update=True
    append leaves the same band/shingle rows and manifest count whichever
    path wrote them."""
    from simsearch_spark.mount import load_manifest
    from simsearch_spark.mount.dedup import delete_docs

    texts = _texts(31, 30)
    rows = [(100 + i, _near(texts[i])) for i in range(5)] + [(2, texts[2])]
    mounts = []
    for name in ("m_driver", "m_large"):
        d = str(tmp_path / name)
        _mount_texts(spark, d, texts)
        delete_docs(spark, d, [1])
        mounts.append(d)
    delta = spark.createDataFrame(rows, "doc_id bigint, text string")
    calls = iter(mounts)
    driver, large = _both_paths(
        monkeypatch, lambda: _rows(dedup_append(spark, next(calls), delta))
    )
    assert driver == large
    # doc 1 is tombstoned; the replayed row (2, texts[2]) is dropped, but
    # the mounted doc 2 still pairs with its near-dup 102
    assert {(a, b) for a, b, _j in driver} == {(0, 100), (2, 102), (3, 103), (4, 104)}

    def index(d):
        return (
            sorted(tuple(r) for r in snapshot(spark, d).read("dedup_bands").collect()),
            sorted(
                (r[0], tuple(r[1]), r[2])
                for r in snapshot(spark, d).read("dedup_shingles").collect()
            ),
            load_manifest(d)["dedup"]["n_docs"],
        )

    assert index(mounts[0]) == index(mounts[1])


def test_small_delta_job_ceiling(spark, tmp_path):
    """The fixed cost the driver path removes, pinned: a small delta given
    as a local relation appends in at most 8 Spark jobs and a lookup in at
    most 4, every job carries the caller's job group (thread-pool jobs
    included), and no plan holds a Python-worker node."""
    import time

    from pyspark.sql.classic.dataframe import DataFrame as _DF
    from pyspark.sql.readwriter import DataFrameWriter
    from pyspark.sql.types import DataType

    import simsearch_spark.mount.dedup as md
    from simsearch_spark.mount.serve import serve_dedup_lookup

    texts = _texts(41, 40)
    d = str(tmp_path / "m_jobs")
    _mount_texts(spark, d, texts)
    delta = md._local_frame(
        spark,
        [(500 + i, _near(texts[i])) for i in range(20)],
        DataType.fromDDL("doc_id bigint, text string"),
    )

    plans: list[str] = []
    orig_collect, orig_parquet = _DF.collect, DataFrameWriter.parquet

    def spy_collect(self):
        plans.append(self._jdf.queryExecution().executedPlan().toString())
        return orig_collect(self)

    def spy_parquet(self, path, *a, **kw):
        plans.append(self._df._jdf.queryExecution().executedPlan().toString())
        return orig_parquet(self, path, *a, **kw)

    sc = spark.sparkContext
    tracker, bus = sc.statusTracker(), sc._jsc.sc().listenerBus()

    def jobs(group, fn):
        bus.waitUntilEmpty()
        before = set(tracker.getJobIdsForGroup(None))
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setJobGroup(None, None)
        bus.waitUntilEmpty()
        time.sleep(0.2)
        assert set(tracker.getJobIdsForGroup(None)) == before, "a job ran without the group"
        return len(tracker.getJobIdsForGroup(group)), out

    mp = pytest.MonkeyPatch()
    mp.setattr(_DF, "collect", spy_collect)
    mp.setattr(DataFrameWriter, "parquet", spy_parquet)
    try:
        n_append, pairs = jobs("g_append", lambda: dedup_append(spark, d, delta))
        n_lookup, hits = jobs(
            "g_lookup", lambda: orig_collect(serve_dedup_lookup(spark, d, texts[30]))
        )
    finally:
        mp.undo()
    assert len(_rows(pairs)) == 20 and [r[0] for r in hits] == [30]
    assert n_append <= 8, n_append
    assert n_lookup <= 4, n_lookup
    for p in plans:
        for node in ("MapInPandas", "PythonRDD", "ExistingRDD", "EvalPython"):
            assert node not in p, p
