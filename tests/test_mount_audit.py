"""Drift audit + retrain-and-swap (VERDICT r11 task 2).

The loop under test, on a planted drift (mixture-of-Gaussians, the
tests/test_ann_recall.py machinery): a delta drawn from NEW clusters is
appended under the frozen-artifact contract (assigned to old cells,
encoded with old codebooks) → ``audit_drift`` measures the recall damage
on the recent sample → ``refresh`` retrains from the current corpus and
atomically swaps the generation in → the audit recovers, and serving
works uninterrupted across the swap.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from simsearch_spark.mount import append_rows, audit_drift, load_manifest, mount, refresh
from simsearch_spark.mount.artifacts import snapshot

DIM = 64
K = 10


def _mog(spark, centers, per, id0, label0, seed, spread=0.06):
    rng = np.random.default_rng(seed)
    rows, vid = [], id0
    for c, ctr in enumerate(centers):
        for p in ctr + rng.normal(0.0, spread, (per, DIM)):
            rows.append((vid, label0 + c, [float(round(x, 6)) for x in p]))
            vid += 1
    return spark.createDataFrame(rows, "vec_id long, label int, embedding array<double>")


@pytest.fixture(scope="module")
def corpus(spark):
    """Base: 4 well-separated clusters.  Delta: 2 NEW clusters in an
    orthogonal region (planted drift) with higher ids (the 'recent'
    rows ``audit_drift`` samples)."""
    rng = np.random.default_rng(99)
    base_c = rng.normal(0.0, 1.0, (4, DIM))
    base_c /= np.linalg.norm(base_c, axis=1, keepdims=True)
    drift_c = rng.normal(0.0, 1.0, (2, DIM)) + 3.0  # far from the base cloud
    drift_c /= np.linalg.norm(drift_c, axis=1, keepdims=True)
    drift_c *= 2.5
    base = _mog(spark, base_c, 60, 0, 0, 7).persist()
    delta = _mog(spark, drift_c, 40, 1000, 4, 8).persist()
    base.count(), delta.count()
    return base, delta


@pytest.fixture(scope="module")
def docs_stub(spark):
    return spark.createDataFrame(
        [(i, f"document number {i} with some words") for i in range(20)],
        "doc_id long, text string",
    )


def test_drift_degrades_refresh_restores(spark, corpus, docs_stub, tmp_path_factory):
    base, delta = corpus
    union = base.unionByName(delta)
    d = str(tmp_path_factory.mktemp("audit") / "m")
    mount(spark, "", d, emb_frame=base, docs_frame=docs_stub, dedup=False)

    # healthy baseline: audit the mounted index on the base's own recent
    # rows before any drift arrives
    healthy = audit_drift(spark, d, base, sample_n=16, k=K, n_probe=2, rerank=40)
    assert healthy["recall_at_k"] >= 0.8

    # frozen-contract append of the DRIFTED delta (no label column — the
    # maintain path assigns to the frozen cells, encodes with frozen books)
    append_rows(spark, d, emb_delta=delta.select("vec_id", "embedding"))
    assert load_manifest(d)["counts"]["n_vectors"] == union.count()

    drifted = audit_drift(spark, d, union, sample_n=16, k=K, n_probe=2, rerank=40)
    # the recent sample is the drifted delta: measurably degraded
    assert drifted["recall_at_k"] <= healthy["recall_at_k"] - 0.2, (
        healthy["recall_at_k"], drifted["recall_at_k"],
    )

    # retrain-and-swap from the current corpus (labels carry the true
    # mixture — a production refresh re-clusters; _centroids6 is the
    # fixture's kmeans stand-in, same as mount)
    gen0 = load_manifest(d).get("generation", 0)
    man = refresh(spark, d, sf_dir="", emb_frame=union, docs_frame=docs_stub)
    assert man["generation"] == gen0 + 1
    assert load_manifest(d)["generation"] == gen0 + 1

    restored = audit_drift(spark, d, union, sample_n=16, k=K, n_probe=2, rerank=40)
    assert restored["recall_at_k"] >= healthy["recall_at_k"] - 0.05, (
        drifted["recall_at_k"], restored["recall_at_k"],
    )
    assert restored["recall_at_k"] >= drifted["recall_at_k"] + 0.2


def test_refresh_preserves_serving_and_is_crash_safe(
    spark, corpus, docs_stub, tmp_path_factory
):
    """Serving works across the refresh, answers stay exact for
    undrifted data, and a half-finished earlier refresh (an unnamed
    version directory) is collected rather than poisoning the next
    one."""
    import os

    from simsearch_spark.mount.serve import serve_ivfpq_topk

    base, _delta = corpus
    d = str(tmp_path_factory.mktemp("audit2") / "m")
    mount(spark, "", d, emb_frame=base, docs_frame=docs_stub, dedup=False)

    qvec = [float(x) for x in base.where(F.col("vec_id") == 5).first().embedding]
    before = sorted(
        tuple(r) for r in serve_ivfpq_topk(spark, d, base, qvec, K, n_probe=4, rerank=60).collect()
    )

    debris = os.path.join(d, "pq_codes", "version=crashed")  # crashed-refresh debris
    os.makedirs(debris)
    with open(os.path.join(debris, "garbage"), "w") as f:
        f.write("x")
    refresh(spark, d, sf_dir="", emb_frame=base, docs_frame=docs_stub)
    assert not os.path.isdir(debris)

    after = sorted(
        tuple(r) for r in serve_ivfpq_topk(spark, d, base, qvec, K, n_probe=4, rerank=60).collect()
    )
    # same corpus, same training frame → the retrained generation serves
    # the identical answer (mount is deterministic)
    assert after == before


def test_refresh_carries_custom_dedup_family(
    spark, corpus, docs_stub, tmp_path_factory
):
    """Self-review r12: a refresh must regenerate the dedup index with the
    OLD manifest's hash family, never silently reverting a custom family
    to the module defaults (which would change every later dedup_append)."""
    base, _delta = corpus
    d = str(tmp_path_factory.mktemp("audit3") / "m")
    custom = {"n_hashes": 8, "bands": 2, "threshold": 0.9}
    mount(spark, "", d, emb_frame=base, docs_frame=docs_stub,
          dedup_params=custom)
    dd0 = load_manifest(d)["dedup"]
    assert (dd0["n_hashes"], dd0["bands"], dd0["threshold"]) == (8, 2, 0.9)
    refresh(spark, d, sf_dir="", emb_frame=base, docs_frame=docs_stub)
    dd1 = load_manifest(d)["dedup"]
    for k in ("n_hashes", "bands", "threshold", "seed", "shingle_n",
              "bucket_cap"):
        assert dd1[k] == dd0[k], k
    # unknown keys are rejected loudly, not silently dropped (n_bkt became
    # a legitimate explicit-layout override in r15, so the probe key here
    # must stay one that is NOT settable)
    with pytest.raises(ValueError, match="not settable"):
        mount(spark, "", str(tmp_path_factory.mktemp("audit4") / "m"),
              emb_frame=base, docs_frame=docs_stub,
              dedup_params={"band_width": 64})


def test_sampled_audit_tracks_full_audit(spark, corpus, docs_stub, tmp_path_factory):
    """VERDICT r12 task 4: the bounded brute arm (``corpus_sample_n``)
    must DETECT the same drift the exact arm detects and agree with it
    through the degrade→refresh→recover loop — the sampled universe is
    the hash-lowest vectors plus whatever the index served, so a healthy
    serve scores ~1 and a drifted one is outranked by sampled points."""
    base, delta = corpus
    union = base.unionByName(delta)
    d = str(tmp_path_factory.mktemp("audit3") / "m")
    mount(spark, "", d, emb_frame=base, docs_frame=docs_stub, dedup=False)

    def both(frame):
        full = audit_drift(spark, d, frame, sample_n=16, k=K, n_probe=2, rerank=40)
        samp = audit_drift(
            spark, d, frame, sample_n=16, k=K, n_probe=2, rerank=40,
            corpus_sample_n=120,
        )
        assert samp["corpus_sample_n"] == 120 and full["corpus_sample_n"] is None
        return full["recall_at_k"], samp["recall_at_k"]

    h_full, h_samp = both(base)
    assert h_samp >= 0.8
    append_rows(spark, d, emb_delta=delta.select("vec_id", "embedding"))
    d_full, d_samp = both(union)
    # same detection decision as the exact arm: measurable degradation
    assert d_samp <= h_samp - 0.2, (h_samp, d_samp)
    refresh(spark, d, sf_dir="", emb_frame=union, docs_frame=docs_stub)
    r_full, r_samp = both(union)
    assert r_samp >= h_samp - 0.05 and r_samp >= d_samp + 0.2
    # agreement with the exact metric at every stage of the loop
    for full, samp in [(h_full, h_samp), (d_full, d_samp), (r_full, r_samp)]:
        assert abs(full - samp) <= 0.15, (full, samp)


def test_degenerate_corpus_sample_rejected(spark, corpus, docs_stub, tmp_path_factory):
    """Review r13: corpus_sample_n < k saturates the sampled recall at
    1.0 regardless of drift — rejected loudly."""
    base, _ = corpus
    d = str(tmp_path_factory.mktemp("audit4") / "m")
    mount(spark, "", d, emb_frame=base, docs_frame=docs_stub, dedup=False)
    with pytest.raises(ValueError, match="degenerate"):
        audit_drift(spark, d, base, sample_n=4, k=K, corpus_sample_n=0)
    with pytest.raises(ValueError, match="degenerate"):
        audit_drift(spark, d, base, sample_n=4, k=K, corpus_sample_n=K - 1)


def _digest_artifacts(spark, mount_dir, names):
    """sha256 over every byte of each named artifact's live directories —
    the byte-identity pin for untouched families."""
    import hashlib
    import os

    h = hashlib.sha256()
    snap = snapshot(spark, mount_dir)
    for p in (p for name in names for p in snap.paths(name)):
        for root, _dirs, files in sorted(os.walk(p)):
            for fn in sorted(files):
                fp = os.path.join(root, fn)
                h.update(os.path.relpath(fp, mount_dir).encode())
                with open(fp, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()


def test_family_refresh_vector_only(spark, corpus, docs_stub, tmp_path_factory):
    """VERDICT r13 task 1: planted VECTOR drift recovers via
    refresh(families=['vector']) while every text and dedup artifact
    stays byte-identical — only the drifted family is retrained — and
    the manifest generation still advances."""
    from simsearch_spark.mount.artifacts import FAMILY_ARTIFACTS
    from simsearch_spark.mount.dedup import dedup_append

    base, delta = corpus
    union = base.unionByName(delta)
    d = str(tmp_path_factory.mktemp("fam") / "m")
    mount(spark, "", d, emb_frame=base, docs_frame=docs_stub)  # dedup=True

    healthy = audit_drift(spark, d, base, sample_n=16, k=K, n_probe=2, rerank=40)
    append_rows(spark, d, emb_delta=delta.select("vec_id", "embedding"))
    drifted = audit_drift(spark, d, union, sample_n=16, k=K, n_probe=2, rerank=40)
    assert drifted["recall_at_k"] <= healthy["recall_at_k"] - 0.2

    untouched = FAMILY_ARTIFACTS["text"] + FAMILY_ARTIFACTS["dedup"]
    before = _digest_artifacts(spark, d, untouched)
    gen0 = load_manifest(d).get("generation", 0)

    man = refresh(spark, d, sf_dir="", emb_frame=union, families=["vector"])
    assert man["generation"] == gen0 + 1
    assert load_manifest(d)["generation"] == gen0 + 1
    assert load_manifest(d)["counts"]["n_vectors"] == union.count()

    restored = audit_drift(spark, d, union, sample_n=16, k=K, n_probe=2, rerank=40)
    assert restored["recall_at_k"] >= drifted["recall_at_k"] + 0.2
    assert restored["recall_at_k"] >= healthy["recall_at_k"] - 0.05

    # the LM/BM25/langid/dedup artifacts were never rewritten
    assert _digest_artifacts(spark, d, untouched) == before
    # and the dedup mount still works end-to-end after the family swap
    extra = spark.createDataFrame(
        [(100, "document number 3 with some words")], "doc_id long, text string"
    )
    pairs = dedup_append(spark, d, extra)
    assert pairs.count() >= 1  # near-dup of doc 3 found via the old index


def test_family_refresh_dedup_only(spark, corpus, docs_stub, tmp_path_factory):
    """refresh(families=['dedup']) rebuilds the dedup index from the
    CURRENT docs (keeping the mounted hash family) and leaves the vector
    and text artifacts byte-identical."""
    from simsearch_spark.mount.artifacts import FAMILY_ARTIFACTS

    base, _delta = corpus
    d = str(tmp_path_factory.mktemp("famd") / "m")
    custom = {"n_hashes": 8, "bands": 2, "threshold": 0.6}
    mount(spark, "", d, emb_frame=base, docs_frame=docs_stub, dedup_params=custom)
    dd0 = load_manifest(d)["dedup"]

    docs2 = docs_stub.unionByName(
        spark.createDataFrame(
            [(200, "document number 4 with some words")], "doc_id long, text string"
        )
    )
    untouched = FAMILY_ARTIFACTS["vector"] + FAMILY_ARTIFACTS["text"]
    before = _digest_artifacts(spark, d, untouched)
    gen0 = load_manifest(d).get("generation", 0)

    man = refresh(spark, d, sf_dir="", docs_frame=docs2, families=["dedup"])
    dd1 = man["dedup"]
    assert man["generation"] == gen0 + 1
    assert dd1["n_docs"] == 21  # the current corpus, not the old one
    for key in ("n_hashes", "bands", "threshold", "seed", "shingle_n"):
        assert dd1[key] == dd0[key], key  # family carried, not reverted
    assert _digest_artifacts(spark, d, untouched) == before


def test_family_refresh_guards(spark, corpus, docs_stub, tmp_path_factory):
    """Unknown family names, shrink without allow_shrink, and dedup
    refresh on a dedup-less mount are all rejected loudly."""
    base, _delta = corpus
    d = str(tmp_path_factory.mktemp("famg") / "m")
    mount(spark, "", d, emb_frame=base, docs_frame=docs_stub, dedup=False)

    with pytest.raises(ValueError, match="unknown artifact families"):
        refresh(spark, d, sf_dir="", emb_frame=base, families=["vectors"])
    with pytest.raises(ValueError, match="without dedup artifacts"):
        refresh(spark, d, sf_dir="", docs_frame=docs_stub, families=["dedup"])
    shrunk = base.where(F.col("vec_id") < 100)
    with pytest.raises(ValueError, match="silently vanish"):
        refresh(spark, d, sf_dir="", emb_frame=shrunk, families=["vector"])
    # allow_shrink is the explicit override, same as the full path
    man = refresh(
        spark, d, sf_dir="", emb_frame=shrunk, families=["vector"],
        allow_shrink=True,
    )
    assert man["counts"]["n_vectors"] == shrunk.count()


def _wordsoup_docs(spark, specs):
    """(doc_id, text) rows from word-index specs: each spec is
    (doc_id, [word_indices]) — disjoint index ranges give near-zero
    cross-doc shingle jaccard, shared prefixes give controlled overlap."""
    rows = [(i, " ".join(f"w{j:04d}" for j in idxs)) for i, idxs in specs]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_audit_dedup_detects_banding_drift_and_reestimate_restores(
    spark, tmp_path
):
    """VERDICT r13 task 3: a shifted shingle distribution (true pairs at
    much lower jaccard than the corpus the banding was sized for) drops
    the mounted index's measured LSH recall; refresh(families=['dedup'],
    dedup_reestimate=True) re-sizes the banding from the current corpus
    and restores it.  Every caught pair still verifies correctly in both
    states — the loss is silent without this audit."""
    from simsearch_spark.mount import audit_dedup, refresh
    from simsearch_spark.mount.dedup import dedup_append, mount_dedup

    # base: 30 unique docs (disjoint 60-word ranges) + 6 EXACT-dup pairs
    # — at (n_hashes=16, bands=2, rows=8) exact dups are always caught
    specs = []
    nxt = 0
    for i in range(30):
        specs.append((i, list(range(nxt, nxt + 60))))
        nxt += 60
    for p in range(6):
        w = list(range(nxt, nxt + 60))
        nxt += 60
        specs.append((100 + 2 * p, w))
        specs.append((101 + 2 * p, w))  # identical text, jaccard 1.0
    base = _wordsoup_docs(spark, specs)

    d = str(tmp_path / "m_dedup_audit")
    mount_dedup(spark, d, base, threshold=0.5, n_hashes=16, bands=2)
    healthy = audit_dedup(spark, d, sample_n=512)
    assert healthy["n_exact_pairs"] == 6
    assert healthy["recall"] == 1.0
    # the driver-side frozen-family recompute matches the stored rows
    assert healthy["index_integrity_mismatches"] == 0

    # drift: 10 pairs at jaccard ≈ 0.65 (B = A + 80 % new words) — above
    # the 0.5 threshold but far below the regime rows=8 was sized for
    dspecs = []
    for p in range(10):
        a = list(range(nxt, nxt + 60))
        nxt += 60
        b = a + list(range(nxt, nxt + 48))
        nxt += 48
        dspecs.append((200 + 2 * p, a))
        dspecs.append((201 + 2 * p, b))
    dedup_append(spark, d, _wordsoup_docs(spark, dspecs))

    drifted = audit_dedup(spark, d, sample_n=512)
    assert drifted["n_exact_pairs"] == 16  # 6 exact + 10 low-j pairs
    assert drifted["recall"] <= healthy["recall"] - 0.3, drifted

    # re-estimate the banding from the CURRENT corpus at the mounted
    # threshold; seed and shingle width stay frozen
    union = base.unionByName(_wordsoup_docs(spark, dspecs))
    man = refresh(
        spark, d, sf_dir="", docs_frame=union,
        families=["dedup"], dedup_reestimate=True,
    )
    assert man["dedup"]["threshold"] == 0.5
    assert (man["dedup"]["n_hashes"], man["dedup"]["bands"]) != (16, 2)

    restored = audit_dedup(spark, d, sample_n=512)
    assert restored["n_exact_pairs"] == 16
    assert restored["recall"] >= drifted["recall"] + 0.3
    assert restored["recall"] >= 0.85, restored


def test_audit_dedup_bounds_and_guards(spark, corpus, docs_stub, tmp_path):
    """audit_dedup is sample-bounded (sample_n rows even on a larger
    corpus), returns recall None on a dup-free sample, and the
    re-estimation flag demands the dedup family."""
    from simsearch_spark.mount import audit_dedup, refresh
    from simsearch_spark.mount.dedup import mount_dedup

    base, _ = corpus
    d = str(tmp_path / "m_nodup")
    mount_dedup(spark, d, docs_stub)  # 20 distinct docs, no near-dups
    out = audit_dedup(spark, d, sample_n=8)
    assert out["sample_n"] == 8  # bounded below the 20-doc corpus
    full = audit_dedup(spark, d, sample_n=512)
    assert full["recall"] is None and full["n_exact_pairs"] == 0

    with pytest.raises(ValueError, match="requires 'dedup' in families"):
        refresh(
            spark, d, sf_dir="", docs_frame=docs_stub,
            families=["text"], dedup_reestimate=True,
        )
    d2 = str(tmp_path / "m_novec")
    mount(spark, "", d2, emb_frame=base, docs_frame=docs_stub, dedup=False)
    with pytest.raises(ValueError, match="no dedup artifacts"):
        audit_dedup(spark, d2)


def test_auto_maintain_refreshes_only_drifted_family(
    spark, corpus, docs_stub, tmp_path_factory
):
    """r14: the orchestrated sweep — planted VECTOR drift with a healthy
    dedup index refreshes the vector family only (dedup artifacts
    byte-identical), recovers the audited recall, and reports its
    decisions; a healthy mount is a no-op; dry_run decides but acts on
    nothing."""
    from simsearch_spark.mount import auto_maintain
    from simsearch_spark.mount.artifacts import FAMILY_ARTIFACTS

    base, delta = corpus
    union = base.unionByName(delta)
    d = str(tmp_path_factory.mktemp("auto") / "m")
    mount(spark, "", d, emb_frame=base, docs_frame=docs_stub)  # incl. dedup

    ak = {"sample_n": 16, "k": K, "n_probe": 2, "rerank": 40}
    healthy = auto_maintain(spark, d, emb=base, audit_kwargs=ak)
    assert healthy["refreshed"] == [] and healthy["would_refresh"] == []
    assert healthy["audits"]["vector"]["recall_at_k"] >= 0.8
    assert "dedup" in healthy["audits"]  # audited even with no true pairs

    append_rows(spark, d, emb_delta=delta.select("vec_id", "embedding"))
    untouched = FAMILY_ARTIFACTS["text"] + FAMILY_ARTIFACTS["dedup"]
    before = _digest_artifacts(spark, d, untouched)
    gen0 = load_manifest(d).get("generation", 0)

    dry = auto_maintain(spark, d, emb=union, audit_kwargs=ak, dry_run=True)
    assert dry["would_refresh"] == ["vector"] and dry["refreshed"] == []
    assert load_manifest(d).get("generation", 0) == gen0  # acted on nothing

    rep = auto_maintain(spark, d, emb=union, audit_kwargs=ak)
    assert rep["refreshed"] == ["vector"]
    assert rep["generation"] == gen0 + 1
    assert rep["audits"]["vector"]["recall_at_k"] < 0.8  # the trigger
    assert _digest_artifacts(spark, d, untouched) == before  # dedup/text untouched

    after = auto_maintain(spark, d, emb=union, audit_kwargs=ak)
    assert after["refreshed"] == []  # recovered — the loop converges
    assert after["audits"]["vector"]["recall_at_k"] >= 0.8


def test_auto_maintain_dedup_branch(spark, tmp_path):
    """auto_maintain fires the dedup re-estimation when the measured LSH
    recall is under floor, and passes a no-signal (None recall) mount."""
    from simsearch_spark.mount import audit_dedup, auto_maintain
    from simsearch_spark.mount.dedup import mount_dedup

    # low-jaccard true pairs under a coarse banding → recall ~0 from the
    # start (the planted-drift shape, planted at mount time)
    specs, nxt = [], 0
    for p in range(10):
        a = list(range(nxt, nxt + 60)); nxt += 60
        b = a + list(range(nxt, nxt + 48)); nxt += 48
        specs += [(2 * p, a), (2 * p + 1, b)]
    docs = _wordsoup_docs(spark, specs)
    d = str(tmp_path / "m_auto_dd")
    mount_dedup(spark, d, docs, threshold=0.5, n_hashes=16, bands=2)

    rep = auto_maintain(spark, d, docs_frame=docs,
                        dedup_audit_kwargs={"sample_n": 512})
    assert rep["refreshed"] == ["dedup"]
    assert audit_dedup(spark, d, sample_n=512)["recall"] >= 0.85
    rep2 = auto_maintain(spark, d, docs_frame=docs,
                         dedup_audit_kwargs={"sample_n": 512})
    assert rep2["refreshed"] == []  # converged


def test_review_r14_refresh_guards(spark, corpus, docs_stub, tmp_path_factory):
    """Review r14: (a) a text-family refresh that covers fewer docs than
    mounted is rejected (appended docs must not silently vanish from the
    LM/BM25 tables); (b) custom language-ID profiles survive a text
    refresh (never silently reverted to the embedded seeds);
    (c) dedup_reestimate without families is rejected loudly."""
    from simsearch_spark.mount.artifacts import load_profiles

    base, _ = corpus
    d = str(tmp_path_factory.mktemp("guards") / "m")
    custom_prof = {
        "xx": {"aaa": 5, "bbb": 3},
        "yy": {"ccc": 4, "ddd": 2},
    }
    mount(spark, "", d, emb_frame=base, docs_frame=docs_stub,
          profiles=custom_prof, dedup=False)

    shrunk = docs_stub.where(F.col("doc_id") < 5)
    with pytest.raises(ValueError, match="text artifacts"):
        refresh(spark, d, sf_dir="", docs_frame=shrunk, families=["text"])

    refresh(spark, d, sf_dir="", docs_frame=docs_stub, families=["text"])
    assert load_profiles(spark, d) == custom_prof  # carried, not reverted

    with pytest.raises(ValueError, match="requires families"):
        refresh(spark, d, sf_dir="", emb_frame=base, docs_frame=docs_stub,
                dedup_reestimate=True)


def test_auto_maintain_integrity_trigger(spark, docs_stub, tmp_path):
    """Review r14: a stored-vs-family mismatch (index corruption or an
    interrupted family swap — simulated by editing the manifest's frozen
    seed) is surfaced by audit_dedup and makes auto_maintain rebuild the
    dedup family even though recall alone would not trigger."""
    import json
    import os

    from simsearch_spark.mount import audit_dedup, auto_maintain, load_manifest
    from simsearch_spark.mount.dedup import mount_dedup

    d = str(tmp_path / "m_integrity")
    mount_dedup(spark, d, docs_stub)
    assert audit_dedup(spark, d, sample_n=64)["index_integrity_mismatches"] == 0

    man = load_manifest(d)
    man["dedup"]["seed"] = man["dedup"]["seed"] + 1  # family drift
    with open(os.path.join(d, "manifest.json"), "w") as f:
        json.dump(man, f)
    a = audit_dedup(spark, d, sample_n=64)
    assert a["index_integrity_mismatches"] > 0

    rep = auto_maintain(spark, d, docs_frame=docs_stub,
                        dedup_audit_kwargs={"sample_n": 64})
    assert rep["refreshed"] == ["dedup"]
    assert rep["audits"]["dedup"]["index_integrity_mismatches"] > 0
    # rebuilt with the (drifted) manifest family — consistent again
    assert audit_dedup(spark, d, sample_n=64)["index_integrity_mismatches"] == 0


def test_compact_dedup_collapses_duplicate_band_rows(spark, docs_stub, tmp_path):
    """Review r14: duplicate band rows (a delta carrying an id twice)
    are collapsed by compaction — full-row distinct."""
    from simsearch_spark.mount import mount_write_lock
    from simsearch_spark.mount.dedup import mount_dedup
    from simsearch_spark.mount.maintain import compact_dedup

    d = str(tmp_path / "m_dupband")
    mount_dedup(spark, d, docs_stub)
    snap = snapshot(spark, d)
    rows = snap.read("dedup_bands")
    n_distinct = rows.distinct().count()
    # every band row appended a second time, as a committed version
    with mount_write_lock(d, "test"):
        snap.write(rows, "dedup_bands", partition_by=["band_idx", "bkt"], append=True)
        snap.commit()
    assert snapshot(spark, d).read("dedup_bands").count() == 2 * n_distinct
    compact_dedup(spark, d)
    after = snapshot(spark, d).read("dedup_bands")
    assert after.count() == n_distinct == after.distinct().count()


def test_audit_text_drift_loop(spark, corpus, tmp_path):
    """r14: the text-family drift loop — the mounted LM's perplexity on
    out-of-distribution docs rises past the ceiling, auto_maintain
    refreshes the text family only, the baseline resets, and the loop
    converges.  Completes the per-family audit set (vector/dedup/bpe/
    text)."""
    from simsearch_spark.mount import audit_text, auto_maintain
    from simsearch_spark.mount.artifacts import FAMILY_ARTIFACTS

    base, _ = corpus
    train_docs = spark.createDataFrame(
        [(i, "the quick brown fox jumps over the lazy dog again and again")
         for i in range(24)],
        "doc_id long, text string",
    )
    d = str(tmp_path / "m_textaudit")
    mount(spark, "", d, emb_frame=base, docs_frame=train_docs, dedup=False)

    same = audit_text(spark, d, train_docs)
    # identical corpus, identical sample: both signals at parity
    assert same["ppl_ratio"] == 1.0 and same["coverage_ratio"] == 1.0
    assert same["coverage"] == 1.0  # every training bigram is known
    rep0 = auto_maintain(spark, d, docs_frame=train_docs)
    assert rep0["refreshed"] == []

    # fully out-of-distribution words: the mounted LM has seen NONE of
    # the bigrams — perplexity cannot rise (inner-join semantics), the
    # drift shows as a coverage collapse
    drifted = spark.createDataFrame(
        [(100 + i, f"w{i:03d}a w{i:03d}b w{i:03d}c w{i:03d}d w{i:03d}e")
         for i in range(24)],
        "doc_id long, text string",
    )
    bad = audit_text(spark, d, drifted)
    assert bad["coverage_ratio"] is not None and bad["coverage_ratio"] < 0.7, bad

    untouched = FAMILY_ARTIFACTS["vector"]
    before = _digest_artifacts(spark, d, untouched)
    rep = auto_maintain(spark, d, docs_frame=drifted)
    assert rep["refreshed"] == ["text"]
    assert _digest_artifacts(spark, d, untouched) == before  # vector untouched

    good = audit_text(spark, d, drifted)
    assert good["coverage_ratio"] is not None and good["coverage_ratio"] >= 0.95, good
    rep2 = auto_maintain(spark, d, docs_frame=drifted)
    assert rep2["refreshed"] == []  # converged


def test_review_r14b_no_signal_and_guards(spark, corpus, tmp_path):
    """Second review pass (r14): degenerate samples are NO-SIGNAL, never
    drift — a blanked corpus must not trigger (or survive) a destructive
    retrain; a full refresh carries custom langid profiles; audit_text
    honors a non-default text column."""
    from pyspark.sql import functions as F

    from simsearch_spark.mount import (
        audit_bpe,
        audit_text,
        auto_maintain,
        mount,
        mount_bpe,
        refresh,
    )
    from simsearch_spark.mount.artifacts import load_profiles

    base, _ = corpus
    docs = spark.createDataFrame(
        [(i, "alpha beta gamma delta epsilon zeta") for i in range(20)],
        "doc_id long, text string",
    )
    d = str(tmp_path / "m_r14b")
    custom_prof = {"aa": {"abc": 7}, "bb": {"xyz": 5}}
    mount(spark, "", d, emb_frame=base, docs_frame=docs,
          profiles=custom_prof, dedup=False)
    mount_bpe(spark, d, docs)

    # blanked frame: every audit reports no-signal, the sweep refreshes
    # NOTHING (the old 1.0/0.0 sentinels read as severe drift)
    blank = spark.createDataFrame(
        [(i, " ") for i in range(20)], "doc_id long, text string"
    )
    a_bpe = audit_bpe(spark, d, blank)
    assert a_bpe["cpt"] is None and a_bpe["ratio"] is None
    a_txt = audit_text(spark, d, blank)
    assert a_txt["coverage"] is None and a_txt["coverage_ratio"] is None
    rep = auto_maintain(spark, d, docs_frame=blank)
    assert rep["refreshed"] == []

    # the bpe family refuses a retrain that would learn zero merges
    with pytest.raises(ValueError, match="0 BPE merges"):
        refresh(spark, d, sf_dir="", docs_frame=blank, families=["bpe"],
                allow_shrink=True)  # degeneracy caught even past the hatch

    # full (families=None) refresh carries the custom profiles
    refresh(spark, d, sf_dir="", emb_frame=base, docs_frame=docs)
    assert load_profiles(spark, d) == custom_prof

    # non-default text column is aliased into the LM machinery
    renamed = docs.select("doc_id", F.col("text").alias("body"))
    a2 = audit_text(spark, d, renamed, text_col="body")
    assert a2["coverage"] == 1.0 and a2["ppl_ratio"] == 1.0
