"""Concurrent-mutator safety of the mount lifecycle (mount/lock.py, r14).

The races these pin are real at production cadence: a compaction's
read-rewrite-commit racing an append drops the appended rows; a refresh
retrain racing an append or a delete drops it from the new generation.
The advisory write lock is the prevention mechanism, the commit's
manifest fence is the bypass detector, and GC inside the commit is the
crash recovery — all exercised here with real artifacts, not mocks of
the logic under test.
"""

import json
import os
import shutil
import subprocess
import threading
import time

import pytest
from pyspark.sql import functions as F

from simsearch_spark.mount import lock as lockmod
from simsearch_spark.mount.artifacts import load_manifest, save_manifest, snapshot
from simsearch_spark.mount.lock import (
    ConcurrentMutationError,
    MountLockTimeout,
    mount_write_lock,
)

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


# ---------------------------------------------------------------- lock unit


def test_lock_reentrant_and_released(tmp_path):
    d = str(tmp_path)
    lp = os.path.join(d, lockmod.LOCK_NAME)
    with mount_write_lock(d, "outer"):
        assert os.path.exists(lp)
        with mount_write_lock(d, "inner"):  # nested: no deadlock
            assert json.load(open(lp))["op"] == "outer"
        assert os.path.exists(lp)  # inner exit keeps the outer hold
    assert not os.path.exists(lp)


def test_lock_excludes_other_thread_and_reports_holder(tmp_path):
    d = str(tmp_path)
    acquired = threading.Event()
    release = threading.Event()

    def holder():
        with mount_write_lock(d, "compact_dedup"):
            acquired.set()
            release.wait(10)

    t = threading.Thread(target=holder)
    t.start()
    assert acquired.wait(5)
    try:
        with pytest.raises(MountLockTimeout) as ei:
            with mount_write_lock(d, "dedup_append", timeout=0.3):
                pass
        msg = str(ei.value)
        assert "compact_dedup" in msg and str(os.getpid()) in msg
    finally:
        release.set()
        t.join(10)
    # and once released, acquisition succeeds
    with mount_write_lock(d, "dedup_append", timeout=1.0):
        pass


def test_lock_breaks_dead_same_host_holder(tmp_path):
    d = str(tmp_path)
    proc = subprocess.Popen(["true"])
    proc.wait()
    import socket

    with open(os.path.join(d, lockmod.LOCK_NAME), "w") as f:
        json.dump(
            {"pid": proc.pid, "host": socket.gethostname(),
             "op": "crashed", "ts": time.time()},
            f,
        )
    with mount_write_lock(d, "recovery", timeout=2.0):
        pass  # dead holder broken, not waited out


def test_lock_never_breaks_foreign_host_holder(tmp_path):
    d = str(tmp_path)
    with open(os.path.join(d, lockmod.LOCK_NAME), "w") as f:
        json.dump(
            {"pid": 1, "host": "some-other-executor-host",
             "op": "refresh", "ts": time.time()},
            f,
        )
    with pytest.raises(MountLockTimeout):
        with mount_write_lock(d, "append", timeout=0.3):
            pass


def test_lock_stale_after_breaks_aged_holder(tmp_path):
    d = str(tmp_path)
    with open(os.path.join(d, lockmod.LOCK_NAME), "w") as f:
        json.dump(
            {"pid": 1, "host": "some-other-executor-host",
             "op": "wedged", "ts": time.time() - 3600.0},
            f,
        )
    with mount_write_lock(d, "append", timeout=2.0, stale_after=60.0):
        pass


def test_lock_missing_mount_dir_is_loud(tmp_path):
    with pytest.raises(FileNotFoundError, match="does not exist"):
        with mount_write_lock(str(tmp_path / "nope"), "delete_docs"):
            pass


# ---------------------------------------------- the one rule, no Spark


def _version(d, name, tag):
    """A stand-in for a written version directory of ``name``."""
    v = f"version={tag}"
    os.makedirs(os.path.join(d, name, v))
    with open(os.path.join(d, name, v, "part-0.parquet"), "wb") as f:
        f.write(tag.encode())
    return v


def _manifest(dirs):
    return {"version": 2, "dirs": dirs, "schemas": {n: "x int" for n in dirs}}


def test_commit_fence_refuses_a_bypassed_manifest(tmp_path):
    """A commit compares the live manifest with the bytes its snapshot
    read: a commit that landed in between (a writer that bypassed the
    lock) makes it refuse, leaving the bypasser's manifest live."""
    d = str(tmp_path)
    with mount_write_lock(d, "op"):
        save_manifest(d, _manifest({"pq_codes": [_version(d, "pq_codes", "a")]}))
        snap = snapshot(None, d)
        snap.commit()  # unchanged underneath: passes
        bypass = _manifest({"pq_codes": [_version(d, "pq_codes", "b")]})
        save_manifest(d, bypass)
        snap.manifest["counts"] = {"n_vectors": 1}
        with pytest.raises(ConcurrentMutationError, match="bypassed"):
            snap.commit()
        assert snapshot(None, d).manifest == bypass


def test_commit_publishes_or_leaves_live_mount(tmp_path):
    """The one publish rule end to end on the filesystem: an op that
    fails before its commit leaves the manifest and every live file
    untouched; a commit keeps what the previous commit named (a reader's
    snapshot survives one further commit) and collects everything else —
    the retired generation after that, and a crashed op's debris."""
    d = str(tmp_path)
    with pytest.raises(RuntimeError, match="write lock"):
        save_manifest(d, _manifest({}))
    with mount_write_lock(d, "op"):
        a = _version(d, "pq_codes", "a")
        save_manifest(d, _manifest({"pq_codes": [a]}))
        reader = snapshot(None, d)
        raw = reader.raw

        _version(d, "pq_codes", "crashed")  # written, never committed
        assert snapshot(None, d).raw == raw

        b = _version(d, "pq_codes", "b")
        save_manifest(d, _manifest({"pq_codes": [b]}))
        # the reader's directory survives the commit that retired it;
        # the crashed op's debris does not
        assert [os.path.basename(p) for p in reader.paths("pq_codes")] == [a]
        assert sorted(os.listdir(os.path.join(d, "pq_codes"))) == [a, b]

        c = _version(d, "pq_codes", "c")
        save_manifest(d, _manifest({"pq_codes": [b, c]}))
        assert sorted(os.listdir(os.path.join(d, "pq_codes"))) == [b, c]
        save_manifest(d, _manifest({}))
        save_manifest(d, _manifest({}))
        assert not os.path.exists(os.path.join(d, "pq_codes"))


def test_parent_layout_mount_is_rejected(tmp_path):
    """A manifest without the directory map is a mount in the previous
    layout: every reader and writer refuses it and says to re-mount."""
    d = str(tmp_path)
    with open(os.path.join(d, "manifest.json"), "w") as f:
        json.dump({"version": 1, "artifacts": ["pq_codes"]}, f)
    with pytest.raises(ValueError, match="re-mount"):
        snapshot(None, d)
    with pytest.raises(ValueError, match="re-mount"):
        load_manifest(d)


# --------------------------------------------------- end-to-end with Spark


@pytest.fixture()
def dedup_mount(spark, tmp_path):
    from simsearch_spark.mount.dedup import mount_dedup
    from simsearch_spark.queries.pipeline import MINHASH_T, N_BANDS, N_HASHES
    from simsearch_spark.sources.registry import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    d = str(tmp_path / "m_lock")
    mount_dedup(
        spark, d, docs, threshold=MINHASH_T, n_hashes=N_HASHES, bands=N_BANDS
    )
    return d


def test_mutators_respect_a_held_lock(spark, dedup_mount, monkeypatch):
    """The decorators are actually wired: a lock held by another thread
    makes delete_docs/compact_dedup time out instead of racing."""
    from simsearch_spark.mount.dedup import delete_docs
    from simsearch_spark.mount.maintain import compact_dedup

    monkeypatch.setattr(lockmod, "DEFAULT_TIMEOUT", 0.3)
    acquired = threading.Event()
    release = threading.Event()

    def holder():
        with mount_write_lock(dedup_mount, "other-writer"):
            acquired.set()
            release.wait(30)

    t = threading.Thread(target=holder)
    t.start()
    assert acquired.wait(5)
    try:
        with pytest.raises(MountLockTimeout):
            delete_docs(spark, dedup_mount, [1])
        with pytest.raises(MountLockTimeout):
            compact_dedup(spark, dedup_mount)
    finally:
        release.set()
        t.join(10)


def test_compact_dedup_fence_aborts_on_bypassing_append(
    spark, dedup_mount, monkeypatch
):
    """A writer that bypasses the lock and commits an append while a
    compaction is rewriting must abort the compaction at its commit —
    the bypasser's commit stays live, nothing it appended is lost."""
    from simsearch_spark.mount import artifacts
    from simsearch_spark.mount.dedup import dedup_append
    from simsearch_spark.mount.maintain import compact_dedup

    delta = spark.createDataFrame(
        [(10**6, "a freshly crawled document that the mount has not seen")],
        "doc_id long, text string",
    )
    # force the rewrite: a second band version (one more live directory)
    dedup_append(spark, dedup_mount, delta.withColumn("doc_id", F.lit(10**6 + 1)))

    real_write = artifacts.Snapshot.write
    bypass = {"done": False}

    def write_then_bypass(self, df, name, *a, **kw):
        real_write(self, df, name, *a, **kw)
        if name == "dedup_bands" and not bypass["done"]:
            # the bypassing append commits AFTER the compaction's
            # snapshot (re-entrant for this thread: exactly what a
            # lock-bypassing writer produces)
            bypass["done"] = True
            dedup_append(spark, dedup_mount, delta)

    monkeypatch.setattr(artifacts.Snapshot, "write", write_then_bypass)
    with pytest.raises(ConcurrentMutationError, match="bypassed"):
        compact_dedup(spark, dedup_mount)
    monkeypatch.undo()
    # the bypasser's commit is the live one: its rows are mounted
    sh = snapshot(spark, dedup_mount).read("dedup_shingles")
    assert sh.where(F.col("doc_id") == 10**6).count() == 1
    assert compact_dedup(spark, dedup_mount) >= 1  # the next run succeeds
    sh = snapshot(spark, dedup_mount).read("dedup_shingles")
    assert sh.where(F.col("doc_id") == 10**6).count() == 1


def test_compact_dedup_clean_run_after_fence_abort(spark, dedup_mount):
    """Duplicate band rows in a live version are collapsed by the next
    compaction, and it reclaims the extra file."""
    from simsearch_spark.mount.maintain import compact_dedup

    some_dir = next(
        root
        for top in snapshot(spark, dedup_mount).paths("dedup_bands")
        for root, _d, files in os.walk(top)
        if any(f.endswith(".parquet") for f in files)
    )
    src = next(f for f in os.listdir(some_dir) if f.endswith(".parquet"))
    shutil.copy(
        os.path.join(some_dir, src), os.path.join(some_dir, "frag-" + src)
    )
    reclaimed = compact_dedup(spark, dedup_mount)
    assert reclaimed >= 1
    # duplicate band rows from the copied file were collapsed
    bdf = snapshot(spark, dedup_mount).read("dedup_bands")
    assert bdf.count() == bdf.distinct().count()


def test_lock_cross_process_contention_and_death(tmp_path):
    """A REAL second process: while it holds the lock we time out; once
    it dies its lock is broken automatically (the crash-recovery path
    with a genuinely dead pid that genuinely held the file)."""
    import sys

    d = str(tmp_path)
    child = subprocess.Popen(
        [
            sys.executable,
            "-c",
            f"import sys, time; sys.path.insert(0, {REPO_ROOT!r});"
            "from simsearch_spark.mount.lock import mount_write_lock;"
            f"l = mount_write_lock({d!r}, 'other-process'); l.__enter__();"
            "print('HELD', flush=True); time.sleep(60)",
        ],
        stdout=subprocess.PIPE,
        text=True,
    )
    try:
        assert child.stdout.readline().strip() == "HELD"
        with pytest.raises(MountLockTimeout, match="other-process"):
            with mount_write_lock(d, "me", timeout=0.5):
                pass
    finally:
        child.kill()
        child.wait()
    # holder is now dead: acquisition breaks the stale lock and proceeds
    with mount_write_lock(d, "recovery", timeout=5.0):
        pass


def test_compact_racing_live_stream_loses_nothing(spark, tmp_path):
    """The end-to-end serialization property: compactions fired WHILE a
    streaming dedup append is running interleave at batch boundaries
    (writer lock) and the final pair set still equals the one-batch
    oracle — no appended batch is swapped away, no pair lost, index
    integrity clean."""
    from pyspark.sql import functions as F

    from simsearch_spark.mount import audit_dedup
    from simsearch_spark.mount.dedup import (
        dedup_append,
        mount_dedup,
        stream_dedup_append,
    )
    from simsearch_spark.mount.maintain import compact_dedup
    from simsearch_spark.queries.pipeline import MINHASH_T, N_BANDS, N_HASHES
    from simsearch_spark.sources.registry import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    base = docs.where(F.col("doc_id") < 250)
    delta = docs.where(F.col("doc_id") >= 250)

    def rows(df):
        return sorted(
            (int(r["id_a"]), int(r["id_b"]), round(float(r["jaccard"]), 6))
            for r in df.select("id_a", "id_b", "jaccard").collect()
        )

    m_one = str(tmp_path / "m_oracle")
    mount_dedup(
        spark, m_one, base,
        threshold=MINHASH_T, n_hashes=N_HASHES, bands=N_BANDS,
    )
    want = rows(dedup_append(spark, m_one, delta))

    m_s = str(tmp_path / "m_race")
    mount_dedup(
        spark, m_s, base,
        threshold=MINHASH_T, n_hashes=N_HASHES, bands=N_BANDS,
    )
    src = str(tmp_path / "delta_src")
    for bi in range(3):
        delta.where(F.pmod(F.col("doc_id"), F.lit(3)) == bi).select(
            "doc_id", "text"
        ).write.parquet(f"{src}/b{bi}")
    pairs_dir = str(tmp_path / "pairs")

    stream = spark.readStream.schema("doc_id long, text string").parquet(
        src + "/*"
    )
    q = stream_dedup_append(
        spark, m_s, stream, pairs_dir, checkpoint_dir=str(tmp_path / "ckpt")
    )
    # compactions racing the stream: each blocks on the writer lock
    # until the in-flight micro-batch commits, then rewrites-and-swaps
    # between batches
    for _ in range(3):
        compact_dedup(spark, m_s)
    q.awaitTermination(300)
    compact_dedup(spark, m_s)  # and one clean post-stream compaction

    got = rows(spark.read.parquet(pairs_dir))
    assert got == want
    assert audit_dedup(spark, m_s, sample_n=48)[
        "index_integrity_mismatches"
    ] == 0


# ------------------------------------------- review-r14 regression pins


def _mog_frame(spark, n_clusters, per, id0, seed, dim=64):
    import numpy as np

    rng = np.random.default_rng(seed)
    ctrs = rng.normal(0.0, 1.0, (n_clusters, dim))
    rows, vid = [], id0
    for c in range(n_clusters):
        for p in ctrs[c] + rng.normal(0.0, 0.05, (per, dim)):
            rows.append((vid, c, [float(round(x, 6)) for x in p]))
            vid += 1
    return spark.createDataFrame(
        rows, "vec_id long, label int, embedding array<double>"
    )


@pytest.fixture(scope="module")
def vec_frames(spark):
    emb = _mog_frame(spark, 3, 20, 0, 11).persist()
    docs = spark.createDataFrame(
        [(i, f"document number {i} with some plain words") for i in range(20)],
        "doc_id long, text string",
    )
    emb.count()
    return emb, docs


def test_full_refresh_keeps_held_lock_file(spark, vec_frames, tmp_path):
    """Review r14: a full refresh inside a held lock leaves the OWNED
    lock file in place (publishing never moves the mount directory), so
    the rest of an auto_maintain critical section keeps cross-process
    exclusion."""
    from simsearch_spark.mount import mount, refresh

    emb, docs = vec_frames
    d = str(tmp_path / "m")
    mount(spark, "", d, emb_frame=emb, docs_frame=docs, dedup=False)
    lp = os.path.join(d, lockmod.LOCK_NAME)
    with mount_write_lock(d, "sweep"):
        refresh(spark, d, sf_dir="", emb_frame=emb, docs_frame=docs)
        assert os.path.exists(lp), "refresh discarded the held lock file"
        assert json.load(open(lp))["pid"] == os.getpid()
    assert not os.path.exists(lp)


def test_break_stale_is_single_winner_and_restores_live(tmp_path):
    """Review r14: the stale break claims by atomic rename and re-checks
    the payload — a lock replaced between judgment and break must be
    restored, never deleted."""
    d = str(tmp_path)
    lp = os.path.join(d, lockmod.LOCK_NAME)
    stale = {"pid": 1, "host": "h", "op": "x", "ts": 1.0}
    with open(lp, "w") as f:
        json.dump(stale, f)
    lockmod._break_stale(lp, stale)
    assert not os.path.exists(lp)  # confirmed stale: removed

    live = {"pid": os.getpid(), "host": "h2", "op": "y", "ts": time.time()}
    with open(lp, "w") as f:
        json.dump(live, f)
    lockmod._break_stale(lp, stale)  # judged on the OLD payload
    assert json.load(open(lp)) == live  # live lock restored intact


def test_stream_sink_commits_fresh_manifest_counts(
    spark, vec_frames, tmp_path
):
    """Review r14: the streaming sink must reload the manifest inside
    its locked batch body — committing the stream-start closure copy
    erases a compaction's reclaim that interleaved before the batch."""
    from simsearch_spark.mount import delete_ids, load_manifest, mount
    from simsearch_spark.mount.maintain import (
        compact_codes,
        stream_append_codes,
    )

    emb, docs = vec_frames
    d = str(tmp_path / "m")
    mount(spark, "", d, emb_frame=emb, docs_frame=docs, dedup=False)
    n0 = load_manifest(d)["counts"]["n_vectors"]
    delete_ids(spark, d, [0, 1, 2])

    delta = _mog_frame(spark, 1, 10, 5000, 13)
    src = str(tmp_path / "src")
    delta.write.parquet(src + "/b0")
    stream = spark.readStream.schema(
        "vec_id long, label int, embedding array<double>"
    ).parquet(src + "/*")

    # hold the lock across stream start: the sink's first batch BLOCKS
    # while we compact (re-entrant for this thread) — a deterministic
    # "compaction interleaved after the closure manifest was loaded"
    with mount_write_lock(d, "interleave"):
        q = stream_append_codes(
            spark, d, stream, checkpoint_dir=str(tmp_path / "ckpt")
        )
        reclaimed = compact_codes(spark, d)
        assert reclaimed == 3
        assert load_manifest(d)["counts"]["n_vectors"] == n0 - 3
    q.awaitTermination(300)

    n_rows = snapshot(spark, d).read("pq_codes").count()
    assert n_rows == n0 - 3 + 10
    # the buggy closure commit would record n0 + 10, erasing the reclaim
    assert load_manifest(d)["counts"]["n_vectors"] == n_rows


def test_refresh_fence_catches_bypassing_delete(spark, tmp_path, monkeypatch):
    """Review r14: a delete commits a manifest, so the refresh's commit
    fence sees it — a delete landing during a dedup-family retrain aborts
    publication instead of being resurrected by the new generation."""
    import simsearch_spark.mount.dedup as dedupmod
    from simsearch_spark.mount import refresh
    from simsearch_spark.mount.dedup import mount_dedup
    from simsearch_spark.queries.pipeline import MINHASH_T, N_BANDS, N_HASHES
    from simsearch_spark.sources.registry import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    d = str(tmp_path / "m")
    mount_dedup(
        spark, d, docs, threshold=MINHASH_T, n_hashes=N_HASHES, bands=N_BANDS
    )

    real_build_dedup = dedupmod._build_dedup

    def build_dedup_then_delete(spark_, snap, *a, **kw):
        out = real_build_dedup(spark_, snap, *a, **kw)
        # mid-retrain delete on the LIVE mount (re-entrant for this
        # thread, i.e. exactly what a bypassing writer produces)
        dedupmod.delete_docs(spark_, d, [docs.first()["doc_id"]])
        return out

    monkeypatch.setattr(dedupmod, "_build_dedup", build_dedup_then_delete)
    with pytest.raises(ConcurrentMutationError, match="tombstones|manifest"):
        refresh(spark, d, sf_dir="", docs_frame=docs, families=["dedup"])
    # the live index is untouched and the late tombstone survived
    assert snapshot(spark, d).has("dedup_tombstones")


def test_interrupted_manifest_write_keeps_previous_manifest(
    spark, dedup_mount, monkeypatch
):
    """A failure in the middle of dumping the manifest (a crashed
    ``dedup_append`` commit) leaves the previous manifest loadable."""
    from simsearch_spark.mount import load_manifest
    from simsearch_spark.mount.dedup import dedup_append

    before = load_manifest(dedup_mount)
    real_dump = json.dump

    def torn_dump(obj, f, **kw):
        if isinstance(obj, dict) and "dedup" in obj:
            f.write(json.dumps(obj, **kw)[:40])
            raise OSError("injected failure mid-dump")
        return real_dump(obj, f, **kw)

    monkeypatch.setattr(json, "dump", torn_dump)
    delta = spark.createDataFrame(
        [(10**6, "a freshly crawled document that the mount has not seen")],
        "doc_id long, text string",
    )
    with pytest.raises(OSError, match="mid-dump"):
        dedup_append(spark, dedup_mount, delta)
    monkeypatch.undo()
    assert load_manifest(dedup_mount) == before


def test_family_refresh_failure_before_swap_keeps_live_mount(
    spark, dedup_mount, monkeypatch, live_files
):
    """A failure after the dedup family is retrained but before its
    commit leaves the manifest and every live file byte-identical: no
    artifact of the new generation is visible without its manifest."""
    from simsearch_spark.mount import load_manifest, refresh
    from simsearch_spark.sources.registry import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    docs = docs.unionByName(
        spark.createDataFrame(
            [(10**6, "one more document in the current corpus")],
            "doc_id long, text string",
        )
    )
    gen0 = load_manifest(dedup_mount).get("generation", 0)
    before = live_files(dedup_mount)
    real_dump = json.dump

    def failing_dump(obj, f, **kw):
        if isinstance(obj, dict) and obj.get("generation") == gen0 + 1:
            raise OSError("injected failure before the swap")
        return real_dump(obj, f, **kw)

    monkeypatch.setattr(json, "dump", failing_dump)
    with pytest.raises(OSError, match="before the swap"):
        refresh(spark, dedup_mount, sf_dir="", docs_frame=docs, families=["dedup"])
    monkeypatch.undo()
    assert live_files(dedup_mount) == before
    assert load_manifest(dedup_mount).get("generation", 0) == gen0
