"""Concurrent-mutator safety of the mount lifecycle (mount/lock.py, r14).

The races these pin are real at production cadence: a compaction's
read-rewrite-swap racing an append destroys the appended files; a
refresh retrain-and-swap racing an append drops the delta from the new
generation; a blanket tombstone rmtree racing a delete resurrects the
deleted doc.  The advisory write lock is the prevention mechanism, the
snapshot/mount-state fences are the bypass detectors — both are exercised
here with real artifacts, not mocks of the logic under test.
"""

import json
import os
import shutil
import subprocess
import threading
import time

import pytest

from simsearch_spark.mount import lock as lockmod
from simsearch_spark.mount.lock import (
    ConcurrentMutationError,
    MountLockTimeout,
    fence,
    mount_state_token,
    mount_write_lock,
    next_generation,
    parquet_census,
)


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


# ------------------------------------------------------------- fence units


def test_parquet_census_and_fence(tmp_path):
    d = tmp_path / "art"
    (d / "bkt=0").mkdir(parents=True)
    (d / "bkt=0" / "a.parquet").write_bytes(b"x")
    (d / "bkt=0" / "_SUCCESS").write_bytes(b"")
    before = parquet_census(str(d))
    assert before == frozenset({"bkt=0/a.parquet"})
    fence(str(d), before, "noop")  # unchanged: passes
    (d / "bkt=0" / "b.parquet").write_bytes(b"y")
    with pytest.raises(ConcurrentMutationError, match="bypassed"):
        fence(str(d), before, "compact_test")


def test_clear_tombstone_files_is_precise(tmp_path):
    from simsearch_spark.mount.maintain import _clear_tombstone_files

    d = tmp_path / "tombstones"
    d.mkdir()
    (d / "old.parquet").write_bytes(b"x")
    (d / ".old.parquet.crc").write_bytes(b"c")
    (d / "_SUCCESS").write_bytes(b"")
    consumed = parquet_census(str(d))
    # a late delete lands AFTER the compaction's snapshot
    (d / "late.parquet").write_bytes(b"y")
    _clear_tombstone_files(str(d), consumed)
    assert os.path.exists(d / "late.parquet")  # never resurrected
    assert not os.path.exists(d / "old.parquet")
    assert not os.path.exists(d / ".old.parquet.crc")
    # nothing late: the directory itself is cleared (os.rmdir — atomic
    # on emptiness, so an even-later tombstone keeps the dir alive)
    _clear_tombstone_files(str(d), parquet_census(str(d)))
    assert not os.path.exists(d)


# ------------------------------------------------------ publish rules


def test_lock_acquisition_restores_crashed_artifact_swap(tmp_path, monkeypatch):
    """A crash between ``_swap_dirs``' two renames leaves ``<artifact>``
    missing and ``<artifact>__old`` intact; the next lock acquisition
    renames the aside back.  An aside beside a live artifact is the
    swap's own leftover and is left for the next swap of it."""
    d = tmp_path / "m"
    (d / "pq_codes").mkdir(parents=True)
    (d / "pq_codes" / "a.parquet").write_bytes(b"old")
    (d / "pq_codes__tmp").mkdir()
    (d / "pq_codes__tmp" / "b.parquet").write_bytes(b"new")
    (d / "bm25_df").mkdir()
    (d / "bm25_df__old").mkdir()

    real_move = shutil.move
    calls = []

    def crash_second_move(src, dst):
        calls.append(src)
        if len(calls) == 2:
            raise OSError("injected crash between renames")
        return real_move(src, dst)

    monkeypatch.setattr(shutil, "move", crash_second_move)
    with pytest.raises(OSError, match="between renames"):
        lockmod._swap_dirs(str(d / "pq_codes__tmp"), str(d / "pq_codes"))
    monkeypatch.undo()
    assert not (d / "pq_codes").exists() and (d / "pq_codes__old").is_dir()

    with mount_write_lock(str(d), "compact_codes"):
        assert (d / "pq_codes" / "a.parquet").read_bytes() == b"old"
        assert not (d / "pq_codes__old").exists()
        assert (d / "bm25_df").is_dir() and (d / "bm25_df__old").is_dir()


def test_next_generation_publishes_or_leaves_live_mount(tmp_path):
    """``next_generation`` links what it keeps, removes its tree on any
    exception or fence failure, and on success swaps the new generation
    in with the held lock planted; the manifest written into the tree
    replaces the hardlinked one instead of writing through it."""
    from simsearch_spark.mount.artifacts import load_manifest, save_manifest

    d = str(tmp_path / "m")
    os.makedirs(os.path.join(d, "keep"))
    os.makedirs(os.path.join(d, "redo"))
    (tmp_path / "m" / "keep" / "a.parquet").write_bytes(b"k")
    (tmp_path / "m" / "redo" / "b.parquet").write_bytes(b"old")
    save_manifest(d, {"version": 1, "generation": 0})
    keep = os.path.join(d, "keep", "a.parquet")
    ino = os.stat(keep).st_ino
    lp = os.path.join(d, lockmod.LOCK_NAME)

    with mount_write_lock(d, "op"):
        tok = mount_state_token(d)
        with pytest.raises(RuntimeError, match="trainer"):
            with next_generation(d, "op", tok, {"redo"}) as nxt:
                assert os.path.samefile(os.path.join(nxt, "keep", "a.parquet"), keep)
                assert not os.path.exists(os.path.join(nxt, "redo"))
                assert not os.path.exists(os.path.join(nxt, lockmod.LOCK_NAME))
                raise RuntimeError("trainer failed")
        assert not os.path.exists(d + "__next")
        assert os.listdir(os.path.join(d, "redo")) == ["b.parquet"]

        with pytest.raises(ConcurrentMutationError):
            with next_generation(d, "op", tok, {"redo"}) as nxt:
                save_manifest(d, {"version": 1, "generation": 0, "x": 1})
        assert not os.path.exists(d + "__next")
        save_manifest(d, {"version": 1, "generation": 0})

        tok = mount_state_token(d)
        with next_generation(d, "op", tok, {"redo"}) as nxt:
            os.makedirs(os.path.join(nxt, "redo"))
            (tmp_path / "m__next" / "redo" / "c.parquet").write_bytes(b"new")
            save_manifest(nxt, {"version": 1, "generation": 1})
            assert load_manifest(d)["generation"] == 0  # not written through
        assert load_manifest(d)["generation"] == 1
        assert os.stat(keep).st_ino == ino
        assert os.listdir(os.path.join(d, "redo")) == ["c.parquet"]
        assert json.load(open(lp))["pid"] == os.getpid()
        assert not os.path.exists(d + "__next") and not os.path.exists(d + "__old")
    assert not os.path.exists(lp)


def _tree_digest(mount_dir):
    """sha256 over every path and byte of a mount, lock file excluded."""
    import hashlib

    h = hashlib.sha256()
    for root, _dirs, files in sorted(os.walk(mount_dir)):
        for fn in sorted(files):
            if fn == lockmod.LOCK_NAME:
                continue
            fp = os.path.join(root, fn)
            h.update(os.path.relpath(fp, mount_dir).encode())
            with open(fp, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


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
    """A writer that bypasses the lock and appends a band file while a
    compaction is rewriting must abort the compaction BEFORE the swap —
    artifact untouched, staging cleaned, the bypasser's file intact."""
    import simsearch_spark.mount.maintain as maintain

    bands = os.path.join(dedup_mount, "dedup_bands")
    # force the rewrite: fragment one band directory (debris > 1 file/dir)
    some_dir = next(
        root
        for root, _d, files in os.walk(bands)
        if any(f.endswith(".parquet") for f in files)
    )
    src = next(f for f in os.listdir(some_dir) if f.endswith(".parquet"))
    shutil.copy(
        os.path.join(some_dir, src), os.path.join(some_dir, "frag-" + src)
    )

    real_snapshot = maintain.snapshot_read
    bypass = {"done": False}

    def snapshot_then_bypass(spark_, path, files):
        df = real_snapshot(spark_, path, files)
        if path == bands and not bypass["done"]:
            # the bypassing append lands AFTER the snapshot was censused
            shutil.copy(
                os.path.join(some_dir, src),
                os.path.join(some_dir, "bypass-" + src),
            )
            bypass["done"] = True
        return df

    monkeypatch.setattr(maintain, "snapshot_read", snapshot_then_bypass)
    before_files = parquet_census(bands)
    with pytest.raises(ConcurrentMutationError, match="dedup_bands|census"):
        maintain.compact_dedup(spark, dedup_mount)
    assert not os.path.isdir(bands + "__tmp")  # staging cleaned
    bypass_rel = os.path.relpath(
        os.path.join(some_dir, "bypass-" + src), bands
    )
    # artifact untouched: exactly the pre-compaction files PLUS the
    # bypasser's append — nothing swapped away, nothing lost
    assert parquet_census(bands) == before_files | {bypass_rel}
    assert os.path.exists(os.path.join(some_dir, "bypass-" + src))


def test_compact_dedup_clean_run_after_fence_abort(spark, dedup_mount):
    """The fence abort is recoverable: the next (properly locked)
    compaction succeeds and the pair stream is unchanged."""
    import simsearch_spark.mount.maintain as maintain
    from simsearch_spark.mount.serve import serve_dedup_lookup

    bands = os.path.join(dedup_mount, "dedup_bands")
    some_dir = next(
        root
        for root, _d, files in os.walk(bands)
        if any(f.endswith(".parquet") for f in files)
    )
    src = next(f for f in os.listdir(some_dir) if f.endswith(".parquet"))
    shutil.copy(
        os.path.join(some_dir, src), os.path.join(some_dir, "frag-" + src)
    )
    reclaimed = maintain.compact_dedup(spark, dedup_mount)
    assert reclaimed >= 1
    # duplicate band rows from the copied file were collapsed
    bdf = spark.read.parquet(bands)
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
            "import sys, time; sys.path.insert(0, '/root/repo');"
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


def test_refresh_restores_crashed_swap_before_locking(
    spark, vec_frames, tmp_path
):
    """Review r14: a refresh crashed between its two renames leaves only
    <mount>__old; the restore must run BEFORE lock acquisition (the lock
    file lives inside the missing mount_dir) or it is unreachable."""
    from simsearch_spark.mount import load_manifest, mount, refresh

    emb, docs = vec_frames
    d = str(tmp_path / "m")
    mount(spark, "", d, emb_frame=emb, docs_frame=docs, dedup=False)
    gen0 = load_manifest(d).get("generation", 0)
    os.rename(d, d + "__old")  # the exact crash state
    refresh(spark, d, sf_dir="", emb_frame=emb, docs_frame=docs, dedup=False)
    assert os.path.isdir(d) and not os.path.isdir(d + "__old")
    assert load_manifest(d)["generation"] == gen0 + 1
    assert not os.path.exists(os.path.join(d, lockmod.LOCK_NAME))


def test_full_refresh_keeps_held_lock_file(spark, vec_frames, tmp_path):
    """Review r14: the full refresh's whole-directory swap must carry an
    OWNED lock file into place (plant_lock into __next), so the rest of
    an auto_maintain critical section keeps cross-process exclusion."""
    from simsearch_spark.mount import mount, refresh

    emb, docs = vec_frames
    d = str(tmp_path / "m")
    mount(spark, "", d, emb_frame=emb, docs_frame=docs, dedup=False)
    lp = os.path.join(d, lockmod.LOCK_NAME)
    with mount_write_lock(d, "sweep"):
        refresh(
            spark, d, sf_dir="", emb_frame=emb, docs_frame=docs, dedup=False
        )
        assert os.path.exists(lp), "swap discarded the held lock file"
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


def test_waiter_survives_missing_dir_window(tmp_path):
    """Review r14 (twice): a CROSS-PROCESS waiter — the only kind that
    actually polls ``os.open`` into FileNotFoundError; a same-process
    waiter takes the held-by-this-process branch — must retry through a
    refresh swap's two-rename window.  The holder keeps the lock LONGER
    than _DIR_GRACE before opening the window, so the original
    anchored-at-start grace deadline would already be spent and the
    waiter would die; the fix measures the grace from when the dir was
    last seen."""
    import sys

    d = str(tmp_path / "m")
    os.makedirs(d)
    child = subprocess.Popen(
        [
            sys.executable,
            "-c",
            "import os, sys, time; sys.path.insert(0, '/root/repo');"
            "from simsearch_spark.mount.lock import mount_write_lock;"
            f"d = {d!r};"
            "l = mount_write_lock(d, 'refresh'); l.__enter__();"
            "print('HELD', flush=True);"
            "time.sleep(3.0);"  # waiter contends longer than _DIR_GRACE
            "os.rename(d, d + '__aside');"  # the swap window opens
            "time.sleep(1.0);"
            "os.rename(d + '__aside', d);"
            "l.__exit__(None, None, None)",
        ],
        stdout=subprocess.PIPE,
        text=True,
    )
    try:
        assert child.stdout.readline().strip() == "HELD"
        with mount_write_lock(d, "append", timeout=20.0):
            pass  # acquired despite polling through the missing-dir window
    finally:
        child.kill()
        child.wait()


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

    n_rows = spark.read.parquet(os.path.join(d, "pq_codes")).count()
    assert n_rows == n0 - 3 + 10
    # the buggy closure commit would record n0 + 10, erasing the reclaim
    assert load_manifest(d)["counts"]["n_vectors"] == n_rows


def test_refresh_fence_catches_bypassing_delete(spark, tmp_path, monkeypatch):
    """Review r14: the refresh fence compares tombstone censuses too — a
    delete landing during a dedup-family retrain aborts publication
    instead of being resurrected by the new generation."""
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

    def build_dedup_then_delete(spark_, out_dir, *a, **kw):
        out = real_build_dedup(spark_, out_dir, *a, **kw)
        if out_dir.endswith("__next"):
            # mid-retrain delete on the LIVE mount (re-entrant for this
            # thread, i.e. exactly what a bypassing writer produces)
            dedupmod.delete_docs(spark_, d, [docs.first()["doc_id"]])
        return out

    monkeypatch.setattr(dedupmod, "_build_dedup", build_dedup_then_delete)
    with pytest.raises(ConcurrentMutationError, match="tombstones|manifest"):
        refresh(spark, d, sf_dir="", docs_frame=docs, families=["dedup"])
    # the live index is untouched and the late tombstone survived
    assert os.path.isdir(os.path.join(d, "dedup_tombstones"))
    assert not os.path.isdir(d + "__next")


def test_restore_crashed_swap_skips_live_swapper(tmp_path):
    """Review r14: a LIVE swapper between its two renames looks like a
    crash from the filesystem; the old generation's travelling lock file
    (live same-host pid) must stop the restorer from resurrecting the
    old generation under the swapper's feet."""
    import socket

    from simsearch_spark.mount.lock import restore_crashed_swap

    d = str(tmp_path / "m")
    old = d + "__old"
    os.makedirs(old)
    with open(os.path.join(old, lockmod.LOCK_NAME), "w") as f:
        json.dump(
            {"pid": os.getpid(), "host": socket.gethostname(),
             "op": "refresh", "ts": time.time()},
            f,
        )
    restore_crashed_swap(d)
    assert not os.path.isdir(d) and os.path.isdir(old)  # left alone

    # a DEAD holder is a genuine crash: restore proceeds
    proc = subprocess.Popen(["true"])
    proc.wait()
    with open(os.path.join(old, lockmod.LOCK_NAME), "w") as f:
        json.dump(
            {"pid": proc.pid, "host": socket.gethostname(),
             "op": "refresh", "ts": time.time()},
            f,
        )
    restore_crashed_swap(d)
    assert os.path.isdir(d) and not os.path.isdir(old)

    # a FRESH foreign-host holder is trusted (possibly live, no pid
    # signal across hosts): left alone
    old2 = d + "__old"
    os.rename(d, old2)
    with open(os.path.join(old2, lockmod.LOCK_NAME), "w") as f:
        json.dump(
            {"pid": 1, "host": "some-other-host",
             "op": "refresh", "ts": time.time()},
            f,
        )
    restore_crashed_swap(d)
    assert not os.path.isdir(d) and os.path.isdir(old2)


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
    spark, dedup_mount, monkeypatch
):
    """A failure after the dedup family is retrained but before the new
    generation is swapped in leaves every live file byte-identical: no
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
    before = _tree_digest(dedup_mount)
    real_dump = json.dump

    def failing_dump(obj, f, **kw):
        if isinstance(obj, dict) and obj.get("generation") == gen0 + 1:
            raise OSError("injected failure before the swap")
        return real_dump(obj, f, **kw)

    monkeypatch.setattr(json, "dump", failing_dump)
    with pytest.raises(OSError, match="before the swap"):
        refresh(spark, dedup_mount, sf_dir="", docs_frame=docs, families=["dedup"])
    monkeypatch.undo()
    assert _tree_digest(dedup_mount) == before
    assert not os.path.exists(dedup_mount + "__next")
    assert load_manifest(dedup_mount).get("generation", 0) == gen0
