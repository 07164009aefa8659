"""The mount's one publish rule, pinned on a tiny mount (mount/lock.py).

Every artifact version is written once into a new directory, the
manifest commit publishes it, and GC keeps what the previous commit
retired — so:

- a lazy frame built before a publish still collects the pre-publish
  rows after it (a reader's snapshot survives one further commit);
- an op that fails before its commit leaves the manifest and every live
  file byte-identical, and the next commit collects its debris;
- a dedup append that fails between its two index writes leaves the
  delta un-mounted, and a retry yields the batch pair set;
- reads take no lock: a dedup lookup returns while a writer holds it;
- a codes probe still scans only the probed cells' directories, across
  appended versions and a split's partial entries;
- ``mount()`` and ``refresh()`` train through one loop, so a full
  refresh is a refresh of every mounted family: it keeps the dedup
  tombstones, rejects a docs frame that covers fewer docs than mounted,
  and adds no family the mount lacks.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import threading

import pytest
from pyspark.sql import functions as F

from simsearch_spark.mount import (
    append_rows,
    delete_ids,
    mount,
    mount_write_lock,
    refresh,
)
from simsearch_spark.mount import artifacts
from simsearch_spark.mount.artifacts import FAMILY_ARTIFACTS, load_manifest, snapshot
from simsearch_spark.mount.bpe import mount_bpe
from simsearch_spark.mount.dedup import dedup_append, delete_docs
from simsearch_spark.mount.maintain import compact_codes, compact_dedup, split_cell
from simsearch_spark.mount.serve import (
    read_codes,
    serve_dedup_lookup,
    serve_lm_perplexity,
)

DIM = 64
WORDS = (
    "river stone cloud market garden bridge lantern copper meadow harbor "
    "violet engine forest candle silver window orchard thunder pepper canyon"
).split()


def _emb(spark, n_clusters, per, id0, seed):
    import numpy as np

    rng = np.random.default_rng(seed)
    ctrs = rng.normal(0.0, 1.0, (n_clusters, DIM))
    rows, vid = [], id0
    for c in range(n_clusters):
        for p in ctrs[c] + rng.normal(0.0, 0.05, (per, DIM)):
            rows.append((vid, c, [float(round(x, 6)) for x in p]))
            vid += 1
    return spark.createDataFrame(rows, "vec_id long, label int, embedding array<double>")


def _docs(spark, ids, seed, near=()):
    """Word-salad docs; ``near`` maps a new id to a base id whose text it
    repeats with one word changed (a planted near-duplicate)."""
    rnd = random.Random(seed)
    texts = {i: " ".join(rnd.choice(WORDS) for _ in range(24)) for i in ids}
    base = dict(_BASE_TEXTS)
    for new, old in near:
        words = base[old].split()
        words[0] = "zephyr"
        texts[new] = " ".join(words)
    return spark.createDataFrame(sorted(texts.items()), "doc_id long, text string")


_BASE_TEXTS: dict = {}


@pytest.fixture(scope="module")
def frames(spark):
    emb = _emb(spark, 3, 20, 0, 11).persist()
    emb.count()
    docs = _docs(spark, range(40), 1)
    _BASE_TEXTS.update({r["doc_id"]: r["text"] for r in docs.collect()})
    return emb, docs


@pytest.fixture(scope="module")
def base_mount(spark, frames, tmp_path_factory):
    emb, docs = frames
    d = str(tmp_path_factory.mktemp("snapshot") / "base")
    mount(spark, "", d, emb_frame=emb, docs_frame=docs)
    return d


@pytest.fixture()
def m(base_mount, tmp_path):
    """A private copy of the tiny mount (its manifest names relative
    paths, so a copied directory is a complete mount)."""
    d = str(tmp_path / "m")
    shutil.copytree(base_mount, d)
    return d


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _pairs(df):
    return sorted(tuple(r) for r in df.select("id_a", "id_b", "jaccard").collect())


def _on_disk(d):
    return {
        (name, v)
        for name in os.listdir(d)
        if os.path.isdir(os.path.join(d, name))
        for v in os.listdir(os.path.join(d, name))
        if v.startswith("version=")
    }


def test_lazy_frames_survive_a_publish(spark, frames, m):
    """Three lazy reads, each collected after a publish, return the
    rows of the commit they were built from."""
    _emb_, docs = frames
    more = docs.unionByName(_docs(spark, range(100, 120), 2))

    lm = serve_lm_perplexity(spark, m, docs)
    want = _rows(lm)
    refresh(spark, m, sf_dir="", docs_frame=more, families=["text"])
    assert _rows(lm) == want
    assert _rows(serve_lm_perplexity(spark, m, docs)) != want  # it did publish

    delete_ids(spark, m, [0, 1, 2])
    codes = read_codes(spark, m)
    want = _rows(codes)
    assert compact_codes(spark, m) == 3
    assert _rows(codes) == want

    dedup_append(spark, m, _docs(spark, range(200, 206), 3))
    bands = snapshot(spark, m).read("dedup_bands")
    want = _rows(bands)
    live = snapshot(spark, m).paths("dedup_bands")
    compact_dedup(spark, m)
    assert snapshot(spark, m).paths("dedup_bands") != live  # it did publish
    assert _rows(bands) == want


@pytest.mark.parametrize("op", ["append_rows", "compact_dedup", "refresh"])
def test_crash_before_commit_leaves_mount_identical(
    spark, frames, m, live_files, monkeypatch, op
):
    """An exception at the commit point — every new directory written,
    the manifest not yet replaced — leaves the manifest and every live
    file byte-identical; the next locked op's commit collects the
    debris."""
    _emb_, docs = frames
    if op == "compact_dedup":
        dedup_append(spark, m, _docs(spark, range(300, 304), 4))
    run = {
        "append_rows": lambda: append_rows(
            spark, m, emb_delta=_emb(spark, 1, 4, 5000, 13),
            docs_delta=_docs(spark, range(400, 404), 5),
        ),
        "compact_dedup": lambda: compact_dedup(spark, m),
        "refresh": lambda: refresh(
            spark, m, sf_dir="", docs_frame=docs, families=["dedup"]
        ),
    }[op]
    before = live_files(m)

    real_dump = json.dump

    def crash(obj, f, **kw):  # the manifest dump inside the commit
        if isinstance(obj, dict) and "artifacts" in obj:
            raise OSError("crash before the commit")
        return real_dump(obj, f, **kw)

    monkeypatch.setattr(json, "dump", crash)
    with pytest.raises(OSError, match="before the commit"):
        run()
    monkeypatch.undo()
    assert live_files(m) == before
    debris = _on_disk(m) - artifacts._named(load_manifest(m))
    assert debris  # the op got as far as writing its new versions
    delete_ids(spark, m, [7])  # the next locked op commits
    assert not debris & _on_disk(m)


def test_shingles_failure_leaves_dedup_append_unmounted(
    spark, base_mount, m, live_files, monkeypatch, tmp_path
):
    """The shingle rows are the idempotency marker: a failure in their
    write after the band write succeeded must leave the delta
    un-mounted — not even its band rows named — so the retry is a full
    append with the batch pair set."""
    delta = _docs(spark, range(500, 506), 6, near=[(500, 3), (501, 8)])
    ref = str(tmp_path / "ref")
    shutil.copytree(base_mount, ref)
    want = _pairs(dedup_append(spark, ref, delta))
    assert want

    before = live_files(m)
    bands_done = threading.Event()
    real_write = artifacts.Snapshot.write

    def write(self, df, name, *a, **kw):
        if name == "dedup_shingles":
            assert bands_done.wait(120)
            raise OSError("shingles write failed")
        real_write(self, df, name, *a, **kw)
        if name == "dedup_bands":
            bands_done.set()

    monkeypatch.setattr(artifacts.Snapshot, "write", write)
    with pytest.raises(OSError, match="shingles write failed"):
        dedup_append(spark, m, delta)
    monkeypatch.undo()
    assert bands_done.is_set()
    assert live_files(m) == before
    assert _pairs(dedup_append(spark, m, delta)) == want


def test_dedup_lookup_takes_no_write_lock(spark, frames, m):
    """A lookup is a read: it returns while another thread holds the
    mount's write lock (a compaction or refresh can hold it for
    minutes)."""
    _emb_, docs = frames
    probe = docs.where(F.col("doc_id") == 5).first()["text"]
    held, release = threading.Event(), threading.Event()

    def holder():
        with mount_write_lock(m, "compact_dedup"):
            held.set()
            release.wait(300)

    out = {}

    def lookup():
        out["ids"] = [r[0] for r in serve_dedup_lookup(spark, m, probe).collect()]

    t = threading.Thread(target=holder)
    t.start()
    assert held.wait(10)
    try:
        lk = threading.Thread(target=lookup)
        lk.start()
        lk.join(120)
        assert not lk.is_alive(), "the lookup waited on the write lock"
    finally:
        release.set()
        t.join(10)
        lk.join(600)
    assert 5 in out["ids"]


def _scan_metrics(df) -> list[dict]:
    """numFiles/numPartitions of every file scan in ``df``'s executed
    plan (run it first)."""
    def walk(p):
        nodes = [p]
        if "QueryStageExec" in p.getClass().getName():
            nodes += walk(p.plan())
        it = p.children().iterator()
        while it.hasNext():
            nodes += walk(it.next())
        return nodes

    plan = df._jdf.queryExecution().executedPlan()
    if "Adaptive" in plan.getClass().getName():
        plan = plan.finalPhysicalPlan()
    out = []
    for n in walk(plan):
        if "FileSourceScanExec" in n.getClass().getName():
            mt = n.metrics()
            out.append({k: int(mt.apply(k).value()) for k in ("numFiles", "numPartitions")})
    return out


def test_codes_probe_scans_only_probed_cells(spark, m):
    """Cell pruning survives the layout: after an append (a second
    version) and a split (partial entries naming single cells), a probe
    of one cell opens exactly that cell's files in the live entries."""
    append_rows(spark, m, emb_delta=_emb(spark, 3, 3, 6000, 17))
    rep = split_cell(spark, m, cell_id=0, factor=1.0, min_rows=1)
    assert rep["split"]
    snap = snapshot(spark, m)
    entries = snap.manifest["dirs"]["pq_codes"]
    assert any("/" in e for e in entries) and len(entries) > 2
    probed = snap.file_counts("pq_codes")["cell=1"]
    assert probed < sum(snap.file_counts("pq_codes").values())

    df = read_codes(spark, snap).where(F.col("cell").isin([1]))
    assert len(df.collect()) == 23  # 20 mounted + 3 appended
    codes_scan = [s for s in _scan_metrics(df) if s["numPartitions"] > 0]
    assert codes_scan == [{"numFiles": probed, "numPartitions": 2}]


def test_full_refresh_keeps_dedup_tombstones(spark, frames, m):
    """A doc removed with ``delete_docs`` stays removed across a full
    refresh: the docs frame still holds it, so the tombstones must
    outlive the dedup retrain."""
    emb, docs = frames
    probe = _BASE_TEXTS[5]
    assert 5 in [r[0] for r in serve_dedup_lookup(spark, m, probe).collect()]
    delete_docs(spark, m, [5])
    refresh(spark, m, sf_dir="", emb_frame=emb, docs_frame=docs)
    assert snapshot(spark, m).has("dedup_tombstones")
    assert 5 not in [r[0] for r in serve_dedup_lookup(spark, m, probe).collect()]


@pytest.mark.parametrize("families", [None, ["text"]])
def test_refresh_rejects_a_docs_frame_that_shrinks_the_mount(spark, frames, m, families):
    """A docs frame covering 10 of the 40 mounted docs is rejected by a
    full refresh exactly as by a text refresh, and the mount is left as
    it was."""
    emb, docs = frames
    before = load_manifest(m)
    with pytest.raises(ValueError, match="silently vanish"):
        refresh(
            spark, m, sf_dir="", emb_frame=emb,
            docs_frame=docs.where(F.col("doc_id") < 10), families=families,
        )
    assert load_manifest(m) == before


def test_full_refresh_adds_no_family(spark, frames, tmp_path):
    """A full refresh of a mount built with ``dedup=False`` retrains the
    families it holds and adds no dedup index."""
    emb, docs = frames
    d = str(tmp_path / "nodedup")
    mount(spark, "", d, emb_frame=emb, docs_frame=docs, dedup=False)
    man = refresh(spark, d, sf_dir="", emb_frame=emb, docs_frame=docs)
    assert man["generation"] == 1 and "dedup" not in man
    dedup_artifacts = set(FAMILY_ARTIFACTS["dedup"])
    assert not dedup_artifacts & (set(man["artifacts"]) | set(man["dirs"]))


def test_full_refresh_equals_a_refresh_of_every_family(spark, frames, m, tmp_path):
    """``refresh()`` and ``refresh(families=<every mounted family>)``
    leave equal manifests (but for the new directory names) and equal
    artifact rows, on a mount holding all four families."""
    emb, docs = frames
    mount_bpe(spark, m, docs)
    m2 = str(tmp_path / "m2")
    shutil.copytree(m, m2)
    full = refresh(spark, m, sf_dir="", emb_frame=emb, docs_frame=docs)
    named = refresh(
        spark, m2, sf_dir="", emb_frame=emb, docs_frame=docs,
        families=list(FAMILY_ARTIFACTS),
    )
    assert {k: v for k, v in full.items() if k != "dirs"} == {
        k: v for k, v in named.items() if k != "dirs"
    }
    assert sorted(full["dirs"]) == sorted(named["dirs"])
    for name in full["dirs"]:
        assert _rows(snapshot(spark, m).read(name)) == _rows(
            snapshot(spark, m2).read(name)
        ), name
