"""Hot-cell split (mount/maintain.py split_cell, r14).

Appends cluster where the corpus drifts, so the IVF cell nearest the
drift grows without bound and every probe that routes there scans a
runaway partition.  ``split_cell`` is the targeted repair between
``append_rows`` (frozen artifacts) and ``refresh(families=['vector'])``
(full retrain): reconstruct ONLY the hot cell from its PQ codes,
deterministic 2-means, re-encode against the child centroids with the
unchanged shared codebooks, publish by one manifest commit.

Pins: row/id conservation, untouched cells byte-identical (same inode —
the proof that no data moved), serve-side top-k preserved, no-op
policies (balanced, degenerate), append routing to the children, and
the auto_maintain wiring.
"""

import os

import pytest

from simsearch_spark.mount import lock as lockmod
from simsearch_spark.mount.artifacts import load_manifest, mount, snapshot
from simsearch_spark.mount.maintain import (
    append_rows,
    cell_sizes,
    should_split,
    split_cell,
)


def _skewed_frame(spark, hot_n=80, cold_n=10, dim=64, seed=7):
    """Three gaussian clusters with labels 0/1/2 — label 0 oversized, so
    the mount's label-derived cells start skewed."""
    import numpy as np

    rng = np.random.default_rng(seed)
    ctrs = rng.normal(0.0, 1.0, (3, dim))
    rows, vid = [], 0
    for c, n in ((0, hot_n), (1, cold_n), (2, cold_n)):
        for p in ctrs[c] + rng.normal(0.0, 0.05, (n, dim)):
            rows.append((vid, c, [float(round(x, 6)) for x in p]))
            vid += 1
    return (
        spark.createDataFrame(
            rows, "vec_id long, label int, embedding array<double>"
        ),
        [float(x) for x in ctrs[0]],
    )


@pytest.fixture(scope="module")
def skewed(spark):
    emb, hot_center = _skewed_frame(spark)
    emb = emb.persist()
    emb.count()
    docs = spark.createDataFrame(
        [(i, f"plain words for document {i}") for i in range(10)],
        "doc_id long, text string",
    )
    return emb, docs, hot_center


def _mounted(spark, skewed, tmp_path, name):
    emb, docs, _ = skewed
    d = str(tmp_path / name)
    mount(spark, "", d, emb_frame=emb, docs_frame=docs, dedup=False)
    return d


def _inode_map(spark, d):
    """Live codes files, keyed by their path inside the version
    directory ("cell=1/part-….parquet"), to their inode."""
    out = {}
    for p in snapshot(spark, d).paths("pq_codes"):
        top = p.split("/cell=")[0]
        for root, _dirs, files in os.walk(p):
            for f in files:
                if f.endswith(".parquet"):
                    fp = os.path.join(root, f)
                    out[os.path.relpath(fp, top)] = os.stat(fp).st_ino
    return out


def _ids(spark, d):
    return {
        r["vec_id"]
        for r in snapshot(spark, d).read("pq_codes").select("vec_id").collect()
    }


def _cents(spark, d):
    return {
        int(r["cluster_id"])
        for r in snapshot(spark, d).read("ivf_centroids").collect()
    }


def test_split_conserves_rows_ids_and_files(spark, skewed, tmp_path):
    emb, docs, _ = skewed
    d = _mounted(spark, skewed, tmp_path, "m1")
    before = cell_sizes(spark, d)
    ids_before = _ids(spark, d)
    inodes_before = _inode_map(spark, d)

    assert should_split(spark, d, factor=2.0, min_rows=1) == 0
    rep = split_cell(spark, d, factor=2.0, min_rows=1)
    assert rep["split"] and rep["cell"] == 0 and rep["children"] == [3, 4]

    after = cell_sizes(spark, d)
    assert 0 not in after
    assert after[1] == before[1] and after[2] == before[2]
    assert after[3] + after[4] == before[0]
    assert min(after[3], after[4]) > 0
    ids_after = _ids(spark, d)
    assert ids_after == ids_before

    # untouched cells are the old generation's very files — the publish
    # moved zero data bytes for them
    inodes_after = _inode_map(spark, d)
    for rel, ino in inodes_before.items():
        if rel.startswith("cell=1/") or rel.startswith("cell=2/"):
            assert inodes_after[rel] == ino

    # centroid artifact and manifest agree with the new cell set
    cents = _cents(spark, d)
    assert cents == {1, 2, 3, 4}
    man = load_manifest(d)
    assert man["params"]["n_cells"] == 4
    assert man["splits"][0]["cell"] == 0
    assert sorted(man["splits"][0]["children"]) == [3, 4]
    # the op did not leak its lock file
    assert not os.path.exists(os.path.join(d, lockmod.LOCK_NAME))


def test_split_preserves_served_topk(spark, skewed, tmp_path):
    from simsearch_spark.mount.serve import serve_ivfpq_topk

    emb, docs, hot_center = skewed
    d = _mounted(spark, skewed, tmp_path, "m2")
    q = [float(x) for x in hot_center]
    pre = [
        r["id"]
        for r in serve_ivfpq_topk(
            spark, d, emb, q, k=5, n_probe=2, rerank=100
        ).collect()
    ]
    split_cell(spark, d, factor=2.0, min_rows=1)
    post = [
        r["id"]
        for r in serve_ivfpq_topk(
            spark, d, emb, q, k=5, n_probe=3, rerank=100
        ).collect()
    ]
    # with the probe budget covering both children and rerank covering the
    # whole hot cluster, the exact cosine rescore decides both runs on the
    # same true vectors - the re-encoded ADC order cannot change the answer
    assert post == pre


def test_split_noop_when_balanced(spark, tmp_path):
    emb, _ = _skewed_frame(spark, hot_n=10, cold_n=10, seed=9)
    docs = emb.sparkSession.createDataFrame(
        [(0, "words")], "doc_id long, text string"
    )
    d = str(tmp_path / "m3")
    mount(spark, "", d, emb_frame=emb, docs_frame=docs, dedup=False)
    assert should_split(spark, d, factor=2.0, min_rows=1) is None
    rep = split_cell(spark, d, factor=2.0, min_rows=1)
    assert rep == {"split": False, "reason": "no cell over budget"}


def test_split_degenerate_duplicates_is_noop(spark, tmp_path):
    # the hot cell's rows all reconstruct identically -> 2-means
    # collapses onto one child -> refuse to publish an empty cell
    vec = [float(i % 3) for i in range(64)]
    far = [float(10 + (i % 2)) for i in range(64)]
    rows = [(i, 0, vec) for i in range(40)] + [
        (100 + i, 1, far) for i in range(5)
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, label int, embedding array<double>"
    )
    docs = spark.createDataFrame([(0, "words")], "doc_id long, text string")
    d = str(tmp_path / "m4")
    mount(spark, "", d, emb_frame=emb, docs_frame=docs, dedup=False)
    rep = split_cell(spark, d, cell_id=0, factor=1.5, min_rows=1)
    assert rep == {"split": False, "reason": "degenerate split"}
    assert cell_sizes(spark, d) == {0: 40, 1: 5}


def test_append_after_split_routes_to_children(spark, skewed, tmp_path):
    import numpy as np

    emb, docs, hot_center = skewed
    d = _mounted(spark, skewed, tmp_path, "m5")
    split_cell(spark, d, factor=2.0, min_rows=1)
    sizes0 = cell_sizes(spark, d)

    rng = np.random.default_rng(21)
    delta = spark.createDataFrame(
        [
            (5000 + i, [float(round(x, 6)) for x in np.array(hot_center) + v])
            for i, v in enumerate(rng.normal(0.0, 0.05, (8, 64)))
        ],
        "vec_id long, embedding array<double>",
    )
    append_rows(spark, d, emb_delta=delta)  # no label -> nearest centroid
    sizes1 = cell_sizes(spark, d)
    assert 0 not in sizes1  # the retired cell id never comes back
    assert sizes1[1] == sizes0[1] and sizes1[2] == sizes0[2]
    assert (sizes1[3] + sizes1[4]) - (sizes0[3] + sizes0[4]) == 8


def test_auto_maintain_splits_hot_cell(spark, skewed, tmp_path):
    from simsearch_spark.mount.audit import auto_maintain

    emb, docs, _ = skewed
    d = _mounted(spark, skewed, tmp_path, "m7")
    rep = auto_maintain(
        spark,
        d,
        split_kwargs={"factor": 2.0, "min_rows": 1},
        compact=False,
    )
    assert rep["would_split"] == 0
    assert rep["split"]["split"] is True
    sizes = cell_sizes(spark, d)
    assert 0 not in sizes
    # a second sweep with every cell under budget decides no split
    rep2 = auto_maintain(
        spark,
        d,
        split_kwargs={"factor": 2.0, "min_rows": max(sizes.values()) + 1},
        compact=False,
    )
    assert rep2["would_split"] is None and "split" not in rep2


# ------------------------------------------------------------- merge dual


def test_merge_folds_dust_into_nearest_and_keeps_files(spark, skewed, tmp_path):
    from simsearch_spark.mount.maintain import merge_cells, should_merge

    d = _mounted(spark, skewed, tmp_path, "mm1")
    before = cell_sizes(spark, d)  # {0: 80, 1: 10, 2: 10}
    ids_before = _ids(spark, d)
    inodes_before = _inode_map(spark, d)

    assert should_merge(spark, d, factor=2.0) == [1, 2]
    rep = merge_cells(spark, d, factor=2.0)
    assert rep["merged"] and rep["cells"] == [1, 2]
    assert rep["into"] == {1: 0, 2: 0}  # only survivor

    after = cell_sizes(spark, d)
    assert after == {0: 100}
    ids_after = _ids(spark, d)
    assert ids_after == ids_before
    # the target cell's ORIGINAL files are untouched (same inodes); the
    # moved rows arrived as NEW files alongside them
    inodes_after = _inode_map(spark, d)
    for rel, ino in inodes_before.items():
        if rel.startswith("cell=0/"):
            assert inodes_after[rel] == ino
    assert len(inodes_after) > sum(
        1 for r in inodes_before if r.startswith("cell=0/")
    )

    cents = _cents(spark, d)
    assert cents == {0}
    man = load_manifest(d)
    assert man["params"]["n_cells"] == 1
    assert man["merges"][0]["into"] == {"1": 0, "2": 0}
    assert not os.path.exists(os.path.join(d, lockmod.LOCK_NAME))


def test_merge_preserves_served_topk(spark, skewed, tmp_path):
    from simsearch_spark.mount.maintain import merge_cells
    from simsearch_spark.mount.serve import serve_ivfpq_topk

    emb, docs, _ = skewed
    d = _mounted(spark, skewed, tmp_path, "mm2")
    # query at a COLD cluster's centroid: its members are exactly the
    # rows the merge moves
    cold_center = [
        float(x)
        for x in snapshot(spark, d).read("ivf_centroids")
        .where("cluster_id = 1")
        .collect()[0]["centroid"]
    ]
    pre = [
        r["id"]
        for r in serve_ivfpq_topk(
            spark, d, emb, cold_center, k=5, n_probe=3, rerank=100
        ).collect()
    ]
    merge_cells(spark, d, factor=2.0)
    post = [
        r["id"]
        for r in serve_ivfpq_topk(
            spark, d, emb, cold_center, k=5, n_probe=1, rerank=100
        ).collect()
    ]
    # full-probe before vs single-cell after (everything lives in the
    # one survivor): the exact rescore sees the same true vectors
    assert post == pre


def test_merge_noop_when_balanced_or_all_dust(spark, tmp_path):
    from simsearch_spark.mount.maintain import merge_cells

    emb, _ = _skewed_frame(spark, hot_n=10, cold_n=10, seed=3)
    docs = spark.createDataFrame([(0, "words")], "doc_id long, text string")
    d = str(tmp_path / "mm3")
    mount(spark, "", d, emb_frame=emb, docs_frame=docs, dedup=False)
    rep = merge_cells(spark, d, factor=2.0)
    assert rep == {"merged": False, "reason": "no dust cells"}


def test_auto_maintain_merges_dust(spark, skewed, tmp_path):
    from simsearch_spark.mount.audit import auto_maintain

    d = _mounted(spark, skewed, tmp_path, "mm4")
    rep = auto_maintain(
        spark,
        d,
        split_kwargs={"factor": 2.0, "min_rows": 200},  # split off; merge on
        compact=False,
    )
    assert rep["would_split"] is None
    assert rep["would_merge"] == [1, 2]
    assert rep["merge"]["merged"] is True
    assert cell_sizes(spark, d) == {0: 100}


def test_stream_reloads_artifacts_after_midstream_split(
    spark, skewed, tmp_path
):
    """A split/merge between micro-batches retires centroid ids; the
    sink must revalidate its closure artifacts per batch (one census)
    or it encodes rows into a cell no reader probes."""
    import numpy as np

    from simsearch_spark.mount.lock import mount_write_lock
    from simsearch_spark.mount.maintain import stream_append_codes

    emb, docs, hot_center = skewed
    d = _mounted(spark, skewed, tmp_path, "ms1")

    rng = np.random.default_rng(33)
    delta = spark.createDataFrame(
        [
            (7000 + i, [float(round(x, 6)) for x in np.array(hot_center) + v])
            for i, v in enumerate(rng.normal(0.0, 0.05, (6, 64)))
        ],
        "vec_id long, embedding array<double>",
    )
    src = str(tmp_path / "ms1_src")
    delta.write.parquet(src + "/b0")
    stream = spark.readStream.schema(
        "vec_id long, embedding array<double>"
    ).parquet(src + "/*")

    # hold the lock across stream start: the first batch BLOCKS while we
    # split (re-entrant for this thread) — a deterministic "split
    # interleaved after the closure artifacts were loaded"
    with mount_write_lock(d, "interleave"):
        q = stream_append_codes(
            spark, d, stream, checkpoint_dir=str(tmp_path / "ms1_ckpt")
        )
        rep = split_cell(spark, d, factor=2.0, min_rows=1)
        assert rep["split"] and rep["cell"] == 0
    q.awaitTermination(300)

    sizes = cell_sizes(spark, d)
    # the buggy stream-start closure would assign the delta to the
    # RETIRED cell 0 — rows no probe ever reads
    assert 0 not in sizes
    assert sum(sizes.values()) == 106
    assert sizes[3] + sizes[4] == 86  # 80 split members + 6 streamed


def test_append_rejects_retired_cell_label(spark, skewed, tmp_path):
    import pytest as _pytest

    emb, docs, hot_center = skewed
    d = _mounted(spark, skewed, tmp_path, "ms2")
    split_cell(spark, d, factor=2.0, min_rows=1)
    delta = spark.createDataFrame(
        [(9000, 0, [0.0] * 64)],
        "vec_id long, label int, embedding array<double>",
    )
    with _pytest.raises(ValueError, match="retired by a split/merge"):
        append_rows(spark, d, emb_delta=delta)


def test_zero_row_cell_is_mergeable(spark, skewed, tmp_path):
    """Review r14: a cell whose rows were all deleted then compacted
    away has no codes partition but still occupies a probe slot — the
    merge policy must see it and retire its centroid."""
    from simsearch_spark.mount.maintain import (
        compact_codes,
        delete_ids,
        merge_cells,
        should_merge,
    )

    d = _mounted(spark, skewed, tmp_path, "zr1")
    delete_ids(spark, d, list(range(80, 90)))  # every row of cell 1
    compact_codes(spark, d)
    assert 1 not in cell_sizes(spark, d)
    assert 1 in should_merge(spark, d, factor=2.0)
    rep = merge_cells(spark, d, cell_ids=[1], factor=2.0)
    assert rep["merged"] and rep["rows"] == {1: 0}
    cents = _cents(spark, d)
    assert 1 not in cents
    assert sum(cell_sizes(spark, d).values()) == 90


def test_stream_replayed_batch_with_retired_cell_is_noop(
    spark, skewed, tmp_path
):
    """Review r14: an at-least-once replay of a batch whose label cell
    was retired by a mid-stream split must dedupe to empty (id
    anti-join) BEFORE the retired-cell validation — the stream stays
    alive and commits a no-op."""
    from simsearch_spark.mount.artifacts import load_manifest
    from simsearch_spark.mount.maintain import stream_append_codes

    emb, docs, _ = skewed
    d = _mounted(spark, skewed, tmp_path, "rp1")
    split_cell(spark, d, factor=2.0, min_rows=1)
    n0 = load_manifest(d)["counts"]["n_vectors"]

    # "replay": ids 0..5 already live in the codes table, labelled with
    # the now-retired cell 0
    replay = emb.where("vec_id < 6").select("vec_id", "label", "embedding")
    src = str(tmp_path / "rp1_src")
    replay.write.parquet(src + "/b0")
    stream = spark.readStream.schema(
        "vec_id long, label int, embedding array<double>"
    ).parquet(src + "/*")
    q = stream_append_codes(
        spark, d, stream, checkpoint_dir=str(tmp_path / "rp1_ckpt")
    )
    q.awaitTermination(300)
    assert q.exception() is None  # the buggy order kills the stream here
    assert load_manifest(d)["counts"]["n_vectors"] == n0
    assert sum(cell_sizes(spark, d).values()) == 100


def test_append_rejects_null_cell_label(spark, skewed, tmp_path):
    import pytest as _pytest

    d = _mounted(spark, skewed, tmp_path, "nl1")
    delta = spark.createDataFrame(
        [(9100, None, [0.5] * 64)],
        "vec_id long, label int, embedding array<double>",
    )
    with _pytest.raises(ValueError, match="not in the mounted"):
        append_rows(spark, d, emb_delta=delta)


def test_full_lifecycle_sweep(spark, skewed, tmp_path):
    """The closed loop in one sweep: deletes push the tombstone budget
    over, the sweep compacts, then rebalances the hot cell — audits,
    reclamation, and repair composing in a single auto_maintain call the
    way a scheduled deployment runs them."""
    from simsearch_spark.mount.artifacts import load_manifest
    from simsearch_spark.mount.audit import auto_maintain
    from simsearch_spark.mount.maintain import delete_ids

    emb, docs, _ = skewed
    d = _mounted(spark, skewed, tmp_path, "lc1")
    delete_ids(spark, d, list(range(20)))  # 20% of cell 0 -> over budget

    rep = auto_maintain(
        spark,
        d,
        emb=emb,
        split_kwargs={"factor": 2.0, "min_rows": 1},
    )
    # vector audit ran and found the frozen index healthy (no refresh)
    assert rep["audits"]["vector"]["recall_at_k"] >= 0.8
    assert rep["refreshed"] == []
    # compaction reclaimed exactly the tombstoned rows
    assert rep["compacted"]["codes_rows"] == 20
    # the still-hot cell 0 (60 rows vs 10/10) split in the same sweep
    assert rep["would_split"] == 0 and rep["split"]["split"] is True
    assert rep["would_merge"] == []

    sizes = cell_sizes(spark, d)
    assert 0 not in sizes and sum(sizes.values()) == 80
    assert load_manifest(d)["counts"]["n_vectors"] == 80
    assert sizes[3] + sizes[4] == 60
