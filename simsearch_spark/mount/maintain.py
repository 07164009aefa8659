"""Catalog maintenance on a mounted instance — the Spark analog of the
reference's ``/append`` and ``/delete`` endpoints
(``SimSearchController.java:315-496``: a mounted instance accepts
incremental data without a remount).

The FROZEN-ARTIFACT contract: appends never retrain.  New vectors are
assigned to the EXISTING IVF cells (one broadcast argmin when they carry
no assignment) and PQ-encoded with the EXISTING residual codebooks — so
``mount(base); append_rows(delta)`` is definitionally equal to
``mount(base ∪ delta, train_frame=base)`` (tests/test_mount.py pins the
served top-k hash-equal).  The mergeable-by-construction statistics
(BM25 df/n_docs/Σdl, LM bigram/context counts, the distinct token set)
merge exactly — integer sums and set unions have no order sensitivity.
Language-ID profiles are frozen (a profile is a trained artifact, not a
corpus statistic).

Deletes are tombstones: the serve path (``serve.read_codes``) subtracts
them with a broadcast anti-join.  Statistics tables deliberately keep the
deleted documents' mass — matching the reference, whose delete removes
rows from SERVING but does not re-derive global statistics until the next
mount; a compaction remount is the honest path to reclaiming them.

Publication follows the one rule of ``mount/lock.py``: every op reads
one snapshot, writes new version directories, and commits the manifest
(``artifacts.save_manifest``).  Appends and deletes add one directory to
their artifact; the compactions and ``append_rows``' text statistics
replace the artifact's list.  Rebalance (r14): ``split_cell`` halves an
IVF cell that drifting appends grew past the skew budget;
``merge_cells`` folds dust cells (shrunk by deletes + compaction, or
fully emptied) into their nearest sibling.  Both reconstruct only the
affected rows from their PQ codes, re-encode against the new centroid
with the unchanged shared codebooks, append them as a new codes version
and retire the old cells' partitions from the manifest's list
(``Snapshot.drop_partitions``) — O(hot/dust rows) data movement, every
untouched file the same file.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from simsearch_spark.mount.artifacts import (
    _snap,
    encode_residual_codes,
    load_centroid_map,
    load_codebooks,
    snapshot,
)
from simsearch_spark.mount.lock import locked, mount_write_lock
from simsearch_spark.operators.kmeans import nearest_center, probe_cells

__all__ = [
    "append_rows",
    "delete_ids",
    "compact_codes",
    "compact_dedup",
    "split_cell",
    "should_split",
    "merge_cells",
    "should_merge",
    "cell_sizes",
    "stream_append_codes",
    "maintenance_stats",
    "should_compact",
    "COMPACT_TOMBSTONE_FRACTION",
    "COMPACT_FILES_PER_CELL",
    "SPLIT_SKEW_FACTOR",
    "SPLIT_MIN_ROWS",
]

#: compaction trigger policy (r12, derived from tools/maintain_probe.py —
#: numbers in SCALE.md §r12): serve cost is insensitive to tombstone
#: fraction until the anti-join's broadcast build and the dead-row decode
#: become visible (~20 % dead), and file-count growth from many small
#: appends degrades the probed-partition scan roughly linearly in files
#: opened.  Compact when EITHER budget is exceeded.
COMPACT_TOMBSTONE_FRACTION = 0.2
COMPACT_FILES_PER_CELL = 16


def maintenance_stats(spark: SparkSession, mount_dir: str) -> dict:
    """Bounded maintenance counters: live/tombstoned row counts from the
    manifest + one tombstone count, and the parquet file counts per
    partition directory of the live versions (os.walk — no Spark job)."""
    snap = snapshot(spark, mount_dir)
    manifest = snap.manifest
    # a dedup-only mount (mount_dedup on a fresh directory) has no vector
    # artifacts — report zero vectors instead of a bare KeyError
    n_vectors = int(manifest.get("counts", {}).get("n_vectors", 0))
    n_tomb = (
        int(snap.read("tombstones").select("vec_id").distinct().count())
        if snap.has("tombstones")
        else 0
    )
    per_cell = {
        k: n for k, n in snap.file_counts("pq_codes").items()
        if k.startswith("cell=")
    }
    # the dedup artifacts fragment the same way (every append adds one
    # file per touched band/shingle directory) — count them too (r13)
    max_dedup = max(
        (
            n
            for art in ("dedup_bands", "dedup_shingles")
            for n in snap.file_counts(art).values()
        ),
        default=0,
    )
    # dedup tombstones (delete_docs, r14) accumulate dead rows every
    # probe re-subtracts — same budget mechanics as the vector side
    dd = manifest.get("dedup") or {}
    n_dtomb = 0
    if snap.has("dedup_tombstones") and dd:
        n_dtomb = int(
            snap.read("dedup_tombstones").select(dd["id_col"]).distinct().count()
        )
    n_docs_dd = int(dd.get("n_docs", 0))
    return {
        "n_vectors": n_vectors,
        "n_tombstones": n_tomb,
        "tombstone_fraction": (n_tomb / n_vectors) if n_vectors else 0.0,
        "n_dedup_tombstones": n_dtomb,
        "dedup_tombstone_fraction": (n_dtomb / n_docs_dd) if n_docs_dd else 0.0,
        "n_cells": len(per_cell),
        "max_files_per_cell": max(per_cell.values(), default=0),
        "max_files_per_dedup_dir": max_dedup,
    }


def should_compact(spark: SparkSession, mount_dir: str) -> bool:
    """The r12 trigger: tombstone mass or per-cell file count over budget
    — r13 extends the file budget to the dedup band/shingle directories
    (same per-directory scan-cost mechanics, same constant)."""
    s = maintenance_stats(spark, mount_dir)
    return (
        s["tombstone_fraction"] >= COMPACT_TOMBSTONE_FRACTION
        or s["dedup_tombstone_fraction"] >= COMPACT_TOMBSTONE_FRACTION
        or s["max_files_per_cell"] > COMPACT_FILES_PER_CELL
        or s["max_files_per_dedup_dir"] > COMPACT_FILES_PER_CELL
    )


def _check_cells_known(
    delta: DataFrame, cell: str, cmap: dict[int, list[float]], op: str
) -> None:
    """Fail loudly when a caller-supplied assignment column names a cell
    the centroid map does not know — after a split/merge retires an id,
    rows written under it would sit in a partition NO reader ever probes
    (silent invisibility); a NULL or never-existed id is the same class.
    One delta-bounded distinct, only on the supplied-assignment path."""
    bad = (
        delta.select(F.col(cell).cast("long").alias("c"))
        .where(
            F.col("c").isNull()
            | ~F.col("c").isin([int(k) for k in cmap])
        )
        .distinct()
        .limit(5)
        .collect()
    )
    if bad:
        ids = sorted(
            (None if r["c"] is None else int(r["c"]) for r in bad),
            key=lambda x: (x is None, x if x is not None else 0),
        )
        raise ValueError(
            f"{op}: delta names cell id(s) {ids} not in the mounted "
            "centroid map — retired by a split/merge, or never existed; "
            "drop the assignment column to re-route by nearest centroid"
        )


def _assign_cells(
    emb: DataFrame, id_col: str, vec_col: str, cmap: dict[int, list[float]]
):
    """Route rows without an assignment to their ``nearest_center`` cell
    (broadcast literal centroids, codegen, row-local) as ``__cell``."""
    return emb.withColumn("__cell", nearest_center(F.col(vec_col), cmap)["id"])


def _drop_existing_ids(snap, delta: DataFrame, id_col: str) -> DataFrame:
    """Anti-join a delta against the ids already in ``snap``'s codes
    table, so a re-submitted row can never land twice (duplicate code
    rows would be returned twice in ADC candidates).  Reads ONLY the id
    column of the codes parquet (column-pruned scan) and broadcasts
    nothing — the codes side is the big side, so the delta probes it as
    a left-anti join."""
    if not snap.has("pq_codes"):
        return delta
    existing = snap.read("pq_codes").select(F.col("vec_id").alias(id_col))
    return delta.join(existing, id_col, "left_anti")


@locked("append_rows")
def append_rows(
    spark: SparkSession,
    mount_dir: str,
    emb_delta: DataFrame | None = None,
    docs_delta: DataFrame | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "label",
    dedup_ids: bool = True,
) -> dict:
    """Append a vector delta and/or a document delta to a mounted
    instance without retraining; returns the updated manifest.

    ``dedup_ids`` (default on) silently drops delta rows whose id already
    exists in the codes table — re-submitting a delta is then a no-op
    instead of creating duplicate code rows (ADVICE r11).  Disjoint-id
    appends are unaffected."""
    snap = snapshot(spark, mount_dir)
    manifest = snap.manifest

    if emb_delta is not None:
        cmap = load_centroid_map(spark, snap)
        books = load_codebooks(spark, snap)
        # a TOMBSTONED id still occupies its code row until compaction,
        # so the dedup anti-join below would silently drop a re-insert —
        # and accepting it would leave two rows for one id.  Fail loudly:
        # the id lifecycle is insert → delete → compact_codes → reusable
        # (review r12; one broadcast count, only when tombstones exist)
        if snap.has("tombstones"):
            tomb = snap.read("tombstones").select("vec_id").distinct()
            n_dead = (
                emb_delta.select(F.col(id_col).alias("vec_id"))
                .join(F.broadcast(tomb), "vec_id")
                .count()
            )
            if n_dead:
                raise ValueError(
                    f"append_rows: {n_dead} delta id(s) are tombstoned; a "
                    "deleted id is not reusable until compact_codes reclaims "
                    "it (insert -> delete -> compact -> reusable)"
                )
        if dedup_ids:
            emb_delta = _drop_existing_ids(snap, emb_delta, id_col)
        n_new = int(emb_delta.count())
        if n_new > 0:  # a fully-duplicate delta dedupes to empty: no-op
            if cell_col in emb_delta.columns:
                delta, cell = emb_delta, cell_col
                _check_cells_known(delta, cell, cmap, "append_rows")
            else:
                delta, cell = (
                    _assign_cells(emb_delta, id_col, vec_col, cmap),
                    "__cell",
                )
            codes = encode_residual_codes(delta, id_col, vec_col, cell, cmap, books)
            snap.write(codes, "pq_codes", partition_by=["cell"], append=True)
        manifest["counts"]["n_vectors"] += n_new

    if docs_delta is not None:
        from simsearch_spark.functions.text import ws_tokens
        from simsearch_spark.queries.vocab import lm_doc_bigrams

        docs = docs_delta.where(F.col("text").isNotNull())
        toks = ws_tokens(F.col("text"))
        tdocs = docs.select("doc_id", toks.alias("toks"))

        # BM25: integer-exact merges (df sums, doc count, Σdl; avgdl is the
        # exact integer Σdl over the exact count — identical to F.avg over
        # the union because integer doubles below 2^53 sum exactly); each
        # merged table is a rewrite: a new version replaces the list
        merged_df = (
            snap.read("bm25_df")
            .unionByName(
                tdocs.select(
                    "doc_id", F.explode(F.array_distinct("toks")).alias("term")
                )
                .groupBy("term")
                .agg(F.count(F.lit(1)).alias("df"))
            )
            .groupBy("term")
            .agg(F.sum("df").alias("df"))
        )
        snap.write(merged_df, "bm25_df")

        g = snap.read("bm25_global").first()
        d = tdocs.agg(
            F.count(F.lit(1)).alias("n"), F.sum(F.size("toks").cast("long")).alias("s")
        ).first()
        n_docs = int(g["n_docs"]) + int(d["n"] or 0)
        sum_dl = int(g["sum_dl"]) + int(d["s"] or 0)
        snap.write(
            spark.createDataFrame(
                [(n_docs, (sum_dl / n_docs) if n_docs else 0.0, sum_dl)],
                "n_docs long, avgdl double, sum_dl long",
            ),
            "bm25_global",
        )

        # LM: bigram/context count sums; vocab re-derived from the merged
        # distinct token set (countDistinct is not mergeable from counts)
        bgc = lm_doc_bigrams(docs).persist()
        try:
            snap.write(
                snap.read("lm_bigrams")
                .unionByName(bgc.groupBy("ngram").agg(F.sum("m").alias("cb")))
                .groupBy("ngram")
                .agg(F.sum("cb").alias("cb")),
                "lm_bigrams",
            )
            snap.write(
                snap.read("lm_ctx")
                .unionByName(bgc.groupBy("ctx").agg(F.sum("m").alias("cu")))
                .groupBy("ctx")
                .agg(F.sum("cu").alias("cu")),
                "lm_ctx",
            )
        finally:
            bgc.unpersist()
        snap.write(
            snap.read("lm_tokens")
            .unionByName(docs.select(F.explode(toks).alias("tok")))
            .distinct(),
            "lm_tokens",
        )
        # read-your-writes: the count reads the merged token set
        snap.write(
            snap.read("lm_tokens").agg(F.count(F.lit(1)).alias("v")),
            "lm_vocab",
        )

    snap.commit()
    return manifest


@locked("delete_ids")
def delete_ids(spark: SparkSession, mount_dir: str, vec_ids: list[int]) -> None:
    """Tombstone vectors by id: served results exclude them immediately
    (``serve.read_codes``); their code rows are reclaimed by
    ``compact_codes``, and statistics tables keep their mass (the
    reference's delete semantics).  A deleted id is NOT reusable until
    compaction (``append_rows`` rejects it loudly) — the id lifecycle is
    insert → delete → compact → reusable."""
    snap = snapshot(spark, mount_dir)  # validates it IS a mount
    snap.write(
        spark.createDataFrame([(int(i),) for i in vec_ids], "vec_id long"),
        "tombstones",
        append=True,
    )
    snap.commit()


@locked("compact_codes")
def compact_codes(spark: SparkSession, mount_dir: str) -> int:
    """Reclaim tombstoned rows: rewrite the codes table minus the
    tombstone set as ONE new version (still ``partitionBy(cell)``) and
    stop naming the tombstones.  Served results are unchanged by
    construction (``read_codes`` subtracted the set already) —
    compaction only stops every future scan from re-paying the anti-join
    and the dead bytes, and bounds the list of live directories appends
    grow.  Runs under the mount write lock; its commit is fenced
    (mount/lock.py), so a lock-bypassing writer aborts it instead of
    losing rows.  Returns the number of rows reclaimed."""
    snap = snapshot(spark, mount_dir)
    has_tombstones = snap.has("tombstones")
    if (
        not has_tombstones
        and max(snap.file_counts("pq_codes").values(), default=0) <= 1
        and len(snap.paths("pq_codes")) <= 1
    ):
        # no dead rows and no append debris (file compaction is the
        # trigger's other budget, r12): nothing to rewrite
        return 0
    codes = snap.read("pq_codes")
    if has_tombstones:
        tomb = snap.read("tombstones").select("vec_id").distinct()
        live = codes.join(F.broadcast(tomb), "vec_id", "left_anti")
    else:
        live = codes
    before = int(codes.count())
    # repartition ON the partition column: compaction also collapses the
    # file debris many small appends left behind (one file per cell —
    # a petabyte deployment would repartition(n, "cell") to keep
    # intra-cell parallelism; the trigger is COMPACT_FILES_PER_CELL)
    snap.write(live.repartition("cell"), "pq_codes", partition_by=["cell"])
    after = int(snap.read("pq_codes").count())
    snap.drop("tombstones")
    snap.manifest["counts"]["n_vectors"] = after
    snap.commit()
    return before - after


@locked("compact_dedup")
def compact_dedup(spark: SparkSession, mount_dir: str) -> int:
    """Collapse the dedup index's append debris (r13) and reclaim
    tombstoned documents (r14): every ``dedup_append`` adds one version
    with one parquet file per touched band/shingle directory, so at
    production cadence the per-directory file count — and with it the
    probe's footer-open cost — grows linearly in appends;
    ``delete_docs`` tombstones additionally leave dead band/shingle rows
    every probe re-subtracts.  Rewrite each fragmented artifact as ONE
    new version with the MOUNT-time layout (one file per directory, rows
    sorted so point predicates skip row groups) MINUS the tombstoned
    ids, stop naming the tombstones and refresh the manifest doc count.
    Served results are unchanged by construction (the pair streams
    subtracted the set already) — compaction only stops future probes
    from re-paying the anti-filter and the dead bytes, and makes deleted
    ids reusable.  Returns the number of parquet files reclaimed; 0 when
    neither artifact is fragmented and nothing is tombstoned.

    Runs under the mount write lock; its commit is fenced
    (mount/lock.py), so an append racing a lock-bypassing compaction
    aborts the compaction instead of silently losing the appended
    rows."""
    snap = snapshot(spark, mount_dir)
    manifest = snap.manifest
    if not manifest.get("dedup"):
        raise ValueError("mount has no dedup artifacts — run mount_dedup first")
    id_col = manifest["dedup"]["id_col"]
    has_tombstones = snap.has("dedup_tombstones")
    tomb = (
        snap.read("dedup_tombstones").select(id_col).distinct()
        if has_tombstones
        else None
    )

    reclaimed = 0
    rewrote = False
    plans = [
        ("dedup_bands", ["band_idx", "bkt"], "band_hash"),
        ("dedup_shingles", ["sbkt"], id_col),
    ]
    for name, part_cols, sort_col in plans:
        counts = snap.file_counts(name)
        before = sum(counts.values())
        if (
            before <= len(counts)
            and len(snap.paths(name)) <= 1
            and not has_tombstones
        ):
            continue  # one version, one file per directory, no dead rows
        live = snap.read(name)
        if tomb is not None:
            live = live.join(F.broadcast(tomb), id_col, "left_anti")
        # collapse duplicate rows (r14): a delta carrying one id twice
        # appends its band rows twice; the duplicates are
        # pair-stream-invisible (pairs dedupe) but can inflate hot-bucket
        # ROW counts past the cap — compaction is where they heal.  One
        # row per doc in the shingle table; full-row distinct for bands
        # (rows are value-identical per key).
        live = (
            live.dropDuplicates([id_col])
            if name == "dedup_shingles"
            else live.dropDuplicates()
        )
        snap.write(
            live.repartition(*part_cols).sortWithinPartitions(sort_col),
            name,
            partition_by=part_cols,
        )
        reclaimed += before - sum(snap.file_counts(name).values())
        rewrote = True
    if has_tombstones:
        # the shingle table holds exactly one row per live doc — refresh
        # the manifest count from it, then stop naming the tombstones
        manifest["dedup"]["n_docs"] = int(snap.read("dedup_shingles").count())
        snap.drop("dedup_tombstones")
    if rewrote:
        snap.commit()
    return reclaimed


#: hot-cell split policy: a cell whose row count exceeds SPLIT_SKEW_FACTOR
#: × the mean cell size AND holds at least SPLIT_MIN_ROWS rows is a skew
#: hazard — every probe that routes to it scans that whole partition, so
#: one runaway cell (appends cluster where the data drifts) degrades
#: serve latency for exactly the queries the drift made common.  The
#: split is the targeted repair between ``append_rows`` (never retrains)
#: and ``refresh(families=['vector'])`` (retrains everything).
SPLIT_SKEW_FACTOR = 4.0
SPLIT_MIN_ROWS = 256


def cell_sizes(spark: SparkSession, mount_dir) -> dict[int, int]:
    """Per-cell row counts of the codes table — one column-pruned scan
    over the partition column only (the footers carry the counts; no
    data pages are read).  ``mount_dir`` may be a ``Snapshot``."""
    snap = _snap(spark, mount_dir)
    if not snap.has("pq_codes"):
        return {}
    rows = snap.read("pq_codes").groupBy("cell").count().collect()
    return {int(r["cell"]): int(r["count"]) for r in rows}


def _pick_hot(
    sizes: dict[int, int], factor: float, min_rows: int
) -> int | None:
    """The skew policy over a computed size map.  Needs ≥ 2 cells
    (splitting the only cell of a 1-cell mount just renames the scan);
    lowest cell id wins ties."""
    if len(sizes) < 2:
        return None
    mean = sum(sizes.values()) / len(sizes)
    hot = max(sizes, key=lambda c: (sizes[c], -c))
    if sizes[hot] >= max(min_rows, factor * mean):
        return hot
    return None


def should_split(
    spark: SparkSession,
    mount_dir: str,
    factor: float = SPLIT_SKEW_FACTOR,
    min_rows: int = SPLIT_MIN_ROWS,
) -> int | None:
    """The cell id ``split_cell`` would target, or ``None`` when no cell
    is over budget.  Uses the centroid-map cell universe (zero-row cells
    count toward the mean) — the same sizes the sweep's merge decision
    reads, so the two policies never disagree about the mount's shape."""
    sizes, _cmap = _cell_universe(spark, mount_dir)
    return _pick_hot(sizes, factor, min_rows)


def _decode_cell_expr(centroid: list[float], books: list[dict[int, list[float]]]):
    """Reconstruct a PQ-coded row of ONE known cell: per subspace pick the
    codebook entry its stored code names and add the centroid slice —
    the exact inverse of ``encode_residual_codes`` for that cell (pure
    codegen column expressions, row-local, zero shuffle)."""
    from simsearch_spark.operators.kmeans import _lit_vec

    m = len(books)
    dsub = len(centroid) // m
    segs = []
    for j, cb in enumerate(books):
        keys = sorted(cb)
        if keys != list(range(len(keys))):
            raise ValueError(
                f"split_cell: codebook {j} keys are not contiguous 0..ksub-1"
            )
        arr = F.array(*[_lit_vec([float(x) for x in cb[c]]) for c in keys])
        picked = F.element_at(arr, F.col(f"code_{j}").cast("int") + 1)
        cent = _lit_vec([float(x) for x in centroid[j * dsub : (j + 1) * dsub]])
        segs.append(F.zip_with(cent, picked, lambda a, b: a + b))
    return F.concat(*segs)


@locked("split_cell")
def split_cell(
    spark: SparkSession,
    mount_dir: str,
    cell_id: int | None = None,
    parts: int = 2,
    factor: float = SPLIT_SKEW_FACTOR,
    min_rows: int = SPLIT_MIN_ROWS,
    iters: int = 2,
    _sizes: dict[int, int] | None = None,
) -> dict:
    """Split one oversized IVF cell into ``parts`` children without
    retraining anything else — the targeted index repair between
    ``append_rows`` (frozen artifacts) and a vector-family ``refresh``
    (full retrain).  Appends cluster where the corpus drifts, so the
    cell nearest the drift grows without bound; its probe cost grows
    with it.  The split re-partitions ONLY that cell.

    Mechanics: the hot cell's rows are PQ-RECONSTRUCTED (codes are the
    mount's vector store — originals are not retained), 2-means-split
    with the deterministic lowest-id seeding the trainers use
    (``operators/kmeans.py``), re-encoded as residuals against their
    child centroid with the UNCHANGED shared codebooks, appended as a new
    codes version while the hot cell's partitions leave the manifest's
    list — one commit, so lock-free readers see the old cell or its
    children, never a half-split cell.
    Re-quantizing reconstructions adds at most one quantization step of
    error to the split cell's ADC distances; the exact rescore stage
    (serve-side) is unaffected.

    ``cell_id=None`` picks the ``should_split`` target (skew policy
    above) and returns ``{"split": False}`` when nothing is over budget.
    Returns a report dict; manifest gains a ``splits`` history entry and
    the updated ``n_cells``."""
    # _sizes: precomputed cell counts, valid ONLY while the caller holds
    # the mount write lock for the whole decision+repair (auto_maintain's
    # sweep) - review r14, one universe scan per sweep instead of four
    snap = snapshot(spark, mount_dir)
    sizes = _sizes if _sizes is not None else cell_sizes(spark, snap)
    if cell_id is None:
        cell_id = _pick_hot(sizes, factor, min_rows)
        if cell_id is None:
            return {"split": False, "reason": "no cell over budget"}
    if cell_id not in sizes:
        raise ValueError(f"split_cell: cell {cell_id} has no rows")
    if parts < 2:
        raise ValueError("split_cell: parts must be >= 2")

    manifest = snap.manifest
    cmap = load_centroid_map(spark, snap)
    books = load_codebooks(spark, snap)
    if cell_id not in cmap:
        raise ValueError(f"split_cell: cell {cell_id} has no centroid")

    from simsearch_spark.operators.kmeans import (
        _rounded_means,
        assign_clusters,
    )

    hot = (
        snap.read("pq_codes")
        .where(F.col("cell") == int(cell_id))
        .select(
            "vec_id",
            _decode_cell_expr(cmap[cell_id], books).alias("__recon"),
        )
        .persist()
    )
    try:
        # deterministic Lloyd on the reconstructions: lowest-id seeding,
        # round-6 means — the trainers' determinism contract, so a
        # re-run of the same split is bit-identical
        init = (
            hot.orderBy("vec_id")
            .limit(parts)
            .select(
                F.transform(
                    F.col("__recon"), lambda x: F.round(x.cast("double"), 6)
                ).alias("c")
            )
            .collect()
        )
        if len(init) < parts:
            return {"split": False, "reason": "fewer rows than parts"}
        cents = {i: [float(v) for v in r["c"]] for i, r in enumerate(init)}
        for _ in range(iters):
            assigned = assign_clusters(hot, "__recon", cents)
            means = _rounded_means(assigned, "__recon")
            cents = {cid: means.get(cid, old) for cid, old in cents.items()}
        final = assign_clusters(hot, "__recon", cents)
        part_counts = {
            int(r["cluster_id"]): int(r["count"])
            for r in final.groupBy("cluster_id").count().collect()
        }
        if len(part_counts) < parts or min(part_counts.values()) == 0:
            # duplicate-heavy cells can collapse onto one centroid —
            # splitting would publish an empty child; leave it alone
            return {"split": False, "reason": "degenerate split"}

        child_base = max(cmap) + 1
        child_ids = [child_base + i for i in range(parts)]
        child_map = {child_base + i: cents[i] for i in range(parts)}
        child_of = F.element_at(
            F.array(*[F.lit(int(c)) for c in child_ids]),
            F.col("cluster_id").cast("int") + 1,
        )
        recoded = encode_residual_codes(
            final.select("vec_id", "__recon", child_of.alias("__cell")),
            "vec_id",
            "__recon",
            "__cell",
            child_map,
            books,
        )

        new_cents = [
            (int(cid), [float(x) for x in vec])
            for cid, vec in sorted(cmap.items())
            if cid != cell_id
        ] + [(int(c), child_map[c]) for c in child_ids]
        manifest.setdefault("splits", []).append(
            {
                "cell": int(cell_id),
                "children": [int(c) for c in child_ids],
                "rows": int(sizes[cell_id]),
                "part_rows": {
                    str(child_base + i): part_counts[i] for i in part_counts
                },
            }
        )
        if "n_cells" in manifest.get("params", {}):
            manifest["params"]["n_cells"] += parts - 1
        snap.write(
            spark.createDataFrame(new_cents, "cluster_id int, centroid array<double>"),
            "ivf_centroids",
        )
        snap.drop_partitions("pq_codes", "cell", [int(cell_id)])
        snap.write(
            recoded.repartition("cell"), "pq_codes", partition_by=["cell"],
            append=True,
        )
        snap.commit()
    finally:
        hot.unpersist()
    return {
        "split": True,
        "cell": int(cell_id),
        "children": [int(c) for c in child_ids],
        "rows": int(sizes[cell_id]),
        "part_rows": {child_base + i: n for i, n in part_counts.items()},
        "n_cells": len(cmap) + parts - 1,
    }


#: dust-cell merge policy: a cell below mean/SPLIT_SKEW_FACTOR rows is
#: probe-budget waste — it occupies one of the query's n_probe slots for
#: almost no candidates (deletes + compaction create these).  Bounded
#: per sweep: each merged cell's decode embeds its ksub×m codebook
#: literals in the plan, so the when-chain is capped.
MERGE_MAX_PER_SWEEP = 8


def _cell_universe(
    spark: SparkSession, mount_dir: str
) -> tuple[dict[int, int], dict[int, list[float]]]:
    """Row counts over EVERY cell the centroid map knows — a cell whose
    rows were all deleted and compacted away has no codes partition but
    still occupies a probe slot (review r14: the exact waste the merge
    policy exists to reclaim, so it must be visible to it)."""
    snap = _snap(spark, mount_dir)
    cmap = load_centroid_map(spark, snap)
    counted = cell_sizes(spark, snap)
    return {c: counted.get(c, 0) for c in cmap}, cmap


def should_merge(
    spark: SparkSession,
    mount_dir: str,
    factor: float = SPLIT_SKEW_FACTOR,
) -> list[int]:
    """The dust cells ``merge_cells`` would fold away (rows <
    mean/``factor``; zero-row cells always qualify), lowest-population
    first, capped at ``MERGE_MAX_PER_SWEEP``.  Empty when fewer than 2
    cells exist or every cell would be dust (nothing left to merge
    into)."""
    sizes, _cmap = _cell_universe(spark, mount_dir)
    return _pick_dust(sizes, factor)


def _pick_dust(sizes: dict[int, int], factor: float) -> list[int]:
    if len(sizes) < 2:
        return []
    mean = sum(sizes.values()) / len(sizes)
    dust = sorted(
        (c for c in sizes if sizes[c] < mean / factor),
        key=lambda c: (sizes[c], c),
    )
    if len(dust) == len(sizes):
        return []
    return dust[:MERGE_MAX_PER_SWEEP]


@locked("merge_cells")
def merge_cells(
    spark: SparkSession,
    mount_dir: str,
    cell_ids: list[int] | None = None,
    factor: float = SPLIT_SKEW_FACTOR,
    _universe: tuple[dict[int, int], dict[int, list[float]]] | None = None,
) -> dict:
    """Fold undersized IVF cells into their nearest surviving sibling —
    the split's dual, closing the balance loop (deletes + compaction
    shrink cells; appends grow them).  A dust cell wastes one of every
    routed query's ``n_probe`` slots for almost no candidates.

    Each dust cell's rows are PQ-reconstructed with ITS centroid,
    re-encoded as residuals against the TARGET cell's centroid with the
    unchanged shared codebooks, and appended to the target's partition;
    the target's own rows are untouched (its centroid keeps its trained
    position — standard IVF merge: decode correctness needs only that
    rows are encoded against the centroid their cell names, not that
    the centroid is the cell's exact mean).  Published exactly like
    ``split_cell``, by one commit; the dust cell ids are retired."""
    # _universe: precomputed (sizes, cmap), valid ONLY under the
    # caller's held write lock (see split_cell)
    snap = snapshot(spark, mount_dir)
    sizes, cmap = (
        _universe if _universe is not None else _cell_universe(spark, snap)
    )
    if cell_ids is None:
        cell_ids = _pick_dust(sizes, factor)
        if not cell_ids:
            return {"merged": False, "reason": "no dust cells"}
    cell_ids = [int(c) for c in cell_ids]
    unknown = [c for c in cell_ids if c not in cmap]
    if unknown:
        raise ValueError(f"merge_cells: cells {unknown} have no centroid")
    if len(cell_ids) > MERGE_MAX_PER_SWEEP:
        raise ValueError(
            f"merge_cells: {len(cell_ids)} cells exceeds the per-call cap "
            f"{MERGE_MAX_PER_SWEEP} (plan-size bound); call again for the rest"
        )

    manifest = snap.manifest
    books = load_codebooks(spark, snap)
    survivors = {c: v for c, v in cmap.items() if c not in set(cell_ids)}
    if not survivors:
        return {"merged": False, "reason": "no surviving cell to merge into"}

    # nearest surviving centroid per dust cell — driver-side over the
    # bounded centroid set, by the probe routing rule itself
    target_of = {c: probe_cells(survivors, cmap[c], 1)[0] for c in cell_ids}

    dust = snap.read("pq_codes").where(F.col("cell").isin(cell_ids))
    # per-cell decode (each dust cell reconstructs with ITS centroid),
    # then the target id — both bounded when-chains over the dust set
    recon = None
    tgt = None
    for c in cell_ids:
        e = _decode_cell_expr(cmap[c], books)
        t = F.lit(int(target_of[c]))
        cond = F.col("cell") == int(c)
        recon = e if recon is None else F.when(cond, e).otherwise(recon)
        tgt = t if tgt is None else F.when(cond, t).otherwise(tgt)
    moved = dust.select(
        "vec_id", recon.alias("__recon"), tgt.alias("__cell")
    )
    # only the TARGET cells' centroids enter the encode when-chain —
    # passing all survivors would embed thousands of dim-length literals
    # to route rows that take at most MERGE_MAX_PER_SWEEP values
    # (review r14)
    tgt_map = {t: survivors[t] for t in sorted(set(target_of.values()))}
    if sum(sizes[c] for c in cell_ids) > 0:
        recoded = encode_residual_codes(
            moved, "vec_id", "__recon", "__cell", tgt_map, books
        )
    else:
        # every merged cell is empty (deleted + compacted away): the
        # merge is a pure centroid retirement — nothing to re-encode,
        # and an empty frame cannot probe its PQ dimensions anyway
        recoded = None

    manifest.setdefault("merges", []).append(
        {
            "cells": cell_ids,
            "into": {str(c): int(target_of[c]) for c in cell_ids},
            "rows": {str(c): int(sizes[c]) for c in cell_ids},
        }
    )
    if "n_cells" in manifest.get("params", {}):
        manifest["params"]["n_cells"] -= len(cell_ids)
    snap.write(
        spark.createDataFrame(
            [(int(c), [float(x) for x in v]) for c, v in sorted(survivors.items())],
            "cluster_id int, centroid array<double>",
        ),
        "ivf_centroids",
    )
    snap.drop_partitions("pq_codes", "cell", cell_ids)
    if recoded is not None:
        snap.write(
            recoded.repartition("cell"), "pq_codes", partition_by=["cell"],
            append=True,
        )
    snap.commit()
    return {
        "merged": True,
        "cells": cell_ids,
        "into": {c: int(target_of[c]) for c in cell_ids},
        "rows": {c: int(sizes[c]) for c in cell_ids},
        "n_cells": len(survivors),
    }


def stream_append_codes(
    spark: SparkSession,
    mount_dir: str,
    stream_df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "label",
    checkpoint_dir: str | None = None,
):
    """Continuous catalog ingestion: a STREAMING embeddings frame appends
    into the mounted codes table under the frozen-artifact contract — the
    Structured-Streaming dual of ``append_rows``.

    The artifacts load ONCE at query start and are REVALIDATED per batch
    against the manifest's centroid version — a ``split_cell`` /
    ``merge_cells`` / ``refresh`` between micro-batches retires or
    retrains centroid ids, and encoding with the stream-start map would
    write rows into a cell no reader probes; the reload itself only
    happens when the version changes.  Each micro-batch assigns/encodes
    with the same codegen expressions as the batch path and appends its
    partitioned code rows.  Because encoding is
    a pure row-local function of the frozen artifacts, the final codes
    table is IDENTICAL for any micro-batch split of any arrival order
    (pinned in tests/test_mount.py).  The manifest count is refreshed on
    each batch commit; each batch adds one codes version, which
    ``compact_codes`` folds back into one.

    REPLAY SAFETY (ADVICE r11): ``foreachBatch`` is at-least-once — a
    batch retried after a crash arrives again (same batch_id), and a
    crash can land BETWEEN the code-row write and the manifest commit.
    The sink makes the whole commit idempotent by anti-joining the
    batch's ids against the codes table (id-column-pruned scan) before
    encoding: a replayed batch dedupes to an EMPTY delta, so it appends
    no rows and bumps no count, whatever the failure point.  A batch-id
    watermark would be redundant for correctness and could falsely skip
    NEW data if a checkpoint path were recycled, so the last seen batch
    id is only RECORDED per checkpoint (``manifest["stream_state"]``)
    for observability, never used to skip work.  The same anti-join also
    drops duplicate vec_ids a producer re-submits (they would otherwise
    surface twice in ADC candidates).

    Returns the started ``StreamingQuery``; pass ``availableNow`` triggers
    through the caller's ``writeStream`` conventions by awaiting it.
    """
    snap = snapshot(spark, mount_dir)
    cmap = load_centroid_map(spark, snap)
    books = load_codebooks(spark, snap)
    cent_tok = snap.manifest["dirs"]["ivf_centroids"]
    ck_key = (
        os.path.basename(os.path.normpath(checkpoint_dir))
        if checkpoint_dir
        else "_default"
    )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        nonlocal cmap, books, cent_tok
        # each micro-batch is one critical section: a compaction
        # between this batch's id-probe and its commit would otherwise
        # drop the appended version from its rewrite
        with mount_write_lock(mount_dir, "stream_append_codes"):
            snap = snapshot(spark, mount_dir)
            # revalidate the closure artifacts per batch (a list compare,
            # no reload on the common path): a split_cell / merge_cells /
            # refresh between micro-batches RETIRES or RETRAINS centroid
            # ids — encoding this batch with the stream-start map would
            # write rows into a cell no reader probes (silent
            # invisibility) or decode against a centroid the rows were
            # not encoded with
            tok = snap.manifest["dirs"]["ivf_centroids"]
            if tok != cent_tok:
                cmap = load_centroid_map(spark, snap)
                books = load_codebooks(spark, snap)
                cent_tok = tok
            if cell_col in batch_df.columns:
                delta, cell = batch_df, cell_col
            else:
                delta, cell = (
                    _assign_cells(batch_df, id_col, vec_col, cmap),
                    "__cell",
                )
            delta = _drop_existing_ids(snap, delta, id_col)
            n = int(delta.count())
            if n > 0:
                if cell == cell_col:
                    # validate AFTER the replay anti-join (review r14): a
                    # replayed batch whose label cell was since retired
                    # dedupes to empty and must stay a no-op, not kill
                    # the stream
                    _check_cells_known(delta, cell, cmap, "stream_append_codes")
                snap.write(
                    encode_residual_codes(delta, id_col, vec_col, cell, cmap, books),
                    "pq_codes",
                    partition_by=["cell"],
                    append=True,
                )
            # the counts come from THIS batch's snapshot: a compaction
            # interleaved between micro-batches rewrote them, and
            # committing the stream-start copy would erase its reclaim
            # (review r14)
            m = snap.manifest
            m["counts"]["n_vectors"] = (
                int(m.get("counts", {}).get("n_vectors", 0)) + n
            )
            m.setdefault("stream_state", {})[ck_key] = int(batch_id)
            snap.commit()

    writer = stream_df.writeStream.foreachBatch(sink).trigger(availableNow=True)
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()
