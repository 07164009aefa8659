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

Publication follows the two rules of ``mount/lock.py`` and no others.
Single-artifact rewrites (the compactions, ``append_rows``' text
statistics) land in ``<name>__tmp`` and replace the live directory by
the rename-aside swap (``lock._swap_dirs``), never overwriting in place
a table the new plan is reading.  Rebalance (r14) publishes a new
generation: ``split_cell`` halves an IVF cell that drifting appends
grew past the skew budget; ``merge_cells`` folds dust cells (shrunk by
deletes + compaction, or fully emptied) into their nearest sibling.
Both reconstruct only the affected rows from their PQ codes, re-encode
against the new centroid with the unchanged shared codebooks, and write
the new centroids, cells and manifest into ``lock.next_generation`` —
atomic to lock-free readers, O(hot/dust rows) data movement, every
untouched file a hardlink of the old generation's.  Every manifest
write goes through ``artifacts.save_manifest``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from simsearch_spark.mount.artifacts import (
    encode_residual_codes,
    load_centroid_map,
    load_codebooks,
    load_manifest,
    save_manifest,
)
from simsearch_spark.mount.lock import (
    _swap_dirs,
    locked,
    mount_state_token,
    mount_write_lock,
    next_generation,
    parquet_census,
    snapshot_read,
)
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
    manifest + one tombstone count, and the parquet file census of the
    codes table (os.walk — no Spark job)."""
    manifest = load_manifest(mount_dir)
    # a dedup-only mount (mount_dedup on a fresh directory) has no vector
    # artifacts — report zero vectors instead of a bare KeyError
    n_vectors = int(manifest.get("counts", {}).get("n_vectors", 0))
    tomb_path = os.path.join(mount_dir, "tombstones")
    n_tomb = (
        int(spark.read.parquet(tomb_path).select("vec_id").distinct().count())
        if os.path.isdir(tomb_path)
        else 0
    )
    codes_path = os.path.join(mount_dir, "pq_codes")
    per_cell: dict[str, int] = {}
    for root, _dirs, files in os.walk(codes_path):
        n = sum(1 for f in files if f.endswith(".parquet"))
        if n and os.path.basename(root).startswith("cell="):
            per_cell[os.path.basename(root)] = n
    # the dedup artifacts fragment the same way (every append adds one
    # file per touched band/shingle directory) — census them too (r13)
    max_dedup = 0
    for art in ("dedup_bands", "dedup_shingles"):
        p = os.path.join(mount_dir, art)
        for root, _dirs, files in os.walk(p):
            n = sum(1 for f in files if f.endswith(".parquet"))
            if n > max_dedup:
                max_dedup = n
    # dedup tombstones (delete_docs, r14) accumulate dead rows every
    # probe re-subtracts — same budget mechanics as the vector side
    dt_path = os.path.join(mount_dir, "dedup_tombstones")
    dd = manifest.get("dedup") or {}
    n_dtomb = 0
    if os.path.isdir(dt_path) and dd:
        n_dtomb = int(
            spark.read.parquet(dt_path).select(dd["id_col"]).distinct().count()
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


def _swap_in(df: DataFrame, path: str) -> None:
    tmp = path + "__tmp"
    df.write.mode("overwrite").parquet(tmp)
    _swap_dirs(tmp, path)


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


def _drop_existing_ids(
    spark: SparkSession, mount_dir: str, delta: DataFrame, id_col: str
) -> DataFrame:
    """Anti-join a delta against the ids already in the codes table, so a
    re-submitted row can never land twice (duplicate code rows would be
    returned twice in ADC candidates).  Reads ONLY the id column of the
    codes parquet (column-pruned scan) and broadcasts nothing — the codes
    side is the big side, so the delta probes it as a left-anti join."""
    codes_path = os.path.join(mount_dir, "pq_codes")
    if not os.path.isdir(codes_path):
        return delta
    existing = spark.read.parquet(codes_path).select(
        F.col("vec_id").alias(id_col)
    )
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
    manifest = load_manifest(mount_dir)

    if emb_delta is not None:
        cmap = load_centroid_map(spark, mount_dir)
        books = load_codebooks(spark, mount_dir)
        # a TOMBSTONED id still occupies its code row until compaction,
        # so the dedup anti-join below would silently drop a re-insert —
        # and accepting it would leave two rows for one id.  Fail loudly:
        # the id lifecycle is insert → delete → compact_codes → reusable
        # (review r12; one broadcast count, only when tombstones exist)
        tomb_path = os.path.join(mount_dir, "tombstones")
        if os.path.isdir(tomb_path):
            tomb = spark.read.parquet(tomb_path).select("vec_id").distinct()
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
            emb_delta = _drop_existing_ids(spark, mount_dir, emb_delta, id_col)
        # count BEFORE the append — the anti-join plan reads the codes
        # parquet, so evaluating it after the write would see (and drop)
        # the rows this call just appended
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
            codes.write.mode("append").partitionBy("cell").parquet(
                os.path.join(mount_dir, "pq_codes")
            )
        manifest["counts"]["n_vectors"] += n_new

    if docs_delta is not None:
        from simsearch_spark.functions.text import ws_tokens
        from simsearch_spark.queries.vocab import lm_doc_bigrams

        docs = docs_delta.where(F.col("text").isNotNull())
        toks = ws_tokens(F.col("text"))
        tdocs = docs.select("doc_id", toks.alias("toks"))

        # BM25: integer-exact merges (df sums, doc count, Σdl; avgdl is the
        # exact integer Σdl over the exact count — identical to F.avg over
        # the union because integer doubles below 2^53 sum exactly)
        p_df = os.path.join(mount_dir, "bm25_df")
        merged_df = (
            spark.read.parquet(p_df)
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
        _swap_in(merged_df, p_df)

        p_g = os.path.join(mount_dir, "bm25_global")
        g = spark.read.parquet(p_g).first()
        d = tdocs.agg(
            F.count(F.lit(1)).alias("n"), F.sum(F.size("toks").cast("long")).alias("s")
        ).first()
        n_docs = int(g["n_docs"]) + int(d["n"] or 0)
        sum_dl = int(g["sum_dl"]) + int(d["s"] or 0)
        _swap_in(
            spark.createDataFrame(
                [(n_docs, (sum_dl / n_docs) if n_docs else 0.0, sum_dl)],
                "n_docs long, avgdl double, sum_dl long",
            ),
            p_g,
        )

        # LM: bigram/context count sums; vocab re-derived from the merged
        # distinct token set (countDistinct is not mergeable from counts)
        bgc = lm_doc_bigrams(docs).persist()
        try:
            p_cb = os.path.join(mount_dir, "lm_bigrams")
            _swap_in(
                spark.read.parquet(p_cb)
                .unionByName(bgc.groupBy("ngram").agg(F.sum("m").alias("cb")))
                .groupBy("ngram")
                .agg(F.sum("cb").alias("cb")),
                p_cb,
            )
            p_cu = os.path.join(mount_dir, "lm_ctx")
            _swap_in(
                spark.read.parquet(p_cu)
                .unionByName(bgc.groupBy("ctx").agg(F.sum("m").alias("cu")))
                .groupBy("ctx")
                .agg(F.sum("cu").alias("cu")),
                p_cu,
            )
        finally:
            bgc.unpersist()
        p_tok = os.path.join(mount_dir, "lm_tokens")
        merged_tokens = (
            spark.read.parquet(p_tok)
            .unionByName(docs.select(F.explode(toks).alias("tok")))
            .distinct()
        )
        _swap_in(merged_tokens, p_tok)
        _swap_in(
            spark.read.parquet(p_tok).agg(F.count(F.lit(1)).alias("v")),
            os.path.join(mount_dir, "lm_vocab"),
        )

    save_manifest(mount_dir, manifest)
    return manifest


@locked("delete_ids")
def delete_ids(spark: SparkSession, mount_dir: str, vec_ids: list[int]) -> None:
    """Tombstone vectors by id: served results exclude them immediately
    (``serve.read_codes``); their code rows are reclaimed by
    ``compact_codes``, and statistics tables keep their mass (the
    reference's delete semantics).  A deleted id is NOT reusable until
    compaction (``append_rows`` rejects it loudly) — the id lifecycle is
    insert → delete → compact → reusable."""
    load_manifest(mount_dir)  # validate it IS a mount before writing into it
    spark.createDataFrame(
        [(int(i),) for i in vec_ids], "vec_id long"
    ).write.mode("append").parquet(os.path.join(mount_dir, "tombstones"))


def _clear_tombstone_files(tomb_path: str, files: frozenset) -> None:
    """Remove exactly the tombstone files the compaction consumed; a
    delete that landed mid-compaction (lock bypass) keeps its file — its
    rows stay excluded at read time and are reclaimed by the NEXT
    compaction, instead of being resurrected by a blanket rmtree.  The
    directory itself is removed with ``os.rmdir`` — atomic on emptiness
    — never a census-then-rmtree, whose window would destroy a late
    tombstone all the same (review r14)."""
    for f in files:
        fp = os.path.join(tomb_path, f)
        for victim in (
            fp,
            os.path.join(
                os.path.dirname(fp), "." + os.path.basename(fp) + ".crc"
            ),
        ):
            try:
                os.unlink(victim)
            except FileNotFoundError:
                pass
    for marker in ("_SUCCESS", "._SUCCESS.crc"):
        try:
            os.unlink(os.path.join(tomb_path, marker))
        except FileNotFoundError:
            pass
    try:
        os.rmdir(tomb_path)  # succeeds only if truly empty
    except OSError:
        pass  # a late tombstone (or its write debris) landed — keep it


@locked("compact_codes")
def compact_codes(spark: SparkSession, mount_dir: str) -> int:
    """Reclaim tombstoned rows: rewrite the codes table minus the
    tombstone set (write-new-then-swap, still ``partitionBy(cell)``) and
    clear the tombstones.  Served results are unchanged by construction
    (``read_codes`` subtracted the set already) — compaction only stops
    every future scan from re-paying the anti-join and the dead bytes.
    Runs under the mount write lock with a snapshot fence (mount/lock.py):
    the rewrite reads an explicit file-list snapshot and refuses the swap
    if the census changed underneath it.  Returns the number of rows
    reclaimed."""
    manifest = load_manifest(mount_dir)
    tomb_path = os.path.join(mount_dir, "tombstones")
    tomb_files0 = (
        parquet_census(tomb_path) if os.path.isdir(tomb_path) else frozenset()
    )
    has_tombstones = bool(tomb_files0)
    if not has_tombstones:
        # no dead rows — rewrite only if append debris fragmented the
        # table (file compaction is the trigger's other budget, r12)
        if maintenance_stats(spark, mount_dir)["max_files_per_cell"] <= 1:
            return 0
    codes_path = os.path.join(mount_dir, "pq_codes")
    files0 = parquet_census(codes_path)
    codes = snapshot_read(spark, codes_path, files0)
    if has_tombstones:
        tomb = (
            snapshot_read(spark, tomb_path, tomb_files0)
            .select("vec_id")
            .distinct()
        )
        live = codes.join(F.broadcast(tomb), "vec_id", "left_anti")
    else:
        live = codes
    before = int(codes.count())
    tmp = codes_path + "__tmp"
    # repartition ON the partition column: compaction also collapses the
    # file debris many small appends left behind (one file per cell —
    # a petabyte deployment would repartition(n, "cell") to keep
    # intra-cell parallelism; the trigger is COMPACT_FILES_PER_CELL)
    live.repartition("cell").write.mode("overwrite").partitionBy("cell").parquet(tmp)
    _swap_dirs(tmp, codes_path, files0, "compact_codes")  # fenced
    after = int(spark.read.parquet(codes_path).count())
    if has_tombstones:
        _clear_tombstone_files(tomb_path, tomb_files0)
    manifest["counts"]["n_vectors"] = after
    save_manifest(mount_dir, manifest)
    return before - after


@locked("compact_dedup")
def compact_dedup(spark: SparkSession, mount_dir: str) -> int:
    """Collapse the dedup index's append debris (r13) and reclaim
    tombstoned documents (r14): every ``dedup_append`` adds one parquet
    file per touched band/shingle directory, so at production cadence
    the per-directory file count — and with it the probe's footer-open
    cost — grows linearly in appends; ``delete_docs`` tombstones
    additionally leave dead band/shingle rows every probe re-subtracts.
    Rewrite both artifacts write-new-then-swap with the MOUNT-time
    layout (one file per directory, rows sorted so point predicates skip
    row groups) MINUS the tombstoned ids, then clear the tombstones and
    refresh the manifest doc count.  Served results are unchanged by
    construction (the pair streams subtracted the set already) —
    compaction only stops future probes from re-paying the anti-filter
    and the dead bytes, and makes deleted ids reusable.  Returns the
    number of parquet files reclaimed; 0 when neither artifact is
    fragmented and nothing is tombstoned.

    Runs under the mount write lock; each rewrite reads an explicit
    file-list snapshot and fences the swap (mount/lock.py), so an
    append racing a lock-bypassing compaction aborts the compaction
    instead of silently losing the appended rows."""
    manifest = load_manifest(mount_dir)
    if not manifest.get("dedup"):
        raise ValueError("mount has no dedup artifacts — run mount_dedup first")
    id_col = manifest["dedup"]["id_col"]
    tomb_path = os.path.join(mount_dir, "dedup_tombstones")
    tomb_files0 = (
        parquet_census(tomb_path) if os.path.isdir(tomb_path) else frozenset()
    )
    has_tombstones = bool(tomb_files0)
    tomb = (
        snapshot_read(spark, tomb_path, tomb_files0).select(id_col).distinct()
        if has_tombstones
        else None
    )

    reclaimed = 0
    bands_path = os.path.join(mount_dir, "dedup_bands")
    sh_path = os.path.join(mount_dir, "dedup_shingles")
    plans = [
        (bands_path, ["band_idx", "bkt"], "band_hash"),
        (sh_path, ["sbkt"], id_col),
    ]
    for path, part_cols, sort_col in plans:
        files0 = parquet_census(path)
        before = len(files0)
        n_dirs = len({os.path.dirname(f) for f in files0})
        if before <= n_dirs and not has_tombstones:
            continue  # already one file per directory, no dead rows
        live = snapshot_read(spark, path, files0)
        if tomb is not None:
            live = live.join(F.broadcast(tomb), id_col, "left_anti")
        # collapse duplicate rows (r14): a dedup_append retried after a
        # bands-success/shingles-fail crash re-appends its band rows; the
        # duplicates are pair-stream-invisible (pairs dedupe) but can
        # inflate hot-bucket ROW counts past the cap — compaction is
        # where they heal.  One row per doc in the shingle table; full-
        # row distinct for bands (rows are value-identical per key).
        live = (
            live.dropDuplicates([id_col])
            if path == sh_path
            else live.dropDuplicates()
        )
        tmp = path + "__tmp"
        (
            live.repartition(*part_cols)
            .sortWithinPartitions(sort_col)
            .write.mode("overwrite")
            .partitionBy(*part_cols)
            .parquet(tmp)
        )
        _swap_dirs(tmp, path, files0, "compact_dedup")  # fenced
        reclaimed += before - len(parquet_census(path))
    if has_tombstones:
        # the shingle table holds exactly one row per live doc — refresh
        # the manifest count from it, then clear the tombstone horizon
        # (only the files THIS compaction consumed)
        manifest["dedup"]["n_docs"] = int(spark.read.parquet(sh_path).count())
        _clear_tombstone_files(tomb_path, tomb_files0)
        save_manifest(mount_dir, manifest)
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


def cell_sizes(spark: SparkSession, mount_dir: str) -> dict[int, int]:
    """Per-cell row counts of the codes table — one column-pruned scan
    over the partition column only (the footers carry the counts; no
    data pages are read)."""
    path = os.path.join(mount_dir, "pq_codes")
    if not os.path.isdir(path):
        return {}
    rows = (
        spark.read.parquet(path).groupBy("cell").count().collect()
    )
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
    child centroid with the UNCHANGED shared codebooks, and published as
    a new generation (``lock.next_generation``), so lock-free readers
    see the old generation or the new one, never a half-split cell.
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
    sizes = _sizes if _sizes is not None else cell_sizes(spark, mount_dir)
    if cell_id is None:
        cell_id = _pick_hot(sizes, factor, min_rows)
        if cell_id is None:
            return {"split": False, "reason": "no cell over budget"}
    if cell_id not in sizes:
        raise ValueError(f"split_cell: cell {cell_id} has no rows")
    if parts < 2:
        raise ValueError("split_cell: parts must be >= 2")

    tok0 = mount_state_token(mount_dir)
    manifest = load_manifest(mount_dir)
    cmap = load_centroid_map(spark, mount_dir)
    books = load_codebooks(spark, mount_dir)
    if cell_id not in cmap:
        raise ValueError(f"split_cell: cell {cell_id} has no centroid")

    from simsearch_spark.operators.kmeans import (
        _rounded_means,
        assign_clusters,
    )

    codes_path = os.path.join(mount_dir, "pq_codes")
    hot = (
        spark.read.parquet(codes_path)
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
        with next_generation(
            mount_dir, "split_cell", tok0,
            rewrite={
                "ivf_centroids",
                os.path.join("pq_codes", f"cell={int(cell_id)}"),
            },
        ) as nxt:
            spark.createDataFrame(
                new_cents, "cluster_id int, centroid array<double>"
            ).write.mode("overwrite").parquet(os.path.join(nxt, "ivf_centroids"))
            recoded.repartition("cell").write.mode("append").partitionBy(
                "cell"
            ).parquet(os.path.join(nxt, "pq_codes"))
            save_manifest(nxt, manifest)
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
    cmap = load_centroid_map(spark, mount_dir)
    counted = cell_sizes(spark, mount_dir)
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
    ``split_cell``, as a new generation (``lock.next_generation``); the
    dust cell ids are retired."""
    # _universe: precomputed (sizes, cmap), valid ONLY under the
    # caller's held write lock (see split_cell)
    sizes, cmap = (
        _universe if _universe is not None else _cell_universe(spark, mount_dir)
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

    tok0 = mount_state_token(mount_dir)
    manifest = load_manifest(mount_dir)
    books = load_codebooks(spark, mount_dir)
    survivors = {c: v for c, v in cmap.items() if c not in set(cell_ids)}
    if not survivors:
        return {"merged": False, "reason": "no surviving cell to merge into"}

    # nearest surviving centroid per dust cell — driver-side over the
    # bounded centroid set, by the probe routing rule itself
    target_of = {c: probe_cells(survivors, cmap[c], 1)[0] for c in cell_ids}

    codes_path = os.path.join(mount_dir, "pq_codes")
    dust = spark.read.parquet(codes_path).where(
        F.col("cell").isin(cell_ids)
    )
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
    with next_generation(
        mount_dir, "merge_cells", tok0,
        rewrite={"ivf_centroids"}
        | {os.path.join("pq_codes", f"cell={c}") for c in cell_ids},
    ) as nxt:
        spark.createDataFrame(
            [(int(c), [float(x) for x in v]) for c, v in sorted(survivors.items())],
            "cluster_id int, centroid array<double>",
        ).write.mode("overwrite").parquet(os.path.join(nxt, "ivf_centroids"))
        if recoded is not None:
            recoded.repartition("cell").write.mode("append").partitionBy(
                "cell"
            ).parquet(os.path.join(nxt, "pq_codes"))
        save_manifest(nxt, manifest)
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
    by one O(files) census of the centroid artifact — a ``split_cell`` /
    ``merge_cells`` / ``refresh`` between micro-batches retires or
    retrains centroid ids, and encoding with the stream-start map would
    write rows into a cell no reader probes; the reload itself only
    happens when the census changes.  Each micro-batch assigns/encodes
    with the same codegen expressions as the batch path and appends its
    partitioned code rows.  Because encoding is
    a pure row-local function of the frozen artifacts, the final codes
    table is IDENTICAL for any micro-batch split of any arrival order
    (pinned in tests/test_mount.py).  The manifest count is refreshed on
    each batch commit.

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
    manifest = load_manifest(mount_dir)
    cmap = load_centroid_map(spark, mount_dir)
    books = load_codebooks(spark, mount_dir)
    codes_path = os.path.join(mount_dir, "pq_codes")
    cent_path = os.path.join(mount_dir, "ivf_centroids")
    cent_tok = parquet_census(cent_path)
    ck_key = (
        os.path.basename(os.path.normpath(checkpoint_dir))
        if checkpoint_dir
        else "_default"
    )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        nonlocal cmap, books, cent_tok
        # each micro-batch is one critical section: a concurrent
        # compaction between this batch's id-probe and its append would
        # otherwise drop the appended files in its swap
        with mount_write_lock(mount_dir, "stream_append_codes"):
            # revalidate the closure artifacts per batch (one O(files)
            # census, no reload on the common path): a split_cell /
            # merge_cells / refresh between micro-batches RETIRES or
            # RETRAINS centroid ids — encoding this batch with the
            # stream-start map would write rows into a cell no reader
            # probes (silent invisibility) or decode against a centroid
            # the rows were not encoded with
            tok = parquet_census(cent_path)
            if tok != cent_tok:
                cmap = load_centroid_map(spark, mount_dir)
                books = load_codebooks(spark, mount_dir)
                cent_tok = tok
            if cell_col in batch_df.columns:
                delta, cell = batch_df, cell_col
            else:
                delta, cell = (
                    _assign_cells(batch_df, id_col, vec_col, cmap),
                    "__cell",
                )
            delta = _drop_existing_ids(spark, mount_dir, delta, id_col)
            n = int(delta.count())  # count BEFORE the append (see append_rows)
            if n > 0:
                if cell == cell_col:
                    # validate AFTER the replay anti-join (review r14): a
                    # replayed batch whose label cell was since retired
                    # dedupes to empty and must stay a no-op, not kill
                    # the stream
                    _check_cells_known(delta, cell, cmap, "stream_append_codes")
                encode_residual_codes(
                    delta, id_col, vec_col, cell, cmap, books
                ).write.mode("append").partitionBy("cell").parquet(codes_path)
            # reload the manifest INSIDE the critical section: a
            # compaction interleaved between micro-batches rewrites the
            # counts, and committing the stream-start closure copy would
            # erase its reclaim (review r14)
            m = load_manifest(mount_dir)
            m["counts"]["n_vectors"] = (
                int(m.get("counts", {}).get("n_vectors", 0)) + n
            )
            m.setdefault("stream_state", {})[ck_key] = int(batch_id)
            save_manifest(mount_dir, m)

    writer = stream_df.writeStream.foreachBatch(sink).trigger(availableNow=True)
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()
