"""Incremental dedup against a mounted corpus — the production shape of
the pipeline's most important operator (VERDICT r11 task 1).

A 100 TB deployment never re-deduplicates its whole corpus when a crawl
delta arrives: it persists the MinHash SIGNATURE/BAND INDEX once at mount
(the same frozen-artifact discipline as ``pq_codes``,
``mount/artifacts.py``) and joins each delta against it at cost ∝ |delta|.
The reference engine has no dedup (SURVEY.md §6 — LLM-pipeline surface);
the batch semantics being made incremental are exactly
``operators/dedup.py minhash_lsh_pairs``.

Artifacts (written by ``mount_dedup`` — or by ``mount()`` and ``refresh``,
which build them into the generation they commit — appended by
``dedup_append``, one new version directory per artifact per delta):

==============  ===========================================  ==============
artifact        schema                                       partitioning
==============  ===========================================  ==============
dedup_bands     (band_hash long, <id>, band_idx, bkt)        band_idx, bkt
dedup_shingles  (<id>, shingles array<string>, sbkt)         sbkt
==============  ===========================================  ==============

``bkt = pmod(band_hash, N_BKT)`` and ``sbkt = pmod(xxhash64(id),
N_SBKT)`` are HASH-RANGE partition columns: a delta append reads only the
band directories whose buckets its own hashes land in and only the
shingle directories its candidate ids land in — DIRECTORY pruning, the
``pq_codes`` pattern, so base-side scan cost tracks the delta's hash
footprint, not the corpus.  Within the pruned scan the delta's distinct
(band_idx, band_hash) keys join BROADCAST (driver-bounded: |delta|·bands
keys), so the base table never shuffles.

Two append paths, one answer.  A crawl delta of at most
``MAX_IN_LITERALS // bands`` documents runs DRIVER-RESIDENT: its rows are
collected once, signed in-process by ``minhash_rows`` (the kernel the
Arrow pass runs), and paired and verified over driver-side sets against
bounded collects of the base band and shingle rows its keys touch — no
Python-worker pass and no checkpoint.  Larger deltas, over-cap buckets
and id types Python does not order as Spark does take ``_append_large``,
the distributed path; tests/test_mount_dedup.py pins the two equal.

The FROZEN-HASH contract: the manifest records (n_hashes, bands,
shingle_n, seed, threshold, bucket_cap) at mount; every delta computes
signatures with the SAME family, which makes the parity pin exact:
``minhash_lsh_pairs(base ∪ delta)`` restricted to pairs touching a delta
id == ``mount_dedup(base)`` + ``dedup_append(delta)``
(tests/test_mount_dedup.py), split-invariant across delta batches, and
the hot-bucket cap holds ACROSS the mounted boundary (bucket size = base
members + delta members, lowest-id selection identical to the batch
operator's).

The EMBEDDING front (``dedup_embed_append``) needs no extra artifact:
the mounted IVF codes table is already a cell-blocking index — delta
vectors assign to the frozen cells and pair same-cell against the
mounted membership by exact cosine, the SemDeDup within-cluster scope
made incremental.  ``stream_dedup_append`` is the Structured-Streaming
ingestion dual of the text front.
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.conversion import LocalDataToArrowConversion
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from simsearch_spark.functions.hashing import nonblank_text
from simsearch_spark.mount.artifacts import _publish_family, _snap, snapshot
from simsearch_spark.mount.lock import locked
from simsearch_spark.operators.dedup import (
    LSH_BUCKET_CAP,
    _cap_lsh_buckets,
    minhash_banded_frame,
    minhash_rows,
    verify_shingle_pairs,
)
from simsearch_spark.operators.rank_agg import _python_ordered

__all__ = [
    "mount_dedup",
    "dedup_append",
    "delete_docs",
    "stream_dedup_append",
    "dedup_embed_append",
    "N_BKT",
    "N_SBKT",
]

#: hash-range partition fan-out FALLBACKS for the band table (band_idx ×
#: n_bkt directories) and the shingle table — used only when a manifest
#: predates the frozen n_bkt/n_sbkt keys.  Since r15 ``mount_dedup``
#: derives the fan-outs from the CORPUS SIZE at build time (guide §2.5 /
#: §6: partition counts must track data volume, not a constant tuned for
#: one scale): a 4.5k-doc bench mount was paying 384 near-empty
#: directories of write+list+open overhead (interleaved A/B: mount 3.44 →
#: 1.52 s, append 2.38 → 1.81 s, pair set identical), while a 100 TB
#: corpus auto-sizes to the caps so a daily delta's hash footprint still
#: prunes to a small directory fraction.  The constants are partitioning
#: layout, not semantics (results are N-invariant; parity pinned in
#: tests/test_mount_dedup.py).
N_BKT = 32
N_SBKT = 256


def _auto_fanout(n_rows: int, target_rows: int, lo: int, hi: int) -> int:
    """Power-of-two hash-range fan-out sized so each partition directory
    holds ~``target_rows`` rows, clamped to [lo, hi].  Deployments beyond
    the caps pass explicit ``n_bkt``/``n_sbkt`` (frozen in the manifest
    either way)."""
    import math

    need = max(1, (max(0, int(n_rows)) + target_rows - 1) // target_rows)
    return max(lo, min(hi, 1 << math.ceil(math.log2(need))))

#: broadcast the delta's distinct band keys only below this count —
#: above it (a delta so large its key set would strain the driver) the
#: probe falls back to a shuffle join, which is the right plan anyway
#: when |delta| approaches |base|
MAX_BROADCAST_KEYS = 1_000_000

#: push a literal In(...) filter into a parquet scan only below this
#: many values — a Catalyst In with tens of thousands of literals costs
#: more to plan/codegen than the scan it prunes (measured: an 18k-hash
#: delta took the append from ~6 s to ~30 s).  Above it the broadcast
#: join alone bounds the work.
MAX_IN_LITERALS = 2048

#: the band-HASH point-predicate pushdown cap is far lower: literal cost
#: is ~0.5 ms each at plan time (r13 measured: 1200 hash literals = 0.63 s
#: plan + 0.75 s execution overhead vs 0.22 s for the same pruned scan
#: without them, on single-row-group files where the In skips nothing),
#: so the filter only pays for itself on tiny deltas — larger ones are
#: already bounded by directory pruning + the broadcast key join
MAX_HASH_PUSH_LITERALS = 128

#: guard on the driver path's collect of the base band rows its keys
#: touch: a healthy corpus holds a few rows per delta band key, so
#: overflowing this bound means a degenerate bucket — fall back to the
#: capped distributed path rather than pull an unbounded stream
MAX_BASE_BAND_ROWS = 200_000


@locked("delete_docs")
def delete_docs(spark: SparkSession, mount_dir: str, doc_ids: list) -> None:
    """Tombstone mounted documents (r14 — the dedup dual of the vector
    side's ``maintain.delete_ids``): pair results exclude them
    immediately (``dedup_append`` / ``serve_dedup_lookup`` drop any pair
    touching a tombstoned id); their band/shingle rows are reclaimed by
    ``compact_dedup``, which also clears the tombstones.  A deleted id
    is NOT reusable until compaction — a re-submitted doc under that id
    drops as a replay, because the idempotency probe reads the
    still-present shingle rows — the same
    insert → delete → compact → reusable lifecycle as ``delete_ids``."""
    snap = snapshot(spark, mount_dir)
    dd = snap.manifest.get("dedup")
    if not dd:
        raise ValueError("mount has no dedup artifacts — run mount_dedup first")
    id_col = dd["id_col"]
    id_dtype = dd.get("id_dtype")
    if not id_dtype:
        id_dtype = dict(snap.read("dedup_shingles").dtypes)[id_col]
    snap.write(
        spark.createDataFrame([(i,) for i in doc_ids], f"{id_col} {id_dtype}"),
        "dedup_tombstones",
        append=True,
    )
    snap.commit()


def _dedup_tomb_ids(snap, id_col: str) -> set:
    """The tombstoned doc-id set — DRIVER-bounded by deletes since the
    last compaction (the ``delete_ids`` tombstone contract: compaction
    is the horizon that clears it)."""
    if not snap.has("dedup_tombstones"):
        return set()
    return {
        r[0]
        for r in snap.read("dedup_tombstones").select(id_col).distinct().collect()
    }


def _expl_frame(banded: DataFrame, id_col: str, n_bkt: int = N_BKT) -> DataFrame:
    """(band_idx, band_hash, bkt, id): the exploded band-index rows — the
    shape the persisted band table stores.  ``n_bkt`` is the MOUNTED
    fan-out (frozen in the manifest like the hash family — a later change
    to the module constant must not re-bucket an existing mount)."""
    return banded.select(
        F.col(id_col), F.posexplode("bands").alias("band_idx", "band_hash")
    ).withColumn("bkt", F.pmod(F.col("band_hash"), F.lit(n_bkt)).cast("int"))


@locked("mount_dedup", makedirs=True)
def mount_dedup(spark: SparkSession, mount_dir: str, docs: DataFrame, **family) -> dict:
    """Build the persisted MinHash signature/band index for ``docs`` and
    record the frozen hash family in the mount manifest; ``family`` takes
    the keyword parameters of :func:`_build_dedup`.  The index and the
    manifest are published by one commit, so a reader never sees a
    half-written index and a failed build leaves the live mount
    untouched.  Returns the manifest."""
    return _publish_family(
        spark, mount_dir, "dedup", lambda snap: _build_dedup(spark, snap, docs, **family)
    )


def _build_dedup(
    spark: SparkSession,
    snap,
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.7,
    n_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    seed: int = 42,
    bucket_cap: int | None = LSH_BUCKET_CAP,
    n_bkt: int | None = None,
    n_sbkt: int | None = None,
) -> dict:
    """Write new versions of ``dedup_bands`` and ``dedup_shingles`` for
    ``docs`` into ``snap`` and return the manifest's ``dedup`` block.
    NULL/empty texts are excluded — the same candidate-universe contract
    as ``minhash_lsh_pairs``.  The caller commits: ``mount_dedup``,
    ``mount()`` or ``refresh``."""
    docs = docs.where(nonblank_text(text_col))
    banded = minhash_banded_frame(
        docs, id_col, text_col, n_hashes, bands, shingle_n, seed
    ).persist()
    try:
        # repartition ON the partition columns → exactly one file per
        # directory (no 32-files-per-dir shuffle spray; the probe-side
        # cost was file-open overhead, measured 3× at 30×);
        # sortWithinPartitions gives every parquet row group a TIGHT
        # band_hash / id range, so the append path's pushed point
        # predicates (In filters) skip row groups — the file-level
        # index-lookup approximation that keeps base-side read cost
        # tracking the delta's key footprint instead of the corpus
        # the doc count runs FIRST (it also materializes the persist, so
        # both writes read cache): the corpus size drives the auto
        # fan-outs, which must be fixed before either write plans its
        # repartition.  The two artifact writes then overlap (guide §2.6).
        n_docs = int(banded.count())
        # scale-adaptive layout (r15): directory counts track corpus size
        # — ~1k band rows / ~512 shingle rows per directory, pow-2, so a
        # bench-scale mount writes a handful of dirs while a 100 TB mount
        # hits the caps (or passes explicit fan-outs); frozen in the
        # manifest below like the hash family
        if n_bkt is None:
            n_bkt = _auto_fanout(n_docs, 1024, 8, 1024)
        if n_sbkt is None:
            n_sbkt = _auto_fanout(n_docs, 512, 8, 4096)

        def write_bands():
            snap.write(
                _expl_frame(banded, id_col, n_bkt)
                .repartition("band_idx", "bkt")
                .sortWithinPartitions("band_hash"),
                "dedup_bands",
                partition_by=["band_idx", "bkt"],
            )

        def write_shingles():
            snap.write(
                banded.select(
                    F.col(id_col), F.col("shingles")
                ).withColumn(
                    "sbkt", _sbkt(id_col, n_sbkt)
                ).repartition("sbkt").sortWithinPartitions(id_col),
                "dedup_shingles",
                partition_by=["sbkt"],
            )

        with ThreadPoolExecutor(max_workers=2) as ex:
            f_b = ex.submit(inheritable_thread_target(spark)(write_bands))
            f_s = ex.submit(inheritable_thread_target(spark)(write_shingles))
            f_b.result()
            f_s.result()
    finally:
        banded.unpersist()

    return {
        "id_col": id_col,
        # Spark's xxhash64 is TYPE-sensitive (int and long hash
        # differently), so the sbkt partition scheme is only reproducible
        # at the mounted dtype — every delta casts its id column to this
        "id_dtype": dict(docs.dtypes)[id_col],
        "text_col": text_col,
        "threshold": float(threshold),
        "n_hashes": int(n_hashes),
        "bands": int(bands),
        "shingle_n": int(shingle_n),
        "seed": int(seed),
        "bucket_cap": None if bucket_cap is None else int(bucket_cap),
        "n_docs": n_docs,
        # the partition fan-outs are layout, not semantics, but the
        # DIRECTORY-PRUNING predicates must be computed with the values
        # the index was WRITTEN with — freeze them like the hash family
        # (auto-derived or explicit; later corpus growth or constant
        # changes must not re-bucket an existing mount)
        "n_bkt": int(n_bkt),
        "n_sbkt": int(n_sbkt),
    }


def _delta_touching_candidates(
    union_expl: DataFrame, id_col: str, cap: int | None
) -> DataFrame:
    """Candidate (id_a, id_b) pairs with at least one NEW (delta) member,
    over the union membership of the delta-touched buckets, under the
    batch operator's hot-bucket cap.

    ``union_expl`` carries (band_idx, band_hash, id, _new); bucket sizes
    computed here equal the batch-on-union sizes because the base side
    pulled EVERY base row of each touched bucket.  Pair generation is
    asymmetric — delta rows on one side, the full (capped) membership on
    the other — so volume tracks |delta|·bucket-size, never
    bucket-size²; ``least/greatest`` + distinct restores the batch
    operator's unordered-pair identity (delta-delta pairs generate twice,
    once per orientation)."""
    keys = ["band_idx", "band_hash"]
    union_expl = _cap_lsh_buckets(union_expl, keys, id_col, cap)
    new_side = union_expl.where(F.col("_new")).select(
        *keys, F.col(id_col).alias("_id_n")
    )
    all_side = union_expl.select(*keys, F.col(id_col).alias("_id_o"))
    return (
        new_side.join(all_side, keys)
        .where(F.col("_id_n") != F.col("_id_o"))
        .select(
            F.least("_id_n", "_id_o").alias("id_a"),
            F.greatest("_id_n", "_id_o").alias("id_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )


def _local_frame(spark: SparkSession, rows: list, schema: StructType) -> DataFrame:
    """``rows`` as an Arrow-backed local relation: Catalyst folds a
    projection over it on the driver (no job), and scanning it starts no
    Python worker, which a Python-list ``createDataFrame`` (a Python RDD)
    does."""
    table = (
        LocalDataToArrowConversion.convert(rows, schema, False)
        if rows
        else to_arrow_schema(schema).empty_table()  # convert rejects []
    )
    return spark.createDataFrame(table, schema=schema)


def _sbkt(col: str, n_sbkt: int):
    """The shingle table's hash-range partition of an id column."""
    return F.pmod(F.xxhash64(F.col(col)), F.lit(n_sbkt)).cast("int")


def _sbkts(spark: SparkSession, ids: list, id_field: StructField, n_sbkt: int) -> set:
    """The shingle partitions of ``ids``: Spark's own xxhash64, projected
    over a local relation, so it folds on the driver and runs no job."""
    ids_local = _local_frame(spark, [(i,) for i in ids], StructType([id_field]))
    return {r[0] for r in ids_local.select(_sbkt(id_field.name, n_sbkt)).collect()}


def _pairs_frame(spark: SparkSession, rows: list, id_type) -> DataFrame:
    """(id_a, id_b, jaccard) from driver-verified rows; the rounding is
    Spark's own ``round`` (HALF_UP on the decimal expansion), folded over
    the local relation."""
    schema = StructType([
        StructField("id_a", id_type),
        StructField("id_b", id_type),
        StructField("jaccard", DoubleType()),
    ])
    return _local_frame(spark, rows, schema).select(
        "id_a", "id_b", F.round("jaccard", 6).alias("jaccard")
    )


def _update_index(snap, expl_d, banded_d, id_col, n_new, n_sbkt) -> None:
    """Append the delta's band and shingle rows as one new version
    directory each (the two writes overlap), bump the manifest count,
    and commit.  ``dedup_shingles`` is the idempotency MARKER — the
    replay probe reads it — so the delta must never be marked mounted
    without its band rows (ADVICE r13).  One commit names both
    directories or neither: a failure in either write leaves the delta
    un-mounted, and a retry re-runs the full append."""

    def wr_bands():
        snap.write(
            expl_d.repartition("band_idx", "bkt").sortWithinPartitions("band_hash"),
            "dedup_bands",
            partition_by=["band_idx", "bkt"],
            append=True,
        )

    def wr_shingles():
        snap.write(
            banded_d.select(F.col(id_col), F.col("shingles"))
            .withColumn("sbkt", _sbkt(id_col, n_sbkt))
            .repartition("sbkt")
            .sortWithinPartitions(id_col),
            "dedup_shingles",
            partition_by=["sbkt"],
            append=True,
        )

    # leaving the pool waits for both writes, so none outlives this call
    with ThreadPoolExecutor(max_workers=2) as ex:
        futs = [
            ex.submit(inheritable_thread_target(snap.spark)(fn))
            for fn in (wr_bands, wr_shingles)
        ]
        for f in futs:
            f.result()
    dd = snap.manifest["dedup"]
    dd["n_docs"] = int(dd["n_docs"]) + n_new
    snap.commit()


@locked("dedup_append")
def dedup_append(
    spark: SparkSession,
    mount_dir: str,
    docs_delta: DataFrame,
    update: bool = True,
    on_pairs=None,
) -> DataFrame:
    """Near-duplicate pairs introduced by a delta — (delta ↔ corpus) and
    (delta ↔ delta) — at cost ∝ |delta|, never re-scanning the base
    corpus text.  Returns (id_a, id_b, jaccard) exactly as the batch
    operator would for the union corpus restricted to delta-touching
    pairs (the parity pin), and with ``update=True`` (default) appends
    the delta's band/shingle rows into the mounted index so the NEXT
    delta sees base ∪ this one — which is what makes the result
    split-invariant across delta batches.

    Replay safety: delta ids already present in the mounted index are
    dropped (probe of the sbkt-pruned shingle table by id), so
    re-submitting a delta returns no pairs and appends nothing — the
    ``maintain.append_rows`` discipline.  ``on_pairs`` (used by the
    streaming sink) is invoked with the materialized pair frame AFTER
    verification but BEFORE the index updates, so a sink can commit the
    pairs idempotently before the batch's ids become "already mounted".

    DRIVER-RESIDENT SMALL DELTAS: a production deployment appends
    thousands of deltas a day, so the per-delta fixed cost — Spark jobs,
    Python workers, checkpoints — IS the operator's cost.  A delta of at
    most ``MAX_IN_LITERALS // bands`` documents (the common crawl batch)
    is collected once and signed in-process by ``minhash_rows``; pairing,
    the hot-bucket check, tombstones and Jaccard verification run over
    driver-side sets.  What runs on Spark is the limit-collect of the
    delta, the idempotency probe beside one ordered collect of the base
    band rows its keys touch, one collect of the candidates' base
    shingles, and the two index writes.  Larger deltas, over-cap buckets
    and id types Python does not order as Spark does take the
    distributed path (same semantics)."""
    return _dedup_delta(spark, mount_dir, docs_delta, update, on_pairs)[0]


def _dedup_delta(spark, mount_dir, docs_delta, update, on_pairs):
    """``dedup_append``'s body: every read — the idempotency probe, the
    tombstones, the base bands and shingles — resolves through ONE
    snapshot (``mount_dir`` may be one).  With ``update`` it runs under
    the caller's write lock and commits; without, it writes nothing
    (``serve_dedup_lookup``).  Also returns how many delta rows were
    already mounted (None past the gate), which ``serve_dedup_lookup``
    reads to reject a probe id that collides with a mounted one."""
    snap = _snap(spark, mount_dir)
    dd = snap.manifest.get("dedup")
    if not dd:
        raise ValueError("mount has no dedup artifacts — run mount_dedup first")
    id_col, text_col = dd["id_col"], dd["text_col"]
    # cast the delta's id to the MOUNTED dtype: xxhash64 (the sbkt
    # scheme) is type-sensitive, so an int-typed delta against a
    # long-typed mount would probe the wrong shingle partitions —
    # silently defeating idempotency and dropping verified pairs
    id_dtype = dd.get("id_dtype") or dict(docs_delta.dtypes)[id_col]
    # a bare session (the driver's) keeps the default partition-discovery
    # threshold of 32, under which resolving the 256-dir shingle relation
    # launches a cluster listing job per append (~0.45 s of pure floor).
    # Raise it monotonically (never restored — idempotent, so concurrent
    # appends can't race a save/restore) exactly as session.py configures
    thr = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    if int(spark.conf.get(thr, "32")) < 4096:
        spark.conf.set(thr, "4096")
    delta = docs_delta.select(
        F.col(id_col).cast(id_dtype).alias(id_col), F.col(text_col)
    ).where(nonblank_text(text_col))
    # the fast-path gate: lim is sized so the delta's band keys
    # (lim·bands) stay within MAX_IN_LITERALS; overflow → distributed path
    lim = max(1, MAX_IN_LITERALS // max(1, int(dd["bands"])))
    rows = delta.limit(lim + 1).collect()
    small = len(rows) <= lim
    if small:
        # the collected rows ARE the delta from here on: a fallback
        # re-reads them from a local relation, never from the source
        delta = _local_frame(spark, rows, delta.schema)
    id_field = delta.schema[id_col]
    # ONE relation per artifact: spark.read.parquet lists the directories
    # when the relation is resolved, and every frame derived from the
    # same reader object shares that file index
    sh_reader = snap.read("dedup_shingles")
    # tombstoned base docs (delete_docs, r14): excluded from every pair
    # result until compaction reclaims their index rows — driver-bounded
    # by deletes since the last compact
    tomb = _dedup_tomb_ids(snap, id_col)
    ids = [r[0] for r in rows]
    out = None
    # duplicate and NULL delta ids keep the distributed path's join semantics
    if (
        small
        and _python_ordered(id_field.dataType)
        and len(set(ids)) == len(ids)
        and None not in ids
    ):
        out = _append_driver(
            spark, snap, ids, [r[1] for r in rows],
            id_field, sh_reader, tomb, update, on_pairs,
        )
    if out is None:
        out = _append_large(
            spark, snap, delta, id_field, sh_reader, tomb, update, on_pairs,
        )
    pairs, n_new = out
    return pairs, (len(rows) - n_new if small else None)


def _commit(snap, pairs, banded_d, expl_d, n_new, update, on_pairs):
    """The shared tail: hand the pairs to ``on_pairs``, then append the
    new rows to the index and commit (``_update_index``)."""
    if on_pairs is not None:
        on_pairs(pairs)
    if update:
        dd = snap.manifest["dedup"]
        _update_index(
            snap, expl_d, banded_d, dd["id_col"], n_new,
            int(dd.get("n_sbkt", N_SBKT)),
        )
    return pairs, n_new


def _append_driver(
    spark, snap, ids, texts, id_field, sh_reader, tomb, update, on_pairs,
):
    """The driver-resident append of a gated delta (``dedup_append``
    docstring).  Returns (pairs, n_new), or None when a touched bucket is
    over the hot cap or the base band rows overflow their guard — the
    capped distributed path owns those."""
    dd = snap.manifest["dedup"]
    id_col = id_field.name
    n_bkt = int(dd.get("n_bkt", N_BKT))
    n_sbkt = int(dd.get("n_sbkt", N_SBKT))
    if not ids:
        return _pairs_frame(spark, [], id_field.dataType), 0
    shingles, bands = minhash_rows(
        texts, dd["n_hashes"], dd["bands"], dd["shingle_n"], dd["seed"]
    )
    # band keys, hash set and bucket footprint of ALL delta ids (a
    # superset of the post-idempotency set), so the base read can run
    # CONCURRENTLY with the idempotency probe; the superset only ADDS
    # base rows, which the pairing below never reaches.  Band hashes are
    # non-negative, so bkt = hash % n_bkt equals the stored pmod
    keys = sorted({(j, h) for b in bands for j, h in enumerate(b)})
    hashes = sorted({h for _, h in keys})
    keys_local = _local_frame(spark, keys, StructType([
        StructField("band_idx", IntegerType()), StructField("band_hash", LongType()),
    ]))
    # DIRECTORY-pruned base scan; for TINY deltas the band-hash set is
    # additionally pushed as point predicates (the table is sorted by
    # band_hash per directory, so the In filter skips non-matching row
    # groups).  Past MAX_HASH_PUSH_LITERALS the literals cost more at
    # plan time than they prune and the broadcast key join alone bounds
    # the scan.  TakeOrdered collects in ONE job (a bare limit-collect
    # runs up to four as it scales its partition count up)
    base = snap.read("dedup_bands").where(
        F.col("bkt").isin(sorted({h % n_bkt for h in hashes}))
    )
    if len(hashes) <= MAX_HASH_PUSH_LITERALS:
        base = base.where(F.col("band_hash").isin(hashes))
    base_q = (
        base.join(F.broadcast(keys_local), ["band_idx", "band_hash"])
        .select("band_idx", "band_hash", id_col)
        .orderBy("band_idx", "band_hash", id_col)
        .limit(MAX_BASE_BAND_ROWS + 1)
    )
    # idempotency probe: sbkt directory pruning + id point-lookups
    probe = (
        sh_reader.where(F.col("sbkt").isin(sorted(_sbkts(spark, ids, id_field, n_sbkt))))
        .where(F.col(id_col).isin(ids))
        .select(id_col)
    )
    # the two reads touch DIFFERENT artifacts — overlap them (Spark's
    # scheduler is thread-safe); the job group rides along
    with ThreadPoolExecutor(max_workers=2) as ex:
        f_exist = ex.submit(inheritable_thread_target(spark)(probe.collect))
        f_base = ex.submit(inheritable_thread_target(spark)(base_q.collect))
        existing = {r[0] for r in f_exist.result()}
        base_rows = f_base.result()
    new = [i for i, x in enumerate(ids) if x not in existing]
    if not new:
        # deliberately does NOT invoke on_pairs: an all-duplicate delta
        # is a REPLAY, and overwriting the sink's batch directory with an
        # empty frame would destroy the pairs the original
        # (crashed-after-index-update) run already committed
        return _pairs_frame(spark, [], id_field.dataType), 0
    if len(base_rows) > MAX_BASE_BAND_ROWS:
        return None

    # bucket membership = its base rows ∪ its new delta ids; the batch
    # operator's cap counts distinct members, and a bucket within the
    # cap pairs exactly as uncapped
    members: dict = {}
    for i in new:
        for j, h in enumerate(bands[i]):
            members.setdefault((j, h), set()).add(ids[i])
    for j, h, x in base_rows:
        if (j, h) in members:
            members[(j, h)].add(x)
    cap = dd["bucket_cap"]
    if cap is not None and any(len(m) > cap for m in members.values()):
        return None
    new_ids = {ids[i] for i in new}
    cand = set()
    for m in members.values():
        for a in m & new_ids:
            for b in m:
                # Python orders these id types as least/greatest do; a
                # NULL base id never equi-joins, so it never pairs
                if a != b and b is not None and a not in tomb and b not in tomb:
                    cand.add((min(a, b), max(a, b)))

    # verification: the candidates' BASE-side shingles come from the
    # sbkt-pruned shingle directories, point-looked-up by id
    sh_of = {ids[i]: shingles[i] for i in new}
    base_ids = sorted({x for p in cand for x in p if x not in new_ids})
    if base_ids:
        sh = sh_reader.where(
            F.col("sbkt").isin(sorted(_sbkts(spark, base_ids, id_field, n_sbkt)))
        )
        if len(base_ids) <= MAX_IN_LITERALS:
            sh = sh.where(F.col(id_col).isin(base_ids))
        else:
            sh = sh.join(
                F.broadcast(_local_frame(
                    spark, [(x,) for x in base_ids], StructType([id_field])
                )),
                id_col, "left_semi",
            )
        sh_of.update({r[0]: r[1] for r in sh.select(id_col, "shingles").collect()})
    verified = []
    threshold = float(dd["threshold"])
    for a, b in sorted(cand):
        if a not in sh_of or b not in sh_of:
            continue  # band rows without shingles: an interrupted append
        sa, sb = set(sh_of[a]), set(sh_of[b])
        inter = len(sa & sb)
        # array_intersect/array_union deduplicate: set sizes, Spark's
        # double division, the threshold tested BEFORE rounding
        jac = inter / (len(sa) + len(sb) - inter)
        if jac >= threshold:
            verified.append((a, b, jac))
    pairs = _pairs_frame(spark, verified, id_field.dataType)
    banded_d = _local_frame(
        spark,
        [(ids[i], shingles[i], bands[i]) for i in new],
        StructType([
            id_field,
            StructField("shingles", ArrayType(StringType())),
            StructField("bands", ArrayType(LongType())),
        ]),
    )
    return _commit(
        snap, pairs, banded_d, _expl_frame(banded_d, id_col, n_bkt), len(new),
        update, on_pairs,
    )


def _append_large(
    spark, snap, delta, id_field, sh_reader, tomb, update, on_pairs,
):
    """The distributed append for deltas past the fast-path gate (and the
    driver path's fallbacks): no literal In pushdowns (a giant literal In
    costs more in planning than it prunes — measured: an 18k-hash delta
    took the append from ~6 s to ~30 s), shuffle-join probe when the key
    set would strain the driver broadcast.  Returns (pairs, n_new)."""
    dd = snap.manifest["dedup"]
    id_col = id_field.name
    n_bkt = int(dd.get("n_bkt", N_BKT))
    n_sbkt = int(dd.get("n_sbkt", N_SBKT))
    dbkts = [r[0] for r in delta.select(_sbkt(id_col, n_sbkt)).distinct().collect()]
    existing = sh_reader.where(F.col("sbkt").isin(dbkts)).select(id_col)
    banded_d = minhash_banded_frame(
        delta, id_col, dd["text_col"],
        dd["n_hashes"], dd["bands"], dd["shingle_n"], dd["seed"],
    ).join(existing, id_col, "left_anti").persist()
    try:
        n_new = int(banded_d.count())
        if n_new == 0:
            # a replay — see _append_driver
            return _pairs_frame(spark, [], id_field.dataType), 0
        expl_d = _expl_frame(banded_d, id_col, n_bkt).persist()
        try:
            # the delta's distinct band keys against the DIRECTORY-PRUNED
            # base band scan: base never shuffles below the broadcast cap
            keys_d = expl_d.select("band_idx", "band_hash").distinct().persist()
            try:
                n_keys_bound = n_new * int(dd["bands"])
                bkts = sorted(
                    {r[0] for r in expl_d.select("bkt").distinct().collect()}
                )
                base = snap.read("dedup_bands").where(F.col("bkt").isin(bkts))
                probe = (
                    F.broadcast(keys_d)
                    if n_keys_bound <= MAX_BROADCAST_KEYS
                    else keys_d
                )
                base_matched = base.join(probe, ["band_idx", "band_hash"]).select(
                    "band_idx", "band_hash", id_col, F.lit(False).alias("_new")
                )
                union_expl = base_matched.unionByName(
                    expl_d.select(
                        "band_idx", "band_hash", id_col, F.lit(True).alias("_new")
                    )
                )
                cand = _delta_touching_candidates(
                    union_expl, id_col, dd["bucket_cap"]
                ).localCheckpoint(eager=True)
                if tomb:
                    # tombstoned base docs drop from the pair stream
                    # before verification fetches their shingles; the
                    # set is driver-bounded (deletes since compaction),
                    # so a literal filter suffices — past the In cap it
                    # enters as a broadcast anti-join instead
                    tl = sorted(tomb)
                    if len(tl) <= MAX_IN_LITERALS:
                        cand = cand.where(
                            ~F.col("id_a").isin(tl) & ~F.col("id_b").isin(tl)
                        )
                    else:
                        tdf = _local_frame(
                            spark, [(i,) for i in tl], StructType([id_field])
                        )
                        cand = cand.join(
                            F.broadcast(tdf.withColumnRenamed(id_col, "id_a")),
                            "id_a", "left_anti",
                        ).join(
                            F.broadcast(tdf.withColumnRenamed(id_col, "id_b")),
                            "id_b", "left_anti",
                        )
            finally:
                keys_d.unpersist()

            # verification: shingles for the candidates' BASE-side ids
            # come from the sbkt-pruned shingle directories (delta ids
            # resolve from the in-flight delta frame; the anti-join
            # keeps the collect bounded by the CANDIDATE set — never by
            # |delta| — so only genuinely base ids drive the pruning and
            # directories touched track the candidate count, not the
            # corpus)
            base_ids = sorted(
                r[0]
                for r in cand.select(
                    F.explode(F.array("id_a", "id_b")).alias(id_col)
                )
                .distinct()
                .join(banded_d.select(id_col), id_col, "left_anti")
                .collect()
            )
            if base_ids:
                base_sh = sh_reader
                if len(base_ids) <= MAX_IN_LITERALS:
                    base_sh = base_sh.where(
                        F.col("sbkt").isin(
                            sorted(_sbkts(spark, base_ids, id_field, n_sbkt))
                        )
                    ).where(F.col(id_col).isin(base_ids))
                sh = base_sh.select(id_col, "shingles").unionByName(
                    banded_d.select(id_col, "shingles")
                )
            else:
                sh = banded_d.select(id_col, "shingles")
            pairs = verify_shingle_pairs(
                cand, sh, id_col, dd["threshold"]
            ).localCheckpoint(eager=True)
            return _commit(
                snap, pairs, banded_d, expl_d, n_new, update, on_pairs,
            )
        finally:
            expl_d.unpersist()
    finally:
        banded_d.unpersist()


def stream_dedup_append(
    spark: SparkSession,
    mount_dir: str,
    stream_docs: DataFrame,
    pairs_dir: str,
    checkpoint_dir: str | None = None,
):
    """Continuous crawl dedup against a mounted corpus — the Structured-
    Streaming dual of ``dedup_append`` (the ``stream_append_codes``
    pattern): each micro-batch's near-dup pairs (batch ↔ corpus-so-far +
    batch ↔ batch) land under ``pairs_dir/batch_id=N`` and the batch's
    band/shingle rows join the mounted index, so LATER batches dedup
    against earlier ones.  Because ``dedup_append`` is split-invariant
    and updates the index between batches, the union of all batch pair
    sets equals one batch call on the concatenated delta
    (tests/test_mount_dedup.py pins it).

    Replay discipline (at-least-once ``foreachBatch``): pairs overwrite
    a BATCH-KEYED directory from the ``on_pairs`` hook, which runs BEFORE
    the batch's index update, and that update is one manifest commit.
    A replayed batch whose commit never landed recomputes the identical
    full pair set and rewrites it; one whose commit landed is an
    all-duplicate delta, which never calls ``on_pairs``, so the directory
    keeps the pairs the first run wrote (tests/test_review_r12.py crashes
    a batch at both points).

    Returns the started ``StreamingQuery`` (``availableNow`` trigger)."""
    if not snapshot(spark, mount_dir).manifest.get("dedup"):
        # fail synchronously, not inside the Nth micro-batch
        raise ValueError("mount has no dedup artifacts — run mount_dedup first")

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        tgt = os.path.join(pairs_dir, f"batch_id={int(batch_id)}")
        dedup_append(
            spark, mount_dir, batch_df, update=True,
            on_pairs=lambda p: p.write.mode("overwrite").parquet(tgt),
        )

    writer = stream_docs.writeStream.foreachBatch(sink).trigger(availableNow=True)
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()


@locked("dedup_embed_append")
def dedup_embed_append(
    spark: SparkSession,
    mount_dir: str,
    emb_delta: DataFrame,
    emb_base: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    update: bool = False,
) -> DataFrame:
    """Embedding near-dup pairs for a vector delta against a MOUNTED
    corpus — the SemDeDup contract made incremental (r12): the mounted
    IVF codes table IS the blocking index.  Delta vectors assign to the
    FROZEN cells (``maintain._assign_cells``, same argmin as serving);
    candidates are the same-cell (delta ↔ base) and (delta ↔ delta)
    pairs — the codes scan is DIRECTORY-pruned to the delta's cells and
    carries only ids — and exact cosine against ``emb_base`` (the
    full-vector store, the serve-path pattern) verifies them.  Recall is
    same-cell by contract, exactly the within-cluster scope batch
    SemDeDup (``semdedup_prune``) has; cost is Σ_cell |delta_c|·|base_c|,
    never corpus².

    ``update=True`` appends the delta's codes afterwards via
    ``maintain.append_rows`` (idempotent, frozen artifacts), so the next
    delta's candidates include this one — the ``dedup_append`` growth
    discipline on the vector front.  Returns (id_a, id_b, cos_sim),
    id_a < id_b, eagerly checkpointed."""
    from simsearch_spark.functions.measures import cosine_similarity
    from simsearch_spark.mount.artifacts import load_centroid_map
    from simsearch_spark.mount.maintain import _assign_cells, _drop_existing_ids
    from simsearch_spark.mount.serve import read_codes

    snap = snapshot(spark, mount_dir)
    cmap = load_centroid_map(spark, snap)
    delta = _drop_existing_ids(snap, emb_delta, id_col)
    delta = _assign_cells(delta, id_col, vec_col, cmap).select(
        F.col(id_col), F.col(vec_col), F.col("__cell").alias("cell")
    ).localCheckpoint(eager=True)
    cells = sorted({r[0] for r in delta.select("cell").distinct().collect()})
    if not cells:
        return spark.createDataFrame(
            [], f"id_a {dict(emb_delta.dtypes)[id_col]}, "
            f"id_b {dict(emb_delta.dtypes)[id_col]}, cos_sim double"
        )

    base_ids = (
        read_codes(spark, snap)
        .where(F.col("cell").isin(cells))
        .select(F.col("vec_id").alias(id_col), "cell")
    )
    base_side = base_ids.join(
        emb_base.select(F.col(id_col), F.col(vec_col)), id_col
    ).select(
        F.col(id_col).alias("_id_o"), F.col(vec_col).alias("_v_o"), "cell"
    )
    both = base_side.unionByName(
        delta.select(
            F.col(id_col).alias("_id_o"), F.col(vec_col).alias("_v_o"), "cell"
        )
    )
    left = delta.select(
        F.col(id_col).alias("_id_n"), F.col(vec_col).alias("_v_n"), "cell"
    )
    cand = (
        left.join(both, "cell")
        .where(F.col("_id_n") != F.col("_id_o"))
        .withColumn(
            "cos_sim", F.round(cosine_similarity(F.col("_v_n"), F.col("_v_o")), 6)
        )
        .where(F.col("cos_sim") >= float(threshold))
        .select(
            F.least("_id_n", "_id_o").alias("id_a"),
            F.greatest("_id_n", "_id_o").alias("id_b"),
            "cos_sim",
        )
        .dropDuplicates(["id_a", "id_b"])
        .localCheckpoint(eager=True)
    )
    if update:
        from simsearch_spark.mount.maintain import append_rows

        append_rows(
            spark, mount_dir,
            emb_delta=delta.select(id_col, vec_col, F.col("cell").alias("label")),
            id_col=id_col, vec_col=vec_col, cell_col="label",
        )
    return cand
