"""Mount step: train every expensive artifact ONCE and persist it as
parquet under a mount directory — the Spark analog of the reference's
``Coordinator.mount`` (``Coordinator.java:237-800``: ingest, index
construction, embedding, pivot selection happen at mount; queries only
read).

Artifact inventory (all sized far below the corpus; the PQ codes table is
the one corpus-proportional artifact and it is the POINT — m small ints
per vector instead of the raw embedding):

==================  ========================================  ============
artifact            schema                                    trains from
==================  ========================================  ============
ivf_centroids       (cluster_id, centroid array<double>)      label means,
                                                              round-6 pinned
pq_codebooks        (j, cluster_id, centroid array<double>)   residual
                                                              Lloyd chains on
                                                              the bounded
                                                              lowest-id sample
pq_codes            (vec_id, cell, code_0..code_{m-1})        full corpus,
  [partitioned                                                encoded against
   by cell]                                                   its own cell
langid_profiles     (lane, lang, tri, w)                      embedded seeds
                                                              or a labeled
                                                              sample
lm_bigrams/ctx/     (ngram, cb) / (ctx, cu) / (v)             corpus bigram
  vocab                                                       counts
bm25_df/global      (term, df) / (n_docs, avgdl)              corpus token
                                                              stats
tombstones          (vec_id)                                  maintain.delete
==================  ========================================  ============

``manifest.json`` records the training parameters, the row counts, and
— the mount's one commit point — every artifact's live directories and
schema.  Each artifact version is written once into a new directory that
is never renamed; ``save_manifest`` under the write lock publishes, and
GC deletes what the last two manifests do not name (``Snapshot``, the
layout note above it).  Readers take one ``snapshot`` per call and
resolve every path through it; nothing else in the package names an
artifact directory.

Scale notes: ``pq_codes`` is written ``partitionBy("cell")`` so the serve
path's cell predicate is DIRECTORY pruning — probed cells' files are the
only ones listed, let alone read.  All other artifacts are
driver-bounded (n_cells·dim, m·ksub·dsub, langs·k, vocab-sized LM/BM25
tables that every real deployment maintains as tables, not driver state).

The frozen-artifact contract: ``train_frame`` (default: the corpus)
determines every trained artifact; appending rows later (maintain.py)
reuses these artifacts unchanged, so mount(base)+append(delta) ==
mount(base ∪ delta, train_frame=base) exactly — the parity
tests/test_mount.py pins.
"""

from __future__ import annotations

import json
import os
import shutil
import threading
import uuid

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from simsearch_spark.mount.lock import ConcurrentMutationError, holds_lock, locked

#: 2: every artifact lives in write-once version directories that the
#: manifest names (version-1 mounts are rejected: re-mount them)
MANIFEST_VERSION = 2

#: pivots selected at mount (the reference defaults to a handful per
#: attribute; 8 matches the operators/pivot.py test contract)
N_PIVOTS = 8

#: artifact families for INCREMENTAL refresh (VERDICT r13 task 1): drift
#: is usually localized to one family, and at 100 TB the full
#: retrain is the engine's most expensive lifecycle job —
#: ``refresh(families=[...])`` regenerates only the drifted family in
#: new versions and commits them, leaving the other families' artifacts
#: byte-identical (the same directories).
FAMILY_ARTIFACTS: dict[str, list[str]] = {
    "vector": ["ivf_centroids", "pq_codebooks", "pq_codes", "pivots",
               "pivot_embedded"],
    "text": ["langid_profiles", "lm_bigrams", "lm_ctx", "lm_vocab",
             "lm_tokens", "bm25_df", "bm25_global"],
    "dedup": ["dedup_bands", "dedup_shingles"],
    "bpe": ["bpe_merges"],
}

__all__ = [
    "mount",
    "FAMILY_ARTIFACTS",
    "Snapshot",
    "snapshot",
    "load_manifest",
    "save_manifest",
    "load_centroid_map",
    "load_codebooks",
    "load_profiles",
    "load_pivots",
    "encode_residual_codes",
]


def encode_residual_codes(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    cell_col: str,
    cmap: dict[int, list[float]],
    codebooks: list[dict[int, list[float]]],
) -> DataFrame:
    """(id, cell, code_0..code_{m-1}): every vector PQ-encoded against its
    own cell's residual.  Pure codegen column expressions (argmin over
    ksub literal centroids per subspace), row-local, zero shuffles — the
    corpus never moves; identical code values to the probe-time encode
    inside ``ivf_pq_topk`` (the same ``cell_residual`` and ``pq_encode``)."""
    from simsearch_spark.operators.pq import cell_residual, pq_encode

    enc_in = emb.select(
        F.col(id_col),
        cell_residual(vec_col, cell_col, cmap, sorted(cmap)).alias("__r"),
        F.col(cell_col).alias("cell"),
    )
    enc = pq_encode(enc_in, id_col, "__r", codebooks)
    m = len(codebooks)
    return enc.select(
        F.col(id_col), F.col("cell"), *[F.col(f"code_{j}") for j in range(m)]
    )


def _train_vector_family(
    spark: SparkSession, emb: DataFrame, train: DataFrame, snap: "Snapshot"
) -> tuple[dict, int]:
    """Train and persist the VECTOR artifact family (IVF centroids,
    residual PQ codebooks, the cell-partitioned codes table, pivots and
    the pivot distance embedding) as new versions in ``snap``.  ``emb`` should
    arrive persisted — the trainers make several passes over it.
    Returns ``(params_fragment, n_vectors)`` for the manifest."""
    from simsearch_spark.queries.cluster import PQ_ITERS, PQ_KSUB, PQ_M, PQ_TRAIN_N
    from simsearch_spark.queries.ivfpq import (
        _centroid_map6,
        _sample_rows,
        _train_books_residual_rows,
    )

    from concurrent.futures import ThreadPoolExecutor

    # one centroid aggregation + one bounded-sample collect; the Lloyd
    # chains run driver-side on the collected sample (r14 — identical
    # codebooks, tests/test_pq.py pins the arms equal)
    cmap = _centroid_map6(train)
    books = _train_books_residual_rows(_sample_rows(train), cmap)

    # the five artifact writes and the vector count are independent jobs
    # over the persisted emb/driver-resident training output — overlap
    # them so later jobs back-fill each write's straggler tail (guide
    # §2.6; the manifest, the mount's only discovery point, is committed
    # by the caller strictly after every future resolves)
    def write_centroids():
        snap.write(
            spark.createDataFrame(
                sorted(cmap.items()), "cluster_id int, centroid array<double>"
            ),
            "ivf_centroids",
        )

    def write_codebooks():
        snap.write(
            spark.createDataFrame(
                [
                    (j, int(cid), [float(x) for x in vec])
                    for j, cb in enumerate(books)
                    for cid, vec in sorted(cb.items())
                ],
                "j int, cluster_id int, centroid array<double>",
            ),
            "pq_codebooks",
        )

    def write_codes():
        codes = encode_residual_codes(
            emb, "vec_id", "embedding", "label", cmap, books
        )
        # repartition ON the partition column: a fresh mount starts at one
        # file per cell (the same layout compact_codes restores), so the
        # COMPACT_FILES_PER_CELL trigger measures append debris, not the
        # writer's shuffle spray; a petabyte mount would repartition(n,
        # "cell") to keep intra-cell file parallelism
        snap.write(codes.repartition("cell"), "pq_codes", partition_by=["cell"])

    def write_pivot_artifacts():
        # pivot artifacts — the reference's own mount-time V-path
        # (Coordinator.java:760-788: allocate/select pivots, embed): the
        # deterministic farthest-point pivots and the per-row distance
        # embedding, persisted so serve-side pruned k-NN reads narrow
        # emb_* columns (and, at scale, skips row groups via their
        # min/max stats) instead of re-embedding the corpus per query
        from simsearch_spark.operators.pivot import (
            embed_distances,
            select_pivots_farthest_point,
        )

        pivots = select_pivots_farthest_point(train, "vec_id", "embedding", N_PIVOTS)
        snap.write(
            spark.createDataFrame(
                [
                    (pos, int(pid), [float(x) for x in vec])
                    for pos, (pid, vec) in enumerate(pivots)
                ],
                "pos int, pivot_id long, vector array<double>",
            ),
            "pivots",
        )
        snap.write(
            embed_distances(emb, "embedding", pivots).select(
                "vec_id", *[f"emb_{i}" for i in range(len(pivots))]
            ),
            "pivot_embedded",
        )

    with ThreadPoolExecutor(max_workers=4) as ex:
        futs = [
            ex.submit(inheritable_thread_target(spark)(fn))
            for fn in (
                write_centroids, write_codebooks, write_codes, write_pivot_artifacts
            )
        ]
        f_count = ex.submit(inheritable_thread_target(spark)(emb.count))
        for f in futs:
            f.result()
        n_vectors = int(f_count.result())
    params = {
        "pq_m": PQ_M,
        "pq_ksub": PQ_KSUB,
        "pq_iters": PQ_ITERS,
        "pq_train_n": PQ_TRAIN_N,
        "n_cells": len(cmap),
    }
    return params, n_vectors


def _train_text_family(
    spark: SparkSession,
    docs: DataFrame,
    profiles: dict[str, dict[str, int]] | None,
    snap: "Snapshot",
) -> list[str]:
    """Train and persist the TEXT artifact family (language-ID profiles,
    LM bigram/context/vocab tables, BM25 stats) as new versions in
    ``snap``.
    ``docs`` must already be text-notnull-filtered and should arrive
    persisted — the trainers make several passes and the dedup trainer
    shares the same read.  Returns the lane-ordered language list."""
    from simsearch_spark.functions.langid import PROFILES, _langs_of
    from simsearch_spark.functions.text import ws_tokens
    from simsearch_spark.queries.vocab import lm_count_tables, lm_doc_bigrams

    prof = PROFILES if profiles is None else profiles
    langs = _langs_of(profiles)
    snap.write(
        spark.createDataFrame(
            [
                (lane, lang, tri, int(w))
                for lane, lang in enumerate(langs)
                for tri, w in sorted(prof[lang].items())
            ],
            "lane int, lang string, tri string, w long",
        ),
        "langid_profiles",
    )

    from concurrent.futures import ThreadPoolExecutor

    toks = ws_tokens(F.col("text"))
    bgc = lm_doc_bigrams(docs).persist()
    try:
        cb, cu, vocab = lm_count_tables(bgc, docs)
        tdocs = docs.select("doc_id", toks.alias("toks")).where(
            F.col("toks").isNotNull()
        )
        # the six LM/BM25 artifact writes are independent aggregations
        # over the persisted bgc/docs frames — overlap them (guide §2.6;
        # the manifest is committed by the caller after every write lands)
        jobs = [
            (cb, "lm_bigrams"),
            (cu, "lm_ctx"),
            (vocab, "lm_vocab"),
            # the distinct token set behind lm_vocab's count —
            # countDistinct is not mergeable from counts alone, so
            # appends re-derive v from the merged token set
            # (maintain.append_rows)
            (docs.select(F.explode(toks).alias("tok")).distinct(), "lm_tokens"),
            (
                tdocs.select(
                    "doc_id", F.explode(F.array_distinct("toks")).alias("term")
                )
                .groupBy("term")
                .agg(F.count(F.lit(1)).alias("df")),
                "bm25_df",
            ),
            (
                tdocs.agg(
                    F.count(F.lit(1)).alias("n_docs"),
                    F.avg(F.size("toks").cast("double")).alias("avgdl"),
                    F.sum(F.size("toks").cast("long")).alias("sum_dl"),
                ),
                "bm25_global",
            ),
        ]
        with ThreadPoolExecutor(max_workers=4) as ex:
            futs = [
                ex.submit(inheritable_thread_target(spark)(snap.write), frame, name)
                for frame, name in jobs
            ]
            for f in futs:
                f.result()
    finally:
        bgc.unpersist()
    return list(langs)


def _dedup_family_params(dedup_params: dict | None) -> dict:
    """The frozen MinHash family the dedup index is built with: module
    defaults overlaid with the caller's (or the previous generation's)
    overrides, unknown keys rejected loudly."""
    from simsearch_spark.queries.pipeline import MINHASH_T, N_BANDS, N_HASHES

    dp = {"threshold": MINHASH_T, "n_hashes": N_HASHES, "bands": N_BANDS}
    if dedup_params:
        allowed = {
            "id_col", "text_col", "threshold", "n_hashes", "bands",
            "shingle_n", "seed", "bucket_cap",
            # layout fan-outs: auto-derived from corpus size when absent
            # (r15); a refresh deliberately does NOT carry them so the
            # new generation re-sizes for the refreshed corpus
            "n_bkt", "n_sbkt",
        }
        bad = set(dedup_params) - allowed
        if bad:
            raise ValueError(f"dedup_params keys not settable: {sorted(bad)}")
        dp.update(dedup_params)
    return dp


@locked("mount", arg=2, makedirs=True)
def mount(
    spark: SparkSession,
    sf_dir: str,
    mount_dir: str,
    train_frame: DataFrame | None = None,
    profiles: dict[str, dict[str, int]] | None = None,
    emb_frame: DataFrame | None = None,
    docs_frame: DataFrame | None = None,
    dedup: bool = True,
    dedup_params: dict | None = None,
) -> dict:
    """Train and persist the vector, text and (unless ``dedup=False``)
    dedup artifact families from the corpus at ``sf_dir``; returns the
    manifest (also committed to ``mount_dir/manifest.json``).

    ``train_frame``: the embeddings frame the IVF centroids and residual
    PQ codebooks are trained on (default: the corpus itself — which makes
    the mounted artifacts EQUAL to what the self-contained declared
    queries train in-query, the parity contract).  ``profiles``: a
    language-ID profile dict (e.g. ``train_profiles`` output); default is
    the embedded seed profiles the declared queries use.  ``emb_frame`` /
    ``docs_frame`` override the corpus frames themselves (partial mounts,
    the frozen-artifact append parity tests).  ``dedup_params`` overrides
    the frozen MinHash family of the dedup index.

    The families train through ``audit._train_families``, the loop
    ``refresh`` runs too, here over an empty snapshot.  Re-mounting a
    directory writes a new generation beside the live one and commits
    it; the previous manifest is neither read nor needed."""
    from simsearch_spark.mount.audit import _train_families

    snap = Snapshot(spark, mount_dir)
    _train_families(
        spark, snap, sf_dir, ["vector", "text"] + (["dedup"] if dedup else []),
        emb_frame, docs_frame, train_frame=train_frame, profiles=profiles,
        dedup_params=dedup_params,
    )
    snap.commit()
    return snap.manifest


def _add_family(manifest: dict, family: str, block: dict | None = None) -> None:
    """List ``family``'s artifacts in ``manifest`` and record the
    family's manifest ``block`` (``dedup``, ``bpe``) when it has one."""
    if block is not None:
        manifest[family] = block
    manifest["artifacts"] += [
        a for a in FAMILY_ARTIFACTS[family] if a not in manifest["artifacts"]
    ]


def _publish_family(spark: SparkSession, mount_dir: str, family: str, build) -> dict:
    """Train one family and commit it (``mount_dedup``, ``mount_bpe``;
    runs under their write lock): ``build(snap)`` writes new versions of
    the family's artifacts and returns its manifest block, which joins
    the live manifest — or a fresh one in a directory the trainer is
    creating.  Returns the new manifest."""
    snap = snapshot(spark, mount_dir, missing_ok=True)
    _add_family(snap.manifest, family, build(snap))
    snap.commit()
    return snap.manifest


# ---------------------------------------------------------------- layout
#
# <mount>/manifest.json             the one commit point (save_manifest)
# <mount>/<artifact>/version=<id>/  written once, never renamed
#
# The manifest's "dirs" map names each artifact's live entries, paths
# under <mount>/<artifact>: a version directory, or one partition of one
# (split_cell/merge_cells retire a cell without rewriting the rest).
# Its "schemas" map holds the DDL each artifact was written with, so a
# read infers nothing.  ``version`` is a partition column of every
# artifact, which keeps one basePath per artifact and with it the cell /
# bkt / sbkt directory pruning; readers drop it.

_VERSION = "version"
MANIFEST = "manifest.json"


def _empty_manifest() -> dict:
    return {
        "version": MANIFEST_VERSION,
        "source": None,
        "params": {},
        "counts": {},
        "artifacts": [],
        "dirs": {},
        "schemas": {},
    }


def _ddl(schema) -> str:
    return ", ".join(f"`{f.name}` {f.dataType.simpleString()}" for f in schema)


def _raw_manifest(mount_dir: str) -> bytes:
    """The manifest's bytes; empty when there is none."""
    try:
        with open(os.path.join(mount_dir, MANIFEST), "rb") as f:
            return f.read()
    except FileNotFoundError:
        return b""


def _parse_manifest(raw: bytes, mount_dir: str) -> dict:
    m = json.loads(raw)
    if m.get("version") != MANIFEST_VERSION or "dirs" not in m:
        raise ValueError(
            f"mount {mount_dir!r} has a version-{m.get('version')} manifest "
            f"that names no artifact directories; this engine reads version "
            f"{MANIFEST_VERSION} — re-mount the corpus into a new directory"
        )
    return m


class Snapshot:
    """One read of a mount's manifest.  Every artifact path a call
    touches resolves through it, so the call sees exactly one commit,
    whatever publishes meanwhile: GC keeps the directories a snapshot
    names through the next commit.  A writer records new versions in
    ``manifest`` (read-your-writes: ``read`` sees them) and commits."""

    def __init__(self, spark: SparkSession, mount_dir: str, raw: bytes | None = None):
        self.spark = spark
        self.mount_dir = mount_dir
        #: the committed bytes this snapshot was read from (the commit
        #: fence); None for a generation that replaces whatever is there
        self.raw = raw
        self.manifest = _parse_manifest(raw, mount_dir) if raw else _empty_manifest()
        self._record = threading.Lock()  # trainers write from thread pools

    def _root(self, name: str) -> str:
        return os.path.join(self.mount_dir, name)

    def has(self, name: str) -> bool:
        return bool(self.manifest["dirs"].get(name))

    def paths(self, name: str) -> list[str]:
        """The artifact's live directories."""
        return [os.path.join(self._root(name), e) for e in self.manifest["dirs"].get(name, [])]

    def read(self, name: str) -> DataFrame:
        """The artifact as one relation over its live directories, with
        the recorded schema (no inference job); partitions are discovered
        under one base, so partition predicates prune directories."""
        return (
            self.spark.read.schema(f"{self.manifest['schemas'][name]}, `{_VERSION}` string")
            .option("basePath", self._root(name))
            .parquet(*self.paths(name))
            .drop(_VERSION)
        )

    def write(
        self, df: DataFrame, name: str, partition_by: list[str] | None = None,
        append: bool = False,
    ) -> None:
        """Write ``df`` once into a new version directory of ``name`` and
        record it: ``append`` adds the directory to the artifact's list,
        otherwise the directory replaces the list (a rewrite)."""
        v = f"{_VERSION}={uuid.uuid4().hex}"
        w = df.write.mode("errorifexists")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(os.path.join(self._root(name), v))
        with self._record:
            dirs = self.manifest["dirs"]
            if append and dirs.get(name):
                dirs[name] = dirs[name] + [v]
            else:
                dirs[name] = [v]
                self.manifest["schemas"][name] = _ddl(df.schema)

    def drop(self, name: str) -> None:
        """Name no version of ``name`` any more (tombstones a compaction
        consumed, a retrain's horizon)."""
        self.manifest["dirs"].pop(name, None)
        self.manifest["schemas"].pop(name, None)

    def drop_partitions(self, name: str, key: str, values) -> None:
        """Stop naming ``name``'s ``key=<value>`` partitions: a version
        directory holding one is replaced in the list by its other
        partitions.  Nothing is rewritten; the files go when GC retires
        the whole version."""
        gone = {f"{key}={v}" for v in values}
        kept = []
        for e in self.manifest["dirs"].get(name, []):
            if "/" in e:
                if e.split("/", 1)[1] not in gone:
                    kept.append(e)
                continue
            parts = sorted(os.listdir(os.path.join(self._root(name), e)))
            if gone.isdisjoint(parts):
                kept.append(e)
            else:
                kept += [
                    f"{e}/{p}" for p in parts
                    if p.startswith(key + "=") and p not in gone
                ]
        self.manifest["dirs"][name] = kept

    def file_counts(self, name: str) -> dict[str, int]:
        """Parquet files per partition directory ("cell=3",
        "band_idx=0/bkt=5"; "." unpartitioned), summed over the live
        directories — the compaction trigger's unit (no Spark job)."""
        out: dict[str, int] = {}
        for e in self.manifest["dirs"].get(name, []):
            top = os.path.join(self._root(name), e.split("/", 1)[0])
            for root, _dirs, files in os.walk(os.path.join(self._root(name), e)):
                n = sum(1 for f in files if f.endswith(".parquet"))
                if n:
                    key = os.path.relpath(root, top)
                    out[key] = out.get(key, 0) + n
        return out

    def commit(self) -> None:
        """Publish ``manifest`` (``save_manifest``, fenced against the
        commit this snapshot was read from)."""
        save_manifest(self.mount_dir, self.manifest, expect=self.raw)
        self.raw = _raw_manifest(self.mount_dir)


def snapshot(spark: SparkSession, mount_dir: str, missing_ok: bool = False) -> Snapshot:
    """The mount's current commit.  ``missing_ok``: a directory without
    a manifest yields an empty one (a trainer creating the mount)."""
    raw = _raw_manifest(mount_dir)
    if not raw and not missing_ok:
        raise FileNotFoundError(f"no mount manifest in {mount_dir!r}")
    return Snapshot(spark, mount_dir, raw)


def _snap(spark: SparkSession, where) -> Snapshot:
    """``where`` — a snapshot, or a mount directory to take one of."""
    return where if isinstance(where, Snapshot) else snapshot(spark, where)


def load_manifest(mount_dir: str) -> dict:
    raw = _raw_manifest(mount_dir)
    if not raw:
        raise FileNotFoundError(f"no mount manifest in {mount_dir!r}")
    return _parse_manifest(raw, mount_dir)


def _named(manifest: dict) -> set[tuple[str, str]]:
    return {
        (name, e.split("/", 1)[0])
        for name, entries in manifest.get("dirs", {}).items()
        for e in entries
    }


def save_manifest(mount_dir: str, manifest: dict, expect: bytes | None = None) -> None:
    """The ONE commit point of a mount; runs under its write lock.

    With ``expect`` (the bytes the writer's snapshot read), a different
    live manifest means a writer bypassed the lock, and the commit is
    refused (``ConcurrentMutationError``) so its mutation is not
    silently dropped.  The manifest is dumped to a sibling temp file and
    ``os.replace``d over the old one: a reader, or a crash mid-dump, sees
    the previous manifest or the new one.  Then GC deletes every version
    directory that neither this manifest nor the previous one names:
    what the previous commit retired survives this one, so a reader's
    snapshot outlives at least one further commit, and the debris of a
    crashed op — never named — is collected here."""
    if not holds_lock(mount_dir):
        raise RuntimeError(f"save_manifest outside the write lock of {mount_dir!r}")
    old = _raw_manifest(mount_dir)
    if expect is not None and old != expect:
        raise ConcurrentMutationError(
            f"the manifest of {mount_dir!r} changed since this op's "
            "snapshot — a writer bypassed the mount write lock; refusing "
            "to commit over its mutation"
        )
    path = os.path.join(mount_dir, MANIFEST)
    with open(path + ".tmp", "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    os.replace(path + ".tmp", path)
    prev = json.loads(old) if old else {}
    _collect(mount_dir, _named(manifest) | _named(prev))


def _collect(mount_dir: str, keep: set[tuple[str, str]]) -> None:
    """GC: remove every ``<artifact>/version=*`` directory not in
    ``keep``, and artifact directories left empty."""
    for name in os.listdir(mount_dir):
        root = os.path.join(mount_dir, name)
        if not os.path.isdir(root):
            continue
        gone = [
            v for v in os.listdir(root)
            if v.startswith(_VERSION + "=") and (name, v) not in keep
        ]
        for v in gone:
            shutil.rmtree(os.path.join(root, v), ignore_errors=True)
        if gone and not os.listdir(root):
            os.rmdir(root)


def load_centroid_map(spark: SparkSession, mount_dir) -> dict[int, list[float]]:
    """cluster_id -> round-6-pinned centroid (bounded: n_cells · dim).
    ``mount_dir`` may be a ``Snapshot`` (so may the other loaders')."""
    rows = _snap(spark, mount_dir).read("ivf_centroids").collect()
    return {int(r["cluster_id"]): [float(x) for x in r["centroid"]] for r in rows}


def load_codebooks(spark: SparkSession, mount_dir) -> list[dict[int, list[float]]]:
    """The residual PQ codebooks in ``pq_train``'s shape (bounded:
    m · ksub · dsub)."""
    rows = _snap(spark, mount_dir).read("pq_codebooks").collect()
    m = 1 + max(int(r["j"]) for r in rows)
    books: list[dict[int, list[float]]] = [{} for _ in range(m)]
    for r in rows:
        books[int(r["j"])][int(r["cluster_id"])] = [float(x) for x in r["centroid"]]
    return books


def load_pivots(spark: SparkSession, mount_dir) -> list:
    """The mounted pivot set in ``select_pivots_farthest_point``'s
    [(id, vector)] shape, selection order restored (bounded: p · dim)."""
    rows = _snap(spark, mount_dir).read("pivots").collect()
    return [
        (int(r["pivot_id"]), [float(x) for x in r["vector"]])
        for r in sorted(rows, key=lambda r: int(r["pos"]))
    ]


def load_profiles(spark: SparkSession, mount_dir) -> dict[str, dict[str, int]]:
    """Language-ID profiles with the lane order restored (bounded:
    langs · k rows)."""
    rows = _snap(spark, mount_dir).read("langid_profiles").collect()
    by_lane: dict[int, str] = {}
    tris: dict[str, dict[str, int]] = {}
    for r in rows:
        by_lane[int(r["lane"])] = str(r["lang"])
        tris.setdefault(str(r["lang"]), {})[str(r["tri"])] = int(r["w"])
    return {by_lane[lane]: tris[by_lane[lane]] for lane in sorted(by_lane)}
