"""Mount-time artifact layer — the reference's mount/search split rebuilt
Spark-first.

The reference trains everything ONCE at mount time (``Coordinator.mount``,
``Coordinator.java:237-800`` — ingest, index construction, embedding,
pivot selection) and then serves many queries against the mounted instance
(``Coordinator.search``, ``Coordinator.java:1085-1098``;
``SimSearchController.java:315-496`` adds ``/append`` and ``/delete``
catalog maintenance).  The declared registry queries deliberately retrain
their artifacts in-query so one SQL oracle can replay the whole chain —
correct, but the two heaviest bench entries are ~80 % training that a real
deployment pays once.  This package is that deployment shape:

- ``artifacts.mount(spark, sf_dir, mount_dir)`` trains and persists the
  expensive artifacts as parquet + a JSON manifest: IVF centroids,
  residual PQ codebooks, the PQ-ENCODED corpus, language-ID trigram
  profiles, the bigram-LM count tables, and the BM25 corpus statistics.
- ``serve`` loads them and answers queries WITHOUT retraining — the
  IVF-PQ serve path reads only the probed cells' codes (pushed filter on
  the codes table) plus a bounded point-lookup for the exact rerank.
- ``maintain.append_rows`` / ``maintain.delete_ids`` implement the
  reference's catalog maintenance under the frozen-artifact contract: new
  rows are assigned to EXISTING cells and encoded with EXISTING codebooks
  (one broadcast argmin — no retrain); deletes are tombstones the serve
  path subtracts.  Duplicate ids and replayed micro-batches are exact
  no-ops (id anti-join, r12).
- ``dedup.mount_dedup`` / ``dedup.dedup_append`` (r12) persist the
  MinHash signature/band index and join each crawl delta against it at
  cost ∝ |delta| — (delta ↔ corpus) + (delta ↔ delta) near-dup pairs,
  parity-equal to the batch operator on the union corpus restricted to
  delta-touching pairs, hot-bucket cap intact across the mounted
  boundary.
- ``audit.audit_drift`` / ``audit.refresh`` (r12) close the frozen-
  artifact drift loop: measured recall@k of the mounted index on the
  most recent rows vs a brute-force arm, and a retrain whose new
  generation one manifest commit publishes without interrupting
  serving.  r14 makes refresh FAMILY-GRANULAR
  (``refresh(families=["vector"|"text"|"dedup"|"bpe"])``): drift is
  usually localized, so only the drifted family retrains — one commit,
  untouched families keeping their directories byte-identical — and
  ``audit.audit_dedup`` adds the dedup dual of the drift audit (measured
  LSH recall on a bounded sample, with ``dedup_reestimate=True`` re-
  sizing the banding from the current corpus).  ``mount()`` and
  ``refresh`` train through one loop (``audit._train_families``): a
  refresh with no families retrains every family the mount holds.
- ``bpe.mount_bpe`` / ``bpe.serve_bpe_encode`` / ``bpe.bpe_encode_stats``
  (r14): the frozen-tokenizer artifact — the merge table trains once and
  persists; corpus-scale encode is the row-local Arrow kernel against
  the frozen merges (no shuffle, split-invariant by construction).
- ``dedup.delete_docs`` (r14): document tombstones for the dedup mount —
  pair results exclude them immediately, ``compact_dedup`` reclaims
  their index rows and makes the ids reusable (the vector-side
  ``delete_ids`` lifecycle, completing write/stream/read/delete/compact
  symmetry between the two index families).
- ``audit.auto_maintain`` (r14): the orchestrated sweep — audit every
  mounted family, family-refresh only what measurably drifted, compact
  when over budget, and rebalance: ``maintain.split_cell`` the one
  oversized IVF cell (appends cluster where the corpus drifts, so the
  cell nearest the drift grows without bound) and ``merge_cells`` the
  dust cells into their nearest sibling (deletes + compaction shrink
  cells until they waste a probe slot) — both the targeted repair
  between an append and a full vector retrain; the loop a deployment
  schedules.  All FOUR families
  carry a bounded drift audit: vector (``audit_drift`` recall@k), dedup
  (``audit_dedup`` LSH recall + index integrity), bpe (``audit_bpe``
  compression ratio), text (``audit_text`` LM perplexity + bigram
  coverage vs the mount-time baselines).

Publication (``lock.py``, ``artifacts.py``): every artifact version is
written once into a new directory, ``artifacts.save_manifest`` under the
write lock is the only commit, and readers resolve every path through
one manifest snapshot per call; GC inside the commit keeps what the
previous commit retired and collects the rest.

Parity contract (tests/test_mount.py): every serve-side operator must
reproduce its self-contained declared query EXACTLY (same rows, same
values) when mounted from the same corpus — the artifacts change where the
work happens, never the answer.
"""

from simsearch_spark.mount.artifacts import load_manifest, mount
from simsearch_spark.mount.audit import (
    audit_dedup,
    audit_drift,
    audit_text,
    auto_maintain,
    refresh,
)
from simsearch_spark.mount.bpe import (
    audit_bpe,
    bpe_encode_stats,
    mount_bpe,
    serve_bpe_encode,
)
from simsearch_spark.mount.lock import (
    ConcurrentMutationError,
    MountLockTimeout,
    mount_write_lock,
)
from simsearch_spark.mount.dedup import (
    dedup_append,
    dedup_embed_append,
    delete_docs as delete_docs_dedup,
    mount_dedup,
    stream_dedup_append,
)
from simsearch_spark.mount.maintain import (
    append_rows,
    delete_ids,
    merge_cells,
    should_merge,
    should_split,
    split_cell,
)
from simsearch_spark.mount.serve import (
    serve_bm25_topk,
    serve_ivfpq_topk,
    serve_lang_id,
    serve_lm_perplexity,
)

__all__ = [
    "mount",
    "load_manifest",
    "serve_ivfpq_topk",
    "serve_bm25_topk",
    "serve_lang_id",
    "serve_lm_perplexity",
    "append_rows",
    "delete_ids",
    "split_cell",
    "should_split",
    "merge_cells",
    "should_merge",
    "mount_dedup",
    "dedup_append",
    "delete_docs_dedup",
    "stream_dedup_append",
    "dedup_embed_append",
    "audit_drift",
    "audit_dedup",
    "audit_text",
    "auto_maintain",
    "refresh",
    "mount_bpe",
    "serve_bpe_encode",
    "bpe_encode_stats",
    "audit_bpe",
    "mount_write_lock",
    "MountLockTimeout",
    "ConcurrentMutationError",
]
