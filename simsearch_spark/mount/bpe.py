"""Frozen-tokenizer mount (VERDICT r13 task 2): persist the learned BPE
merge table as a mount artifact and serve corpus-scale ENCODE from it.

Training (``operators/bpe.py learn_bpe_merges``) is the cheap, one-time
side; the production need at 100 TB is the other half — encoding the
whole corpus (and every future delta) with a FROZEN merge table, the
tokenizer analog of the vector side's frozen centroids/codebooks.  The
reference engine has no tokenizer (its textual facet consumes fixed
q-grams, ``DataIngestor.java:151-204``); this extends the LLM-pipeline
surface the same way the dedup/vector mounts do.

Scale shape: the merge table is driver-bounded (``n_merges`` rows — a
real vocabulary is 10^4-10^5, still trivially a broadcast).  Encode is
the Arrow ``apply_bpe`` kernel — greedy merges per word with per-word
memoization inside each batch (Zipf makes the cache hit rate ~90 %),
row-local over whatever partitioning the docs arrive with: zero
shuffles, no per-row Python UDF, linear scale-out with executors.  The
frozen-artifact contract matches the rest of the mount: encoding is a
pure row-local function of the merge table, so any split of the corpus
into deltas encodes identically (split-invariance for free).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from simsearch_spark.mount.artifacts import _publish_family, _snap, snapshot
from simsearch_spark.mount.lock import locked

__all__ = [
    "mount_bpe",
    "load_merges",
    "serve_bpe_encode",
    "bpe_encode_stats",
    "audit_bpe",
]

#: bounded sample size for the mount-time baseline and the drift audit —
#: the ``corpus_sample_n`` discipline (hash-lowest ids, map-side top-n)
AUDIT_SAMPLE_N = 256


def _sample_cpt(
    spark: SparkSession,
    docs: DataFrame,
    text_col: str,
    merges: list,
    sample_n: int,
) -> float | None:
    """Mean chars-per-token of ``merges`` over the ``sample_n`` docs of
    lowest ``xxhash64(text)`` (``content_sample`` — deterministic,
    content-keyed so the same doc set samples identically regardless of
    ids) — one bounded encode.  A token-free sample is NO-SIGNAL, not
    drift: returns None (the audit_dedup ``recall=None`` convention;
    the old 1.0 sentinel read as severe drift and could make
    auto_maintain destructively retrain on a blanked frame — review
    r14)."""
    from simsearch_spark.mount.audit import content_sample
    from simsearch_spark.operators.bpe import apply_bpe

    sample = content_sample(docs.select(F.col(text_col)), text_col, sample_n)
    row = (
        apply_bpe(sample, text_col, merges)
        .select(
            F.sum(
                F.aggregate(
                    F.transform(F.col("bpe_tokens"), F.length),
                    F.lit(0).cast("long"),
                    lambda a, x: a + x,
                )
            ).alias("chars"),
            F.sum(F.size("bpe_tokens")).alias("toks"),
        )
        .first()
    )
    if row is None or not row["toks"]:
        return None
    return round(float(row["chars"]) / float(row["toks"]), 6)


def audit_bpe(
    spark: SparkSession,
    mount_dir: str,
    docs: DataFrame,
    text_col: str | None = None,
    sample_n: int = AUDIT_SAMPLE_N,
) -> dict:
    """Tokenizer-drift audit (r14 — the BPE dual of ``audit_drift`` /
    ``audit_dedup``): mean chars-per-token of the FROZEN merges on a
    bounded sample of ``docs`` (the current corpus) vs the baseline
    recorded at mount time on the training corpus.  A ratio well below
    1.0 means the merges no longer compress the incoming distribution
    (new language, new boilerplate) — refresh the ``bpe`` family to
    retrain them.  Bounded by construction: one ``sample_n``-doc encode,
    flat in corpus size.  Returns ``{"cpt": float, "baseline_cpt":
    float|None, "ratio": float|None, "sample_n": int}`` — ``ratio`` is
    None for pre-baseline mounts (report, not an error)."""
    snap = snapshot(spark, mount_dir)
    bp = snap.manifest.get("bpe")
    if not bp:
        raise ValueError("mount has no BPE artifacts — run mount_bpe first")
    col = bp["text_col"] if text_col is None else text_col
    cpt = _sample_cpt(
        spark,
        docs.where(F.col(col).isNotNull()),
        col,
        load_merges(spark, snap),
        sample_n,
    )
    base = bp.get("baseline_cpt")
    return {
        "cpt": cpt,
        "baseline_cpt": base,
        # a ratio exists only when BOTH sides carry signal
        "ratio": (
            round(cpt / base, 6)
            if cpt is not None and base is not None and base > 0
            else None
        ),
        "sample_n": int(sample_n),
    }


@locked("mount_bpe", makedirs=True)
def mount_bpe(spark: SparkSession, mount_dir: str, docs: DataFrame, **params) -> dict:
    """Learn BPE rules from ``docs`` and persist them as the
    ``bpe_merges`` artifact with the training parameters frozen in the
    manifest — the tokenizer dual of ``mount_dedup``, and like it
    published by one manifest commit; ``params`` takes the keyword
    parameters of :func:`_build_bpe`.  Returns the manifest."""
    return _publish_family(
        spark, mount_dir, "bpe", lambda snap: _build_bpe(spark, snap, docs, **params)
    )


def _build_bpe(
    spark: SparkSession,
    snap,
    docs: DataFrame,
    text_col: str = "text",
    n_merges: int | None = None,
) -> dict:
    """Learn ``n_merges`` BPE rules from ``docs``, write them as a new
    ``bpe_merges`` version of ``snap`` (merge_rank, left, right, pair_count)
    and return the manifest's ``bpe`` block.  Default ``n_merges`` is the
    declared-query budget (``queries.vocab.BPE_MERGES``) so a default
    mount's encode is parity-equal to the self-contained
    ``bpe_token_stats`` query."""
    from simsearch_spark.operators.bpe import learn_bpe_merges
    from simsearch_spark.queries.vocab import BPE_MERGES

    n = int(BPE_MERGES if n_merges is None else n_merges)
    live = docs.where(F.col(text_col).isNotNull())
    merges = learn_bpe_merges(live, text_col, n)
    snap.write(
        spark.createDataFrame(
            merges, "merge_rank int, left string, right string, pair_count long"
        ),
        "bpe_merges",
    )
    # training-time compression baseline (r14): chars-per-token of the
    # frozen merges on a bounded deterministic sample of the TRAINING
    # corpus (hash-lowest ids — the corpus_sample_n discipline).
    # ``audit_bpe`` compares the same metric on current data against it:
    # a falling ratio means the merges no longer fit the incoming
    # distribution (new language, new boilerplate) — tokenizer drift.
    baseline = _sample_cpt(spark, live, text_col, merges, AUDIT_SAMPLE_N)
    return {
        "text_col": text_col,
        "n_merges": n,
        "n_learned": len(merges),  # < n_merges only on pair-exhausted corpora
        "baseline_cpt": baseline,  # chars/token on the training sample
    }


def load_merges(spark: SparkSession, mount_dir) -> list[tuple[int, str, str, int]]:
    """The mounted merge table in ``learn_bpe_merges``' return shape,
    rank order restored (bounded: n_merges rows); ``mount_dir`` may be a
    ``Snapshot``."""
    rows = _snap(spark, mount_dir).read("bpe_merges").collect()
    return [
        (int(r["merge_rank"]), str(r["left"]), str(r["right"]), int(r["pair_count"]))
        for r in sorted(rows, key=lambda r: int(r["merge_rank"]))
    ]


def serve_bpe_encode(
    spark: SparkSession,
    mount_dir: str,
    docs: DataFrame,
    text_col: str | None = None,
    out_col: str = "bpe_tokens",
) -> DataFrame:
    """Encode ``docs`` with the MOUNTED merge table — the corpus-scale
    production encode: one bounded artifact read, then the row-local
    Arrow kernel over the caller's frame (no shuffle, no retrain).
    ``text_col`` defaults to the column the merges were trained on."""
    from simsearch_spark.operators.bpe import apply_bpe

    snap = _snap(spark, mount_dir)
    bp = snap.manifest.get("bpe")
    if not bp:
        raise ValueError("mount has no BPE artifacts — run mount_bpe first")
    col = bp["text_col"] if text_col is None else text_col
    return apply_bpe(docs, col, load_merges(spark, snap), out_col=out_col)


def bpe_encode_stats(
    spark: SparkSession,
    mount_dir: str,
    docs: DataFrame,
    group_col: str = "source",
    text_col: str | None = None,
) -> DataFrame:
    """Per-``group_col`` encode statistics from the mounted tokenizer:
    document count, total subword tokens, and mean chars-per-token (the
    compression the frozen vocabulary buys on THIS corpus slice) — the
    monitoring view a pipeline watches for tokenizer drift (a falling
    chars_per_token on new data means the merges no longer fit it).
    Same aggregate shape as the self-contained ``bpe_token_stats`` query,
    so a default mount over the training corpus is parity-equal to it."""
    snap = snapshot(spark, mount_dir)
    bp = snap.manifest.get("bpe")
    if not bp:
        raise ValueError("mount has no BPE artifacts — run mount_bpe first")
    col = bp["text_col"] if text_col is None else text_col
    toks = serve_bpe_encode(
        spark, snap,
        docs.where(F.col(col).isNotNull()).select(group_col, col),
        text_col=col,
    )
    return toks.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size("bpe_tokens")).alias("n_subwords"),
        # NULL for a group whose documents hold no token at all
        F.round(
            F.try_divide(
                F.sum(
                    F.aggregate(
                        F.transform(F.col("bpe_tokens"), F.length),
                        F.lit(0).cast("long"),
                        lambda a, x: a + x,
                    )
                ).cast("double"),
                F.sum(F.size("bpe_tokens")),
            ),
            6,
        ).alias("chars_per_token"),
    )
