"""Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD'03) —
the local-algorithm fingerprinting used by MOSS-style overlap detection.

Per document: hash every k-gram of tokens (char-fold polynomial hash, the
repo-wide oracle-checkable base hash), slide a window of ``w`` consecutive
k-gram hashes, and keep the MINIMUM of each window (rightmost position on
ties).  The guarantee: any token run long enough to span a full window
shares at least one selected fingerprint between two documents, while only
~2/(w+1) of all k-grams are kept — a tunable density/recall dial.

Scale shape: selection is per-document LOCAL, so the entire operator is one
``mapInPandas`` Arrow pass — no shuffle, no window exchange; the only
distributed work downstream is the overlap self-join on the (pruned)
fingerprint table.  Rightmost-tie argmin is encoded as an integer composite
key ``h * 2^20 + (2^20 - 1 - pos)`` so the DuckDB oracle reproduces the
selection bit-for-bit with plain window functions (min over a trailing
frame) — an independent SQL re-derivation of the numpy path.

Reference parity note: the reference engine has no fingerprinting operator;
this is part of the training-data-pipeline surface (text analysis /
dedup candidate generation) the Spark engine adds.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from simsearch_spark.functions.hashing import (
    batch_kgram_hashes as _batch_kgram_hashes,
    blank_text,
    nonblank_text,
)

#: position packing base for the rightmost-tie argmin composite key;
#: bounds k-gram positions per document to 2^20 (chunk longer docs first)
POS_P = 1 << 20


def winnow_fingerprints(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    w: int = 4,
) -> DataFrame:
    """(id, pos, fp): winnowed fingerprints per document.

    Tokens are the raw single-space split (the shingle contract shared with
    MinHash, ``minhash_banded_frame``); a document shorter than ``k`` tokens
    contributes its single partial k-gram; NULL/blank documents contribute
    nothing.  Windows are the trailing frames of ``min(w, n_kgrams)`` rows —
    a short document still yields the rightmost min of everything it has
    (the window degenerates gracefully instead of dropping the doc).
    """
    import numpy as np
    import pandas as pd

    from simsearch_spark.operators.fanout import fanout_for_kernel

    df = fanout_for_kernel(df, id_col)

    id_dtype = dict(df.dtypes)[id_col]

    def proc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, texts = [], []
            for doc_id, t in zip(pdf[id_col], pdf[text_col]):
                if blank_text(t):
                    continue
                ids.append(doc_id)
                texts.append(t)
            # batched char-fold over every k-gram of the whole Arrow batch
            # (bit-identical to the per-char loop; see _batch_kgram_hashes)
            all_hs, _ = _batch_kgram_hashes(texts, k)
            out_id, out_pos, out_fp = [], [], []
            for doc_id, hs in zip(ids, all_hs):
                n_kg = len(hs)
                if n_kg >= POS_P:
                    raise ValueError(
                        f"document {doc_id}: {n_kg} k-grams >= 2^20 position bound; "
                        "chunk long documents before winnowing"
                    )
                # composite key: min -> smallest hash, ties -> rightmost pos
                keys = hs * POS_P + (POS_P - 1 - np.arange(n_kg, dtype=np.int64))
                eff_w = min(w, n_kg)
                wins = np.lib.stride_tricks.sliding_window_view(keys, eff_w)
                sel = np.unique(wins.min(axis=1))
                out_id.extend([doc_id] * len(sel))
                out_pos.extend((POS_P - 1 - (sel % POS_P)).tolist())
                out_fp.extend((sel // POS_P).tolist())
            yield pd.DataFrame({id_col: out_id, "pos": out_pos, "fp": out_fp})

    return df.select(id_col, text_col).mapInPandas(
        proc, f"{id_col} {id_dtype}, pos long, fp long"
    )


def winnow_overlap_pairs(
    fingerprints: DataFrame,
    id_col: str,
    min_shared: int = 2,
    max_df: int = 100,
) -> DataFrame:
    """(id_a, id_b, n_shared): document pairs sharing ≥ ``min_shared``
    distinct winnowed fingerprints — the MOSS candidate-pair step.

    Stop-fingerprint cut first: a fingerprint present in more than
    ``max_df`` documents (boilerplate k-grams) is dropped BEFORE the
    self-join, the same document-frequency prune every inverted-index
    AllPairs engine applies — without it one viral k-gram makes an
    O(df²) bucket.  The join is then a key-partitioned equi-join on the
    fingerprint value; output is bounded by true overlap, never corpus².
    """
    d = fingerprints.select(F.col(id_col).alias("id"), "fp").distinct()
    rare = (
        d.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") <= max_df)
        .select("fp")
    )
    pruned = d.join(rare, "fp")
    a, b = pruned.alias("a"), pruned.alias("b")
    return (
        a.join(b, (F.col("a.fp") == F.col("b.fp")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )


def passage_removal(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    w: int = 4,
    min_df: int = 2,
) -> DataFrame:
    """Cross-document repeated-PASSAGE removal — the deduplication step that
    cuts shared boilerplate spans out of documents instead of dropping whole
    documents (the ExactSubstr/passage-level recipe used on top of
    winnowing fingerprints).

    Rules: a fingerprint present in ≥ ``min_df`` distinct documents marks a
    repeated passage; the lowest doc id containing it WINS and keeps its
    text, every other occurrence cuts the k-gram token span ``[pos,
    pos+k-1]`` (clamped to the document length).  Overlapping cut spans are
    merged; the output reports per-document token accounting plus the
    char-fold hash of the cleaned (kept-token) text so the cut CONTENT is
    verified, not just counted.

    Returns (id, n_tokens, n_removed, n_kept, n_spans, clean_hash) for every
    non-null non-blank document.

    100 TB shape: fingerprint selection is the row-local winnowing pass; the
    shared-fp table is one keyed aggregation bounded by fingerprint
    cardinality; covered-index fan-out is k× the CUT volume only (untouched
    documents never enter the window or the anti-join); the island window
    partitions by doc id over cut docs only.  No step scales with corpus²."""
    from pyspark.sql.window import Window

    from simsearch_spark.functions.text import char_fold_hash

    # persist the fingerprint frame: it feeds the shared-fp aggregation AND
    # the cut join — without this the winnowing Arrow kernel re-runs (and
    # the corpus re-scans) once per consumer (r8 plan audit: 16 scans → 6)
    fps = winnow_fingerprints(docs, id_col, text_col, k, w).persist()
    base = docs.where(nonblank_text(text_col))
    toks = base.select(
        F.col(id_col).alias("id"), F.split(F.col(text_col), " ").alias("wlist")
    )
    nt = toks.select("id", F.size("wlist").alias("n_tokens"))
    shared = (
        fps.groupBy("fp")
        .agg(F.countDistinct(id_col).alias("df"), F.min(id_col).alias("winner"))
        .where(F.col("df") >= min_df)
    )
    cuts = (
        fps.join(shared, "fp")
        .where(F.col(id_col) != F.col("winner"))
        .select(F.col(id_col).alias("id"), "pos")
    )
    cov = (
        cuts.select(
            "id",
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + F.lit(k - 1))
            ).alias("idx"),
        )
        .join(nt, "id")
        .where(F.col("idx") < F.col("n_tokens"))
        .select("id", "idx")
        .distinct()
        .persist()  # consumed by the island window AND the kept-token anti-join
    )
    wspec = Window.partitionBy("id").orderBy("idx")
    spans = (
        cov.withColumn("prev", F.lag("idx").over(wspec))
        .withColumn(
            "start",
            (F.col("prev").isNull() | (F.col("idx") - F.col("prev") != 1)).cast("long"),
        )
        .groupBy("id")
        .agg(F.sum("start").alias("n_spans"), F.count(F.lit(1)).alias("n_removed"))
    )
    tok_rows = toks.select("id", F.posexplode("wlist").alias("idx", "tok"))
    kept = tok_rows.join(cov, ["id", "idx"], "left_anti")
    clean = kept.groupBy("id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("idx", "tok"))),
                lambda x: x["tok"],
            ),
            " ",
        ).alias("clean_text")
    )
    return (
        nt.join(spans, "id", "left")
        .join(clean, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.coalesce(F.col("n_removed"), F.lit(0)).cast("long").alias("n_removed"),
            (F.col("n_tokens") - F.coalesce(F.col("n_removed"), F.lit(0)))
            .cast("long")
            .alias("n_kept"),
            F.coalesce(F.col("n_spans"), F.lit(0)).cast("long").alias("n_spans"),
            char_fold_hash(F.coalesce(F.col("clean_text"), F.lit(""))).alias(
                "clean_hash"
            ),
        )
    )
