"""Benchmark contamination detection — train/eval n-gram overlap.

The decontamination step every LLM training pipeline runs before training:
for each candidate training document, measure how much of it appears in a
held-out benchmark/eval set, by k-gram (token n-gram) hash overlap — the
GPT-3/PaLM-style n-gram collision check, expressed as DataFrame ops.

Two stages:

* ``kgram_hashes`` — per document, the DISTINCT set of k-gram hashes (the
  same char-fold polynomial hash and whitespace-token shingle contract as
  winnowing/MinHash, ``operators/winnow.py``).  Selection is per-document
  LOCAL: one shuffle-free ``mapInPandas`` Arrow pass.
* ``contamination_report`` — join training-doc grams against the eval set's
  distinct-gram table and aggregate per training doc.  The eval side is the
  tiny one (benchmarks are MBs against a 100 TB corpus), so it is
  broadcast: the corpus-sized side is never shuffled for the join, and the
  only exchange is the per-doc aggregation, which partial-aggregates
  map-side.

Reference parity note: the reference engine has no contamination operator;
this is part of the training-data-pipeline surface the Spark engine adds
(same family as dedup/winnowing — see SURVEY.md §8).
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from simsearch_spark.functions.hashing import blank_text


def kgram_hashes(df: DataFrame, id_col: str, text_col: str, k: int = 3) -> DataFrame:
    """(id, gh): distinct k-gram hashes per document.

    Shares the winnowing shingle contract (``operators/winnow.py``): tokens
    are the raw single-space split, a document shorter than ``k`` tokens
    contributes its single partial k-gram, NULL/blank documents contribute
    nothing.  Hashes are the repo-wide char-fold polynomial over the
    space-joined k-gram, so a DuckDB oracle reproduces them exactly.
    """
    import numpy as np
    import pandas as pd

    from simsearch_spark.functions.hashing import batch_kgram_hashes

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
            # (r15, guide §4.2; bit-identical — hashing.batch_kgram_hashes)
            all_hs, _ = batch_kgram_hashes(texts, k)
            out_id, out_gh = [], []
            for doc_id, hs in zip(ids, all_hs):
                sel = np.unique(hs)
                out_id.extend([doc_id] * len(sel))
                out_gh.extend(sel.tolist())
            yield pd.DataFrame({id_col: out_id, "gh": out_gh})

    # no kernel fan-out here: although the char-fold gram hashing is a
    # pure-Python loop, the repeated r14 A/B measured the extra shuffle of
    # the raw text as a net loss at bench scale (doc_contamination 2.42 s
    # fanned vs 1.86 s direct, 3 alternating reps) — the np.unique'd gram
    # emit is the expensive half and it lands after the kernel either way
    return df.select(id_col, text_col).mapInPandas(
        proc, f"{id_col} {id_dtype}, gh long"
    )


#: Broadcast the distinct eval-gram table only below this many grams.
#: 4M int64 hashes ≈ 32 MiB serialized — comfortably inside executor memory
#: with headroom for the hashed relation's load factor.  Above it, a fat
#: eval suite falls back to a shuffled join instead of OOMing executors.
BROADCAST_GRAM_LIMIT = 4_000_000


def contamination_report(
    train_grams: DataFrame,
    eval_grams: DataFrame,
    id_col: str = "doc_id",
    broadcast_gram_limit: int | None = BROADCAST_GRAM_LIMIT,
) -> DataFrame:
    """(id, n_grams, n_contam, contam_ratio) per training document.

    ``train_grams``/``eval_grams`` are (id, gh) frames from ``kgram_hashes``
    over the two corpus splits.  A training doc's gram is contaminated iff
    it appears in ANY eval document.  The distinct eval-gram table is
    broadcast when it holds at most ``broadcast_gram_limit`` grams
    (benchmark sets are small by construction, so the corpus-sized train
    side is never shuffled for the join); an oversized eval suite falls
    back to an unhinted join — Catalyst/AQE pick sort-merge or shuffled
    hash from runtime sizes — trading one train-side shuffle for executor
    safety.  The size probe is one cheap partial-aggregated count over the
    eval side only; pass ``broadcast_gram_limit=None`` to skip the probe
    and force the broadcast.  Mark contaminated-only consumers can filter
    ``n_contam > 0`` downstream — the report keeps every training doc so
    the ratio distribution itself can be profiled.
    """
    ev = eval_grams.select("gh").distinct().withColumn("_hit", F.lit(1))
    if broadcast_gram_limit is None or ev.count() <= broadcast_gram_limit:
        ev = F.broadcast(ev)
    return (
        train_grams.join(ev, "gh", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.count("_hit").alias("n_contam"),
            F.round(F.count("_hit") / F.count(F.lit(1)), 6).alias("contam_ratio"),
        )
    )
