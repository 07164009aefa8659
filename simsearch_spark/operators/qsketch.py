"""Approximate quantiles from a DETERMINISTIC bottom-k hash sample — the
cheap mergeable tier next to the exact histogram-narrowing quantile
(operators/quantile.py).

Construction (the KMV idea applied to sampling): order rows by the shared
char-fold hash of their key (functions/hashing.py — the engine's
oracle-replayable hash family, same as corpus_sample / the KMV distinct
sketch) and keep the ``k`` smallest.  A uniform hash makes this a simple
random sample WITHOUT replacement, but — unlike reservoir sampling — the
selected set is a pure function of the DATA, independent of row order,
partitioning, or arrival time:

- batch: one ``TakeOrderedAndProject`` (per-partition top-k heaps, O(k)
  driver) — no shuffle of the corpus;
- merge: bottom-k of a union == bottom-k of the per-part bottom-k's, so
  shards and partitions combine losslessly;
- oracle: the identical ORDER BY hash LIMIT k is plain SQL.

Quantile estimate = the exact linear-interpolated quantile OF THE SAMPLE
(the same (k+1−pos)·x_k + frac·x_{k+1} arithmetic as Spark ``percentile``
— operators/quantile.py's pinned formula, applied driver-side to k
values).  Sampling error is the usual order-statistic bound ~O(1/√k) on
the rank; the self-audit query (queries/corpus.py quantile_sketch_audit)
reports the sketch AND the exact quantile side by side.

Reference parity note: the reference engine has no quantile operators
(LLM-pipeline extension surface, SURVEY.md §6).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from simsearch_spark.functions.text import char_fold_hash

__all__ = ["bottomk_sample", "sample_quantile", "approx_quantile_sketch"]


def bottomk_sample(df: DataFrame, key_col: str, val_col: str, k: int) -> DataFrame:
    """The ``k`` rows with the smallest char-fold key hashes (ties by key
    string, then by value — fully deterministic), as (_h, _k, _v double).
    NULL keys and NULL/NaN values are outside the sampling domain (the
    quantile operators' shared contract).

    ``key_col`` is expected to be unique per row — the engine's sampling
    keys are row identities (doc_id, event_id).  Under duplicate keys the
    sample keeps duplicate rows per key and stays deterministic: rows order
    by (_h, _k, _v)."""
    key = F.col(key_col).cast("string")
    v = F.col(val_col).cast("double")
    return (
        df.where(F.col(key_col).isNotNull() & v.isNotNull() & ~F.isnan(v))
        .select(char_fold_hash(key).alias("_h"), key.alias("_k"), v.alias("_v"))
        .orderBy(F.col("_h").asc(), F.col("_k").asc(), F.col("_v").asc())
        .limit(int(k))
    )


def sample_quantile(values: list[float], p: float) -> float | None:
    """Exact linearly-interpolated quantile of a bounded value list —
    bit-identical arithmetic to Spark's ``Percentile.getPercentile``
    ((k + 1 − pos)·x_k + frac·x_{k+1}; operators/quantile.py's contract)."""
    if not 0.0 <= p <= 1.0:
        raise ValueError(f"quantile fraction {p} outside [0, 1]")
    vals = sorted(values)
    n = len(vals)
    if n == 0:
        return None
    pos = p * (n - 1)
    k = int(math.floor(pos))
    frac = pos - k
    if frac == 0.0:
        return vals[k]
    return (k + 1 - pos) * vals[k] + frac * vals[k + 1]


def approx_quantile_sketch(
    df: DataFrame, key_col: str, val_col: str, p: float, k: int = 1024
) -> tuple[float | None, int]:
    """(approximate p-quantile, sample size) from the deterministic
    bottom-k sample.  One bounded collect of k rows; rank error ~O(1/√k)."""
    rows = bottomk_sample(df, key_col, val_col, k).collect()
    return sample_quantile([float(r["_v"]) for r in rows], p), len(rows)
