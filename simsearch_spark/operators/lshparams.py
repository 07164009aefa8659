"""Adaptive MinHash banding — a sizing profile for the MinHash-LSH
front (the `auto_km_k` analogue for LSH).

Why (SCALE.md, r8 findings): band keys prune RANDOM pairs at a fixed rate,
so FIXED parameters degenerate as the corpus grows.  MinHash banding's
S-curve midpoint is ``t ≈ (1/bands)^(rows_per_band⁻¹)``
(Leskovec/Rajaraman/Ullman, *Mining of Massive Datasets* §3.4), and the
random-pair candidate rate ``bands·E[s^rows]`` shrinks geometrically in
rows_per_band — rows_per_band carries the N-suppression.

``auto_minhash_params`` turns (corpus size, target threshold) into
(n_hashes, bands) once — like IVF centroids or the bigram LM, a profile
artifact — and callers pass them to ``minhash_lsh_pairs`` /
``mount_dedup`` unchanged (``refresh(dedup_reestimate=True)`` does).

All public knowledge: the banding amplification construction and its
S-curve are textbook MMDS.
"""

from __future__ import annotations

import math
from typing import NamedTuple

__all__ = ["MinHashParams", "auto_minhash_params"]


class MinHashParams(NamedTuple):
    n_hashes: int        # rows_per_band * bands (signature length)
    bands: int
    rows_per_band: int
    #: the S-curve midpoint (1/bands)^(1/rows_per_band) actually achieved
    est_threshold: float
    #: predicted recall at the target jaccard: 1-(1-t^rows)^bands
    est_recall: float


def auto_minhash_params(
    n_rows: int,
    threshold: float,
    max_hashes: int = 128,
) -> MinHashParams:
    """Size MinHash banding from the S-curve: pick (rows_per_band, bands)
    with rows·bands ≤ max_hashes (128 default — the production signature-
    table budget) whose midpoint (1/b)^(1/r) is closest to
    the target jaccard, requiring predicted recall ≥ 0.9 at the target and
    rows_per_band ≥ an N-driven floor (~log2(N)/4) that suppresses
    random-pair band collisions as the corpus grows (collision rate
    bands·E[s^rows] falls geometrically in rows)."""
    if n_rows < 1:
        raise ValueError("n_rows must be >= 1")
    if not 0.0 < threshold < 1.0:
        raise ValueError(f"jaccard threshold {threshold} outside (0, 1)")
    r_floor = max(2, math.ceil(math.log2(max(n_rows, 2)) / 4.0))
    best: MinHashParams | None = None
    best_err = None
    for r in range(r_floor, max_hashes + 1):
        for b in range(2, max_hashes // r + 1):
            mid = (1.0 / b) ** (1.0 / r)
            rec = 1.0 - (1.0 - threshold ** r) ** b
            if rec < 0.9:
                continue
            err = abs(mid - threshold)
            if best is None or err < best_err - 1e-12:
                best, best_err = MinHashParams(r * b, b, r, mid, rec), err
    if best is None:
        # threshold so low that no sizing under max_hashes reaches recall
        # 0.9 with the N-floor — fall back to the widest-band sizing at the
        # floor rows (maximum recall available) rather than failing
        r = r_floor
        b = max(2, max_hashes // r)
        best = MinHashParams(
            r * b, b, r, (1.0 / b) ** (1.0 / r), 1.0 - (1.0 - threshold ** r) ** b
        )
    return best
