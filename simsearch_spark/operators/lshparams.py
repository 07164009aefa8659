"""Adaptive LSH parameterization — mount-time sizing profiles for the
sign-LSH and MinHash banding fronts (the `auto_km_k` analogue for LSH).

Why (SCALE.md, r8 findings): band keys prune RANDOM pairs at a fixed rate,
so FIXED parameters degenerate as the corpus grows —

- sign-LSH with fixed ``band_bits`` has expected random-candidate volume
  Θ(N²·2^-band_bits) (measured: 146 s / 2×10⁹ scored pairs at 100× with
  8-bit bands vs 17.8 s with 15-bit).  Keeping candidates-per-row flat
  requires ``band_bits ≈ log2(N·bands / c)`` — it must GROW with the
  corpus.
- MinHash banding's S-curve midpoint is ``t ≈ (1/bands)^(rows_per_band⁻¹)``
  (Leskovec/Rajaraman/Ullman, *Mining of Massive Datasets* §3.4), and the
  random-pair candidate rate ``bands·E[s^rows]`` shrinks geometrically in
  rows_per_band — rows_per_band carries the N-suppression.

These functions turn (corpus size, target threshold) into parameters once,
at mount time — like IVF centroids or the bigram LM, a profile artifact —
and the batch operators (operators/dedup.py) accept them unchanged.  The
sign-LSH front's per-band independent keys (ann.py ``lsh_band_keys``)
remove the old ``bands·band_bits ≤ 63`` single-key packing cap, so
band_bits can keep growing to any corpus size (2^40 buckets at 10^12 rows
is 40 bits/band).

All public knowledge: the banding amplification construction and its
S-curve are textbook MMDS; sign-LSH collision probability
``p = 1 - θ/π`` is Charikar 2002 (SimHash).
"""

from __future__ import annotations

import math
from typing import NamedTuple

__all__ = ["SignLshParams", "MinHashParams", "auto_sign_lsh_params", "auto_minhash_params"]


class SignLshParams(NamedTuple):
    n_planes: int    # total hyperplanes = bands * band_bits
    band_bits: int   # planes (bits) per band key
    bands: int
    #: predicted recall at the target cosine: 1-(1-p^band_bits)^bands with
    #: p = 1 - acos(t)/pi — report, so callers can reject a sizing that
    #: cannot reach their recall floor instead of discovering it in prod
    est_recall: float
    #: predicted RANDOM-pair candidates per row at n_rows (balanced
    #: buckets): n_rows * bands * 2^-band_bits
    est_candidates_per_row: float


class MinHashParams(NamedTuple):
    n_hashes: int        # rows_per_band * bands (signature length)
    bands: int
    rows_per_band: int
    #: the S-curve midpoint (1/bands)^(1/rows_per_band) actually achieved
    est_threshold: float
    #: predicted recall at the target jaccard: 1-(1-t^rows)^bands
    est_recall: float


def _plane_agree_prob(cos_t: float) -> float:
    """P(one random hyperplane agrees) for a pair at cosine t (Charikar)."""
    return 1.0 - math.acos(max(-1.0, min(1.0, cos_t))) / math.pi


def auto_sign_lsh_params(
    n_rows: int,
    threshold: float,
    target_candidates_per_row: float = 4.0,
    recall_target: float = 0.95,
    max_bands: int = 64,
    min_bits: int = 6,
    max_bits: int = 40,
) -> SignLshParams:
    """Size sign-LSH banding to the corpus, solving recall and candidate
    volume JOINTLY (they fight: more bits per band prunes random pairs
    2^-bits but drops per-band recall p^bits, which costs bands ~p^-bits —
    the LSH ρ-exponent trade).

    For each candidate ``band_bits`` (ascending), take the bands needed
    for ``recall_target`` at the threshold — ``ceil(ln(1-R)/ln(1-p^bits))``,
    capped at ``max_bands`` — and accept the FIRST bits whose predicted
    random candidates per row ``n·bands·2^-bits`` meet the target: the
    smallest such bits minimizes total planes (= compute) and shuffle
    replication (= bands).  Candidates-per-row is the hard scale
    constraint and always honored (that is the flat-1×→100× contract);
    recall is best-effort under ``max_bands`` and REPORTED in
    ``est_recall`` — a caller whose floor isn't met sees it at mount time
    (realistic near-dup thresholds ≥0.95 meet 0.95 recall comfortably to
    10^9+ rows; a threshold of 0.8 at corpus scale honestly cannot, and
    the report says so instead of silently degrading).

    band_bits grows ~log2(N) by construction; per-band keys are
    independent (ann.py lsh_band_keys), so total planes are NOT capped at
    63 — max_bits=40 bounds one band's key (2^40 buckets serves 10^12
    rows), far under the 63-bit signed key limit.
    """
    if n_rows < 1:
        raise ValueError("n_rows must be >= 1")
    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"cosine threshold {threshold} outside (0, 1]")
    p = _plane_agree_prob(threshold)

    def sized(bb: int) -> SignLshParams:
        p_band = p ** bb
        if p_band >= 1.0:  # threshold == 1.0: every plane agrees
            b = 1
        else:
            b = min(max_bands, max(1, math.ceil(
                math.log(1.0 - recall_target) / math.log(1.0 - p_band)
            )))
        return SignLshParams(
            n_planes=b * bb,
            band_bits=bb,
            bands=b,
            est_recall=1.0 - (1.0 - p_band) ** b,
            est_candidates_per_row=n_rows * b * 2.0 ** -bb,
        )

    for bb in range(min_bits, max_bits + 1):
        prm = sized(bb)
        if prm.est_candidates_per_row <= target_candidates_per_row:
            return prm
    return sized(max_bits)


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
