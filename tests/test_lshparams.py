"""Tests for adaptive MinHash sizing (operators/lshparams.py) and the
LSH hot-bucket guard (the r8 judge task: fixed banding degenerates as
Θ(N²·2^-bits), so the rows-per-band floor must grow with N).
"""

import math

from simsearch_spark.operators.lshparams import auto_minhash_params


# ---------------------------------------------------------------------------
# sizing profile
# ---------------------------------------------------------------------------

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


def test_auto_minhash_pairs_still_find_known_dups(spark):
    from simsearch_spark.operators.dedup import minhash_lsh_pairs

    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    rows = [(i, f"doc {i} " + " ".join(f"w{i}_{j}" for j in range(20))) for i in range(200)]
    rows += [(1000, base), (1001, base + " extra")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    prm = auto_minhash_params(df.count(), 0.5)
    pairs = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_pairs(
            df, "doc_id", "text", threshold=0.5,
            n_hashes=prm.n_hashes, bands=prm.bands,
        ).collect()
    }
    assert (1000, 1001) in pairs


# -----------------------------------------------------------------------------
# hot-bucket guard (r10): a planted adversarial bucket must stay bounded
# -----------------------------------------------------------------------------


def test_hot_bucket_cap_bounds_minhash_pairs(spark):
    """Boilerplate documents (identical shingle sets → identical signatures
    → one bucket per band): the cap bounds that bucket's pairs to its cap
    LOWEST ids, while the uncapped call is quadratic in the bucket."""
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
