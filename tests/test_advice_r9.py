"""Regression tests for the round-8 ADVICE findings (fixed in round 9).

One test per finding, each exercising the exact failure scenario the
advisor described:

1. binary.py audio_spectral — stereo WAVs must be deinterleaved before the
   FFT (interleaved L/R spectrum + wrong Hz conversion).
2. streaming.py stream_events_hourly oracle — the ``FROM events``
   substitution must be guarded against a second occurrence.
3. ann.py valid_embeddings — finite doubles in (1e308, DBL_MAX] are valid;
   only exact NaN/Inf are structural errors.
"""

import math

import pytest


def test_audio_spectral_stereo_deinterleaves(spark):
    """Channel 0 carries a 5-cycle sine, channel 1 a LOUDER 11-cycle sine.
    Pre-fix, the FFT ran over the interleaved stream: the louder channel-1
    tone (or an alias of it) wins and the Hz conversion uses 2n samples.
    Post-fix, the spectrum is of channel 0 alone: dominant_bin == 5 and
    dominant_hz uses the per-channel frame count."""
    from simsearch_spark.multimodal.binary import audio_spectral
    from simsearch_spark.multimodal.wav import encode_wav

    n, c0, c1, rate = 64, 5, 11, 8000
    left = [int(round(8000 * math.sin(2 * math.pi * c0 * i / n))) for i in range(n)]
    right = [int(round(16000 * math.sin(2 * math.pi * c1 * i / n))) for i in range(n)]
    interleaved = [s for pair in zip(left, right) for s in pair]
    df = spark.createDataFrame(
        [(1, bytearray(encode_wav(interleaved, rate, channels=2)))],
        "media_id long, payload binary",
    )
    row = audio_spectral(df).collect()[0]
    assert row.decoded == "ok"
    assert row.n_samples == n  # per-channel frames, not 2n interleaved
    assert row.dominant_bin == c0, "stereo spectrum must be channel 0's, not the mix"
    assert row.dominant_hz == round(c0 * rate / n, 6)


def test_stream_hourly_oracle_substitution_guarded():
    from simsearch_spark.queries import streaming as st

    # the live oracle carries the NULL-ts filter exactly once
    oracle = st.STREAMING_QUERIES["stream_events_hourly"][1]
    assert oracle.count("FROM events WHERE ts IS NOT NULL") == 1
    assert oracle.count("FROM events") == 1

    # a future two-occurrence rewrite of the base SQL must fail loudly,
    # not silently produce a doubly-rewritten oracle
    orig = st.SQL_EVENTS_HOURLY
    try:
        st.SQL_EVENTS_HOURLY = orig + "\n-- FROM events (second occurrence)"
        with pytest.raises(AssertionError, match="dedicated SQL constant"):
            st._sql_events_hourly_nonnull_ts()
    finally:
        st.SQL_EVENTS_HOURLY = orig


def test_valid_embeddings_keeps_huge_finite_doubles(spark):
    from simsearch_spark.operators.ann import valid_embeddings

    big = 1.5e308  # finite, but > the old 1e308 cutoff
    df = spark.createDataFrame(
        [
            (1, [big, 0.5]),          # finite everywhere → keep
            (2, [float("inf"), 0.5]), # Inf → drop
            (3, [float("nan"), 0.5]), # NaN → drop
            (4, [1.0, 2.0]),          # ordinary → keep
        ],
        "id long, embedding array<double>",
    )
    kept = sorted(r.id for r in valid_embeddings(df, "embedding").collect())
    assert kept == [1, 4]
