"""r15: the batched char-fold hashers (functions/hashing.py) that replaced
the interpreted per-character loops inside the winnow / minhash / simhash /
contamination / corpus-features Arrow kernels must be BIT-IDENTICAL to the
scalar recurrence ``h = (h*31 + ord(c)) % MOD`` they encode — pinned here
against a direct Python reference over adversarial shapes (empty strings,
repeated spaces, unicode incl. astral planes, NULs, one huge string among
tiny ones, k longer than the document)."""

from __future__ import annotations

import random

import numpy as np
import pytest

from simsearch_spark.functions.hashing import (
    MOD,
    batch_fold_hashes,
    batch_kgram_hashes,
)


def _scalar_fold(s: str) -> int:
    h = 0
    for c in s:
        h = (h * 31 + ord(c)) % MOD
    return h


def _scalar_kgrams(t: str, k: int) -> np.ndarray:
    words = t.split(" ")
    n_kg = max(len(words) - (k - 1), 1)
    out = np.empty(n_kg, dtype=np.int64)
    for i in range(n_kg):
        out[i] = _scalar_fold(" ".join(words[i : i + k]))
    return out


def _corpus():
    rng = random.Random(421)
    texts = []
    for i in range(400):
        n = rng.randint(1, 120)
        t = " ".join("w%d" % rng.randint(0, 300) for _ in range(n))
        if i % 5 == 0:
            t = " " + t.replace(" ", "  ", 2) + " "
        if i % 7 == 0:
            t += " déjà ✨ 中文字 \U0001F600"
        if i % 11 == 0:
            t += " nul\x00inside"
        texts.append(t)
    texts += ["x", "a  b", "one two", "long " * 4000]
    return texts


@pytest.mark.parametrize("k", [1, 2, 3, 5, 9])
def test_batch_kgram_hashes_bit_identical(k):
    texts = _corpus()
    got, nkg = batch_kgram_hashes(texts, k)
    assert len(got) == len(texts)
    for t, g, n in zip(texts, got, nkg):
        want = _scalar_kgrams(t, k)
        assert n == len(want)
        assert g.shape == want.shape and (g == want).all(), repr(t[:40])


def test_batch_kgram_hashes_empty_input():
    got, nkg = batch_kgram_hashes([], 3)
    assert got == [] and nkg == []


def test_batch_fold_hashes_bit_identical():
    strings = _corpus() + ["", "\x00", "\x00abc"]
    got = batch_fold_hashes(strings)
    assert got.shape == (len(strings),)
    for s, g in zip(strings, got):
        assert int(g) == _scalar_fold(s), repr(s[:40])


def test_batch_fold_hashes_empty_input():
    assert batch_fold_hashes([]).shape == (0,)


@pytest.mark.parametrize("budget", [1, 64, 1000])
def test_chunked_folds_equal_unchunked(budget, monkeypatch):
    """Both kernels fold in bounded passes; any budget, including one far
    below the longest document (which then spans several passes) and
    below a single k-gram, gives the one-pass result."""
    import simsearch_spark.functions.hashing as hh

    texts = _corpus() + ["lone \ud800 surrogate", ""]
    want_kg = hh.batch_kgram_hashes(texts, 3)
    want_fold = hh.batch_fold_hashes(texts)
    monkeypatch.setattr(hh, "KGRAM_CHAR_BUDGET", budget)
    monkeypatch.setattr(hh, "FOLD_CELL_BUDGET", budget)
    got, nkg = hh.batch_kgram_hashes(texts, 3)
    assert nkg == want_kg[1]
    for g, w in zip(got, want_kg[0]):
        assert g.shape == w.shape and (g == w).all()
    assert (hh.batch_fold_hashes(texts) == want_fold).all()
    # a lone surrogate hashes by its code point, as ord() does
    assert int(want_fold[-2]) == _scalar_fold("lone \ud800 surrogate")


def test_kgram_kernel_memory_is_bounded():
    """A batch holding an MB-sized document: the kernel's peak stays near
    the budget plus the largest document, not ~25 bytes per character of
    the whole batch (the one-pass kernel peaked at ~87 MB here)."""
    import tracemalloc

    rng = random.Random(5)
    texts = [" ".join("w%d" % rng.randint(0, 999) for _ in range(150)) for _ in range(2000)]
    texts.append(" ".join("word%d" % rng.randint(0, 99999) for _ in range(200_000)))
    tracemalloc.start()
    try:
        got, _ = batch_kgram_hashes(texts, 3)
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    assert sum(map(len, texts)) > 3_000_000
    assert peak < 45e6, peak
    assert (got[-1][:50] == _scalar_kgrams(texts[-1][:2000], 3)[:50]).all()
