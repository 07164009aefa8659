"""Hash families for dedup/LSH operators (MinHash, SimHash, banding).

All arithmetic is int64-safe modular math over a char-fold base hash
(``text.char_fold_hash``), chosen so the *identical* computation is
expressible in DuckDB SQL — every hash-based operator stays oracle-checkable
(the usual murmur/xxhash builtins differ between engines).

Scale notes: each hash is a pure column expression evaluated per row inside
codegen; MinHash signatures are fixed-length arrays so the LSH band
explode→groupBy join shuffles only (band_id, band_hash, doc_id) triples.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from simsearch_spark.functions.text import char_fold_hash

#: base-hash modulus (fits h*31+127 in int64)
MOD = 1_000_000_007
#: modulus for the permutation family (prime)
PERM_MOD = 2_147_483_647

# deterministic (a, b) parameters for the universal-hash permutation family
# h_i(x) = (a_i * x + b_i) mod PERM_MOD — generated by a fixed LCG so that
# Spark code, DuckDB oracle, and tests share the literal values.


def perm_params(n: int, seed: int = 42) -> list[tuple[int, int]]:
    """n (a,b) pairs from a fixed LCG (no randomness at query time —
    FIXTURES.md §F4). a in [1, 9e8] keeps a*h < 9.2e17 inside int64."""
    params = []
    state = seed
    for _ in range(n):
        state = (state * 6364136223846793005 + 1442695040888963407) % (2**63)
        a = 1 + state % 900_000_000
        state = (state * 6364136223846793005 + 1442695040888963407) % (2**63)
        b = state % PERM_MOD
        params.append((a, b))
    return params


def token_hashes(tokens: Column) -> Column:
    """array<long> of base hashes for an array<string> of tokens."""
    return F.transform(tokens, lambda t: char_fold_hash(t))


def minhash_signature(hashes: Column, n_hashes: int = 16, seed: int = 42) -> Column:
    """MinHash signature over a *materialized* array<long> of token hashes:
    for each permutation i, ``min over tokens of (a_i*h + b_i) mod PERM_MOD``.

    Takes hashes (not raw tokens) so callers materialize ``token_hashes``
    ONCE via withColumn: inlining it here would embed the char-fold transform
    into each of the n_hashes min-expressions and re-hash every token
    n_hashes times per row (measured as a >30x blowup at sf0.1).

    Empty token sets get PERM_MOD (sentinel > any hash) in every slot so they
    never collide into real buckets.
    """

    def _permute(a: int, b: int):
        # closure factory: a plain lambda with bound defaults would change the
        # visible arity PySpark uses to build the higher-order function
        return lambda h: (F.lit(a) * h + F.lit(b)) % F.lit(PERM_MOD)

    sig = []
    for a, b in perm_params(n_hashes, seed):
        m = F.array_min(F.transform(hashes, _permute(a, b)))
        sig.append(F.coalesce(m, F.lit(PERM_MOD)))
    return F.array(*sig)


def minhash_bands(sig: Column, bands: int, rows_per_band: int) -> Column:
    """Fold a signature into `bands` band-hash values (array<long>):
    band_hash = fold over the band's rows of (acc*mult + v) % MOD.
    Two docs share a band value iff their signature rows in that band all
    match (standard LSH banding)."""
    out = []
    for b in range(bands):
        sl = F.slice(sig, b * rows_per_band + 1, rows_per_band)
        out.append(F.aggregate(sl, F.lit(0).cast("long"), lambda acc, v: (acc * 31 + v) % F.lit(MOD)))
    return F.array(*out)


#: Knuth multiplicative spread: char-fold base hashes are < 2^30, so their
#: high bits carry nothing.  h * SPREAD_MULT (exact in int64: < 2.7e18) puts
#: entropy in bits 0..60, which the banded pigeonhole join needs — without
#: it blocks past bit 29 are constant and their equi-join degenerates to n²
#: (round-1 advice).  The identical multiply runs in the DuckDB oracle.
SPREAD_MULT = 2_654_435_761
#: bits of h * SPREAD_MULT with entropy (bit 61 needs h > 1.7e9 > MOD: never)
SIMHASH_MAX_BITS = 60


def simhash(hashes: Column, bits: int = SIMHASH_MAX_BITS) -> Column:
    """SimHash over a *materialized* array<long> of token base-hashes:
    bit_j = sign of Σ_tokens (±1 per token's j-th hash bit); near-dup
    distance = hamming(simhash_a, simhash_b).  Takes hashes, not tokens —
    same re-hash blowup rationale as minhash_signature.

    Uses the low `bits` bits of each token's SPREAD base hash (see
    SPREAD_MULT); returns int64.
    """
    spread = F.transform(hashes, lambda h: h * F.lit(SPREAD_MULT))

    def _bit_contrib(j: int):
        return lambda s, h: s + (F.shiftright(h, j).bitwiseAND(F.lit(1)) * 2 - 1)

    acc = F.lit(0).cast("long")
    for j in range(bits):
        # Σ over tokens of (2*bit_j - 1)
        contrib = F.aggregate(spread, F.lit(0).cast("long"), _bit_contrib(j))
        acc = acc + F.when(contrib > 0, F.lit(2 ** j).cast("long")).otherwise(F.lit(0).cast("long"))
    return acc


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two int64 hash values (``bit_count(a XOR b)``
    — a JVM intrinsic here and a DuckDB builtin on the oracle side)."""
    return F.bit_count(a.bitwiseXOR(b))


#: characters folded per pass of :func:`batch_kgram_hashes` — its working
#: set is ~12 bytes per character, so a pass holds ~12 MB however large
#: the batch or its documents
KGRAM_CHAR_BUDGET = 1 << 20
#: cells (8 bytes each) of the padded matrix :func:`batch_fold_hashes`
#: folds per pass
FOLD_CELL_BUDGET = 1 << 20


def _fold_spans(codes, S, L):
    """Char-fold hash of every span ``codes[S_i : S_i + L_i]``.  Spans
    are sorted LONGEST-first, so for char column j the still-active rows
    (L > j) are a contiguous prefix and the fold is one gather + one fused
    multiply-add + one mod over a shrinking slice — no mask, no padded 2D
    matrix, total work ∝ total span characters."""
    import numpy as np

    order = np.argsort(-L, kind="stable")
    s_d, L_d = S[order], L[order]
    W = int(L_d[0]) if len(L_d) else 0
    # active-prefix length per column: rows with L > j (L_d descending)
    counts = np.searchsorted(-L_d, -np.arange(W), side="left")
    h = np.zeros(len(s_d), dtype=np.int64)
    for j in range(W):
        n_j = counts[j]
        if n_j == 0:
            break
        hj = h[:n_j]
        np.multiply(hj, 31, out=hj)
        np.add(hj, codes[s_d[:n_j] + j], out=hj)
        np.mod(hj, MOD, out=hj)
    H = np.empty_like(h)
    H[order] = h
    return H


def blank_text(t) -> bool:
    """NULL or space-only text — the one emptiness rule of the Python
    text kernels, equal to the SQL filters' ``trim(text) = ''`` and to
    the oracles: Spark's and DuckDB's ``trim`` strip spaces only, so a
    tab- or newline-only text is NOT blank (its one k-gram is itself)."""
    return t is None or t.strip(" ") == ""


def nonblank_text(col: str) -> Column:
    """Spark twin of :func:`blank_text`, negated: the filter that keeps
    the rows of column ``col`` whose text is neither NULL nor space-only."""
    return F.col(col).isNotNull() & (F.trim(F.col(col)) != "")


def batch_kgram_hashes(texts: list, k: int):
    """Char-fold hashes of every token k-gram of every text, vectorized
    ACROSS the batch (r15, guide §4.2): every k-gram becomes a span of one
    codepoint buffer and the fold runs column-wise over all spans at once
    (measured 1.9-2.5x over the interpreted per-char loop).  Bit-identical
    by construction: a k-gram is exactly the substring of its document
    between the enclosing word boundaries (split/join on the single-space
    delimiter is the identity), and the fold is the same
    ``h = (h*31 + ord(c)) % MOD`` integer recurrence in the same order.

    Memory is bounded by ``KGRAM_CHAR_BUDGET``: the spans are folded in
    chunks of at most that many characters (a document longer than the
    budget is split between k-grams; only a single k-gram longer than the
    budget makes a chunk of its own), so the working set no longer grows
    with the batch.  Lone surrogates hash by their code point, as ``ord``
    does.  Returns a list of int64 arrays, one per text, plus the per-text
    k-gram count."""
    import numpy as np

    parts: list[list] = [[] for _ in texts]
    doc_nkg = []
    pend_codes, pend_S, pend_L, pend_owner = [], [], [], []
    pend_chars = 0

    def flush():
        nonlocal pend_chars
        H = _fold_spans(
            np.concatenate(pend_codes), np.concatenate(pend_S), np.concatenate(pend_L)
        )
        p = 0
        for ti, n in pend_owner:
            parts[ti].append(H[p : p + n])
            p += n
        for buf in (pend_codes, pend_S, pend_L, pend_owner):
            buf.clear()
        pend_chars = 0

    for ti, t in enumerate(texts):
        codes = np.frombuffer(t.encode("utf-32-le", "surrogatepass"), dtype=np.uint32)
        # word boundaries = positions of the literal space (split(" "))
        sp = np.flatnonzero(codes == 32)
        starts = np.empty(len(sp) + 1, dtype=np.int64)
        starts[0] = 0
        starts[1:] = sp + 1
        nw = len(starts)
        n_kg = max(nw - (k - 1), 1)
        kk = min(k, nw)
        # k-gram i spans chars [starts[i], starts[i+kk]-1) — the -1 drops
        # the trailing space; the final k-gram runs to end-of-text
        # (starts[kk : kk+n_kg-1] is exactly the n_kg-1 interior bounds in
        # both regimes: nw >= k gives kk+n_kg-1 == nw, nw < k gives an
        # empty slice with n_kg == 1)
        ends = np.empty(n_kg, dtype=np.int64)
        ends[: n_kg - 1] = starts[kk : kk + n_kg - 1] - 1
        ends[n_kg - 1] = len(codes)
        s = starts[:n_kg]
        doc_nkg.append(n_kg)
        # hand the k-grams to the pending chunk in runs whose character
        # span fits the budget's remaining room (ends is non-decreasing)
        i = 0
        while i < n_kg:
            room = KGRAM_CHAR_BUDGET - pend_chars
            j = i + int(np.searchsorted(ends[i:], s[i] + room, side="right"))
            if j == i:
                if pend_owner:
                    flush()
                    continue
                j = i + 1  # one k-gram longer than the whole budget
            lo, hi = int(s[i]), int(ends[j - 1])
            pend_codes.append(codes[lo:hi])
            pend_S.append(s[i:j] - lo + pend_chars)
            pend_L.append(ends[i:j] - s[i:j])
            pend_owner.append((ti, j - i))
            pend_chars += hi - lo
            i = j
            if pend_chars >= KGRAM_CHAR_BUDGET:
                flush()
    if pend_owner:
        flush()
    out = [p[0] if len(p) == 1 else np.concatenate(p) for p in parts]
    return out, doc_nkg


def batch_fold_hashes(strings):
    """Char-fold hash of each whole string, vectorized across the batch
    (r15, guide §4.2) — the companion of :func:`batch_kgram_hashes` for
    the per-document fingerprint folds the Arrow kernels previously ran
    as interpreted per-char loops.  Bit-identical to
    ``h = (h*31 + ord(c)) % MOD`` in order: rows are LEFT-padded with
    code 0 (a leading zero is fold-neutral: h stays 0 through it — the
    same property the scalar fold has for leading NULs), so the fold runs
    mask-free in 4-character Horner steps over the padded matrix
    (h·31⁴ < 2^50, exact in int64).  Rows are length-bucketed so one huge
    string cannot inflate the padded width of the whole batch, and a
    bucket holds at most ``FOLD_CELL_BUDGET`` cells: a string longer than
    that folds alone, in column blocks of the budget's width.  Returns an
    int64 array aligned with ``strings``."""
    import numpy as np

    n = len(strings)
    H = np.zeros(n, dtype=np.int64)
    if n == 0:
        return H
    lens = np.fromiter((len(s) for s in strings), np.int64, n)
    order = np.argsort(-lens, kind="stable")
    lens_desc = lens[order]
    P2, P3, P4 = 31 * 31, 31 * 31 * 31, 31 * 31 * 31 * 31
    lo = 0
    while lo < n:
        W = int(lens_desc[lo])
        if W == 0:
            break  # every remaining string is empty -> hash 0
        # close the bucket where lengths drop below W/2 so padding never
        # exceeds 2x the useful cells, or where it would pass the budget
        cut = int(np.searchsorted(-lens_desc, -(W // 2), side="left"))
        hi = min(max(lo + 1, cut), lo + max(1, FOLD_CELL_BUDGET // W), n)
        sel = order[lo:hi]
        rows = [strings[si] for si in sel]
        h = np.zeros(len(sel), dtype=np.int64)
        # the Horner fold continues across blocks, so splitting columns
        # changes nothing but the size of the matrix
        B = max(4, FOLD_CELL_BUDGET // len(sel))
        for c0 in range(0, W, B):
            c1 = min(c0 + B, W)
            mat = np.zeros((len(sel), c1 - c0), dtype=np.int64)
            for r, s in enumerate(rows):
                off = W - len(s)  # the padded column where s begins
                a = max(c0, off)
                if a < c1:
                    mat[r, a - c0 :] = np.frombuffer(
                        s[a - off : c1 - off].encode("utf-32-le", "surrogatepass"),
                        dtype=np.uint32,
                    )
            j = 0
            while j + 4 <= c1 - c0:
                h = (
                    h * P4
                    + mat[:, j] * P3
                    + mat[:, j + 1] * P2
                    + mat[:, j + 2] * 31
                    + mat[:, j + 3]
                ) % MOD
                j += 4
            while j < c1 - c0:
                h = (h * 31 + mat[:, j]) % MOD
                j += 1
        H[sel] = h
        lo = hi
    return H
