"""Deduplication operators for large-scale training-data pipelines.

Five tiers, cheapest-first — exactly the ladder a 100 TB corpus pipeline
runs (the reference engine has no dedup; these generalize its K4 set-sim
machinery, SURVEY.md §7 step 7):

- exact: fingerprint (normalized rolling hash) → groupBy.  One shuffle on a
  64-bit key; at 100 TB this is the classic first pass.
- minhash LSH: shingle → minhash signature → band-bucket join → verified
  Jaccard.  Candidate generation shuffles only (band_hash, id) pairs;
  verification touches candidate pairs, not the n² space.
- simhash: 32-bit signature per doc, near-dup = hamming ≤ r.  Signature is a
  pure map; candidates come from a pigeonhole equi-join on signature blocks.
- n-gram Jaccard: the exact prefix-filtered set-similarity join
  (operators/setsim.py) over word shingles.
- embedding cosine: near-dup by vector similarity; an exact block-tiled pair
  join (within k-means cells for SemDeDup, queries/cluster.py).

All hash arithmetic uses the char-fold base hash (functions/hashing.py) so
every tier is DuckDB-oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from simsearch_spark.functions import measures
from simsearch_spark.functions.hashing import blank_text, hamming64, nonblank_text
from simsearch_spark.functions.text import doc_fingerprint
from simsearch_spark.operators.setsim import jaccard_self_join


def word_shingles(col: Column, n: int = 3) -> Column:
    """Distinct n-word shingles (order-preserving token n-grams).  Token-set
    Jaccard saturates on small vocabularies; shingles keep word order and are
    the standard dedup unit (MinHash over shingles).  NULL/space-only
    text yields the EMPTY shingle set (not [""]) — shared contract with the
    Arrow kernels, so empty documents reach the minhash sentinel instead of
    colliding on the hash of the empty string."""
    w = F.split(col, " ")
    count = F.greatest(F.size(w) - F.lit(n - 1), F.lit(1))
    # F.get is 0-based and NULL-safe out of bounds (no ANSI error for short
    # docs); concat_ws skips NULLs — mirrored by DuckDB's concat_ws in oracles
    grams = F.transform(
        F.sequence(F.lit(0), count - 1),
        lambda i: F.concat_ws(" ", *[F.get(w, i + j) for j in range(n)]),
    )
    return F.when(
        col.isNull() | (F.trim(col) == ""), F.array().cast("array<string>")
    ).otherwise(F.array_distinct(grams))


def shingle_frame(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """(id, shingles) via an Arrow-batched pandas kernel — pure string
    slicing, so output is byte-identical to `word_shingles` (equality-tested)
    but ~5x faster than the interpreted higher-order-function chain.  All
    dedup tiers build on this frame; callers persist it (signature-table
    pattern, see minhash_lsh_pairs)."""
    from collections.abc import Iterator

    import pandas as pd

    from simsearch_spark.operators.fanout import fanout_for_kernel

    df = fanout_for_kernel(df, id_col)
    id_dtype = dict(df.dtypes)[id_col]

    def proc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for t in pdf[text_col]:
                if blank_text(t):
                    out.append([])
                    continue
                words = t.split(" ")
                count = max(len(words) - (n - 1), 1)
                # dict.fromkeys = first-occurrence dedupe, same contents as
                # array_distinct
                out.append(list(dict.fromkeys(" ".join(words[i : i + n]) for i in range(count))))
            yield pd.DataFrame({id_col: pdf[id_col], "shingles": out})

    return df.select(id_col, text_col).mapInPandas(
        proc, f"{id_col} {id_dtype}, shingles array<string>"
    )


def simhash_frame(
    df: DataFrame, id_col: str, text_col: str, bits: int = 32, shingle_n: int = 3
) -> DataFrame:
    """(id, sig): the SimHash signature table in ONE Arrow-batched pass —
    shingling, char-fold hashing, Knuth spread, and per-bit majority fused,
    replacing three interpreted HOF stages (measured the bulk of the banded
    query's cost at sf0.1).  All-integer math, so the signatures are
    bit-identical to ``simhash(token_hashes(...))`` (equality-tested) and
    the DuckDB oracle replays them verbatim."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from simsearch_spark.functions.hashing import MOD as _MOD
    from simsearch_spark.operators.fanout import fanout_for_kernel

    # the fused shingle/permutation kernel is the corpus pass this table
    # costs — spread a single-split scan across the cores first (r14)
    df = fanout_for_kernel(df, id_col)
    from simsearch_spark.functions.hashing import SPREAD_MULT

    id_dtype = dict(df.dtypes)[id_col]
    jbits = np.arange(bits, dtype=np.uint64)

    from simsearch_spark.functions.hashing import batch_kgram_hashes

    def proc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            texts, nonempty = [], []
            for t in pdf[text_col]:
                ok = not blank_text(t)
                nonempty.append(ok)
                if ok:
                    texts.append(t)
            # batched char-fold over every k-gram (r15, guide §4.2).
            # SimHash counts each DISTINCT shingle once, so the per-doc
            # hash vector is the all-k-gram vector selected at the FIRST
            # OCCURRENCE index of each distinct shingle string — dedup
            # stays by string (hash-value dedup could merge two distinct
            # shingles on a hash collision), arithmetic stays identical.
            all_hs = iter(batch_kgram_hashes(texts, shingle_n)[0])
            ti = iter(texts)
            sigs = []
            for ok in nonempty:
                if not ok:
                    sigs.append(0)
                    continue
                t = next(ti)
                hs_all = next(all_hs)
                words = t.split(" ")
                count = max(len(words) - (shingle_n - 1), 1)
                seen, first_idx = set(), []
                for i in range(count):
                    s = " ".join(words[i : i + shingle_n])
                    if s not in seen:
                        seen.add(s)
                        first_idx.append(i)
                hs = (
                    hs_all
                    if len(first_idx) == count
                    else hs_all[np.asarray(first_idx, dtype=np.int64)]
                )
                # h*SPREAD_MULT < 2^62 — exact in uint64, same value the
                # old Python-int product produced
                hs = hs.astype(np.uint64) * np.uint64(SPREAD_MULT)
                mat = (hs[:, None] >> jbits) & np.uint64(1)
                contrib = (2 * mat.astype(np.int64) - 1).sum(axis=0)
                sigs.append(int(((contrib > 0).astype(np.uint64) << jbits).sum()))
            yield pd.DataFrame({id_col: pdf[id_col], "sig": sigs})

    return df.select(id_col, text_col).mapInPandas(proc, f"{id_col} {id_dtype}, sig long")


def minhash_rows(
    texts: list, n_hashes: int, bands: int, shingle_n: int, seed: int
) -> tuple[list, list]:
    """The MinHash-LSH signature of each text: its distinct word shingles
    (first-occurrence order) and its ``bands`` band hashes.  Shingling,
    char-fold hashing, the n permutation minima and band folding run
    fused over the whole list; the kernel of :func:`minhash_banded_frame`
    (one call per Arrow batch) and of the driver-resident dedup append
    (one call per delta).  NULL/space-only texts get the EMPTY shingle set and
    the PERM_MOD sentinel signature."""
    import numpy as np

    from simsearch_spark.functions.hashing import (
        MOD,
        PERM_MOD,
        batch_kgram_hashes,
        perm_params,
    )

    rows_per_band = n_hashes // bands
    params = perm_params(n_hashes, seed)
    a_vec = np.array([a for a, _ in params], dtype=np.int64)[:, None]
    b_vec = np.array([b for _, b in params], dtype=np.int64)[:, None]

    def band_fold(sig) -> list:
        out = []
        for j in range(bands):
            acc = 0
            for r in range(rows_per_band):
                acc = (acc * 31 + int(sig[j * rows_per_band + r])) % MOD
            out.append(acc)
        return out

    nonempty = [not blank_text(t) for t in texts]
    # one batched char-fold over EVERY k-gram of every text (r15, guide
    # §4.2).  Duplicate shingles are hashed too: a permutation's MIN over
    # the k-gram multiset equals its min over the distinct set, so the
    # signatures are bit-identical (equality pinned in tests); the
    # distinct STRING list is the output column and keeps the
    # first-occurrence dedup.
    all_hs = iter(
        batch_kgram_hashes([t for t, ok in zip(texts, nonempty) if ok], shingle_n)[0]
    )
    sentinel = band_fold(np.full(n_hashes, PERM_MOD, dtype=np.int64))
    sh_out, band_out = [], []
    for t, ok in zip(texts, nonempty):
        if not ok:
            sh_out.append([])
            band_out.append(list(sentinel))
            continue
        words = t.split(" ")
        count = max(len(words) - (shingle_n - 1), 1)
        sh_out.append(
            list(dict.fromkeys(" ".join(words[i : i + shingle_n]) for i in range(count)))
        )
        # (n_hashes, n_kgrams) permuted hashes; a*h ≤ 9e8·1e9 < 2^63
        perm = (a_vec * next(all_hs) + b_vec) % PERM_MOD
        band_out.append(band_fold(perm.min(axis=1)))
    return sh_out, band_out


def minhash_banded_frame(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    seed: int = 42,
) -> DataFrame:
    """(id, shingles, bands): the MinHash-LSH signature table in ONE Arrow
    pass of :func:`minhash_rows` (the JVM chain evaluated n_hashes
    array-min HOF expressions per row).  All-integer modular arithmetic
    identical to ``minhash_bands(minhash_signature(token_hashes(...)))``
    (equality-tested on non-empty texts).  NULL/empty texts produce an
    EMPTY shingle set and the PERM_MOD sentinel signature (the column chain
    shingles them as [""], which made m empty docs collide into the same
    buckets and verify at jaccard 1.0 — O(m²) false pairs);
    ``minhash_lsh_pairs`` additionally filters them out of the candidate
    universe, so the sentinel is defense-in-depth for direct callers."""
    from collections.abc import Iterator

    import pandas as pd

    from simsearch_spark.operators.fanout import fanout_for_kernel

    # the fused shingle/permutation kernel is the corpus pass this table
    # costs — spread a single-split scan across the cores first (r14)
    df = fanout_for_kernel(df, id_col)
    id_dtype = dict(df.dtypes)[id_col]

    def proc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            sh, bv = minhash_rows(list(pdf[text_col]), n_hashes, bands, shingle_n, seed)
            yield pd.DataFrame({id_col: pdf[id_col], "shingles": sh, "bands": bv})

    return df.select(id_col, text_col).mapInPandas(
        proc, f"{id_col} {id_dtype}, shingles array<string>, bands array<long>"
    )


#: hot-bucket guard (VERDICT r9 task 4): banding keeps RANDOM
#: collisions flat, but an adversarial/skewed corpus (boilerplate
#: shingles) can still put s >> cap members in one LSH bucket, whose
#: s²/2 pairs would otherwise land in one quadratic task.  Each bucket therefore contributes pairs from at most this many
#: members (its LOWEST ids — deterministic); overflow members are DROPPED
#: from that bucket (MMDS drop-with-count practice: a cluster that large
#: is boilerplate the exact tier owns; each member usually still pairs
#: through its other, healthier bands).  4096 bounds a bucket task at
#: ~8M pairs and is far above anything a healthy corpus produces; the
#: dropped mass is one agg away (count rows ranked past the cap).
LSH_BUCKET_CAP = 4096


#: driver bound on distinct oversized buckets — a corpus exceeding it is
#: degenerate (>10⁴ buckets each holding >cap near-identical members has a
#: quadratic ANSWER no guard can fix; the exact tier owns it)
MAX_HOT_BUCKETS = 10_000


def _cap_lsh_buckets(
    expl: DataFrame,
    key_cols: list[str],
    id_col: str,
    cap: int | None,
    max_hot: int = MAX_HOT_BUCKETS,
) -> DataFrame:
    """Keep each LSH bucket's ``cap`` lowest-id member rows (the
    deterministic drop-with-count contract above); ``cap=None`` disables.

    Eager two-path: bucket sizes come from ONE map-side-combinable count
    whose over-cap keys are COLLECTED (driver-bounded by ``max_hot``; the
    set is empty on every healthy corpus).  Empty → the input plan is
    returned UNTOUCHED, so the guard's steady-state cost is exactly one
    narrow count job — a first cut ran every row through a row_number
    window (full shuffle+sort: 3× the candidate stage at 30×), a second
    routed all rows through a static broadcast-join split (still 4× on the
    join front).  Only when hot keys exist do their rows pay the
    per-bucket sort; healthy buckets never do."""
    if cap is None:
        return expl
    hot_rows = (
        expl.groupBy(*key_cols)
        .agg(F.count(F.lit(1)).alias("_bn"))
        .where(F.col("_bn") > int(cap))
        .limit(max_hot + 1)
        .collect()
    )
    if len(hot_rows) > max_hot:
        raise ValueError(
            f"_cap_lsh_buckets: more than {max_hot} buckets exceed cap={cap} "
            "— the corpus is boilerplate-degenerate; run exact dedup first"
        )
    if not hot_rows:
        return expl
    keyed = F.concat_ws("\x00", *[F.col(c).cast("string") for c in key_cols])
    hot_set = [
        "\x00".join(str(r[c]) for c in key_cols) for r in hot_rows
    ]
    is_hot = keyed.isin(hot_set)
    healthy = expl.where(~is_hot)
    w = Window.partitionBy(*key_cols).orderBy(F.col(id_col).asc())
    capped = (
        expl.where(is_hot)
        .withColumn("_bucket_rn", F.row_number().over(w))
        .where(F.col("_bucket_rn") <= int(cap))
        .drop("_bucket_rn")
    )
    return healthy.unionByName(capped)


def exact_dedup_groups(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact dedup: (fingerprint, keeper=min id, group size).  Whitespace/case
    jitter collapses via the normalized fingerprint."""
    fp = df.select(F.col(id_col), doc_fingerprint(F.col(text_col)).alias("fingerprint"))
    return fp.groupBy("fingerprint").agg(
        F.min(id_col).alias("keeper"), F.count(F.lit(1)).alias("n_docs")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.7,
    n_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    bucket_cap: int | None = LSH_BUCKET_CAP,
) -> DataFrame:
    """MinHash-LSH candidate pairs verified with exact shingle Jaccard.

    bucket_cap: hot-bucket guard (``LSH_BUCKET_CAP``) — each (band_idx,
    band_hash) bucket contributes candidates from at most its ``cap``
    lowest-id members; a boilerplate cluster can no longer turn one bucket
    key into a quadratic join key.

    The fixed (n_hashes, bands) defaults are the registry contract; a
    caller sizing them from the corpus passes the values
    ``operators/lshparams.py auto_minhash_params`` returns (as
    ``refresh(dedup_reestimate=True)`` does).

    candidate generation: explode band hashes → groupBy-join on
    (band_index, band_hash) → distinct (a,b) pairs; verification: exact
    Jaccard on the pair's shingle sets.  Output: (id_a, id_b, jaccard) with
    jaccard ≥ threshold among LSH candidates (banding may miss pairs — the
    recall/perf trade LSH exists for; same contract as every production
    minhash dedup).

    NULL/space-only documents are excluded from the candidate universe:
    they have no shingle content to be "near-duplicates" BY (m of them would
    otherwise bucket together and verify at jaccard 0/0); exact duplicates of
    empty documents are the exact tier's job (``exact_dedup_groups``).
    """
    df = df.where(nonblank_text(text_col))
    # fused Arrow signature kernel (bit-identical to the
    # shingle→hash→sig→band column chain, equality-tested).
    # materialization barrier: the signature table is computed ONCE and
    # reused by candidate generation (twice: both join sides) and
    # verification.  Without it, Spark's Generate stage re-evaluates the
    # whole signature chain outside whole-stage codegen (measured 270s vs
    # 7s at sf0.1).  At corpus scale this frame is the persisted signature
    # *table* every production minhash pipeline stores.
    banded = minhash_banded_frame(df, id_col, text_col, n_hashes, bands, shingle_n).persist()

    # explode to (band_idx, band_hash, id): the only shuffled relation —
    # shingle arrays stay out of the shuffle; verification re-joins by id.
    # persisted: the hot-bucket count pass and BOTH join sides read this
    # narrow triple from cache instead of re-exploding the signature table
    expl = banded.select(
        F.col(id_col), F.posexplode("bands").alias("band_idx", "band_hash")
    ).persist()
    try:
        capped = _cap_lsh_buckets(expl, ["band_idx", "band_hash"], id_col, bucket_cap)
        left = capped.select(F.col(id_col).alias("id_a"), "band_idx", "band_hash")
        right = capped.select(F.col(id_col).alias("id_b"), "band_idx", "band_hash")
        cand = (
            left.join(right, ["band_idx", "band_hash"])
            .where(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .dropDuplicates(["id_a", "id_b"])
        )
        # Materialize the (bounded) verified pair set eagerly so the two
        # intermediate caches can be dropped HERE instead of accumulating
        # across a multi-query session (ADVICE r10 — leaked persists also
        # trip the CacheManager InMemoryRelation-substitution trap for
        # later plan assertions).  The checkpointed frame is k pairs above
        # threshold — driver-bounded by construction.
        return verify_shingle_pairs(cand, banded, id_col, threshold).localCheckpoint(
            eager=True
        )
    finally:
        expl.unpersist()
        banded.unpersist()


def verify_shingle_pairs(
    cand: DataFrame, banded: DataFrame, id_col: str, threshold: float
) -> DataFrame:
    """Exact-Jaccard verification of candidate (id_a, id_b) pairs against a
    (id, shingles, ...) signature frame — the shared tail of the batch LSH
    join and the mounted dedup append (mount/dedup.py)."""
    shingle_map = banded.select(F.col(id_col), F.col("shingles"))
    ver = (
        cand.join(shingle_map.select(F.col(id_col).alias("id_a"), F.col("shingles").alias("sh_a")), "id_a")
        .join(shingle_map.select(F.col(id_col).alias("id_b"), F.col("shingles").alias("sh_b")), "id_b")
    )
    jac = F.size(F.array_intersect("sh_a", "sh_b")).cast("double") / F.size(
        F.array_union("sh_a", "sh_b")
    ).cast("double")
    return (
        ver.withColumn("jaccard", jac)
        .where(F.col("jaccard") >= float(threshold))
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 6,
    bits: int = 32,
    shingle_n: int = 3,
) -> DataFrame:
    """SimHash near-dup pairs: signature map + pair join with
    ``bit_count(a XOR b) <= r``.

    Candidates come from a pigeonhole equi-join: each signature is split
    into r+1 bit blocks, and hamming ≤ r forces at least one block to match
    exactly, so candidates come from r+1 equi-joins on (block_idx,
    block_value) and only candidates pay the bit_count verify.  Exact (no
    recall loss), verified equal to the all-pairs join in tests.

    The blocks partition [0, bits) EXACTLY with variable widths
    (remainder spread over the first blocks).  A fixed ceil(bits/blocks)
    width would push the last block past the meaningful bit range — the
    char-fold base hash is < 2^30, so such a block is the constant 0 for
    every row and its equi-join silently degenerates to the n² cross
    product (found in round-1 advice).
    """
    n_blocks = max_hamming + 1
    if bits < n_blocks:
        # a zero-width block would mask to the constant 0 and equi-join
        # every row against every row — the exact degeneration the
        # variable-width partition exists to prevent
        raise ValueError(
            f"simhash_pairs needs bits >= max_hamming + 1 ({bits} < {n_blocks}); "
            "widen the signature or lower max_hamming"
        )
    # NULL/space-only docs share one degenerate signature and would all
    # pair at hamming 0 — same exclusion contract as minhash_lsh_pairs
    df = df.where(nonblank_text(text_col))
    # fused pandas signature kernel (bit-identical to the column chain,
    # equality-tested); persist: computed once, read by both join sides
    sh = simhash_frame(df, id_col, text_col, bits, shingle_n).persist()
    base_w, rem = divmod(bits, n_blocks)
    widths = [base_w + 1] * rem + [base_w] * (n_blocks - rem)
    offsets = [sum(widths[:i]) for i in range(n_blocks)]
    blocks = F.array(
        *[
            F.shiftright(F.col("sig"), off).bitwiseAND(F.lit((1 << w) - 1))
            for off, w in zip(offsets, widths)
        ]
    )
    expl = sh.withColumn("blocks", blocks).select(
        F.col(id_col), F.col("sig"), F.posexplode("blocks").alias("blk_idx", "blk_val")
    )
    left = expl.select(
        F.col(id_col).alias("id_a"), F.col("sig").alias("sig_a"), "blk_idx", "blk_val"
    )
    right = expl.select(
        F.col(id_col).alias("id_b"), F.col("sig").alias("sig_b"), "blk_idx", "blk_val"
    )
    # verify hamming BEFORE deduplicating: signatures already travel with
    # the joined row, so the bit_count filter costs nothing extra and the
    # dropDuplicates exchange then shuffles only ACCEPTED pairs (a few
    # hundred) instead of every candidate (O(n²/2^width) rows)
    return (
        left.join(right, ["blk_idx", "blk_val"])
        .where(F.col("id_a") < F.col("id_b"))
        .withColumn("hamming", hamming64(F.col("sig_a"), F.col("sig_b")))
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
        .dropDuplicates(["id_a", "id_b"])
    )


def ngram_jaccard_pairs(
    df: DataFrame, id_col: str, text_col: str, threshold: float = 0.7, shingle_n: int = 3
) -> DataFrame:
    """Exact n-gram Jaccard dedup via the prefix-filtered set-similarity join
    (no LSH recall loss; higher cost — the verification tier)."""
    sh = shingle_frame(df, id_col, text_col, shingle_n)
    out = jaccard_self_join(sh, id_col, "shingles", threshold)
    return out.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


#: Per-task executor-memory budget for the numpy pair kernels: a tile
#: materializes two (block_rows × dim) float64 matrices plus ~4
#: block_rows²-sized float64-equivalent intermediates (acc, denom, cos,
#: and the mask/outer temporaries — tracemalloc-measured at 1.03× this
#: model across (br, dim) shapes, SCALE.md §r14).  The 128 GiB local
#: sandbox hides overruns a 4 GiB-executor cluster would OOM on
#: (VERDICT r13 task 4), so block sizing is CLAMPED to this budget from
#: (block_rows, dim) BEFORE the shuffle is planned — wide embeddings
#: shrink the tile instead of inflating the task.
PAIR_KERNEL_TASK_BYTES = 512 * 1024 * 1024


def _clamp_block_rows(
    block_rows: int, dim: int, budget_bytes: int = PAIR_KERNEL_TASK_BYTES
) -> int:
    """Largest tile edge whose kernel working set fits the per-task
    budget: 8·(4·br² + 2·br·dim) ≤ budget, solved closed-form.  A floor
    of 16 keeps a degenerate budget from collapsing to per-row tiles
    (correctness holds at any size; the floor bounds shuffle blowup)."""
    import math

    br_max = int((math.sqrt(dim * dim + 4.0 * budget_bytes / 8.0) - dim) / 4.0)
    return max(16, min(int(block_rows), br_max))


def _score_pair_group(pdf, loose: float, diagonal: bool):
    """Numpy scoring kernel for one block tile: n·m dot products as
    ascending rank-1 updates (``acc += A[:,j] ⊗ B[:,j]``), the SAME IEEE
    left-fold the JVM ``aggregate(zip_with(...))`` and the DuckDB
    ``list_reduce`` oracle evaluate — raw cosines are bit-identical across
    engines, so the authoritative round-6 threshold can stay JVM-side."""
    import numpy as np
    import pandas as pd

    if diagonal:
        a = b = pdf
    else:
        a = pdf[pdf["side"] == "a"]
        b = pdf[pdf["side"] == "b"]
    a_ids = a["rid"].to_numpy(dtype=np.int64)
    b_ids = b["rid"].to_numpy(dtype=np.int64)
    if len(a_ids) == 0 or len(b_ids) == 0:
        return pd.DataFrame({"id_a": [], "id_b": [], "cos_raw": []}).astype(
            {"id_a": "int64", "id_b": "int64", "cos_raw": "float64"}
        )
    a_mat = np.array(list(a["v"]), dtype=np.float64)
    b_mat = np.array(list(b["v"]), dtype=np.float64)
    a_nrm = a["nrm"].to_numpy(dtype=np.float64)
    b_nrm = b["nrm"].to_numpy(dtype=np.float64)
    denom = np.outer(a_nrm, b_nrm)
    # GEMM pre-filter (r14, guide §4.2): ONE BLAS matmul screens the n·m
    # grid instead of dim rank-1 full-matrix updates (each a complete
    # pass over the accumulator — the old kernel's memory traffic was
    # dim× the matrix size).  The gemm cosine differs from the exact
    # ascending-j left fold only by summation associativity, bounded by
    # dim·eps ≈ 1e-14 (Cauchy-Schwarz), so a 1e-9 slack under ``loose``
    # can never drop a pair the exact fold would keep.  Survivors — the
    # near-threshold sliver plus true pairs — get their cosine recomputed
    # with the EXACT fold, so emitted cos_raw values are bit-identical to
    # the JVM ``aggregate(zip_with(...))`` / DuckDB ``list_reduce`` arms
    # (the cross-engine pin the equality tests enforce).
    with np.errstate(divide="ignore", invalid="ignore"):
        cos_mm = np.where(denom == 0, 0.0, (a_mat @ b_mat.T) / denom)
    if diagonal:
        cand = (a_ids[:, None] < b_ids[None, :]) & (cos_mm >= loose - 1e-9)
    else:
        cand = cos_mm >= loose - 1e-9
    ai, bi = np.nonzero(cand)
    if len(ai):
        acc = np.zeros(len(ai))
        for j in range(a_mat.shape[1]):  # exact ascending-index left fold
            acc += a_mat[ai, j] * b_mat[bi, j]
        dsel = denom[ai, bi]
        with np.errstate(divide="ignore", invalid="ignore"):
            cos = np.where(dsel == 0, 0.0, acc / dsel)
        keep = cos >= loose
        ai, bi, cos = ai[keep], bi[keep], cos[keep]
    else:
        cos = np.zeros(0)
    if diagonal:
        lo, hi = a_ids[ai], b_ids[bi]
    else:
        lo = np.minimum(a_ids[ai], b_ids[bi])
        hi = np.maximum(a_ids[ai], b_ids[bi])
    return pd.DataFrame({"id_a": lo, "id_b": hi, "cos_raw": cos})


def clustered_cosine_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    cluster_col: str,
    threshold: float = 0.9,
    block_rows: int = 4096,
    task_mem_bytes: int = PAIR_KERNEL_TASK_BYTES,
) -> DataFrame:
    """Within-cluster cosine near-dup pairs — the SemDeDup pair stage and,
    over one cluster, :func:`embedding_cosine_pairs`.

    Semantically ``a JOIN b ON cluster AND id_a < id_b WHERE cos ≥ t``,
    but the physical plan survives scale where the naive cluster-keyed
    self-join does not: a plain ``join(b, cluster_col)`` shuffles the
    corpus onto k reducers (maximal skew by construction when k is small)
    and materializes O((N/k)²) pairs per reducer.  Here each cluster is
    independently block-tiled: rows hash into Bc = ceil(|c|/block_rows)
    blocks by ``xxhash64(id)``, each unordered block pair (p ≤ q) is one
    ``applyInPandas`` group keyed (cluster, pa, pb) — Σ Bc² keys — and
    every task scores at most block_rows² pairs regardless of how fat its
    cluster is.  Each row is shuffled Bc times (block-nested-loop
    replication); driver memory is O(1), executor memory per task
    O(block_rows·dim + block_rows²).  Per-cluster sizes come from ONE
    k-row aggregate broadcast back.  Norms are computed per row (never
    per pair) JVM-side with the same fold as the oracle.

    Scoring is `_score_pair_group`, so raw cosines are bit-identical to
    the JVM/DuckDB fold and the result set equals the naive join's —
    equality-tested in tests/test_cluster.py and tests/test_dedup_ann.py."""
    normed = df.select(
        F.col(cluster_col).alias("cl"),
        F.col(id_col).alias("rid"),
        F.transform(vec_col, lambda x: x.cast("double")).alias("v"),
        measures.l2_norm(F.col(vec_col)).alias("nrm"),
    )
    # pre-filter margin must cover the round-half-width: raw cosines in
    # [threshold - 5e-7, threshold) round UP to the threshold and must
    # survive to the authoritative round-6 filter (ADVICE r01)
    loose = float(threshold) - 1e-6
    # auto-clamp the tile edge to the per-task budget from the vector
    # width before the per-cluster block counts are derived (r13 task 4)
    probe = df.select(F.size(vec_col).alias("d")).first()
    dim = int(probe.d) if probe is not None and probe.d is not None else 0
    block_rows = _clamp_block_rows(block_rows, dim, task_mem_bytes)
    sizes = (
        normed.groupBy("cl")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("nb", F.ceil(F.col("cnt") / F.lit(int(block_rows))).cast("int"))
        .select("cl", "nb")
    )
    tagged = normed.join(F.broadcast(sizes), "cl").withColumn(
        "blk", F.pmod(F.xxhash64(F.col("rid")), F.col("nb")).cast("int")
    )
    # row with block b joins tile (pa=b, pb=q) as side A for q ≥ b, and
    # tile (pa=p, pb=b) as side B for p < b — every unordered row pair
    # lands in exactly one tile (diagonal tiles carry side A only)
    side_a = tagged.select(
        "cl",
        F.col("blk").alias("pa"),
        F.explode(F.sequence(F.col("blk"), F.col("nb") - 1)).alias("pb"),
        F.lit("a").alias("side"),
        "rid",
        "v",
        "nrm",
    )
    side_b = tagged.where(F.col("blk") > 0).select(
        "cl",
        F.explode(F.sequence(F.lit(0), F.col("blk") - 1)).alias("pa"),
        F.col("blk").alias("pb"),
        F.lit("b").alias("side"),
        "rid",
        "v",
        "nrm",
    )
    tiles = side_a.unionByName(side_b)

    def score_tile(pdf):
        # diagonal is a property of the tile COORDINATES, never of side-b
        # emptiness: an off-diagonal tile whose q-block happens to be
        # empty must stay empty, not re-score block p against itself
        # (that would duplicate every pair tile (p,p) already emitted)
        diagonal = bool(len(pdf) and pdf["pa"].iat[0] == pdf["pb"].iat[0])
        return _score_pair_group(pdf, loose, diagonal=diagonal)

    raw = tiles.groupBy("cl", "pa", "pb").applyInPandas(
        score_tile, "id_a long, id_b long, cos_raw double"
    )
    return (
        raw.withColumn("cos_sim", F.round("cos_raw", 6))
        .where(F.col("cos_sim") >= float(threshold))
        .select("id_a", "id_b", "cos_sim")
    )


def embedding_cosine_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.9,
    block_rows: int = 4096,
    task_mem_bytes: int = PAIR_KERNEL_TASK_BYTES,
) -> DataFrame:
    """Embedding near-dup pairs by cosine ≥ threshold, EXACT: the
    block-tiled pair join of :func:`clustered_cosine_pairs` over one
    cluster holding every row (B = ceil(n/block_rows) blocks, B(B+1)/2
    tiles).  The scale route for corpora past tiling is the k-means-cell
    blocking of ``semdedup`` / ``mount.dedup_embed_append``."""
    return clustered_cosine_pairs(
        df.select(id_col, vec_col, F.lit(0).alias("_cl")),
        id_col, vec_col, "_cl", threshold, block_rows, task_mem_bytes,
    )


#: driver-tier cap for connected_components: pair graphs at or below this
#: many edge rows are labeled by a driver union-find (one LIMIT-probe job)
#: instead of the iterative label-propagation loop (~3 jobs/round).  The
#: dup graph is dedup-rate-sized, orders below corpus size; 2^18 rows of
#: (long, long) is ~4 MB on the driver.  Above the cap the distributed
#: loop runs unchanged — the 100 TB tier.
DRIVER_CC_MAX_EDGES = 1 << 18


def _cc_driver_rows(rows) -> list[tuple]:
    """Union-find labeling of a collected edge list: (id, component) with
    component = min id reachable through the graph — EXACTLY the
    distributed loop's fixpoint (min over a connected set is independent
    of traversal/union order, so the two arms agree bitwise)."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for s, d in rows:
        if s not in parent:
            parent[s] = s
        if d not in parent:
            parent[d] = d
        rs, rd = find(s), find(d)
        if rs != rd:
            parent[rs] = rd
    comp_min: dict = {}
    for node in parent:
        r = find(node)
        m = comp_min.get(r)
        if m is None or node < m:
            comp_min[r] = node
    return [(node, comp_min[find(node)]) for node in sorted(parent)]


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iters: int = 50,
    broadcast_threshold: int = 2_000_000,
    driver_max_edges: int = DRIVER_CC_MAX_EDGES,
) -> DataFrame:
    """Transitive near-dup clusters from a pair relation: (id, component)
    with component = the smallest id reachable through the pair graph —
    the step every dedup pipeline needs between pair generation and keeper
    selection (pairs (1,2) and (2,3) are ONE group keeping doc 1, which no
    per-pair rule can decide).

    Algorithm: distributed hash-min label propagation with a pointer-jump
    shortcut each round (the hooking + pointer-jumping shape of
    large-star/small-star CC).  Init fuses the first hop — label =
    min(self, neighbors) in the edge aggregation — so the pair-shaped
    components that dominate near-dup graphs converge in a single round.
    Per round: (1) every node takes the min label across its neighbors,
    (2) labels chase their own label's label (path halving), so convergence
    is O(log diameter) rounds, not O(diameter).  The driver carries one
    monotone scalar (Σ labels, strictly decreasing until the fixpoint) per
    round for the convergence test; labels are non-increasing per node, so
    sum-equality IS per-node fixpoint.  Raises after ``max_iters`` rounds
    rather than returning a partially-merged clustering.

    At 100 TB the pair relation is the output of the banded/tiled tiers
    above (already bucketed); the label frame shuffles on id each round —
    the standard iterative-CC cost, bounded by dup-graph size, never corpus
    size.  When the dup graph is broadcast-sized (node count from the init
    action ≤ ``broadcast_threshold``, ~16 B/row) the per-round joins hint
    `broadcast` on the label side, collapsing each round to one map stage —
    the node count is already on the driver, so the choice costs nothing;
    above the threshold the same loop runs as key-partitioned shuffle
    joins.

    DRIVER TIER (r14, guide §1.2 step 1): the dup graph is dedup-rate-
    sized — at or below ``driver_max_edges`` pair rows (LIMIT-probed in
    one job), a driver union-find labels it with the IDENTICAL
    min-reachable-id fixpoint (order-independent, so the tiers agree
    bitwise — pinned in tests/test_dedup_ann.py::
    test_cc_driver_tier_equals_distributed_tier), replacing ~3 driver
    jobs per propagation round.  Integral-id graphs only (the callers'
    shape); NULL ids or overflow fall through to the distributed loop.
    """
    proj = pairs.select(F.col(id_a).alias("s"), F.col(id_b).alias("d"))
    dts = dict(proj.dtypes)
    if driver_max_edges > 0 and {dts["s"], dts["d"]} <= {
        "tinyint", "smallint", "int", "bigint"
    }:
        probe = proj.limit(driver_max_edges + 1).collect()
        if len(probe) <= driver_max_edges and not any(
            r["s"] is None or r["d"] is None for r in probe
        ):
            # schema from the distributed arm's OWN analysis (no action),
            # so the two tiers can never diverge on output dtypes
            out_schema = (
                proj.groupBy(F.col("s").alias("id"))
                .agg(F.least(F.min("d"), F.col("s")).alias("component"))
                .schema
            )
            data = _cc_driver_rows([(r["s"], r["d"]) for r in probe])
            return pairs.sparkSession.createDataFrame(data, out_schema)
    edges = (
        pairs.select(F.col(id_a).alias("s"), F.col(id_b).alias("d"))
        .unionByName(pairs.select(F.col(id_b).alias("s"), F.col(id_a).alias("d")))
        .distinct()
        .persist()
    )
    # Fused first hop: start from min(self, all neighbors), not self.
    # localCheckpoint (not persist) each round: an iterative plan references
    # its previous round twice (union + self-join), so without lineage
    # truncation the LOGICAL plan doubles per round — exponential plan-string
    # generation in AQE long before any data problem.  localCheckpoint cuts
    # the plan at materialized partitions; on a cluster prefer a reliable
    # checkpoint dir if executor loss mid-loop matters.
    labels = (
        edges.groupBy(F.col("s").alias("id"))
        .agg(F.least(F.min("d"), F.col("s")).alias("label"))
        .localCheckpoint()
    )
    stats = labels.agg(F.sum("label").alias("s"), F.count(F.lit(1)).alias("n")).first()
    prev_sum, n_nodes = stats["s"], stats["n"]
    if prev_sum is None:  # no pairs at all
        edges.unpersist()
        return labels.select("id", "label")
    bc = F.broadcast if n_nodes <= broadcast_threshold else (lambda df: df)
    converged = False
    for _ in range(max_iters):
        # (1) neighbor min: labels flow one hop along edges
        prop = edges.join(bc(labels.withColumnRenamed("id", "s")), "s").select(
            F.col("d").alias("id"), "label"
        )
        stepped = (
            labels.unionByName(prop)
            .groupBy("id")
            .agg(F.min("label").alias("label"))
            .localCheckpoint()
        )
        # (2) pointer jump: chase label -> label's label (path halving);
        # every label is itself a node id, so the self-join always resolves
        jumped = (
            stepped.alias("x")
            .join(
                bc(stepped.select(F.col("id").alias("label"), F.col("label").alias("ll"))),
                "label",
            )
            .select("id", F.col("ll").alias("label"))
            .localCheckpoint()
        )
        new_sum = jumped.agg(F.sum("label")).first()[0]
        labels = jumped
        if new_sum == prev_sum:
            converged = True
            break
        prev_sum = new_sum
    edges.unpersist()
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iters} rounds; "
            "the pair graph is deeper than any near-dup clustering should be"
        )
    out = labels.select("id", F.col("label").alias("component"))
    return out
