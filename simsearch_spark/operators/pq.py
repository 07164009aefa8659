"""Product quantization (PQ) — the canonical billion-scale embedding
compression behind IVF-PQ ANN serving (Jégou, Douze, Schmid 2011,
"Product Quantization for Nearest Neighbor Search").

The vector is split into ``m`` contiguous subspaces; each subspace gets
its own ``ksub``-centroid k-means codebook; a vector is stored as ``m``
small codes (m bytes at ksub ≤ 256 — 64-dim float32 → 4 bytes here, 64×
compression).  Queries scan codes with an Asymmetric Distance Computation
(ADC) lookup table: ``dist²(q, x) ≈ Σ_j lut_j[code_j]`` where ``lut_j[c] =
||q_j − centroid_{j,c}||²`` — m array lookups + adds per row instead of a
dim-length kernel.

Spark shapes (all reusing the deterministic k-means machinery,
operators/kmeans.py — same seeding, same strict-< argmin, same in-engine
round-6 means, so the DuckDB oracle unrolls it the same way):

- ``pq_train``: m independent Lloyd loops over sliced subvectors.  Each
  pass is the kmeans partial-agg shape; at 100 TB you train on a bounded
  SAMPLE frame (the standard practice — FAISS trains on ≤1M vectors) and
  the codebooks become a mount-time artifact like IVF centroids.
- ``pq_encode``: per subspace one codegen argmin over ksub literal
  centroids (the struct/array_min trick — each distance expression appears
  once).  Row-local, zero shuffles; the corpus never moves.
- ``pq_adc_topk``: the ADC scan — per-subspace LUT as an array literal,
  ``element_at`` + sum, one TakeOrderedAndProject.  O(k) driver memory.
- IVF-PQ (``ivf_pq_topk`` / ``ivf_pq_multi_topk``) encodes residuals
  ``v − centroid(cell)``: ``cell_residual`` and ``cell_adc`` are the one
  residual and one per-probed-cell ADC rule the mount's encode and the
  serve path (mount/) share with these operators.

Reference parity note: the reference engine has no quantization (its V4
path re-scores exact vectors); PQ extends the LLM-pipeline ANN family
(SURVEY.md §8) alongside sign-LSH and IVF.
"""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from simsearch_spark.functions.measures import cosine_similarity
from simsearch_spark.operators.kmeans import _lit_vec, nearest_center, probe_cells

__all__ = [
    "pq_train",
    "pq_train_rows",
    "pq_encode",
    "pq_adc_topk",
    "ivf_pq_topk",
    "ivf_pq_multi_topk",
]


def _probe_dim(df: DataFrame, vec_col: str) -> int:
    row = df.where(F.col(vec_col).isNotNull()).select(F.size(vec_col)).first()
    if row is None:
        raise ValueError("cannot probe vector width of an empty frame")
    return int(row[0])


_Q6 = Decimal("0.000001")


def _round6_half_up(x: float) -> float:
    """Replicate ``F.round(col, 6)`` on doubles driver-side: Spark rounds
    ``BigDecimal(Double.toString(d))`` HALF_UP at scale 6, and
    ``Decimal(repr(x))`` is Python's identical shortest round-trip
    decimal — where ``floor(|x|·1e6 + 0.5)`` is 1 ulp off at
    representation boundaries (ADVICE r13).  The one driver-side copy of
    the rule: PQ training and the audit's sampled brute arm use it."""
    return float(Decimal(repr(float(x))).quantize(_Q6, rounding=ROUND_HALF_UP))


def pq_train_rows(
    rows: list[tuple],
    m: int = 4,
    ksub: int = 8,
    iters: int = 2,
) -> list[dict[int, list[float]]]:
    """Driver-local PQ training over an ALREADY-COLLECTED bounded sample —
    the optimization-round replacement for the in-engine Lloyd passes
    (guide §1.2: the training frame is constant-bounded by contract, so
    2+iters distributed jobs were pure scheduling latency; at 100 TB they
    were 2+iters cluster round-trips for arithmetic over ≤PQ_TRAIN_N·dim
    doubles).

    ``rows`` = [(id, [float, ...]), ...]; order is normalized by sorting
    on id here (the ``ORDER BY id LIMIT n`` contract).  Arithmetic
    replicates the engine exactly: seeds = ksub lowest-id subvectors
    rounded 6 HALF_UP, distances = sqrt of the ascending-index left fold
    of squared deltas (``euclidean_distance``'s zip_with/aggregate), the
    strict-< argmin keeps the lowest cluster id on ties, means fold in
    ascending id order and are rounded 6 HALF_UP, empty clusters keep
    their previous centroid.  Equivalence with the in-engine arm is
    pinned per fixture in tests/test_pq.py."""
    import math

    srt = sorted(((r[0], [float(x) for x in r[1]]) for r in rows), key=lambda t: t[0])
    if not srt:
        raise ValueError("cannot train PQ codebooks on an empty sample")
    dim = len(srt[0][1])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m} subspaces")
    dsub = dim // m

    def sl(vec: list[float], j: int) -> list[float]:
        return vec[j * dsub : (j + 1) * dsub]

    codebooks: list[dict[int, list[float]]] = [
        {
            i: [_round6_half_up(v) for v in sl(vec, j)]
            for i, (_id, vec) in enumerate(srt[:ksub])
        }
        for j in range(m)
    ]

    def dist(a: list[float], c: list[float]) -> float:
        acc = 0.0
        for x, y in zip(a, c):
            d = x - y
            acc += d * d
        return math.sqrt(acc)

    for _ in range(iters):
        # per (j, cluster, pos): members' value lists in ascending id order
        sums: dict[tuple[int, int], list[list[float]]] = {}
        for _id, vec in srt:
            for j in range(m):
                s = sl(vec, j)
                best_cid, best_d = None, None
                for cid, cvec in sorted(codebooks[j].items()):
                    d = dist(s, cvec)
                    if best_d is None or d < best_d:
                        best_cid, best_d = cid, d
                vals = sums.setdefault((j, best_cid), [[] for _ in range(dsub)])
                for p, v in enumerate(s):
                    vals[p].append(v)
        new_books: list[dict[int, list[float]]] = []
        for j in range(m):
            book: dict[int, list[float]] = {}
            for cid, old in codebooks[j].items():
                vals = sums.get((j, cid))
                if vals is None:
                    book[cid] = old  # empty cluster keeps its previous centroid
                else:
                    book[cid] = [
                        _round6_half_up(sum(vals[p]) / len(vals[p]))
                        for p in range(dsub)
                    ]
            new_books.append(book)
        codebooks = new_books
    return codebooks


def pq_train(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    m: int = 4,
    ksub: int = 8,
    iters: int = 2,
) -> list[dict[int, list[float]]]:
    """Train per-subspace codebooks from a BOUNDED sample frame: ONE
    collect of the sample (≤PQ_TRAIN_N rows by the callers' contract),
    then ``pq_train_rows``'s driver-local Lloyd loop — identical
    arithmetic to the former in-engine passes (equivalence pinned in
    tests/test_pq.py), at 1 Spark job instead of 2+iters.

    Corpus-scale note: pass a bounded sample frame (PQ codebooks saturate
    long before corpus size; FAISS trains on ≤10⁶ vectors) — the collect
    is bounded by the sample, never the corpus.
    """
    rows = df.select(id_col, vec_col).collect()
    return pq_train_rows([(r[0], list(r[1])) for r in rows], m=m, ksub=ksub, iters=iters)


def _pq_train_engine(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    m: int = 4,
    ksub: int = 8,
    iters: int = 2,
) -> list[dict[int, list[float]]]:
    """The pre-r14 in-engine training arm (one exploded frame, each Lloyd
    pass one batched Spark job).  Kept as the equivalence oracle for
    ``pq_train_rows`` — tests/test_pq.py pins both arms equal per fixture;
    production paths all use the driver-local arm.
    """
    dim = _probe_dim(df, vec_col)
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m} subspaces")
    dsub = dim // m
    vec = F.col(vec_col)

    # one job: all m seed sets (rounded IN-ENGINE — F.round is HALF_UP;
    # Python's round() is banker's and must never touch these values)
    seed_rows = (
        df.orderBy(id_col)
        .limit(ksub)
        .select(
            *[
                F.transform(
                    F.slice(vec, j * dsub + 1, dsub),
                    lambda x: F.round(x.cast("double"), 6),
                ).alias(f"s{j}")
                for j in range(m)
            ]
        )
        .collect()
    )
    codebooks: list[dict[int, list[float]]] = [
        {i: [float(v) for v in r[f"s{j}"]] for i, r in enumerate(seed_rows)}
        for j in range(m)
    ]

    # (id, j, slice) exploded once; every pass groups on (j, cluster, dim)
    flat = df.select(
        F.col(id_col),
        F.inline(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("j"),
                        F.slice(vec, j * dsub + 1, dsub).alias("_sub"),
                    )
                    for j in range(m)
                ]
            )
        ),
    )
    for _ in range(iters):
        # per-row nearest_center against the row's OWN subspace codebook,
        # chosen by a when-chain on j (each distance expression once)
        best = None
        for j in reversed(range(m)):
            bj = nearest_center(F.col("_sub"), codebooks[j])
            best = bj if best is None else F.when(F.col("j") == j, bj).otherwise(best)
        rows = (
            flat.withColumn("cluster_id", best["id"])
            .select("j", "cluster_id", F.posexplode(F.col("_sub")).alias("pos", "v"))
            .groupBy("j", "cluster_id", "pos")
            .agg(F.round(F.avg(F.col("v").cast("double")), 6).alias("mv"))
            .collect()
        )
        means: dict[tuple[int, int], dict[int, float]] = {}
        for r in rows:
            means.setdefault((int(r["j"]), int(r["cluster_id"])), {})[int(r["pos"])] = float(r["mv"])
        codebooks = [
            {
                cid: (
                    [means[(j, cid)][p] for p in sorted(means[(j, cid)])]
                    if (j, cid) in means
                    else old  # empty cluster keeps its previous centroid
                )
                for cid, old in codebooks[j].items()
            }
            for j in range(m)
        ]
    return codebooks


def pq_encode(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    codebooks: list[dict[int, list[float]]],
) -> DataFrame:
    """Encode every vector: per subspace the argmin code over its codebook
    plus the subspace quantization distance.  Output columns: ``id_col``,
    ``code_0..code_{m-1}`` (int), ``dist_0..dist_{m-1}`` (the L2 between
    the subvector and its centroid — the audit signal).  Pure codegen
    column expressions, row-local, no shuffle.

    The subspace width comes from the codebooks themselves (r14: probing
    the frame for ``size(vec)`` was one extra Spark job per encode; the
    codebooks already pin dsub, and a mismatched vector width surfaces in
    the slice arithmetic exactly as before)."""
    m = len(codebooks)
    dsub = len(next(iter(codebooks[0].values())))
    out_cols = [F.col(id_col)]
    passthrough = [c for c in df.columns if c not in (id_col, vec_col)]
    out_cols += [F.col(c) for c in passthrough]
    for j, cb in enumerate(codebooks):
        best = nearest_center(F.slice(F.col(vec_col), j * dsub + 1, dsub), cb)
        out_cols.append(best["id"].alias(f"code_{j}"))
        out_cols.append(best["dist"].alias(f"dist_{j}"))
    return df.select(*out_cols)


def _check_query_dim(
    codebooks: list[dict[int, list[float]]], query_vec: list[float]
) -> tuple[int, int]:
    m = len(codebooks)
    dsub = len(next(iter(codebooks[0].values())))
    if len(query_vec) != m * dsub:
        raise ValueError(
            f"query dim {len(query_vec)} != codebooks' {m}x{dsub}"
        )
    return m, dsub


def _adc_luts(
    codebooks: list[dict[int, list[float]]], query_vec: list[float]
) -> list[list[float]]:
    """Per-subspace ksub-entry LUTs of squared subdistances for a query —
    the driver-side constant both the literal expression
    (``_lut_expr``) and the Arrow batch-serve kernel (``mount/serve.py``)
    index with ``code_j``; sharing this one function keeps the two paths
    float-identical."""
    m, dsub = _check_query_dim(codebooks, query_vec)
    luts = []
    for j, cb in enumerate(codebooks):
        q = query_vec[j * dsub : (j + 1) * dsub]
        lut = []
        for _cid, cvec in sorted(cb.items()):
            s = 0.0
            for a, b in zip(q, cvec):
                d = float(a) - float(b)
                s += d * d
            lut.append(s)
        luts.append(lut)
    return luts


def _lut_expr(luts: list[list[float]]) -> Column:
    """The ADC distance column over ``code_0..code_{m-1}`` for one query's
    LUTs (m·ksub driver floats — constant): m ``element_at`` lookups + a
    fixed-order sum, rounded to 6 (the engine-wide score contract)."""
    acc = None
    for j in range(len(luts)):
        term = F.element_at(F.lit(luts[j]), F.col(f"code_{j}") + 1)
        acc = term if acc is None else acc + term
    return F.round(F.sqrt(acc), 6)


def _by_cell(
    cell_col: str, arms: list[tuple[int, Column]], otherwise: Column | None = None
) -> Column:
    """Each row's arm, selected by its cell: a when-chain testing the
    cells in ``arms`` order; without ``otherwise`` the last arm is the
    unconditional base (the rows are already restricted to these cells)."""
    out = otherwise
    for cid, arm in reversed(arms):
        out = arm if out is None else F.when(
            F.col(cell_col) == F.lit(cid), arm
        ).otherwise(out)
    return out


def cell_residual(
    vec_col: str, cell_col: str, cmap: dict[int, list[float]], cells: list[int]
) -> Column:
    """Row-local residual ``v − centroid(own cell)`` for rows whose cell is
    one of ``cells`` — codegen, no join; the IVF-PQ encode rule of the
    declared operators and of the mount (``encode_residual_codes``)."""
    dbl = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    return _by_cell(
        cell_col,
        [(cid, F.zip_with(dbl, _lit_vec(cmap[cid]), lambda x, m: x - m)) for cid in cells],
    )


def cell_luts(
    codebooks: list[dict[int, list[float]]],
    cmap: dict[int, list[float]],
    query_vec: list[float],
    cells: list[int],
) -> list[tuple[int, list[list[float]]]]:
    """Per probed cell, the ADC LUTs of the query residual
    ``q − centroid(cell)`` — the driver constants both the literal
    ``cell_adc`` expression and the batch-serve Arrow kernel index."""
    return [
        (cid, _adc_luts(codebooks, [float(a) - b for a, b in zip(query_vec, cmap[cid])]))
        for cid in cells
    ]


def cell_adc(
    codebooks: list[dict[int, list[float]]],
    cmap: dict[int, list[float]],
    query_vec: list[float],
    cells: list[int],
    cell_col: str,
    otherwise: Column | None = None,
) -> Column:
    """The residual ADC distance of each row against ``query_vec``: one
    LUT expression per probed cell, selected by the row's cell
    (``otherwise`` for rows in none of ``cells``)."""
    return _by_cell(
        cell_col,
        [(cid, _lut_expr(luts)) for cid, luts in cell_luts(codebooks, cmap, query_vec, cells)],
        otherwise,
    )


def pq_adc_topk(
    codes: DataFrame,
    id_col: str,
    codebooks: list[dict[int, list[float]]],
    query_vec: list[float],
    k: int,
) -> DataFrame:
    """Asymmetric-distance top-k over an ENCODED corpus: the
    ``_lut_expr`` scan + one TakeOrderedAndProject.  Returns
    (id, adc_dist) ascending, ties by id.  Approximate by construction
    (quantization error); recall is audited against the exact scan in
    tests."""
    return (
        codes.select(
            F.col(id_col), _lut_expr(_adc_luts(codebooks, query_vec)).alias("adc_dist")
        )
        .orderBy(F.col("adc_dist").asc(), F.col(id_col).asc())
        .limit(k)
    )


def _cell_codes(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    assign_col: str,
    cmap: dict[int, list[float]],
    codebooks: list[dict[int, list[float]]],
    cells: list[int],
) -> DataFrame:
    """The rows of ``cells`` (a pushable ``assign_col IN cells`` scan
    filter), PQ-encoded against their own cell's residual.  The vector
    rides along as ``__v`` (pq_encode passes through everything but
    id/vec) so the bounded rerank needs no second scan; the cell rides
    as ``__cell_id`` for ``cell_adc``."""
    return pq_encode(
        df.where(F.col(assign_col).isin(cells)).select(
            F.col(id_col),
            cell_residual(vec_col, assign_col, cmap, cells).alias("__r"),
            F.col(vec_col).alias("__v"),
            F.col(assign_col).alias("__cell_id"),
        ),
        id_col,
        "__r",
        codebooks,
    )


def ivf_pq_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: dict[int, list[float]],
    codebooks: list[dict[int, list[float]]],
    query_vec: list[float],
    k: int,
    n_probe: int = 1,
    rerank: int = 32,
    assign_col: str = "label",
) -> DataFrame:
    """IVF-PQ serving — the composed billion-scale ANN shape (Jégou 2011
    §V; FAISS ``IndexIVFPQ``): route the query to its ``n_probe`` nearest
    IVF cells (``probe_cells``), ADC-scan ONLY those cells' PQ codes, then
    exact-rescore the ``rerank`` best ADC candidates and return the
    true-cosine top-k.

    The codes are PQ over RESIDUALS ``v − centroid(cell)`` (train the
    codebooks on residual vectors — see ``queries/ivfpq.py``): each row is
    encoded against its own cell's residual (``cell_residual``), and the
    query builds ONE LUT PER PROBED CELL from ``q − centroid(cell)``
    (``cell_adc``; n_probe·m·ksub driver floats — still constant).
    Residuals concentrate near the origin, so the same codebook budget
    spends its centroids on a much smaller ball — the recall-per-byte
    reason production IVF-PQ encodes residuals.  The plain (non-residual)
    ADC scan is ``pq_adc_topk``.

    Plan shape (the thing that must survive 100×): the cell predicate
    ``assign_col IN probes`` is a pushable scan filter, so the bytes read
    scale with n_probe/n_cells — NOT with N (plan- and probe-asserted in
    tests/test_pq.py and tools/scale_probe.py).  The ADC scan over the
    surviving rows is the ``pq_encode`` codegen argmin + m ``element_at``
    lookups, row-local, zero shuffles; one TakeOrderedAndProject keeps the
    ``rerank`` candidates (driver O(rerank)); the exact rescore runs on
    those rows alone — in production the full vectors come from a point
    store keyed by id, here the bounded candidate rows still carry them.

    ``centroids`` is the cell id → centroid map
    (``mount.artifacts.load_centroid_map``'s shape), ROUND-6-PINNED (the
    cross-engine determinism contract: an unrounded float avg folds
    differently per plan); ``assign_col`` holds each row's cell, the
    persisted assignment of the mount-time artifact shape.  Returns
    (id_col, adc_dist, cos_sim), cos_sim descending, ties by id.
    """
    probe_ids = probe_cells(centroids, query_vec, n_probe)
    enc = _cell_codes(df, id_col, vec_col, assign_col, centroids, codebooks, probe_ids)
    adc = cell_adc(codebooks, centroids, query_vec, probe_ids, "__cell_id")
    cand = (
        enc.select(F.col(id_col), F.col("__v"), adc.alias("adc_dist"))
        .orderBy(F.col("adc_dist").asc(), F.col(id_col).asc())
        .limit(rerank)
    )
    qv = _lit_vec([float(x) for x in query_vec])
    return (
        cand.select(
            F.col(id_col),
            F.col("adc_dist"),
            F.round(cosine_similarity(F.col("__v"), qv), 6).alias("cos_sim"),
        )
        .orderBy(F.col("cos_sim").desc(), F.col(id_col).asc())
        .limit(k)
    )


def ivf_pq_multi_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: dict[int, list[float]],
    codebooks: list[dict[int, list[float]]],
    queries: list[tuple[int, list[float]]],
    k: int,
    n_probe: int = 1,
    rerank: int = 32,
    assign_col: str = "label",
) -> DataFrame:
    """BATCH IVF-PQ serving — Q queries against ONE cell-routed scan (the
    shape a real retrieval pipeline runs: thousands of queries per batch;
    VERDICT r10 task 4).  Composes ``ann_multi_query_topk``'s
    Q-queries-one-scan pattern with ``ivf_pq_topk``'s residual ADC scan:

    1. every query routes to its ``n_probe`` nearest cells driver-side
       (``probe_cells``, as the single-query path); the scan
       predicate is the UNION of all probed cells — one pushed ``IN``
       filter, bytes read ∝ |∪ probed cells| / n_cells, paid ONCE for the
       whole batch instead of once per query;
    2. each surviving row residual-encodes ONCE against its own cell
       (``cell_residual`` over the union cells — identical codes to the
       single-query path);
    3. per (row, query): the query's ``cell_adc`` fold, NULL when
       the row's cell is outside that query's probes — emitted as an
       exploded (query_id, adc_dist) pair list, so the scan stays single;
    4. per-query rerank selection is a rank-limit window
       (``row_number ≤ rerank`` — Spark's WindowGroupLimit keeps
       per-partition top-r heaps map-side, so the shuffle carries
       O(Q · rerank) rows per map partition, not the candidate set);
    5. exact cosine rescore per query (literal query vector selected by
       query_id) and a final per-query top-k rank window.

    Returns (query_id, id_col, adc_dist, cos_sim, rank), rank ≤ k per
    query.  ``centroids`` and ``assign_col`` as in ``ivf_pq_topk``; the
    ``queries`` list must be sorted by query_id (determinism contract).
    """
    from pyspark.sql.window import Window

    qs = [(int(qid), [float(x) for x in qv]) for qid, qv in queries]
    probes = {qid: probe_cells(centroids, qv, n_probe) for qid, qv in qs}
    union_cells = sorted({c for ps in probes.values() for c in ps})
    enc = _cell_codes(df, id_col, vec_col, assign_col, centroids, codebooks, union_cells)

    no_probe = F.lit(None).cast("double")
    entries = [
        F.struct(
            F.lit(qid).alias("query_id"),
            cell_adc(codebooks, centroids, qv, probes[qid], "__cell_id", no_probe).alias("adc_dist"),
        )
        for qid, qv in qs
    ]
    cand = (
        enc.select(
            F.col(id_col), F.col("__v"), F.explode(F.array(*entries)).alias("q")
        )
        .select(
            id_col,
            "__v",
            F.col("q.query_id").alias("query_id"),
            F.col("q.adc_dist").alias("adc_dist"),
        )
        .where(F.col("adc_dist").isNotNull())
    )
    w_adc = Window.partitionBy("query_id").orderBy(
        F.col("adc_dist").asc(), F.col(id_col).asc()
    )
    cand = (
        cand.withColumn("_rn", F.row_number().over(w_adc))
        .where(F.col("_rn") <= int(rerank))
        .drop("_rn")
    )

    cos = None
    for qid, qv in reversed(qs):
        c = cosine_similarity(F.col("__v"), _lit_vec(qv))
        cos = c if cos is None else F.when(
            F.col("query_id") == F.lit(qid), c
        ).otherwise(cos)
    w_cos = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col(id_col).asc()
    )
    return (
        cand.withColumn("cos_sim", F.round(cos, 6))
        .withColumn("rank", F.row_number().over(w_cos))
        .where(F.col("rank") <= int(k))
        .select("query_id", id_col, "adc_dist", "cos_sim", "rank")
    )
