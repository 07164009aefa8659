"""Benchmark runner: every declared query at $SPARK_GRAFT_SF_DIR (default
sf0.1) on local[$SPARK_GRAFT_CPUS].  Prints ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}

Each query runs FOUR times in the same JVM: run 1 pays one-time
JIT/codegen for its plan shapes (a known 5-15 s tax on a fresh JVM —
BASELINE.md machine gate is wall-clock); runs 2-4 are steady-state
candidates.  The headline `value`/`queries` report the per-query MIN of
runs 2-4 — C2 compiles on background threads, so a single "warm" run still
carries multi-second compile jitter (observed 52 s vs 74 s totals for an
identical tree) and the min is the number that scales with data, not with
Janino.  The per-query MEDIAN of runs 2-4 (a true warm median, not
contaminated by the cold run) plus run 1 and the mount/serve timings go
to BENCH_DETAIL.json, committed per round.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from simsearch_spark.queries import REGISTRY
from simsearch_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def run_all(spark) -> dict[str, float]:
    timings: dict[str, float] = {}
    for name, (fn, _sql) in REGISTRY.items():
        t0 = time.perf_counter()
        df = fn(spark, SF_DIR)
        n = df.count() if name == "scan_project" else len(df.collect())
        timings[name] = round(time.perf_counter() - t0, 3)
        assert n >= 0
        # queries persist per-workload frames (signature tables, scored
        # frames); drop them between queries so 51 workloads in one JVM
        # don't accumulate dead cached blocks and GC churn into each
        # other's timings
        spark.catalog.clearCache()
    return timings


def _best_of(n: int, fn) -> float:
    times = []
    for _ in range(n):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return round(min(times), 3)


def run_mount(spark) -> dict[str, float]:
    """Time the mount/serve split at bench scale: one mount (train-once —
    IVF centroids, residual PQ codebooks, the encoded corpus, langid/LM/
    BM25 stats) and the per-query SERVE paths against it.  The comparison
    that matters: ``ivfpq_serve`` vs the declared ``ann_ivfpq_topk`` in the
    main map — the declared query retrains in-query by self-containment
    design (~80 % of its runtime); the serve path reads probed code
    partitions + a bounded point-lookup and pays none of it.  Serve paths
    are warmed once, then best-of-2; parity with the declared results is
    pytest's job (tests/test_mount.py), not re-asserted here."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from simsearch_spark.functions.text import ws_tokens
    from simsearch_spark.mount import mount, serve_bm25_topk, serve_ivfpq_topk
    from simsearch_spark.queries.core import K
    from simsearch_spark.queries.corpus import BM25_K, BM25_QUERY
    from simsearch_spark.queries.ivf import IVF_QUERY_ID, N_PROBE
    from simsearch_spark.queries.ivfpq import RERANK
    from simsearch_spark.sources.registry import load_table

    out: dict[str, float] = {}
    root = tempfile.mkdtemp(prefix="simsearch_mount_")
    try:
        t0 = time.perf_counter()
        mount(spark, SF_DIR, root)
        out["mount_build"] = round(time.perf_counter() - t0, 3)

        emb = load_table(spark, SF_DIR, "embeddings")
        qvec = [
            float(x)
            for x in emb.where(F.col("vec_id") == IVF_QUERY_ID).first().embedding
        ]

        def ivfpq_serve():
            return serve_ivfpq_topk(
                spark, root, emb, qvec, K, n_probe=N_PROBE, rerank=RERANK
            ).collect()

        docs = load_table(spark, SF_DIR, "documents").withColumn(
            "toks", ws_tokens(F.col("text"))
        )

        def bm25_serve():
            return serve_bm25_topk(spark, root, docs, BM25_QUERY, BM25_K).collect()

        ivfpq_serve()  # warm
        out["ivfpq_serve"] = _best_of(2, ivfpq_serve)
        bm25_serve()
        out["bm25_serve"] = _best_of(2, bm25_serve)

        # the drift audit (r12): recall@k of the mounted index on the
        # most recent rows vs the exact brute arm — the operational
        # health check a deployment schedules; its cost is one bounded
        # batch serve + one multi-query brute scan
        from simsearch_spark.mount import audit_drift

        t0 = time.perf_counter()
        audit = audit_drift(spark, root, emb, sample_n=16, k=10,
                            n_probe=N_PROBE, rerank=RERANK,
                            corpus_sample_n=512)
        out["drift_audit"] = round(time.perf_counter() - t0, 3)
        out["drift_audit_recall"] = audit["recall_at_k"]

        # incremental dedup serve cost (r12): one fixed 200-doc delta
        # against the mounted band index (update=False keeps it pure)
        from simsearch_spark.mount.dedup import dedup_append

        full_docs = load_table(spark, SF_DIR, "documents")
        cut = full_docs.select(F.max("doc_id")).first()[0]
        # a re-crawl delta: 200 existing texts under FRESH ids — every one
        # is a true near-dup of its mounted original, so the candidate +
        # verify stages do real work
        delta = full_docs.where(F.col("doc_id") > cut - 200).select(
            (F.col("doc_id") + cut + 1).alias("doc_id"), "text"
        )

        def dedup_serve():
            return dedup_append(spark, root, delta, update=False).collect()

        dedup_serve()  # warm
        out["dedup_append"] = _best_of(2, dedup_serve)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return out


def cpu_calibration() -> float:
    """Host-speed tripwire (VERDICT r13 task 5): a deterministic ~2 s
    single-thread CPU score — fixed-seed numpy matmuls plus a Python
    hash loop — recorded in BENCH_DETAIL so cross-round comparisons can
    be validated from artifacts alone.  The r13 round lost 15-40 % of
    apparent throughput to silent host slowdown and had to re-bench the
    old tree to prove it; with `calib` in both artifacts, a ratio far
    from 1.0 marks the raw cross-file comparison as NOT decidable.
    Returns operations-per-second-ish (higher = faster host); the
    workload mix (BLAS matmul + interpreter loop) tracks both executor
    kernels and driver/py4j overheads.

    v2 (r14 close-out): the v1 loop divided the accumulator by 384 each
    rep, so after ~240 reps its entries drifted through the SUBNORMAL
    float range where the matmul is ~100x slower before underflowing to
    exact zero — the score was nonlinear in host speed (a mildly slower
    host ended its 2 s window stalled inside the subnormal band and
    scored several times lower).  The accumulator is now max-abs
    normalized every rep so every matmul runs on normal-range doubles;
    v2 scores are NOT comparable to v1 scores (the one committed v1
    value, 121.8, is marked as such in SCALE.md)."""
    import hashlib

    import numpy as np

    rng = np.random.default_rng(12345)
    a = rng.normal(size=(384, 384))
    b = rng.normal(size=(384, 384))
    t0 = time.perf_counter()
    reps = 0
    acc = a
    h = hashlib.sha256()
    while time.perf_counter() - t0 < 2.0:
        acc = acc @ b
        # max-abs normalize: stays in normal range, never subnormal; the
        # 1e-300 floor guards the division against a degenerate all-zero
        # accumulator if the inputs ever change (ADVICE r14)
        acc /= max(np.abs(acc).max(), 1e-300)
        h.update(acc[0].tobytes())
        for i in range(20_000):
            h.update(i.to_bytes(4, "little"))
        reps += 1
    dt = time.perf_counter() - t0
    return round(reps / dt, 2)


def main() -> None:
    # Load guard (VERDICT r12 task 2): record 1-min loadavg at start so a
    # bench taken under background load is identifiable from the artifact
    # alone — the r12 ANN/PQ "regression" was exactly this.
    load1 = os.getloadavg()[0]
    cpus = os.cpu_count() or 1
    load_ratio = round(load1 / cpus, 3)
    if load_ratio > 0.2:
        sys.stderr.write(
            f"WARNING: loadavg/cpus = {load_ratio} > 0.2 at bench start — "
            "timings will include background-load noise\n"
        )
    calib = cpu_calibration()  # before the JVM starts competing for CPU
    spark = get_spark(app_name="simsearch-bench")
    spark.sparkContext.setLogLevel("ERROR")
    # JVM/codegen warm-up on an unrelated tiny job so q1 isn't charged for it
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    cold = run_all(spark)
    # THREE warm runs: the median is a true median-of-warm (ADVICE r7 — a
    # median that includes the cold run degenerates to max(warm_a, warm_b)),
    # and the min keeps the r01+ headline metric.  Two independent location
    # estimates make cross-round per-query ratios decidable from artifacts
    # alone — a real regression moves both, one-off compile/GC jitter
    # moves only one.
    warms = [run_all(spark) for _ in range(3)]
    warm = {k: round(min(w[k] for w in warms), 2) for k in warms[0]}
    med = {k: round(sorted(w[k] for w in warms)[1], 2) for k in warms[0]}
    mount_times = run_mount(spark)
    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    # The driver records only the LAST 2000 chars of stdout: the full
    # cold/median/mount detail goes to BENCH_DETAIL.json (committed per
    # round), and the stdout line is compact, scalars first, the headline
    # MIN map last — so the surviving tail is metric-consistent with
    # rounds 1-6 and the median lives in the repo artifact.
    detail = {
        "sf": sf_val,
        "runs": 4,
        "load_start": load_ratio,
        "load_end": round(os.getloadavg()[0] / cpus, 3),
        # deterministic host-speed score (r13 task 5): compare across
        # rounds BEFORE reading per-query ratios — a calib ratio far from
        # 1.0 means the host changed, not the code (SCALE.md §r14 A/B
        # procedure)
        "calib": calib,
        # v1 had a subnormal-float stall that made the score nonlinear
        # in host speed; only compare calib across artifacts with the
        # same version (bench.py cpu_calibration docstring)
        "calib_version": 2,
        "queries_min": warm,
        "queries_median": med,
        "queries_cold": cold,
        "mount": mount_times,
    }
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           "BENCH_DETAIL.json"), "w") as f:
        json.dump(detail, f, indent=1, sort_keys=True)
    print(stdout_line(cold, med, warm, sf_val, load_ratio))
    spark.stop()


#: the external driver records only the LAST this-many chars of stdout
DRIVER_TAIL_CHARS = 2000
#: shrink against a margin: print's trailing newline (or any stray byte a
#: shutdown hook emits after the line) must not evict the opening '{' from
#: the driver's tail window (ADVICE r9) — a line of exactly
#: DRIVER_TAIL_CHARS chars plus '\n' would otherwise lose its first char
STDOUT_LINE_MARGIN = 16


def stdout_line(cold, med, warm, sf_val, load_ratio=None) -> str:
    """The ONE stdout JSON line — as a function so tests can pin what the
    driver's tail window keeps.  The full min map does not fit the
    driver's 2000-char tail at the current registry size: 98 names sum to
    1476 chars, so names + JSON punctuation alone are ~2162 chars before
    a single scalar — no per-entry byte shaving can reach zero omission
    while the ``queries`` object keeps the full names the driver diffs
    across rounds (VERDICT r14 task 2; renaming/abbreviating keys would
    read as dropped queries).  The line is therefore ADAPTIVE with every
    non-contract scalar stripped (r15: cold/median/load/detail live only
    in BENCH_DETAIL.json), which admits ~5 more entries than the r14
    form: if the full form overflows, the OLDEST map entries (registry
    head — the rounds-stable core, re-verified every round by the oracle
    gates) are dropped first and counted in ``queries_omitted``, until
    the line fits.  ``omitted_sum`` closes the accounting: ``value`` ==
    sum(queries) + omitted_sum to rounding (each side is rounded to 2
    decimals on its own), so the headline stays auditable from the line
    alone.  Values keep 2 decimals deliberately — 1-decimal values
    would fit ~5 further entries but quantize sub-second queries by up to
    ±17%, enough to flip the driver's >10% regressed/improved statuses
    on noise.  The complete untruncated record is the committed
    BENCH_DETAIL.json.  ``cold``/``med``/``load_ratio`` stay as
    parameters so the signature (pinned by tests) is unchanged; a load
    warning is the one non-essential field worth its bytes.
    """

    def build(kept: dict, omitted: int) -> str:
        doc = {
            "metric": "declared_queries_total_wall",
            "unit": "sec",
            "sf": sf_val,
        }
        if load_ratio is not None and load_ratio > 0.2:
            doc["load_warn"] = True
        if omitted:
            doc["queries_omitted"] = omitted
            doc["omitted_sum"] = round(
                sum(warm.values()) - sum(kept.values()), 2
            )
        doc["queries"] = kept
        doc["value"] = round(sum(warm.values()), 2)
        return json.dumps(doc, separators=(",", ":"))

    names = list(warm)
    drop = 0
    line = build(warm, 0)
    while len(line) > DRIVER_TAIL_CHARS - STDOUT_LINE_MARGIN and drop < len(names):
        drop += 1
        line = build({n: warm[n] for n in names[drop:]}, drop)
    return line


if __name__ == "__main__":
    main()
