"""The benchmark's workloads.

Both are closed loops with one client: the next operation is issued when
the previous one has returned, as callers of this library wait for each
result.  Operations are issued in rounds (search) or blocks (serve) that
hold every operation class, so each class is measured on every run; the
loop runs whole rounds or blocks, at least one, until ``seconds`` have
passed.  Every operation's rows are checked against ``oracle`` after the
timed loop; one that raised or failed its check counts as failed and as
an infinite latency.
"""

from __future__ import annotations

import math
import os
import statistics
import time
from collections import defaultdict
from dataclasses import dataclass, field

import numpy as np

from perfbench import inputs, oracle
from perfbench.trace import SparkCounters, Tracer, cpu_s, log


@dataclass
class Op:
    cls: str
    spec: dict
    ms: float = math.inf
    rows: list | None = None
    error: str | None = None


@dataclass
class Outcome:
    ops: list[Op]
    setup_s: float
    #: the process tree's CPU seconds (``trace.cpu_s``) when the timed loop
    #: started and when it ended
    loop_cpu: tuple[float, float]
    per_layer: dict = field(default_factory=dict)
    detail: dict = field(default_factory=dict)

    def failed(self) -> int:
        return sum(1 for o in self.ops if o.error is not None)


def class_medians(ops: list[Op]) -> dict[str, float]:
    by: dict[str, list[float]] = defaultdict(list)
    for o in ops:
        by[o.cls].append(o.ms if o.error is None else math.inf)
    return {c: statistics.median(v) for c, v in by.items()}


def balanced_latency(ops: list[Op]) -> float:
    """Typical latency in ms of a mix holding every class equally often:
    the geometric mean of the per-class medians.  The geometric mean moves
    smoothly with every class, where a median of six class values jumps
    between the cheap and the expensive classes."""
    meds = list(class_medians(ops).values())
    return math.exp(sum(math.log(m) for m in meds) / len(meds))


def run_loop(ops: list[Op], per_round: int, seconds: float, do_op, tracer: Tracer,
             counters: SparkCounters | None) -> tuple[list[Op], tuple[float, float]]:
    """Issue ``ops`` in order, a whole round (``per_round`` ops) at a time,
    until ``seconds`` have passed.  Returns the ops issued and the process
    tree's CPU seconds at the loop's start and end."""
    done: list[Op] = []
    cpu0 = cpu_s()
    t_end = time.perf_counter() + seconds
    for i, op in enumerate(ops):
        if i and i % per_round == 0 and time.perf_counter() >= t_end:
            break
        op_id = f"op{i}"
        tracer.op_id = op_id
        if counters:
            counters.begin(op_id)
        result_df = None
        t0 = time.perf_counter()
        try:
            with tracer.span(f"op.{op.cls}"):
                op.rows, result_df = do_op(op)
            op.ms = (time.perf_counter() - t0) * 1e3
        except Exception as e:  # a failed operation is a measured outcome
            op.error = f"{type(e).__name__}: {str(e).splitlines()[0][:200] if str(e) else ''}"
        tracer.op_id = None
        if counters:
            counters.end(op_id, op.cls, result_df)
        done.append(op)
    return done, (cpu0, cpu_s())


def per_op_layers(tracer: Tracer, counters: SparkCounters, ops: list[Op], build_span: str | tuple,
                  class_metric: dict[str, str]) -> dict:
    """The per-layer metrics both workloads report (traced runs).
    ``build_span``: the name prefix(es) of the spans that build an
    operation's result; ``class_metric``: operation class -> the metric
    its median latency is reported as."""
    def med(v):
        return statistics.median(v) if v else 0.0
    recs = counters.per_op
    n = max(1, len(recs))
    out = {
        "op.build_ms": med(tracer.op_span_ms(build_span)),
        "spark.collect_ms": med(tracer.op_span_ms("spark.collect")),
        "spark.plan_ms": med([r["plan_ms"] for r in recs if "plan_ms" in r]),
        "spark.jobs_per_op": sum(r["jobs"] for r in recs) / n,
        "spark.stages_per_op": sum(r["stages"] for r in recs) / n,
        "spark.tasks_per_op": sum(r["tasks"] for r in recs) / n,
        "spark.executor_run_ms_per_op": sum(r["run_ms"] for r in recs) / n,
        "spark.executor_cpu_ms_per_op": sum(r["cpu_ms"] for r in recs) / n,
        "spark.shuffle_bytes_per_op": sum(r["shuffle_read"] + r["shuffle_write"] for r in recs) / n,
        "spark.spill_bytes": float(sum(r["spill"] for r in recs)),
        "spark.cached_bytes": float(counters.cached_bytes()),
        "functions.python_eval_ms_per_op": sum(r["python_ms"] for r in recs) / n,
    }
    out.update({class_metric[c]: v for c, v in class_medians(ops).items()})
    return out


def late_over_early(ops: list[Op]) -> float:
    """Per class issued more than once, its last latency over its first;
    the median over those classes."""
    by: dict[str, list[float]] = defaultdict(list)
    for o in ops:
        if o.error is None:
            by[o.cls].append(o.ms)
    ratios = [v[-1] / v[0] for v in by.values() if len(v) > 1]
    return statistics.median(ratios) if ratios else 0.0


# ---------------------------------------------------------------------------
# search_interactive
# ---------------------------------------------------------------------------

#: catalog attribute -> (table, key column, value columns, operation)
ATTRS = {
    "acctbal": ("customer", "c_custkey", ["c_acctbal"], "numerical_topk"),
    "cname": ("customer", "c_custkey", ["c_name"], "textual_topk"),
    "cloc": ("customer", "c_custkey", ["c_lon", "c_lat"], "spatial_knn"),
    "odate": ("orders", "o_orderkey", ["o_orderdate"], "temporal_topk"),
    "oprice": ("orders", "o_orderkey", ["o_totalprice"], "numerical_topk"),
    "pname": ("part", "p_partkey", ["p_name"], "textual_topk"),
    "lprice": ("lineitem", "l_id", ["l_extendedprice"], "numerical_topk"),
    "lship": ("lineitem", "l_id", ["l_shipdate"], "temporal_topk"),
}
KEYS = {"customer": "c_custkey", "orders": "o_orderkey", "part": "p_partkey", "lineitem": "l_id"}
KIND = {"numerical_topk": "numerical", "textual_topk": "textual",
        "spatial_knn": "spatial", "temporal_topk": "temporal"}
#: the SQL class's similarity columns on ``part`` -> (the kind the
#: front-end binds from the schema, value columns)
SQL_COLUMNS = {"p_retailprice": ("numerical", ["p_retailprice"]), "p_name": ("textual", ["p_name"])}
#: rounds generated; the loop never gets near the end of the stream
SEARCH_ROUNDS = 60
#: request class -> its per-layer latency metric
SEARCH_CLASS_METRIC = {c: f"search.{c}_p50_ms" for c in inputs.SEARCH_ROUND}


def _build_catalog(spark, data_dir: str, tracer: Tracer):
    from simsearch_spark.sources.catalog import Catalog
    from simsearch_spark.sources.registry import load_table

    with tracer.span("sources.register"):
        cat = Catalog(spark)
        frames = {t: cat.register_source(t, df=load_table(spark, data_dir, t)) for t in KEYS}
        for attr, (t, key, cols, operation) in ATTRS.items():
            cat.mount(attr, t, key, cols, operation)
    return cat, frames


def search_interactive(spark, data_dir: str, seed: int, seconds: float, tracer: Tracer,
                       counters: SparkCounters | None) -> Outcome:
    from simsearch_spark.plans.sql_frontend import execute_search_sql, parse_search_sql

    tables = inputs.search_tables(seed)
    for name, t in tables.items():
        inputs.write_table(t, data_dir, name)
    reqs = inputs.search_requests(seed, tables, SEARCH_ROUNDS)
    n_round = len(inputs.SEARCH_ROUND)
    log("inputs written")

    t0 = time.perf_counter()
    cat, frames = _build_catalog(spark, data_dir, tracer)
    reg_s = time.perf_counter() - t0

    def do_op(op: Op):
        r = op.spec
        key = KEYS[r["table"]]
        with tracer.span("operators.build"):
            if r["sql"] is not None:
                out = execute_search_sql(spark, frames[r["table"]], r["table"], r["sql"], key)
            else:
                out = cat.search(r["conditions"], k=r["k"], weights=r["weights"])
        with tracer.span("spark.collect"):
            rows = out.collect()
        return [(x["combo"], x[key], x["score"]) for x in rows], out

    # warm-up: the first request of round 0, so the session's one-time
    # costs (first Python worker, first code generation) fall in set-up;
    # measuring starts with round 1
    warm = [Op(r["cls"], r) for r in reqs[:1]]
    t0 = time.perf_counter()
    run_loop(warm, 1, 0.0, do_op, Tracer(False), None)
    warm_s = time.perf_counter() - t0
    log("warm-up done")

    ops, loop_cpu = run_loop([Op(r["cls"], r) for r in reqs[n_round:]], n_round, seconds, do_op,
                             tracer, counters)
    log(f"{len(ops)} searches measured")

    check = oracle.SearchOracle(tables)
    for op in ops + warm:
        if op.error is None:
            r = op.spec
            facets = [
                (a, *(SQL_COLUMNS[a] if r["sql"] else (KIND[ATTRS[a][3]], ATTRS[a][2])), v)
                for a, v in r["conditions"].items()
            ]
            op.error = check.check(r["table"], facets, r["k"], r["weights"], op.rows)
    warm_failed = [o for o in warm if o.error]
    if warm_failed:
        ops = ops + warm_failed  # a broken warm-up request is a failed op too
    log("searches checked")

    per_layer = {}
    detail = {"class_p50_ms": class_medians(ops), "warm_ms": [[o.cls, round(o.ms, 1)] for o in warm]}
    if tracer.enabled:
        per_layer = per_op_layers(tracer, counters, ops, "operators.build", SEARCH_CLASS_METRIC)
        # the SQL front-end's parse, timed apart from the measured searches
        parse_ms = []
        for op in ops:
            r = op.spec
            if r["sql"] is not None:
                t0 = time.perf_counter()
                with tracer.span("plans.parse"):
                    parse_search_sql(frames[r["table"]], r["table"], r["sql"], KEYS[r["table"]])
                parse_ms.append((time.perf_counter() - t0) * 1e3)
        per_layer["plans.parse_ms"] = statistics.median(parse_ms) if parse_ms else 0.0
        detail["spans_self_s"] = tracer.self_times()
    per_layer["sources.register_ms"] = reg_s * 1e3
    return Outcome(ops, reg_s + warm_s, loop_cpu, per_layer, detail)


# ---------------------------------------------------------------------------
# serve_ingest
# ---------------------------------------------------------------------------

SERVE_BLOCKS = 40
SERVE_BLOCK = len(inputs.SERVE_BLOCK)
#: operation class -> its per-layer latency metric
SERVE_CLASS_METRIC = {
    "ivfpq": "mount.serve_ivfpq_ms", "pivot": "mount.serve_pivot_ms", "bm25": "mount.serve_bm25_ms",
    "dedup_lookup": "mount.serve_dedup_lookup_ms", "dedup_append": "mount.dedup_append_ms",
    "append_rows": "mount.append_rows_ms",
    **{q: f"query.{q}_ms" for q in inputs.DECLARED},
}


def _tree_size(path: str) -> tuple[int, int]:
    files = size = 0
    for d, _, fs in os.walk(path):
        for f in fs:
            files += 1
            size += os.path.getsize(os.path.join(d, f))
    return files, size


def serve_ingest(spark, data_dir: str, seed: int, seconds: float, tracer: Tracer,
                 counters: SparkCounters | None) -> Outcome:
    from pyspark.sql import functions as F

    from simsearch_spark.functions.text import ws_tokens
    from simsearch_spark.mount import append_rows, dedup_append, mount
    from simsearch_spark.mount.serve import (
        serve_bm25_topk,
        serve_dedup_lookup,
        serve_ivfpq_topk,
        serve_pivot_knn,
    )
    from simsearch_spark.queries import REGISTRY
    from simsearch_spark.sources.registry import load_table

    tables = inputs.serve_tables(seed)
    docs_path = inputs.write_table(tables["documents"], data_dir, "documents")
    inputs.write_table(tables["embeddings"], data_dir, "embeddings")
    events_path = inputs.write_file(tables["events"], data_dir, "events")
    stream = inputs.serve_ops(seed, tables, SERVE_BLOCKS)
    check = oracle.ServeOracle(tables["documents"], tables["embeddings"])
    declared = oracle.DeclaredOracle({"documents": docs_path, "events": events_path})
    mount_dir = os.path.join(data_dir, "mount")
    n_vectors = [tables["embeddings"].num_rows]
    part_no = [1]

    t0 = time.perf_counter()
    with tracer.span("mount.mount"):
        mount(spark, data_dir, mount_dir)
    mount_s = time.perf_counter() - t0
    log("mounted")
    with tracer.span("sources.register"):
        t1 = time.perf_counter()
        docs = load_table(spark, data_dir, "documents").withColumn("toks", ws_tokens(F.col("text")))
        reg_s = time.perf_counter() - t1

    def emb_store():
        with tracer.span("sources.load_table"):
            return load_table(spark, data_dir, "embeddings")

    def vec_of(vid: int) -> list[float]:
        return [float(x) for x in check.vecs[vid]]

    def do_op(op: Op):
        s, k = op.spec, op.spec.get("k", 10)
        if op.cls in inputs.DECLARED:
            with tracer.span(f"queries.{op.cls}"):
                out = REGISTRY[op.cls][0](spark, data_dir)
            with tracer.span("spark.collect"):
                return (out.columns, [tuple(r) for r in out.collect()]), out
        if op.cls == "ivfpq":
            with tracer.span("mount.serve_ivfpq"):
                out = serve_ivfpq_topk(spark, mount_dir, emb_store(), vec_of(s["vec_id"]), k, n_probe=2, rerank=32)
            with tracer.span("spark.collect"):
                return [(r["id"], r["cos_sim"]) for r in out.collect()], out
        if op.cls == "pivot":
            with tracer.span("mount.serve_pivot"):
                out = serve_pivot_knn(spark, mount_dir, emb_store(), vec_of(s["vec_id"]), k)
            with tracer.span("spark.collect"):
                return [(r["vec_id"], r["dist"]) for r in out.collect()], out
        if op.cls == "bm25":
            with tracer.span("mount.serve_bm25"):
                out = serve_bm25_topk(spark, mount_dir, docs, s["tokens"], k)
            with tracer.span("spark.collect"):
                return [(r["doc_id"], r["score"]) for r in out.collect()], out
        if op.cls == "dedup_lookup":
            with tracer.span("mount.serve_dedup_lookup"):
                out = serve_dedup_lookup(spark, mount_dir, s["text"])
            with tracer.span("spark.collect"):
                return [r["doc_id"] for r in out.collect()], out
        if op.cls == "dedup_append":
            delta = spark.createDataFrame(list(zip(s["ids"], s["texts"])), "doc_id bigint, text string")
            with tracer.span("mount.dedup_append"):
                out = dedup_append(spark, mount_dir, delta, update=True)
            with tracer.span("spark.collect"):
                return [(r["id_a"], r["id_b"]) for r in out.collect()], out
        # append_rows: the new vectors join the store first (a plain file
        # write by the caller), then the mount indexes them
        t = inputs.embeddings_table(np.asarray(s["ids"]), np.asarray(s["vecs"], dtype=np.float32),
                                    np.asarray(s["labels"], dtype=np.int32))
        path = inputs.write_table(t, data_dir, "embeddings", part_no[0])
        part_no[0] += 1
        check.add_vectors(s["ids"], s["vecs"])
        with tracer.span("mount.append_rows"):
            manifest = append_rows(spark, mount_dir, emb_delta=spark.read.parquet(path))
        return [manifest["counts"]["n_vectors"]], None

    def verify(op: Op) -> str | None:
        s, k = op.spec, op.spec.get("k", 10)
        if op.cls == "ivfpq":
            return check.check_ivfpq(s["vec_id"], k, op.rows)
        if op.cls == "pivot":
            return check.check_pivot(s["vec_id"], k, op.rows)
        if op.cls == "bm25":
            return check.check_bm25(s["tokens"], k, op.rows)
        if op.cls == "dedup_lookup":
            return None if s["doc_id"] in op.rows else f"doc {s['doc_id']} not found by its own text"
        if op.cls in inputs.DECLARED:
            return declared.check(op.cls, REGISTRY[op.cls][1], *op.rows)
        if op.cls == "dedup_append":
            return oracle.check_pairs(s["planted"], op.rows)
        n_vectors[0] += len(s["ids"])
        got = op.rows[0]
        return None if got == n_vectors[0] else f"n_vectors {got}, want {n_vectors[0]}"

    # no warm-up: mount() has already run the session's one-time costs
    files0, bytes0 = _tree_size(mount_dir)
    ops, loop_cpu = run_loop([Op(s["cls"], s) for s in stream], SERVE_BLOCK, seconds, do_op, tracer,
                             counters)
    log(f"{len(ops)} operations measured")
    for op in ops:
        if op.error is None:
            op.error = verify(op)
    declared.close()
    log("operations checked")
    files1, bytes1 = _tree_size(mount_dir)

    per_layer = {}
    detail = {"class_p50_ms": class_medians(ops), "mount_s": mount_s}
    if tracer.enabled:
        per_layer = per_op_layers(tracer, counters, ops, ("mount.", "queries."), SERVE_CLASS_METRIC)
        per_layer["op.late_over_early"] = late_over_early(ops)
        detail["spans_self_s"] = tracer.self_times()
    in_bytes = sum(
        sum(len(t.encode()) for t in o.spec["texts"]) if o.cls == "dedup_append" else 4 * inputs.EMB_DIM * len(o.spec["ids"])
        for o in ops if o.spec["write"]
    )
    appended = [o for o in ops if o.cls == "dedup_append" and o.error is None]
    per_layer.update({
        "sources.register_ms": reg_s * 1e3,
        "mount.mount_s": mount_s,
        "mount.files": float(files1),
        "mount.write_amp": (bytes1 - bytes0) / in_bytes if in_bytes else 0.0,
        "mount.pairs_per_delta_doc": (
            sum(len(o.rows) for o in appended) / sum(len(o.spec["ids"]) for o in appended)
            if appended else 0.0
        ),
    })
    detail["files_added"] = files1 - files0
    return Outcome(ops, mount_s + reg_s, loop_cpu, per_layer, detail)


WORKLOADS = {
    "search_interactive": search_interactive,
    "serve_ingest": serve_ingest,
}
