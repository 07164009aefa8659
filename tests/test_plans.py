"""Physical-plan contract tests: guard the scale properties SCALE.md claims.

These assert plan *shape*, not timings — a regression that introduces a
global sort, drops filter pushdown, or loses column pruning fails here long
before it shows up as a benchmark cliff at scale.
"""

from pyspark.sql import functions as F

from simsearch_spark.operators.rank_agg import multi_facet_topk
from simsearch_spark.operators.topk import single_facet_topk
from simsearch_spark.plans.spec import Facet, SearchRequest
from simsearch_spark.sources.registry import load_table


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_facet_topk_plan_contract(spark, sf_dir):
    cust = load_table(spark, sf_dir, "customer")
    facet = Facet(
        name="bal", kind="numerical", value_cols=["c_acctbal"], query_value=1000.0,
        filter="c_mktsegment = 'BUILDING'",
    )
    plan = _plan(single_facet_topk(cust, "c_custkey", facet, k=5))
    # top-k must be TakeOrderedAndProject (per-partition heaps), never a Sort
    assert "TakeOrderedAndProject" in plan
    assert "Sort " not in plan.replace("TakeOrdered", "")
    # the pre-filter must reach the parquet scan
    assert "PushedFilters" in plan and "BUILDING" in plan
    # no shuffle exchanges, and the auto scale comes from the k result rows:
    # no broadcast scale join, one scan of the table
    assert "ShuffleExchange" not in plan and "Exchange hashpartitioning" not in plan
    assert "BroadcastExchange" not in plan
    assert plan.count("FileScan") == 1


def test_facet_topk_column_pruning(spark, sf_dir):
    """A 2-column facet query over a 5-column table must not read all 5."""
    cust = load_table(spark, sf_dir, "customer")
    facet = Facet(name="bal", kind="numerical", value_cols=["c_acctbal"], query_value=1000.0)
    plan = _plan(single_facet_topk(cust, "c_custkey", facet, k=5))
    assert "c_name" not in plan and "c_mktsegment" not in plan  # pruned
    assert "c_acctbal" in plan


def test_multi_attr_no_shuffle(spark, sf_dir):
    """Single-table multi-facet aggregation: no hash-partition shuffle —
    wide projection with literal scales and weights + TakeOrdered per
    combination."""
    cust = load_table(spark, sf_dir, "customer")
    req = SearchRequest(
        table="customer",
        key_column="c_custkey",
        facets=[
            Facet(name="bal", kind="numerical", value_cols=["c_acctbal"], query_value=1000.0,
                  weights=[0.5]),
            Facet(name="nat", kind="numerical", value_cols=["c_nationkey"], query_value=10.0,
                  weights=[0.5]),
        ],
        k=5,
    )
    plan = _plan(multi_facet_topk(cust, req))
    assert "TakeOrderedAndProject" in plan
    assert "Exchange hashpartitioning" not in plan


def test_result_rows_never_join_back_to_the_table(spark, sf_dir):
    """After the top-k, operators work on the k result rows only: a
    Singleton search takes its auto scale from its own rows, and a SQL
    search's extra SELECT columns ride the final projection — neither plan
    joins, broadcasts or scans the table a second time."""
    from simsearch_spark.plans.sql_frontend import execute_search_sql

    cust = load_table(spark, sf_dir, "customer")
    facet = Facet(name="bal", kind="numerical", value_cols=["c_acctbal"], query_value=1000.0)
    sql = (
        "SELECT c_mktsegment, c_nationkey FROM customer WHERE c_acctbal ~= 1000 "
        "AND c_name ~= 'Customer#000000007' LIMIT 5"
    )
    for out in (
        single_facet_topk(cust, "c_custkey", facet, k=5),
        execute_search_sql(spark, cust, "customer", sql, "c_custkey"),
    ):
        plan = _plan(out)
        assert "Join" not in plan and "BroadcastExchange" not in plan
        assert plan.count("FileScan") == 1
        assert len(out.collect()) == 5


def test_scan_project_reads_three_columns(spark, sf_dir):
    from simsearch_spark.queries.core import q_scan_project

    plan = _plan(q_scan_project(spark, sf_dir))
    # 11-column lineitem pruned to the 3 projected columns
    assert "l_orderkey" in plan and "l_extendedprice" in plan
    assert "l_quantity" not in plan and "l_shipdate" not in plan


def test_bench_stdout_fits_driver_tail_window():
    """The external driver records only the LAST 2000 chars of bench
    stdout.  The headline `value` scalar and the COMPLETE per-query min
    map must survive that window at the current registry size — when this
    fails, shrink the emitted line (shorter rounding, fewer leading keys)
    rather than losing the metric-consistent tail (r7 lesson)."""
    import importlib.util

    from simsearch_spark.queries import REGISTRY

    spec = importlib.util.spec_from_file_location(
        "bench", "/root/repo/bench.py"
    )
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)
    import json as _json

    qs = {name: 12.34 for name in REGISTRY}  # worst-case 5-char values
    line = bench.stdout_line(qs, qs, qs, 0.1)
    # r9 contract: the line is ADAPTIVE — it must fit the window WHOLE, so
    # the driver's tail capture is one complete parseable JSON object
    # margin: the trailing newline / a stray shutdown byte must never push
    # the opening '{' out of the driver's tail window (ADVICE r9)
    assert len(line) <= bench.DRIVER_TAIL_CHARS - bench.STDOUT_LINE_MARGIN
    doc = _json.loads(line)
    assert doc["value"] == round(sum(qs.values()), 2)
    names = list(REGISTRY)
    kept = list(doc["queries"])
    # what survives is exactly a SUFFIX of registry order (newest entries),
    # the omission is counted, and coverage stays high even at worst case
    assert kept == names[len(names) - len(kept):]
    assert doc.get("queries_omitted", 0) == len(names) - len(kept)
    # the driver's stdout window is FIXED at 2000 chars, so the surviving
    # fraction must fall as the registry grows; r15 strips every
    # non-contract scalar from the line (74 of 98 fit even at worst-case
    # 5-char values, vs 72 in the r14 form), and the floor guards against
    # a rendering regression, not against registry growth — the full
    # per-query map is committed in BENCH_DETAIL.json either way
    assert len(kept) >= int(len(names) * 0.75)
    # accounting closure (VERDICT r14 task 2): the headline `value` is
    # auditable from the line alone — kept entries plus the omitted-sum
    # scalar reproduce it to rounding
    if doc.get("queries_omitted"):
        assert abs(doc["omitted_sum"] + round(sum(doc["queries"].values()), 2)
                   - doc["value"]) < 0.05
    # every omitted entry is a registry-HEAD (rounds-stable) query whose
    # full record lives in the committed BENCH_DETAIL.json; the newest
    # (most-in-flux) entries always survive
    assert set(names[: len(names) - len(kept)]) == set(names) - set(kept)
