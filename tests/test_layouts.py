"""Layout contract: prove (via the executed plan) that two tables bucketed
and sorted on the same key join without a shuffle — the co-located layout a
100 TB deployment uses for repeated entity joins."""

from __future__ import annotations

from simsearch_spark.sources.registry import load_table


def test_bucketed_join_elides_shuffle(spark, sf_dir, tmp_path_factory):
    """Co-located join contract: two tables bucketed+sorted on the join key
    with the same bucket count must join with NO shuffle exchange on either
    side — the layout a 100 TB deployment uses for repeated entity joins
    (the Spark analog of the reference's key-aligned per-attribute maps)."""
    wh = tmp_path_factory.mktemp("wh")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    stats = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    for name, df in (("b_docs", docs), ("b_stats", stats)):
        (df.write.mode("overwrite")
         .bucketBy(8, "doc_id").sortBy("doc_id")
         .option("path", str(wh / name))
         .saveAsTable(name))
    try:
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table("b_docs").join(spark.table("b_stats"), "doc_id")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, plan  # bucketing must co-locate both sides
        assert joined.count() == docs.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS b_docs")
        spark.sql("DROP TABLE IF EXISTS b_stats")
