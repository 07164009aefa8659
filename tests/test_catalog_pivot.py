import pytest
from pyspark.sql import functions as F

from simsearch_spark.operators.pivot import (
    allocate_pivots,
    epsilon_scale,
    pivot_knn,
    select_pivots_farthest_point,
)
from simsearch_spark.sources.catalog import Catalog
from simsearch_spark.sources.registry import load_table
from simsearch_spark.sources.sinks import format_table, write_csv, write_json


@pytest.fixture()
def catalog(spark, sf_dir):
    c = Catalog(spark)
    c.register_source("customer", df=load_table(spark, sf_dir, "customer"))
    return c


def test_mount_search_lifecycle(catalog):
    catalog.mount("bal", "customer", "c_custkey", "c_acctbal", "numerical_topk")
    catalog.mount("nm", "customer", "c_custkey", "c_name", "textual_topk")
    cat = catalog.catalog()
    assert {e["attribute"] for e in cat} == {"bal", "nm"}
    res = catalog.search({"bal": 1000.0, "nm": "Customer#000000001"}, k=5).collect()
    assert len(res) == 5
    for bad in (2.0, -1.0, float("nan")):  # T6: weights lie in [0, 1]
        with pytest.raises(ValueError, match="outside"):
            catalog.search({"bal": 1000.0, "nm": "x"}, k=5, weights={"bal": [bad], "nm": [0.5]})
    catalog.unmount("nm")
    assert len(catalog.catalog()) == 1
    with pytest.raises(KeyError):
        catalog.search({"nm": "x"}, k=1)


def test_mount_validation(catalog):
    with pytest.raises(KeyError):
        catalog.mount("a", "nope", "c_custkey", "c_acctbal", "numerical_topk")
    with pytest.raises(ValueError):
        catalog.mount("a", "customer", "c_custkey", "c_acctbal", "bogus_op")
    with pytest.raises(KeyError):
        catalog.mount("a", "customer", "c_custkey", "no_such_col", "numerical_topk")
    with pytest.raises(TypeError):  # no per-attribute options: decay/scale are per request
        catalog.mount("a", "customer", "c_custkey", "c_acctbal", "numerical_topk", decay=0.5)


def test_append_and_delete(catalog, spark):
    catalog.mount("bal", "customer", "c_custkey", "c_acctbal", "numerical_topk")
    before = catalog._tables["customer"].count()
    extra = spark.createDataFrame(
        [(999_999, "Customer#X", 1, 42.0, "BUILDING")],
        "c_custkey long, c_name string, c_nationkey int, c_acctbal double, c_mktsegment string",
    )
    catalog.append("customer", extra)
    assert catalog._tables["customer"].count() == before + 1
    catalog.delete("customer")
    assert catalog.catalog() == []


def test_csv_source_with_separator(catalog, spark, tmp_path):
    p = tmp_path / "data.csv"
    p.write_text("id;val\n1;10.5\n2;20.5\n3;30.5\n4;40.5\n")
    df = catalog.register_source("csvsrc", path=str(p), fmt="csv", separator=";", max_lines=3)
    assert df.count() == 3  # max_lines honored (DataIngestor max_lines parity)
    assert dict(df.dtypes)["val"] == "double"  # separator + schema inference
    catalog.mount("v", "csvsrc", "id", "val", "numerical_topk")
    res = catalog.search({"v": 20.0}, k=2).collect()
    assert [r.id for r in res] == [2, 1]


def test_sinks(spark, tmp_path):
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, name string")
    jp, cp = str(tmp_path / "o.json"), str(tmp_path / "o.csv")
    write_json(df, jp)
    write_csv(df, cp, sep="|")
    import json

    assert json.load(open(jp)) == [{"id": 1, "name": "a"}, {"id": 2, "name": "b"}]
    assert open(cp).read().splitlines() == ["id|name", "1|a", "2|b"]
    tbl = format_table(df)
    assert "| id " in tbl and tbl.count("+") >= 8


def test_pivot_pruned_knn_equals_unpruned(spark, sf_dir):
    """The triangle-inequality prune is an optimization, never a semantic:
    pruned and unpruned k-NN must return identical rows."""
    emb = load_table(spark, sf_dir, "embeddings")
    qvec = [float(x) for x in emb.where(F.col("vec_id") == 5).first().embedding]
    pivots = select_pivots_farthest_point(emb, "vec_id", "embedding", n_pivots=4)
    plain = [(r.vec_id, round(r.dist, 9)) for r in
             pivot_knn(emb, "vec_id", "embedding", qvec, 8).collect()]
    pruned = [(r.vec_id, round(r.dist, 9)) for r in
              pivot_knn(emb, "vec_id", "embedding", qvec, 8, pivots=pivots).collect()]
    assert plain == pruned
    assert plain[0][0] == 5  # query point is its own nearest neighbour


def test_farthest_point_pivots_spread(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    pivots = select_pivots_farthest_point(emb, "vec_id", "embedding", n_pivots=4)
    assert len(pivots) == 4 and len({p[0] for p in pivots}) == 4


def test_allocate_pivots_and_epsilon():
    tight = [[0.0], [0.001], [0.002], [0.003]]
    spread = [[0.0], [5.0], [11.0], [20.0]]
    alloc = allocate_pivots({"tight": tight, "spread": spread}, total_pivots=6)
    assert sum(alloc.values()) == 6
    assert alloc["spread"] > alloc["tight"]  # spread attr earns more pivots
    assert epsilon_scale(tight) == pytest.approx(0.001, rel=1e-6)
    assert epsilon_scale([[1.0]]) == 1.0  # degenerate sample


def test_run_with_timeout(spark):
    from simsearch_spark.session import run_with_timeout

    # generous budget: completes
    out = run_with_timeout(spark, lambda: spark.range(10).count(), timeout_s=60)
    assert out == 10
    # tiny budget on a big job: cancelled
    with pytest.raises(Exception):
        run_with_timeout(
            spark,
            lambda: spark.range(2_000_000_000).selectExpr("sum(id * id)").collect(),
            timeout_s=0.4,
        )
