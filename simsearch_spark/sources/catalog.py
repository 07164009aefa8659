"""Catalog management — the Spark analog of the reference's mount lifecycle
(SURVEY.md §3.3: ``Coordinator.mount``, REST ``/index /append /delete
/catalog /unmount`` — ``service/SimSearchController.java:315-496``).

A `Catalog` instance ≙ one Coordinator instance (the reference issues an API
key per instance; here the caller owns the object).  Mounting registers a
DataFrame per attribute with its operation (= facet kind), so searches bind
facets by attribute name exactly as the reference resolves
``DatasetIdentifier``s.

Sources supported (reference parity: ``Coordinator.java:287-360``):
- parquet / csv files (S1 — csv honors custom separator/header/max_lines,
  ``manager/ingested/DataIngestor.java:69-147``)
- an existing DataFrame (programmatic mount)
- jdbc (S2 — passthrough to ``spark.read.jdbc``; Catalyst pushes filters;
  requires a reachable database, so tests gate on availability)
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from simsearch_spark.plans.spec import Facet, SearchRequest

OPERATION_TO_KIND = {
    "numerical_topk": "numerical",
    "temporal_topk": "temporal",
    "spatial_knn": "spatial",
    "categorical_topk": "categorical",
    "textual_topk": "textual",
    "pivot_based": "vector",
    "vector_knn": "vector",
}


@dataclass
class MountedAttribute:
    name: str
    operation: str
    kind: str
    table: str
    key_column: str
    value_columns: list[str]


class Catalog:
    """Mount/search/unmount lifecycle over named attributes."""

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self._tables: dict[str, DataFrame] = {}
        self._attrs: dict[str, MountedAttribute] = {}

    # -- sources ------------------------------------------------------------

    def register_source(
        self,
        name: str,
        *,
        df: DataFrame | None = None,
        path: str | None = None,
        fmt: str = "parquet",
        separator: str = ",",
        header: bool = True,
        max_lines: int | None = None,
        jdbc_url: str | None = None,
        jdbc_table: str | None = None,
        jdbc_properties: dict[str, str] | None = None,
    ) -> DataFrame:
        """Register a table under `name` from a DataFrame, file, or JDBC
        source.  CSV honors the reference's column separator / header /
        max_lines mount options (MountSpecs)."""
        if df is None and path is not None:
            if fmt == "csv":
                df = self.spark.read.csv(path, sep=separator, header=header, inferSchema=True)
            else:
                df = self.spark.read.format(fmt).load(path)
        elif df is None and jdbc_url is not None:
            df = self.spark.read.jdbc(jdbc_url, jdbc_table, properties=jdbc_properties or {})
        if df is None:
            raise ValueError("register_source needs df=, path=, or jdbc_url=")
        if max_lines is not None:
            df = df.limit(int(max_lines))
        self._tables[name] = df
        df.createOrReplaceTempView(name)
        return df

    # -- mount lifecycle ----------------------------------------------------

    def mount(
        self,
        attribute: str,
        table: str,
        key_column: str,
        value_columns: list[str] | str,
        operation: str,
    ) -> MountedAttribute:
        if table not in self._tables:
            raise KeyError(f"unknown source table {table!r}; register_source first")
        if operation not in OPERATION_TO_KIND:
            raise ValueError(f"unknown operation {operation!r}; one of {sorted(OPERATION_TO_KIND)}")
        cols = [value_columns] if isinstance(value_columns, str) else list(value_columns)
        schema = dict(self._tables[table].dtypes)
        for c in [key_column, *cols]:
            if c not in schema:
                raise KeyError(f"column {c!r} not in table {table!r}")
        ma = MountedAttribute(
            name=attribute,
            operation=operation,
            kind=OPERATION_TO_KIND[operation],
            table=table,
            key_column=key_column,
            value_columns=cols,
        )
        self._attrs[attribute] = ma
        return ma

    def append(self, table: str, more: DataFrame) -> None:
        """REST /append analog: extend a mounted source by union."""
        self._tables[table] = self._tables[table].unionByName(more)
        self._tables[table].createOrReplaceTempView(table)

    def unmount(self, attribute: str) -> None:
        self._attrs.pop(attribute, None)

    def delete(self, table: str) -> None:
        """REST /delete analog: drop the source and all its attributes."""
        self._tables.pop(table, None)
        for a in [a for a, m in self._attrs.items() if m.table == table]:
            del self._attrs[a]

    def catalog(self) -> list[dict]:
        """REST /catalog (and SQL terminal ``\\d``) analog: the queryable
        attributes with operation + type."""
        return [
            {
                "attribute": m.name,
                "operation": m.operation,
                "kind": m.kind,
                "table": m.table,
                "valueColumns": m.value_columns,
            }
            for m in self._attrs.values()
        ]

    # -- search -------------------------------------------------------------

    def search(
        self,
        conditions: dict[str, Any],
        k: int = 50,
        weights: dict[str, list[float]] | None = None,
        algorithm: str = "threshold",
        extra_columns: list[str] | None = None,
    ) -> DataFrame:
        """JSON-request search (§3.1): one condition per mounted attribute.

        All facets must currently target one source table (the fixture /
        common case); multi-source requests route through
        operators.rank_agg.multi_source_topk.
        """
        from simsearch_spark.operators.rank_agg import multi_facet_topk

        facets, tables, key_cols = [], set(), set()
        for attr, value in conditions.items():
            if attr not in self._attrs:
                raise KeyError(f"attribute {attr!r} not mounted")
            m = self._attrs[attr]
            tables.add(m.table)
            key_cols.add(m.key_column)
            facets.append(
                Facet(
                    name=attr,
                    kind=m.kind,
                    value_cols=m.value_columns,
                    query_value=value,
                    weights=(weights or {}).get(attr),
                )
            )
        if len(tables) != 1:
            raise NotImplementedError("multi-source search: use multi_source_topk")
        table, key_column = tables.pop(), key_cols.pop()
        req = SearchRequest(
            table=table, key_column=key_column, facets=facets, k=k,
            algorithm=algorithm, extra_columns=extra_columns or [],
        )
        return multi_facet_topk(self._tables[table], req)
