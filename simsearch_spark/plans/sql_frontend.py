"""Conjunctive SQL-like front-end (SURVEY.md §2.8).

Reference grammar (``README.md:138-161``, parsed by rewriting ``~=``→LIKE,
``WEIGHTS``→GROUP BY, ``ALGORITHM``→HAVING then JSqlParser visitor extraction
— ``engine/SqlParser.java:50-197``):

    SELECT *, extra... [FROM table] WHERE a ~= 'v' [AND ...]
        [WEIGHTS w1, w2, ...] [ALGORITHM threshold|no_random_access|
        partial_random_access|pivot_based] [LIMIT k]

This parser goes straight to the `SearchRequest` IR — no rewrite tricks
needed.  Defaults mirror the reference: k=50 when LIMIT omitted
(``SqlParser.java:83-86``); ordinary predicates (P4: =, <>, <, >, <=, >=,
BETWEEN, IN, LIKE, OR, NOT) pass through as pre-filters; extra SELECT
columns become R1 extra columns of the result; expressions in SELECT are
rejected (``README.md:151``), as are subqueries (``README.md:155``).

Facet kinds are bound from the table schema (the reference fixes them at
mount time — ``Coordinator.java:535-578``): numeric→numerical,
timestamp→temporal, string→textual, array<string>→categorical,
array<numeric>→vector; a value literal ``POINT(lon lat)`` forces spatial
over a (lon, lat) column pair.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from simsearch_spark.plans.spec import Facet, SearchRequest

ALGORITHMS = ("threshold", "no_random_access", "partial_random_access", "pivot_based")

_SQL_RE = re.compile(
    r"^\s*SELECT\s+(?P<select>.*?)\s+(?:FROM\s+(?P<table>\w+)\s+)?WHERE\s+(?P<where>.*?)"
    r"(?:\s+WEIGHTS\s+(?P<weights>[\d.,\s;]+?))?"
    r"(?:\s+ALGORITHM\s+(?P<algorithm>\w+))?"
    r"(?:\s+LIMIT\s+(?P<limit>\d+))?\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)

_WORD_RE = re.compile(r"\w+")
_SIM_COND_RE = re.compile(r"^\s*(?P<col>\w+)\s*~=\s*(?P<val>.+?)\s*$", re.DOTALL)
#: tolerant of the stray trailing ')' the reference corpus contains
_POINT_RE = re.compile(r"^POINT\s*\(\s*(-?[\d.]+)\s+(-?[\d.]+)\s*\)+$", re.IGNORECASE)


class SqlParseError(ValueError):
    pass


def _is_numeric_dtype(dt: str) -> bool:
    # decimal renders as "decimal(p,s)" — match by prefix
    return dt in ("double", "float", "int", "bigint", "smallint", "tinyint") or dt.startswith(
        "decimal"
    )


@dataclass
class ParsedQuery:
    request: SearchRequest
    filters: list[str] = field(default_factory=list)


def _split_top_level_and(where: str) -> list[str]:
    """Split on the ANDs outside quotes and parentheses (the reference
    treats the similarity conjunction the same way, SqlParser.java:104-161).
    A top-level BETWEEN claims the next top-level AND as its bound, so
    ``x [NOT] BETWEEN lo AND hi`` stays one predicate whatever ``lo`` is
    (typed literal, quoted string with spaces)."""
    parts, start, depth, between, i = [], 0, 0, 0, 0
    while i < len(where):
        ch = where[i]
        if ch in "'\"`":
            end = where.find(ch, i + 1)
            i = len(where) if end < 0 else end + 1
            continue
        # at depth 0 whole words are consumed, so a match starts a word
        word = _WORD_RE.match(where, i) if depth == 0 else None
        if word:
            keyword = word.group().upper()
            if keyword == "BETWEEN":
                between += 1
            elif keyword == "AND" and between:
                between -= 1
            elif keyword == "AND":
                parts.append(where[start:i])
                start = word.end()
            i = word.end()
            continue
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        i += 1
    parts.append(where[start:])
    return [p.strip() for p in parts if p.strip()]


def _parse_value(raw: str):
    raw = raw.strip()
    m = _POINT_RE.match(raw)
    if m:
        return ("point", (float(m.group(1)), float(m.group(2))))
    if raw.startswith("'") and raw.endswith("'"):
        inner = raw[1:-1]
        # the reference quotes every literal, WKT points included
        pm = _POINT_RE.match(inner)
        if pm:
            return ("point", (float(pm.group(1)), float(pm.group(2))))
        return ("str", inner)
    if raw.startswith("[") and raw.endswith("]"):
        items = [x.strip().strip("'\"") for x in raw[1:-1].split(",") if x.strip()]
        return ("list", items)
    try:
        return ("num", float(raw))
    except ValueError:
        if raw.lower() == "max":
            return ("str", "max")
        raise SqlParseError(f"cannot parse query value {raw!r}") from None


def _bind_kind(
    df: DataFrame, col: str, val_kind: str, value, alias_columns: dict[str, list[str]] | None = None
) -> tuple[str, list[str], object]:
    dtypes = dict(df.dtypes)
    aliases = alias_columns or {}
    if val_kind == "point":
        # spatial: the reference mounts lon/lat pairs as a virtual composite
        # with an alias_column (DataIngestor.java:119-133) — resolve the
        # alias if declared, else `col` is lon and lat is the next column
        if col in aliases:
            return "spatial", list(aliases[col]), value
        if col not in dtypes:
            raise SqlParseError(f"unknown column {col!r}")
        cols = list(dtypes)
        idx = cols.index(col)
        if (
            idx + 1 >= len(cols)
            or not _is_numeric_dtype(dtypes[col])
            or not _is_numeric_dtype(dtypes[cols[idx + 1]])
        ):
            raise SqlParseError(
                f"cannot infer a (lon, lat) pair for POINT predicate on {col!r}: "
                f"expected a numeric column immediately after a numeric {col!r}; "
                "declare the pair explicitly via alias_columns={'<alias>': ['lon_col', 'lat_col']}"
            )
        return "spatial", [col, cols[idx + 1]], value
    if col in aliases:
        return _bind_kind(df, aliases[col][0], val_kind, value)
    if col not in dtypes:
        raise SqlParseError(f"unknown column {col!r}")
    dt = dtypes[col]
    if _is_numeric_dtype(dt):
        qv = value if val_kind == "num" or value == "max" else float(value)
        return "numerical", [col], qv
    if dt in ("timestamp", "timestamp_ntz", "date"):
        return "temporal", [col], str(value)
    if dt == "array<string>":
        # comma-joined quoted strings are the corpus form ('a, b'); strip
        items = value if val_kind == "list" else [t.strip() for t in str(value).split(",") if t.strip()]
        return "categorical", [col], items
    if dt.startswith("array<"):
        return "vector", [col], [float(x) for x in value]
    if dt == "string":
        return "textual", [col], str(value)
    raise SqlParseError(f"unsupported column type {dt} for similarity predicate on {col!r}")


def parse_search_sql(
    df: DataFrame,
    table: str,
    sql: str,
    key_column: str,
    alias_columns: dict[str, list[str]] | None = None,
) -> ParsedQuery:
    m = _SQL_RE.match(sql)
    if not m:
        raise SqlParseError("expected SELECT ... [FROM t] WHERE ... [WEIGHTS ...] [ALGORITHM ...] [LIMIT k]")
    # FROM may be omitted: the reference targets the running instance (Q3)
    if m.group("table") is not None and m.group("table").lower() != table.lower():
        raise SqlParseError(f"query targets {m.group('table')!r}, bound table is {table!r}")

    select = [c.strip() for c in m.group("select").split(",")]
    extra_cols = []
    for c in select:
        if c == "*":
            continue
        if not re.fullmatch(r"\w+", c):
            raise SqlParseError(f"expressions in SELECT are not supported: {c!r}")
        extra_cols.append(c)

    facets, filters = [], []
    for cond in _split_top_level_and(m.group("where")):
        sim = _SIM_COND_RE.match(cond)
        if sim:
            vk, value = _parse_value(sim.group("val"))
            kind, cols, qv = _bind_kind(df, sim.group("col"), vk, value, alias_columns)
            facets.append(Facet(name=sim.group("col"), kind=kind, value_cols=cols, query_value=qv))
        else:
            if re.search(r"\(\s*SELECT\b", cond, flags=re.IGNORECASE):
                raise SqlParseError("subqueries are not supported")
            filters.append(cond)
    if not facets:
        raise SqlParseError("no similarity condition (~=) in WHERE clause")

    if m.group("weights"):
        combos = [w.strip() for w in m.group("weights").split(";")]
        per_facet: list[list[float]] = [[] for _ in facets]
        for combo in combos:
            ws = [float(x) for x in combo.split(",") if x.strip()]
            if len(ws) != len(facets):
                raise SqlParseError(
                    f"WEIGHTS combo has {len(ws)} values for {len(facets)} similarity conditions"
                )
            for i, w in enumerate(ws):
                per_facet[i].append(w)
        for f, ws in zip(facets, per_facet):
            f.weights = ws

    algorithm = (m.group("algorithm") or "threshold").lower()
    if algorithm not in ALGORITHMS:
        raise SqlParseError(f"unknown ALGORITHM {algorithm!r}; one of {ALGORITHMS}")

    k = int(m.group("limit")) if m.group("limit") else 50
    # P2: pre-filters apply to every facet before scoring
    for f in facets:
        f.filter = " AND ".join(filters) if filters else None
    try:
        req = SearchRequest(
            table=table, key_column=key_column, facets=facets, k=k,
            algorithm=algorithm, extra_columns=extra_cols,
        )
    except ValueError as e:
        raise SqlParseError(str(e)) from e
    return ParsedQuery(request=req, filters=filters)


def execute_search_sql(
    spark: SparkSession, df: DataFrame, table: str, sql: str, key_column: str
) -> DataFrame:
    """Parse + run: the reference's SQL terminal path (Runner.java:136-174 →
    SearchHandler), collapsed to parse → multi_facet_topk, whose probed
    rows or final projection carry the extra SELECT columns (R1)."""
    from simsearch_spark.operators.rank_agg import multi_facet_topk

    return multi_facet_topk(df, parse_search_sql(df, table, sql, key_column).request)
