"""Independent answers for the benchmark's output checks.

Each check recomputes an operation's answer from the generated arrays with
numpy, or for a declared registry query runs that query's own DuckDB
oracle SQL over the same parquet — never through Spark or the library —
and returns ``None`` when the program's rows agree, else a one-line reason.  Scores the program rounds to
6 digits are compared with a 2e-6 tolerance, and a top-k list is accepted
when every returned score is right and no row scoring clearly above the
lowest returned score is missing (ties at the cut may resolve either way).
"""

from __future__ import annotations

import math
from datetime import date

import duckdb
import numpy as np
import pyarrow as pa

DECAY = 0.05  # functions.measures.DECAY_FACTOR
BM25_K1, BM25_B = 1.2, 0.75  # operators.bm25
TOL = 2e-6


def _topk_ok(scores: np.ndarray, ids: list[int], got: list[float], k: int, desc: bool = True) -> str | None:
    """``ids``/``got``: the returned rows; ``scores``: the oracle's score
    of every row, indexed by id."""
    want_n = min(k, len(scores))
    if len(ids) != want_n or len(set(ids)) != len(ids):
        return f"{len(ids)} rows ({len(set(ids))} distinct), want {want_n}"
    ref = scores[np.asarray(ids, dtype=np.int64)]
    bad = np.abs(ref - np.asarray(got, dtype=np.float64)) > TOL
    if bad.any():
        i = int(np.argmax(bad))
        return f"id {ids[i]} score {got[i]} != {ref[i]:.7f}"
    s = scores if desc else -scores
    cut = float(np.min(ref if desc else -ref))
    missing = np.setdiff1d(np.nonzero(s > cut + TOL)[0], ids)
    if missing.size:
        return f"id {int(missing[0])} (score {scores[missing[0]]:.7f}) missing from top-{k}"
    return None


def _grams(s: str, q: int = 3) -> frozenset:
    s = s.lower()
    return frozenset(g for g in (s[i:i + q] for i in range(max(len(s) - q + 1, 1))) if g)


class SearchOracle:
    """The decayed weighted score of ``operators.rank_agg.multi_facet_topk``
    recomputed over the generated tables."""

    def __init__(self, tables: dict[str, pa.Table]):
        self.tables = tables
        self._gram_cache: dict[tuple[str, str], list[frozenset]] = {}

    def _col(self, table: str, col: str) -> np.ndarray:
        c = self.tables[table].column(col)
        if pa.types.is_timestamp(c.type):
            return c.cast(pa.int64()).to_numpy() / 1e6
        return c.to_numpy()

    def _grams_of(self, table: str, col: str) -> list[frozenset]:
        key = (table, col)
        if key not in self._gram_cache:
            memo: dict[str, frozenset] = {}
            self._gram_cache[key] = [
                memo[v] if v in memo else memo.setdefault(v, _grams(v))
                for v in self.tables[table].column(col).to_pylist()
            ]
        return self._gram_cache[key]

    def distance(self, table: str, kind: str, cols: list[str], q) -> np.ndarray:
        if kind == "numerical":
            return np.abs(self._col(table, cols[0]) - float(q))
        if kind == "temporal":
            day = date.fromisoformat(str(q)[:10])
            epoch = (day - date(1970, 1, 1)).days * 86_400.0
            return np.abs(self._col(table, cols[0]) - epoch)
        if kind == "spatial":
            dx = self._col(table, cols[0]) - float(q[0])
            dy = self._col(table, cols[1]) - float(q[1])
            return np.sqrt(dx * dx + dy * dy)
        if kind == "textual":
            qg = _grams(str(q))
            out = np.empty(self.tables[table].num_rows)
            memo: dict[frozenset, float] = {}
            for i, g in enumerate(self._grams_of(table, cols[0])):
                d = memo.get(g)
                if d is None:
                    union = len(g | qg)
                    d = memo[g] = 0.0 if union == 0 else 1.0 - len(g & qg) / union
                out[i] = d
            return out
        raise ValueError(kind)

    def check(self, table: str, facets: list[tuple], k: int, weights: dict | None, rows: list[tuple]) -> str | None:
        """``facets``: (name, kind, cols, query); ``rows``: (combo, id, score)."""
        sims = {}
        for name, kind, cols, q in facets:
            d = self.distance(table, kind, cols, q)
            scale = float(np.partition(d, k - 1)[k - 1]) if len(d) >= k else float(d.max())
            s = np.exp((-DECAY * d) / (1.0 if scale <= 0 else scale))
            if kind == "textual":
                s = np.where(d >= 1.0, 0.0, s)
            sims[name] = s
        n = len(next(iter(sims.values())))
        if weights:
            n_combos = len(next(iter(weights.values())))
            combos = [{f: weights[f][j] for f in sims} for j in range(n_combos)]
        else:
            p = max(0.0, min(1.0, 1.0 - k / n))
            combos = [{f: float(np.quantile(s, p)) for f, s in sims.items()}]
        for j, ws in enumerate(combos):
            total = sum(ws.values())
            score = sum(sims[f] * ws[f] for f in sims) / total if total else np.zeros(n)
            mine = [(i, sc) for c, i, sc in rows if c == j]
            err = _topk_ok(score, [i for i, _ in mine], [sc for _, sc in mine], k)
            if err:
                return f"combo {j}: {err}"
        if {c for c, _, _ in rows} - set(range(len(combos))):
            return "rows for an unknown combination"
        return None


class ServeOracle:
    """Answers for the mounted read paths, over the original corpus and the
    vector store as grown by the run's appends."""

    def __init__(self, docs: pa.Table, emb: pa.Table):
        self.base_vecs = np.stack(emb.column("embedding").to_numpy(zero_copy_only=False)).astype(np.float64)
        self.vecs = {int(i): v for i, v in zip(emb.column("vec_id").to_pylist(), self.base_vecs)}
        toks = [t.lower().split() for t in docs.column("text").to_pylist()]
        self.doc_toks = toks
        self.dl = np.array([len(t) for t in toks], dtype=np.float64)
        self.avgdl = float(self.dl.mean())

    def add_vectors(self, ids: list[int], vecs: list[list[float]]) -> None:
        for i, v in zip(ids, vecs):
            self.vecs[int(i)] = np.asarray(v, dtype=np.float32).astype(np.float64)

    def check_ivfpq(self, qid: int, k: int, rows: list[tuple]) -> str | None:
        """``rows``: (id, cos_sim) in returned order."""
        if not 1 <= len(rows) <= k:
            return f"{len(rows)} rows for k={k}"
        q = self.vecs[qid]
        prev = math.inf
        for i, cs in rows:
            v = self.vecs.get(int(i))
            if v is None:
                return f"id {i} is not in the vector store"
            ref = float(v @ q / (np.linalg.norm(v) * np.linalg.norm(q)))
            if abs(ref - cs) > TOL or cs > prev + TOL:
                return f"id {i} cos {cs} != {ref:.7f} or out of order"
            prev = cs
        return None

    def check_pivot(self, qid: int, k: int, rows: list[tuple]) -> str | None:
        """Exact euclidean k-NN over the mounted (original) vectors;
        ``rows``: (id, dist)."""
        d = np.sqrt(((self.base_vecs - self.vecs[qid]) ** 2).sum(axis=1))
        return _topk_ok(d, [int(i) for i, _ in rows], [x for _, x in rows], k, desc=False)

    def check_bm25(self, tokens: list[str], k: int, rows: list[tuple]) -> str | None:
        """BM25 with the mount-time corpus statistics; ``rows``: (id, score)."""
        n = len(self.doc_toks)
        score = np.zeros(n)
        norm = BM25_K1 * ((1.0 - BM25_B) + BM25_B * self.dl / self.avgdl)
        for t in sorted(set(tokens)):
            tf = np.array([ts.count(t) for ts in self.doc_toks], dtype=np.float64)
            df_t = int((tf > 0).sum())
            idf = math.log((n - df_t + 0.5) / (df_t + 0.5) + 1.0)
            score = score + idf * (tf * (BM25_K1 + 1.0)) / (tf + norm)
        return _topk_ok(score, [int(i) for i, _ in rows], [s for _, s in rows], k)


def check_pairs(planted: list[list[int]], rows: list[tuple]) -> str | None:
    """Every planted (copy, source) pair among the returned (id_a, id_b)."""
    found = {frozenset((int(a), int(b))) for a, b in rows}
    missing = [p for p in planted if frozenset(p) not in found]
    if missing:
        return f"{len(missing)}/{len(planted)} planted duplicates not found, e.g. {missing[0]}"
    return None


def _norm_cell(v):
    if isinstance(v, float):
        return "nan" if math.isnan(v) else round(v, 6)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm_cell(x) for x in v)
    return v


def _norm_rows(cols: list[str], rows: list) -> tuple[list[str], list[tuple]]:
    """Columns by name and rows in a fixed order, floats to 6 digits — the
    order-insensitive comparison the declared queries are verified with."""
    order = sorted(range(len(cols)), key=lambda i: cols[i].lower())
    out = [tuple(_norm_cell(r[i]) for i in order) for r in rows]
    return sorted(c.lower() for c in cols), sorted(out, key=repr)


class DeclaredOracle:
    """A declared query's own oracle SQL, run by DuckDB over the parquet
    files the program read; ``views``: table name -> parquet path or glob."""

    def __init__(self, views: dict[str, str]):
        self.con = duckdb.connect()
        for name, path in views.items():
            self.con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
        self._want: dict[str, tuple] = {}

    def check(self, name: str, sql: str, cols: list[str], rows: list[tuple]) -> str | None:
        if name not in self._want:
            rel = self.con.sql(sql)
            self._want[name] = _norm_rows(rel.columns, rel.fetchall())
        want_cols, want = self._want[name]
        got_cols, got = _norm_rows(cols, rows)
        if got_cols != want_cols:
            return f"columns {got_cols}, want {want_cols}"
        if len(got) != len(want):
            return f"{len(got)} rows, want {len(want)}"
        bad = next(((a, b) for a, b in zip(got, want) if a != b), None)
        return None if bad is None else f"row {bad[0]} != {bad[1]}"

    def close(self) -> None:
        self.con.close()
