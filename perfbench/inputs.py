"""Seeded inputs for the benchmark workloads.

Everything a workload feeds the program comes from here and is a pure
function of the seed: the fixture tables (same schemas and sizes as the
sf0.1 fixtures the declared queries are written against, plus the columns a
search needs) and the request / operation streams.  The program receives
only these generated inputs; the benchmark's own checks recompute answers
from the same arrays.

Sizes (rows): customer 15k, part 20k, orders 150k, lineitem 600k,
documents 5k, embeddings 2k, events 100k — the sf0.1 fixture sizes.
"""

from __future__ import annotations

import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROWS = {
    "customer": 15_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "documents": 5_000,
    "embeddings": 2_000,
    "events": 100_000,
}

#: the documents fixture's vocabulary (every word of the sf0.1 corpus)
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("large", "hot", "blue", "old", "red", "small", "green", "cold")
PART_NOUN = ("ring", "bolt", "plate", "nut", "gear", "pipe", "valve", "screw")
PART_TYPES = ("LARGE", "ECONOMY", "SMALL", "STANDARD", "MEDIUM", "PROMO")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("view", "click", "purchase", "signup", "error")
EMB_DIM = 64
EMB_CELLS = 10

_DAY_US = 86_400 * 1_000_000
_EPOCH_1995 = 9131  # days from 1970-01-01 to 1995-01-01


def _days_us(rng: np.random.Generator, n: int, first_day: int, n_days: int) -> np.ndarray:
    return (first_day + rng.integers(0, n_days, n)).astype(np.int64) * _DAY_US


def _ts(values_us: np.ndarray) -> pa.Array:
    return pa.array(values_us, type=pa.timestamp("us"))


def customer(rng: np.random.Generator) -> pa.Table:
    """TPC-H customer plus a clustered (c_lon, c_lat) location pair — the
    geo attribute a spatial facet searches."""
    n = ROWS["customer"]
    centers = rng.uniform([-150, -60], [150, 60], size=(12, 2))
    loc = centers[rng.integers(0, 12, n)] + rng.normal(0, 8, size=(n, 2))
    return pa.table({
        "c_custkey": pa.array(np.arange(n, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n).astype(np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n), 2)),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, n)]),
        "c_lon": pa.array(np.round(np.clip(loc[:, 0], -180, 180), 4)),
        "c_lat": pa.array(np.round(np.clip(loc[:, 1], -90, 90), 4)),
    })


def part(rng: np.random.Generator) -> pa.Table:
    n = ROWS["part"]
    adj = np.array(PART_ADJ)[rng.integers(0, len(PART_ADJ), n)]
    noun = np.array(PART_NOUN)[rng.integers(0, len(PART_NOUN), n)]
    return pa.table({
        "p_partkey": pa.array(np.arange(n, dtype=np.int64)),
        "p_name": pa.array([f"{a} {b}" for a, b in zip(adj, noun)]),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n)]),
        "p_type": pa.array(np.array(PART_TYPES)[rng.integers(0, 6, n)]),
        "p_size": pa.array(rng.integers(1, 51, n).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + rng.uniform(0, 100, n), 2)),
    })


def orders(rng: np.random.Generator) -> pa.Table:
    n = ROWS["orders"]
    return pa.table({
        "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, ROWS["customer"], n).astype(np.int64)),
        "o_orderstatus": pa.array(np.array(["O", "F", "P"])[rng.integers(0, 3, n)]),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500_000, n), 2)),
        "o_orderdate": _ts(_days_us(rng, n, _EPOCH_1995, 2404)),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, n)]),
    })


def lineitem(rng: np.random.Generator) -> pa.Table:
    """TPC-H lineitem plus ``l_id``, a unique row key (a search ranks rows
    by one key column; (orderkey, linenumber) is composite)."""
    n = ROWS["lineitem"]
    return pa.table({
        "l_id": pa.array(np.arange(n, dtype=np.int64)),
        "l_orderkey": pa.array(rng.integers(0, ROWS["orders"], n).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, ROWS["part"], n).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
        "l_extendedprice": pa.array(np.round(rng.uniform(900, 105_000, n), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n)]),
        "l_shipdate": _ts(_days_us(rng, n, _EPOCH_1995 + 1, 2498)),
    })


def random_texts(rng: np.random.Generator, n: int) -> list[str]:
    """``n`` documents of 7-95 words drawn from the corpus vocabulary."""
    lens = rng.integers(7, 96, n)
    words = np.array(VOCAB)[rng.integers(0, len(VOCAB), int(lens.sum()))]
    out, at = [], 0
    for ln in lens:
        out.append(" ".join(words[at:at + ln]))
        at += ln
    return out


def documents(rng: np.random.Generator) -> pa.Table:
    """The documents fixture: 2 % of rows are near-copies (one appended
    word) of an earlier row, as in the sf0.1 corpus."""
    n = ROWS["documents"]
    texts = random_texts(rng, n)
    for i in rng.choice(np.arange(100, n), size=n // 50, replace=False):
        texts[i] = texts[int(rng.integers(0, i))] + " dup"
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, size=n, p=LANG_P)),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 20, n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def events(rng: np.random.Generator) -> pa.Table:
    """The events fixture: 100k time-ordered events of 1.5k users over
    January 2024, five event types."""
    n = ROWS["events"]
    first_us = 19723 * _DAY_US  # 2024-01-01
    ts = first_us + np.cumsum(rng.integers(1, 2 * 30 * _DAY_US // n, n))
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": _ts(ts.astype(np.int64)),
        "user_id": pa.array(rng.integers(0, 1500, n).astype(np.int64)),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, len(EVENT_TYPES), n)]),
        # full-precision values: with cents, an hour's average often lands
        # exactly on a rounding tie, which Spark and DuckDB break differently
        "value": pa.array(rng.exponential(40.0, n)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def embedding_centers(rng: np.random.Generator) -> np.ndarray:
    c = rng.normal(size=(EMB_CELLS, EMB_DIM))
    return c / np.linalg.norm(c, axis=1, keepdims=True)


def unit_vectors(rng: np.random.Generator, centers: np.ndarray, n: int) -> tuple[np.ndarray, np.ndarray]:
    """``n`` unit float32 vectors clustered around ``centers``, with labels."""
    labels = rng.integers(0, len(centers), n).astype(np.int32)
    v = centers[labels] + rng.normal(0, 0.12, size=(n, EMB_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return v, labels


def embeddings_table(ids: np.ndarray, vecs: np.ndarray, labels: np.ndarray) -> pa.Table:
    flat = pa.array(vecs.reshape(-1), type=pa.float32())
    return pa.table({
        "vec_id": pa.array(ids.astype(np.int64)),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(0, vecs.size + 1, EMB_DIM, dtype=np.int32)), flat
        ),
        "label": pa.array(labels),
    })


def write_table(table: pa.Table, data_dir: str, name: str, part_no: int = 0) -> str:
    """Write ``table`` as one file of the ``<name>.parquet`` directory — the
    layout ``registry.load_table`` reads, and one a writer can add files
    to."""
    d = os.path.join(data_dir, f"{name}.parquet")
    os.makedirs(d, exist_ok=True)
    path = os.path.join(d, f"part-{part_no:05d}.parquet")
    pq.write_table(table, path)
    return path


def write_file(table: pa.Table, data_dir: str, name: str) -> str:
    """Write ``table`` as the single file ``<name>.parquet`` — the layout
    the declared streaming replays copy their input from."""
    os.makedirs(data_dir, exist_ok=True)
    path = os.path.join(data_dir, f"{name}.parquet")
    pq.write_table(table, path)
    return path


# ---------------------------------------------------------------------------
# search_interactive
# ---------------------------------------------------------------------------

#: one round of requests, issued in this order so every run sees the same
#: class mix and its latencies do not depend on the seed
SEARCH_ROUND = ("single",) * 4 + ("multi", "auto_weight", "combos", "sql", "lineitem")
#: the four single-facet requests of a round, one per scalar facet kind
SINGLE_KINDS = ("numerical", "temporal", "spatial", "textual")


def search_tables(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng([seed, 1])
    return {
        "customer": customer(rng),
        "part": part(rng),
        "orders": orders(rng),
        "lineitem": lineitem(rng),
    }


def _iso_day(ts) -> str:
    """A timestamp column value (naive, read as UTC) as its ISO day."""
    return ts.date().isoformat()


def _weights(rng: np.random.Generator, n: int) -> list[float]:
    return [float(w) for w in rng.integers(1, 10, n) / 10.0]


def search_requests(seed: int, tables: dict[str, pa.Table], n_rounds: int) -> list[dict]:
    """``n_rounds`` × ``SEARCH_ROUND``.  Query values are taken from rows
    of the tables; k alternates 10 / 50 by position (lineitem: 10) so the
    k mix is the same on every seed."""
    rng = np.random.default_rng([seed, 2])
    cust, prt, ords, li = (tables[t] for t in ("customer", "part", "orders", "lineitem"))

    def row(t: pa.Table) -> dict:
        return t.slice(int(rng.integers(0, t.num_rows)), 1).to_pylist()[0]

    out = []
    for r in range(n_rounds):
        for c, cls in enumerate(SEARCH_ROUND):
            # the 600k-row lineitem class always asks for 10
            k = 10 if (r + c) % 2 == 0 or cls == "lineitem" else 50
            req: dict = {"cls": cls, "k": k, "weights": None, "sql": None}
            if cls == "single":
                kind = SINGLE_KINDS[c]  # the round opens with its four singles
                if kind == "numerical":
                    req.update(table="customer", conditions={"acctbal": row(cust)["c_acctbal"]})
                elif kind == "temporal":
                    o = row(ords)
                    req.update(table="orders", conditions={"odate": _iso_day(o["o_orderdate"])})
                elif kind == "spatial":
                    x = row(cust)
                    req.update(table="customer", conditions={"cloc": [x["c_lon"], x["c_lat"]]})
                else:
                    req.update(table="part", conditions={"pname": row(prt)["p_name"]})
            elif cls == "multi":
                x = row(cust)
                cond = {"acctbal": x["c_acctbal"], "cname": row(cust)["c_name"]}
                if r % 2:
                    cond["cloc"] = [x["c_lon"], x["c_lat"]]
                req.update(
                    table="customer", conditions=cond,
                    weights={a: [w] for a, w in zip(cond, _weights(rng, len(cond)))},
                )
            elif cls == "auto_weight":
                o = row(ords)
                req.update(table="orders", conditions={
                    "odate": _iso_day(o["o_orderdate"]),
                    "oprice": row(ords)["o_totalprice"],
                })
            elif cls == "combos":
                x = row(cust)
                n_combos = 2 + r % 2
                req.update(
                    table="customer",
                    conditions={"acctbal": x["c_acctbal"], "cloc": [x["c_lon"], x["c_lat"]]},
                    weights={"acctbal": _weights(rng, n_combos), "cloc": _weights(rng, n_combos)},
                )
            elif cls == "sql":
                # the program gets only the SQL text; conditions and weights
                # restate it for the check
                price, name = row(prt)["p_retailprice"], row(prt)["p_name"]
                w = _weights(rng, 1)[0]
                w2 = round(1 - w, 1)
                req.update(
                    table="part", conditions={"p_retailprice": price, "p_name": name},
                    weights={"p_retailprice": [w], "p_name": [w2]},
                    sql=(f"SELECT p_brand, p_size FROM part WHERE p_retailprice ~= {price} "
                         f"AND p_name ~= '{name}' WEIGHTS {w}, {w2} LIMIT {k}"),
                )
            else:
                x = row(li)
                cond = {"lprice": x["l_extendedprice"], "lship": _iso_day(x["l_shipdate"])}
                req.update(
                    table="lineitem", conditions=cond,
                    weights={a: [w] for a, w in zip(cond, _weights(rng, 2))},
                )
            out.append(req)
    return out


# ---------------------------------------------------------------------------
# serve_ingest
# ---------------------------------------------------------------------------

#: declared registry queries the serve stream runs over the same corpus:
#: a bounded streaming replay of the events and a media decode pass over
#: the documents — the only callers of ``streaming/`` and ``multimodal/``
DECLARED = ("stream_events_hourly", "media_pixel_stats")
#: one block of the op stream: six reads, every read class at least once,
#: one write of each class (75 % of reads and writes are reads) and one run
#: of each declared query — the class mix is the same on every seed
SERVE_BLOCK = ("ivfpq", "pivot", "bm25", "dedup_append", "stream_events_hourly",
               "dedup_lookup", "ivfpq", "bm25", "append_rows", "media_pixel_stats")

#: ids of written rows start here, far above every generated id
FRESH_ID_BASE = 1_000_000


def serve_tables(seed: int) -> dict:
    rng = np.random.default_rng([seed, 3])
    docs = documents(rng)
    centers = embedding_centers(rng)
    vecs, labels = unit_vectors(rng, centers, ROWS["embeddings"])
    ids = np.arange(ROWS["embeddings"], dtype=np.int64)
    return {
        "documents": docs,
        "embeddings": embeddings_table(ids, vecs, labels),
        "events": events(np.random.default_rng([seed, 5])),
        "centers": centers,
    }


def serve_ops(seed: int, tables: dict, n_blocks: int) -> list[dict]:
    """The read/write stream, ``n_blocks`` blocks of ``SERVE_BLOCK``.
    Writes are re-crawl deltas: a ``dedup_append`` delta of 50-200
    documents, half of them exact copies of already-indexed documents under
    fresh ids (the planted duplicates the check expects back) and half new
    text; an ``append_rows`` delta of 20-100 new vectors.  Reads query
    values taken from rows indexed so far, appended rows included; the
    declared queries take no parameters (their input is the seeded corpus)."""
    rng = np.random.default_rng([seed, 4])
    docs = tables["documents"]
    doc_ids = docs.column("doc_id").to_pylist()
    doc_text = dict(zip(doc_ids, docs.column("text").to_pylist()))
    # each original document is re-crawled at most once, so no LSH bucket
    # grows past a handful of exact copies
    unused = list(rng.permutation(doc_ids))
    n_vec = tables["embeddings"].num_rows
    vec_ids = list(range(n_vec))
    next_doc, next_vec = FRESH_ID_BASE, FRESH_ID_BASE
    ops = []
    for cls in SERVE_BLOCK * n_blocks:
        if cls == "dedup_append":
            n = int(rng.integers(50, 201))
            n_copy = n // 2
            src = [int(unused.pop()) for _ in range(n_copy)]
            texts = [doc_text[s] for s in src] + random_texts(rng, n - n_copy)
            new_ids = list(range(next_doc, next_doc + n))
            next_doc += n
            ops.append({
                "cls": cls, "write": True, "ids": new_ids, "texts": texts,
                "planted": [[a, s] for a, s in zip(new_ids, src)],
            })
            for i, t in zip(new_ids, texts):
                doc_text[i] = t
            doc_ids.extend(new_ids)
        elif cls == "append_rows":
            n = int(rng.integers(20, 101))
            vecs, labels = unit_vectors(rng, tables["centers"], n)
            ops.append({
                "cls": cls, "write": True, "ids": list(range(next_vec, next_vec + n)),
                "vecs": vecs.tolist(), "labels": labels.tolist(),
            })
            vec_ids.extend(range(next_vec, next_vec + n))
            next_vec += n
        elif cls in DECLARED:
            ops.append({"cls": cls, "write": False})
        else:
            op: dict = {"cls": cls, "write": False, "k": 10}
            if cls in ("ivfpq", "pivot"):
                op["vec_id"] = int(vec_ids[int(rng.integers(0, len(vec_ids)))])
            elif cls == "bm25":
                words = doc_text[doc_ids[int(rng.integers(0, len(doc_ids)))]].split()
                start = int(rng.integers(0, max(1, len(words) - 3)))
                op["tokens"] = words[start:start + int(rng.integers(2, 5))]
            else:
                op["doc_id"] = int(doc_ids[int(rng.integers(0, len(doc_ids)))])
                op["text"] = doc_text[op["doc_id"]]
            ops.append(op)
    return ops


def digest(tables: dict, stream: list[dict]) -> str:
    """SHA-256 over the generated tables (Arrow IPC bytes) and the stream
    (canonical JSON) — equal digests mean byte-identical inputs."""
    h = hashlib.sha256()
    for name in sorted(tables):
        t = tables[name]
        if isinstance(t, pa.Table):
            sink = pa.BufferOutputStream()
            with pa.ipc.new_stream(sink, t.schema) as w:
                w.write_table(t)
            h.update(name.encode())
            h.update(sink.getvalue().to_pybytes())
        else:
            h.update(np.ascontiguousarray(t).tobytes())
    h.update(json.dumps(stream, sort_keys=True).encode())
    return h.hexdigest()
