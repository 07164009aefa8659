"""The benchmark's inputs are a pure function of the seed.

    python3 -m pytest perfbench/test_inputs.py -q
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import inputs  # noqa: E402


def search_digest(seed: int) -> str:
    tables = inputs.search_tables(seed)
    return inputs.digest(tables, inputs.search_requests(seed, tables, 5))


def serve_digest(seed: int) -> str:
    tables = inputs.serve_tables(seed)
    return inputs.digest(tables, inputs.serve_ops(seed, tables, 5))


def test_search_inputs_repeat_exactly_and_differ_by_seed():
    assert search_digest(7) == search_digest(7)
    assert search_digest(7) != search_digest(8)


def test_serve_inputs_repeat_exactly_and_differ_by_seed():
    assert serve_digest(7) == serve_digest(7)
    assert serve_digest(7) != serve_digest(8)


def test_written_parquet_is_byte_identical(tmp_path):
    t = inputs.serve_tables(3)["documents"]
    a = inputs.write_table(t, str(tmp_path / "a"), "documents")
    b = inputs.write_table(inputs.serve_tables(3)["documents"], str(tmp_path / "b"), "documents")
    with open(a, "rb") as fa, open(b, "rb") as fb:
        assert fa.read() == fb.read()


def test_class_mix_does_not_depend_on_the_seed():
    mixes = set()
    for seed in (1, 2):
        tables = inputs.search_tables(seed)
        mixes.add(tuple(r["cls"] for r in inputs.search_requests(seed, tables, 3)))
        serve = inputs.serve_tables(seed)
        mixes.add(tuple(op["cls"] for op in inputs.serve_ops(seed, serve, 3)))
    assert len(mixes) == 2


def test_every_round_holds_every_single_facet_kind():
    tables = inputs.search_tables(4)
    reqs = inputs.search_requests(4, tables, 2)
    n = len(inputs.SEARCH_ROUND)
    for r in range(2):
        kinds = {next(iter(q["conditions"])) for q in reqs[r * n:(r + 1) * n] if q["cls"] == "single"}
        assert kinds == {"acctbal", "odate", "cloc", "pname"}


def test_planted_duplicates_copy_indexed_text():
    tables = inputs.serve_tables(5)
    text = dict(zip(tables["documents"].column("doc_id").to_pylist(),
                    tables["documents"].column("text").to_pylist()))
    for op in inputs.serve_ops(5, tables, 4):
        if op["cls"] == "dedup_append":
            for (new, src), t in zip(op["planted"], op["texts"]):
                assert text[src] == t
            text.update(zip(op["ids"], op["texts"]))
