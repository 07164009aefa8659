"""BPE merge learning vs an independent pure-Python reference.

bpe_merges carries no DuckDB oracle (iterative argmax selection is not
SQL-expressible), so its verification is this equivalence gate: a from-
scratch Python BPE (Sennrich-style over word frequencies) run on the SAME
live parquet fixture, compared merge-for-merge.  The reference shares
nothing with the engine but the published algorithm definition:
whitespace/lowercase word census, character symbolization, per-iteration
(count DESC, left ASC, right ASC) argmax, greedy left-to-right
non-overlapping merge application.
"""

from __future__ import annotations

import os
import re
from collections import Counter

import duckdb
import pytest

from simsearch_spark.queries.vocab import BPE_MERGES, q_bpe_merges


def _python_bpe(texts: list[str], n_merges: int) -> list[tuple[int, str, str, int]]:
    words: Counter[str] = Counter()
    for t in texts:
        if t is None:
            continue
        for w in re.split(r"\s+", t.lower()):
            if w:
                words[w] += 1
    syms = {w: [c for c in w] for w in words}
    merges = []
    for rank in range(n_merges):
        pairs: Counter[tuple[str, str]] = Counter()
        for w, cnt in words.items():
            s = syms[w]
            for a, b in zip(s, s[1:]):
                pairs[(a, b)] += cnt
        if not pairs:
            break
        (left, right), count = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((rank, left, right, count))
        for w in syms:
            s = syms[w]
            out: list[str] = []
            for x in s:
                if out and out[-1] == left and x == right:
                    out[-1] = left + right
                else:
                    out.append(x)
            syms[w] = out
    return merges


@pytest.fixture(scope="module")
def fixture_texts(sf_dir):
    path = os.path.join(sf_dir, "documents.parquet")
    return [r[0] for r in duckdb.sql(f"SELECT text FROM '{path}'").fetchall()]


def test_bpe_merges_match_reference(spark, sf_dir, fixture_texts):
    expected = _python_bpe(fixture_texts, BPE_MERGES)
    got = [
        (r.merge_rank, r.left, r.right, r.pair_count)
        for r in q_bpe_merges(spark, sf_dir).orderBy("merge_rank").collect()
    ]
    assert got == expected
    assert len(got) == BPE_MERGES  # fixture is rich enough to fill the budget


def _python_apply(texts, merges):
    """Independent encode: words -> chars -> merges in rank order."""
    out = {}
    for src, t in texts:
        if t is None:
            continue
        row = []
        for w in re.split(r"\s+", t.lower()):
            if not w:
                continue
            syms = list(w)
            for _rank, left, right, _cnt in merges:
                nxt = []
                for x in syms:
                    if nxt and nxt[-1] == left and x == right:
                        nxt[-1] = left + right
                    else:
                        nxt.append(x)
                syms = nxt
            row.extend(syms)
        out.setdefault(src, []).append(row)
    return out


def test_bpe_token_stats_match_reference(spark, sf_dir):
    """bpe_token_stats (learn + apply + aggregate) vs the independent
    Python implementation run end-to-end on the same fixture."""
    from simsearch_spark.queries.vocab import q_bpe_token_stats

    path = os.path.join(sf_dir, "documents.parquet")
    rows = duckdb.sql(f"SELECT source, text FROM '{path}'").fetchall()
    merges = _python_bpe([t for _s, t in rows], BPE_MERGES)
    by_src = _python_apply(rows, merges)
    expected = {}
    for src, docs in by_src.items():
        n_sub = sum(len(d) for d in docs)
        n_chars = sum(len(tok) for d in docs for tok in d)
        expected[src] = (len(docs), n_sub, round(n_chars / n_sub, 6))
    got = {
        r.source: (r.n_docs, r.n_subwords, r.chars_per_token)
        for r in q_bpe_token_stats(spark, sf_dir).collect()
    }
    assert got == expected


def test_apply_bpe_row_level(spark):
    from simsearch_spark.operators.bpe import apply_bpe

    df = spark.createDataFrame([("aa ab b",), (None,)], ["text"])
    out = [
        r.bpe_tokens
        for r in apply_bpe(df, "text", [("a", "a"), ("a", "b")]).collect()
    ]
    # "aa" -> [aa]; "ab" -> [ab]; "b" -> [b]; NULL -> []
    assert sorted(map(tuple, out)) == [(), ("aa", "ab", "b")]


def test_bpe_merge_application_is_greedy_nonoverlapping(spark):
    """The codegen fold must implement textbook greedy merging: runs of the
    merged pair collapse left-to-right without re-merging the new token."""
    from pyspark.sql import functions as F

    from simsearch_spark.operators.bpe import _apply_merge

    df = spark.createDataFrame(
        [(["a", "a", "a"],), (["a", "a", "a", "a"],), (["b", "a", "a"],), ([],)],
        "syms: array<string>",
    )
    got = [r.m for r in df.select(_apply_merge(F.col("syms"), "a", "a").alias("m")).collect()]
    assert got == [["aa", "a"], ["aa", "aa"], ["b", "aa"], []]


def test_bpe_early_stop_on_exhausted_pairs(spark):
    """Single-char words have no adjacent pairs: learning stops early
    instead of looping or erroring."""
    from simsearch_spark.operators.bpe import learn_bpe_merges

    df = spark.createDataFrame([("a b c",), ("a b",)], ["text"])
    merges = learn_bpe_merges(df, "text", 5)
    assert merges == []


def test_mounted_encode_matches_python_reference(spark, sf_dir, tmp_path, fixture_texts):
    """mount_bpe persists the merge table; serve_bpe_encode with the
    FROZEN merges equals the independent Python encode token-for-token
    (VERDICT r13 task 2)."""
    from simsearch_spark.mount.bpe import load_merges, mount_bpe, serve_bpe_encode
    from simsearch_spark.sources.registry import load_table

    d = str(tmp_path / "m_bpe")
    docs = load_table(spark, sf_dir, "documents")
    man = mount_bpe(spark, d, docs)
    assert man["bpe"]["n_merges"] == BPE_MERGES

    merges = load_merges(spark, d)
    assert merges == _python_bpe(fixture_texts, BPE_MERGES)

    got = {
        r.doc_id: list(r.bpe_tokens)
        for r in serve_bpe_encode(
            spark, d, docs.where(docs.doc_id < 40).select("doc_id", "text")
        ).collect()
    }
    path = os.path.join(sf_dir, "documents.parquet")
    rows = duckdb.sql(
        f"SELECT doc_id, text FROM '{path}' WHERE doc_id < 40"
    ).fetchall()
    by_id = _python_apply(rows, merges)
    expected = {int(i): docs_[0] for i, docs_ in by_id.items()}
    assert got == expected

    # a group whose documents hold no token has no chars-per-token
    from simsearch_spark.mount.bpe import bpe_encode_stats

    blank = spark.createDataFrame(
        [("w", "\t"), ("w", "\n"), ("x", "the")], "source string, text string"
    )
    stats = {
        tuple(r)[0]: tuple(r)[1:]
        for r in bpe_encode_stats(spark, d, blank).collect()
    }
    assert stats["w"] == (2, 0, None) and stats["x"][1] > 0


def test_encode_mounted_equals_selfcontained(spark, sf_dir):
    """The registry query bpe_encode_mounted is row-identical to the
    self-contained bpe_token_stats — deterministic training + the shared
    encode kernel (the DRIVER_EXCLUDED equivalence pin)."""
    from simsearch_spark.queries.vocab import q_bpe_encode_mounted, q_bpe_token_stats

    a = sorted(tuple(r) for r in q_bpe_encode_mounted(spark, sf_dir).collect())
    b = sorted(tuple(r) for r in q_bpe_token_stats(spark, sf_dir).collect())
    assert a == b and len(a) > 0
    cols = q_bpe_encode_mounted(spark, sf_dir).columns
    assert cols == ["source", "n_docs", "n_subwords", "chars_per_token"]


def test_bpe_encode_split_invariant_and_refreshable(spark, sf_dir, tmp_path):
    """Frozen-merge encode is a pure row-local function: any split of the
    corpus encodes identically; refresh(families=['bpe']) retrains the
    merge table from the CURRENT docs without touching other artifacts."""
    from pyspark.sql import functions as F

    from simsearch_spark.mount import load_manifest, refresh
    from simsearch_spark.mount.bpe import load_merges, mount_bpe, serve_bpe_encode
    from simsearch_spark.sources.registry import load_table

    d = str(tmp_path / "m_bpe2")
    docs = load_table(spark, sf_dir, "documents")
    mount_bpe(spark, d, docs)

    one = serve_bpe_encode(spark, d, docs.select("doc_id", "text"))
    halves = [
        serve_bpe_encode(spark, d, h.select("doc_id", "text"))
        for h in (docs.where(F.col("doc_id") % 2 == 0), docs.where(F.col("doc_id") % 2 == 1))
    ]
    rows = lambda df: sorted((r.doc_id, tuple(r.bpe_tokens)) for r in df.collect())
    assert rows(one) == sorted(rows(halves[0]) + rows(halves[1]))

    # family refresh on a shifted corpus: merges follow the NEW docs
    docs2 = docs.withColumn("text", F.concat(F.lit("zq zq zq zq "), F.col("text")))
    gen0 = load_manifest(d).get("generation", 0)
    man = refresh(spark, d, sf_dir=sf_dir, docs_frame=docs2, families=["bpe"])
    assert man["generation"] == gen0 + 1
    new_merges = load_merges(spark, d)
    assert ("z", "q") in {(l, r) for _rk, l, r, _c in new_merges}


def test_audit_bpe_drift_and_auto_maintain(spark, sf_dir, tmp_path):
    """r14: tokenizer-drift loop — the frozen merges' compression ratio
    on shifted data falls below the mount-time baseline; auto_maintain
    detects it and retrains the bpe family from the current corpus; the
    audit recovers and the loop converges."""
    from pyspark.sql import functions as F

    from simsearch_spark.mount import audit_bpe, auto_maintain, mount_bpe
    from simsearch_spark.sources.registry import load_table

    d = str(tmp_path / "m_bpe_audit")
    docs = load_table(spark, sf_dir, "documents")
    mount_bpe(spark, d, docs)

    same = audit_bpe(spark, d, docs)
    assert same["ratio"] == 1.0  # identical corpus, identical sample

    # drift: every doc becomes a repeated unseen word — the learned
    # merges never apply (cpt collapses toward 1.0), while a RETRAIN can
    # still learn the new word's merges (the degenerate-retrain guard
    # demands a learnable corpus)
    drifted = docs.withColumn(
        "text", F.concat(F.lit("qzx "), F.repeat(F.lit("qzx wvu "), 40))
    )
    bad = audit_bpe(spark, d, drifted)
    assert bad["ratio"] is not None and bad["ratio"] < 0.9, bad

    rep = auto_maintain(spark, d, docs_frame=drifted)
    assert rep["refreshed"] == ["bpe"]
    assert rep["audits"]["bpe"]["ratio"] < 0.9

    good = audit_bpe(spark, d, drifted)
    assert good["ratio"] is not None and good["ratio"] >= 0.99, good
    rep2 = auto_maintain(spark, d, docs_frame=drifted)
    assert rep2["refreshed"] == []  # converged


def test_serve_bpe_encode_streaming_equals_batch(spark, sf_dir, tmp_path):
    """The frozen-merge encode kernel is row-local, so it runs unchanged
    on a STREAMING frame — tokens per doc identical to the batch encode
    for any micro-batch split (the engine's streaming-dual discipline)."""
    from pyspark.sql import functions as F

    from simsearch_spark.mount.bpe import mount_bpe, serve_bpe_encode
    from simsearch_spark.sources.registry import load_table

    d = str(tmp_path / "m_bpe_stream")
    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 60)
    mount_bpe(spark, d, docs)

    src = str(tmp_path / "doc_src")
    for bi in range(3):
        docs.where(F.pmod(F.col("doc_id"), F.lit(3)) == bi).select(
            "doc_id", "text"
        ).write.parquet(f"{src}/b{bi}")
    stream = spark.readStream.schema("doc_id long, text string").parquet(src + "/*")
    out_dir = str(tmp_path / "enc_out")
    q = (
        serve_bpe_encode(spark, d, stream)
        .select("doc_id", F.to_json(F.col("bpe_tokens")).alias("toks"))
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    import json as _json

    got = {
        r.doc_id: tuple(_json.loads(r.toks))
        for r in spark.read.parquet(out_dir).collect()
    }
    want = {
        r.doc_id: tuple(r.bpe_tokens)
        for r in serve_bpe_encode(spark, d, docs.select("doc_id", "text")).collect()
    }
    assert got == want and len(got) > 0


def test_driver_tier_equals_distributed_tier(spark, sf_dir):
    """r14 optimization pin: ``learn_bpe_merges``'s adaptive driver tier
    (census ≤ DRIVER_VOCAB_MAX → collected merge loop) must produce
    merge-for-merge the same rules as the distributed per-merge loop
    (forced here with driver_vocab_max=0)."""
    from simsearch_spark.operators.bpe import learn_bpe_merges
    from simsearch_spark.sources.registry import load_table

    docs = load_table(spark, sf_dir, "documents")
    driver = learn_bpe_merges(docs, "text", BPE_MERGES)
    distributed = learn_bpe_merges(docs, "text", BPE_MERGES, driver_vocab_max=0)
    assert driver == distributed
