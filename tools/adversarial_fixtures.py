"""Regeneration-robustness harness: build an ADVERSARIAL documents fixture
(NULL/empty/whitespace text, unicode + emoji, 1-token and 5000-token docs,
regex metacharacters, NULL source) on top of a real sf dir, then run the
full oracle gate against it:

    python tools/adversarial_fixtures.py [src_sf_dir] [dst_dir]
    SPARK_GRAFT_SF_DIR=<dst_dir> python tools/check_correctness.py

The external driver regenerates /root/testdata between rounds; this gate
catches engine/oracle NULL- and edge-divergences BEFORE a regenerated
fixture does (r8 caught several — see the "Uniform NULL contract" and
"Harden oracles" commits).

EMBEDDINGS are deliberately NOT mutated: a NULL / ragged / non-finite
vector is a structural error (embeddings come from a fixed-dim model),
and the documented contract is the explicit validation stage
``operators/ann.py valid_embeddings`` — tested in
tests/test_dedup_ann.py::test_valid_embeddings_filters_structural_garbage
— not per-kernel garbage tolerance.
"""

from __future__ import annotations

import os
import shutil
import sys

import duckdb


def build(src: str, dst: str) -> None:
    shutil.rmtree(dst, ignore_errors=True)
    os.makedirs(dst)
    con = duckdb.connect()
    for t in os.listdir(src):
        if t != "documents.parquet":
            shutil.copy(os.path.join(src, t), os.path.join(dst, t))
    con.execute(f"CREATE TABLE d AS SELECT * FROM '{src}/documents.parquet'")
    maxid = con.sql("SELECT max(doc_id) FROM d").fetchone()[0]
    rows = [
        (maxid + 1, None, "en", "srcX", 0),
        (maxid + 2, "", "en", "srcX", 0),
        (maxid + 3, "   ", "en", "srcX", 3),
        (maxid + 4, "café naïve 中文 emoji \U0001f600 mix", "en", "srcX", 30),
        (maxid + 5, "single", "en", "srcX", 6),
        (maxid + 6, "a a a a a a a a a a a a a a a a", "en", "srcX", 31),
        (maxid + 7, " ".join(f"w{i % 97}" for i in range(5000)), "en", "srcY", 25000),
        (maxid + 8, 'quote " back \\ dot . star * plus + bracket [x] pipe |', "en", "srcY", 50),
        (maxid + 9, "tab\tand\nnewline  double  space", "en", None, 30),
        # suffix-mutated text (every token mutated, the r8 scale-probe
        # construction that zeroed the stopword language signal): the
        # trigram fallback in lang_id_v2 must still classify these — the
        # pytest gate (tests/test_langid.py) asserts the classification,
        # this fixture keeps the oracle gate honest on the same shape
        (maxid + 10,
         " ".join(w + "_9" for w in (
             "the quick brown fox jumps over the lazy dog and it was the "
             "best of times for all the people of the world").split()),
         "en", "srcZ", 140),
        (maxid + 11,
         " ".join(w + "_9" for w in (
             "der schnelle braune fuchs springt uber den faulen hund und es "
             "war die beste aller zeiten fur die menschen der welt").split()),
         "de", "srcZ", 130),
        # DECOMPOSED unicode (NFD: base + combining accents) + a combining
        # sequence NFC cannot compose: exercises the text_nfc_normalize
        # cross-implementation check (unicodedata vs utf8proc) and every
        # text kernel's per-codepoint contract
        (maxid + 12,
         "cafe\u0301 and nai\u0308ve re\u0301sume\u0301 in the q\u0301 row",
         "en", "srcZ", 40),
        # tab-only and newline-only texts: SQL's trim strips spaces only,
        # so these pass the dedup filters and must get a non-empty
        # shingle set in every kernel (two equal ones pair at jaccard 1)
        (maxid + 13, "\t", "en", "srcW", 1),
        (maxid + 14, "\t", "en", "srcW", 1),
        (maxid + 15, "\n", "en", "srcW", 1),
        (maxid + 16, "\n", "en", "srcW", 1),
    ]
    con.executemany("INSERT INTO d VALUES (?,?,?,?,?)", rows)
    con.execute(f"COPY d TO '{dst}/documents.parquet' (FORMAT PARQUET)")
    # adversarial EVENTS: NULL user/value/type/props/ts, malformed JSON,
    # negative value, far-future timestamp (r8 findings: stream-vs-batch
    # NULL-event-time divergence; NaN crash in the as-of state kernel;
    # DuckDB ->> raising on malformed JSON)
    con.execute(f"CREATE TABLE e AS SELECT * FROM '{src}/events.parquet'")
    m = con.sql("SELECT max(event_id) FROM e").fetchone()[0]
    erows = [
        (m + 1, "2024-01-02 03:04:05", None, "click", 1.5, '{"k": 1}'),
        (m + 2, "2024-01-02 03:04:06", 7, "click", None, '{"k": 2}'),
        (m + 3, "2024-01-02 03:04:07", 7, None, 2.5, '{"k": 3}'),
        (m + 4, "2024-01-02 03:04:08", 7, "click", -5.0, None),
        (m + 5, "2024-01-02 03:04:09", 7, "click", 0.0, "not json"),
        (m + 6, "2030-12-31 23:59:59", 7, "click", 9.0, '{"k":9}'),
        (m + 7, None, 7, "click", 3.0, '{"k":4}'),
    ]
    con.executemany("INSERT INTO e VALUES (?,?,?,?,?,?)", erows)
    con.execute(f"COPY e TO '{dst}/events.parquet' (FORMAT PARQUET)")
    # adversarial CUSTOMER: NULL facet values exercise the reference's P3
    # NULL-exclusion contract across the whole top-k family (passed clean
    # on first run in r8 — kept to guard regressions)
    con.execute(f"CREATE TABLE c AS SELECT * FROM '{src}/customer.parquet'")
    mc = con.sql("SELECT max(c_custkey) FROM c").fetchone()[0]
    crows = [
        (mc + 1, None, 3, 100.5, "BUILDING"),
        (mc + 2, "Null#Bal", 3, None, "BUILDING"),
        (mc + 3, "NegBal", 3, -999999.99, None),
        (mc + 4, "Dup Dup", None, 100.5, "AUTOMOBILE"),
        (mc + 5, "", 3, 0.0, "MACHINERY"),
    ]
    con.executemany("INSERT INTO c VALUES (?,?,?,?,?)", crows)
    con.execute(f"COPY c TO '{dst}/customer.parquet' (FORMAT PARQUET)")
    print(f"adversarial fixture at {dst}: "
          f"{con.sql('SELECT count(*) FROM d').fetchone()[0]} docs, "
          f"{con.sql('SELECT count(*) FROM e').fetchone()[0]} events")


if __name__ == "__main__":
    src = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    dst = sys.argv[2] if len(sys.argv) > 2 else "/tmp/sf_adversarial"
    build(src, dst)
    print(f"now: SPARK_GRAFT_SF_DIR={dst} python tools/check_correctness.py")
