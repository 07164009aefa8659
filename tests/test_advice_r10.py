"""Regression tests for the round-10 ADVICE findings (fixed in round 11).

One test per finding, each exercising the exact failure scenario the
advisor described:

1. multimodal/binary.py — truncated/corrupt GIF/BMP/TIFF payloads raise
   struct.error (short struct.unpack slices) or IndexError (GIF sub-block
   reads past end), which the image-side bounded-failure handlers did not
   catch: one malformed payload failed the whole Spark task instead of
   producing the documented failure row.
2. queries/media.py — media_meta's GIF/BMP/TIFF synth packs width into
   16-bit fields; a fixture doc with n_chars > 65535 raised struct.error
   inside the synth UDF and failed the query on 3/4 of doc_ids.  Oversized
   widths now route to the PNG container (32-bit), on both the Spark side
   and the oracle.
3. operators/dedup.py / queries/ivfpq.py — minhash_lsh_pairs persisted its
   signature/exploded frames (and the ivfpq queries their cents/emb)
   without unpersisting; across a multi-query session cached relations
   accumulated and could trip the CacheManager InMemoryRelation
   substitution trap for later plan assertions.
"""

from __future__ import annotations

import struct

from pyspark.sql import functions as F


def _truncated_payloads():
    """The advisor's exact examples: a <34-byte BMP, a 4-7-byte TIFF magic,
    a GIF cut inside its image descriptor, and a GIF cut mid-sub-block
    (the lone ``data[pos]`` index read)."""
    bmp_short = b"BM" + bytes(24)  # sniffable (>=26) but decode_bmp unpacks [14:30]
    tiff_stub = b"II*\x00\x08\x00"  # magic ok, IFD offset truncated
    gif_desc = b"GIF89a" + struct.pack("<HHBBB", 4, 4, 0, 0, 0) + b"\x2c\x00\x00"
    gif_subblock = (
        b"GIF89a" + struct.pack("<HHBBB", 2, 2, 0x80, 0, 0) + bytes(6)  # 2-entry GCT
        + b"\x2c" + struct.pack("<HHHHB", 0, 0, 2, 2, 0)  # image descriptor, no LZW
    )
    return [bmp_short, tiff_stub, gif_desc, gif_subblock]


def test_truncated_image_payloads_yield_failure_rows(spark):
    """pixel_stats must emit one named failure row per malformed payload —
    never fail the task (the audio handlers already behaved this way)."""
    from simsearch_spark.multimodal.binary import pixel_stats

    rows = spark.createDataFrame(
        [(i, bytearray(p)) for i, p in enumerate(_truncated_payloads())],
        "media_id long, payload binary",
    )
    got = {r.media_id: r for r in pixel_stats(rows).collect()}
    assert len(got) == 4
    for mid, r in got.items():
        assert r.decoded != "ok", mid
        assert r.width == -1 and r.mean_c0 is None, mid


def test_truncated_image_payloads_yield_null_embeddings(spark):
    from simsearch_spark.multimodal.binary import extract_pixel_features

    rows = spark.createDataFrame(
        [(i, bytearray(p)) for i, p in enumerate(_truncated_payloads())],
        "media_id long, payload binary",
    )
    got = extract_pixel_features(rows).collect()
    assert len(got) == 4 and all(r.embedding is None for r in got)


def test_truncated_tiff_sniff_degrades_to_unknown_dims(spark):
    """_sniff_header's TIFF branch caught only ValueError; a 6-byte 'II*\\0'
    stub raised struct.error out of parse_tiff_header."""
    from simsearch_spark.multimodal.binary import decode_image_meta

    # IFD offset points past the end: the n-entries unpack reads an empty
    # slice -> struct.error (8 bytes, so the sniff's length gate passes)
    df = spark.createDataFrame(
        [(1, "image", bytearray(b"II*\x00" + struct.pack("<I", 100)), "image/tiff")],
        "media_id long, kind string, payload binary, mime string",
    )
    (row,) = decode_image_meta(df).collect()
    assert (row.format, row.width, row.height) == ("tiff", -1, -1)


def test_media_meta_oversized_width_routes_png(spark, tmp_path):
    """A doc wider than 65535 must synth a PNG container (32-bit fields)
    instead of raising struct.error in the 16-bit GIF/BMP/TIFF packers —
    and the oracle must agree on the rerouted format and byte count."""
    import duckdb

    from simsearch_spark.queries.media import PNG_BYTES, SQL_MEDIA_META, q_media_meta

    docs = [(d, 70_000) for d in range(8)] + [(d, 500) for d in range(8, 16)]
    src = str(tmp_path / "sfbig")
    spark.createDataFrame(docs, "doc_id long, n_chars int").write.parquet(
        f"{src}/documents.parquet"
    )
    got = {r.media_id: r for r in q_media_meta(spark, src).collect()}
    assert len(got) == 16
    for d in range(8):
        assert (got[d].format, got[d].n_bytes, got[d].width) == ("png", PNG_BYTES, 70_000)
    assert [got[d].format for d in range(8, 12)] == ["png", "gif", "bmp", "tiff"]

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{src}/documents.parquet/*.parquet'"
    )
    oracle = {
        r[0]: r for r in con.execute(SQL_MEDIA_META).fetchall()
    }
    for d in range(16):
        g = got[d]
        assert oracle[d] == (
            d, g.n_bytes, g.width, g.height, g.format, g.n_pages,
        ), d


def test_minhash_lsh_pairs_unpersists_its_frames(spark):
    """After the candidate join materializes, the signature and exploded
    caches must be dropped — not leaked into the session."""
    from simsearch_spark.operators.dedup import minhash_lsh_pairs

    spark.catalog.clearCache()
    docs = spark.createDataFrame(
        [(i, f"the quick brown fox jumps over dog number {i % 3}") for i in range(30)],
        "doc_id long, text string",
    )
    pairs = minhash_lsh_pairs(docs, "doc_id", "text", 0.7)
    assert pairs.count() >= 0  # already materialized (eager checkpoint)
    # .persist() registers in the CacheManager (the InMemoryRelation
    # substitution source); the eager localCheckpoint pin is RDD-level and
    # IS the returned result, so the manager must be empty
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_ivfpq_query_unpersists_its_frames(spark, sf_dir):
    from simsearch_spark.queries.ivfpq import q_ann_ivfpq_topk

    spark.catalog.clearCache()
    out = q_ann_ivfpq_topk(spark, sf_dir)
    assert out.count() > 0
    # .persist() registers in the CacheManager (the InMemoryRelation
    # substitution source); the eager localCheckpoint pin is RDD-level and
    # IS the returned result, so the manager must be empty
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
