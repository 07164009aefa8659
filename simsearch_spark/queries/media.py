"""Declared query: multimodal binary-column plumbing, end to end.

The fixtures carry no media table, so payloads are synthesized
deterministically: each document becomes a minimal valid PNG whose IHDR
encodes (width = n_chars, height = doc_id % 480 + 1).  The query then runs
the real pipeline — binary column → Arrow batches → header sniff
(`multimodal.binary.decode_image_meta`) — and must recover exactly the
dimensions the oracle computes directly from the table.  This checks the
binary round-trip, the mapInPandas schema contract, and the PNG parser
against ground truth the parser never sees.
"""

from __future__ import annotations

import struct
import zlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from simsearch_spark.multimodal.binary import decode_image_meta
from simsearch_spark.queries.vector import _cosine_sql
from simsearch_spark.operators.fanout import fanout_for_kernel
from simsearch_spark.sources.registry import load_table

#: fixed PNG scaffold size: signature(8) + length(4) + 'IHDR'(4) + data(13) + crc(4)
PNG_BYTES = 33


def _png(width: int, height: int) -> bytes:
    ihdr = struct.pack(">II", width, height) + b"\x08\x02\x00\x00\x00"
    chunk = b"IHDR" + ihdr
    return (
        b"\x89PNG\r\n\x1a\n"
        + struct.pack(">I", len(ihdr))
        + chunk
        + struct.pack(">I", zlib.crc32(chunk) & 0xFFFFFFFF)
    )


def _gif_hdr(width: int, height: int) -> bytes:
    # GIF89a logical screen descriptor only (no color table): 13 bytes
    return b"GIF89a" + struct.pack("<HHBBB", width, height, 0, 0, 0)


def _bmp_hdr(width: int, height: int) -> bytes:
    # BITMAPFILEHEADER + the first 12 info bytes the sniff reads: 26 bytes
    return struct.pack("<2sIHHI", b"BM", 26, 0, 0, 26) + struct.pack(
        "<Iii", 40, width, height
    )


def _tiff_hdr(width: int, height: int, big_endian: bool, n_pages: int = 1) -> bytes:
    # minimal IFD(s) carrying only ImageWidth/ImageLength: 8 + 30·n_pages
    # bytes — r12 chains n_pages identical IFDs through next-IFD offsets
    bo = ">" if big_endian else "<"
    out = bytearray(
        (b"MM\x00*" if big_endian else b"II*\x00") + struct.pack(bo + "I", 8)
    )
    for k in range(n_pages):
        nxt = 8 + 30 * (k + 1) if k + 1 < n_pages else 0
        out += (
            struct.pack(bo + "H", 2)
            + struct.pack(bo + "HHIHH", 256, 3, 1, width, 0)
            + struct.pack(bo + "HHIHH", 257, 3, 1, height, 0)
            + struct.pack(bo + "I", nxt)
        )
    return bytes(out)


def q_media_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Container metadata sniff across every image family the engine
    dispatches: doc_id % 4 routes PNG / GIF / BMP / TIFF headers (TIFF
    alternating byte order by doc_id % 8), each with a closed-form byte
    count and the same (n_chars, doc_id % 480 + 1) geometry, so format
    detection itself holds a driver verdict — not just the decoders.
    r12: the TIFF lane chains ``doc_id % 3 + 1`` IFDs and the sniff must
    report the multi-page count (``n_pages``; single-image containers
    report 1) — byte count becomes 8 + 30·n_pages."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for c, d in zip(pdf["n_chars"], pdf["doc_id"]):
                c, d = int(c), int(d)
                h = d % 480 + 1
                # GIF/BMP-sniff/TIFF-SHORT widths are 16-bit; a fixture doc
                # wider than 65535 would raise struct.error inside the synth
                # UDF and fail the whole query (ADVICE r10).  Route oversized
                # widths to the PNG container (32-bit fields); the oracle
                # carries the same n_chars <= 65535 condition.
                if c > 0xFFFF or d % 4 == 0:
                    payloads.append(_png(c, h))
                elif d % 4 == 1:
                    payloads.append(_gif_hdr(c, h))
                elif d % 4 == 2:
                    payloads.append(_bmp_hdr(c, h))
                else:
                    payloads.append(
                        _tiff_hdr(c, h, big_endian=d % 8 == 7, n_pages=d % 3 + 1)
                    )
            yield pd.DataFrame(
                {
                    "media_id": pdf["doc_id"],
                    "kind": "image",
                    "payload": payloads,
                    "mime": "image/png",
                }
            )

    # no kernel fan-out: this lane only synthesizes and sniffs HEADERS
    # (tens of bytes/doc) — the exchange costs more than the kernel
    # (r14 site A/B: 1.01 s fanned vs 0.40 s direct at sf0.1)
    media = docs.mapInPandas(
        synth, "media_id long, kind string, payload binary, mime string"
    )
    meta = decode_image_meta(media)
    return meta.select(
        "media_id", "n_bytes", "width", "height", "format", "n_pages"
    )


SQL_MEDIA_META = f"""
SELECT doc_id AS media_id,
       (CASE WHEN n_chars > 65535 THEN {PNG_BYTES}
             WHEN doc_id % 4 = 1 THEN 13 WHEN doc_id % 4 = 2 THEN 26
             WHEN doc_id % 4 = 3 THEN 8 + 30 * (doc_id % 3 + 1)
             ELSE {PNG_BYTES} END) AS n_bytes,
       n_chars::INT AS width, (doc_id % 480 + 1)::INT AS height,
       CASE WHEN n_chars > 65535 THEN 'png'
            WHEN doc_id % 4 = 1 THEN 'gif' WHEN doc_id % 4 = 2 THEN 'bmp'
            WHEN doc_id % 4 = 3 THEN 'tiff' ELSE 'png' END AS format,
       (CASE WHEN n_chars <= 65535 AND doc_id % 4 = 3 THEN doc_id % 3 + 1
             ELSE 1 END)::INT AS n_pages
FROM documents
"""


# -----------------------------------------------------------------------------
# media_pixel_stats: REAL pixel decode end to end
# -----------------------------------------------------------------------------


def q_media_pixel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full decode path: each document becomes a real two-tone grayscale
    image — left half value ``doc_id % 256``, right half ``(doc_id*7 +
    13) % 256``, width ``n_chars % 31 + 2``, height ``doc_id % 7 + 1``.
    doc_id picks the container — ≡0 (mod 4): PNG with scanline filter
    ``(doc_id//4) % 5`` (every PNG unfilter exercised; (doc_id//4)%10 ≥ 5
    writes the Adam7 INTERLACED layout, r11); ≡2 (mod 4): BMP
    (multimodal/bmp.py; r10 — r12 spreads d%16==6 BI_RLE8, d%32==2
    1-bit palette, ==18 BI_RLE4, ==26 top-down, else 8-bit); ≡1,5 (mod 8): GIF89a (multimodal/gif.py
    — palette + LZW; r10); ≡3 (mod 8): little-endian and ≡7 (mod 8):
    BIG-endian TIFF (multimodal/tiff.py; r10 — both byte orders; r12:
    ≡13 (mod 16) routes NETPBM instead of GIF — 16-bit binary P5 at
    d%64==13 (maxval 65535, exact v*257 widening), 8-bit P5 at ==45,
    ASCII P2 at d%32==29, multimodal/netpbm.py; r11 —
    COMPRESSED lanes: d%16==3 LZW+predictor-2, ==11 PackBits, ==7 LZW,
    ==15 uncompressed (d%32==15: wrapped as a MULTI-PAGE chain whose
    page 0 is the real image; d%32==31: 16-BIT gray, exact v*257
    widening — r12), so real-world TIFF compression, paging, and depth
    hold a driver verdict too) — the same routing pattern that
    sends odd audio through FLAC/G.711.  All four codecs are lossless, so
    the closed-form oracle is codec-invariant: the engine must recover the
    exact per-image mean from any container; the pixels themselves never
    exist outside the Arrow batch."""
    from simsearch_spark.multimodal.binary import pixel_stats
    from simsearch_spark.multimodal.bmp import encode_bmp
    from simsearch_spark.multimodal.gif import encode_gif
    from simsearch_spark.multimodal.png import encode_png
    from simsearch_spark.multimodal.tiff import encode_tiff

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for d, c in zip(pdf["doc_id"], pdf["n_chars"]):
                d, c = int(d), int(c)
                w, h = c % 31 + 2, d % 7 + 1
                a, b = d % 256, (d * 7 + 13) % 256
                row = bytes([a] * (w // 2) + [b] * (w - w // 2))
                if d % 8 in (3, 7):
                    # r11: the four TIFF lanes spread compression too —
                    # d%16==3: LE LZW + horizontal-differencing predictor,
                    # d%16==11: LE PackBits, d%16==7: BE LZW, d%16==15:
                    # BE uncompressed.  All lossless; the oracle is
                    # codec-invariant either way.
                    if d % 128 in (23, 87) or d % 64 == 39:
                        # r13: BILEVEL CCITT lanes carved from the
                        # d%16==7 route — d%128==23 G3 MH (comp 2),
                        # ==87 G3 with EOLs (comp 3), d%64==39 G4 MMR
                        # (comp 4).  CCITT is 1-bit, so the two half
                        # values THRESHOLD to {0,255}; the oracle states
                        # the same thresholding in closed form (the one
                        # lane whose values transform — still
                        # row-closed-form from documents columns)
                        from simsearch_spark.multimodal.tiff import (
                            encode_tiff_ccitt,
                        )

                        ccomp = (
                            2 if d % 128 == 23
                            else 3 if d % 128 == 87
                            else 4
                        )
                        bi = bytes(255 if v >= 128 else 0 for v in row)
                        payloads.append(
                            encode_tiff_ccitt(w, h, bi * h, compression=ccomp)
                        )
                        continue
                    comp, pred = {
                        3: ("lzw", 2),
                        11: ("packbits", 1),
                        7: ("lzw", 1),
                        15: (None, 1),
                    }[d % 16]
                    if d % 64 == 19:
                        # r13: Deflate (TechNote 2 tag 8) + predictor 2 —
                        # carved from the LE LZW lane; still lossless, so
                        # the oracle is untouched
                        comp = "deflate"
                    if d % 32 == 15:
                        # r12: MULTI-PAGE lane — the real image is page 0
                        # and a decoy second page follows in the IFD
                        # chain; the decoder must stay on page 0, so the
                        # closed-form oracle is chain-invariant
                        from simsearch_spark.multimodal.tiff import (
                            encode_tiff_multipage,
                        )

                        payloads.append(
                            encode_tiff_multipage(
                                [(w, h, 1, row * h), (2, 1, 1, b"\x00\xff")],
                                big_endian=True,
                            )
                        )
                        continue
                    payloads.append(
                        encode_tiff(
                            w, h, 1, row * h, big_endian=d % 8 == 7,
                            compression=comp, predictor=pred,
                            # r12: d%32==31 stores 16-BIT gray (exact
                            # v*257 widening) and d%64==35 16-bit under
                            # LZW+predictor-2 (sample-space differencing)
                            # — still oracle-invariant
                            bits_per_sample=(
                                16 if d % 32 == 31 or d % 64 == 35 else 8
                            ),
                        )
                    )
                elif d % 16 == 13:
                    # r12: Netpbm lane — d%32==29 ASCII P2; binary P5 splits
                    # d%64==13 SIXTEEN-BIT (maxval 65535, v*257 samples — the
                    # exact widening, so the oracle stays codec-invariant) vs
                    # d%64==45 classic 8-bit
                    from simsearch_spark.multimodal.netpbm import encode_netpbm

                    payloads.append(
                        encode_netpbm(
                            w, h, 1, row * h,
                            ascii_variant=d % 32 == 29,
                            maxval=65535 if d % 64 == 13 else 255,
                        )
                    )
                elif d % 2:
                    payloads.append(encode_gif(w, h, 1, row * h))
                elif d % 4 == 2:
                    # r12: the BMP lane spreads sub-variants — d%16==6
                    # BI_RLE8; d%32==2 ONE-BIT palette (the two-tone image
                    # is exactly 2 distinct grays, so the minimal palette
                    # round-trips it); ==18 BI_RLE4 (4-bit palette); ==26
                    # TOP-DOWN rows; else plain 8-bit.  All lossless, so
                    # the closed-form oracle is variant-invariant.
                    payloads.append(
                        encode_bmp(
                            w, h, 1, row * h,
                            rle=d % 16 == 6 or d % 32 == 18,
                            bits={2: 1, 18: 4}.get(d % 32),
                            top_down=d % 32 == 26,
                        )
                    )
                else:
                    # r11: (d//4) % 10 in 5..9 writes the Adam7 interlaced
                    # layout (same filter cycle); lossless either way, so
                    # the closed-form oracle is layout-invariant
                    payloads.append(
                        encode_png(
                            w, h, 1, row * h,
                            filter_types=(d // 4) % 5,
                            interlace=(d // 4) % 10 >= 5,
                        )
                    )
            yield pd.DataFrame(
                {
                    "media_id": pdf["doc_id"],
                    "kind": "image",
                    "payload": payloads,
                    "mime": "image/png",
                }
            )

    media = fanout_for_kernel(docs, "doc_id").mapInPandas(
        synth, "media_id long, kind string, payload binary, mime string"
    )
    return pixel_stats(media).select(
        "media_id", "decoded", "width", "height", "channels", "mean_c0"
    )


SQL_MEDIA_PIXEL_STATS = """
SELECT doc_id AS media_id, 'ok' AS decoded,
       (n_chars % 31 + 2)::INT AS width, (doc_id % 7 + 1)::INT AS height,
       1 AS channels,
       CASE WHEN doc_id % 128 IN (23, 87) OR doc_id % 64 = 39
            -- r13 bilevel CCITT lanes: the two half values threshold to
            -- {0, 255} before encoding (1-bit fax can carry no grays)
            THEN round(((CASE WHEN doc_id % 256 >= 128 THEN 255 ELSE 0 END)
                          * ((n_chars % 31 + 2) // 2)
                        + (CASE WHEN (doc_id * 7 + 13) % 256 >= 128
                                THEN 255 ELSE 0 END)
                          * ((n_chars % 31 + 2) - (n_chars % 31 + 2) // 2)
                       )::DOUBLE / (n_chars % 31 + 2), 6)
            ELSE round(((doc_id % 256) * ((n_chars % 31 + 2) // 2)
                        + ((doc_id * 7 + 13) % 256)
                          * ((n_chars % 31 + 2) - (n_chars % 31 + 2) // 2)
                       )::DOUBLE / (n_chars % 31 + 2), 6)
       END AS mean_c0
FROM documents
"""


# -----------------------------------------------------------------------------
# media_audio_stats: REAL WAV decode end to end
# -----------------------------------------------------------------------------


def q_media_audio_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full audio decode path (multimodal/wav.py): each document becomes a
    real PCM-16 WAV square wave — amplitude ``(doc_id % 200 + 10)*100``,
    half-period ``doc_id % 5 + 1`` samples, ``n_chars % 8 + 2`` cycles,
    rate ``8000 + (doc_id % 4)*4000`` — and the engine must recover the
    closed-form duration, RMS (= amplitude exactly for a square wave), and
    zero-crossing count (2·cycles − 1).  Samples never exist outside the
    Arrow batch.

    r9: doc_ids ≡ 1, 5 (mod 8) encode the same PCM as FLAC
    (multimodal/flac.py) — the compressed-audio path runs for real through
    the ``decode_audio`` dispatcher, and because FLAC is lossless the
    closed-form oracle is codec-invariant (the same gating pattern as
    media_jpeg_stats' progressive rotation).

    r10: doc_ids ≡ 3 (mod 8) store G.711 μ-LAW and ≡ 7 (mod 8) A-LAW WAVs
    (format tags 7/6, multimodal/g711.py — telephony audio).  G.711 is
    lossy in general, so those documents' amplitudes are drawn from the
    codec's REPRESENTABLE level set via the G.711 decode closed form
    (m = doc_id%15+1 / doc_id%16, e = (doc_id//16)%8) — companding is
    idempotent on those levels (exhaustively verified in
    tests/test_g711.py), the round trip is exact, and the oracle states
    the same amplitude in closed form.

    r11: doc_ids ≡ 9 (mod 16) store IMA ADPCM WAVs (tag 0x11,
    multimodal/adpcm.py — verified byte-exactly against CPython audioop)
    carrying the coder's exactly-representable shape: a CONSTANT wave,
    whose rms is the amplitude and whose zero-crossing count is 0 — both
    stated in closed form by the oracle.

    r12: the remaining even lanes spread across the other real-world PCM
    containers — ≡ 0 (mod 16): AIFF (big-endian, 80-bit-extended rate,
    multimodal/aiff.py); ≡ 4 (mod 16): Sun AU (multimodal/au.py);
    ≡ 8 (mod 16): WAVE_FORMAT_EXTENSIBLE-wrapped PCM; ≡ 2: 24-BIT PCM
    WAV and ≡ 6: 32-BIT PCM WAV (int16 widened into the top bytes —
    exact reductions); ≡ 12: AIFC ``sowt`` (byte-swapped LE PCM);
    ≡ 10 (mod 32): IEEE-FLOAT WAV (tag 3) and ≡ 14 (mod 32): AIFC
    ``fl32`` (s/32768.0 is float32-exact for every int16); FLAC
    lanes spread sample sizes — ≡ 13: 24-bit, ≡ 5: 32-bit.  All
    lossless, so the closed-form oracle is container-invariant."""
    from simsearch_spark.multimodal.aiff import encode_aiff
    from simsearch_spark.multimodal.au import encode_au
    from simsearch_spark.multimodal.binary import audio_stats
    from simsearch_spark.multimodal.flac import encode_flac
    from simsearch_spark.multimodal.wav import encode_wav

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads, mimes = [], []
            for d, c in zip(pdf["doc_id"], pdf["n_chars"]):
                d, c = int(d), int(c)
                e = (d // 16) % 8
                if d % 8 == 3:  # μ-law representable level
                    m = d % 15 + 1
                    amp = ((8 * m + 132) << e) - 132
                elif d % 8 == 7:  # A-law representable level
                    m = d % 16
                    amp = (16 * m + 8) if e == 0 else ((m + 16) << (e + 3)) + (1 << (e + 2))
                else:
                    amp = (d % 200 + 10) * 100
                half = d % 5 + 1
                cycles = c % 8 + 2
                rate = 8000 + (d % 4) * 4000
                wave = ([amp] * half + [-amp] * half) * cycles
                if d % 8 == 3:
                    payloads.append(encode_wav(wave, rate, codec="ulaw"))
                    mimes.append("audio/wav")
                elif d % 8 == 7:
                    payloads.append(encode_wav(wave, rate, codec="alaw"))
                    mimes.append("audio/wav")
                elif d % 16 == 9:
                    # r11: IMA ADPCM lane (tag 0x11).  The coder is lossy
                    # in general, but a CONSTANT signal round-trips
                    # EXACTLY: the block header carries the first sample
                    # verbatim and every zero-magnitude nibble reconstructs
                    # +step>>3 = 0 at the floor step of 7 — so rms = amp
                    # and zero_crossings = 0 hold in closed form.
                    const = [amp] * (2 * half * cycles)
                    payloads.append(encode_wav(const, rate, codec="ima_adpcm"))
                    mimes.append("audio/wav")
                elif d % 2:
                    # r12: d%16==13 stores 24-bit and ==5 32-bit FLAC —
                    # the exact int16 widening, so still oracle-invariant
                    fbps = {13: 24, 5: 32}.get(d % 16, 16)
                    payloads.append(
                        encode_flac(wave, rate, bits_per_sample=fbps)
                    )
                    mimes.append("audio/flac")
                elif d % 16 == 0:
                    payloads.append(encode_aiff(wave, rate))
                    mimes.append("audio/aiff")
                elif d % 16 == 4:
                    payloads.append(encode_au(wave, rate))
                    mimes.append("audio/basic")
                elif d % 16 == 8:
                    payloads.append(encode_wav(wave, rate, extensible=True))
                    mimes.append("audio/wav")
                elif d % 16 == 2:
                    # r12: 24-bit PCM WAV — int16 widened into the top
                    # bytes, so the reduction back is exact
                    payloads.append(encode_wav(wave, rate, codec="pcm24"))
                    mimes.append("audio/wav")
                elif d % 16 == 6:
                    # r12: 32-bit PCM WAV — same exact widening
                    payloads.append(encode_wav(wave, rate, codec="pcm32"))
                    mimes.append("audio/wav")
                elif d % 16 == 12:
                    # r12: AIFC sowt — byte-swapped LE PCM, lossless
                    payloads.append(encode_aiff(wave, rate, aifc="sowt"))
                    mimes.append("audio/aiff")
                elif d % 32 == 10:
                    # r12: IEEE-float WAV (tag 3) — s/32768.0 is
                    # float32-exact, so the oracle is unchanged
                    payloads.append(encode_wav(wave, rate, codec="float32"))
                    mimes.append("audio/wav")
                elif d % 32 == 14:
                    # r12: AIFC fl32 — the BE float sibling, same exactness
                    payloads.append(encode_aiff(wave, rate, aifc="fl32"))
                    mimes.append("audio/aiff")
                else:
                    payloads.append(encode_wav(wave, rate))
                    mimes.append("audio/wav")
            yield pd.DataFrame(
                {
                    "media_id": pdf["doc_id"],
                    "kind": "audio",
                    "payload": payloads,
                    "mime": mimes,
                }
            )

    media = fanout_for_kernel(docs, "doc_id").mapInPandas(
        synth, "media_id long, kind string, payload binary, mime string"
    )
    return audio_stats(media)


SQL_MEDIA_AUDIO_STATS = """
SELECT doc_id AS media_id, 'ok' AS decoded,
       (8000 + (doc_id % 4) * 4000)::INT AS sample_rate, 1 AS channels,
       (2 * (doc_id % 5 + 1) * (n_chars % 8 + 2))::BIGINT AS n_samples,
       round((2 * (doc_id % 5 + 1) * (n_chars % 8 + 2))::DOUBLE
             / (8000 + (doc_id % 4) * 4000), 6) AS duration_s,
       -- G.711-routed docs use amplitudes from the codec's representable
       -- level set (the G.711 decode closed forms), everything else the
       -- original synthesis amplitude
       (CASE WHEN doc_id % 8 = 3
             THEN ((doc_id % 15 + 1) * 8 + 132) * power(2, (doc_id // 16) % 8) - 132
             WHEN doc_id % 8 = 7 AND (doc_id // 16) % 8 = 0
             THEN 16 * (doc_id % 16) + 8
             WHEN doc_id % 8 = 7
             THEN (doc_id % 16 + 16) * power(2, (doc_id // 16) % 8 + 3)
                  + power(2, (doc_id // 16) % 8 + 2)
             ELSE (doc_id % 200 + 10) * 100 END)::DOUBLE AS rms,
       -- the ADPCM lane (doc_id % 16 = 9) carries a CONSTANT wave (the
       -- coder's exactly-representable shape): no crossings
       (CASE WHEN doc_id % 16 = 9 THEN 0
             ELSE 2 * (n_chars % 8 + 2) - 1 END)::BIGINT AS zero_crossings
FROM documents
"""


# -----------------------------------------------------------------------------
# media_frame_sample: REAL video container parsing end to end
# -----------------------------------------------------------------------------

FRAME_EVERY_N = 2


def q_media_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full video container path (multimodal/avi.py): each document becomes
    a real AVI wrapping ``doc_id % 6 + 1`` frames of ``n_chars % 17 + 1``
    bytes each at 25 fps; the engine parses the container's frame index and
    samples every ``FRAME_EVERY_N``-th frame's ACTUAL bytes.  The oracle
    computes the identical sampled (frame_idx, frame size) fan-out in
    closed form — frame boundaries must land exactly for sizes to match."""
    from simsearch_spark.multimodal.avi import encode_avi_mjpeg
    from simsearch_spark.multimodal.binary import frame_sample

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for d, c in zip(pdf["doc_id"], pdf["n_chars"]):
                d, c = int(d), int(c)
                frames = [
                    bytes([(d + i) % 256]) * (c % 17 + 1) for i in range(d % 6 + 1)
                ]
                payloads.append(encode_avi_mjpeg(frames, fps=25))
            yield pd.DataFrame(
                {
                    "media_id": pdf["doc_id"],
                    "kind": "video",
                    "payload": payloads,
                    "mime": "video/avi",
                }
            )

    # no kernel fan-out: frames are <=17 bytes x <=6 per doc and only the
    # index is parsed — the exchange costs more than the kernel
    # (r14 site A/B: 0.86 s fanned vs 0.47 s direct at sf0.1)
    media = docs.mapInPandas(
        synth, "media_id long, kind string, payload binary, mime string"
    )
    from pyspark.sql import functions as F

    return frame_sample(media, every_n=FRAME_EVERY_N).select(
        "media_id",
        "decoded",
        "fps",
        "n_frames",
        "frame_idx",
        F.length("frame").cast("long").alias("frame_bytes"),
    )


SQL_MEDIA_FRAME_SAMPLE = f"""
SELECT doc_id AS media_id, 'ok' AS decoded, 25.0::DOUBLE AS fps,
       (doc_id % 6 + 1)::INT AS n_frames, u.i::INT AS frame_idx,
       (n_chars % 17 + 1)::BIGINT AS frame_bytes
FROM documents, unnest(range(0, doc_id % 6 + 1, {FRAME_EVERY_N})) AS u(i)
"""


# -----------------------------------------------------------------------------
# media_jpeg_stats: REAL JPEG entropy decode end to end
# -----------------------------------------------------------------------------


def q_media_jpeg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full JPEG decode path (multimodal/jpeg.py — Huffman entropy decode,
    dequantize, exact IDCT): each document becomes a real baseline JPEG,
    grayscale, 8px-block-aligned two-tone (left ``doc_id % 256``, right
    ``(doc_id*11 + 29) % 256``).  Every 8×8 block is constant, and at
    quality 85 the DC quantization step (≤5) bounds reconstruction error
    below 0.5 — so integer pixels decode EXACTLY and the oracle's
    closed-form mean must match to the last bit (the exactness property is
    unit-tested in tests/test_jpeg.py::test_grayscale_block_constant_is_exact).

    Odd doc_ids encode PROGRESSIVE (SOF2, r8) instead of baseline: the
    shared quantizer makes reconstruction bit-identical, so one oracle
    covers both entropy layouts and the multi-scan decode path runs on
    half the declared corpus.

    r12: doc_ids ≡ 4 (mod 16) wrap the same baseline entropy data in a
    self-contained JPEG-in-TIFF container (compression 7) and ≡ 12
    (mod 16) in the JPEGTables form (tag 347, 8-row strips — shared
    abbreviated tables spliced per strip), so both real-world TIFF-JPEG
    layouts hold a driver verdict; the shared quantizer keeps the oracle
    codec-invariant.

    r13: doc_ids ≡ 6 (mod 32) encode 12-BIT extended-sequential (SOF1,
    ``encode_jpeg_12``) with values widened v*16 — the decoder's /16
    reduction returns the exact 8-bit content, oracle untouched."""
    from simsearch_spark.multimodal.binary import pixel_stats
    from simsearch_spark.multimodal.jpeg import encode_jpeg, encode_jpeg_progressive
    from simsearch_spark.multimodal.tiff import encode_tiff_jpeg

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for d, c in zip(pdf["doc_id"], pdf["n_chars"]):
                d, c = int(d), int(c)
                w = 8 * (c % 4 + 2)
                half = 8 * ((c % 4 + 2) // 2)
                h = d % 9 + 4
                a, b = d % 256, (d * 11 + 29) % 256
                row = bytes([a] * half + [b] * (w - half))
                if d % 16 == 4:
                    payloads.append(encode_tiff_jpeg(w, h, 1, row * h, quality=85))
                    continue
                if d % 16 == 12:
                    payloads.append(
                        encode_tiff_jpeg(
                            w, h, 1, row * h, quality=85,
                            rows_per_strip=8, jpegtables=True,
                        )
                    )
                    continue
                if d % 32 == 6:
                    # r13: 12-BIT SOF1 lane — the same block-constant
                    # content widened v*16; the decoder's /16 reduction
                    # returns the exact 8-bit values, so the closed-form
                    # oracle is untouched
                    from simsearch_spark.multimodal.jpeg import encode_jpeg_12

                    payloads.append(
                        encode_jpeg_12(
                            w, h, [v * 16 for v in row] * h, quality=85
                        )
                    )
                    continue
                enc = encode_jpeg_progressive if d % 2 else encode_jpeg
                payloads.append(enc(w, h, 1, row * h, quality=85))
            yield pd.DataFrame(
                {
                    "media_id": pdf["doc_id"],
                    "kind": "image",
                    "payload": payloads,
                    "mime": "image/jpeg",
                }
            )

    media = fanout_for_kernel(docs, "doc_id").mapInPandas(
        synth, "media_id long, kind string, payload binary, mime string"
    )
    return pixel_stats(media).select(
        "media_id", "decoded", "width", "height", "channels", "mean_c0"
    )


SQL_MEDIA_JPEG_STATS = """
SELECT doc_id AS media_id, 'ok' AS decoded,
       (8 * (n_chars % 4 + 2))::INT AS width, (doc_id % 9 + 4)::INT AS height,
       1 AS channels,
       round(((doc_id % 256) * (8 * ((n_chars % 4 + 2) // 2))
              + ((doc_id * 11 + 29) % 256)
                * (8 * (n_chars % 4 + 2) - 8 * ((n_chars % 4 + 2) // 2)))::DOUBLE
             / (8 * (n_chars % 4 + 2)), 6) AS mean_c0
FROM documents
"""


# -----------------------------------------------------------------------------
# media_frame_pixel_stats: REAL video frame PIXEL decode end to end (r7 —
# container index + per-frame JPEG entropy decode; closes the MJPEG half of
# the r6 'frame pixel decode' seam)
# -----------------------------------------------------------------------------


def q_media_frame_pixel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each document becomes a real MJPEG AVI of ``doc_id % 4 + 1`` frames;
    frame ``i`` is a UNIFORM ``(n_chars % 13 + 4)``×``(doc_id % 5 + 3)``
    grayscale baseline JPEG of value ``(doc_id*13 + i*37) % 256`` — uniform
    images are block-constant whatever the geometry, so q85 decodes the
    integer value exactly (tests/test_jpeg.py exactness property) and the
    sampled per-frame mean has a closed form.  The engine runs
    `frame_pixel_stats`: AVI frame index + per-frame entropy decode inside
    one Arrow batch — pixels and frame bytes never leave the task.

    r9: ODD doc_ids carry the same uniform frames as UNCOMPRESSED BI_RGB
    DIB video (``encode_avi_raw`` — bottom-up BGR, 4-byte stride), so the
    raw-video decode route runs for real; lossless, so mean_c0 keeps the
    same closed form (channels become 3).  r12: within the odd lanes,
    d%8==3 stores YUY2 and ==7 I420 (gray is a fixed point of the
    fixed-point BT.601 matrix — still exact, same closed form).

    r11: doc_ids ≡ 2 (mod 4) carry the same uniform frames as an ANIMATED
    GIF (``encode_gif_animation`` — GCE per frame, NETSCAPE loop block;
    decoded by ``decode_gif_frames``'s full compositing), so the
    animation route runs for real; palette-lossless gray, same closed
    form (channels 1, like the MJPEG lane)."""
    from simsearch_spark.multimodal.avi import encode_avi_mjpeg, encode_avi_raw
    from simsearch_spark.multimodal.binary import frame_pixel_stats
    from simsearch_spark.multimodal.gif import encode_gif_animation
    from simsearch_spark.multimodal.jpeg import encode_jpeg

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for d, c in zip(pdf["doc_id"], pdf["n_chars"]):
                d, c = int(d), int(c)
                w, h = c % 13 + 4, d % 5 + 3
                if d % 2:
                    frames = [
                        bytes([(d * 13 + i * 37) % 256]) * (w * h * 3)
                        for i in range(d % 4 + 1)
                    ]
                    # r12: the odd (raw) lanes spread fourccs — d%8==3
                    # carries YUY2 and ==7 I420 (gray frames map to
                    # Cb=Cr=128 exactly under the fixed-point BT.601
                    # matrix, so the closed-form mean survives); ==1,5
                    # stay BI_RGB DIB
                    if d % 8 in (3, 7):
                        from simsearch_spark.multimodal.avi import encode_avi_yuv

                        payloads.append(
                            encode_avi_yuv(
                                frames, w, h, fps=25,
                                fourcc=b"YUY2" if d % 8 == 3 else b"I420",
                            )
                        )
                    else:
                        payloads.append(encode_avi_raw(frames, w, h, fps=25))
                    continue
                if d % 4 == 2:
                    gray = [
                        bytes([(d * 13 + i * 37) % 256]) * (w * h)
                        for i in range(d % 4 + 1)
                    ]
                    payloads.append(encode_gif_animation(w, h, 1, gray))
                    continue
                frames = [
                    encode_jpeg(
                        w, h, 1, bytes([(d * 13 + i * 37) % 256]) * (w * h), quality=85
                    )
                    for i in range(d % 4 + 1)
                ]
                payloads.append(encode_avi_mjpeg(frames, fps=25))
            yield pd.DataFrame(
                {
                    "media_id": pdf["doc_id"],
                    "kind": "video",
                    "payload": payloads,
                    "mime": "video/avi",
                }
            )

    media = fanout_for_kernel(docs, "doc_id").mapInPandas(
        synth, "media_id long, kind string, payload binary, mime string"
    )
    return frame_pixel_stats(media, every_n=FRAME_EVERY_N)


SQL_MEDIA_FRAME_PIXEL_STATS = f"""
SELECT doc_id AS media_id, 'ok' AS decoded,
       (doc_id % 4 + 1)::INT AS n_frames, u.i::INT AS frame_idx,
       (n_chars % 13 + 4)::INT AS width, (doc_id % 5 + 3)::INT AS height,
       (CASE WHEN doc_id % 2 = 1 THEN 3 ELSE 1 END)::INT AS channels,
       ((doc_id * 13 + u.i * 37) % 256)::DOUBLE AS mean_c0
FROM documents, unnest(range(0, doc_id % 4 + 1, {FRAME_EVERY_N})) AS u(i)
"""


# -----------------------------------------------------------------------------
# media_audio_spectral: real FFT frequency analysis over decoded PCM
# -----------------------------------------------------------------------------

AUDIO_RATE = 8000


def q_media_audio_spectral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dominant-frequency analysis over REAL decoded audio: each document
    becomes a PCM-16 WAV square wave with an exact integer number of
    cycles (period ``2·(doc_id%5+2)`` samples, ``doc_id%7+2`` cycles), so
    the rFFT's dominant non-DC bin is exactly the cycle count (harmonics
    fall at odd multiples with 1/m amplitudes — verified numerically for
    every fixture shape) and the dominant frequency has the closed form
    ``rate / period``.  The pipeline is decode → numpy rFFT → argmax in
    one Arrow batch; samples never leave the task.

    r9: odd doc_ids carry FLAC (lossless → identical samples, identical
    closed-form spectrum), so the compressed-audio decode path is gated
    here too."""
    from simsearch_spark.multimodal.binary import audio_spectral
    from simsearch_spark.multimodal.flac import encode_flac
    from simsearch_spark.multimodal.wav import encode_wav

    docs = load_table(spark, sf_dir, "documents").select("doc_id")

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads, mimes = [], []
            for d in pdf["doc_id"]:
                d = int(d)
                p, c = 2 * (d % 5 + 2), d % 7 + 2
                amp = 3000 + (d % 50) * 100
                wave = ([amp] * (p // 2) + [-amp] * (p // 2)) * c
                if d % 2:
                    payloads.append(encode_flac(wave, AUDIO_RATE))
                    mimes.append("audio/flac")
                else:
                    payloads.append(encode_wav(wave, AUDIO_RATE))
                    mimes.append("audio/wav")
            yield pd.DataFrame(
                {
                    "media_id": pdf["doc_id"],
                    "kind": "audio",
                    "payload": payloads,
                    "mime": mimes,
                }
            )

    media = fanout_for_kernel(docs, "doc_id").mapInPandas(
        synth, "media_id long, kind string, payload binary, mime string"
    )
    return audio_spectral(media)


SQL_MEDIA_AUDIO_SPECTRAL = f"""
SELECT doc_id AS media_id, 'ok' AS decoded,
       (2 * (doc_id % 5 + 2) * (doc_id % 7 + 2))::BIGINT AS n_samples,
       (doc_id % 7 + 2)::INT AS dominant_bin,
       round((doc_id % 7 + 2)::DOUBLE * {AUDIO_RATE}
             / (2 * (doc_id % 5 + 2) * (doc_id % 7 + 2)), 6) AS dominant_hz
FROM documents
"""


# -----------------------------------------------------------------------------
# media_shot_boundaries: video shot/scene-boundary detection — the curation
# step that segments raw video into shots before frame sampling
# -----------------------------------------------------------------------------

#: mean-luminance jump that marks a shot boundary; planted intra-shot drift
#: is 1/frame, planted inter-shot jumps are ~88-167
SHOT_T = 50.0


def q_media_shot_boundaries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shot-boundary detection over REAL decoded video frames: each document
    becomes an MJPEG AVI with PLANTED shot structure — shots of 3 frames
    whose uniform luminance drifts by 1 within a shot and jumps ~90 between
    shots (values built mod 253 so the +i%3 drift never wraps; a 90-step
    mod-253 jump lands at |Δ| ∈ {88..92, 161..165}, always ≥ SHOT_T).
    The pipeline is the composition a video curator runs: AVI index + JPEG
    entropy decode (one Arrow batch, frames never leave the task) → per-
    frame mean → one lag window per video → threshold.  Uniform q85 frames
    decode exactly, so means, deltas, and verdicts are all closed-form.

    100 TB shape: decode is row-local; the only exchange is the window
    partitioned by media_id (per-video frame counts are bounded); boundary
    logic is codegen column math."""
    from simsearch_spark.multimodal.avi import encode_avi_mjpeg
    from simsearch_spark.multimodal.binary import frame_pixel_stats
    from simsearch_spark.multimodal.jpeg import encode_jpeg

    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # uniform frames depend only on (w, h, value): memoize the JPEG
        # encode per batch — fixture-synthesis cost, not operator cost
        # (the decode under test runs per frame regardless)
        memo: dict[tuple[int, int, int], bytes] = {}

        def frame(w: int, h: int, v: int) -> bytes:
            key = (w, h, v)
            if key not in memo:
                memo[key] = encode_jpeg(w, h, 1, bytes([v]) * (w * h), quality=85)
            return memo[key]

        for pdf in batches:
            payloads = []
            for d, c in zip(pdf["doc_id"], pdf["n_chars"]):
                d, c = int(d), int(c)
                w, h = c % 13 + 4, d % 5 + 3
                n = d % 6 + 4  # 4..9 frames -> 2-3 shots of 3
                frames = [
                    frame(w, h, (d * 17 + (i // 3) * 90) % 253 + i % 3)
                    for i in range(n)
                ]
                payloads.append(encode_avi_mjpeg(frames, fps=25))
            yield pd.DataFrame(
                {
                    "media_id": pdf["doc_id"],
                    "kind": "video",
                    "payload": payloads,
                    "mime": "video/avi",
                }
            )

    media = fanout_for_kernel(docs, "doc_id").mapInPandas(
        synth, "media_id long, kind string, payload binary, mime string"
    )
    stats = frame_pixel_stats(media, every_n=1)
    w = Window.partitionBy("media_id").orderBy("frame_idx")
    delta = F.abs(F.col("mean_c0") - F.lag("mean_c0").over(w))
    return stats.select(
        "media_id",
        "frame_idx",
        "mean_c0",
        delta.alias("delta"),
        (delta > F.lit(SHOT_T)).alias("is_boundary"),
    )


SQL_MEDIA_SHOT_BOUNDARIES = f"""
WITH f AS (
  SELECT doc_id AS media_id, u.i::INT AS frame_idx,
         ((doc_id * 17 + (u.i // 3) * 90) % 253 + u.i % 3)::DOUBLE AS mean_c0
  FROM documents, unnest(range(0, doc_id % 6 + 4)) AS u(i)
)
SELECT media_id, frame_idx, mean_c0,
       abs(mean_c0 - lag(mean_c0) OVER (PARTITION BY media_id ORDER BY frame_idx)) AS delta,
       (abs(mean_c0 - lag(mean_c0) OVER (PARTITION BY media_id ORDER BY frame_idx))
        > {SHOT_T}) AS is_boundary
FROM f
"""


# -----------------------------------------------------------------------------
# media_image_dedup: image near-duplicate detection END TO END — real PNG
# encode -> real decode -> grid-luminance features -> block-tiled cosine pairs
# -----------------------------------------------------------------------------

#: cosine threshold for image near-dups: planted re-encodes score 1.0, the
#: planted +5 brightness shift ~0.999+, unrelated pseudo-random 16-d
#: luminance grids concentrate near ~0.75
IMG_DEDUP_T = 0.99


_MIX_M = 4294967296  # 2^32


def _mix32(x: int) -> int:
    """Murmur-style 32-bit avalanche finalizer, replayed verbatim by the
    DuckDB oracle.  A plain LCG/affine hash mod 251 is NOT enough here:
    any affine-in-(grp,i) construction collapses to ~251 phase-shifted
    copies of one arithmetic progression, whose luminance grids are all
    mutually ~cosine-1 — measured 7% of CROSS-group pairs above 0.99.
    With the finalizer the cross-pair max over 2M simulated pairs is
    0.985 vs a planted-pair min of 0.9995."""
    x %= _MIX_M
    x ^= x >> 16
    x = (x * 2654435761) % _MIX_M
    x ^= x >> 13
    x = (x * 2246822519) % _MIX_M
    x ^= x >> 16
    return x


def _img_pixels(doc_id: int) -> tuple[bytes, int]:
    """Planted-near-dup pixel synthesis shared by the declared query and the
    pytest recall fixture: docs come in groups of 3 (``grp = doc_id // 3``)
    — member 0 is the original 4x4 grayscale image, member 1 re-encodes the
    IDENTICAL pixels in a different CONTAINER (GIF since r10; the returned
    filter type remains the PNG-refiltering dual for tests), member 2
    shifts every pixel +5 (near dup).  Values stay in 0..250 so the shift
    never clips."""
    grp, mem = doc_id // 3, doc_id % 3
    shift = 5 if mem == 2 else 0
    px = bytes(_mix32(grp * 65536 + i) % 251 + shift for i in range(16))
    return px, (grp % 4 + 1) if mem == 1 else 0


def q_media_image_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The multimodal-pipeline dedup step: every document becomes a real 4x4
    grayscale image (each 4x4-grid feature cell is exactly ONE pixel, so
    the oracle recovers the embedding in closed form from the synthesis
    parameters), features come from the REAL decode path
    (``extract_pixel_features``), and near-dup pairs from the distributed
    block-tiled cosine kernel (``embedding_cosine_pairs``, the same EXACT
    path dedup_embed_cosine declared).

    CROSS-CODEC recall (r10): the group's re-encode member (mem 1) now
    stores the identical pixels as a GIF89a instead of a refiltered PNG —
    the dup must be found across CONTAINER FORMATS, the case byte-level
    dedup can never catch and real corpora (mirrors re-encoding images)
    actually present.  Both codecs are lossless so the closed-form oracle
    is unchanged.

    100 TB shape: synth/decode/featurize are row-local Arrow batches (no
    shuffle until the pair stage); the pair stage is the block-tiled
    BNL join with O(block²) bounded tasks — past tiling, block by k-means
    cell first (``semdedup``'s ``clustered_cosine_pairs``)."""
    from simsearch_spark.multimodal.binary import extract_pixel_features
    from simsearch_spark.multimodal.gif import encode_gif
    from simsearch_spark.multimodal.png import encode_png
    from simsearch_spark.operators.dedup import embedding_cosine_pairs

    docs = load_table(spark, sf_dir, "documents").select("doc_id")

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for d in pdf["doc_id"]:
                px, ft = _img_pixels(int(d))
                if int(d) % 3 == 1:  # the re-encode member: same pixels, GIF
                    payloads.append(encode_gif(4, 4, 1, px))
                else:
                    payloads.append(encode_png(4, 4, 1, px, filter_types=ft))
            yield pd.DataFrame(
                {
                    "media_id": pdf["doc_id"],
                    "kind": "image",
                    "payload": payloads,
                    "mime": "image/png",
                }
            )

    media = fanout_for_kernel(docs, "doc_id").mapInPandas(
        synth, "media_id long, kind string, payload binary, mime string"
    )
    feats = extract_pixel_features(media)  # grid=4 -> 16-d, one pixel per cell
    return embedding_cosine_pairs(feats, "media_id", "embedding", IMG_DEDUP_T)


SQL_MEDIA_IMAGE_DEDUP = f"""
WITH d AS (SELECT doc_id, doc_id // 3 AS grp, doc_id % 3 AS mem FROM documents),
ix AS (SELECT doc_id, grp, mem, unnest(range(0, 16)) AS i FROM d),
m0 AS (SELECT doc_id, mem, i, (grp * 65536 + i) % {_MIX_M} AS x FROM ix),
m1 AS (SELECT doc_id, mem, i,
              (xor(x, x >> 16)::HUGEINT * 2654435761) % {_MIX_M} AS x FROM m0),
m2 AS (SELECT doc_id, mem, i,
              (xor(x::BIGINT, x::BIGINT >> 13)::HUGEINT * 2246822519) % {_MIX_M} AS x
       FROM m1),
m3 AS (SELECT doc_id, mem, i, xor(x::BIGINT, x::BIGINT >> 16) AS x FROM m2),
px AS (SELECT doc_id, i,
              round((x % 251 + CASE WHEN mem = 2 THEN 5 ELSE 0 END) / 255.0, 6) AS ev
       FROM m3),
e AS (SELECT doc_id, list(ev ORDER BY i) AS emb FROM px GROUP BY doc_id)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       round({_cosine_sql('a.emb', 'b.emb')}, 6) AS cos_sim
FROM e a JOIN e b ON a.doc_id < b.doc_id
WHERE round({_cosine_sql('a.emb', 'b.emb')}, 6) >= {IMG_DEDUP_T}
"""


MEDIA_QUERIES = {
    "media_meta": (q_media_meta, SQL_MEDIA_META),
    "media_pixel_stats": (q_media_pixel_stats, SQL_MEDIA_PIXEL_STATS),
    "media_audio_stats": (q_media_audio_stats, SQL_MEDIA_AUDIO_STATS),
    "media_frame_sample": (q_media_frame_sample, SQL_MEDIA_FRAME_SAMPLE),
    "media_jpeg_stats": (q_media_jpeg_stats, SQL_MEDIA_JPEG_STATS),
    "media_frame_pixel_stats": (
        q_media_frame_pixel_stats,
        SQL_MEDIA_FRAME_PIXEL_STATS,
    ),
    "media_image_dedup": (q_media_image_dedup, SQL_MEDIA_IMAGE_DEDUP),
    "media_shot_boundaries": (q_media_shot_boundaries, SQL_MEDIA_SHOT_BOUNDARIES),
    "media_audio_spectral": (q_media_audio_spectral, SQL_MEDIA_AUDIO_SPECTRAL),
}
