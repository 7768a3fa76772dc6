"""Value-level tests for ``operators/multimodal.py``: the pure-Python PNG
codec, the decode/resize batch kernels and their graceful degrade on bad
payloads, and the catalog entries built on them.
"""

from __future__ import annotations

import struct
import zlib

import pytest

from jaffle_shop_classic_spark.operators.catalog import load_catalog


def _png_payload(ihdr_body: bytes, raw: bytes) -> bytes:
    from jaffle_shop_classic_spark.operators import multimodal as mm

    return (
        mm._PNG_SIG
        + mm._png_chunk(b"IHDR", ihdr_body)
        + mm._png_chunk(b"IDAT", zlib.compress(raw))
        + mm._png_chunk(b"IEND", b"")
    )


def test_png_codec_roundtrip_all_filters_and_color_types():
    """The stdlib PNG codec must invert every scanline filter (the
    encoder cycles 0..4 per row) for gray, RGB, and RGBA — byte-exact
    roundtrip on a pattern with enough rows to hit all five filters."""
    from jaffle_shop_classic_spark.operators.multimodal import png_decode, png_encode

    for color_type, ch in ((0, 1), (2, 3), (6, 4)):
        w, h = 7, 11  # 11 rows -> every filter type used at least twice
        px = bytes(
            (x * 31 + y * 17 + c * 53) % 256
            for y in range(h)
            for x in range(w)
            for c in range(ch)
        )
        dw, dh, dch, out = png_decode(png_encode(w, h, px, color_type))
        assert (dw, dh, dch) == (w, h, ch)
        assert out == px


def test_png_decode_rejects_unsupported_features():
    from jaffle_shop_classic_spark.operators.multimodal import png_decode, png_encode
    import pytest

    with pytest.raises(ValueError):
        png_decode(b"not a png at all, clearly")
    # palette PNG (color type 3) is outside the envelope: splice the
    # IHDR of a valid file
    good = bytearray(png_encode(2, 2, bytes(12)))
    good[8 + 4 + 4 + 9] = 3  # IHDR color-type byte
    with pytest.raises(NotImplementedError):
        png_decode(bytes(good))


def test_decode_stub_batch_decodes_real_png_payloads(spark):
    """decode_stub_batch's PNG branch: a real PNG payload must come back
    with its true geometry (not the fake's n_bytes-derived one)."""
    from jaffle_shop_classic_spark.operators.multimodal import (
        DECODE_SCHEMA,
        decode_stub_batch,
        png_encode,
    )

    png = png_encode(5, 4, bytes(range(60)))
    df = spark.createDataFrame(
        [(1, bytearray(png)), (2, bytearray(b"plain text payload"))],
        "doc_id long, payload binary",
    )
    rows = {r["doc_id"]: r for r in df.mapInPandas(decode_stub_batch, DECODE_SCHEMA).collect()}
    assert (rows[1]["width"], rows[1]["height"], rows[1]["channels"]) == (5, 4, 3)
    assert rows[2]["channels"] == 3 and rows[2]["width"] == len(b"plain text payload") % 640


def test_mm_decode_png_means_match_closed_form(spark, tmp_path):
    """The catalog entry's decoded means must equal the closed-form
    pixel-pattern means — computed independently here in Python."""
    spark.createDataFrame(
        [(i, "x") for i in range(6)], "doc_id long, text string"
    ).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    rows = load_catalog()["mm_decode_png"].fn(spark, str(tmp_path)).collect()
    assert len(rows) == 6
    for r in rows:
        d = r["doc_id"]
        w, h = 4 + d % 5, 3 + d % 4
        assert (r["width"], r["height"], r["channels"]) == (w, h, 3)
        n = w * h
        exp_r = round(sum((x + y + d) % 256 for y in range(h) for x in range(w)) / n, 4)
        exp_g = round(sum((2 * x + 3 * y) % 256 for y in range(h) for x in range(w)) / n, 4)
        exp_b = round(sum((x * y + 7) % 256 for y in range(h) for x in range(w)) / n, 4)
        assert (r["mean_r"], r["mean_g"], r["mean_b"]) == (exp_r, exp_g, exp_b)


def test_mm_resize_png_nearest_neighbor_values(spark, tmp_path):
    """The resized means must equal the pattern evaluated at the
    nearest-neighbor index map sx = tx*w//tw, sy = ty*h//th — computed
    independently here."""
    from jaffle_shop_classic_spark.operators.multimodal import (
        MM_RESIZE_TH,
        MM_RESIZE_TW,
    )

    spark.createDataFrame(
        [(i, "x") for i in range(5)], "doc_id long, text string"
    ).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    rows = load_catalog()["mm_resize_png"].fn(spark, str(tmp_path)).collect()
    assert len(rows) == 5
    for r in rows:
        d = r["doc_id"]
        w, h = 4 + d % 5, 3 + d % 4
        coords = [
            ((tx * w) // MM_RESIZE_TW, (ty * h) // MM_RESIZE_TH)
            for ty in range(MM_RESIZE_TH)
            for tx in range(MM_RESIZE_TW)
        ]
        n = len(coords)
        assert (r["src_w"], r["src_h"]) == (w, h)
        assert r["mean_r"] == round(sum((x + y + d) % 256 for x, y in coords) / n, 4)
        assert r["mean_g"] == round(sum((2 * x + 3 * y) % 256 for x, y in coords) / n, 4)
        assert r["mean_b"] == round(sum((x * y + 7) % 256 for x, y in coords) / n, 4)


def test_decode_stub_degrades_gracefully_on_corrupt_png(spark):
    """Round-10 advice fix: a truncated/corrupt payload carrying a valid
    PNG signature must fall through to the deterministic fake branch
    instead of raising struct.error/zlib.error and failing the query."""
    from jaffle_shop_classic_spark.operators.multimodal import (
        DECODE_SCHEMA,
        decode_stub_batch,
        png_encode,
    )

    png = png_encode(5, 4, bytes(range(60)))
    truncated = png[:20]  # signature intact, IHDR/IDAT gone
    corrupt = bytearray(png)
    corrupt[40] ^= 0xFF  # garble the IDAT stream
    df = spark.createDataFrame(
        [(1, bytearray(truncated)), (2, bytes(corrupt)), (3, bytearray(png))],
        "doc_id long, payload binary",
    )
    rows = {
        r["doc_id"]: r
        for r in df.mapInPandas(decode_stub_batch, DECODE_SCHEMA).collect()
    }
    # 1 and 2 take the fake branch: geometry derives from byte length
    assert rows[1]["width"] == len(truncated) % 640
    assert rows[2]["width"] == len(corrupt) % 640
    # the intact payload still decodes for real
    assert (rows[3]["width"], rows[3]["height"]) == (5, 4)


def test_png_decode_short_idat_is_value_error_not_index_error(spark):
    """Round-11 advice (medium): a payload with a valid PNG signature and
    valid-zlib IDAT shorter than the IHDR-declared height used to raise
    IndexError at raw[y*(stride+1)], escaping the graceful-degrade tuple
    in the batch kernels and failing the whole query."""
    from jaffle_shop_classic_spark.operators import multimodal as mm

    # IHDR declares 4x5 gray (needs 5*(4+1)=25 raw bytes); IDAT carries 10
    short = _png_payload(struct.pack(">IIBBBBB", 4, 5, 8, 0, 0, 0, 0), bytes(10))
    with pytest.raises(ValueError, match="IDAT length"):
        mm.png_decode(short)

    # crafted IHDR declaring absurd dimensions must not try to allocate
    huge = _png_payload(
        struct.pack(">IIBBBBB", 1 << 20, 1 << 20, 8, 0, 0, 0, 0), b""
    )
    with pytest.raises(ValueError, match="decode budget"):
        mm.png_decode(huge)

    # and the batch kernel degrades to the deterministic fake branch
    df = spark.createDataFrame(
        [(1, bytearray(short)), (2, bytearray(huge))],
        "doc_id long, payload binary",
    )
    rows = {
        r["doc_id"]: r
        for r in df.mapInPandas(mm.decode_stub_batch, mm.DECODE_SCHEMA).collect()
    }
    assert rows[1]["width"] == len(short) % 640
    assert rows[2]["width"] == len(huge) % 640
