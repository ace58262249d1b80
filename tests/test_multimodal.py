"""Multimodal plumbing: binary schema, Arrow batching, stubbed codec."""

from __future__ import annotations

import pytest

from tests.conftest import SF_DIR


def test_decode_stub_raises_without_fake():
    from data_pipeline_with_hdfs_sql_integration_spark.plans.multimodal import decode_image

    with pytest.raises(NotImplementedError):
        decode_image(b"abc")


def test_fake_decode_deterministic():
    from data_pipeline_with_hdfs_sql_integration_spark.plans.multimodal import decode_image

    assert decode_image(b"abc", fake=True) == [3.0, 97.0, 99.0, float((97 + 98 + 99) % 997)]
    assert decode_image(b"", fake=True) == [0.0, 0.0, 0.0, 0.0]


def test_feature_extraction_matches_driver_side(spark):
    from data_pipeline_with_hdfs_sql_integration_spark.plans.multimodal import extract_features, media_table

    media = media_table(spark, SF_DIR)
    feats = extract_features(media).orderBy("media_id").limit(5).collect()
    raw = media.orderBy("media_id").limit(5).collect()
    for f, r in zip(feats, raw):
        payload = bytes(r["payload"])
        assert f["media_id"] == r["media_id"]
        assert f["n_bytes"] == len(payload)
        assert f["checksum"] == sum(payload) % 1_000_000_007
        assert f["feat"][0] == float(len(payload))


def test_payload_binary_type(spark):
    from data_pipeline_with_hdfs_sql_integration_spark.plans.multimodal import media_table

    schema = dict(media_table(spark, SF_DIR).dtypes)
    assert schema["payload"] == "binary"
    assert schema["n_bytes"] == "bigint"


def test_resize_stub_gates_and_fakes():
    """Formats the repo codecs can't parse still gate / fake; the
    PNG/JPEG paths are real (tested below)."""
    import pytest

    from data_pipeline_with_hdfs_sql_integration_spark.plans.multimodal import resize_image

    with pytest.raises(NotImplementedError):
        resize_image(b"xy", 2, 2)
    thumb = resize_image(bytes(range(100)), 4, 4, fake=True)
    assert len(thumb) == 16 and thumb == resize_image(bytes(range(100)), 4, 4, fake=True)


def test_resize_image_real_png_and_jpeg():
    """resize_image decodes PNG and baseline-JPEG payloads for real,
    box-averages exactly on integer factors, and returns a valid PNG."""
    from data_pipeline_with_hdfs_sql_integration_spark.plans.multimodal import (
        jpeg_codec,
        png_codec,
        resize_image,
    )

    penc, pdec = png_codec()
    # 4x4 gradient -> 2x2 exact area average.
    px = list(range(16))
    out = resize_image(penc(px, 4, 4), 2, 2)
    w, h, got = pdec(out)
    assert (w, h) == (2, 2)
    # (0+1+4+5+2)//4=3, (2+3+6+7+2)//4=5, (8+9+12+13+2)//4=11, ...=13
    assert got == [3, 5, 11, 13]
    # JPEG source: a flat 8x8 block decodes exactly, then pools exactly.
    jenc, _ = jpeg_codec()
    out2 = resize_image(jenc([100] * 64, 8, 8), 4, 4)
    _, _, got2 = pdec(out2)
    assert got2 == [100] * 16
    # Non-integer ratio: deterministic nearest-neighbor fallback.
    out3 = resize_image(penc(px, 4, 4), 3, 3)
    w3, h3, got3 = pdec(out3)
    assert (w3, h3) == (3, 3)
    assert got3 == [px[(y * 4) // 3 * 4 + (x * 4) // 3] for y in range(3) for x in range(3)]


# ------------------------------------------------------------- PNG codec
def test_png_roundtrip_all_filters():
    """H=12 rows cycle filters 0..4 (incl. two full cycles + None/Sub),
    so a round-trip match proves every unfilter path."""
    from data_pipeline_with_hdfs_sql_integration_spark.plans.multimodal import png_codec

    enc, dec = png_codec()
    w, h = 16, 12
    pixels = [(y * 31 + x * 7) % 256 for y in range(h) for x in range(w)]
    payload = enc(pixels, w, h)
    assert payload[:8] == b"\x89PNG\r\n\x1a\n"
    dw, dh, out = dec(payload)
    assert (dw, dh) == (w, h)
    assert out == pixels


def test_png_roundtrip_adversarial_pixels():
    from data_pipeline_with_hdfs_sql_integration_spark.plans.multimodal import png_codec

    enc, dec = png_codec()
    cases = [
        ([0] * 48, 8, 6),
        ([255] * 48, 8, 6),
        ([255 if (x + y) % 2 else 0 for y in range(7) for x in range(5)], 5, 7),
        ([1], 1, 1),
    ]
    for pixels, w, h in cases:
        assert dec(enc(pixels, w, h))[2] == pixels


def test_png_crc_corruption_detected():
    import pytest

    from data_pipeline_with_hdfs_sql_integration_spark.plans.multimodal import png_codec

    enc, dec = png_codec()
    payload = bytearray(enc([7] * 16, 4, 4))
    # Flip a byte inside the IDAT data (after sig+IHDR chunk = 8+25 bytes,
    # skip the IDAT length+tag too).
    payload[8 + 25 + 8 + 2] ^= 0xFF
    with pytest.raises(ValueError, match="CRC"):
        dec(bytes(payload))


def test_decode_image_real_png_no_fake_needed():
    from data_pipeline_with_hdfs_sql_integration_spark.plans.multimodal import decode_image, png_codec

    enc, _ = png_codec()
    pixels = [3, 1, 4, 1, 5, 9, 2, 6]
    feat = decode_image(enc(pixels, 4, 2))  # no fake=True
    assert feat == [4.0, 2.0, float(sum(pixels)), float(sum(v * v for v in pixels))]


def test_png_stats_query_matches_formula(spark):
    from data_pipeline_with_hdfs_sql_integration_spark.plans.multimodal import (
        PNG_H,
        PNG_MOD,
        PNG_W,
        multimodal_png_stats,
    )

    rows = multimodal_png_stats(spark, SF_DIR).orderBy("media_id").limit(5).collect()
    assert rows
    for r in rows:
        expect = [
            (r["media_id"] * 7 + y * 13 + x * 5) % PNG_MOD
            for y in range(PNG_H)
            for x in range(PNG_W)
        ]
        assert (r["width"], r["height"]) == (PNG_W, PNG_H)
        assert r["pixel_sum"] == sum(expect)
        assert r["energy"] == sum(v * v for v in expect)
