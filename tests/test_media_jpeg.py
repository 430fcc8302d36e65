"""Real baseline-JPEG decode path: a from-scratch test-side JPEG encoder
(forward DCT + canonical Huffman + byte stuffing, all-ones quant tables)
drives the engine decoder through grayscale, 4:4:4 and 4:2:0 color,
restart markers, and byte-stuffing edge cases.  With unit quant tables a
constant image round-trips its features to float32 exactness; textured
images stay within quantization-rounding tolerance."""

import numpy as np

from osm_to_netex_spark.operators import media
from tests.support import encode_jpeg


def _rgb_to_ycbcr(px):
    r, g, b = (px[:, :, i].astype(np.float64) for i in range(3))
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = 128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b
    cr = 128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b
    return (np.round(y).clip(0, 255), np.round(cb).clip(0, 255),
            np.round(cr).clip(0, 255))


def test_grayscale_constant_exact():
    plane = np.full((16, 16), 200.0)
    payload = encode_jpeg([plane], [(1, 1)], 16, 16)
    fmt, w, h, n, feats = media._decode_jpeg("m", payload)
    assert (fmt, w, h, n) == ("jpeg", 16, 16, 1)
    np.testing.assert_allclose(feats, np.full(16, 200.0 / 255.0, np.float32),
                               atol=1e-6)


def test_grayscale_textured_close():
    rng = np.random.RandomState(3)
    plane = rng.randint(0, 256, (24, 32)).astype(np.float64)
    payload = encode_jpeg([plane], [(1, 1)], 32, 24)
    _, w, h, _, feats = media._decode_jpeg("m", payload)
    assert (w, h) == (32, 24)
    want = media._block_features(plane / 255.0)
    np.testing.assert_allclose(feats, want, atol=2.0 / 255.0)


def test_color_444_and_420_close():
    rng = np.random.RandomState(9)
    # smooth image: low-frequency so 4:2:0 chroma subsampling stays close
    gx = np.linspace(0, 255, 32)
    px = np.stack(
        [np.tile(gx, (32, 1)), np.tile(gx[::-1], (32, 1)),
         np.full((32, 32), 100.0)], axis=2
    ).astype(np.float64)
    y, cb, cr = _rgb_to_ycbcr(px)
    lum_want = px.sum(axis=2) / (3 * 255.0)

    p444 = encode_jpeg([y, cb, cr], [(1, 1), (1, 1), (1, 1)], 32, 32)
    fmt, w, h, _, f444 = media._decode_jpeg("m", p444)
    assert (fmt, w, h) == ("jpeg", 32, 32)
    np.testing.assert_allclose(f444, media._block_features(lum_want), atol=0.02)

    cb2 = cb.reshape(16, 2, 16, 2).mean(axis=(1, 3)).round()
    cr2 = cr.reshape(16, 2, 16, 2).mean(axis=(1, 3)).round()
    p420 = encode_jpeg([y, cb2, cr2], [(2, 2), (1, 1), (1, 1)], 32, 32)
    fmt, w, h, _, f420 = media._decode_jpeg("m", p420)
    assert (fmt, w, h) == ("jpeg", 32, 32)
    np.testing.assert_allclose(f420, media._block_features(lum_want), atol=0.03)


def test_restart_markers_and_stuffing():
    rng = np.random.RandomState(17)
    plane = rng.randint(0, 256, (16, 48)).astype(np.float64)
    payload = encode_jpeg([plane], [(1, 1)], 48, 16, restart_interval=2)
    assert any(
        payload[i] == 0xFF and 0xD0 <= payload[i + 1] <= 0xD7
        for i in range(len(payload) - 1)
    )
    _, w, h, _, feats = media._decode_jpeg("m", payload)
    want = media._block_features(plane / 255.0)
    np.testing.assert_allclose(feats, want, atol=2.0 / 255.0)


def test_spark_dispatch_and_video_stub(spark):
    plane = np.full((16, 16), 64.0)
    payload = encode_jpeg([plane], [(1, 1)], 16, 16)
    df = spark.createDataFrame(
        [("d1", "img_jpeg", bytearray(payload)),
         ("d2", "vid_mp4", bytearray(b"\x00\x00\x00\x18ftypmp42 rest"))],
        "doc_id string, media_ref string, payload binary",
    )
    rows = {r["media_ref"]: r for r in media.decode_media(df, real_decode=True).collect()}
    assert rows["img_jpeg"]["format"] == "jpeg"
    assert (rows["img_jpeg"]["width"], rows["img_jpeg"]["height"]) == (16, 16)
    assert rows["vid_mp4"]["format"] not in ("jpeg", "png", "ppm", "pgm")
