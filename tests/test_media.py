"""Image plumbing (functions/media.py): the real rgb8raw codec, the
decoder registry and its stubs, per-image statistics."""

import numpy as np
from pyspark.sql import functions as F

from json_skema_spark.functions import media


def _img(seed, h=8, w=6, c=3):
    return np.random.default_rng(seed).integers(0, 256, (h, w, c), np.uint8)


def test_rgb8raw_roundtrip():
    px = _img(1)
    dec, err = media.decode_rgb8raw(media.encode_rgb8raw(px))
    assert err == "" and np.array_equal(dec, px)
    assert media.decode_rgb8raw(b"junk")[1] == "not_rgb8raw"
    good = media.encode_rgb8raw(px)
    assert media.decode_rgb8raw(good[:-5])[1] == "truncated_rgb8raw"


def test_image_decode_check_and_stubs(spark):
    px = _img(2)
    rows = [("i1", "rgb8raw", bytearray(media.encode_rgb8raw(px))),
            ("i2", "jpeg", bytearray(b"\xff\xd8\xff")),
            ("i3", "tiff", bytearray(b"II*\x00")),
            ("i4", "rgb8raw", bytearray(b"bad"))]
    df = spark.createDataFrame(rows, "image_id string, codec string, bytes binary")
    got = {r.image_id: r for r in media.image_stats(df).collect()}
    assert got["i1"].decode_ok and got["i1"].mean_r == px[..., 0].mean()
    assert got["i2"].error == "codec_not_supported:jpeg"
    assert got["i3"].error == "unknown_codec:tiff"
    assert got["i4"].error == "not_rgb8raw"


def test_image_decoder_registry(spark):
    def fake_jpeg(buf):
        # self-contained: closures ship by value, module helpers don't
        import numpy as _np
        if not bytes(buf).startswith(b"\xff\xd8"):
            return None, "not_jpeg"
        return _np.zeros((4, 4, 3), _np.uint8), ""

    df = spark.createDataFrame(
        [("j1", "jpeg", bytearray(b"\xff\xd8\xff\xe0"))],
        "image_id string, codec string, bytes binary")
    media.register_image_decoder("jpeg", fake_jpeg)
    try:
        r = media.image_stats(df).collect()[0]
        assert r.decode_ok and r.mean_r == 0.0
    finally:
        media.unregister_image_decoder("jpeg")
    r2 = media.image_stats(df).collect()[0]
    assert r2.error == "codec_not_supported:jpeg"


def test_image_stats(spark):
    px = np.full((4, 4, 3), 100, np.uint8)
    px[:, :, 0] = 200  # red channel brighter
    df = spark.createDataFrame(
        [("s1", "rgb8raw", bytearray(media.encode_rgb8raw(px)))],
        "image_id string, codec string, bytes binary")
    r = media.image_stats(df).collect()[0]
    assert r.decode_ok and r.mean_r == 200.0 and r.mean_g == 100.0
    assert abs(r.std_gray) < 1e-9  # constant gray plane


def test_image_stats_alpha_not_in_gray(spark):
    """RGBA: the alpha plane must not contaminate gray stddev — identical
    visual content scores the same as RGB."""
    import numpy as np

    from json_skema_spark.functions.media import encode_rgb8raw, image_stats

    rgb = np.zeros((4, 4, 3), np.uint8)
    rgb[:2] = 255  # high contrast
    rgba = np.dstack([rgb, np.full((4, 4), 255, np.uint8)])
    df = spark.createDataFrame(
        [("rgb", "rgb8raw", encode_rgb8raw(rgb)),
         ("rgba", "rgb8raw", encode_rgb8raw(rgba))],
        "image_id string, codec string, bytes binary")
    got = {r.image_id: r for r in image_stats(df).collect()}
    assert got["rgb"].std_gray == got["rgba"].std_gray
    assert got["rgb"].mean_r == got["rgba"].mean_r
