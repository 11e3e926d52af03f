"""Media transforms: nearest-neighbor resize, JPEG->PNG transcode,
WAV frame decimation — codec-level tests plus the Spark plumbing."""

from __future__ import annotations

import numpy as np

from excelstream_spark.operators.media_transform import (
    _resize_nearest,
    _transform_one,
    transform_media,
)
from excelstream_spark.operators.multimodal import (
    encode_png,
    encode_wav,
    png_pixel_array,
    wav_pcm_array,
)


def test_resize_nearest_matches_floor_convention():
    arr = np.arange(24, dtype=np.uint8).reshape(4, 6, 1)
    small = _resize_nearest(arr, 3, 2)
    # rows: (0*4)//2=0, (1*4)//2=2 ; cols: (0,1,2)*6//3 = 0,2,4
    expect = arr[[0, 2]][:, [0, 2, 4]]
    assert (small == expect).all()


def test_resize_identity_preserves_pixels():
    arr = np.arange(4, dtype=np.uint8).reshape(2, 2, 1)
    assert (_resize_nearest(arr, 2, 2) == arr).all()


def test_png_resize_roundtrip():
    px = bytes(range(8))  # 4x2 grayscale gradient
    payload = encode_png(4, 2, px)
    doc_id, kind, out, w, h, frames, mean = _transform_one(7, payload, 2, 2, 2)
    assert (kind, w, h, frames) == ("png", 2, 2, 1)
    redec = png_pixel_array(out)
    # cols picked: 0 and 2; rows 0 and 1 -> pixels 0,2,4,6
    assert redec.reshape(-1).tolist() == [0, 2, 4, 6]
    assert mean == 3.0


def test_jpeg_transcodes_to_png_thumbnail():
    from excelstream_spark.operators.jpeg_baseline import encode_jpeg_baseline

    img = np.full((8, 16), 200, dtype=np.uint8)
    payload = encode_jpeg_baseline(img)
    _, kind, out, w, h, frames, mean = _transform_one(1, payload, 2, 2, 2)
    assert (kind, w, h, frames) == ("jpeg", 2, 2, 1)
    assert png_pixel_array(out).reshape(-1).tolist() == [200] * 4
    assert mean == 200.0


def test_wav_frame_decimation():
    samples = [1024 if i % 2 == 0 else -1024 for i in range(6)]
    payload = encode_wav(8000, samples)
    _, kind, out, w, h, frames, mean = _transform_one(1, payload, 2, 2, 2)
    assert (kind, w, h, frames) == ("wav", None, None, 3)
    rate, arr, bits = wav_pcm_array(out)
    assert rate == 8000 and bits == 16
    assert arr.reshape(-1).tolist() == [1024, 1024, 1024]
    assert mean == round(1024 / 32768, 6)


def test_other_payload_passes_through():
    _, kind, out, w, h, frames, mean = _transform_one(
        3, b"plain text bytes", 2, 2, 2
    )
    assert kind == "other" and out == b"plain text bytes"
    assert (w, h, frames, mean) == (None, None, None, None)


def test_corrupt_media_is_labeled_not_fatal(spark):
    # a PNG magic with garbage body must become kind='corrupt'
    df = spark.createDataFrame(
        [(1, bytearray(b"\x89PNG\r\n\x1a\nGARBAGE"))],
        "doc_id bigint, payload binary",
    )
    rows = transform_media(df).collect()
    assert rows[0]["kind"] == "corrupt"
    assert bytes(rows[0]["out_payload"]).startswith(b"\x89PNG")


def test_spark_end_to_end_mixed_batch(spark):
    payloads = [
        (0, bytearray(encode_png(2, 2, bytes([10, 20, 30, 40])))),
        (1, bytearray(encode_wav(16000, [512, -512, 512, -512]))),
        (2, bytearray(b"not media")),
    ]
    df = spark.createDataFrame(payloads, "doc_id bigint, payload binary")
    rows = {r["doc_id"]: r for r in transform_media(df).collect()}
    assert rows[0]["kind"] == "png" and rows[0]["out_mean_r"] == 25.0
    assert rows[1]["kind"] == "wav" and rows[1]["out_frames"] == 2
    assert rows[1]["out_mean_r"] == round(512 / 32768, 6)
    assert rows[2]["kind"] == "other"


def test_jpeg_batched_idct_bit_equal():
    """The JPEG transforms are the IJG "islow" INTEGER DCT pair, so the
    codec's bytes and pixels do not depend on the host (the former
    float64 matmul + rint moved with the BLAS kernel: FMA vs non-FMA
    dgemm changed the encoded stream by a byte and 55 decoded pixels
    by +/-1).  The goldens pin that output so any numeric drift — an
    entropy refactor, a transform change — fails loudly.  Also pins
    that the stacked (n,8,8) transforms equal the per-block ones
    bit-for-bit, and the oracle-critical DC-only exactness."""
    import hashlib

    import numpy as np

    from excelstream_spark.operators.jpeg_baseline import (
        _fdct_islow,
        _idct_islow,
        decode_jpeg,
        encode_jpeg_baseline,
    )

    rng = np.random.RandomState(11)
    goldens = {
        (16, 16): "bf58aac886aee8b761c39f97372df2a2",
        (24, 40): "31c092378e39d5cc64dc345a99fbfbfb",
        (97, 131): "11b178ea8f88d2c5bd6c761ca05de9b3",
    }
    for shape, want in goldens.items():
        yy, xx = np.mgrid[0 : shape[0], 0 : shape[1]]
        img = (
            128
            + 50 * np.sin(yy / 7.0)
            + 40 * np.cos(xx / 11.0)
            + rng.randint(-20, 20, shape)
        ).clip(0, 255).astype(np.uint8)
        d = decode_jpeg(encode_jpeg_baseline(img))
        assert d.shape == (*shape, 1)
        assert hashlib.md5(d.tobytes()).hexdigest() == want, shape
        # stacked (n,8,8) transform == per-block transform, bit-for-bit
        blocks = d[:24, :8, 0].astype(np.int64).reshape(-1, 8, 8) - 128
        fwd = _fdct_islow(blocks)
        inv = _idct_islow(fwd)
        for i in range(len(blocks)):
            assert np.array_equal(fwd[i], _fdct_islow(blocks[i : i + 1])[0])
            assert np.array_equal(inv[i], _idct_islow(fwd[i : i + 1])[0])
    # DC-only exactness: a solid image decodes to the exact gray value
    # (the multimodal_features oracle's load-bearing property)
    solid = decode_jpeg(
        encode_jpeg_baseline(np.full((8, 16), 200, np.uint8))
    )
    assert (solid == 200).all()
