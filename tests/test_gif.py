"""GIF codec tests — round-trips against the module's own encoder
(the webp testing discipline) plus hand-computed compositing.
"""

from __future__ import annotations

import numpy as np
import pytest

from fame2pygen_spark.operators.gif import (
    _lzw_decode, _lzw_encode_literal, decode_gif_frames, encode_gif,
)


def _pal(rng, n=8):
    return rng.randint(0, 256, (n, 3), dtype=np.uint8)


def test_lzw_literal_roundtrip_and_kwkwk():
    # literal form round-trips any index stream
    idx = [0, 3, 3, 1, 2, 7, 0, 0]
    data = _lzw_encode_literal(idx, 3)
    assert _lzw_decode(data, 3, len(idx)) == idx
    # hand-built stream exercising the KwKwK self-reference: after
    # CLEAR, [1, 1] adds 10=[1,1]; emitting 10 adds 11 and sets
    # prev=[1,1]; code 12 (== next_code) must decode as
    # prev + prev[0] = [1,1,1] — total output 1+1+2+3 = 7 ones
    clear, eoi = 8, 9

    def build(codes, width=4):
        acc = nbits = 0
        out = bytearray()
        for c in codes:
            acc |= c << nbits
            nbits += width
            while nbits >= 8:
                out.append(acc & 0xFF)
                acc >>= 8
                nbits -= 8
        if nbits:
            out.append(acc & 0xFF)
        return bytes(out)

    stream = build([clear, 1, 1, 10, 12, eoi])
    assert _lzw_decode(stream, 3, 7) == [1] * 7
    with pytest.raises(ValueError, match="corrupt"):
        _lzw_decode(build([clear, 1, 13, eoi]), 3, 4)


def test_gif_single_frame_and_interlace_roundtrip():
    rng = np.random.RandomState(9)
    pal = _pal(rng)
    idx = rng.randint(0, 8, (9, 7))
    for interlace in (False, True):
        st = decode_gif_frames(encode_gif([idx], pal, interlace=interlace))
        assert st.shape == (1, 9, 7, 4)
        assert (st[0, :, :, :3] == pal[idx]).all(), interlace
        assert (st[0, :, :, 3] == 255).all()


def test_gif_animation_compositing_hand_computed():
    """Partial frame at an odd offset, transparency hole, and
    dispose-to-background / restore-previous."""
    rng = np.random.RandomState(4)
    pal = _pal(rng)
    full = np.zeros((4, 6), dtype=int)
    patch = np.full((2, 2), 3, dtype=int)
    patch[0, 0] = 7  # transparent hole
    g = encode_gif(
        [full, patch], pal, canvas=(6, 4),
        offsets=[(0, 0), (3, 1)], delays_ms=[40, 60],
        disposals=[0, 2], transparent=7,
    )
    st = decode_gif_frames(g)
    assert st.shape == (2, 4, 6, 4)
    assert (st[0, :, :, :3] == pal[0]).all()
    exp = np.tile(pal[0], (4, 6, 1)).astype(np.uint8)
    exp[1:3, 3:5] = pal[3]
    exp[1, 3] = pal[0]  # hole keeps the underlying canvas
    assert (st[1, :, :, :3] == exp).all()
    # disposal=3 restores the pre-frame canvas for the NEXT capture
    g3 = encode_gif(
        [full, patch, full[:1, :1]], pal, canvas=(6, 4),
        offsets=[(0, 0), (3, 1), (0, 0)], disposals=[0, 3, 0],
    )
    st3 = decode_gif_frames(g3)
    assert (st3[2, 1:3, 3:5, :3] == pal[0]).all()


def test_gif_failure_modes_raise_value_error():
    rng = np.random.RandomState(1)
    pal = _pal(rng)
    g = encode_gif([rng.randint(0, 8, (5, 7))], pal)
    for cut in (4, 8, 14, len(g) // 2, len(g) - 3):
        with pytest.raises(ValueError):
            decode_gif_frames(g[:cut])
    with pytest.raises(ValueError, match="not a GIF"):
        decode_gif_frames(b"PNG?")
    with pytest.raises(ValueError, match="power of two"):
        encode_gif([np.zeros((2, 2), dtype=int)], pal[:3])


def test_gif_dispatches_through_multimodal(spark):
    from pyspark.sql import functions as F

    from fame2pygen_spark.operators.multimodal import (
        animation_features, decode_image_bytes, image_dimensions,
        sniff_media,
    )

    pal = np.array([[10, 20, 30], [200, 100, 50]], dtype=np.uint8)
    g = encode_gif([np.array([[0, 1], [1, 0]])], pal)
    rgb = decode_image_bytes(g)
    assert (rgb[0, 0] == [10, 20, 30]).all()
    assert (rgb[0, 1] == [200, 100, 50]).all()
    df = spark.createDataFrame([(1, g)], "doc_id long, payload binary")
    row = df.select(
        image_dimensions(F.col("payload")).alias("d"),
        sniff_media(F.col("payload")).alias("s"),
    ).collect()[0]
    assert (row["d"]["width"], row["d"]["height"]) == (2, 2)
    assert row["s"]["mime"] == "image/gif"
    feats = animation_features(df, "doc_id", "payload").collect()
    assert len(feats) == 1 and feats[0]["decoded"] == "real"
    assert feats[0]["mean_r"] == (10 + 200 + 200 + 10) / 4.0
