"""VP8L (lossless WebP) codec round-trips: every decoder path is
exercised by the module's own encoder (operators/webp.py — see its
interop caveat: self-consistency + spec-reading is the strongest
check this container allows, the same position as the JPEG RSTn
surface)."""

from __future__ import annotations

import numpy as np
import pytest

from fame2pygen_spark.operators.webp import (
    decode_webp_lossless,
    encode_webp_lossless,
)


def _rt(img, **kw):
    out = decode_webp_lossless(encode_webp_lossless(img, **kw))
    assert out.shape == img.shape
    assert (out == img).all(), kw
    return out


def _rand_img(rng, h=13, w=17):
    img = rng.randint(0, 256, size=(h, w, 4), dtype=np.uint8)
    img[:, :, 3] = 255
    return img


def test_webp_literals_subtract_green_cache_roundtrip():
    rng = np.random.RandomState(3)
    img = _rand_img(rng)
    _rt(img)
    _rt(img, use_subtract_green=True)
    _rt(img, cache_bits=6)


def test_webp_all_predictor_modes_roundtrip():
    rng = np.random.RandomState(4)
    img = _rand_img(rng)
    for mode in range(1, 14):
        _rt(img, predictor_mode=mode)


def test_webp_palette_all_bundle_widths():
    # 2/4/16 colors exercise 1-/2-/4-bit pixel bundling; 60 and 250
    # the unbundled index path
    rng = np.random.RandomState(5)
    for ncol in (2, 4, 16, 60, 250):
        cols = rng.randint(0, 256, size=(ncol, 4), dtype=np.uint8)
        img = cols[rng.randint(0, ncol, size=(11, 23))]
        _rt(img, palette=True)


def test_webp_lz77_row_references():
    rng = np.random.RandomState(6)
    img = np.repeat(
        rng.randint(0, 256, size=(4, 17, 4), dtype=np.uint8), 4, axis=0
    )
    pay_plain = encode_webp_lossless(img)
    pay_lz = encode_webp_lossless(img, lz77_rows=True)
    assert len(pay_lz) < len(pay_plain)  # the refs actually fire
    assert (decode_webp_lossless(pay_lz) == img).all()


def test_webp_color_transform_and_meta_prefix():
    rng = np.random.RandomState(7)
    img = _rand_img(rng)
    _rt(img, color_transform=(40, 200, 17))
    _rt(img, meta_prefix=True)
    _rt(img, color_transform=(99, 3, 250), predictor_mode=7,
        use_subtract_green=True)
    _rt(
        np.repeat(img[:4], 4, axis=0),
        meta_prefix=True, cache_bits=5, lz77_rows=True,
    )


def _vp8_keyframe_stream(w, h):
    """A RIFF/WEBP container around a VP8 key-frame header (RFC 6386
    §9.1: frame tag with show_frame set, start code, 14-bit dims)
    followed by a few zero bytes standing in for the partitions."""
    import struct

    tag = (1 << 4) | (4 << 5)  # key frame, version 0, shown, 4-byte part
    body = (
        struct.pack("<I", tag)[:3] + b"\x9d\x01\x2a"
        + struct.pack("<HH", w, h) + b"\x00" * 4
    )
    return (
        b"RIFF" + struct.pack("<I", 12 + len(body)) + b"WEBP"
        + b"VP8 " + struct.pack("<I", len(body)) + body
    )


def test_webp_dispatches_through_decode_image_bytes():
    from fame2pygen_spark.operators.multimodal import decode_image_bytes

    rng = np.random.RandomState(8)
    img = _rand_img(rng, 6, 9)
    rgb = decode_image_bytes(encode_webp_lossless(img))
    assert rgb.shape == (6, 9, 3)
    assert (rgb == img[:, :, :3]).all()
    # lossy VP8 needs an external codec: a garbage chunk raises as
    # truncated, a well-formed key-frame header lands in the
    # needs-codec lane, and a short body still fails as truncated
    with pytest.raises(ValueError, match="truncated"):
        decode_image_bytes(b"RIFF\x10\x00\x00\x00WEBPVP8 \x00\x00\x00\x00")
    stream = _vp8_keyframe_stream(16, 16)
    with pytest.raises(ValueError, match="needs an external codec"):
        decode_image_bytes(stream)
    with pytest.raises(ValueError, match="chunk body"):
        decode_image_bytes(stream[:-8])


def test_webp_distance_map_has_120_entries():
    from fame2pygen_spark.operators.webp import _DIST_MAP

    assert len(_DIST_MAP) == 120
    assert len(set(_DIST_MAP)) == 120
    # closest-first by squared distance (the spec's construction)
    d2 = [dx * dx + dy * dy for dx, dy in _DIST_MAP]
    assert d2 == sorted(d2)


# ------------------------------------------------- VP8X container (r10)


def test_vp8x_still_roundtrip_and_animation_boundary():
    from fame2pygen_spark.operators.multimodal import decode_image_bytes
    from fame2pygen_spark.operators.webp import (
        decode_webp_lossless, encode_webp_lossless, encode_webp_vp8x,
    )

    rng = np.random.RandomState(12)
    img = _rand_img(rng, 7, 11)
    still = encode_webp_lossless(img)
    # still VP8X: metadata chunks wrap the same VP8L payload — the
    # walk must skip VP8X/ICCP/EXIF/XMP and decode identical pixels
    boxed = encode_webp_vp8x(
        [still], icc=b"iccpfixture!", exif=b"exifdata", xmp=b"<x:xmpmeta/>"
    )
    assert boxed[12:16] == b"VP8X"
    assert (decode_webp_lossless(boxed) == img).all()
    assert (decode_image_bytes(boxed) == img[:, :, :3]).all()
    # animation is the remaining true codec boundary — loud, specific
    anim = encode_webp_vp8x([still, still], duration_ms=40)
    with pytest.raises(ValueError, match="animated"):
        decode_webp_lossless(anim)
    # a still container carries exactly one frame
    with pytest.raises(ValueError, match="exactly one"):
        encode_webp_vp8x([still, still], animated=False)


def test_vp8x_layout_hand_computed():
    """Byte-level layout of the writer, checked against the spec by
    hand: flags byte, u24 LE minus-one canvas fields, chunk sizes."""
    import struct

    from fame2pygen_spark.operators.webp import (
        encode_webp_lossless, encode_webp_vp8x,
    )

    img = np.zeros((3, 5, 4), dtype=np.uint8)
    img[:, :, 3] = 255
    still = encode_webp_lossless(img)
    p = encode_webp_vp8x([still], canvas=(300, 200), exif=b"abc")
    # RIFF size covers everything after the first 8 bytes
    assert struct.unpack_from("<I", p, 4)[0] == len(p) - 8
    assert p[12:16] == b"VP8X"
    assert struct.unpack_from("<I", p, 16)[0] == 10
    assert p[20] == 0x08  # EXIF only
    assert int.from_bytes(p[24:27], "little") == 299   # width - 1
    assert int.from_bytes(p[27:30], "little") == 199   # height - 1
    assert p[30:34] == b"VP8L"
    # odd-sized EXIF body gets a pad byte not counted in its size
    vp8l_size = struct.unpack_from("<I", p, 34)[0]
    exif_off = 38 + vp8l_size + (vp8l_size & 1)
    assert p[exif_off : exif_off + 4] == b"EXIF"
    assert struct.unpack_from("<I", p, exif_off + 4)[0] == 3
    assert len(p) == exif_off + 8 + 4  # 3-byte body + 1 pad


def test_vp8x_info_column_parse(spark):
    """The scan-time chunk-table walk reads back exactly what the
    writer put in — canvas, flags, ANMF count, chunk count — and
    returns all-null for non-VP8X payloads."""
    from pyspark.sql import functions as F

    from fame2pygen_spark.operators.multimodal import (
        image_dimensions, sniff_media, vp8x_info,
    )
    from fame2pygen_spark.operators.webp import (
        encode_webp_lossless, encode_webp_vp8x,
    )

    rng = np.random.RandomState(4)
    frame = encode_webp_lossless(_rand_img(rng, 6, 9))
    rows = [
        (1, encode_webp_vp8x([frame], exif=b"e!", xmp=b"<x/>")),
        (2, encode_webp_vp8x([frame] * 3, icc=b"icc", alpha=True)),
        (3, frame),                      # plain VP8L: not VP8X
        (4, b"RIFF\x04\x00\x00\x00WAVE"),  # RIFF but not WebP
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id",
            vp8x_info(F.col("payload")).alias("v"),
            image_dimensions(F.col("payload")).alias("d"),
            sniff_media(F.col("payload")).alias("s"),
        ).collect()
    }
    v1 = got[1]["v"]
    assert (v1["width"], v1["height"]) == (9, 6)
    assert (v1["animated"], v1["exif"], v1["xmp"], v1["icc"]) == (
        False, True, True, False,
    )
    assert (v1["n_frames"], v1["n_chunks"]) == (1, 4)  # VP8X VP8L EXIF XMP
    v2 = got[2]["v"]
    assert (v2["animated"], v2["alpha"], v2["icc"]) == (True, True, True)
    assert v2["n_frames"] == 3
    assert v2["n_chunks"] == 6  # VP8X ICCP ANIM + 3x ANMF
    # plain VP8L: vp8x_info null, but dims + sniff still real
    assert got[3]["v"]["width"] is None
    assert (got[3]["d"]["width"], got[3]["d"]["height"]) == (9, 6)
    assert got[3]["s"]["mime"] == "image/webp"
    # RIFF/WAVE stays on the audio lane
    assert got[4]["s"]["mime"] == "audio/wav"
    assert got[4]["v"]["n_chunks"] is None


def test_extract_webp_frames_roundtrip_and_metadata():
    """Container-level frame split: every animated frame re-wraps as a
    standalone still that decodes bit-exactly; offsets/durations and
    blend/dispose flags surface for the compositing-residue check."""
    from fame2pygen_spark.operators.webp import (
        decode_webp_lossless, encode_webp_lossless, encode_webp_vp8x,
        extract_webp_frames,
    )

    rng = np.random.RandomState(21)
    imgs = [_rand_img(rng, 4, 6) for _ in range(3)]
    anim = encode_webp_vp8x(
        [encode_webp_lossless(i) for i in imgs], duration_ms=44,
        icc=b"icc-profile", loop_count=2,
    )
    frames = extract_webp_frames(anim)
    assert len(frames) == 3
    for k, fr in enumerate(frames):
        assert (fr["x"], fr["y"]) == (0, 0)
        assert (fr["w"], fr["h"]) == (6, 4)
        assert fr["duration_ms"] == 44
        assert (decode_webp_lossless(fr["still"]) == imgs[k]).all()
    # still payloads: exactly one frame, zero duration
    still = encode_webp_lossless(imgs[0])
    (f0,) = extract_webp_frames(still)
    assert f0["duration_ms"] == 0
    assert (decode_webp_lossless(f0["still"]) == imgs[0]).all()
    (f1,) = extract_webp_frames(encode_webp_vp8x([still], xmp=b"<x/>"))
    assert (decode_webp_lossless(f1["still"]) == imgs[0]).all()
    # malformed containers fail loudly
    with pytest.raises(ValueError, match="not a RIFF"):
        extract_webp_frames(b"nope")
    with pytest.raises(ValueError, match="no image frames"):
        extract_webp_frames(b"RIFF\x04\x00\x00\x00WEBP")


def test_webp_frame_features_batch_lane(spark):
    """The Arrow lane: animated payloads yield one row per frame with
    exact dims/means; garbage payloads fall into the needs-codec lane
    without failing the batch."""
    from pyspark.sql import functions as F

    from fame2pygen_spark.operators.multimodal import webp_frame_features
    from fame2pygen_spark.operators.webp import (
        encode_webp_lossless, encode_webp_vp8x,
    )

    def fill(v, h=2, w=3):
        a = np.full((h, w, 4), v, dtype=np.uint8)
        a[:, :, 3] = 255
        return encode_webp_lossless(a)

    anim = encode_webp_vp8x([fill(10), fill(20), fill(30)], duration_ms=5)
    rows = [(1, anim), (2, b"not a webp at all")]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {
        (r["doc_id"], r["frame_idx"]): r
        for r in webp_frame_features(df, "doc_id", "payload").collect()
    }
    assert [got[(1, k)]["mean_r"] for k in range(3)] == [10.0, 20.0, 30.0]
    assert got[(1, 1)]["duration_ms"] == 5
    assert got[(2, -1)]["decoded"] == "needs-codec"
    # every_k sampling keeps frames 0 and 2 only
    sampled = webp_frame_features(
        df.where(F.col("doc_id") == 1), "doc_id", "payload", every_k=2
    ).collect()
    assert sorted(r["frame_idx"] for r in sampled) == [0, 2]


def test_decode_animated_webp_compositing_hand_computed():
    """Offsets, overwrite vs alpha-over blending, and background
    disposal, each checked against hand-computed canvases."""
    from fame2pygen_spark.operators.webp import (
        decode_animated_webp, encode_webp_lossless, encode_webp_vp8x,
    )

    def img(v, h, w, a=255):
        x = np.full((h, w, 4), v, dtype=np.uint8)
        x[:, :, 3] = a
        return x

    f0 = encode_webp_lossless(img(100, 4, 6))
    f1 = encode_webp_lossless(img(200, 2, 2))
    anim = encode_webp_vp8x(
        [f0, f1], canvas=(6, 4), animated=True,
        offsets=[(0, 0), (2, 0)], blends=[1, 1],
    )
    out = decode_animated_webp(anim)
    assert out.shape == (2, 4, 6, 4)
    assert (out[0, :, :, 0] == 100).all()
    expect = np.full((4, 6), 100)
    expect[0:2, 2:4] = 200
    assert (out[1, :, :, 0] == expect).all()
    # alpha-over: 200@a128 over opaque 100 →
    # C = (200·128·255 + 100·255·127) / (128·255 + 255·127), half-up
    f1a = encode_webp_lossless(img(200, 2, 2, a=128))
    anim2 = encode_webp_vp8x(
        [f0, f1a], canvas=(6, 4), animated=True,
        offsets=[(0, 0), (2, 0)], blends=[1, 0],
    )
    out2 = decode_animated_webp(anim2)
    a_num = 128 * 255 + 255 * 127
    exp_c = (200 * 128 * 255 + 100 * 255 * 127 + a_num // 2) // a_num
    assert out2[1, 0, 2, 0] == exp_c == 150
    assert out2[1, 0, 2, 3] == 255  # over opaque stays opaque
    # dispose=1 restores the ANIM background under the patch
    anim3 = encode_webp_vp8x(
        [f0, f1, f0], canvas=(6, 4), animated=True,
        offsets=[(0, 0), (2, 0), (0, 0)], blends=[1, 1, 1],
        disposals=[0, 1, 0],
    )
    out3 = decode_animated_webp(anim3)
    assert (out3[1, 0:2, 2:4, 0] == 200).all()
    assert (out3[2, :, :, 0] == 100).all()
    # a still payload is a 1-frame stack
    still = decode_animated_webp(f0)
    assert still.shape == (1, 4, 6, 4)
    # out-of-bounds patches fail loudly
    with pytest.raises(ValueError, match="exceeds canvas"):
        decode_animated_webp(
            encode_webp_vp8x(
                [f0, f1], canvas=(3, 2), animated=True,
                offsets=[(0, 0), (2, 0)], blends=[1, 1],
            )
        )
