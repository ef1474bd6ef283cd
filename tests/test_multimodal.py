"""Multimodal plumbing: schema, Arrow batch shape, stub honesty."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql.utils import PythonException

from mini_sql_engine_spark.catalog import Catalog
from mini_sql_engine_spark.pipeline import multimodal as MM

from tests.conftest import SF_SMOKE


def _media(spark):
    return MM.synthesize_media(Catalog(spark, SF_SMOKE).table("documents").limit(50))


def test_media_schema(spark):
    media = _media(spark)
    assert [f.name for f in media.schema.fields] == [
        "media_id", "payload", "mime", "width", "height",
    ]
    assert media.schema["payload"].dataType.simpleString() == "binary"


def test_metadata_predicates_prune_before_decode(spark):
    """Width filter must not require running the Python decode stage —
    it's a plain column predicate on the media table."""
    media = _media(spark).filter(F.col("width") > 100)
    assert media.count() > 0  # executes with no Python decode involved


def test_extract_features_fake_decode(spark):
    feats = MM.extract_features(_media(spark), fake_decode=True)
    rows = feats.collect()
    assert len(rows) == 50
    r = rows[0]
    assert r.n_bytes > 0
    assert len(r.feature) == 8
    assert abs(sum(r.feature) - 1.0) < 1e-3  # normalized stripes
    # deterministic across partitionings
    again = MM.extract_features(
        _media(spark).repartition(7), fake_decode=True
    ).collect()
    assert {(x.media_id, x.payload_hash) for x in again} == {
        (x.media_id, x.payload_hash) for x in rows
    }


def test_real_decode_path_raises_on_non_png(spark):
    # synthesize_media payloads are UTF-8 text, not a decodable
    # container — the real path must surface that, not silently no-op
    with pytest.raises(PythonException, match="NotImplementedError"):
        MM.extract_features(_media(spark), fake_decode=False).collect()


# ---- real PNG decode kernel (stdlib codec, VERDICT r3 ask #4) ----

from mini_sql_engine_spark.pipeline import png  # noqa: E402


def _gradient_pixels(w: int, h: int, c: int) -> bytes:
    return bytes(
        (x * 7 + y * 13 + ch * 29) % 256
        for y in range(h)
        for x in range(w)
        for ch in range(c)
    )


@pytest.mark.parametrize("channels", [1, 2, 3, 4])
def test_png_codec_roundtrip(channels):
    w, h = 9, 5
    pix = _gradient_pixels(w, h, channels)
    data = png.encode_png(w, h, channels, pix)
    assert png.is_png(data)
    rw, rh, rc, rpix = png.decode_png(data)
    assert (rw, rh, rc) == (w, h, channels)
    assert rpix == pix


def test_png_decoder_reverses_all_filter_types():
    """Hand-build a PNG whose rows use filters 1-4 (our encoder only
    emits 0) and check the decode against an independently computed
    expectation — the unfiltering math, not just roundtrip symmetry."""
    import struct
    import zlib

    w, h, c = 4, 5, 3
    stride = w * c
    target = _gradient_pixels(w, h, c)

    # forward-filter the target rows with types 0,1,2,3,4
    rows = [bytearray(target[y * stride : (y + 1) * stride]) for y in range(h)]
    raw = bytearray()
    prev = bytearray(stride)
    for y, ftype in enumerate([0, 1, 2, 3, 4]):
        cur = rows[y]
        enc = bytearray(cur)
        for x in range(stride):
            a = cur[x - c] if x >= c else 0
            b = prev[x]
            cc = prev[x - c] if x >= c else 0
            if ftype == 1:
                enc[x] = (cur[x] - a) & 0xFF
            elif ftype == 2:
                enc[x] = (cur[x] - b) & 0xFF
            elif ftype == 3:
                enc[x] = (cur[x] - ((a + b) >> 1)) & 0xFF
            elif ftype == 4:
                p = a + b - cc
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - cc)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else cc)
                enc[x] = (cur[x] - pred) & 0xFF
        raw += bytes([ftype]) + enc
        prev = cur

    def chunk(t, body):
        return (
            struct.pack(">I", len(body)) + t + body
            + struct.pack(">I", zlib.crc32(t + body) & 0xFFFFFFFF)
        )

    data = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )
    rw, rh, rc, rpix = png.decode_png(data)
    assert (rw, rh, rc) == (w, h, c)
    assert rpix == target


def _png_media(spark, n=12):
    rows = []
    for i in range(n):
        w, h = 6 + i % 3, 4 + i % 2
        pix = _gradient_pixels(w, h, 3)
        rows.append((i, bytearray(png.encode_png(w, h, 3, pix)), "image/png", w, h))
    return spark.createDataFrame(rows, MM.MEDIA_SCHEMA)


def test_extract_features_real_png_decode_e2e(spark):
    """The §2.10 real kernel end-to-end: Spark binary column of real
    PNG bytes → mapInPandas decode → pixel-space features, matched
    against a driver-side python oracle."""
    media = _png_media(spark)
    got = {r.media_id: r for r in
           MM.extract_features(media, fake_decode=False).collect()}
    for i, payload, _mime, _w, _h in media.collect():
        _, _, _, pixels = png.decode_png(bytes(payload))
        expect = MM._fake_features(pixels, 8)
        assert got[i].feature == pytest.approx(expect, abs=1e-6)
        assert got[i].n_bytes == len(bytes(payload))
    # pixel features differ from container-byte features: decode ran
    fake = {r.media_id: r.feature for r in
            MM.extract_features(media, fake_decode=True).collect()}
    assert any(fake[i] != got[i].feature for i in fake)


# ------------------------------------------------------------------ #
# QOI codec (pipeline/qoi.py — VERDICT r11 #8: second real decode    #
# path beside PNG-8)                                                 #
# ------------------------------------------------------------------ #

from mini_sql_engine_spark.pipeline import qoi  # noqa: E402


@pytest.mark.parametrize("channels", [3, 4])
def test_qoi_codec_roundtrip(channels):
    w, h = 9, 5
    pix = _gradient_pixels(w, h, channels)
    data = qoi.encode_qoi(w, h, channels, pix)
    assert qoi.is_qoi(data)
    rw, rh, rc, rpix = qoi.decode_qoi(data)
    assert (rw, rh, rc) == (w, h, channels)
    assert rpix == pix


def test_qoi_roundtrip_exercises_every_op():
    """A pixel sequence constructed so the ENCODER must emit every op
    (RUN / INDEX / DIFF / LUMA / RGBA / RGB), then decode back —
    asserted on the encoded op bytes, not just roundtrip symmetry."""
    px = []
    px += [(0, 0, 0, 255)] * 3            # RUN from the (0,0,0,255) start
    px += [(100, 0, 0, 255)]              # dr-dg=+100, beyond LUMA -> RGB
    px += [(101, 1, 1, 255)]              # dr=dg=db=+1 -> DIFF
    px += [(113, 13, 13, 255)]            # dg=+12, dr-dg=db-dg=0 -> LUMA
    px += [(113, 13, 13, 128)]            # alpha change -> RGBA
    px += [(100, 0, 0, 255)]              # seen before -> INDEX
    flat = bytes(v for p in px for v in p)
    data = qoi.encode_qoi(1, len(px), 4, flat)
    body = data[14:-8]
    assert body[0] == 0xC0 | 2            # QOI_OP_RUN, length 3
    assert body[1] == 0xFE                # QOI_OP_RGB
    assert (body[5] & 0xC0) == 0x40       # QOI_OP_DIFF
    assert (body[6] & 0xC0) == 0x80       # QOI_OP_LUMA
    assert body[8] == 0xFF                # QOI_OP_RGBA
    assert (body[13] & 0xC0) == 0x00      # QOI_OP_INDEX
    rw, rh, rc, rpix = qoi.decode_qoi(data)
    assert (rw, rh, rc) == (1, len(px), 4)
    assert rpix == flat


def test_qoi_decode_independent_handbuilt_stream():
    """Hand-assemble an op stream byte by byte (independent of the
    encoder) and check the decoded pixels against the spec-derived
    expectation — the decoder math, not roundtrip symmetry."""
    import struct

    ops = bytearray()
    ops.append(0xFE); ops += bytes((10, 20, 30))      # RGB -> (10,20,30,255)
    ops.append(0x40 | (3 << 4) | (2 << 2) | 0)        # DIFF +1,0,-2
    ops.append(0xC0 | 0)                              # RUN 1 (repeat)
    ops.append(0x80 | (32 + 10))                      # LUMA dg=+10,
    ops.append(((8 - 3) << 4) | (8 + 5))              #   dr=dg-3, db=dg+5
    h10_20_30 = (10 * 3 + 20 * 5 + 30 * 7 + 255 * 11) % 64
    ops.append(0x00 | h10_20_30)                      # INDEX -> (10,20,30)
    data = (b"qoif" + struct.pack(">IIBB", 1, 5, 3, 0)
            + bytes(ops) + b"\x00" * 7 + b"\x01")
    w, hh, c, pix = qoi.decode_qoi(data)
    assert (w, hh, c) == (1, 5, 3)
    expect = [
        (10, 20, 30),                    # RGB
        (11, 20, 28),                    # DIFF: +1, 0, -2
        (11, 20, 28),                    # RUN of 1 repeats the DIFF pixel
        (18, 30, 43),                    # LUMA: dg=+10, dr=dg-3, db=dg+5
        (10, 20, 30),                    # INDEX recalls the RGB pixel
    ]
    got = [tuple(pix[i:i + 3]) for i in range(0, len(pix), 3)]
    assert got == expect


def test_qoi_run_chunk_stores_index_slot():
    """ADVICE r12: the reference decoder stores index[hash(px)] when
    it processes a RUN chunk (qoi.h keeps the store outside the op
    dispatch). A foreign encoder may therefore open with a run of
    the implicit (0,0,0,255) pixel and later recall it via
    QOI_OP_INDEX 53 — that must decode (0,0,0,255), not the empty
    slot's (0,0,0,0)."""
    import struct

    h_implicit = (0 * 3 + 0 * 5 + 0 * 7 + 255 * 11) % 64  # = 53
    ops = bytes((0xC0 | 0,          # RUN 1 of implicit (0,0,0,255)
                 0xFE, 9, 9, 9,     # RGB (9,9,9) — overwrites px state
                 0x00 | h_implicit  # INDEX 53 recalls (0,0,0,255)
                 ))
    data = (b"qoif" + struct.pack(">IIBB", 1, 3, 4, 0)
            + ops + b"\x00" * 7 + b"\x01")
    w, hh, c, pix = qoi.decode_qoi(data)
    assert (w, hh, c) == (1, 3, 4)
    got = [tuple(pix[i:i + 4]) for i in range(0, len(pix), 4)]
    assert got == [(0, 0, 0, 255), (9, 9, 9, 255), (0, 0, 0, 255)]


def test_qoi_rejects_malformed():
    with pytest.raises(ValueError, match="bad magic"):
        qoi.decode_qoi(b"nope")
    ok = qoi.encode_qoi(2, 2, 3, bytes(range(12)))
    with pytest.raises(ValueError, match="end marker"):
        qoi.decode_qoi(ok[:-8] + b"\x00" * 8)
    with pytest.raises(ValueError, match="channels"):
        qoi.encode_qoi(1, 1, 2, b"\x00\x00")


def test_decode_image_dispatches_qoi():
    """decode_image routes QOI payloads to the real QOI codec with
    the identical (w, h, c, pixels) contract as PNG."""
    pix = _gradient_pixels(6, 4, 3)
    data = qoi.encode_qoi(6, 4, 3, pix)
    assert MM.decode_image(data) == (6, 4, 3, pix)
    png_data = png.encode_png(6, 4, 3, pix)
    assert MM.decode_image(png_data) == (6, 4, 3, pix)


def test_qoi_rejects_implausible_dims_and_truncated_ops():
    """Hardening (code-review r12): a crafted header claiming huge
    dimensions over a tiny op stream must raise before allocating,
    and truncated operand bytes must raise instead of silently
    decoding end-marker zeros as pixels."""
    import struct

    huge = (b"qoif" + struct.pack(">IIBB", 0xFFFFFFFF, 0xFFFFFFFF, 3, 0)
            + b"\x00" * 7 + b"\x01")
    with pytest.raises(ValueError, match="implausible"):
        qoi.decode_qoi(huge)
    # 1x1 image whose only op is an RGB tag with no operand bytes
    cut = (b"qoif" + struct.pack(">IIBB", 1, 1, 3, 0)
           + b"\xfe" + b"\x00" * 7 + b"\x01")
    with pytest.raises(ValueError, match="RGB op cut short"):
        qoi.decode_qoi(cut)
    cut_luma = (b"qoif" + struct.pack(">IIBB", 1, 1, 3, 0)
                + b"\x80" + b"\x00" * 7 + b"\x01")
    with pytest.raises(ValueError, match="LUMA op cut short"):
        qoi.decode_qoi(cut_luma)
