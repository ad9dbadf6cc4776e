"""Multimodal payload parsers (``operators/multimodal.py``): the header
sniffers, decoders and container walkers behind the ``multimodal_*``
queries, checked against hand-built golden bytes and malformed input.
"""

from __future__ import annotations

import random
import struct


def test_wav_header_roundtrip():
    """multimodal_wav_header_parse's parser against a handbuilt canonical
    44-byte header (golden bytes, not the query's own constructor)."""
    import struct

    from mongodb_nats_connector_spark.operators.multimodal import (
        sniff_wav_meta,
    )

    rate, channels, bits, frames = 22050, 2, 16, 1000
    block = channels * bits // 8
    hdr = (
        b"RIFF"
        + struct.pack("<I", 36 + frames * block)
        + b"WAVEfmt "
        + struct.pack("<IHHIIHH", 16, 1, channels, rate, rate * block,
                      block, bits)
        + b"data"
        + struct.pack("<I", frames * block)
    )
    assert len(hdr) == 44
    meta = sniff_wav_meta(hdr)
    assert meta == (rate, channels, bits, rate * block, block,
                    frames * block)
    assert sniff_wav_meta(b"RIFFxxxxNOPE") is None
    assert sniff_wav_meta(b"") is None


def test_image_header_golden_bytes():
    """multimodal_image_header_parse relies on sniff_image_dims for all
    three containers; pin each against handbuilt golden headers."""
    import struct

    from mongodb_nats_connector_spark.operators.multimodal import (
        sniff_image_dims,
    )

    png = (
        b"\x89PNG\r\n\x1a\n"
        + struct.pack(">I", 13)
        + b"IHDR"
        + struct.pack(">II", 640, 480)
    )
    assert sniff_image_dims(png) == (640, 480, "png")
    gif = b"GIF89a" + struct.pack("<HH", 320, 200)
    assert sniff_image_dims(gif) == (320, 200, "gif")
    jpeg = (
        b"\xff\xd8\xff\xc0"
        + struct.pack(">H", 17)
        + b"\x08"
        + struct.pack(">HH", 1080, 1920)
        + b"\x00"
    )
    assert sniff_image_dims(jpeg) == (1920, 1080, "jpeg")


def test_wav_degenerate_header_yields_null_not_crash():
    """A magic-valid WAV header with block_align = 0 must produce a NULL
    metadata row (typed miss), never a ZeroDivisionError in the task."""
    import struct

    import pandas as pd

    from mongodb_nats_connector_spark.operators.multimodal import (
        _wav_meta_batches,
    )

    bad = (
        b"RIFF"
        + struct.pack("<I", 36)
        + b"WAVEfmt "
        + struct.pack("<IHHIIHH", 16, 1, 0, 0, 0, 0, 16)
        + b"data"
        + struct.pack("<I", 0)
    )
    pdf = pd.DataFrame({"doc_id": [1], "payload": [bad]})
    out = pd.concat(list(_wav_meta_batches(iter([pdf]))))
    assert len(out) == 1
    assert out["sample_rate"].isna().all()


# ---------------------------------------------------------------------------
# ISO-BMFF box walker roundtrip (multimodal_mp4_box_parse)
# ---------------------------------------------------------------------------


def test_mp4_sniffer_roundtrip_and_rejects():
    import struct

    from mongodb_nats_connector_spark.operators.multimodal import (
        sniff_mp4_meta,
    )

    def build(brand: bytes, ts: int, dur: int) -> bytes:
        ftyp = struct.pack(">I", 16) + b"ftyp" + brand + b"\x00" * 4
        mvhd_body = (
            b"\x00\x00\x00\x00"  # version + flags
            + b"\x00" * 8  # creation + modification
            + struct.pack(">II", ts, dur)
            + b"\x00\x01\x00\x00"  # rate
            + b"\x01\x00\x00\x00"  # volume + reserved
            + b"\x00" * 8  # reserved2
            + b"\x00" * 36  # matrix (content irrelevant to the parse)
            + b"\x00" * 24  # pre_defined
            + b"\x00\x00\x00\x02"
        )
        mvhd = struct.pack(">I", 8 + len(mvhd_body)) + b"mvhd" + mvhd_body
        moov = struct.pack(">I", 8 + len(mvhd)) + b"moov" + mvhd
        return ftyp + moov

    rng = random.Random(113)
    for _ in range(30):
        ts = rng.choice([600, 1000, 90000, 12288, 48000])
        dur = rng.randint(1, 10**7)
        raw = build(b"isom", ts, dur)
        assert len(raw) == 132
        meta = sniff_mp4_meta(raw)
        assert meta == (2, "isom", ts, dur)
    # rejects: truncation, bad size, missing ftyp
    raw = build(b"mp42", 1000, 5000)
    assert sniff_mp4_meta(raw[:50]) is None
    assert sniff_mp4_meta(b"\x00\x00\x00\x03abcd" + raw[8:]) is None
    assert sniff_mp4_meta(raw[16:]) is None  # moov only, no brand
    # v1 mvhd (64-bit duration) parses too
    body1 = (
        b"\x01\x00\x00\x00"
        + b"\x00" * 16
        + struct.pack(">IQ", 90000, 2**33)
        + b"\x00" * 80
    )
    mvhd1 = struct.pack(">I", 8 + len(body1)) + b"mvhd" + body1
    moov1 = struct.pack(">I", 8 + len(mvhd1)) + b"moov" + mvhd1
    ftyp = struct.pack(">I", 16) + b"ftyp" + b"isom" + b"\x00" * 4
    meta = sniff_mp4_meta(ftyp + moov1)
    assert meta == (2, "isom", 90000, 2**33)
    # v1 mvhd too short for its 64-bit fields (32 <= csize < 44): typed
    # miss, never a v0-offset garbage parse (round-11 advisor finding)
    short1 = b"\x01\x00\x00\x00" + b"\x00" * 24  # csize = 8 + 28 = 36
    mvhd_s = struct.pack(">I", 8 + len(short1)) + b"mvhd" + short1
    moov_s = struct.pack(">I", 8 + len(mvhd_s)) + b"moov" + mvhd_s
    assert sniff_mp4_meta(ftyp + moov_s) is None
    # v1 duration >= 2^63 would overflow the Int64 column: typed miss
    body_big = (
        b"\x01\x00\x00\x00"
        + b"\x00" * 16
        + struct.pack(">IQ", 90000, 2**63 + 7)
        + b"\x00" * 80
    )
    mvhd_b = struct.pack(">I", 8 + len(body_big)) + b"mvhd" + body_big
    moov_b = struct.pack(">I", 8 + len(mvhd_b)) + b"moov" + mvhd_b
    assert sniff_mp4_meta(ftyp + moov_b) is None
    # v1 duration < 2^63 but derived duration_ms >= 2^63 (small timescale)
    # also crashes Int64 construction downstream: typed miss (round-12
    # advisor finding — timescale=1, duration=2^62)
    body_ms = (
        b"\x01\x00\x00\x00"
        + b"\x00" * 16
        + struct.pack(">IQ", 1, 2**62)
        + b"\x00" * 80
    )
    mvhd_m = struct.pack(">I", 8 + len(body_ms)) + b"mvhd" + body_ms
    moov_m = struct.pack(">I", 8 + len(mvhd_m)) + b"moov" + mvhd_m
    assert sniff_mp4_meta(ftyp + moov_m) is None
    # ... while a v1 payload whose ms stays in-range still parses
    body_ok = (
        b"\x01\x00\x00\x00"
        + b"\x00" * 16
        + struct.pack(">IQ", 1000, 2**40)
        + b"\x00" * 80
    )
    mvhd_o = struct.pack(">I", 8 + len(body_ok)) + b"mvhd" + body_ok
    moov_o = struct.pack(">I", 8 + len(mvhd_o)) + b"moov" + mvhd_o
    assert sniff_mp4_meta(ftyp + moov_o) == (2, "isom", 1000, 2**40)


# ---------------------------------------------------------------------------
# BMP decoder (multimodal.decode_bmp24) — stride + bottom-up flip
# ---------------------------------------------------------------------------


def _build_bmp(w: int, h: int, px) -> bytes:
    """px(x, y) -> (r, g, b) with y = 0 the logical TOP row."""
    stride = (3 * w + 3) // 4 * 4
    rows = []
    for y in range(h - 1, -1, -1):  # stored bottom-up
        row = b""
        for x in range(w):
            r, g, b = px(x, y)
            row += bytes([b, g, r])
        rows.append(row + b"\x00" * (stride - 3 * w))
    data = b"".join(rows)
    hdr = (
        b"BM"
        + struct.pack("<IHHI", 54 + len(data), 0, 0, 54)
        + struct.pack(
            "<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(data), 0, 0, 0, 0
        )
    )
    return hdr + data


def test_bmp_decoder_roundtrip_and_rejects():
    from mongodb_nats_connector_spark.operators.multimodal import (
        decode_bmp24,
    )

    rng = random.Random(241)
    for _ in range(20):
        w, h = rng.randint(1, 7), rng.randint(1, 5)
        vals = {
            (x, y): (
                rng.randrange(256),
                rng.randrange(256),
                rng.randrange(256),
            )
            for x in range(w)
            for y in range(h)
        }
        raw = _build_bmp(w, h, lambda x, y: vals[(x, y)])
        got = decode_bmp24(raw)
        assert got is not None
        gw, gh, pixels = got
        assert (gw, gh) == (w, h)
        # logical raster order: y-major from the top
        assert pixels == [
            vals[(x, y)] for y in range(h) for x in range(w)
        ]
    raw = _build_bmp(3, 2, lambda x, y: (x, y, 7))
    assert decode_bmp24(raw[:40]) is None  # truncated
    assert decode_bmp24(b"XX" + raw[2:]) is None  # bad magic
    bad_bpp = raw[:28] + struct.pack("<H", 8) + raw[30:]
    assert decode_bmp24(bad_bpp) is None  # non-24bpp


# ---------------------------------------------------------------------------
# WAV PCM decoder (multimodal.decode_wav_pcm16)
# ---------------------------------------------------------------------------


def test_wav_pcm_decoder_roundtrip():
    from mongodb_nats_connector_spark.operators.multimodal import (
        decode_wav_pcm16,
    )

    rng = random.Random(251)
    for _ in range(20):
        samples = [
            rng.randint(-32768, 32767) for _ in range(rng.randint(1, 100))
        ]
        data = struct.pack("<%dh" % len(samples), *samples)
        hdr = (
            b"RIFF"
            + struct.pack("<I", 36 + len(data))
            + b"WAVEfmt "
            + struct.pack("<IHHIIHH", 16, 1, 1, 16000, 32000, 2, 16)
            + b"data"
            + struct.pack("<I", len(data))
        )
        assert decode_wav_pcm16(hdr + data) == samples
    assert decode_wav_pcm16(b"RIFX" + b"\x00" * 60) is None


# ---------------------------------------------------------------------------
# GIF walker rejects malformed block streams (multimodal.walk_gif_frames)
# ---------------------------------------------------------------------------


def test_gif_walker_adversarial():
    import struct as _s

    from mongodb_nats_connector_spark.operators.multimodal import (
        walk_gif_frames,
    )

    def build(w, h, delays):
        out = b"GIF89a" + _s.pack("<HH", w, h) + bytes([0x00, 0, 0])
        for d in delays:
            out += bytes([0x21, 0xF9, 4, 0]) + _s.pack("<H", d)
            out += bytes([0, 0])
            out += bytes([0x2C]) + _s.pack("<HHHH", 0, 0, w, h) + bytes([0])
            out += bytes([2, 1, 0x4C, 0])
        return out + bytes([0x3B])

    raw = build(9, 4, [1, 2, 3, 4])
    assert walk_gif_frames(raw) == (9, 4, 4, 10)
    assert walk_gif_frames(raw[:-1]) is None        # missing trailer
    assert walk_gif_frames(raw[:30]) is None        # truncated mid-block
    bad = raw[:13] + bytes([0x7F]) + raw[14:]       # unknown block type
    assert walk_gif_frames(bad) is None
    # global color table skipping: set GCT flag with 2-entry table
    gct = (
        b"GIF89a" + _s.pack("<HH", 5, 5) + bytes([0x80, 0, 0])
        + b"\x00" * 6 + raw[13:]
    )
    assert walk_gif_frames(gct) == (5, 5, 4, 10)


def test_png_walker_roundtrip_and_rejects():
    import struct as _s

    from mongodb_nats_connector_spark.operators.multimodal import (
        walk_png_chunks,
    )

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return _s.pack(">I", len(data)) + ctype + data + b"\x00" * 4

    def build(w, h, ntext, idat_len):
        out = b"\x89PNG\r\n\x1a\n"
        out += chunk(b"IHDR", _s.pack(">IIBBBBB", w, h, 8, 6, 0, 0, 0))
        for i in range(ntext):
            out += chunk(b"tEXt", b"K" * (5 + i))
        out += chunk(b"IDAT", b"\xa5" * idat_len)
        out += chunk(b"IEND", b"")
        return out

    rng = random.Random(331)
    for _ in range(20):
        w, h = rng.randint(1, 4000), rng.randint(1, 4000)
        ntext, idat = rng.randint(0, 5), rng.randint(0, 500)
        got = walk_png_chunks(build(w, h, ntext, idat))
        assert got == (w, h, 3 + ntext, ntext, idat, 1)
    raw = build(9, 9, 2, 50)
    assert walk_png_chunks(raw[:-5]) is None     # truncated before IEND
    assert walk_png_chunks(b"GIF89a" + raw[6:]) is None  # bad magic
    # declared length larger than the remaining stream: malformed
    bad = raw[:8] + _s.pack(">I", 10**6) + raw[12:]
    assert walk_png_chunks(bad) is None


def test_tiff_walker_roundtrip_and_rejects():
    import struct as _s

    from mongodb_nats_connector_spark.operators.multimodal import (
        walk_tiff_ifd,
    )

    def entry(pre, tag, val):
        return _s.pack(pre + "HHI", tag, 4, 1) + _s.pack(pre + "I", val)

    for pre, hdr, le in (
        ("<", b"II" + _s.pack("<H", 42), 1),
        (">", b"MM" + _s.pack(">H", 42), 0),
    ):
        b = hdr + _s.pack(pre + "I", 8) + _s.pack(pre + "H", 4)
        b += (
            entry(pre, 256, 640)
            + entry(pre, 257, 480)
            + entry(pre, 258, 24)
            + entry(pre, 400, 7)
        )
        b += _s.pack(pre + "I", 0)
        assert walk_tiff_ifd(b) == (le, 640, 480, 24, 4)
        # truncated IFD -> typed miss
        assert walk_tiff_ifd(b[:-6]) is None
    # wrong byte-order mark / wrong magic / missing dimension tags
    assert walk_tiff_ifd(b"XX" + b"\x00" * 10) is None
    bad_magic = b"II" + _s.pack("<H", 43) + _s.pack("<I", 8)
    assert walk_tiff_ifd(bad_magic + b"\x00" * 20) is None
    nodims = (
        b"II" + _s.pack("<H", 42) + _s.pack("<I", 8) + _s.pack("<H", 1)
        + entry("<", 400, 7) + _s.pack("<I", 0)
    )
    assert walk_tiff_ifd(nodims) is None
    # SHORT(3)-typed dimensions decode from the first 2 inline bytes in
    # BOTH byte orders — a big-endian SHORT must NOT read as value<<16
    # (ADVICE r13) — and an unsupported type (RATIONAL=5) is skipped, so
    # a RATIONAL-typed width is a typed miss, not a garbage value.
    def entry_t(pre, tag, typ, val):
        if typ == 3:
            return _s.pack(pre + "HHI", tag, 3, 1) + _s.pack(
                pre + "H", val
            ) + b"\x00\x00"
        return _s.pack(pre + "HHI", tag, typ, 1) + _s.pack(pre + "I", val)

    for pre, hdr, le in (
        ("<", b"II" + _s.pack("<H", 42), 1),
        (">", b"MM" + _s.pack(">H", 42), 0),
    ):
        b = hdr + _s.pack(pre + "I", 8) + _s.pack(pre + "H", 3)
        b += (
            entry_t(pre, 256, 3, 640)
            + entry_t(pre, 257, 3, 480)
            + entry_t(pre, 258, 3, 16)
        )
        b += _s.pack(pre + "I", 0)
        assert walk_tiff_ifd(b) == (le, 640, 480, 16, 3)
        rational_w = hdr + _s.pack(pre + "I", 8) + _s.pack(pre + "H", 3)
        rational_w += (
            entry_t(pre, 256, 5, 640)
            + entry_t(pre, 257, 3, 480)
            + entry_t(pre, 258, 3, 16)
        )
        rational_w += _s.pack(pre + "I", 0)
        assert walk_tiff_ifd(rational_w) is None


def test_ico_walker_roundtrip_and_rejects():
    import struct as _s

    from mongodb_nats_connector_spark.operators.multimodal import (
        walk_ico_dir,
    )

    ico = _s.pack("<HHH", 0, 1, 2)
    ico += bytes([0, 32, 0, 0]) + _s.pack("<HH", 1, 32) + _s.pack(
        "<II", 1200, 22
    )
    ico += bytes([16, 0, 0, 0]) + _s.pack("<HH", 1, 32) + _s.pack(
        "<II", 900, 22
    )
    # the 0-means-256 quirk on width AND height
    assert walk_ico_dir(ico) == (2, 256, 256, 2100)
    # cursor resource type (2) and zero-count directories are misses
    assert walk_ico_dir(_s.pack("<HHH", 0, 2, 1) + b"\x00" * 16) is None
    assert walk_ico_dir(_s.pack("<HHH", 0, 1, 0)) is None
    # truncated directory
    assert walk_ico_dir(ico[:20]) is None


# ---------------------------------------------------------------------------
# Real image headers through the decode operator (sniff_image_dims)
# ---------------------------------------------------------------------------


def _golden_png(w: int, h: int) -> bytes:
    """Minimal valid grayscale PNG built with stdlib only."""
    import struct
    import zlib

    def chunk(typ: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + typ
            + data
            + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
    raw = b"".join(b"\x00" + b"\x80" * w for _ in range(h))
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def _golden_gif(w: int, h: int) -> bytes:
    import struct

    return b"GIF89a" + struct.pack("<HH", w, h) + b"\x00" * 20


def _golden_jpeg(w: int, h: int) -> bytes:
    import struct

    # SOI + APP0 + SOF0 carrying the dimensions + EOI
    app0 = b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00" + b"\x00" * 9
    sof = (
        b"\xff\xc0"
        + struct.pack(">H", 11)
        + b"\x08"
        + struct.pack(">HH", h, w)
        + b"\x01\x11\x00"
    )
    return b"\xff\xd8" + app0 + sof + b"\xff\xd9"


def test_multimodal_real_header_decode(spark):
    """Image payloads get REAL header-parsed dimensions through the same
    mapInPandas operator; non-image payloads keep the stub fallback."""
    from mongodb_nats_connector_spark.operators.multimodal import (
        DECODED_SCHEMA,
        _decode_batches,
        fake_decode,
        sniff_image_dims,
    )

    assert sniff_image_dims(_golden_png(640, 360)) == (640, 360, "png")
    assert sniff_image_dims(_golden_gif(12, 7)) == (12, 7, "gif")
    assert sniff_image_dims(_golden_jpeg(800, 600)) == (800, 600, "jpeg")
    assert sniff_image_dims(b"just text") is None

    rows = [
        (1, _golden_png(640, 360)),
        (2, _golden_gif(12, 7)),
        (3, _golden_jpeg(800, 600)),
        (4, b"plain text payload"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    out = {
        r["doc_id"]: r
        for r in df.mapInPandas(_decode_batches, DECODED_SCHEMA).collect()
    }
    assert (out[1]["fake_width"], out[1]["fake_height"], out[1]["codec"]) == (
        640, 360, "png",
    )
    assert (out[2]["fake_width"], out[2]["fake_height"], out[2]["codec"]) == (
        12, 7, "gif",
    )
    assert (out[3]["fake_width"], out[3]["fake_height"], out[3]["codec"]) == (
        800, 600, "jpeg",
    )
    w, h = fake_decode(rows[3][1])
    assert (out[4]["fake_width"], out[4]["fake_height"], out[4]["codec"]) == (
        w, h, "stub",
    )
