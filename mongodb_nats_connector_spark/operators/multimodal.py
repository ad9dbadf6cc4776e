"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Image/audio/video payloads are carried as `binary` columns with metadata
columns alongside (the same pattern the reference uses for its schemaless
`fullDocument` BSON blob — extract the envelope, pass the payload through
opaque, SURVEY.md §1.2). Decode / feature-extraction runs as Arrow-batched
pandas over `mapInPandas`; the actual image/audio codecs are STUBBED (libs
not in this container) behind `decode_stub`, but the Spark-side plumbing —
schema, batch shape, partitioning — is real and tested.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from mongodb_nats_connector_spark.registry import register
from mongodb_nats_connector_spark.sources.tables import table

DECODED_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("n_bytes", LongType(), False),
        StructField("fake_width", LongType(), True),
        StructField("fake_height", LongType(), True),
        StructField("codec", StringType(), True),
    ]
)


def sniff_image_dims(payload: bytes) -> tuple[int, int, str] | None:
    """Real image-dimension extraction by HEADER parsing (pure stdlib — the
    way dimension metadata is actually computed over petabyte image corpora:
    peek the container header, never decode pixels). Supports PNG, GIF and
    JPEG; returns (width, height, codec) or None for non-image payloads."""
    import struct

    if len(payload) >= 24 and payload[:8] == b"\x89PNG\r\n\x1a\n":
        w, h = struct.unpack(">II", payload[16:24])
        return int(w), int(h), "png"
    if len(payload) >= 10 and payload[:6] in (b"GIF87a", b"GIF89a"):
        w, h = struct.unpack("<HH", payload[6:10])
        return int(w), int(h), "gif"
    if len(payload) >= 4 and payload[:2] == b"\xff\xd8":
        # walk JPEG markers to the first SOF segment
        i = 2
        while i + 9 < len(payload):
            if payload[i] != 0xFF:
                i += 1
                continue
            marker = payload[i + 1]
            if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
                h, w = struct.unpack(">HH", payload[i + 5 : i + 9])
                return int(w), int(h), "jpeg"
            seg_len = struct.unpack(">H", payload[i + 2 : i + 4])[0]
            i += 2 + seg_len
        return None
    return None


def fake_decode(payload: bytes) -> tuple[int, int]:
    """Deterministic stand-in: derive fake dimensions from the payload bytes
    so tests are reproducible without codec libraries."""
    n = len(payload)
    return (n % 640) + 1, ((n * 7) % 480) + 1


def _decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Arrow-batched decode: real header-sniffed dimensions for payloads
    that ARE images (PNG/GIF/JPEG), deterministic stub dims otherwise.
    The fixture corpus is ASCII text, so the oracle-checked output is all
    stub rows; golden-image unit tests pin the real path."""
    for pdf in batches:
        ids, nbytes, widths, heights, codecs = [], [], [], [], []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            buf = bytes(payload)
            sniffed = sniff_image_dims(buf)
            if sniffed is None:
                w, h = fake_decode(buf)
                codec = "stub"
            else:
                w, h, codec = sniffed
            ids.append(doc_id)
            nbytes.append(len(buf))
            widths.append(w)
            heights.append(h)
            codecs.append(codec)
        yield pd.DataFrame(
            {
                "doc_id": pd.Series(ids, dtype="int64"),
                "n_bytes": pd.Series(nbytes, dtype="int64"),
                "fake_width": pd.Series(widths, dtype="int64"),
                "fake_height": pd.Series(heights, dtype="int64"),
                "codec": codecs,
            }
        )


def with_binary_payload(docs: DataFrame) -> DataFrame:
    """Model the multimodal table: text encoded to an opaque binary column."""
    return docs.select(
        "doc_id", F.encode(F.col("text"), "utf-8").alias("payload"), "source"
    )


@register(
    "multimodal_binary_meta",
    oracle="""
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           upper(substr(hex(encode(text)), 1, 16))    AS prefix_hex,
           source
    FROM documents
    """,
    doc="Typed metadata over an opaque binary column: byte length + hex "
    "prefix, computed without decoding (scan stays columnar; the payload is "
    "never deserialized driver-side).",
)
def multimodal_binary_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = with_binary_payload(table(spark, sf_dir, "documents"))
    return docs.select(
        "doc_id",
        F.length("payload").cast("bigint").alias("n_bytes"),
        F.upper(F.substring(F.hex("payload"), 1, 16)).alias("prefix_hex"),
        "source",
    )


@register(
    "multimodal_decode_features",
    # the stub 'decode' derives features from payload length alone — pure
    # arithmetic, so the driver hash-checks the full mapInPandas plumbing
    oracle="""
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT)               AS n_bytes,
           CAST(octet_length(encode(text)) % 640 + 1 AS BIGINT)     AS fake_width,
           CAST((octet_length(encode(text)) * 7) % 480 + 1 AS BIGINT) AS fake_height,
           'stub' AS codec
    FROM documents
    """,
    doc="mapInPandas feature extraction over binary payloads: Arrow batches "
    "in, typed feature rows out. Image payloads (PNG/GIF/JPEG) get REAL "
    "header-parsed dimensions (stdlib, no pixel decode — the petabyte-scale "
    "metadata path); non-image payloads fall back to the deterministic "
    "stub, which is what the all-text fixture corpus exercises for the "
    "oracle. Full pixel decode (real_decode) stays PIL-gated.",
)
def multimodal_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = with_binary_payload(table(spark, sf_dir, "documents"))
    return docs.mapInPandas(_decode_batches, DECODED_SCHEMA)


FRAME_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("frame_idx", LongType(), False),
        StructField("frame_bytes", LongType(), False),
        StructField("frame_checksum", LongType(), False),
    ]
)


def _frame_sample_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Treat the binary payload as a fake video: fixed-size 32-byte 'frames',
    sample every 4th (deterministic stride). A real implementation swaps the
    chunker for an av/ffmpeg decode — the batching/schema stays identical."""
    for pdf in batches:
        ids, idxs, sizes, sums = [], [], [], []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            frames = [payload[i : i + 32] for i in range(0, len(payload), 32)]
            for k in range(0, len(frames), 4):
                ids.append(doc_id)
                idxs.append(k)
                sizes.append(len(frames[k]))
                sums.append(int(sum(frames[k]) % 65536))
        yield pd.DataFrame(
            {
                "doc_id": pd.Series(ids, dtype="int64"),
                "frame_idx": pd.Series(idxs, dtype="int64"),
                "frame_bytes": pd.Series(sizes, dtype="int64"),
                "frame_checksum": pd.Series(sums, dtype="int64"),
            }
        )


@register(
    "multimodal_frame_sample",
    # The stub chunker is deterministic byte arithmetic over encode(text)
    # (documents.text is ASCII, so ascii(substr(text, i, 1)) IS byte i):
    # fully SQL-expressible, so the driver hash-checks it like any query.
    oracle="""
    WITH d AS (
      SELECT doc_id, text, octet_length(encode(text)) AS n FROM documents
    ), f AS (
      SELECT doc_id, text, n,
             unnest(range(0, CAST(ceil(n / 32.0) AS BIGINT), 4)) AS frame_idx
      FROM d
    )
    SELECT doc_id, CAST(frame_idx AS BIGINT) AS frame_idx,
           CAST(least(32, n - 32 * frame_idx) AS BIGINT) AS frame_bytes,
           CAST(list_sum(list_transform(
                  range(1, CAST(least(32, n - 32 * frame_idx) AS BIGINT) + 1),
                  j -> ascii(substr(text, CAST(32 * frame_idx + j AS BIGINT), 1))
                )) % 65536 AS BIGINT) AS frame_checksum
    FROM f
    """,
    doc="Frame sampling over opaque binary 'video' payloads via mapInPandas: "
    "fixed-stride frame selection with per-frame metadata. Decode is a "
    "deterministic byte-chunking stub (no codec libs in this env); the "
    "Spark-side plumbing — Arrow batches, typed schema, partition "
    "parallelism — is the real thing.",
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = with_binary_payload(table(spark, sf_dir, "documents", parallel=True))
    return docs.mapInPandas(_frame_sample_batches, FRAME_SCHEMA)


@register(
    "multimodal_resize_stub",
    # fake_decode is (n%640)+1 x ((n*7)%480)+1 over n = payload bytes; the
    # resize box is floor(x*256/max + 0.5) — explicitly floor-based (NOT
    # Python round(): banker's rounding has no SQL equivalent) so the same
    # IEEE-double expression evaluates identically in DuckDB.
    oracle="""
    WITH d AS (
      SELECT doc_id,
             octet_length(encode(text)) % 640 + 1       AS width,
             (octet_length(encode(text)) * 7) % 480 + 1 AS height
      FROM documents
    )
    SELECT doc_id,
           CAST(width  AS BIGINT) AS width,
           CAST(height AS BIGINT) AS height,
           CAST(greatest(1, floor((width  * 256.0) / greatest(width, height) + 0.5))
                AS BIGINT) AS out_width,
           CAST(greatest(1, floor((height * 256.0) / greatest(width, height) + 0.5))
                AS BIGINT) AS out_height
    FROM d
    """,
    doc="Image-resize stub via mapInPandas: fake decode derives (w, h) from "
    "payload bytes, 'resize' computes the target box preserving aspect "
    "ratio (pure arithmetic, deterministic). Swap fake_decode for PIL at "
    "deploy time; raise real_decode's NotImplementedError path otherwise.",
)
def multimodal_resize_stub(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    target = 256

    def resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                w, h = fake_decode(bytes(payload))
                m = max(w, h)
                # floor(x + 0.5), not round(): bit-identical to the DuckDB
                # oracle's floor expression (banker's rounding is not)
                out_w = max(1, math.floor((w * float(target)) / m + 0.5))
                out_h = max(1, math.floor((h * float(target)) / m + 0.5))
                rows.append((doc_id, w, h, out_w, out_h))
            yield pd.DataFrame(
                rows, columns=["doc_id", "width", "height", "out_width", "out_height"]
            ).astype("int64")

    docs = with_binary_payload(table(spark, sf_dir, "documents", parallel=True))
    return docs.mapInPandas(
        resize,
        "doc_id BIGINT, width BIGINT, height BIGINT, out_width BIGINT, out_height BIGINT",
    )


WAV_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("sample_rate", LongType(), True),
        StructField("channels", LongType(), True),
        StructField("bits", LongType(), True),
        StructField("n_samples", LongType(), True),
        StructField("duration_ms", LongType(), True),
    ]
)


def sniff_wav_meta(payload: bytes) -> tuple[int, int, int, int, int, int] | None:
    """Real WAV metadata by RIFF-header parsing (pure stdlib): sample rate,
    channels, bit depth, byte rate, block align, data size from the canonical
    44-byte header — no sample decode, the petabyte-scale audio-metadata
    path. Returns None for non-WAV payloads."""
    import struct

    if len(payload) < 44 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        return None
    if payload[12:16] != b"fmt " or payload[36:40] != b"data":
        return None
    _fmt_size, _audio_fmt, channels, rate = struct.unpack(
        "<IHHI", payload[16:28]
    )
    byte_rate, block_align, bits = struct.unpack("<IHH", payload[28:36])
    (data_size,) = struct.unpack("<I", payload[40:44])
    return rate, channels, bits, byte_rate, block_align, data_size


def _wav_meta_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Arrow-batched WAV header extraction: real RIFF parse; non-WAV payloads
    yield NULL metadata (the typed-miss row, not a crash)."""
    for pdf in batches:
        ids, rates, chans, bits_l, samps, durs = [], [], [], [], [], []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            meta = sniff_wav_meta(bytes(payload))
            ids.append(doc_id)
            # degenerate-but-magic-valid headers (block_align or rate 0)
            # are typed misses too, never a ZeroDivisionError in the task
            if meta is not None and (meta[0] == 0 or meta[4] == 0):
                meta = None
            if meta is None:
                rates.append(None)
                chans.append(None)
                bits_l.append(None)
                samps.append(None)
                durs.append(None)
            else:
                rate, channels, bits, _br, block_align, data_size = meta
                n_samples = data_size // block_align
                rates.append(rate)
                chans.append(channels)
                bits_l.append(bits)
                samps.append(n_samples)
                durs.append(n_samples * 1000 // rate)
        yield pd.DataFrame(
            {
                "doc_id": pd.Series(ids, dtype="int64"),
                "sample_rate": pd.Series(rates, dtype="Int64"),
                "channels": pd.Series(chans, dtype="Int64"),
                "bits": pd.Series(bits_l, dtype="Int64"),
                "n_samples": pd.Series(samps, dtype="Int64"),
                "duration_ms": pd.Series(durs, dtype="Int64"),
            }
        )


AUDIO_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("window_idx", LongType(), False),
        StructField("n_samples", LongType(), False),
        StructField("rms_energy", LongType(), False),
    ]
)


def _audio_energy_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Treat the binary payload as fake PCM: int16 little-endian samples,
    non-overlapping 64-sample windows, integer RMS energy per window. A real
    implementation swaps the frombuffer for an audio decode (soundfile/libav);
    the Arrow batching, window shape, and output schema are unchanged."""
    import numpy as np

    for pdf in batches:
        ids, idxs, counts, energies = [], [], [], []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            buf = bytes(payload)
            samples = np.frombuffer(buf[: len(buf) - (len(buf) % 2)], dtype="<i2")
            for w in range(0, len(samples), 64):
                chunk = samples[w : w + 64].astype(np.int64)
                ids.append(doc_id)
                idxs.append(w // 64)
                counts.append(len(chunk))
                energies.append(int(np.sqrt(np.mean(chunk * chunk))))
        yield pd.DataFrame(
            {
                "doc_id": pd.Series(ids, dtype="int64"),
                "window_idx": pd.Series(idxs, dtype="int64"),
                "n_samples": pd.Series(counts, dtype="int64"),
                "rms_energy": pd.Series(energies, dtype="int64"),
            }
        )


@register(
    "multimodal_audio_energy",
    # fake-PCM int16 little-endian over ASCII payload bytes: sample s is
    # byte(2s) + 256*byte(2s+1) sign-folded; 64-sample windows; integer RMS.
    # Sums of <=64 int squares are exact in double on both engines, so
    # trunc(sqrt(avg)) is deterministic.
    oracle="""
    WITH s AS (
      SELECT doc_id, text, octet_length(encode(text)) // 2 AS n_samp
      FROM documents
    ), samp AS (
      SELECT doc_id, text, unnest(range(n_samp)) AS i FROM s WHERE n_samp > 0
    ), raw AS (
      SELECT doc_id, i // 64 AS window_idx,
             ascii(substr(text, CAST(2 * i + 1 AS BIGINT), 1))
             + 256 * ascii(substr(text, CAST(2 * i + 2 AS BIGINT), 1)) AS u
      FROM samp
    ), v AS (
      SELECT doc_id, window_idx,
             u - 65536 * CAST(u >= 32768 AS INTEGER) AS val
      FROM raw
    )
    SELECT doc_id,
           CAST(window_idx AS BIGINT) AS window_idx,
           CAST(count(*) AS BIGINT) AS n_samples,
           CAST(trunc(sqrt(avg(val * val))) AS BIGINT) AS rms_energy
    FROM v GROUP BY doc_id, window_idx
    """,
    doc="Windowed audio-energy extraction over opaque binary payloads via "
    "mapInPandas: fake-PCM int16 samples, 64-sample windows, integer RMS "
    "per window. Completes the image/video/audio stub triple — same "
    "partition-parallel Arrow plumbing a real decoder would use.",
)
def multimodal_audio_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = with_binary_payload(table(spark, sf_dir, "documents", parallel=True))
    return docs.mapInPandas(_audio_energy_batches, AUDIO_SCHEMA)


MP4_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("n_bytes", LongType(), True),
        StructField("n_top_boxes", LongType(), True),
        StructField("major_brand", StringType(), True),
        StructField("timescale", LongType(), True),
        StructField("duration_ticks", LongType(), True),
        StructField("duration_ms", LongType(), True),
    ]
)


def sniff_mp4_meta(payload: bytes) -> tuple[int, str, int, int] | None:
    """Real ISO-BMFF (MP4/MOV) metadata by box walking (pure stdlib): count
    top-level boxes, read the ftyp major brand, and pull timescale/duration
    out of moov/mvhd (version 0 or 1) — no sample decode, the
    petabyte-scale video-metadata path. Returns None for non-BMFF payloads
    (missing ftyp, truncated or non-positive box sizes)."""
    import struct

    n = len(payload)
    if n < 16:
        return None
    off = 0
    n_top = 0
    brand = None
    timescale = duration = None
    while off + 8 <= n:
        (size,) = struct.unpack(">I", payload[off : off + 4])
        btype = payload[off + 4 : off + 8]
        if size < 8 or off + size > n:
            return None
        n_top += 1
        if btype == b"ftyp":
            brand = payload[off + 8 : off + 12].decode("ascii", "replace")
        elif btype == b"moov":
            coff = off + 8
            while coff + 8 <= off + size:
                (csize,) = struct.unpack(">I", payload[coff : coff + 4])
                ctype = payload[coff + 4 : coff + 8]
                if csize < 8 or coff + csize > off + size:
                    return None
                if ctype == b"mvhd" and csize >= 32:
                    version = payload[coff + 8]
                    if version == 1:
                        # v1 mvhd needs 44 bytes for its 64-bit fields; a
                        # shorter box is malformed — typed miss, never a
                        # v0-offset garbage parse
                        if csize < 44:
                            return None
                        timescale, = struct.unpack(
                            ">I", payload[coff + 28 : coff + 32]
                        )
                        duration, = struct.unpack(
                            ">Q", payload[coff + 32 : coff + 40]
                        )
                        # unsigned 64-bit duration can exceed int64 on
                        # adversarial payloads — bounds-check before it
                        # lands in an Int64 pandas column; the derived
                        # duration_ms (1000*duration//timescale) must pass
                        # the same bound or a small-timescale payload
                        # (e.g. timescale=1, duration=2^62) crashes the
                        # Int64 series construction downstream
                        if duration >= 2**63:
                            return None
                        if timescale and 1000 * duration // timescale >= 2**63:
                            return None
                    else:
                        timescale, duration = struct.unpack(
                            ">II", payload[coff + 20 : coff + 28]
                        )
                coff += csize
        off += size
    if brand is None or timescale is None or timescale == 0:
        return None
    return n_top, brand, timescale, duration


def _mp4_meta_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Arrow-batched MP4 box walking: real ISO-BMFF parse; non-BMFF payloads
    yield NULL metadata (the typed-miss row, not a crash)."""
    for pdf in batches:
        ids, nb, ntop, brands, tss, durs, ms = [], [], [], [], [], [], []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            raw = bytes(payload)
            meta = sniff_mp4_meta(raw)
            ids.append(doc_id)
            nb.append(len(raw))
            if meta is None:
                ntop.append(None)
                brands.append(None)
                tss.append(None)
                durs.append(None)
                ms.append(None)
            else:
                n_top, brand, timescale, duration = meta
                ntop.append(n_top)
                brands.append(brand)
                tss.append(timescale)
                durs.append(duration)
                ms.append(1000 * duration // timescale)
        yield pd.DataFrame(
            {
                "doc_id": pd.Series(ids, dtype="int64"),
                "n_bytes": pd.Series(nb, dtype="Int64"),
                "n_top_boxes": pd.Series(ntop, dtype="Int64"),
                "major_brand": pd.Series(brands, dtype="object"),
                "timescale": pd.Series(tss, dtype="Int64"),
                "duration_ticks": pd.Series(durs, dtype="Int64"),
                "duration_ms": pd.Series(ms, dtype="Int64"),
            }
        )


PCM_STATS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("n_samples", LongType(), True),
        StructField("sum_samples", LongType(), True),
        StructField("min_sample", LongType(), True),
        StructField("max_sample", LongType(), True),
        StructField("abs_sum", LongType(), True),
        StructField("weighted_checksum", LongType(), True),
    ]
)


def decode_wav_pcm16(payload: bytes) -> list[int] | None:
    """REAL PCM payload decode (pure stdlib) for CANONICAL 44-byte-header
    WAV only (fmt at offset 12, data at offset 36 — the layout
    sniff_wav_meta accepts): unpack the data chunk's 16-bit little-endian
    signed samples. WAVs with extra chunks (LIST/fact) or extended fmt are
    typed misses by design — parity-consistent here since the operator
    constructs canonical files; a real chunk walk is the documented upgrade
    path for non-canonical corpora. This is the first multimodal operator
    whose SAMPLE DATA (not just container metadata) sits on the
    oracle-verified hash surface. Returns None for non-WAV / non-16-bit /
    truncated payloads (typed miss, never a crash)."""
    import struct

    meta = sniff_wav_meta(payload)
    if meta is None:
        return None
    _rate, _channels, bits, _br, _ba, data_size = meta
    if bits != 16 or data_size % 2 != 0:
        return None
    data = payload[44 : 44 + data_size]
    if len(data) != data_size:
        return None
    return list(struct.unpack("<%dh" % (data_size // 2), data))


def _pcm_stats_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Arrow-batched PCM sample statistics over decoded 16-bit samples:
    count / sum / min / max / sum|s| / order-weighted checksum
    sum((i+1)*s_i). The weighted checksum proves BYTE ORDER survived the
    construct->Arrow->decode pipeline, not just the sample multiset."""
    for pdf in batches:
        ids, ns, sums, mins, maxs, absol, wsum = [], [], [], [], [], [], []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            samples = decode_wav_pcm16(bytes(payload))
            ids.append(doc_id)
            if samples is None or not samples:
                ns.append(None)
                sums.append(None)
                mins.append(None)
                maxs.append(None)
                absol.append(None)
                wsum.append(None)
            else:
                ns.append(len(samples))
                sums.append(sum(samples))
                mins.append(min(samples))
                maxs.append(max(samples))
                absol.append(sum(abs(s) for s in samples))
                wsum.append(sum((i + 1) * s for i, s in enumerate(samples)))
        yield pd.DataFrame(
            {
                "doc_id": pd.Series(ids, dtype="int64"),
                "n_samples": pd.Series(ns, dtype="Int64"),
                "sum_samples": pd.Series(sums, dtype="Int64"),
                "min_sample": pd.Series(mins, dtype="Int64"),
                "max_sample": pd.Series(maxs, dtype="Int64"),
                "abs_sum": pd.Series(absol, dtype="Int64"),
                "weighted_checksum": pd.Series(wsum, dtype="Int64"),
            }
        )


BMP_STATS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("width", LongType(), True),
        StructField("height", LongType(), True),
        StructField("n_pixels", LongType(), True),
        StructField("sum_r", LongType(), True),
        StructField("sum_g", LongType(), True),
        StructField("sum_b", LongType(), True),
        StructField("raster_checksum", LongType(), True),
    ]
)


def decode_bmp24(payload: bytes) -> tuple[int, int, list[tuple[int, int, int]]] | None:
    """REAL uncompressed 24-bit BMP pixel decode (pure stdlib): parse the
    BITMAPFILEHEADER + BITMAPINFOHEADER, honor the 4-byte row stride and
    the BOTTOM-UP row order, and return pixels as (r, g, b) in logical
    raster order (top row first, left to right). This is the second
    multimodal operator whose PAYLOAD (pixel values, not container
    metadata) sits on the oracle-verified hash surface. Returns None for
    non-BMP / compressed / non-24bpp / truncated payloads."""
    import struct

    if len(payload) < 54 or payload[:2] != b"BM":
        return None
    (offset,) = struct.unpack("<I", payload[10:14])
    bisize, w, h = struct.unpack("<Iii", payload[14:26])
    planes, bpp = struct.unpack("<HH", payload[26:30])
    (compression,) = struct.unpack("<I", payload[30:34])
    if bisize != 40 or planes != 1 or bpp != 24 or compression != 0:
        return None
    if w <= 0 or h <= 0:
        return None
    stride = (3 * w + 3) // 4 * 4
    if len(payload) < offset + stride * h:
        return None
    pixels: list[tuple[int, int, int]] = []
    for y in range(h):  # logical top row first
        row_off = offset + (h - 1 - y) * stride  # stored bottom-up
        for x in range(w):
            o = row_off + 3 * x
            b, g, r = payload[o], payload[o + 1], payload[o + 2]
            pixels.append((r, g, b))
    return w, h, pixels


def _bmp_stats_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Arrow-batched BMP pixel statistics: channel sums plus the raster-
    order weighted checksum sum((i+1)*(r + 2g + 3b)), which only matches
    the oracle if the decoder honored BOTH the row stride padding and the
    bottom-up storage flip."""
    for pdf in batches:
        ids, ws, hs, np_, sr, sg, sb, ck = [], [], [], [], [], [], [], []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            decoded = decode_bmp24(bytes(payload))
            ids.append(doc_id)
            if decoded is None:
                ws.append(None)
                hs.append(None)
                np_.append(None)
                sr.append(None)
                sg.append(None)
                sb.append(None)
                ck.append(None)
            else:
                w, h, px = decoded
                ws.append(w)
                hs.append(h)
                np_.append(len(px))
                sr.append(sum(p[0] for p in px))
                sg.append(sum(p[1] for p in px))
                sb.append(sum(p[2] for p in px))
                ck.append(
                    sum(
                        (i + 1) * (p[0] + 2 * p[1] + 3 * p[2])
                        for i, p in enumerate(px)
                    )
                )
        yield pd.DataFrame(
            {
                "doc_id": pd.Series(ids, dtype="int64"),
                "width": pd.Series(ws, dtype="Int64"),
                "height": pd.Series(hs, dtype="Int64"),
                "n_pixels": pd.Series(np_, dtype="Int64"),
                "sum_r": pd.Series(sr, dtype="Int64"),
                "sum_g": pd.Series(sg, dtype="Int64"),
                "sum_b": pd.Series(sb, dtype="Int64"),
                "raster_checksum": pd.Series(ck, dtype="Int64"),
            }
        )


GIF_ANIM_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("width", LongType(), True),
        StructField("height", LongType(), True),
        StructField("n_frames", LongType(), True),
        StructField("total_delay_cs", LongType(), True),
    ]
)


def walk_gif_frames(payload: bytes) -> tuple[int, int, int, int] | None:
    """Real animated-GIF structure walking (pure stdlib): header + logical
    screen descriptor, then the block stream — graphic-control extensions
    (accumulating frame delays), image descriptors (counting frames,
    skipping local color tables and LZW sub-blocks BY LENGTH, no pixel
    decode), other extensions skipped, trailer terminates. Returns
    (width, height, n_frames, total_delay_centiseconds) or None for
    non-GIF / truncated / malformed payloads."""
    import struct

    n = len(payload)
    if n < 13 or payload[:6] not in (b"GIF87a", b"GIF89a"):
        return None
    w, h = struct.unpack("<HH", payload[6:10])
    packed = payload[10]
    off = 13
    if packed & 0x80:  # global color table present
        off += 3 * (2 << (packed & 0x07))
    frames = 0
    total_delay = 0

    def skip_subblocks(o: int) -> int | None:
        while True:
            if o >= n:
                return None
            size = payload[o]
            o += 1
            if size == 0:
                return o
            o += size

    while off < n:
        b = payload[off]
        if b == 0x3B:  # trailer
            return int(w), int(h), frames, total_delay
        if b == 0x21:  # extension
            if off + 2 > n:
                return None
            label = payload[off + 1]
            if label == 0xF9 and off + 8 <= n and payload[off + 2] == 4:
                (delay,) = struct.unpack("<H", payload[off + 4 : off + 6])
                total_delay += delay
            nxt = skip_subblocks(off + 2)
            if nxt is None:
                return None
            off = nxt
        elif b == 0x2C:  # image descriptor
            if off + 10 > n:
                return None
            ipacked = payload[off + 9]
            off += 10
            if ipacked & 0x80:  # local color table
                off += 3 * (2 << (ipacked & 0x07))
            if off >= n:
                return None
            off += 1  # LZW minimum code size
            nxt = skip_subblocks(off)
            if nxt is None:
                return None
            off = nxt
            frames += 1
        else:
            return None
    return None  # no trailer


def _gif_frames_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Arrow-batched GIF structure walking; non-GIF payloads yield the
    typed-miss row."""
    for pdf in batches:
        ids, ws, hs, fr, dl = [], [], [], [], []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            meta = walk_gif_frames(bytes(payload))
            ids.append(doc_id)
            if meta is None:
                ws.append(None)
                hs.append(None)
                fr.append(None)
                dl.append(None)
            else:
                w, h, frames, delay = meta
                ws.append(w)
                hs.append(h)
                fr.append(frames)
                dl.append(delay)
        yield pd.DataFrame(
            {
                "doc_id": pd.Series(ids, dtype="int64"),
                "width": pd.Series(ws, dtype="Int64"),
                "height": pd.Series(hs, dtype="Int64"),
                "n_frames": pd.Series(fr, dtype="Int64"),
                "total_delay_cs": pd.Series(dl, dtype="Int64"),
            }
        )


PNG_CHUNK_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("width", LongType(), True),
        StructField("height", LongType(), True),
        StructField("n_chunks", LongType(), True),
        StructField("n_text_chunks", LongType(), True),
        StructField("idat_bytes", LongType(), True),
        StructField("has_iend", LongType(), True),
    ]
)


def walk_png_chunks(payload: bytes) -> tuple[int, int, int, int, int, int] | None:
    """Real PNG chunk-stream walking (pure stdlib): verify the signature,
    then iterate length/type/data/CRC frames — IHDR dimensions, chunk
    census, total IDAT byte count, IEND presence. CRCs are skipped by
    LENGTH, not validated (the fast-scan convention; declared). Returns
    None for non-PNG / truncated / malformed streams."""
    import struct

    n = len(payload)
    if n < 8 or payload[:8] != b"\x89PNG\r\n\x1a\n":
        return None
    off = 8
    w = h = None
    n_chunks = n_text = idat = 0
    has_iend = 0
    while off + 8 <= n:
        (length,) = struct.unpack(">I", payload[off : off + 4])
        ctype = payload[off + 4 : off + 8]
        if off + 12 + length > n:
            return None
        if ctype == b"IHDR":
            if length < 13:
                return None
            w, h = struct.unpack(">II", payload[off + 8 : off + 16])
        elif ctype == b"tEXt":
            n_text += 1
        elif ctype == b"IDAT":
            idat += length
        n_chunks += 1
        off += 12 + length
        if ctype == b"IEND":
            has_iend = 1
            break
    if w is None or not has_iend:
        return None
    return int(w), int(h), n_chunks, n_text, idat, has_iend


def _png_chunks_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Arrow-batched PNG chunk walking; non-PNG payloads yield the
    typed-miss row."""
    for pdf in batches:
        ids, ws, hs, nc, nt, ib, ie = [], [], [], [], [], [], []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            meta = walk_png_chunks(bytes(payload))
            ids.append(doc_id)
            if meta is None:
                for lst in (ws, hs, nc, nt, ib, ie):
                    lst.append(None)
            else:
                w, h, nch, ntx, idat, iend = meta
                ws.append(w)
                hs.append(h)
                nc.append(nch)
                nt.append(ntx)
                ib.append(idat)
                ie.append(iend)
        yield pd.DataFrame(
            {
                "doc_id": pd.Series(ids, dtype="int64"),
                "width": pd.Series(ws, dtype="Int64"),
                "height": pd.Series(hs, dtype="Int64"),
                "n_chunks": pd.Series(nc, dtype="Int64"),
                "n_text_chunks": pd.Series(nt, dtype="Int64"),
                "idat_bytes": pd.Series(ib, dtype="Int64"),
                "has_iend": pd.Series(ie, dtype="Int64"),
            }
        )


# ---------------------------------------------------------------------------
# TIFF IFD directory walking (both byte orders)
# ---------------------------------------------------------------------------

TIFF_IFD_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("is_little_endian", LongType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("bits_per_sample", LongType()),
        StructField("n_entries", LongType()),
    ]
)


def walk_tiff_ifd(payload: bytes) -> tuple[int, int, int, int, int] | None:
    """Walk the first IFD of a TIFF container: detect the byte order from
    the 'II'/'MM' header, verify the magic 42, follow the IFD offset, and
    scan the 12-byte entries for ImageWidth(256)/ImageLength(257)/
    BitsPerSample(258) stored as LONG(4) or SHORT(3) values — SHORT is
    decoded from the first inline 2 bytes (the TIFF inline-value rule),
    any other entry type is skipped, so a non-canonical big-endian
    SHORT-typed dimension can never be misread as value<<16 (ADVICE
    r13). Directory walk only (tag values beyond the inline 4 bytes are
    not dereferenced). Malformed input (bad byte order, wrong magic,
    truncated IFD, missing dimension tags) is a typed miss (None),
    never an exception.
    """
    import struct

    if len(payload) < 8:
        return None
    bo = payload[:2]
    if bo == b"II":
        le, pre = 1, "<"
    elif bo == b"MM":
        le, pre = 0, ">"
    else:
        return None
    (magic,) = struct.unpack_from(pre + "H", payload, 2)
    if magic != 42:
        return None
    (ifd_off,) = struct.unpack_from(pre + "I", payload, 4)
    if ifd_off < 8 or ifd_off + 2 > len(payload):
        return None
    (n,) = struct.unpack_from(pre + "H", payload, ifd_off)
    end = ifd_off + 2 + 12 * n + 4
    if n == 0 or end > len(payload):
        return None
    width = height = bits = None
    for i in range(n):
        base = ifd_off + 2 + 12 * i
        tag, typ, cnt = struct.unpack_from(pre + "HHI", payload, base)
        if typ == 4:  # LONG: full 4-byte inline value
            (val,) = struct.unpack_from(pre + "I", payload, base + 8)
        elif typ == 3:  # SHORT: first 2 inline bytes, per the TIFF spec
            (val,) = struct.unpack_from(pre + "H", payload, base + 8)
        else:  # untyped/unsupported entry: never guess a width from it
            continue
        if tag == 256:
            width = val
        elif tag == 257:
            height = val
        elif tag == 258:
            bits = val
    if width is None or height is None or bits is None:
        return None
    return le, width, height, bits, n


def _tiff_ifd_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Arrow-batched TIFF IFD walking; malformed payloads yield the
    typed-miss row."""
    for pdf in batches:
        ids, les, ws, hs, bs, ns = [], [], [], [], [], []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            meta = walk_tiff_ifd(bytes(payload))
            ids.append(doc_id)
            if meta is None:
                for lst in (les, ws, hs, bs, ns):
                    lst.append(None)
            else:
                le, w, h, b, n = meta
                les.append(le)
                ws.append(w)
                hs.append(h)
                bs.append(b)
                ns.append(n)
        yield pd.DataFrame(
            {
                "doc_id": pd.Series(ids, dtype="int64"),
                "is_little_endian": pd.Series(les, dtype="Int64"),
                "width": pd.Series(ws, dtype="Int64"),
                "height": pd.Series(hs, dtype="Int64"),
                "bits_per_sample": pd.Series(bs, dtype="Int64"),
                "n_entries": pd.Series(ns, dtype="Int64"),
            }
        )


# ---------------------------------------------------------------------------
# ICO directory walking
# ---------------------------------------------------------------------------

ICO_DIR_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_images", LongType()),
        StructField("max_width", LongType()),
        StructField("max_height", LongType()),
        StructField("total_declared_bytes", LongType()),
    ]
)


def walk_ico_dir(payload: bytes) -> tuple[int, int, int, int] | None:
    """Walk an ICONDIR: verify reserved=0 / type=1, then scan the 16-byte
    ICONDIRENTRY records — width/height bytes (0 encodes 256, the ICO
    quirk) and the declared image byte sizes. Directory walk only: the
    image payloads are not dereferenced, so a directory whose declared
    sizes overrun the file still parses (declared, not verified, sizes —
    the fast-scan convention). Malformed headers are a typed miss.
    """
    import struct

    if len(payload) < 6:
        return None
    res, typ, cnt = struct.unpack_from("<HHH", payload, 0)
    if res != 0 or typ != 1 or cnt == 0:
        return None
    if 6 + 16 * cnt > len(payload):
        return None
    maxw = maxh = total = 0
    for i in range(cnt):
        base = 6 + 16 * i
        w = payload[base] or 256
        h = payload[base + 1] or 256
        (size,) = struct.unpack_from("<I", payload, base + 8)
        maxw = max(maxw, w)
        maxh = max(maxh, h)
        total += size
    return cnt, maxw, maxh, total


def _ico_dir_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Arrow-batched ICO directory walking; malformed payloads yield the
    typed-miss row."""
    for pdf in batches:
        ids, cs, ws, hs, ts = [], [], [], [], []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            meta = walk_ico_dir(bytes(payload))
            ids.append(doc_id)
            if meta is None:
                for lst in (cs, ws, hs, ts):
                    lst.append(None)
            else:
                c, w, h, t = meta
                cs.append(c)
                ws.append(w)
                hs.append(h)
                ts.append(t)
        yield pd.DataFrame(
            {
                "doc_id": pd.Series(ids, dtype="int64"),
                "n_images": pd.Series(cs, dtype="Int64"),
                "max_width": pd.Series(ws, dtype="Int64"),
                "max_height": pd.Series(hs, dtype="Int64"),
                "total_declared_bytes": pd.Series(ts, dtype="Int64"),
            }
        )
