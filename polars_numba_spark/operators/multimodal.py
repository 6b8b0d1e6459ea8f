"""Multimodal column support: opaque binary payloads + typed metadata.

Convention: a multimodal asset is a ``binary`` payload column next to a
``struct`` metadata column (mime, n_bytes, and per-modality fields). The
Spark-side plumbing — schema contracts, Arrow batch shape, ``mapInArrow``
feature extraction, partition sizing — is real and tested, and so is header
decoding for the three container formats whose dimensions live in fixed
header fields:

- **PNG**: 8-byte signature, IHDR chunk → width/height as 4-byte big-endian
  at offsets 16/20;
- **JPEG**: marker scan from SOI to the first SOF0-SOF15 frame header →
  height/width as 2-byte big-endian;
- **GIF**: ``GIF87a``/``GIF89a`` signature → width/height as 2-byte
  little-endian at offsets 6/8.

Payloads that are not one of these containers (e.g. raw text bytes in the
testdata) fall back to deterministic md5-seeded pseudo-features, so the
pipeline runs end-to-end on any corpus. FULL raster decoding (pixel data,
resampling, frame extraction) would need Pillow/libvips, absent from this
container — the parsers above read real files' headers but stop before
pixels, which is also the right scale posture: corpus-wide dimension/codec
stats must not decompress 100 TB of pixels.

Every extractor is one ``mapInArrow`` pass through :func:`_map_payloads`,
which builds each output column straight from Arrow: a bigint ``doc_id`` or
field beside a null is not rounded through float64 as in a pandas batch.

Scale notes: payloads ride through Arrow as binary buffers; the
``mapInArrow`` batch size is governed by ``maxRecordsPerBatch`` — for
multi-MB payloads set it low (e.g. 64) to bound worker memory; feature
extraction parallelizes per partition with no shuffle.
"""

from __future__ import annotations

import hashlib
from typing import Callable, Iterator, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

FEATURE_SCHEMA = (
    "doc_id long, mime string, n_bytes int, width int, height int, phash string"
)

_PNG_SIG = b"\x89PNG\r\n\x1a\n"
_SOF_MARKERS = frozenset(
    range(0xC0, 0xD0)
) - {0xC4, 0xC8, 0xCC}  # SOF0-15 minus DHT/JPG/DAC


def attach_payload(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Demo payload builder: treats UTF-8 text bytes as the opaque binary
    asset (the testdata ships no real media; the plumbing is identical)."""
    return df.withColumn("payload", F.encode(F.col(text_col), "UTF-8")).withColumn(
        "meta",
        F.struct(
            F.lit("application/octet-stream").alias("mime"),
            F.octet_length(F.col(text_col)).alias("n_bytes"),
        ),
    )


def decode_image_header(payload: bytes) -> tuple[str, int, int] | None:
    """Parse (mime, width, height) from a real image container header, or
    None if the payload is not a recognized image format."""
    if len(payload) >= 24 and payload[:8] == _PNG_SIG:
        width = int.from_bytes(payload[16:20], "big")
        height = int.from_bytes(payload[20:24], "big")
        return "image/png", width, height
    if len(payload) >= 4 and payload[:2] == b"\xff\xd8":
        i = 2
        while i + 9 <= len(payload):
            if payload[i] != 0xFF:
                return None  # corrupt marker stream
            # optional 0xFF fill bytes may pad before any marker (spec B.1.1.2)
            while i + 1 < len(payload) and payload[i + 1] == 0xFF:
                i += 1
            if i + 9 > len(payload):
                return None
            marker = payload[i + 1]
            if marker in _SOF_MARKERS:
                height = int.from_bytes(payload[i + 5 : i + 7], "big")
                width = int.from_bytes(payload[i + 7 : i + 9], "big")
                return "image/jpeg", width, height
            if marker == 0xD9:  # EOI before any frame header
                return None
            if marker == 0xD8 or 0xD0 <= marker <= 0xD7 or marker == 0x01:
                i += 2  # standalone markers have no length field
                continue
            seg_len = int.from_bytes(payload[i + 2 : i + 4], "big")
            i += 2 + seg_len
        return None
    if len(payload) >= 10 and payload[:6] in (b"GIF87a", b"GIF89a"):
        width = int.from_bytes(payload[6:8], "little")
        height = int.from_bytes(payload[8:10], "little")
        return "image/gif", width, height
    return None


def decode_payload(
    payload: bytes, declared_mime: str | None = None
) -> tuple[str, int, int, str]:
    """(mime, width, height, phash) for any payload: real header parsing for
    PNG/JPEG/GIF, deterministic md5-seeded pseudo-features otherwise (the
    non-image fallback keeps arbitrary corpora flowing end-to-end).

    ``declared_mime`` gates the image path: when the caller has declared a
    modality (metadata struct), only ``image/*`` payloads are parsed —
    byte-sniffing alone would misclassify text beginning with the ASCII
    'GIF87a'/'GIF89a' signature. ``None`` means no declaration (sniff)."""
    digest = hashlib.md5(payload).hexdigest()
    header = (
        decode_image_header(payload)
        if declared_mime is None or declared_mime.startswith("image/")
        else None
    )
    if header is not None:
        mime, width, height = header
        return mime, width, height, digest[:16]
    n = len(payload)
    return (
        "application/octet-stream",
        64 + (n % 577),
        64 + ((n * 7) % 421),
        digest[:16],
    )


def _map_payloads(
    df: DataFrame,
    schema: str,
    rows: Callable[[bytes | None, dict | None], Sequence[tuple]],
    with_meta: bool = False,
) -> DataFrame:
    """The extractors' one ``mapInArrow`` pass (Arrow-batched,
    partition-parallel, shuffle-free). Per batch, ``rows(payload, meta)``
    gives each payload's output rows after ``doc_id`` — none, one or
    several — and every output column is built with the schema's Arrow
    type. ``doc_id`` is the input's own Arrow value, taken once per output
    row, so a 1→N extractor needs no special case. ``meta`` is the
    metadata struct as a dict when ``with_meta``, else None."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    out_schema = StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(out_schema)
    id_type, *value_types = arrow_schema.types
    columns = ["doc_id", "payload", "meta"] if with_meta else ["doc_id", "payload"]

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            payloads = batch.column("payload").to_pylist()
            n = len(payloads)
            metas = batch.column("meta").to_pylist() if with_meta else [None] * n
            take, out = [], []
            for i, (payload, meta) in enumerate(zip(payloads, metas)):
                for row in rows(payload, meta):
                    take.append(i)
                    out.append(row)
            values = list(zip(*out)) or [()] * len(value_types)
            doc_ids = batch.column("doc_id").take(pa.array(take, pa.int64()))
            yield pa.RecordBatch.from_arrays(
                [doc_ids.cast(id_type)]
                + [pa.array(v, t) for v, t in zip(values, value_types)],
                schema=arrow_schema,
            )

    return df.select(*columns).mapInArrow(run, out_schema)


def _extract_header(
    df: DataFrame, schema: str, parse: Callable[[bytes], tuple | None]
) -> DataFrame:
    """The header extractors' row, ``(doc_id, *parse(payload), n_bytes)``:
    a null payload (failed fetch) nulls every field, ``n_bytes`` too, and
    a payload ``parse`` does not recognize (None) nulls every field but
    ``n_bytes``."""
    # the schemas are flat DDL: every field but doc_id and n_bytes is parsed
    nulls = (None,) * (len(schema.split(",")) - 2)

    def rows(payload: bytes | None, meta: None) -> list[tuple]:
        if payload is None:
            return [nulls + (None,)]
        fields = parse(payload)
        return [(nulls if fields is None else fields) + (len(payload),)]

    return _map_payloads(df, schema, rows)


def extract_features(df: DataFrame) -> DataFrame:
    """Feature extraction over payloads, one ``mapInArrow`` pass
    (Arrow-batched, partition-parallel, shuffle-free). The DECLARED mime in
    the metadata struct picks the codec: ``image/*`` payloads go through
    real header parsing, everything else takes the deterministic pseudo
    path — sniffing bytes against the declaration would misdecode text
    that merely starts with an ASCII container signature ('GIF89a...')."""

    def rows(payload: bytes | None, meta: dict | None) -> list[tuple]:
        # meta may arrive null from callers other than attach_payload
        # (which always builds the struct) — treat it like a missing
        # declaration: sniff the payload, pass null metadata through.
        mime = meta["mime"] if meta is not None else None
        n_bytes = meta["n_bytes"] if meta is not None else None
        if payload is None:  # failed fetch: null features
            return [(mime, n_bytes, None, None, None)]
        _, width, height, phash = decode_payload(payload, declared_mime=mime)
        return [(mime, n_bytes, width, height, phash)]

    return _map_payloads(df, FEATURE_SCHEMA, rows, with_meta=True)


IMAGE_DIMS_SCHEMA = "doc_id long, mime string, width int, height int, n_bytes int"


def extract_image_dims(df: DataFrame) -> DataFrame:
    """Dimension extraction from real image headers only (no metadata, no
    fallback): (doc_id, mime, width, height, n_bytes) with nulls for
    unrecognized payloads. Arrow-batched, partition-parallel, shuffle-free."""
    return _extract_header(df, IMAGE_DIMS_SCHEMA, decode_image_header)


# --- deterministic image-payload synthesis (for tests + the driver query) --


def _be(col: Column, n_hex: int) -> Column:
    """Integer column → n_hex/2 big-endian bytes.

    Guarded: ``F.lpad`` also TRUNCATES strings longer than ``n_hex``, so a
    value exceeding the field width (e.g. >65535 in a JPEG/GIF 16-bit
    dimension) would silently produce a corrupt header. Out-of-range values
    raise instead (``_le16``'s high byte routes through this guard too, so
    16-bit fields are covered end to end)."""
    bound = 16 ** n_hex
    checked = F.when((col >= 0) & (col < F.lit(bound)), col).otherwise(
        F.raise_error(
            F.format_string(
                f"synthesize_image_payload: value %s does not fit a "
                f"{n_hex * 4}-bit header field (max {bound - 1})",
                col.cast("string"),
            )
        )
    )
    return F.unhex(F.lpad(F.hex(checked), n_hex, "0"))


def _le16(col: Column) -> Column:
    """Integer column → 2 little-endian bytes (low byte first)."""
    lo_byte = _be(col % 256, 2)
    hi_byte = _be((col / 256).cast("long"), 2)
    return F.concat(lo_byte, hi_byte)


def synthesize_image_payload(fmt: Column, width: Column, height: Column) -> Column:
    """Build a REAL (minimal) PNG / JPEG / GIF header as a binary column —
    magic bytes, correctly-placed dimension fields, correct endianness —
    entirely with codegen'd expressions. The decoder must recover the
    dimensions from these bytes; nothing is smuggled through metadata."""
    png = F.concat(
        F.unhex(F.lit("89504E470D0A1A0A" + "0000000D" + "49484452")),
        _be(width, 8),
        _be(height, 8),
        F.unhex(F.lit("0806000000")),
    )
    jpeg = F.concat(
        F.unhex(F.lit("FFD8" + "FFC0" + "0011" + "08")),
        _be(height, 4),
        _be(width, 4),
        F.unhex(F.lit("03")),
    )
    gif = F.concat(
        F.encode(F.lit("GIF89a"), "UTF-8"), _le16(width), _le16(height)
    )
    return (
        F.when(fmt == "png", png).when(fmt == "jpeg", jpeg).otherwise(gif)
    )


RESIZE_SCHEMA = "doc_id long, mime string, width int, height int, payload binary"


def resize_images(df: DataFrame, width: int, height: int) -> DataFrame:
    """Image resize plumbing over ``mapInArrow`` (Arrow-batched,
    partition-parallel, shuffle-free): for each payload, decode the header
    (REAL PNG/JPEG/GIF parsing), then re-encode at the target dimensions.

    The raster path is a clearly-marked DETERMINISTIC FAKE: without
    Pillow/libvips in this environment the "resized" payload is a minimal
    valid container of the requested dimensions whose body bytes derive
    from md5(source payload) — stable across runs/engines, and the output
    header round-trips through :func:`decode_image_header` at the target
    size, so every piece of Spark-side plumbing (schema, batch shape,
    binary columns, partition parallelism) is real and testable. Swap
    ``_fake_raster_resize`` for a real codec when the libs exist.
    """

    def _fake_raster_resize(payload: bytes, mime: str) -> bytes:
        seed = hashlib.md5(payload).digest()
        body = (seed * ((width * height) // len(seed) + 1))[: max(width, 16)]
        if mime == "image/png":
            return (
                b"\x89PNG\r\n\x1a\n" + b"\x00\x00\x00\rIHDR"
                + width.to_bytes(4, "big") + height.to_bytes(4, "big") + body
            )
        if mime == "image/gif":
            return (
                b"GIF89a" + width.to_bytes(2, "little")
                + height.to_bytes(2, "little") + body
            )
        # JPEG: SOI + SOF0 frame header carrying the dimensions
        return (
            b"\xff\xd8\xff\xc0" + (8 + 3).to_bytes(2, "big") + b"\x08"
            + height.to_bytes(2, "big") + width.to_bytes(2, "big") + b"\x01" + body
        )

    def rows(payload: bytes | None, meta: None) -> list[tuple]:
        if payload is None:  # failed fetch: null in, null out
            return [(None, width, height, None)]
        header = decode_image_header(payload)
        mime = header[0] if header else "image/png"
        return [(mime, width, height, _fake_raster_resize(payload, mime))]

    return _map_payloads(df, RESIZE_SCHEMA, rows)


FRAME_SCHEMA = "doc_id long, frame_idx int, ts_ms long, frame binary"


def sample_frames(
    df: DataFrame, every_ms: int = 1000, max_frames: int = 8
) -> DataFrame:
    """Video frame-sampling plumbing over ``mapInArrow``: one output row
    per sampled frame (doc_id, frame_idx, ts_ms, frame) — the 1→N batch
    shape a real decoder produces, with partition-parallel extraction and
    no shuffle.

    The container decode is a clearly-marked DETERMINISTIC FAKE (no
    ffmpeg/pyav here): payload length models duration (1 KiB ≈ 1 s), and
    each "frame" is md5(payload ‖ frame_idx) — stable across runs and
    engines so tests and oracles can pin the plumbing. Swap
    ``_fake_decode_frame`` for a real demuxer when the libs exist.
    """

    def _fake_decode_frame(payload: bytes, idx: int) -> bytes:
        return hashlib.md5(payload + idx.to_bytes(4, "big")).digest()

    def rows(payload: bytes | None, meta: None) -> list[tuple]:
        if payload is None:  # failed fetch: no container, no frames
            return []
        duration_ms = (len(payload) * 1000) // 1024
        n = min(max_frames, max(1, duration_ms // every_ms + 1))
        return [(i, i * every_ms, _fake_decode_frame(payload, i)) for i in range(n)]

    return _map_payloads(df, FRAME_SCHEMA, rows)


# --- audio: real RIFF/WAVE header synthesis + parsing -----------------------
# WAV is the audio analog of the PNG/JPEG/GIF parsers above: every field an
# ASR-ingest pipeline needs (sample rate, channels, bit depth, duration)
# lives in the fixed-layout fmt/data chunks — parseable with pure byte
# arithmetic, no codec library, which is also the right scale posture:
# corpus-wide audio stats must not decode 100 TB of PCM.

AUDIO_META_SCHEMA = (
    "doc_id long, mime string, sample_rate int, n_channels int, "
    "bits_per_sample int, duration_ms long, n_bytes int"
)


def _le32(col: Column) -> Column:
    """Integer column → 4 little-endian bytes (via two guarded LE16s)."""
    lo = _le16(col % 65536)
    hi = _le16((col / 65536).cast("long"))
    return F.concat(lo, hi)


def synthesize_wav_payload(
    sample_rate: Column, n_channels: Column, n_samples: Column
) -> Column:
    """Build a REAL minimal RIFF/WAVE container as a binary column — canonical
    44-byte header (RIFF size, PCM fmt chunk with rate/channels/16-bit depth,
    data chunk size) followed by zeroed PCM frames, entirely with codegen'd
    expressions. The parser must recover every field FROM THE BYTES."""
    bits = F.lit(16)
    block_align = n_channels * 2  # 16-bit PCM
    byte_rate = sample_rate * block_align
    data_size = n_samples * block_align
    return F.concat(
        F.encode(F.lit("RIFF"), "UTF-8"),
        _le32(data_size + 36),
        F.encode(F.lit("WAVEfmt "), "UTF-8"),
        _le32(F.lit(16)),          # fmt chunk size
        _le16(F.lit(1)),           # PCM
        _le16(n_channels),
        _le32(sample_rate),
        _le32(byte_rate),
        _le16(block_align),
        _le16(bits),
        F.encode(F.lit("data"), "UTF-8"),
        _le32(data_size),
        # zeroed PCM frames, capped so a mistyped n_samples cannot build a
        # gigabyte literal: the meta parser never reads past the header
        F.unhex(F.repeat(F.lit("00"), F.least(data_size, F.lit(4096)).cast("int"))),
    )


def decode_wav_header(payload: bytes) -> tuple[int, int, int, int] | None:
    """(sample_rate, n_channels, bits_per_sample, data_bytes) from a
    RIFF/WAVE header, or None if the payload is not WAV. Walks the chunk
    list (fmt may be preceded by LIST/fact chunks in real files) instead of
    assuming the canonical 44-byte layout."""
    if len(payload) < 36 or payload[0:4] != b"RIFF" or payload[8:12] != b"WAVE":
        return None
    pos = 12
    rate = channels = bits = None
    data_bytes = None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        size = int.from_bytes(payload[pos + 4 : pos + 8], "little")
        body = payload[pos + 8 : pos + 8 + size]
        if cid == b"fmt " and len(body) >= 16:
            channels = int.from_bytes(body[2:4], "little")
            rate = int.from_bytes(body[4:8], "little")
            bits = int.from_bytes(body[14:16], "little")
        elif cid == b"data":
            data_bytes = size  # declared size, even if frames are truncated
        pos += 8 + size + (size % 2)  # chunks are word-aligned
    if rate is None or data_bytes is None:
        return None
    return rate, channels, bits, data_bytes


def _wav_fields(payload: bytes) -> tuple | None:
    meta = decode_wav_header(payload)
    if meta is None:
        return None
    rate, channels, bits, data_bytes = meta
    frame = max(1, channels * (bits // 8))
    duration_ms = (data_bytes // frame) * 1000 // max(1, rate)
    return "audio/wav", rate, channels, bits, duration_ms


def extract_audio_meta(df: DataFrame) -> DataFrame:
    """Audio metadata from real WAV headers only (no metadata smuggling, no
    fallback): (doc_id, mime, sample_rate, n_channels, bits_per_sample,
    duration_ms, n_bytes) with nulls for non-WAV payloads. Arrow-batched,
    partition-parallel, shuffle-free — the same scale shape as
    :func:`extract_image_dims`."""
    return _extract_header(df, AUDIO_META_SCHEMA, _wav_fields)


# --- MP4 / ISO-BMFF video containers -------------------------------------

VIDEO_META_SCHEMA = (
    "doc_id long, mime string, timescale int, duration_ticks long, "
    "duration_ms long, width int, height int, n_bytes int"
)

# 3x3 fixed-point unity transform matrix (16.16 / 2.30), spec §8.2.2.3
_UNITY_MATRIX_HEX = (
    "00010000" "00000000" "00000000"
    "00000000" "00010000" "00000000"
    "00000000" "00000000" "40000000"
)

# first-box types that identify an ISO-BMFF stream (sniffing guard so raw
# text bytes are never misparsed as video)
_BMFF_TOP_TYPES = frozenset(
    (b"ftyp", b"moov", b"mdat", b"free", b"skip", b"wide", b"moof", b"styp")
)


def synthesize_mp4_payload(
    timescale: Column,
    duration_ticks: Column,
    width: Column,
    height: Column,
    data_len: Column,
) -> Column:
    """Build a REAL minimal ISO-BMFF (MP4) container as a binary column —
    ``ftyp`` + ``moov``(``mvhd`` v0 with timescale/duration, ``trak/tkhd``
    v0 with 16.16 fixed-point width/height) + ``mdat`` — entirely with
    codegen'd expressions, every box size big-endian and byte-exact. The
    parser must recover every field FROM THE BYTES; nothing is smuggled
    through metadata. Layout: 20 (ftyp) + 216 (moov: 108 mvhd + 100 trak/tkhd) +
    8 + data_len (mdat) bytes, so n_bytes = 244 + data_len."""
    zeros = lambda n: F.unhex(F.repeat(F.lit("00"), n))  # noqa: E731
    ftyp = F.concat(
        _be(F.lit(20), 8),
        F.encode(F.lit("ftypisom"), "UTF-8"),
        _be(F.lit(0), 8),
        F.encode(F.lit("isom"), "UTF-8"),
    )
    mvhd = F.concat(
        _be(F.lit(108), 8),
        F.encode(F.lit("mvhd"), "UTF-8"),
        zeros(4),                    # version 0 + flags
        zeros(8),                    # ctime, mtime
        _be(timescale, 8),
        _be(duration_ticks, 8),
        F.unhex(F.lit("00010000")),  # rate 1.0
        F.unhex(F.lit("0100")),      # volume 1.0
        zeros(10),                   # reserved
        F.unhex(F.lit(_UNITY_MATRIX_HEX)),
        zeros(24),                   # pre_defined
        _be(F.lit(2), 8),            # next_track_ID
    )
    tkhd = F.concat(
        _be(F.lit(92), 8),
        F.encode(F.lit("tkhd"), "UTF-8"),
        F.unhex(F.lit("00000007")),  # version 0, enabled|in_movie|in_preview
        zeros(8),                    # ctime, mtime
        _be(F.lit(1), 8),            # track_ID
        zeros(4),                    # reserved
        _be(duration_ticks, 8),
        zeros(8),                    # reserved
        zeros(8),                    # layer, alternate_group, volume, reserved
        F.unhex(F.lit(_UNITY_MATRIX_HEX)),
        _be(width, 4), F.unhex(F.lit("0000")),   # 16.16 fixed-point width
        _be(height, 4), F.unhex(F.lit("0000")),  # 16.16 fixed-point height
    )
    trak = F.concat(_be(F.lit(100), 8), F.encode(F.lit("trak"), "UTF-8"), tkhd)
    moov = F.concat(_be(F.lit(216), 8), F.encode(F.lit("moov"), "UTF-8"), mvhd, trak)
    mdat = F.concat(
        _be(data_len + 8, 8),
        F.encode(F.lit("mdat"), "UTF-8"),
        # zeroed media bytes, capped so a mistyped data_len cannot build a
        # gigabyte literal: the meta parser never reads inside mdat
        F.unhex(F.repeat(F.lit("00"), F.least(data_len, F.lit(4096)).cast("int"))),
    )
    return F.concat(ftyp, moov, mdat)


def decode_mp4_meta(
    payload: bytes,
) -> tuple[int, int, int | None, int | None] | None:
    """(timescale, duration_ticks, width, height) from an ISO-BMFF movie
    header, or None if the payload is not BMFF. Walks the box tree
    (``moov`` may sit before or after ``mdat``; unknown boxes are skipped
    by their declared size), handles mvhd/tkhd version 0 AND 1, and takes
    the first track's 16.16 fixed-point presentation size."""
    if len(payload) < 16 or payload[4:8] not in _BMFF_TOP_TYPES:
        return None
    state: dict[str, int | None] = {
        "timescale": None, "duration": None, "width": None, "height": None
    }

    def walk(start: int, end: int, depth: int) -> None:
        pos = start
        while pos + 8 <= end and depth < 8:
            size = int.from_bytes(payload[pos : pos + 4], "big")
            btype = payload[pos + 4 : pos + 8]
            if size < 8:  # 64-bit largesize (size==1) unsupported; 0 = to-EOF
                if size == 0:
                    size = end - pos
                else:
                    return
            if btype in (b"moov", b"trak"):
                walk(pos + 8, min(pos + size, end), depth + 1)
            elif btype == b"mvhd":
                body = payload[pos + 8 : min(pos + size, end)]
                if body and body[0] == 0 and len(body) >= 20:
                    state["timescale"] = int.from_bytes(body[12:16], "big")
                    state["duration"] = int.from_bytes(body[16:20], "big")
                elif body and body[0] == 1 and len(body) >= 32:
                    state["timescale"] = int.from_bytes(body[20:24], "big")
                    state["duration"] = int.from_bytes(body[24:32], "big")
            elif btype == b"tkhd" and state["width"] is None:
                body = payload[pos + 8 : min(pos + size, end)]
                off = 76 if (body and body[0] == 0) else 88
                if len(body) >= off + 8:
                    state["width"] = int.from_bytes(body[off : off + 4], "big") >> 16
                    state["height"] = (
                        int.from_bytes(body[off + 4 : off + 8], "big") >> 16
                    )
            pos += size

    walk(0, len(payload), 0)
    if state["timescale"] is None or state["duration"] is None:
        return None
    return state["timescale"], state["duration"], state["width"], state["height"]


def _mp4_fields(payload: bytes) -> tuple | None:
    meta = decode_mp4_meta(payload)
    if meta is None:
        return None
    timescale, duration, width, height = meta
    duration_ms = duration * 1000 // max(1, timescale)
    return "video/mp4", timescale, duration, duration_ms, width, height


def extract_video_meta(df: DataFrame) -> DataFrame:
    """Video metadata from real ISO-BMFF box walking only (no metadata
    smuggling, no fallback): (doc_id, mime, timescale, duration_ticks,
    duration_ms, width, height, n_bytes) with nulls for non-BMFF payloads.
    Arrow-batched, partition-parallel, shuffle-free — the same scale shape
    as :func:`extract_image_dims` / :func:`extract_audio_meta`. (Codec
    decode / frame extraction would need ffmpeg, absent here; container
    parsing is the honest, scale-appropriate core — corpus-wide duration /
    resolution stats must not decode 100 TB of video.)"""
    return _extract_header(df, VIDEO_META_SCHEMA, _mp4_fields)


# --- MPEG audio (MP3) frames ----------------------------------------------

MP3_META_SCHEMA = (
    "doc_id long, mime string, bitrate_kbps int, sample_rate int, "
    "n_frames int, duration_ms long, n_bytes int"
)

# MPEG-1 Layer III tables (ISO/IEC 11172-3): bitrate index 1..14 and
# sample-rate index 0..2. Single-sourced — the synthesizer and the parser
# read the SAME tables, and the face's oracle re-derives them as CASE maps.
MP3_BITRATES_KBPS = (
    None, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320,
)
MP3_SAMPLE_RATES = (44100, 48000, 32000)


def synthesize_mp3_payload(
    bitrate_idx: Column, sr_idx: Column, n_frames: Column
) -> Column:
    """Build a REAL (minimal) CBR MPEG-1 Layer III stream as a binary
    column: ``n_frames`` identical frames, each a genuine 4-byte frame
    header (sync 0xFFF, MPEG-1, Layer III, no CRC, stereo, no padding)
    followed by zeroed main data out to the spec frame length
    ``floor(144·bitrate/sample_rate)``. Entirely codegen'd expressions;
    the parser must recover every field FROM THE SYNC HEADERS."""
    br = F.element_at(
        F.array(*[F.lit(b) for b in MP3_BITRATES_KBPS[1:]]), bitrate_idx
    )
    sr = F.element_at(
        F.array(*[F.lit(r) for r in MP3_SAMPLE_RATES]), sr_idx + 1
    )
    frame_size = F.floor(
        F.lit(144) * br * 1000 / sr
    ).cast("int")
    # byte 3: bitrate_idx<<4 | sr_idx<<2 | padding(0)<<1 | private(0)
    b3 = F.lpad(F.hex(bitrate_idx * 16 + sr_idx * 4), 2, "0")
    frame_hex = F.concat(
        F.lit("FFFB"),           # sync + MPEG-1 + Layer III + no CRC
        b3,
        F.lit("00"),             # stereo, no mode ext, no copyright flags
        F.repeat(F.lit("00"), (frame_size - 4).cast("int")),
    )
    return F.unhex(F.repeat(frame_hex, n_frames.cast("int")))


def decode_mp3_frames(payload: bytes) -> tuple[int, int, int] | None:
    """(bitrate_kbps, sample_rate, n_frames) by walking CBR MPEG-1
    Layer III sync headers, or None if the payload does not start with a
    valid frame. Each hop re-validates the sync word, so a wrong frame-
    length computation desynchronizes and truncates the count — the
    arithmetic is load-bearing, not decorative."""
    pos, n = 0, 0
    first: tuple[int, int] | None = None
    while pos + 4 <= len(payload):
        b0, b1, b2 = payload[pos], payload[pos + 1], payload[pos + 2]
        if b0 != 0xFF or (b1 & 0xE0) != 0xE0:
            break
        version = (b1 >> 3) & 0x3   # 3 = MPEG-1
        layer = (b1 >> 1) & 0x3     # 1 = Layer III
        if version != 3 or layer != 1:
            break
        bitrate_idx = (b2 >> 4) & 0xF
        sr_idx = (b2 >> 2) & 0x3
        padding = (b2 >> 1) & 0x1
        if bitrate_idx in (0, 15) or sr_idx == 3:
            break
        br = MP3_BITRATES_KBPS[bitrate_idx]
        sr = MP3_SAMPLE_RATES[sr_idx]
        if first is None:
            first = (br, sr)
        size = 144 * br * 1000 // sr + padding
        pos += size
        n += 1
    if first is None or n == 0:
        return None
    return first[0], first[1], n


def _mp3_fields(payload: bytes) -> tuple | None:
    meta = decode_mp3_frames(payload)
    if meta is None:
        return None
    br, sr, n = meta
    return "audio/mpeg", br, sr, n, n * 1152 * 1000 // sr



def extract_mp3_meta(df: DataFrame) -> DataFrame:
    """MP3 metadata from real frame headers only: (doc_id, mime,
    bitrate_kbps, sample_rate, n_frames, duration_ms, n_bytes) with nulls
    for non-MP3 payloads; duration = n_frames · 1152 samples / rate.
    Arrow-batched, partition-parallel, shuffle-free — the same scale
    shape as :func:`extract_audio_meta`."""
    return _extract_header(df, MP3_META_SCHEMA, _mp3_fields)
