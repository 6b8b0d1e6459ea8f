"""Third-eye fixtures for the multimodal container parsers (VERDICT r11
#7). The frame-length / chunk-walk arithmetic in the WAV/MP4/MP3 parsers is
mirrored into each face's oracle (the synthesizers and parsers also share
tables by design), so a shared arithmetic error is invisible to the gate.
Each fixture here is built with INDEPENDENT pure-python ``struct.pack``
code straight from the container spec — not with the library's
``synthesize_*`` expressions — and the expected numbers (frame sizes,
durations, box offsets) are hand-derived in the test body.
"""

from __future__ import annotations

import struct

from polars_numba_spark.operators import multimodal as M

# --- MP3: ISO/IEC 11172-3 frame-length arithmetic --------------------------


def mp3_frame(bitrate_idx: int, sr_idx: int, padding: int) -> bytes:
    """One CBR MPEG-1 Layer III frame built from the spec by hand:
    header = 0xFFF sync | version 11 (MPEG-1) | layer 01 (III) | no-CRC 1,
    then bitrate/samplerate/padding bits; frame length =
    144 * bitrate / samplerate + padding."""
    bitrates = [None, 32, 40, 48, 56, 64, 80, 96, 112,
                128, 160, 192, 224, 256, 320]
    rates = [44100, 48000, 32000]
    b1 = 0xFB  # 1111_1011: MPEG-1, Layer III, no CRC
    b2 = (bitrate_idx << 4) | (sr_idx << 2) | (padding << 1)
    size = 144 * bitrates[bitrate_idx] * 1000 // rates[sr_idx] + padding
    return bytes([0xFF, b1, b2, 0x00]) + b"\x00" * (size - 4)


def test_mp3_frame_walk_hand_built_stream():
    # 128 kbps @ 44100: frame = 144*128000//44100 = 417 (+1 padded)
    assert len(mp3_frame(9, 0, 0)) == 417
    assert len(mp3_frame(9, 0, 1)) == 418
    stream = mp3_frame(9, 0, 0) + mp3_frame(9, 0, 1) + mp3_frame(9, 0, 0)
    assert M.decode_mp3_frames(stream) == (128, 44100, 3)


def test_mp3_padding_bit_changes_the_hop():
    """If the parser ignored the padding bit, the second hop would land
    one byte short of the next sync word and truncate the count — the
    arithmetic is what this pins."""
    stream = mp3_frame(5, 1, 1) * 4  # 64 kbps @ 48000: 192+1 bytes
    assert len(mp3_frame(5, 1, 1)) == 193
    assert M.decode_mp3_frames(stream) == (64, 48000, 4)
    # corrupt the padding bit of frame 1 WITHOUT changing its real length:
    # the walk hops 192, lands mid-frame, loses sync, count truncates to 1
    broken = bytearray(stream)
    broken[2] &= ~0x02
    assert M.decode_mp3_frames(bytes(broken)) == (64, 48000, 1)


def test_mp3_trailing_garbage_stops_cleanly():
    stream = mp3_frame(14, 2, 0) + b"ID3 trailing tag bytes"
    # 320 kbps @ 32000: 144*320000//32000 = 1440
    assert len(mp3_frame(14, 2, 0)) == 1440
    assert M.decode_mp3_frames(stream) == (320, 32000, 1)
    assert M.decode_mp3_frames(b"not audio at all") is None


def test_mp3_duration_arithmetic_via_spark(spark):
    """duration_ms = n_frames * 1152 / rate — checked end-to-end through
    extract_mp3_meta against a hand-computed value."""
    stream = mp3_frame(9, 0, 0) * 77  # 77 frames @ 44100
    df = spark.createDataFrame([(1, bytearray(stream))],
                               "doc_id long, payload binary")
    r = M.extract_mp3_meta(df).first()
    assert (r["bitrate_kbps"], r["sample_rate"], r["n_frames"]) == (128, 44100, 77)
    assert r["duration_ms"] == 77 * 1152 * 1000 // 44100  # = 2011
    assert r["n_bytes"] == 77 * 417


# --- WAV: RIFF chunk-walk + duration arithmetic ----------------------------


def riff_wav(rate: int, channels: int, bits: int, n_samples: int,
             leading_chunks: list[tuple[bytes, bytes]] = ()) -> bytes:
    """Canonical RIFF/WAVE built by hand, optionally with extra chunks
    BEFORE fmt (LIST/fact appear in real files) and word-aligned padding."""
    block = channels * bits // 8
    fmt = struct.pack("<HHIIHH", 1, channels, rate, rate * block, block, bits)
    body = b""
    for cid, payload in leading_chunks:
        body += cid + struct.pack("<I", len(payload)) + payload
        if len(payload) % 2:
            body += b"\x00"  # word alignment
    body += b"fmt " + struct.pack("<I", len(fmt)) + fmt
    data = b"\x00" * min(n_samples * block, 64)
    body += b"data" + struct.pack("<I", n_samples * block) + data
    return b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WAVE" + body


def test_wav_chunk_walk_with_leading_list_chunk():
    payload = riff_wav(22050, 2, 16, 11025,
                       leading_chunks=[(b"LIST", b"INFOsoftware")])
    assert M.decode_wav_header(payload) == (22050, 2, 16, 11025 * 4)


def test_wav_odd_sized_chunk_word_alignment():
    """A 13-byte LIST chunk is padded to 14; a walker that forgets the
    pad byte lands one byte off fmt's chunk id and returns None."""
    payload = riff_wav(8000, 1, 8, 4000,
                       leading_chunks=[(b"LIST", b"thirteen byte")])
    assert len(b"thirteen byte") == 13
    assert M.decode_wav_header(payload) == (8000, 1, 8, 4000)


def test_wav_duration_arithmetic_via_spark(spark):
    """duration_ms = (data_bytes / block_align) / rate * 1000, checked
    against a hand computation: 33075 samples @ 22050 Hz = 1500 ms."""
    payload = riff_wav(22050, 2, 16, 33075)
    df = spark.createDataFrame([(1, bytearray(payload))],
                               "doc_id long, payload binary")
    r = M.extract_audio_meta(df).first()
    assert (r["sample_rate"], r["n_channels"], r["bits_per_sample"]) == (22050, 2, 16)
    assert r["duration_ms"] == 33075 * 1000 // 22050  # = 1500
    assert M.decode_wav_header(b"RIFFxxxxNOPE") is None


# --- MP4 / ISO-BMFF: box-walk + 16.16 fixed point --------------------------


def box(btype: bytes, payload: bytes) -> bytes:
    return struct.pack(">I", 8 + len(payload)) + btype + payload


def mp4_hand_built(timescale: int, duration: int, w: int, h: int) -> bytes:
    """ftyp + moov(mvhd v0, trak(tkhd v0)) + mdat, every offset from the
    ISO-BMFF spec by hand (mvhd timescale at byte 12 of the v0 body, tkhd
    width/height as 16.16 fixed point at the tail)."""
    mvhd = box(b"mvhd",
               b"\x00\x00\x00\x00"          # version 0 + flags
               + b"\x00" * 8                 # ctime mtime
               + struct.pack(">II", timescale, duration)
               + b"\x00\x01\x00\x00"         # rate 1.0
               + b"\x01\x00" + b"\x00" * 10  # volume + reserved
               + b"\x00" * 36                # matrix
               + b"\x00" * 24                # pre_defined
               + struct.pack(">I", 2))
    tkhd = box(b"tkhd",
               b"\x00\x00\x00\x07"
               + b"\x00" * 8
               + struct.pack(">I", 1) + b"\x00" * 4
               + struct.pack(">I", duration)
               + b"\x00" * 16
               + b"\x00" * 36
               + struct.pack(">II", w << 16, h << 16))
    moov = box(b"moov", mvhd + box(b"trak", tkhd))
    ftyp = box(b"ftyp", b"isom" + b"\x00" * 4 + b"isom")
    return ftyp + moov + box(b"mdat", b"\x00" * 32)


def test_mp4_box_walk_hand_built():
    payload = mp4_hand_built(timescale=600, duration=9000, w=640, h=360)
    assert M.decode_mp4_meta(payload) == (600, 9000, 640, 360)


def mvhd_v1_only(timescale: int, duration: int) -> bytes:
    """ftyp + moov(mvhd v1): the version-1 body carries 64-bit ctime,
    mtime and duration, so timescale sits at byte 20 of the body."""
    mvhd = box(b"mvhd",
               b"\x01\x00\x00\x00"           # version 1 + flags
               + b"\x00" * 16                 # 64-bit ctime, mtime
               + struct.pack(">IQ", timescale, duration)
               + b"\x00" * 80)
    return box(b"ftyp", b"isom" + b"\x00" * 4 + b"isom") + box(b"moov", mvhd)


def test_mp4_duration_arithmetic_via_spark(spark):
    """duration_ms = duration_ticks / timescale * 1000 — 9000 ticks at
    600 ticks/s is exactly 15000 ms. A version-1 duration of 2^53+1 ticks
    comes back exact beside a non-BMFF payload in the same batch, whose
    row is null in every field but n_bytes (a float64 detour of the column
    would round the duration to 2^53)."""
    big = 2**53 + 1
    payload = mp4_hand_built(timescale=600, duration=9000, w=1920, h=1080)
    df = spark.createDataFrame(
        [
            (1, bytearray(payload)),
            (2, bytearray(mvhd_v1_only(1000, big))),
            (3, bytearray(b"plain text, not video")),
        ],
        "doc_id long, payload binary",
    ).coalesce(1)
    rows = {r["doc_id"]: r for r in M.extract_video_meta(df).collect()}
    r = rows[1]
    assert (r["timescale"], r["duration_ticks"]) == (600, 9000)
    assert r["duration_ms"] == 15000
    assert (r["width"], r["height"]) == (1920, 1080)
    assert (rows[2]["duration_ticks"], rows[2]["duration_ms"]) == (big, big)
    assert rows[3]["duration_ticks"] is None and rows[3]["n_bytes"] == 21


def test_mp4_mdat_first_layout():
    """Real capture files put mdat before moov; the walker must keep
    scanning top-level boxes instead of assuming moov-first."""
    payload = mp4_hand_built(1000, 2500, 320, 240)
    ftyp_end = 8 + 12
    ftyp, rest = payload[:ftyp_end], payload[ftyp_end:]
    # rest = moov + mdat; swap them
    moov_size = struct.unpack(">I", rest[:4])[0]
    moov, mdat = rest[:moov_size], rest[moov_size:]
    swapped = ftyp + mdat + moov
    assert M.decode_mp4_meta(swapped) == (1000, 2500, 320, 240)


# --- PNG/JPEG/GIF header arithmetic (big/little-endian field packing) -----


def test_png_ihdr_field_offsets():
    ihdr = struct.pack(">II", 1234, 567) + b"\x08\x02\x00\x00\x00"
    payload = (b"\x89PNG\r\n\x1a\n"
               + struct.pack(">I", len(ihdr)) + b"IHDR" + ihdr)
    assert M.decode_image_header(payload) == ("image/png", 1234, 567)


def test_jpeg_sof_segment_walk():
    """SOF0 after two skippable segments; dims are BE at offsets 5/7 of
    the SOF payload (precision byte first) — hand-packed."""
    app0 = b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00" + b"\x00" * 9
    dqt = b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" * 65
    sof = (b"\xff\xc0" + struct.pack(">H", 17) + b"\x08"
           + struct.pack(">HH", 480, 640) + b"\x03" + b"\x00" * 9)
    payload = b"\xff\xd8" + app0 + dqt + sof + b"\xff\xd9"
    assert M.decode_image_header(payload) == ("image/jpeg", 640, 480)


def test_gif_logical_screen_le():
    payload = b"GIF89a" + struct.pack("<HH", 777, 333) + b"\x00\x00\x00"
    assert M.decode_image_header(payload) == ("image/gif", 777, 333)


def test_image_dims_bigint_doc_id_beside_null(spark):
    """doc_id 2^53+1 must pass through extract_image_dims exact when a
    null doc_id shares its batch (a float64 detour would round it)."""
    big = 2**53 + 1
    payload = bytearray(b"GIF89a" + struct.pack("<HH", 777, 333))
    df = spark.createDataFrame(
        [(big, payload), (None, payload)], "doc_id long, payload binary"
    ).coalesce(1)
    rows = M.extract_image_dims(df).collect()
    ids = [r["doc_id"] for r in rows]
    assert sorted(ids, key=lambda i: i is None) == [big, None]
    assert {(r["width"], r["height"]) for r in rows} == {(777, 333)}
