"""Multimodal column plumbing (SURVEY.md §2.10 / BASELINE.json north star).

Image/audio/video payloads are opaque ``binary`` columns with typed
metadata structs. The Spark-side plumbing — schema, batch iteration via
``mapInPandas`` (Arrow-batched), partition sizing — is real and tested.
Codecs: uncompressed 24-bit BMP (``struct``), 8-bit PNG (``zlib`` IDAT
inflate + per-scanline unfilter, all five spec filters), baseline JPEG
(stdlib Huffman decode + float IDCT, :mod:`.jpeg`), and 16-bit PCM WAV
(``wave``) are decoded for real with the stdlib — genuine bytes→
pixels/samples→features paths exercised end-to-end in tests via the
``make_bmp`` / ``make_png`` / ``make_jpeg`` / ``make_wav`` / ``make_mp3``
fixture builders. MP3 gets a real stdlib frame-header walk
(:func:`parse_mp3_frames`: ID3v2 skip, resync, bitrate/sample-rate
tables, computed frame lengths) with compressed-domain per-frame
energies — full PCM synthesis (Huffman + polyphase filter bank) stays
out of scope, as does video decode (operates on pre-extracted frames,
the post-ffmpeg boundary); AAC/OGG and progressive/arithmetic JPEG stay
behind clearly-marked ``NotImplementedError`` (see jpeg.py scope
note).

Scale notes: binary payloads dominate row size, so the loaders should set
``spark.sql.files.maxPartitionBytes`` low enough that an Arrow batch of
rows fits executor memory; mapInPandas streams batches (never a whole
partition) and the output schema drops the payload as early as possible
(feature-extract, then project the bytes away — column pruning can't help
once the UDF needs the bytes, so the projection happens in the iterator).
"""

from __future__ import annotations

import array
import io
import math
import struct
import wave
import zlib
from collections.abc import Iterator

import numpy as _np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MEDIA_SCHEMA = (
    "media_id long, kind string, payload binary,"
    " meta struct<format string, width int, height int, duration_ms int>"
)

FEATURE_SCHEMA = "media_id long, kind string, n_bytes long, checksum long, feature array<double>"


def _fake_decode(payload: bytes) -> list[float]:
    """Deterministic stand-in for a codec: 8 byte-histogram buckets,
    normalized. Real decoders plug in via DECODERS."""
    if not payload:
        return [0.0] * 8
    buckets = [0] * 8
    for b in payload:
        buckets[b >> 5] += 1
    n = float(len(payload))
    return [c / n for c in buckets]


def _unavailable(payload: bytes) -> list[float]:
    raise NotImplementedError(
        "codec libraries (PIL/ffmpeg/librosa) not available in this environment"
    )


# --- real stdlib codecs: uncompressed BMP + PCM WAV ------------------------


def make_bmp(width: int, height: int, pixel_fn) -> bytes:
    """Serialize a 24-bit uncompressed BMP. ``pixel_fn(x, y) -> (r, g, b)``
    with y=0 at the top. Deterministic fixture builder for decoder tests."""
    row_size = (width * 3 + 3) & ~3
    img_size = row_size * height
    header = struct.pack("<2sIHHI", b"BM", 14 + 40 + img_size, 0, 0, 54)
    info = struct.pack("<IiiHHIIiiII", 40, width, height, 1, 24, 0, img_size, 2835, 2835, 0, 0)
    rows = []
    for y in range(height - 1, -1, -1):  # BMP stores bottom-up
        row = bytearray()
        for x in range(width):
            r, g, b = pixel_fn(x, y)
            row += bytes((b, g, r))
        row += b"\x00" * (row_size - width * 3)
        rows.append(bytes(row))
    return header + info + b"".join(rows)


def make_wav(freq_hz: float, duration_ms: int, framerate: int = 8000, amplitude: float = 0.5) -> bytes:
    """Serialize a mono 16-bit PCM WAV sine tone via the stdlib ``wave``
    module. Deterministic fixture builder for decoder tests."""
    n = framerate * duration_ms // 1000
    samples = array.array(
        "h",
        (
            int(amplitude * 32767 * math.sin(2 * math.pi * freq_hz * i / framerate))
            for i in range(n)
        ),
    )
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(framerate)
        w.writeframes(samples.tobytes())
    return buf.getvalue()


PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _finish_image_features(
    width: int, height: int, sums: list[int], lum_top: float, lum_bot: float
) -> list[float]:
    """Common 8-dim image feature vector: [width, height, mean_r, mean_g,
    mean_b, top-half lum, bottom-half lum, overall lum], channel means in
    [0,1] — identical for every image codec, so the same picture encoded
    as BMP and PNG yields the same features (pinned by test)."""
    n = float(width * height) * 255.0
    half = max(n / 2 * 3, 1.0)
    return [
        float(width),
        float(height),
        sums[0] / n,
        sums[1] / n,
        sums[2] / n,
        lum_top / half,
        lum_bot / half,
        (lum_top + lum_bot) / max(n * 3, 1.0),
    ]


def _png_unfilter_row(ft: int, line: bytearray, prev: bytes, bpp: int) -> None:
    """Reverse one PNG scanline filter in place (spec §9: None, Sub, Up,
    Average, Paeth)."""
    if ft == 0:
        return
    n = len(line)
    if ft == 1:  # Sub
        for i in range(bpp, n):
            line[i] = (line[i] + line[i - bpp]) & 0xFF
    elif ft == 2:  # Up
        for i in range(n):
            line[i] = (line[i] + prev[i]) & 0xFF
    elif ft == 3:  # Average
        for i in range(n):
            left = line[i - bpp] if i >= bpp else 0
            line[i] = (line[i] + ((left + prev[i]) >> 1)) & 0xFF
    elif ft == 4:  # Paeth
        for i in range(n):
            a = line[i - bpp] if i >= bpp else 0
            b = prev[i]
            c = prev[i - bpp] if i >= bpp else 0
            p = a + b - c
            pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
            pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
            line[i] = (line[i] + pred) & 0xFF
    else:
        raise NotImplementedError(f"PNG filter type {ft}")


def _decode_png(payload: bytes) -> list[float]:
    """Real PNG decode with the stdlib alone: chunk walk → zlib-inflate the
    IDAT stream → per-scanline unfilter (all five spec filters) → pixels.
    Supports 8-bit depth, color types 0 (gray), 2 (RGB), 6 (RGBA; alpha
    ignored for the luminance features), no interlacing. Adam7/16-bit/
    palette stay NotImplementedError — the majority of real-corpus PNGs
    are 8-bit (A)RGB non-interlaced."""
    if payload[:8] != PNG_SIG:
        raise NotImplementedError("not a PNG signature")
    pos = 8
    idat = bytearray()
    width = height = bitdepth = ctype = interlace = None
    while pos + 8 <= len(payload):
        (length,) = struct.unpack_from(">I", payload, pos)
        ctag = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + length]
        pos += 12 + length  # length + tag + payload + crc
        if ctag == b"IHDR":
            width, height, bitdepth, ctype, _c, _f, interlace = struct.unpack(
                ">IIBBBBB", data
            )
        elif ctag == b"IDAT":
            idat += data
        elif ctag == b"IEND":
            break
    if width is None:
        raise NotImplementedError("PNG missing IHDR")
    if bitdepth != 8 or ctype not in (0, 2, 6) or interlace != 0:
        raise NotImplementedError(
            f"only 8-bit gray/RGB/RGBA non-interlaced PNG supported"
            f" (depth={bitdepth} color_type={ctype} interlace={interlace})"
        )
    bpp = {0: 1, 2: 3, 6: 4}[ctype]
    raw = zlib.decompress(bytes(idat))
    stride = width * bpp
    if len(raw) != (stride + 1) * height:
        raise ValueError("PNG IDAT length does not match dimensions")
    prev = bytes(stride)
    sums = [0, 0, 0]
    lum_top = lum_bot = 0.0
    for y in range(height):
        base = y * (stride + 1)
        line = bytearray(raw[base + 1 : base + 1 + stride])
        _png_unfilter_row(raw[base], line, prev, bpp)
        row_lum = 0
        for x in range(width):
            o = x * bpp
            if ctype == 0:
                r = g = b = line[o]
            else:
                r, g, b = line[o], line[o + 1], line[o + 2]
            sums[0] += r
            sums[1] += g
            sums[2] += b
            row_lum += r + g + b
        if y < height // 2:
            lum_top += row_lum
        else:
            lum_bot += row_lum
        prev = bytes(line)
    return _finish_image_features(width, height, sums, lum_top, lum_bot)


def make_png(width: int, height: int, pixel_fn, filter_type: int = 4) -> bytes:
    """Serialize an 8-bit RGB PNG with the stdlib (zlib + crc32), applying
    the given scanline filter to every row — fixture builder that lets the
    tests exercise each unfilter path (0=None, 1=Sub, 2=Up, 3=Average,
    4=Paeth). ``pixel_fn(x, y) -> (r, g, b)`` with y=0 at the top."""
    def chunk(tag: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + tag
            + data
            + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0)
    bpp = 3
    prev = bytes(width * bpp)
    out = bytearray()
    for y in range(height):
        line = bytearray()
        for x in range(width):
            r, g, b = pixel_fn(x, y)
            line += bytes((r, g, b))
        filt = bytearray(line)
        if filter_type == 1:
            for i in range(len(line) - 1, bpp - 1, -1):
                filt[i] = (line[i] - line[i - bpp]) & 0xFF
        elif filter_type == 2:
            for i in range(len(line)):
                filt[i] = (line[i] - prev[i]) & 0xFF
        elif filter_type == 3:
            for i in range(len(line)):
                left = line[i - bpp] if i >= bpp else 0
                filt[i] = (line[i] - ((left + prev[i]) >> 1)) & 0xFF
        elif filter_type == 4:
            for i in range(len(line)):
                a = line[i - bpp] if i >= bpp else 0
                b2 = prev[i]
                c = prev[i - bpp] if i >= bpp else 0
                p = a + b2 - c
                pa, pb, pc = abs(p - a), abs(p - b2), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b2 if pb <= pc else c)
                filt[i] = (line[i] - pred) & 0xFF
        elif filter_type != 0:
            raise ValueError(f"filter_type {filter_type}")
        out += bytes((filter_type,)) + bytes(filt)
        prev = bytes(line)
    return (
        PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(out)))
        + chunk(b"IEND", b"")
    )


def _decode_image(payload: bytes) -> list[float]:
    """Real image decode: uncompressed 24-bit BMP (struct), 8-bit PNG
    (zlib inflate + scanline unfilter), or baseline JPEG (stdlib Huffman
    + IDCT, :mod:`.jpeg`) → pixels → the shared 8-dim feature vector of
    :func:`_finish_image_features` — the same picture in any of the three
    encodings yields (approximately, for the lossy one) the same
    features. Progressive JPEG/Adam7/palette stay NotImplementedError."""
    if payload[:8] == PNG_SIG:
        return _decode_png(payload)
    if payload[:2] == b"\xff\xd8":
        return _decode_jpeg(payload)
    if payload[:2] != b"BM":
        raise NotImplementedError(
            "only BMP, PNG and baseline JPEG are decodable without external codecs"
        )
    width, height, _planes, bpp, compression = struct.unpack_from("<iiHHI", payload, 18)
    if bpp != 24 or compression != 0:
        raise NotImplementedError("only 24-bit uncompressed BMP supported")
    offset = struct.unpack_from("<I", payload, 10)[0]
    bottom_up = height > 0
    height = abs(height)
    row_size = (width * 3 + 3) & ~3
    sums = [0, 0, 0]
    lum_top = lum_bot = 0.0
    for row in range(height):
        y = (height - 1 - row) if bottom_up else row  # y=0 at the top
        base = offset + row * row_size
        row_lum = 0
        for x in range(width):
            b, g, r = payload[base + 3 * x : base + 3 * x + 3]
            sums[0] += r
            sums[1] += g
            sums[2] += b
            row_lum += r + g + b
        if y < height // 2:
            lum_top += row_lum
        else:
            lum_bot += row_lum
    return _finish_image_features(width, height, sums, lum_top, lum_bot)


def _decode_jpeg(payload: bytes) -> list[float]:
    """Baseline JPEG → pixels (stdlib codec in :mod:`.jpeg`) → the shared
    8-dim image features."""
    from .jpeg import decode_jpeg_pixels

    width, height, px = decode_jpeg_pixels(payload)
    sums = [0, 0, 0]
    lum_top = lum_bot = 0.0
    for y in range(height):
        row_lum = 0
        base = y * width * 3
        for x in range(width):
            o = base + x * 3
            r, g, b = px[o], px[o + 1], px[o + 2]
            sums[0] += r
            sums[1] += g
            sums[2] += b
            row_lum += r + g + b
        if y < height // 2:
            lum_top += row_lum
        else:
            lum_bot += row_lum
    return _finish_image_features(width, height, sums, lum_top, lum_bot)


# --- MP3: stdlib frame-header parse (closes the round-6 stub) -------------
# MPEG-1/2/2.5 Layer III bitrate (kbps) and sample-rate tables, per the
# ISO/IEC 11172-3 header layout. Index 0 ("free") and 15 are invalid.
_MP3_BITRATES_V1_L3 = [
    None, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320, None
]
_MP3_BITRATES_V2_L3 = [
    None, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160, None
]
_MP3_SAMPLE_RATES = {3: [44100, 48000, 32000],   # MPEG-1
                     2: [22050, 24000, 16000],   # MPEG-2
                     0: [11025, 12000, 8000]}    # MPEG-2.5


def parse_mp3_frames(payload: bytes) -> list[dict]:
    """Walk an MP3 bitstream's Layer III frame headers with pure stdlib
    arithmetic: skip an ID3v2 tag (syncsafe size), resync on 0xFFE,
    decode version/bitrate/sample-rate/padding/channel-mode from each
    32-bit header, advance by the computed frame length
    (samples_per_frame/8 · bitrate / sample_rate + padding). Returns one
    dict per frame: offset, length, bitrate_kbps, sample_rate, channels,
    samples, and ``energy`` — the mean |byte − 128| of the frame's DATA
    bytes. The energy is a COMPRESSED-PAYLOAD proxy, not decoded PCM
    (full Layer III synthesis needs Huffman tables + polyphase filter
    banks): deterministic and content-sensitive, so it discriminates and
    fingerprints re-muxed/re-tagged copies of the same stream, but it is
    not perceptual loudness — documented contract, same honesty rule as
    the video path's pre-extracted-frames boundary."""
    i = 0
    if payload[:3] == b"ID3" and len(payload) >= 10:
        size = 0
        for b in payload[6:10]:  # syncsafe: 7 bits per byte
            size = (size << 7) | (b & 0x7F)
        if payload[3] == 4 and payload[5] & 0x10:
            # footer flag is defined only in ID3v2.4 (payload[3] is the
            # tag major version); in v2.2/v2.3 bit 0x10 is undefined and
            # skipping 10 extra bytes could swallow the first frame header
            size += 10  # 10-byte footer follows the tag, NOT in the size
        i = 10 + size
    frames: list[dict] = []
    n = len(payload)
    while i + 4 <= n:
        h = int.from_bytes(payload[i:i + 4], "big")
        if (h >> 21) & 0x7FF != 0x7FF:
            i += 1  # resync byte-by-byte past garbage/tags
            continue
        version = (h >> 19) & 3       # 3=MPEG1, 2=MPEG2, 0=MPEG2.5
        layer = (h >> 17) & 3         # 1 = Layer III
        br_idx = (h >> 12) & 0xF
        sr_idx = (h >> 10) & 3
        padding = (h >> 9) & 1
        mode = (h >> 6) & 3           # 3 = mono
        if version == 1 or layer != 1 or sr_idx == 3:
            i += 1
            continue
        table = _MP3_BITRATES_V1_L3 if version == 3 else _MP3_BITRATES_V2_L3
        bitrate = table[br_idx]
        if bitrate is None:
            i += 1
            continue
        sample_rate = _MP3_SAMPLE_RATES[version][sr_idx]
        samples = 1152 if version == 3 else 576
        length = (samples // 8) * bitrate * 1000 // sample_rate + padding
        if length < 4 or i + length > n:
            break  # truncated final frame: stop, don't fabricate
        data = payload[i + 4:i + length]
        energy = (
            sum(abs(b - 128) for b in data) / len(data) if data else 0.0
        )
        frames.append({
            "offset": i,
            "length": length,
            "bitrate_kbps": bitrate,
            "sample_rate": sample_rate,
            "channels": 1 if mode == 3 else 2,
            "samples": samples,
            "energy": energy,
        })
        i += length
    return frames


def _decode_mp3(payload: bytes) -> list[float]:
    """MP3 feature vector from the frame-header walk (no PCM synthesis —
    see :func:`parse_mp3_frames`): [sample_rate, channels, duration_s,
    mean_frame_energy/128, max_frame_energy/128, vbr_flag, mean_bitrate_
    kbps, n_frames]. Same 8-wide shape as the WAV features so mixed
    audio corpora share one feature schema."""
    frames = parse_mp3_frames(payload)
    if not frames:
        raise NotImplementedError(
            "no decodable MPEG Layer III frames in payload"
        )
    f0 = frames[0]
    energies = [f["energy"] for f in frames]
    bitrates = [f["bitrate_kbps"] for f in frames]
    duration = sum(f["samples"] / f["sample_rate"] for f in frames)
    return [
        float(f0["sample_rate"]),
        float(f0["channels"]),
        duration,
        sum(energies) / len(energies) / 128.0,
        max(energies) / 128.0,
        1.0 if len(set(bitrates)) > 1 else 0.0,
        sum(bitrates) / len(bitrates),
        float(len(frames)),
    ]


def make_mp3(
    frame_energies: list[int],
    bitrate_kbps: int = 128,
    sample_rate: int = 44100,
    id3: bytes | None = None,
) -> bytes:
    """Deterministic MP3 fixture builder (MPEG-1 Layer III, mono, no
    CRC): one frame per entry in ``frame_energies``; frame f's data
    bytes alternate 128±energy so ``parse_mp3_frames`` reads back
    exactly ``energy`` as the frame's mean |byte−128|. Optionally
    prefixed with a syncsafe-sized ID3v2 tag."""
    br_idx = _MP3_BITRATES_V1_L3.index(bitrate_kbps)
    sr_idx = _MP3_SAMPLE_RATES[3].index(sample_rate)
    out = bytearray()
    if id3 is not None:
        size = len(id3)
        out += b"ID3" + bytes([3, 0, 0,
                               (size >> 21) & 0x7F, (size >> 14) & 0x7F,
                               (size >> 7) & 0x7F, size & 0x7F]) + id3
    length = 144 * bitrate_kbps * 1000 // sample_rate  # no padding
    for amp in frame_energies:
        hdr = bytes([0xFF, 0xFB, (br_idx << 4) | (sr_idx << 2), 0xC0])
        data = bytearray()
        for j in range(length - 4):
            data.append(128 + amp if j % 2 == 0 else 128 - amp)
        out += hdr + bytes(data)
    return bytes(out)


def _decode_audio(payload: bytes) -> list[float]:
    """Real audio decode: 16-bit PCM WAV via stdlib ``wave`` → 8-dim
    feature [framerate, channels, duration_s, rms, peak, zero-crossing
    rate, mean_abs, dc_offset] (amplitudes normalized to [-1,1]); MP3 via
    the stdlib frame-header walk → the 8-dim :func:`_decode_mp3` vector
    (compressed-domain energies — see its scope note). Other compressed
    audio (AAC/OGG) needs external libs — still NotImplementedError."""
    if payload[:3] == b"ID3" or (
        len(payload) >= 2 and payload[0] == 0xFF and (payload[1] & 0xE0) == 0xE0
    ):
        return _decode_mp3(payload)
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise NotImplementedError("only PCM WAV / MP3 decodable without audio libs")
    with wave.open(io.BytesIO(payload)) as w:
        nch, sw, fr, nf = w.getnchannels(), w.getsampwidth(), w.getframerate(), w.getnframes()
        if sw != 2:
            raise NotImplementedError("only 16-bit PCM WAV supported")
        data = w.readframes(nf)
    samples = array.array("h")
    samples.frombytes(data)
    mono = samples[::nch]  # first channel
    if not mono:
        return [float(fr), float(nch), 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]
    norm = [s / 32768.0 for s in mono]
    n = len(norm)
    zc = sum(1 for a, b in zip(norm, norm[1:]) if (a < 0) != (b < 0))
    return [
        float(fr),
        float(nch),
        n / float(fr),
        math.sqrt(sum(s * s for s in norm) / n),
        max(abs(s) for s in norm),
        zc / max(n - 1, 1),
        sum(abs(s) for s in norm) / n,
        sum(norm) / n,
    ]


DECODERS = {
    "fake": _fake_decode,  # deterministic test decoder
    "image": _decode_image,  # real: 24-bit BMP + 8-bit PNG + baseline JPEG (all stdlib)
    "audio": _decode_audio,  # real: 16-bit PCM WAV + MP3 frame-header walk; AAC/OGG → NotImplementedError
    "video": _unavailable,  # STUB: ffmpeg frame sample → per-frame image path
}


# What a truncated or corrupt payload raises inside the stdlib codecs:
# zlib inflate, struct unpack, the wave chunk walk (a seek past the end
# is a bare RuntimeError) and the hand-rolled PNG/BMP/JPEG/MP3 parsers.
# NotImplementedError, the unsupported-variant signal, is a RuntimeError.
_UNDECODABLE = (
    RuntimeError, ValueError, EOFError, LookupError, struct.error, zlib.error, wave.Error
)


def extract_features(media: DataFrame, decoder: str = "fake") -> DataFrame:
    """mapInPandas feature extraction: payload → fixed-width feature vector
    + cheap integrity stats. Batches stream through Arrow; the payload
    column is dropped inside the iterator (first row of output never
    carries bytes). ``decoder="auto"`` dispatches per row on the ``kind``
    column and degrades gracefully on mixed corpora: a row whose kind has
    no available codec, or whose payload is truncated or corrupt, gets
    ``feature = NULL`` (integrity stats still emitted) instead of
    failing the whole job — the hard failure is reserved for explicitly
    named decoders, where the caller asserted the corpus is decodable."""
    if decoder != "auto":
        DECODERS[decoder]  # fail fast on unknown names, on the driver

    def auto_decode(kind: str, payload: bytes) -> list[float] | None:
        try:
            return DECODERS.get(kind, _unavailable)(payload)
        except _UNDECODABLE:
            return None

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = pdf["payload"]
            if decoder == "auto":
                feats = [
                    auto_decode(k, bytes(p or b""))
                    for k, p in zip(pdf["kind"], payloads)
                ]
            else:
                decode = DECODERS[decoder]
                feats = [decode(bytes(p or b"")) for p in payloads]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "n_bytes": payloads.map(lambda p: 0 if p is None else len(p)).astype("int64"),
                    # np.uint8 sum == builtin sum(bytes) exactly (both the
                    # exact integer byte total); the numpy path runs the
                    # hot loop in C instead of one Python add per byte
                    # (guide §4.2 — vectorize inside the Arrow batch)
                    "checksum": payloads.map(
                        lambda p: 0
                        if p is None
                        else int(
                            _np.frombuffer(p, dtype=_np.uint8).sum(dtype=_np.int64)
                        )
                        % (1 << 31)
                    ).astype("int64"),
                    "feature": feats,
                }
            )

    return media.mapInPandas(run, schema=FEATURE_SCHEMA)


def sample_frames(media: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Frame-sampling plumbing: one output row per sampled frame offset,
    computed from metadata only (no decode) — shows the explode shape a
    video pipeline uses before per-frame decode."""
    n_frames = F.greatest(
        (F.col("meta.duration_ms") / every_ms).cast("int"), F.lit(1)
    )
    return media.select(
        "media_id",
        "kind",
        F.explode(F.sequence(F.lit(0), n_frames - 1)).alias("frame_idx"),
    ).withColumn("offset_ms", F.col("frame_idx") * every_ms)


def synthesize_bmp_media(
    ids: DataFrame, id_col: str = "event_id", width: int = 4, height: int = 2
) -> DataFrame:
    """Deterministic in-query media synthesis: one 24-bit BMP per id,
    pixels a fixed affine-mod-256 function of (id, x, y) — the
    pattern that lets the decode path be ORACLE-CHECKED end-to-end: the
    DuckDB twin computes the expected features straight from the pixel
    formula, so a hash match proves encode → binary column → Arrow batch
    → decode → feature math byte-for-byte, without the oracle ever
    touching a codec. Same mapInPandas batch shape a real ingest uses
    for opaque media blobs."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for mid in pdf[id_col]:
                m = int(mid)
                payloads.append(
                    make_bmp(
                        width,
                        height,
                        lambda x, y, m=m: (
                            (m * 13 + x * 7 + y * 31) % 256,
                            (m * 17 + x * 11 + y * 5) % 256,
                            (m * 7 + x * 3 + y * 13) % 256,
                        ),
                    )
                )
            yield pd.DataFrame(
                {
                    "media_id": pdf[id_col].astype("int64"),
                    "kind": "image",
                    "payload": payloads,
                    "meta": [
                        {
                            "format": "bmp",
                            "width": width,
                            "height": height,
                            "duration_ms": 0,
                        }
                    ]
                    * len(payloads),
                }
            )

    return ids.mapInPandas(run, schema=MEDIA_SCHEMA)


# --- perceptual hashing: image near-dup over decoded pixels ----------------


def ahash_bands(payload: bytes) -> tuple[int, int, int, int]:
    """64-bit average hash (aHash) of a decodable image, returned as four
    16-bit band integers (banding = the simhash/LSH pigeonhole move: any
    two hashes within Hamming distance 3 share at least one identical
    band, so candidate pairs come from band-equality joins, never an
    all-pairs scan).

    Grid luminance uses INTEGER arithmetic end-to-end (lum = r+g+b per
    cell; bit set iff 64·cell_sum > total_sum) so the bits are exactly
    reproducible by an oracle that knows the pixel formula — no float
    mean to drift. Images whose dimensions are multiples of 8 use exact
    block sums; other sizes use the same rule over floor-divided blocks."""
    from .jpeg import decode_jpeg_pixels

    if payload[:2] == b"\xff\xd8":
        w, h, px = decode_jpeg_pixels(payload)
    elif payload[:2] == b"BM":
        w, h, px = _bmp_pixels(payload)
    else:
        raise NotImplementedError("ahash: BMP or baseline JPEG input")
    cw, ch = max(w // 8, 1), max(h // 8, 1)
    sums = [0] * 64
    for cy in range(8):
        for cx in range(8):
            s = 0
            for y in range(cy * ch, min((cy + 1) * ch, h)):
                base = y * w * 3
                for x in range(cx * cw, min((cx + 1) * cw, w)):
                    o = base + x * 3
                    s += px[o] + px[o + 1] + px[o + 2]
            sums[cy * 8 + cx] = s
    total = sum(sums)
    bits = [1 if 64 * s > total else 0 for s in sums]
    bands = []
    for b in range(4):
        v = 0
        for i in range(16):
            v |= bits[b * 16 + i] << i
        bands.append(v)
    return tuple(bands)


def _bmp_pixels(payload: bytes) -> tuple[int, int, list[int]]:
    """24-bit uncompressed BMP → (w, h, flat RGB, y=0 top)."""
    width, height, _planes, bpp, compression = struct.unpack_from("<iiHHI", payload, 18)
    if bpp != 24 or compression != 0:
        raise NotImplementedError("only 24-bit uncompressed BMP supported")
    offset = struct.unpack_from("<I", payload, 10)[0]
    bottom_up = height > 0
    height = abs(height)
    row_size = (width * 3 + 3) & ~3
    out = [0] * (width * height * 3)
    for row in range(height):
        y = (height - 1 - row) if bottom_up else row
        base = offset + row * row_size
        for x in range(width):
            b, g, r = payload[base + 3 * x : base + 3 * x + 3]
            o = (y * width + x) * 3
            out[o], out[o + 1], out[o + 2] = r, g, b
    return width, height, out


def image_ahash(media: DataFrame) -> DataFrame:
    """mapInPandas: payload → 4×16-bit aHash bands (media_id, b0..b3).
    The payload dies inside the iterator; downstream joins touch only
    the 4 small ints per image."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                b0, b1, b2, b3 = ahash_bands(bytes(payload or b""))
                rows.append(
                    {"media_id": int(mid), "b0": b0, "b1": b1, "b2": b2, "b3": b3}
                )
            yield pd.DataFrame(rows)

    return media.mapInPandas(
        run, schema="media_id long, b0 int, b1 int, b2 int, b3 int"
    )


def phash_near_pairs(hashes: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Image near-dup pairs from banded aHashes: candidates via the
    band-equality bucket join (pigeonhole-EXACT for max_hamming ≤ 3 with
    4 bands — no recall loss vs brute force), verified with the exact
    Hamming distance (bit_count of xors). Same shape as simhash_near_pairs:
    never an all-pairs scan."""
    if max_hamming > 3:
        raise ValueError(
            "4-band pigeonhole guarantees recall only for max_hamming <= 3"
        )
    stacked = hashes.selectExpr(
        "media_id", "b0", "b1", "b2", "b3",
        "stack(4, 0, b0, 1, b1, 2, b2, 3, b3) as (band, bucket)",
    )
    a, b = stacked.alias("a"), stacked.alias("b")
    cand = (
        a.join(b, ["band", "bucket"])
        .filter(F.col("a.media_id") < F.col("b.media_id"))
        .select(
            F.col("a.media_id").alias("id_a"),
            F.col("b.media_id").alias("id_b"),
            *[F.col(f"a.b{i}").alias(f"a{i}") for i in range(4)],
            *[F.col(f"b.b{i}").alias(f"bb{i}") for i in range(4)],
        )
        .distinct()
    )
    hamming = sum(
        F.bit_count(F.col(f"a{i}").bitwiseXOR(F.col(f"bb{i}"))) for i in range(4)
    )
    return (
        cand.withColumn("hamming", hamming.cast("long"))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def synthesize_phash_media(ids: DataFrame, id_col: str = "media_id") -> DataFrame:
    """Near-dup IMAGE corpus, deterministically: each id's 8×8 BMP shows
    its GROUP'S md5-derived black/white pattern (group = id // 4) with
    ONE diagonal cell inverted per group member (cell (j, j), j = id % 4)
    — so same-group images sit at aHash Hamming distance exactly 2 and
    cross-group pairs at ~32. The pixel formula is pure integer md5
    arithmetic, so a SQL oracle can recompute every hash bit without any
    codec — the encode → BMP bytes → decode → hash path is what's under
    test."""
    import hashlib

    def bit(g: int, x: int, y: int) -> int:
        return int(hashlib.md5(f"{g}:{x}:{y}".encode()).hexdigest()[0], 16) % 2

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for mid in pdf[id_col]:
                m = int(mid)
                g, j = m // 4, m % 4

                def px(x, y, g=g, j=j):
                    b = bit(g, x, y)
                    if x == j and y == j:
                        b = 1 - b
                    v = 255 * b
                    return (v, v, v)

                payloads.append(make_bmp(8, 8, px))
            yield pd.DataFrame(
                {
                    "media_id": pdf[id_col].astype("int64"),
                    "kind": "image",
                    "payload": payloads,
                    "meta": [
                        {"format": "bmp", "width": 8, "height": 8, "duration_ms": 0}
                    ]
                    * len(payloads),
                }
            )

    return ids.mapInPandas(run, schema=MEDIA_SCHEMA)


# --- audio fingerprinting: loudness-profile near-dup -----------------------


def audio_fingerprint_bands(payload: bytes, n_slices: int = 64) -> tuple[int, int, int, int]:
    """64-bit loudness-profile fingerprint of a PCM WAV, as four 16-bit
    bands (same banding contract as :func:`ahash_bands`, so
    :func:`phash_near_pairs` pairs audio too): split the mono samples
    into 64 equal time slices; bit s = slice s is louder than the track
    average (64·Σ|slice| > Σ|all| — integer-exact, oracle-reproducible).
    Robust to what near-dup audio shares (the energy envelope) and
    indifferent to what it doesn't (phase, codec dither)."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise NotImplementedError("audio fingerprint: PCM WAV input only")
    with wave.open(io.BytesIO(payload)) as w:
        nch, sw, nf = w.getnchannels(), w.getsampwidth(), w.getnframes()
        if sw != 2:
            raise NotImplementedError("only 16-bit PCM WAV supported")
        data = w.readframes(nf)
    samples = array.array("h")
    samples.frombytes(data)
    mono = samples[::nch]
    n = len(mono)
    per = max(n // n_slices, 1)
    sums = [0] * n_slices
    for s in range(n_slices):
        lo = s * per
        hi = min((s + 1) * per, n) if s < n_slices - 1 else n
        sums[s] = sum(abs(v) for v in mono[lo:hi])
    total = sum(sums)
    bits = [1 if n_slices * v > total else 0 for v in sums]
    bands = []
    for b in range(4):
        v = 0
        for i in range(16):
            v |= bits[b * 16 + i] << i
        bands.append(v)
    return tuple(bands)


def mp3_fingerprint_bands(payload: bytes, n_slices: int = 64) -> tuple[int, int, int, int]:
    """64-bit energy-profile fingerprint of an MP3, as four 16-bit bands
    — the SAME banding contract as :func:`audio_fingerprint_bands` /
    ``ahash_bands``, so MP3 clips ride the existing banded-Hamming
    near-dup join unchanged: split the per-frame energy sequence
    (:func:`parse_mp3_frames` — compressed-domain, see its scope note)
    into 64 slices; bit s = slice s is louder than the stream average
    (64·Σslice > Σall, integer-free exact on the float energies). Finds
    re-encoded-tag / re-muxed copies of the same stream."""
    frames = parse_mp3_frames(payload)
    if not frames:
        raise NotImplementedError("no decodable MPEG Layer III frames")
    energies = [f["energy"] for f in frames]
    n = len(energies)
    per = max(n // n_slices, 1)
    sums = [0.0] * n_slices
    for s in range(n_slices):
        lo = s * per
        hi = min((s + 1) * per, n) if s < n_slices - 1 else n
        sums[s] = sum(energies[lo:hi])
    total = sum(sums)
    bits = [1 if n_slices * v > total else 0 for v in sums]
    bands = []
    for b in range(4):
        v = 0
        for i in range(16):
            v |= bits[b * 16 + i] << i
        bands.append(v)
    return tuple(bands)


def audio_fingerprints(media: DataFrame) -> DataFrame:
    """mapInPandas: WAV payload → (media_id, b0..b3); payload dropped in
    the iterator, downstream is 4 small ints per clip."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                b0, b1, b2, b3 = audio_fingerprint_bands(bytes(payload or b""))
                rows.append(
                    {"media_id": int(mid), "b0": b0, "b1": b1, "b2": b2, "b3": b3}
                )
            yield pd.DataFrame(rows)

    return media.mapInPandas(
        run, schema="media_id long, b0 int, b1 int, b2 int, b3 int"
    )


def synthesize_audio_media(ids: DataFrame, id_col: str = "media_id") -> DataFrame:
    """Near-dup AUDIO corpus, deterministically: each id's clip is a
    64-slice square wave whose per-slice loudness (loud/quiet) follows
    its GROUP'S md5 pattern (group = id // 4) with ONE slice's level
    inverted per member (slice = id % 4) — same-group fingerprints sit
    at Hamming 2, cross-group ~32. Integer amplitudes only (no sin());
    the oracle recomputes every bit from the md5 formula alone."""
    import hashlib

    def loud(g: int, s: int) -> int:
        return int(hashlib.md5(f"a{g}:{s}".encode()).hexdigest()[0], 16) % 2

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for mid in pdf[id_col]:
                m = int(mid)
                g, j = m // 4, m % 4
                samples = array.array("h")
                for s in range(64):
                    bitv = loud(g, s)
                    if s == j:
                        bitv = 1 - bitv
                    amp = 20000 if bitv else 500
                    for i in range(64):  # 64 samples/slice square wave
                        samples.append(amp if (i // 4) % 2 == 0 else -amp)
                buf = io.BytesIO()
                with wave.open(buf, "wb") as w:
                    w.setnchannels(1)
                    w.setsampwidth(2)
                    w.setframerate(8000)
                    w.writeframes(samples.tobytes())
                payloads.append(buf.getvalue())
            yield pd.DataFrame(
                {
                    "media_id": pdf[id_col].astype("int64"),
                    "kind": "audio",
                    "payload": payloads,
                    "meta": [
                        {"format": "wav", "width": 0, "height": 0, "duration_ms": 512}
                    ]
                    * len(payloads),
                }
            )

    return ids.mapInPandas(run, schema=MEDIA_SCHEMA)


# --- video: per-frame hashing over pre-extracted frames --------------------

FRAME_SCHEMA = "video_id long, frame_idx int, payload binary"


def synthesize_video_frames(
    ids: DataFrame, id_col: str = "video_id", n_frames: int = 6
) -> DataFrame:
    """Near-dup VIDEO corpus as pre-extracted frames (what a production
    pipeline hands Spark after the ffmpeg sampling step — the decode
    stub boundary stays honest; everything downstream of extraction is
    real): video id's frames show its GROUP'S per-frame md5 pattern
    (group = id // 4) except frame (id % 4), which is replaced with an
    id-specific pattern — so same-group videos share exactly
    n_frames − 2 aligned frames pairwise and cross-group videos share
    none."""
    import hashlib

    def bit(tag: str, f: int, x: int, y: int) -> int:
        return int(hashlib.md5(f"{tag}:{f}:{x}:{y}".encode()).hexdigest()[0], 16) % 2

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            vids, idxs, payloads = [], [], []
            for vid in pdf[id_col]:
                m = int(vid)
                g, j = m // 4, m % 4
                for f in range(n_frames):
                    tag = f"w{m}" if f == j else f"v{g}"

                    def px(x, y, tag=tag, f=f):
                        v = 255 * bit(tag, f, x, y)
                        return (v, v, v)

                    vids.append(m)
                    idxs.append(f)
                    payloads.append(make_bmp(8, 8, px))
            yield pd.DataFrame(
                {"video_id": pd.Series(vids, dtype="int64"),
                 "frame_idx": pd.Series(idxs, dtype="int32"),
                 "payload": payloads}
            )

    return ids.mapInPandas(run, schema=FRAME_SCHEMA)


def video_frame_hashes(frames: DataFrame) -> DataFrame:
    """(video_id, frame_idx, b0..b3): the aHash of every frame — after
    this, a video is just a tiny set of ints and all similarity work is
    joins (the payload never leaves the iterator)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for vid, f, payload in zip(
                pdf["video_id"], pdf["frame_idx"], pdf["payload"]
            ):
                b0, b1, b2, b3 = ahash_bands(bytes(payload or b""))
                rows.append(
                    {"video_id": int(vid), "frame_idx": int(f),
                     "b0": b0, "b1": b1, "b2": b2, "b3": b3}
                )
            yield pd.DataFrame(rows)

    return frames.mapInPandas(
        run, schema="video_id long, frame_idx int, b0 int, b1 int, b2 int, b3 int"
    )


def video_near_dup(
    hashes: DataFrame, n_frames: int, min_match_frac: float = 0.5
) -> DataFrame:
    """Video pairs sharing ≥ ``min_match_frac`` of ALIGNED identical
    frame hashes. The join keys on (frame_idx, full hash) — candidate
    volume is bounded by hash collisions at the same frame position,
    never |videos|²; shared-frame counting is one aggregate on top."""
    h = hashes.select("video_id", "frame_idx", "b0", "b1", "b2", "b3")
    a, b = h.alias("a"), h.alias("b")
    matched = (
        a.join(b, ["frame_idx", "b0", "b1", "b2", "b3"])
        .filter(F.col("a.video_id") < F.col("b.video_id"))
        .groupBy(
            F.col("a.video_id").alias("id_a"),
            F.col("b.video_id").alias("id_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_matching_frames"))
    )
    frac = F.col("n_matching_frames").cast("double") / F.lit(float(n_frames))
    return (
        matched.withColumn("match_frac", frac)
        .filter(F.col("match_frac") >= min_match_frac)
        .select("id_a", "id_b", "n_matching_frames", "match_frac")
    )
