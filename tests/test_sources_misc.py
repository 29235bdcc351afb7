"""CSV scrip-master scan, JSON calendar, partitioned sink, multimodal
plumbing, and AlertManager tests."""

from __future__ import annotations

import json
import shutil
import tempfile
from datetime import datetime

import pytest

from options_data_pipeline_spark.sources.csv_source import read_scrip_master, match_tokens
from options_data_pipeline_spark.sources.json_source import load_calendar
from options_data_pipeline_spark.sources.sink import write_market_data, read_market_data
from options_data_pipeline_spark.functions.multimodal import extract_features, sample_frames, MEDIA_SCHEMA
from options_data_pipeline_spark.streaming.listeners import AlertManager


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="odp_misc_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_scrip_master_column_inference_and_match(spark, tmpdir):
    path = tmpdir + "/scrip.csv"
    with open(path, "w") as f:
        f.write("pSymbol,pSymbolName,pExchSeg,extra\n")
        f.write("11536,TCS,nse_cm,x\n")
        f.write("99999,TCS,nse_cm,dup\n")  # duplicate symbol — first (min token) wins
        f.write("2885,RELIANCE,nse_cm,y\n")
        f.write("123,OTHER,nse_cm,z\n")
    dim = read_scrip_master(spark, path)
    out = {r.symbol: r.token for r in match_tokens(dim, ["tcs", "RELIANCE"]).collect()}
    assert out == {"TCS": "11536", "RELIANCE": "2885"}


def test_calendar_json(spark, tmpdir):
    path = tmpdir + "/cal.json"
    doc = {
        "holidays": [{"date": "2026-01-26", "name": "Republic Day"}, "2026-03-14"],
        "special_sessions": {
            "2026-11-10": {"name": "Muhurat", "open": "18:15", "close": "19:45"}
        },
    }
    json.dump(doc, open(path, "w"))
    cal = {r.date.isoformat(): r for r in load_calendar(spark, path).collect()}
    assert cal["2026-01-26"].is_holiday and cal["2026-01-26"].holiday_name == "Republic Day"
    assert cal["2026-03-14"].is_holiday
    mu = cal["2026-11-10"]
    assert not mu.is_holiday and (mu.session_open, mu.session_close) == ("18:15", "19:45")


def test_partitioned_market_data_sink(spark, tmpdir):
    path = tmpdir + "/market"
    df = spark.createDataFrame(
        [
            ("A", datetime(2024, 1, 15, 9, 15), 1.0),
            ("A", datetime(2024, 2, 1, 9, 15), 2.0),
        ],
        "symbol string, window_start timestamp, close double",
    )
    write_market_data(df, path)
    back = read_market_data(spark, path)
    assert back.count() == 2
    # partition pruning: a month-filtered read should scan one partition
    pruned = spark.read.parquet(path).filter("year = 2024 AND month = 1")
    assert pruned.count() == 1


def test_multimodal_feature_extract(spark):
    rows = [
        (1, "fake", bytearray(b"\x00\x20\x40\xff"), ("raw", 2, 2, None)),
        (2, "fake", bytearray(b""), ("raw", 0, 0, None)),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    out = {r.media_id: r for r in extract_features(media, decoder="fake").collect()}
    assert out[1].n_bytes == 4 and len(out[1].feature) == 8
    assert out[1].feature[0] == pytest.approx(0.25)  # one byte in bucket 0
    assert out[1].feature[7] == pytest.approx(0.25)  # 0xff in bucket 7
    assert out[2].n_bytes == 0


def test_multimodal_compressed_codec_is_stubbed(spark):
    """Formats with no stdlib codec (GIF bytes here) still raise: only
    BMP/PNG/JPEG have real image decoders in this container."""
    media = spark.createDataFrame(
        [(1, "image", bytearray(b"GIF89a\x01\x00\x01\x00"), ("gif", 1, 1, None))],
        MEDIA_SCHEMA,
    )
    with pytest.raises(Exception, match="NotImplementedError|BMP|codec"):
        extract_features(media, decoder="image").collect()


def test_multimodal_png_decode_end_to_end(spark):
    """Real PNG path: zlib-inflate + unfilter through mapInPandas. The
    same red-top/blue-bottom picture as the BMP test must produce the
    SAME feature vector (shared feature definition across codecs)."""
    from options_data_pipeline_spark.functions.multimodal import make_bmp, make_png

    px = lambda x, y: (255, 0, 0) if y == 0 else (0, 0, 255)
    png = make_png(4, 2, px)
    bmp = make_bmp(4, 2, px)
    media = spark.createDataFrame(
        [
            (1, "image", bytearray(png), ("png", 4, 2, None)),
            (2, "image", bytearray(bmp), ("bmp", 4, 2, None)),
        ],
        MEDIA_SCHEMA,
    )
    out = {r.media_id: r.feature for r in extract_features(media, decoder="image").collect()}
    assert out[1] == pytest.approx(out[2])
    assert out[1][0] == 4.0 and out[1][2] == pytest.approx(0.5)  # width, mean_r


def test_multimodal_png_all_filter_types_roundtrip():
    """Every PNG scanline filter (None/Sub/Up/Average/Paeth) must unfilter
    back to the same pixels — a gradient image stresses the predictors."""
    from options_data_pipeline_spark.functions.multimodal import (
        _decode_png,
        make_png,
    )

    px = lambda x, y: ((x * 37) % 256, (y * 91) % 256, (x * y * 13) % 256)
    want = _decode_png(make_png(9, 7, px, filter_type=0))
    for ft in (1, 2, 3, 4):
        got = _decode_png(make_png(9, 7, px, filter_type=ft))
        assert got == pytest.approx(want), f"filter {ft} mismatch"


def test_multimodal_png_unsupported_variants_raise():
    """Interlaced and 16-bit PNGs stay NotImplementedError — declared
    bounds of the stdlib codec, not silent wrong answers."""
    import struct as _struct
    import zlib

    from options_data_pipeline_spark.functions.multimodal import PNG_SIG, _decode_png

    def chunk(tag, data):
        return (
            _struct.pack(">I", len(data)) + tag + data
            + _struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
        )

    interlaced = PNG_SIG + chunk(
        b"IHDR", _struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 1)
    )
    with pytest.raises(NotImplementedError, match="interlace=1"):
        _decode_png(interlaced)
    deep = PNG_SIG + chunk(b"IHDR", _struct.pack(">IIBBBBB", 2, 2, 16, 2, 0, 0, 0))
    with pytest.raises(NotImplementedError, match="depth=16"):
        _decode_png(deep)


def test_multimodal_bmp_decode_end_to_end(spark):
    """Real bytes→pixels→features path: a 4×2 BMP whose top half is pure
    red and bottom half pure blue, decoded through mapInPandas."""
    from options_data_pipeline_spark.functions.multimodal import make_bmp

    bmp = make_bmp(4, 2, lambda x, y: (255, 0, 0) if y == 0 else (0, 0, 255))
    media = spark.createDataFrame(
        [(1, "image", bytearray(bmp), ("bmp", 4, 2, None))], MEDIA_SCHEMA
    )
    row = extract_features(media, decoder="image").collect()[0]
    w, h, mean_r, mean_g, mean_b, lum_top, lum_bot, lum = row.feature
    assert (w, h) == (4.0, 2.0)
    assert mean_r == pytest.approx(0.5) and mean_b == pytest.approx(0.5)
    assert mean_g == pytest.approx(0.0)
    # top half all-red, bottom half all-blue → equal luminance thirds
    assert lum_top == pytest.approx(1 / 3) and lum_bot == pytest.approx(1 / 3)
    assert lum == pytest.approx(1 / 3)
    assert row.n_bytes == len(bmp)


def test_multimodal_wav_decode_end_to_end(spark):
    """Real WAV decode: a 100 Hz half-amplitude sine at 8 kHz; RMS ≈
    0.5/√2, peak ≈ 0.5, ZCR ≈ 2×freq/framerate, DC ≈ 0."""
    from options_data_pipeline_spark.functions.multimodal import make_wav

    wav = make_wav(100.0, duration_ms=500, framerate=8000, amplitude=0.5)
    media = spark.createDataFrame(
        [(7, "audio", bytearray(wav), ("wav", None, None, 500))], MEDIA_SCHEMA
    )
    row = extract_features(media, decoder="audio").collect()[0]
    fr, nch, dur, rms, peak, zcr, mean_abs, dc = row.feature
    assert (fr, nch) == (8000.0, 1.0)
    assert dur == pytest.approx(0.5)
    assert rms == pytest.approx(0.5 / 2**0.5, rel=0.01)
    assert peak == pytest.approx(0.5, rel=0.01)
    assert zcr == pytest.approx(2 * 100 / 8000, rel=0.05)
    assert abs(dc) < 0.01


def test_multimodal_mp3_frame_walk_and_features(spark):
    """Real MP3 frame-header parse (closes the round-6 stub): a
    deterministic 3-frame MPEG-1 Layer III fixture (ID3v2-prefixed)
    parses to exactly the built frames — offsets, computed 417-byte
    frame length at 128 kbps/44.1 kHz, per-frame compressed-domain
    energies — and the mapInPandas 'audio' decoder emits the documented
    8-dim MP3 vector alongside WAV rows in one pass."""
    from options_data_pipeline_spark.functions.multimodal import (
        make_mp3,
        make_wav,
        parse_mp3_frames,
    )

    mp3 = make_mp3([10, 40, 20], id3=b"\x00" * 32)
    frames = parse_mp3_frames(mp3)
    assert len(frames) == 3
    assert frames[0]["offset"] == 10 + 32  # ID3v2 header + tag skipped
    assert all(f["length"] == 417 for f in frames)  # 144·128000/44100
    assert all(
        (f["bitrate_kbps"], f["sample_rate"], f["channels"], f["samples"])
        == (128, 44100, 1, 1152)
        for f in frames
    )
    assert [round(f["energy"]) for f in frames] == [10, 40, 20]

    media = spark.createDataFrame(
        [
            (1, "audio", bytearray(mp3), ("mp3", None, None, None)),
            (2, "audio", bytearray(make_wav(100.0, duration_ms=100, framerate=8000)),
             ("wav", None, None, 100)),
        ],
        MEDIA_SCHEMA,
    )
    out = {r.media_id: r.feature for r in
           extract_features(media, decoder="audio").collect()}
    fr, nch, dur, mean_e, max_e, vbr, br, nf = out[1]
    assert (fr, nch, nf, br, vbr) == (44100.0, 1.0, 3.0, 128.0, 0.0)
    assert dur == pytest.approx(3 * 1152 / 44100)
    assert max_e == pytest.approx(40 / 128, rel=0.01)
    assert mean_e == pytest.approx((10 + 40 + 20) / 3 / 128, rel=0.01)
    assert out[2][0] == 8000.0  # WAV rides the same decoder

    # undecodable compressed audio still fails loudly (AAC magic)
    with pytest.raises(Exception):
        parse_and_fail = spark.createDataFrame(
            [(9, "audio", bytearray(b"\x00\x00\x00\x20ftypM4A "), ("m4a", None, None, None))],
            MEDIA_SCHEMA,
        )
        extract_features(parse_and_fail, decoder="audio").collect()


def test_mp3_id3v24_footer_flag_skipped():
    """An ID3v2.4 tag with the footer flag (byte 5 bit 4) carries a
    10-byte footer NOT counted in the syncsafe size: the parser must
    skip it, so the first frame's reported offset is exact (no reliance
    on byte-by-byte resync through the footer)."""
    from options_data_pipeline_spark.functions.multimodal import (
        make_mp3,
        parse_mp3_frames,
    )

    body = make_mp3([15, 25])  # frames only, no tag
    tag = b"\x00" * 24
    size = len(tag)
    header = b"ID3" + bytes([4, 0, 0x10,  # v2.4, footer flag set
                             (size >> 21) & 0x7F, (size >> 14) & 0x7F,
                             (size >> 7) & 0x7F, size & 0x7F])
    footer = b"3DI" + header[3:]  # footer mirrors the header
    frames = parse_mp3_frames(header + tag + footer + body)
    assert len(frames) == 2
    assert frames[0]["offset"] == 10 + size + 10  # header + tag + footer
    assert [round(f["energy"]) for f in frames] == [15, 25]


def test_mp3_id3v23_ignores_footer_bit():
    """The footer flag exists only in ID3v2.4: a v2.3 tag with bit 0x10
    set (undefined there) must NOT trigger the 10-byte skip — doing so
    would land inside the first frame header and swallow it, shifting
    every offset despite byte-resync."""
    from options_data_pipeline_spark.functions.multimodal import (
        make_mp3,
        parse_mp3_frames,
    )

    body = make_mp3([15, 25])  # frames only, no tag
    tag = b"\x00" * 24
    size = len(tag)
    header = b"ID3" + bytes([3, 0, 0x10,  # v2.3 with the undefined bit set
                             (size >> 21) & 0x7F, (size >> 14) & 0x7F,
                             (size >> 7) & 0x7F, size & 0x7F])
    frames = parse_mp3_frames(header + tag + body)
    assert len(frames) == 2  # first frame NOT swallowed
    assert frames[0]["offset"] == 10 + size  # no phantom footer skip
    assert [round(f["energy"]) for f in frames] == [15, 25]


def test_mp3_fingerprint_bands_contract(spark):
    """MP3 fingerprint shares the ahash/audio band contract: identical
    streams → identical bands; a re-tagged copy (different ID3, same
    frames) → identical bands; a different energy profile → different
    bands. 4×16-bit ints, Hamming-bucketable."""
    from options_data_pipeline_spark.functions.multimodal import (
        make_mp3,
        mp3_fingerprint_bands,
    )

    profile = [(i * 7) % 50 + 5 for i in range(128)]  # 128 frames
    a = mp3_fingerprint_bands(make_mp3(profile))
    retagged = mp3_fingerprint_bands(make_mp3(profile, id3=b"tag" * 20))
    other = mp3_fingerprint_bands(make_mp3(list(reversed(profile))))
    assert a == retagged
    assert a != other
    assert len(a) == 4 and all(0 <= b < 65536 for b in a)


def test_multimodal_auto_dispatch_mixed_batch(spark):
    """decoder='auto' routes each row by its kind column — image and audio
    payloads decoded with their own codec in one mapInPandas pass."""
    from options_data_pipeline_spark.functions.multimodal import make_bmp, make_wav

    bmp = make_bmp(2, 2, lambda x, y: (10, 20, 30))
    wav = make_wav(440.0, duration_ms=100)
    media = spark.createDataFrame(
        [
            (1, "image", bytearray(bmp), ("bmp", 2, 2, None)),
            (2, "audio", bytearray(wav), ("wav", None, None, 100)),
            (3, "fake", bytearray(b"\xff"), ("raw", None, None, None)),
        ],
        MEDIA_SCHEMA,
    )
    out = {r.media_id: r.feature for r in extract_features(media, decoder="auto").collect()}
    assert out[1][0] == 2.0  # width from the BMP header
    assert out[2][0] == 8000.0  # framerate from the WAV header
    assert out[3][7] == pytest.approx(1.0)  # fake histogram, 0xff bucket


def test_multimodal_auto_mode_undecodable_rows_yield_null(spark):
    """A mixed corpus with undecodable kinds (video, unknown) must not
    fail the whole mapInPandas job in auto mode: those rows emit a NULL
    feature (integrity stats intact); an explicitly named decoder still
    fails hard."""
    from options_data_pipeline_spark.functions.multimodal import make_bmp

    bmp = make_bmp(2, 2, lambda x, y: (10, 20, 30))
    media = spark.createDataFrame(
        [
            (1, "image", bytearray(bmp), ("bmp", 2, 2, None)),
            (2, "video", bytearray(b"\x00\x01\x02"), ("mp4", 0, 0, 1000)),
            (3, "hologram", bytearray(b"\x05"), ("???", None, None, None)),
        ],
        MEDIA_SCHEMA,
    )
    rows = {r.media_id: r for r in extract_features(media, decoder="auto").collect()}
    assert rows[1].feature is not None and rows[1].feature[0] == 2.0
    assert rows[2].feature is None and rows[2].n_bytes == 3  # stats still emitted
    assert rows[3].feature is None and rows[3].checksum == 5
    with pytest.raises(Exception):  # named decoder keeps the hard failure
        extract_features(media, decoder="video").collect()


def test_multimodal_auto_mode_corrupt_payloads_yield_null(spark):
    """Truncated PNG, BMP and WAV payloads (zlib.error, struct.error,
    ValueError, EOFError inside the stdlib codecs) must not fail the
    auto-mode job: the good row decodes, each bad row emits a NULL
    feature with its integrity stats, and a named decoder still fails."""
    from options_data_pipeline_spark.functions.multimodal import (
        make_bmp,
        make_png,
        make_wav,
    )

    px = lambda x, y: ((x * 37) % 256, (y * 91) % 256, 13)
    good = make_bmp(2, 2, lambda x, y: (10, 20, 30))
    png = make_png(9, 7, px)[:30]
    bmp_short = make_bmp(9, 7, px)[:10]
    bmp_cut = make_bmp(9, 7, px)[:123]
    wav = make_wav(440.0, duration_ms=200)
    media = spark.createDataFrame(
        [
            (1, "image", bytearray(good), ("bmp", 2, 2, None)),
            (2, "image", bytearray(png), ("png", 9, 7, None)),
            (3, "image", bytearray(bmp_short), ("bmp", 9, 7, None)),
            (4, "image", bytearray(bmp_cut), ("bmp", 9, 7, None)),
            (5, "audio", bytearray(wav[:30]), ("wav", None, None, 200)),
            (6, "audio", bytearray(wav[: len(wav) - 5]), ("wav", None, None, 200)),
        ],
        MEDIA_SCHEMA,
    )
    rows = {r.media_id: r for r in extract_features(media, decoder="auto").collect()}
    assert rows[1].feature is not None and rows[1].feature[0] == 2.0
    for mid, payload in [(2, png), (3, bmp_short), (4, bmp_cut), (5, wav[:30])]:
        assert rows[mid].feature is None
        assert rows[mid].n_bytes == len(payload)
        assert rows[mid].checksum == sum(payload) % (1 << 31)
    assert rows[6].feature is None and rows[6].n_bytes == len(wav) - 5
    with pytest.raises(Exception):  # named decoder keeps the hard failure
        extract_features(media.filter("kind = 'image'"), decoder="image").collect()


def test_frame_sampling(spark):
    media = spark.createDataFrame(
        [(1, "video", bytearray(b""), ("mp4", 0, 0, 3500))], MEDIA_SCHEMA
    )
    frames = sample_frames(media, 1000).collect()
    assert [f.offset_ms for f in sorted(frames, key=lambda r: r.frame_idx)] == [0, 1000, 2000]


def test_alert_manager_escalation():
    am = AlertManager(escalate_after=3)
    levels = [am.fire("WARNING", "RECONNECT")["level"] for _ in range(4)]
    assert levels == ["WARNING", "WARNING", "CRITICAL", "CRITICAL"]
    am.resolve("RECONNECT")
    assert am.fire("WARNING", "RECONNECT")["level"] == "WARNING"
    # dual channel: all five + one post-resolve events recorded
    assert len(am.events) == 5


def test_clustered_write_tightens_row_group_stats(spark, tmpdir):
    """The 100 TB clustering lever: sortWithinPartitions(symbol, window)
    before the parquet write must produce row groups whose symbol min/max
    stats are tight (mostly single-symbol), so per-symbol reads skip row
    groups; an unclustered write of the same interleaved data spans the
    symbol range in every row group."""
    import os

    import pyarrow.parquet as pq

    from datetime import datetime, timedelta

    from options_data_pipeline_spark.sources.sink import write_market_data

    base = datetime(2024, 3, 1, 9, 15)
    rows = [
        (f"SYM{i % 8}", base + timedelta(minutes=5 * (i // 8)), 1.0 + i, 1.0, 1.0, 1.0, 3)
        for i in range(16000)  # symbols interleaved — worst case for stats
    ]
    df = spark.createDataFrame(
        rows,
        "symbol string, window_start timestamp, open double, high double,"
        " low double, close double, tick_count long",
    ).coalesce(2)

    def stats(path):
        tight = total = 0
        for root, _d, files in os.walk(path):
            for f in files:
                if not f.endswith(".parquet"):
                    continue
                md = pq.ParquetFile(os.path.join(root, f)).metadata
                ci = next(
                    i for i in range(md.num_columns)
                    if md.row_group(0).column(i).path_in_schema == "symbol"
                )
                for g in range(md.num_row_groups):
                    s = md.row_group(g).column(ci).statistics
                    total += 1
                    if s.min == s.max:
                        tight += 1
        return tight, total

    # small row groups at test scale (writer option, reaches the
    # parquet committer unlike a runtime hadoop conf)
    opts = {"parquet.block.size": "16384", "parquet.page.size": "4096"}
    clustered, plain = tmpdir + "/clustered", tmpdir + "/plain"
    write_market_data(df, clustered, mode="overwrite", cluster=True, **opts)
    write_market_data(df, plain, mode="overwrite", cluster=False, **opts)
    tight_c, total_c = stats(clustered)
    tight_p, total_p = stats(plain)
    assert total_c > 8  # small block size actually split row groups
    assert tight_c / total_c > 0.5  # sorted runs → mostly single-symbol groups
    assert tight_p / total_p < 0.1  # interleaved write spans symbols


def test_compaction_merges_small_files_losslessly(spark, tmpdir):
    """Streaming appends leave tiny files; compaction must collapse them
    to few files with IDENTICAL data (count + content) and leave
    under-threshold partitions untouched."""
    from datetime import datetime, timedelta

    from options_data_pipeline_spark.sources.sink import (
        compact_market_data,
        read_market_data,
        write_market_data,
    )

    path = tmpdir + "/m"
    base = datetime(2024, 5, 1, 9, 15)
    # 6 small appends into May; one lone append into June
    for i in range(6):
        df = spark.createDataFrame(
            [("S%d" % (j % 3), base + timedelta(minutes=5 * (i * 10 + j)), float(j))
             for j in range(10)],
            "symbol string, window_start timestamp, close double",
        )
        write_market_data(df, path)
    june = spark.createDataFrame(
        [("A", datetime(2024, 6, 3, 9, 15), 1.0)],
        "symbol string, window_start timestamp, close double",
    )
    write_market_data(june, path)

    before = read_market_data(spark, path).orderBy("symbol", "window_start", "close").collect()
    stats = compact_market_data(spark, path, target_bytes=1 << 30, min_files=4)
    after = read_market_data(spark, path).orderBy("symbol", "window_start", "close").collect()

    assert list(stats) == ["year=2024/month=5"]  # June (1 file) untouched
    b, a = stats["year=2024/month=5"]
    assert b >= 6 and a == 1  # collapsed to a single target-size file
    assert after == before  # lossless


def test_incremental_rollup_refreshes_only_changed_partitions(spark, tmp_path):
    """refresh_daily_rollup: first refresh rolls every partition; a
    no-change re-run is a no-op; appending late rows to ONE month
    re-rolls only that month (other rollup partitions untouched on
    disk), and the result always equals a full recompute."""
    import os
    from datetime import datetime
    from pyspark.sql import functions as F
    from options_data_pipeline_spark.sources.sink import (
        write_market_data,
        refresh_daily_rollup,
    )

    sink = str(tmp_path / "sink")
    rollup = str(tmp_path / "rollup")
    schema = ("symbol string, window_start timestamp, open double, high double,"
              " low double, close double, tick_count long")
    jan = [("A", datetime(2024, 1, 1 + i % 3, 10, 5 * (i % 10)),
            10.0 + i, 20.0 + i, 5.0 + i, 15.0 + i, 3) for i in range(30)]
    feb = [("A", datetime(2024, 2, 1 + i % 2, 11, 5 * (i % 10)),
            30.0 + i, 40.0 + i, 25.0 + i, 35.0 + i, 2) for i in range(20)]
    write_market_data(spark.createDataFrame(jan + feb, schema), sink)

    changed1 = refresh_daily_rollup(spark, sink, rollup)
    assert changed1 == ["year=2024/month=1", "year=2024/month=2"]
    assert refresh_daily_rollup(spark, sink, rollup) == []  # idempotent

    jan_dir = os.path.join(rollup, "year=2024", "month=1")
    jan_sig_before = sorted(
        (f, os.stat(os.path.join(jan_dir, f)).st_mtime_ns)
        for f in os.listdir(jan_dir) if f.endswith(".parquet")
    )

    late_feb = [("A", datetime(2024, 2, 27, 9, 30), 99.0, 100.0, 98.0, 99.5, 7)]
    write_market_data(spark.createDataFrame(late_feb, schema), sink)
    changed2 = refresh_daily_rollup(spark, sink, rollup)
    assert changed2 == ["year=2024/month=2"]  # only the late month

    jan_sig_after = sorted(
        (f, os.stat(os.path.join(jan_dir, f)).st_mtime_ns)
        for f in os.listdir(jan_dir) if f.endswith(".parquet")
    )
    assert jan_sig_after == jan_sig_before  # untouched partitions keep bytes

    # rollup equals a from-scratch full recompute
    got = spark.read.parquet(rollup).drop("year", "month")
    full = (
        spark.read.parquet(sink)
        .groupBy("symbol", F.to_date("window_start").alias("day"))
        .agg(
            F.min_by("open", F.col("window_start")).alias("open"),
            F.max("high").alias("high"),
            F.min("low").alias("low"),
            F.max_by("close", F.col("window_start")).alias("close"),
            F.sum("tick_count").alias("tick_count"),
        )
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, full.collect()))
    # the late candle actually landed
    feb27 = [r for r in got.collect() if str(r["day"]) == "2024-02-27"]
    assert feb27 and feb27[0]["tick_count"] == 7


def test_multimodal_jpeg_decode_end_to_end(spark):
    """Baseline JPEG (the formerly-largest codec stub) through the real
    mapInPandas path: the same picture as BMP and as JPEG must produce
    feature vectors that agree within JPEG's lossy tolerance, and exact
    structural fields (width/height) must match exactly."""
    from options_data_pipeline_spark.functions.jpeg import make_jpeg
    from options_data_pipeline_spark.functions.multimodal import make_bmp

    px = lambda x, y: (200, 60, 30) if y < 2 else (20, 90, 180)
    jpg = make_jpeg(8, 4, px, quality=95)
    bmp = make_bmp(8, 4, px)
    media = spark.createDataFrame(
        [
            (1, "image", bytearray(jpg), ("jpeg", 8, 4, None)),
            (2, "image", bytearray(bmp), ("bmp", 8, 4, None)),
        ],
        MEDIA_SCHEMA,
    )
    out = {r.media_id: r.feature for r in extract_features(media, decoder="image").collect()}
    assert out[1][0] == 8.0 and out[1][1] == 4.0  # exact dims
    for a, b in zip(out[1], out[2]):
        assert a == pytest.approx(b, abs=0.04)  # lossy tolerance


def test_jpeg_roundtrip_pixels_and_variants():
    """Codec-level invariants without Spark: solid colors round-trip to
    within DC-quantization error; grayscale and non-multiple-of-8 sizes
    work; restart-less baseline decode matches the encoder's pixels on a
    smooth gradient; out-of-scope variants raise NotImplementedError."""
    from options_data_pipeline_spark.functions.jpeg import (
        decode_jpeg_pixels,
        make_jpeg,
    )

    w, h, px = decode_jpeg_pixels(make_jpeg(16, 8, lambda x, y: (200, 100, 50)))
    assert (w, h) == (16, 8)
    for i in range(0, len(px), 3):
        assert abs(px[i] - 200) <= 6 and abs(px[i + 1] - 100) <= 6 and abs(px[i + 2] - 50) <= 6

    # smooth gradient at high quality: small per-channel error everywhere
    grad = lambda x, y: (x * 10, y * 15, (x + y) * 7)
    w, h, px = decode_jpeg_pixels(make_jpeg(24, 16, grad, quality=95))
    worst = max(
        abs(px[(y * 24 + x) * 3 + c] - grad(x, y)[c])
        for y in range(16)
        for x in range(24)
        for c in range(3)
    )
    assert worst <= 20

    # grayscale single-component path
    w, h, px = decode_jpeg_pixels(
        make_jpeg(8, 8, lambda x, y: (x * 30,) * 3, grayscale=True)
    )
    assert (w, h) == (8, 8) and px[0] == px[1] == px[2]

    # edge-replicated non-multiple-of-8 dimensions
    w, h, px = decode_jpeg_pixels(make_jpeg(13, 5, lambda x, y: (10 * x, 40, 200)))
    assert (w, h) == (13, 5) and len(px) == 13 * 5 * 3

    # declared scope bounds fail loudly, not wrongly
    import pytest as _pytest

    with _pytest.raises(NotImplementedError):
        decode_jpeg_pixels(b"\x89PNG\r\n\x1a\n")
    # progressive SOF2 marker in an otherwise plausible stream
    bad = bytearray(make_jpeg(8, 8, lambda x, y: (1, 2, 3)))
    sof = bad.find(b"\xff\xc0")
    bad[sof + 1] = 0xC2
    with _pytest.raises(NotImplementedError):
        decode_jpeg_pixels(bytes(bad))


def test_sink_schema_evolution_merge_read(spark, tmpdir):
    """Schema evolution on the partitioned sink: a later month's append
    carries a NEW column (the real-world 'feed added a field' case).
    mergeSchema reads see the union schema with NULLs for pre-evolution
    rows; plain reads of a single old partition stay narrow (no
    accidental full-schema inference cost)."""
    from options_data_pipeline_spark.sources.sink import write_market_data

    old = spark.createDataFrame(
        [("A", datetime(2024, 1, 15, 9, 15), 1.0)],
        "symbol string, window_start timestamp, close double",
    )
    new = spark.createDataFrame(
        [("A", datetime(2024, 2, 15, 9, 15), 2.0, 42)],
        "symbol string, window_start timestamp, close double, oi long",
    )
    path = tmpdir + "/sink"
    write_market_data(old, path)
    write_market_data(new, path, mode="append")
    merged = spark.read.option("mergeSchema", "true").parquet(path)
    rows = {r.symbol + str(r.month): r for r in merged.collect()}
    assert rows["A1"].oi is None and rows["A2"].oi == 42
    # pruned single-partition read keeps the old narrow schema
    narrow = spark.read.parquet(path + "/year=2024/month=1")
    assert "oi" not in narrow.columns


def test_ahash_stable_across_codecs_and_perturbation():
    """aHash invariants without Spark: the same picture as BMP and as
    high-quality JPEG hashes to (near-)identical bits; inverting one
    grid cell moves exactly one bit; different patterns are far."""
    from options_data_pipeline_spark.functions.jpeg import make_jpeg
    from options_data_pipeline_spark.functions.multimodal import ahash_bands, make_bmp

    def px(x, y):
        return (255, 255, 255) if (x + y) % 3 == 0 else (0, 0, 0)

    bmp = ahash_bands(make_bmp(16, 16, px))
    jpg = ahash_bands(make_jpeg(16, 16, px, quality=95))
    ham_codec = sum(bin(a ^ b).count("1") for a, b in zip(bmp, jpg))
    assert ham_codec <= 3  # lossy codec may wobble threshold-adjacent cells

    def px_flip(x, y):
        if (x // 2, y // 2) == (3, 3):  # invert one 2x2 grid cell
            r = px(x, y)
            return (255 - r[0],) * 3
        return px(x, y)

    flipped = ahash_bands(make_bmp(16, 16, px_flip))
    assert sum(bin(a ^ b).count("1") for a, b in zip(bmp, flipped)) <= 2

    other = ahash_bands(make_bmp(16, 16, lambda x, y: ((x * 37) % 256,) * 3))
    assert sum(bin(a ^ b).count("1") for a, b in zip(bmp, other)) > 10
