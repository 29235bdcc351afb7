"""Streaming twin tests: watermarked OHLC append stream, stateful ATR,
idempotent foreachBatch sink (reference §2.8 semantics)."""

from __future__ import annotations

import os
import shutil
import tempfile
from datetime import datetime, timedelta

import pytest

from pyspark.sql import functions as F

from options_data_pipeline_spark.operators.ohlc import ohlc_candles
from options_data_pipeline_spark.operators.truerange import with_true_range
from options_data_pipeline_spark.operators.atr import with_wilder_atr
from options_data_pipeline_spark.operators.ids import with_row_id
from options_data_pipeline_spark.streaming.ohlc_stream import streaming_ohlc
from options_data_pipeline_spark.streaming.fold_state import atr_stage
from options_data_pipeline_spark.streaming.sink import idempotent_append_batch

TICK_SCHEMA = "symbol string, price double, ts timestamp, event_id long"
CANDLE_SCHEMA = (
    "symbol string, window_start timestamp, open double, high double,"
    " low double, close double, tick_count long"
)


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="odp_stream_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def run_stream(spark, src_df, src_dir, build, schema):
    """Write fixture parquet, readStream it, run `build`, drain to memory."""
    src_df.write.mode("overwrite").parquet(src_dir)
    stream = spark.readStream.schema(schema).parquet(src_dir)
    out = build(stream)
    name = f"t{abs(hash(src_dir)) % 10**8}"
    q = out.writeStream.format("memory").queryName(name).outputMode("append").start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.sql(f"SELECT * FROM {name}")


def test_streaming_ohlc_matches_batch_for_closed_windows(spark, tmpdir):
    base = datetime(2024, 1, 1, 9, 15)
    rows = []
    eid = 0
    for w in range(4):  # 4 windows of ticks
        for s, off in [("A", 10), ("A", 200), ("B", 40)]:
            rows.append(("%s" % s, 100.0 + w + off / 100.0, base + timedelta(minutes=5 * w, seconds=off), eid))
            eid += 1
    src = spark.createDataFrame(rows, TICK_SCHEMA)

    got = run_stream(
        spark, src, tmpdir, lambda s: streaming_ohlc(s, "5 minutes"), TICK_SCHEMA
    ).collect()
    # append mode emits only windows closed by the watermark (= max ts - 500ms):
    # the last window stays open — the reference's still-COLLECTING window.
    batch = ohlc_candles(src, "5 minutes").filter(
        F.col("window_start") < base + timedelta(minutes=15)
    ).collect()
    key = lambda r: (r.symbol, r.window_start)  # noqa: E731
    assert sorted(map(key, got)) == sorted(map(key, batch))
    got_map = {key(r): r for r in got}
    for b in batch:
        g = got_map[key(b)]
        assert (g.open, g.high, g.low, g.close, g.tick_count) == (
            b.open, b.high, b.low, b.close, b.tick_count,
        )


def _atr_stream(spark, src, sink, ckpt, max_files=None):
    """Drain the live ATR stage over the candle files in ``src`` into the
    idempotent sink ``sink``; returns the sink rows by window."""
    reader = spark.readStream.schema(CANDLE_SCHEMA)
    if max_files is not None:
        reader = reader.option("maxFilesPerTrigger", max_files)
    q = (
        reader.parquet(src)
        .writeStream.foreachBatch(
            atr_stage(ckpt, lambda b, _: idempotent_append_batch(b, sink))
        )
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return {(r.symbol, r.window_start): r for r in spark.read.parquet(sink).collect()}


def _batch_atr(frame):
    return {
        (r.symbol, r.window_start): r
        for r in with_wilder_atr(with_true_range(frame).drop("prev_close")).collect()
    }


def test_streaming_atr_matches_batch(spark, tmpdir):
    """The live stage over two triggers (the seed is crossed mid-warmup)
    gives bit-equal tr/atr to the batch operators."""
    base = datetime(2024, 1, 1, 9, 15)
    rows = [
        (s, base + timedelta(minutes=5 * i), 10.0 + i, 12.0 + i * k, 9.0 + i, 11.0 + i / k, 3)
        for s, k in (("A", 1.0), ("B", 1.5))
        for i in range(16)
    ]
    src = tmpdir + "/src"
    for part in (rows[:9] + rows[16:20], rows[9:16] + rows[20:]):
        spark.createDataFrame(part, CANDLE_SCHEMA).coalesce(1).write.mode("append").parquet(src)
    got = _atr_stream(spark, src, tmpdir + "/sink", tmpdir + "/ckpt", max_files=1)
    want = _batch_atr(spark.createDataFrame(rows, CANDLE_SCHEMA))
    assert len(got) == 32
    assert {k: (g.tr, g.atr) for k, g in got.items()} == {k: (w.tr, w.atr) for k, w in want.items()}


def test_streaming_dedup_within_watermark(spark, tmpdir):
    """Duplicate event_ids inside the watermark horizon are dropped; the
    survivor is exactly one row per key."""
    from options_data_pipeline_spark.streaming.ohlc_stream import streaming_dedup

    base = datetime(2024, 1, 1, 9, 15)
    rows = [
        ("A", 100.0, base, 1),
        ("A", 100.0, base + timedelta(seconds=30), 1),   # re-send, same key
        ("A", 101.0, base + timedelta(seconds=60), 2),
        ("B", 50.0, base + timedelta(seconds=90), 3),
        ("B", 50.0, base + timedelta(seconds=95), 3),    # re-send
    ]
    src = spark.createDataFrame(rows, TICK_SCHEMA)
    got = run_stream(
        spark, src, tmpdir, lambda s: streaming_dedup(s, ["event_id"]), TICK_SCHEMA
    ).collect()
    assert sorted(r.event_id for r in got) == [1, 2, 3]


def test_streaming_atr_state_survives_restart(spark, tmpdir):
    """Warmup spans a query STOP/RESTART: the ATR state (i, acc, prev, pc)
    the first query published under its checkpoint seeds the fresh
    query instance (reference CheckpointManager semantics, §2.8)."""
    base = datetime(2024, 1, 1, 9, 15)
    src, sink, ckpt = tmpdir + "/src", tmpdir + "/sink", tmpdir + "/ckpt"

    def mk(i):
        return ("A", base + timedelta(minutes=5 * i), 10.0 + i, 12.0 + i, 9.0 + i, 11.0 + i, 1)

    spark.createDataFrame([mk(i) for i in range(10)], CANDLE_SCHEMA).write.parquet(src)
    _atr_stream(spark, src, sink, ckpt)
    spark.createDataFrame([mk(i) for i in range(10, 16)], CANDLE_SCHEMA).write.mode(
        "append"
    ).parquet(src)
    got = _atr_stream(spark, src, sink, ckpt)

    want = _batch_atr(spark.createDataFrame([mk(i) for i in range(16)], CANDLE_SCHEMA))
    assert len(got) == 16
    # the seed at 14 spans the restart
    assert {k: (g.tr, g.atr) for k, g in got.items()} == {k: (w.tr, w.atr) for k, w in want.items()}


def test_late_tick_dropped_by_watermark(spark, tmpdir):
    """W3 parity: a tick arriving after the watermark passed its window is
    DROPPED (reference tick_buffer.py:119-121 'late tick' counter). Batch 1
    advances the watermark past window 1; batch 2 delivers a late tick for
    window 1 — its candle must not change."""
    base = datetime(2024, 1, 1, 9, 15)
    b1 = spark.createDataFrame(
        [
            ("A", 10.0, base, 1),
            ("A", 11.0, base + timedelta(minutes=7), 2),   # window 2
            ("A", 12.0, base + timedelta(minutes=12), 3),  # window 3 → watermark
        ],
        TICK_SCHEMA,
    )
    late = spark.createDataFrame(
        [("A", 99.0, base + timedelta(seconds=30), 4)],  # late for window 1
        TICK_SCHEMA,
    )
    b1.write.mode("overwrite").parquet(tmpdir)
    stream = spark.readStream.schema(TICK_SCHEMA).parquet(tmpdir)
    q = (
        streaming_ohlc(stream, "5 minutes")
        .writeStream.format("memory")
        .queryName("late_t")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        late.write.mode("append").parquet(tmpdir)
        q.processAllAvailable()
        q.processAllAvailable()
    finally:
        q.stop()
    out = {r.window_start: r for r in spark.sql("SELECT * FROM late_t").collect()}
    w1 = out[base]
    # window 1 closed with only the on-time tick; the 99.0 never entered
    assert (w1.high, w1.tick_count) == (10.0, 1)


def test_idempotent_sink_replay_writes_nothing(spark, tmpdir):
    sink = tmpdir + "/sink"
    base = datetime(2024, 1, 1, 9, 15)
    batch = with_row_id(
        spark.createDataFrame(
            [("A", base, 1.0, 2.0, 0.5, 1.5, 3), ("B", base, 5.0, 6.0, 4.0, 5.5, 2)],
            CANDLE_SCHEMA,
        )
    )
    assert idempotent_append_batch(batch, sink) == 2
    assert idempotent_append_batch(batch, sink) == 0  # exact replay → no-op
    later = with_row_id(
        spark.createDataFrame(
            [("A", base, 1.0, 2.0, 0.5, 1.5, 3), ("A", base + timedelta(minutes=5), 2.0, 3.0, 1.0, 2.5, 1)],
            CANDLE_SCHEMA,
        )
    )
    assert idempotent_append_batch(later, sink) == 1  # only the new window
    assert spark.read.parquet(sink).count() == 3


def test_idempotent_sink_empty_batch_skips_sink_read(spark, tmpdir, monkeypatch):
    """An empty batch returns 0 without reading the sink; a non-empty
    batch whose prune values are all NULL reads the sink once (pruned to
    its NULL rows, see test_sink_all_null_batch_reads_only_null_rows)
    and finds its own row on replay."""
    from pyspark.sql import DataFrameReader

    sink = tmpdir + "/sink"
    base = datetime(2024, 1, 1, 9, 15)
    batch = with_row_id(
        spark.createDataFrame([("A", base, 1.0, 2.0, 0.5, 1.5, 3)], CANDLE_SCHEMA)
    )
    assert idempotent_append_batch(batch, sink) == 1
    real_parquet, reads = DataFrameReader.parquet, []

    def counting_parquet(self, *paths, **kw):
        reads.append(paths)
        return real_parquet(self, *paths, **kw)

    monkeypatch.setattr(DataFrameReader, "parquet", counting_parquet)
    assert idempotent_append_batch(batch.filter(F.lit(False)), sink) == 0
    assert reads == []
    null_bounds = batch.withColumn("window_start", F.lit(None).cast("timestamp"))
    null_bounds = null_bounds.withColumn("id", F.lit("A_null"))
    assert idempotent_append_batch(null_bounds, sink) == 1
    assert idempotent_append_batch(null_bounds, sink) == 0  # id already there
    assert len(reads) == 2


def _anti_join_reads(spark, monkeypatch) -> list[int]:
    """Row counts of the sink reads each anti-join dedups against."""
    DataFrame = type(spark.range(1))  # the session's concrete class
    real_join, seen = DataFrame.join, []

    def join(self, other, on=None, how=None):
        if how == "left_anti":
            seen.append(other.count())
        return real_join(self, other, on, how)

    monkeypatch.setattr(DataFrame, "join", join)
    return seen


def _sink_pair(name):
    from options_data_pipeline_spark.streaming.sink import (
        manifest_append_batch, manifest_sink_read,
    )

    if name == "rename":
        return idempotent_append_batch, lambda spark, p: spark.read.parquet(p)
    return manifest_append_batch, manifest_sink_read


_NULL_KEY_SCHEMA = "id string, window_start timestamp"


@pytest.mark.parametrize("sink_kind", ["rename", "manifest"])
def test_sink_replay_keeps_null_prune_rows(spark, tmpdir, sink_kind):
    """A batch mixing a real and a NULL prune value replays to nothing:
    the dedup read keeps the sink's NULL rows next to the range."""
    append, read = _sink_pair(sink_kind)
    sink = str(tmpdir) + "/sink"
    batch = spark.createDataFrame(
        [("a", datetime(2026, 1, 1, 9, 15)), ("b", None)], _NULL_KEY_SCHEMA
    )
    assert [append(batch, sink) for _ in range(3)] == [2, 0, 0]
    assert sorted(r.id for r in read(spark, sink).collect()) == ["a", "b"]


@pytest.mark.parametrize("sink_kind", ["rename", "manifest"])
def test_sink_all_null_batch_reads_only_null_rows(spark, tmpdir, monkeypatch, sink_kind):
    """A batch whose prune values are all NULL dedups against the sink's
    NULL rows only, not the whole sink, and still replays to nothing."""
    append, read = _sink_pair(sink_kind)
    sink = str(tmpdir) + "/sink"
    ts = datetime(2026, 1, 1, 9, 15)
    seed = [("a", ts), ("a2", ts + timedelta(minutes=5)), ("b", None)]
    assert append(spark.createDataFrame(seed, _NULL_KEY_SCHEMA), sink) == 3
    seen = _anti_join_reads(spark, monkeypatch)
    nulls = spark.createDataFrame([("b", None), ("c", None)], _NULL_KEY_SCHEMA)
    assert append(nulls, sink) == 1
    assert append(nulls, sink) == 0
    assert seen == [1, 2]  # the sink's NULL rows: b, then b and c
    assert sorted(r.id for r in read(spark, sink).collect()) == ["a", "a2", "b", "c"]


def test_sink_failed_append_releases_delta_cache(spark, tmpdir, monkeypatch):
    """A write that raises leaves the delta unpersisted."""
    from options_data_pipeline_spark.streaming import sink as sink_mod

    def boom(staging, sink_path):
        raise RuntimeError("crash before promotion")

    monkeypatch.setattr(sink_mod, "_promote_staged", boom)
    batch = spark.createDataFrame([("a", 1.0)], "id string, v double").withColumn(
        "window_start", F.lit("2024-01-01 09:15:00").cast("timestamp")
    )
    spark.catalog.clearCache()
    with pytest.raises(RuntimeError):
        idempotent_append_batch(batch, tmpdir + "/sink")
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_manifest_sink_failed_append_releases_delta_cache(spark, tmpdir, monkeypatch):
    """A manifest append whose commit raises leaves no cache behind."""
    from options_data_pipeline_spark.streaming import sink as sink_mod

    def boom(sink_path, segment, n_rows, lo, hi, **kw):
        raise RuntimeError("crash before manifest publish")

    monkeypatch.setattr(sink_mod, "_publish_manifest", boom)
    batch = spark.createDataFrame([("a", 1.0)], "id string, v double").withColumn(
        "window_start", F.lit("2024-01-01 09:15:00").cast("timestamp")
    )
    spark.catalog.clearCache()
    with pytest.raises(RuntimeError):
        sink_mod.manifest_append_batch(batch, tmpdir + "/msink")
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_manifest_sink_keeps_caller_cache_on_empty_sink(spark, tmpdir):
    """Into an empty sink the delta is the batch itself: a batch the
    caller cached is still cached after the append."""
    from options_data_pipeline_spark.streaming.sink import manifest_append_batch

    batch = spark.createDataFrame([("a", 1.0)], "id string, v double").withColumn(
        "window_start", F.lit("2024-01-01 09:15:00").cast("timestamp")
    ).cache()
    try:
        assert manifest_append_batch(batch, tmpdir + "/msink") == 1
        assert batch.is_cached
    finally:
        batch.unpersist()


def test_sink_crash_before_promotion_leaves_sink_clean(spark, tmpdir, monkeypatch):
    """A crash after the staging write but before any rename must leave
    ZERO visible files in the sink — the replay then writes everything."""
    import os

    from options_data_pipeline_spark.streaming import sink as sink_mod

    sink = tmpdir + "/sink"
    batch = spark.createDataFrame(
        [("a", 1.0), ("b", 2.0)], "id string, v double"
    ).withColumn("window_start", F.lit("2024-01-01 09:15:00").cast("timestamp"))

    def boom(staging, sink_path):
        raise RuntimeError("crash before promotion")

    monkeypatch.setattr(sink_mod, "_promote_staged", boom)
    with pytest.raises(RuntimeError):
        idempotent_append_batch(batch, sink)
    assert not sink_mod.sink_has_data(sink)  # no partial files visible
    assert not [d for d in os.listdir(tmpdir) if ".staging-" in d]  # cleaned

    monkeypatch.undo()
    assert idempotent_append_batch(batch, sink) == 2  # replay writes all
    assert spark.read.parquet(sink).count() == 2


def test_sink_crash_mid_promotion_replay_has_no_duplicates(spark, tmpdir, monkeypatch):
    """A crash after SOME part-files promoted: replayed batch anti-joins
    away the promoted ids and re-emits only the lost ones — total rows
    exactly once."""
    from options_data_pipeline_spark.streaming import sink as sink_mod

    sink = tmpdir + "/sink"
    batch = (
        spark.createDataFrame(
            [(f"id{i}", float(i)) for i in range(12)], "id string, v double"
        )
        .withColumn("window_start", F.lit("2024-01-01 09:15:00").cast("timestamp"))
        .repartition(4)  # several part-files so a partial promotion exists
    )

    real_promote = sink_mod._promote_staged

    def partial_promote(staging, sink_path):
        import os

        moved = 0
        tag = os.path.basename(staging).rsplit("-", 1)[-1]
        for root, _dirs, files in os.walk(staging):
            for f in files:
                if f.endswith(".parquet") and moved < 2:
                    os.makedirs(sink_path, exist_ok=True)
                    os.rename(
                        os.path.join(root, f),
                        os.path.join(sink_path, f"{tag}-{f}"),
                    )
                    moved += 1
        raise RuntimeError("crash mid-promotion")

    monkeypatch.setattr(sink_mod, "_promote_staged", partial_promote)
    with pytest.raises(RuntimeError):
        idempotent_append_batch(batch, sink)
    survivors = spark.read.parquet(sink).count()
    assert 0 < survivors < 12

    monkeypatch.setattr(sink_mod, "_promote_staged", real_promote)
    rewritten = idempotent_append_batch(batch, sink)
    assert rewritten == 12 - survivors
    out = spark.read.parquet(sink)
    assert out.count() == 12
    assert out.select("id").distinct().count() == 12


def test_manifest_sink_replay_and_delta(spark, tmpdir):
    """Manifest-commit sink: replays write nothing, partial overlaps write
    only the delta, and readers see exactly the committed rows."""
    from options_data_pipeline_spark.streaming.sink import (
        manifest_append_batch,
        manifest_sink_read,
    )

    sink = tmpdir + "/msink"
    batch = spark.createDataFrame(
        [("a", 1.0), ("b", 2.0)], "id string, v double"
    ).withColumn("window_start", F.lit("2024-01-01 09:15:00").cast("timestamp"))
    assert manifest_append_batch(batch, sink) == 2
    assert manifest_append_batch(batch, sink) == 0  # exact replay → no-op
    later = spark.createDataFrame(
        [("b", 2.0), ("c", 3.0)], "id string, v double"
    ).withColumn("window_start", F.lit("2024-01-01 09:15:00").cast("timestamp"))
    assert manifest_append_batch(later, sink) == 1  # only the new id
    out = manifest_sink_read(spark, sink)
    assert out.count() == 3
    assert out.select("id").distinct().count() == 3


def test_manifest_sink_crash_between_write_and_commit(spark, tmpdir, monkeypatch):
    """THE object-store crash case: segment fully written, manifest never
    published. The segment must be invisible to readers, and the replay
    must emit exactly the lost rows once."""
    import os

    from options_data_pipeline_spark.streaming import sink as sink_mod

    sink = tmpdir + "/msink"
    batch = spark.createDataFrame(
        [("a", 1.0), ("b", 2.0), ("c", 3.0)], "id string, v double"
    ).withColumn("window_start", F.lit("2024-01-01 09:15:00").cast("timestamp"))

    def boom(sink_path, segment, n_rows, lo, hi, **kw):
        raise RuntimeError("crash before manifest publish")

    monkeypatch.setattr(sink_mod, "_publish_manifest", boom)
    with pytest.raises(RuntimeError):
        sink_mod.manifest_append_batch(batch, sink)
    # data dir exists (the orphan) but nothing is committed → reader sees none
    assert os.path.isdir(os.path.join(sink, "segments"))
    with pytest.raises(FileNotFoundError):
        sink_mod.manifest_sink_read(spark, sink)

    monkeypatch.undo()
    # replay: anti-join sees no committed ids → re-emits all 3, exactly once
    assert sink_mod.manifest_append_batch(batch, sink) == 3
    out = sink_mod.manifest_sink_read(spark, sink)
    assert out.count() == 3
    assert out.select("id").distinct().count() == 3
    # the orphan is GC-able debris, never part of the visible set — but
    # only once the no-active-writer contract holds (grace_s=0 asserts it);
    # at the default grace the young segment is deliberately left alone
    assert sink_mod.gc_uncommitted_segments(sink) == []
    removed = sink_mod.gc_uncommitted_segments(sink, grace_s=0)
    assert len(removed) == 1
    assert sink_mod.manifest_sink_read(spark, sink).count() == 3


def test_manifest_segment_skipping_by_bounds(spark, tmpdir):
    """Delta-style data skipping: the dedup read for a new batch must list
    only segments whose [lo, hi] range overlaps the batch — disjoint
    history is never opened."""
    from options_data_pipeline_spark.streaming import sink as sink_mod

    sink = tmpdir + "/msink"

    def mk(ids, ts):
        return spark.createDataFrame(
            [(i, 1.0) for i in ids], "id string, v double"
        ).withColumn("window_start", F.lit(ts).cast("timestamp"))

    assert sink_mod.manifest_append_batch(mk(["a", "b"], "2024-01-01 09:15:00"), sink) == 2
    assert sink_mod.manifest_append_batch(mk(["c", "d"], "2024-02-01 09:15:00"), sink) == 2

    jan = sink_mod._committed_segments(
        sink, "2024-01-01 09:00:00", "2024-01-01 10:00:00",
        prune_col="window_start",
    )
    both = sink_mod._committed_segments(sink)
    assert len(both) == 2 and len(jan) == 1
    # and correctness through the skip path: a replay overlapping only Jan
    assert sink_mod.manifest_append_batch(mk(["a"], "2024-01-01 09:15:00"), sink) == 0


def test_manifest_numeric_bounds_prune_correctly(spark, tmpdir):
    """ADVICE r3: with a numeric prune column the bounds must compare as
    numbers — lexicographically '900' > '1000', so string-encoded bounds
    would judge an overlapping segment disjoint, skip it out of the dedup
    anti-join, and let replayed rows re-append (breaking exactly-once)."""
    from options_data_pipeline_spark.streaming import sink as sink_mod

    sink = tmpdir + "/nsink"

    def mk(ids, seq):
        return spark.createDataFrame(
            [(i, seq) for i in ids], "id string, seq long"
        )

    # seq 900..999 then a replay at seq 950: '900' > '1000' would be the
    # lexicographic trap if any segment spanned into 4 digits
    assert sink_mod.manifest_append_batch(mk(["a", "b"], 900), sink, prune_col="seq") == 2
    assert sink_mod.manifest_append_batch(mk(["c"], 1000), sink, prune_col="seq") == 1
    # replay of id 'a' at its original seq: the [900, 900] segment MUST be
    # consulted (numeric overlap), so the append dedups to 0
    assert sink_mod.manifest_append_batch(mk(["a"], 900), sink, prune_col="seq") == 0
    # and a manifest bound stored as a JSON number round-trips as a number
    segs = sink_mod._committed_segments(sink, 899, 901, prune_col="seq")
    assert len(segs) == 1  # only the seq-900 segment overlaps [899, 901]


def test_manifest_raises_on_deleted_committed_segment(spark, tmpdir):
    """A committed manifest whose segment dir is gone is corruption (GC
    racing an active writer) — the read path must fail loudly, not
    silently shrink the sink."""
    import shutil as sh

    from options_data_pipeline_spark.streaming import sink as sink_mod

    sink = tmpdir + "/csink"
    batch = spark.createDataFrame([("a", 1.0)], "id string, v double").withColumn(
        "window_start", F.lit("2024-01-01 09:15:00").cast("timestamp")
    )
    assert sink_mod.manifest_append_batch(batch, sink) == 1
    seg = sink_mod._committed_segments(sink)[0]
    sh.rmtree(seg)
    with pytest.raises(FileNotFoundError, match="committed data was deleted"):
        sink_mod._committed_segments(sink)


def test_streaming_sliding_ohlc_matches_batch(spark, tmpdir):
    """Hopping windows run in Structured Streaming too: closed 10m/5m
    windows from the stream match the batch sliding_ohlc exactly."""
    from options_data_pipeline_spark.operators.ohlc import sliding_ohlc

    base = datetime(2024, 1, 1, 9, 15)
    rows = []
    eid = 0
    for w in range(5):
        for s, off in [("A", 10), ("A", 200), ("B", 40)]:
            rows.append((s, 100.0 + w + off / 100.0, base + timedelta(minutes=5 * w, seconds=off), eid))
            eid += 1
    src = spark.createDataFrame(rows, TICK_SCHEMA)

    def build(stream):
        t = stream.withWatermark("ts", "500 milliseconds")
        return sliding_ohlc(t, "10 minutes", "5 minutes")

    got = run_stream(spark, src, tmpdir, build, TICK_SCHEMA).collect()
    # windows whose END precedes the final watermark (max ts - 500ms) close
    cutoff = base + timedelta(minutes=20, seconds=40) - timedelta(milliseconds=500)
    batch = [
        r
        for r in sliding_ohlc(src, "10 minutes", "5 minutes").collect()
        if r.window_end <= cutoff
    ]
    key = lambda r: (r.symbol, r.window_start)  # noqa: E731
    assert len(got) > 0
    assert sorted(map(key, got)) == sorted(map(key, batch))
    got_map = {key(r): r for r in got}
    for b in batch:
        g = got_map[key(b)]
        assert (g.open, g.high, g.low, g.close, g.tick_count) == (
            b.open, b.high, b.low, b.close, b.tick_count,
        )


def test_full_pipeline_kill_restart_exactly_once(spark, tmpdir):
    """CHAOS: stop ALL three chained stages mid-replay and restart them
    against the same checkpoints — the final sink must hold exactly the
    rows a never-interrupted run produces (checkpoint recovery + the
    idempotent sink absorb replayed micro-batches)."""
    import os
    import time as _time

    from options_data_pipeline_spark.pipeline import run_streaming

    base = datetime(2024, 1, 1, 9, 15)
    replay = tmpdir + "/replay"
    os.makedirs(replay)
    # 6 slices × 3 symbols × 20 windows each, event-time ordered files
    eid = 0
    for i in range(6):
        rows = []
        for w in range(20):
            for s in ("A", "B", "C"):
                rows.append(
                    (s, 100.0 + eid, base + timedelta(minutes=5 * (i * 20 + w)), eid, 1)
                )
                eid += 1
        p = replay + f"/{i:03d}.parquet"
        spark.createDataFrame(
            rows, "symbol string, price double, ts timestamp, event_id long, user_id long"
        ).coalesce(1).write.mode("overwrite").parquet(p + ".tmp")
        part = next(f for f in os.listdir(p + ".tmp") if f.endswith(".parquet"))
        os.rename(os.path.join(p + ".tmp", part), p)
        os.utime(p, (_time.time() + i, _time.time() + i))

    def start():
        stream = (
            spark.readStream.schema(
                "symbol string, price double, ts timestamp, event_id long, user_id long"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(replay)
        )
        return run_streaming(
            stream,
            candle_path=tmpdir + "/candles",
            sink_path=tmpdir + "/sink",
            checkpoint_path=tmpdir + "/ckpt",
            dense_path=tmpdir + "/dense",
            watermark="1 second",
        )

    queries = start()
    # let roughly half the replay through, then kill every stage
    deadline = _time.time() + 60
    while _time.time() < deadline:
        progs = [p for q in queries for p in q.recentProgress]
        if sum(p["numInputRows"] for p in progs) > 100:
            break
        _time.sleep(0.5)
    for q in queries:
        q.stop()

    queries = start()  # fresh query instances, same checkpoints
    try:
        for q in queries:
            q.processAllAvailable()
    finally:
        for q in queries:
            q.stop()

    sink = spark.read.parquet(tmpdir + "/sink")
    n = sink.count()
    # exactly-once: every id exactly once, and full window coverage for
    # all closed windows (120 windows minus the final open one, ×3 syms)
    assert sink.select("id").distinct().count() == n
    per_sym = {r.symbol: r.n for r in sink.groupBy("symbol").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert set(per_sym) == {"A", "B", "C"}
    assert len(set(per_sym.values())) == 1  # symmetric coverage
    assert n >= 3 * 100  # at least all but the tail windows arrived


def test_stream_stream_interval_join_matches_batch(spark, tmpdir):
    """tick_followups: the watermarked stream-stream self-join must emit
    exactly the batch join's pairs for data whose windows the watermark
    has fully passed (append-mode completeness), with bounded state."""
    from options_data_pipeline_spark.streaming.ohlc_stream import tick_followups

    base = datetime(2024, 1, 1, 10, 0, 0)
    rows = []
    eid = 0
    for sym in ("A", "B"):
        for sec in (0, 3, 8, 20, 24, 60):
            rows.append((sym, 100.0 + eid, base + timedelta(seconds=sec), eid))
            eid += 1
    # a far-future flush tick per symbol pushes the watermark past
    # every real pair's eviction point so append emits them all
    for sym in ("A", "B"):
        rows.append((sym, 0.0, base + timedelta(hours=1), eid))
        eid += 1
    ticks = spark.createDataFrame(rows, TICK_SCHEMA)

    got = run_stream(
        spark, ticks, tmpdir, lambda s: tick_followups(s), TICK_SCHEMA
    ).collect()
    expected = tick_followups(ticks).collect()

    key = lambda r: (r["symbol"], r["id_a"], r["id_b"])
    assert sorted(map(key, got)) == sorted(map(key, expected))
    # sanity on the batch semantics themselves: 0→3s and 0→8s pair, 8→20s
    # does not (12 s > horizon), 20→24s does
    pairs_a = {(r["id_a"], r["id_b"]) for r in expected if r["symbol"] == "A"}
    assert (0, 1) in pairs_a and (0, 2) in pairs_a and (1, 2) in pairs_a
    assert (3, 4) in pairs_a
    assert all(b != 3 for (a, b) in pairs_a if a == 2)  # 8s->20s gap excluded
    # no cross-symbol pairs
    assert all(r["symbol"] in ("A", "B") for r in expected)


def test_streaming_vwap_matches_batch(spark, tmpdir):
    """streaming_vwap emits, for every closed window, exactly the batch
    vwap aggregate (decimal-exact sums, NULL on zero-volume windows)."""
    from options_data_pipeline_spark.streaming.ohlc_stream import streaming_vwap

    base = datetime(2024, 1, 1, 10, 0, 0)
    schema = "symbol string, price double, ts timestamp, event_id long, qty long"
    rows = [
        ("A", 10.0, base, 1, 2),
        ("A", 20.0, base + timedelta(minutes=1), 2, 6),
        ("A", 30.0, base + timedelta(minutes=6), 3, 0),   # zero-qty window
        ("B", 50.0, base + timedelta(minutes=2), 4, 4),
        ("A", 40.0, base + timedelta(hours=1), 5, 1),     # watermark flush
        ("B", 60.0, base + timedelta(hours=1), 6, 1),
    ]
    ticks = spark.createDataFrame(rows, schema)
    got = {
        (r["symbol"], r["window_start"]): r
        for r in run_stream(spark, ticks, tmpdir, streaming_vwap, schema).collect()
    }
    # batch twin over the same frame, closed windows only
    k = ("A", base)
    assert got[k]["vwap"] == (10.0 * 2 + 20.0 * 6) / 8 and got[k]["total_qty"] == 8
    zq = ("A", base + timedelta(minutes=5))
    assert got[zq]["vwap"] is None and got[zq]["total_qty"] == 0
    kb = ("B", base)
    assert got[kb]["vwap"] == 50.0


def test_stream_stream_join_state_is_watermark_bounded(spark, tmpdir):
    """The interval self-join's dual buffers must EVICT once the watermark
    passes ts + horizon — state after draining a long stream stays
    bounded by the tail inside the horizon, not the stream length."""
    from options_data_pipeline_spark.streaming.ohlc_stream import tick_followups

    base = datetime(2024, 1, 1, 10, 0, 0)
    # 600 ticks spread 1/minute: horizon=10s + watermark=5s keeps only
    # the last ~15s of event time live once the watermark reaches the end
    rows = [
        ("A", float(i), base + timedelta(minutes=i), i) for i in range(600)
    ]
    ticks = spark.createDataFrame(rows, TICK_SCHEMA)
    ticks.write.mode("overwrite").parquet(tmpdir)
    stream = spark.readStream.schema(TICK_SCHEMA).parquet(tmpdir)
    q = (
        tick_followups(stream)
        .writeStream.format("memory")
        .queryName("ssj_state")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        progress = q.lastProgress
        state = progress["stateOperators"][0]
        # 600 rows entered each side; bounded eviction means the retained
        # state is a small multiple of the in-horizon tail, NOT ~1200
        assert state["numRowsTotal"] < 100, state["numRowsTotal"]
    finally:
        q.stop()


def test_manifest_time_travel_reads_historical_snapshots(spark, tmp_path):
    """Delta-style time travel on the manifest sink: each commit gets a
    monotone version; reading at version v sees exactly commits 0..v.
    Append-only segments + immutable manifests make the snapshot a
    smaller segment list, nothing else."""
    from options_data_pipeline_spark.streaming.sink import (
        manifest_append_batch,
        manifest_sink_read,
        manifest_versions,
    )

    sink = str(tmp_path / "sink")

    def batch(ids):
        return spark.createDataFrame(
            [(i, float(i)) for i in ids], "id long, v double"
        )

    assert manifest_append_batch(batch([1, 2]), sink, prune_col="id") == 2
    assert manifest_append_batch(batch([3]), sink, prune_col="id") == 1
    assert manifest_append_batch(batch([4, 5]), sink, prune_col="id") == 2

    hist = manifest_versions(sink)
    assert [m["version"] for m in hist] == [0, 1, 2]
    assert [m["rows"] for m in hist] == [2, 1, 2]

    def ids_at(v):
        return {
            r.id for r in manifest_sink_read(spark, sink, at_version=v).collect()
        }

    assert ids_at(0) == {1, 2}
    assert ids_at(1) == {1, 2, 3}
    assert ids_at(2) == {1, 2, 3, 4, 5}
    assert ids_at(99) == {1, 2, 3, 4, 5}  # future version = latest
    # full read (no version) unchanged
    full = {r.id for r in manifest_sink_read(spark, sink).collect()}
    assert full == {1, 2, 3, 4, 5}
    # a replayed (deduped, zero-row) append publishes no manifest: the
    # version chain stays contiguous
    assert manifest_append_batch(batch([3]), sink, prune_col="id") == 0
    assert [m["version"] for m in manifest_versions(sink)] == [0, 1, 2]


def test_maintenance_pair_composed_with_live_pipeline(spark, tmpdir):
    """OPTIMIZE + VACUUM under a LIVE ingest loop: run the full 3-stage
    streaming pipeline with the manifest sink compacting + expiring
    every 2 batches (inside foreachBatch, so maintenance is serialized
    with appends), and assert the sink's rows are byte-identical to a
    maintenance-free manifest run, current + recent time-travel reads
    resolve, and the pre-compaction segments were actually reclaimed."""
    import os
    import time as _time

    from options_data_pipeline_spark.pipeline import run_streaming
    from options_data_pipeline_spark.streaming.sink import (
        manifest_sink_read,
        manifest_versions,
    )

    base = datetime(2024, 1, 1, 9, 15)
    replay = tmpdir + "/replay"
    os.makedirs(replay)
    eid = 0
    for i in range(6):
        rows = []
        for w in range(10):
            for s in ("A", "B"):
                rows.append(
                    (s, 100.0 + eid, base + timedelta(minutes=5 * (i * 10 + w)), eid, 1)
                )
                eid += 1
        p = replay + f"/{i:03d}.parquet"
        spark.createDataFrame(
            rows, "symbol string, price double, ts timestamp, event_id long, user_id long"
        ).coalesce(1).write.mode("overwrite").parquet(p + ".tmp")
        part = next(f for f in os.listdir(p + ".tmp") if f.endswith(".parquet"))
        os.rename(os.path.join(p + ".tmp", part), p)
        os.utime(p, (_time.time() + i, _time.time() + i))

    def run(sink, ckpt, maintain):
        stream = (
            spark.readStream.schema(
                "symbol string, price double, ts timestamp, event_id long, user_id long"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(replay)
        )
        queries = run_streaming(
            stream,
            candle_path=tmpdir + f"/candles{maintain}",
            sink_path=sink,
            checkpoint_path=ckpt,
            watermark="1 second",
            manifest_maintain_every=2 if maintain else 10**9,
            atr_max_files=1,  # one candle file per sink batch → many appends
        )
        try:
            for q in queries:
                q.processAllAvailable()
            # stage boundaries are file-source fed: a later stage may only
            # see its upstream's last files on the next trigger
            for _ in range(3):
                for q in queries:
                    q.processAllAvailable()
        finally:
            for q in queries:
                q.stop()

    run(tmpdir + "/sink_m", tmpdir + "/ckpt_m", maintain=True)
    run(tmpdir + "/sink_p", tmpdir + "/ckpt_p", maintain=False)

    got = manifest_sink_read(spark, tmpdir + "/sink_m")
    want = manifest_sink_read(spark, tmpdir + "/sink_p")
    assert sorted(got.columns) == sorted(want.columns)
    # the deterministic grain: same candle ids exactly once (ATR values
    # vary with candle-file tie order between runs — a property of the
    # stateful recursion's arrival order, not of sink maintenance; the
    # byte-identical check runs below on a deterministic payload)
    g_ids = {r.id for r in got.select("id").collect()}
    w_ids = {r.id for r in want.select("id").collect()}
    assert g_ids == w_ids and len(g_ids) > 0
    assert got.count() == len(g_ids)
    # maintenance actually ran: version history shows a compaction commit
    # (replaces non-empty) and expired segments are gone from disk
    vers = manifest_versions(tmpdir + "/sink_m")
    compactions = [m for m in vers if m.get("replaces")]
    assert compactions, "no compaction committed during the live run"
    seg_root = os.path.join(tmpdir + "/sink_m", "segments")
    on_disk = set(os.listdir(seg_root))
    replaced = {s for m in compactions for s in m["replaces"]}
    last_compaction = compactions[-1]
    expired = replaced - {last_compaction["segment"]}
    assert expired - on_disk == expired, "expired segments still on disk"
    # current read and time travel at the last compaction still resolve
    assert manifest_sink_read(
        spark, tmpdir + "/sink_m", at_version=last_compaction["version"]
    ).count() <= len(g_ids)

    # BYTE-IDENTICAL parity on a deterministic payload: replay the same
    # files through a pass-through streaming query into the manifest
    # sink, maintained vs not — maintenance interleaves with live
    # appends (batch_id 1, 3, 5 compact+expire while the query runs)
    # and must not change a single row
    from options_data_pipeline_spark.streaming.sink import (
        manifest_foreach_batch_writer,
    )

    def run_passthrough(sink, ckpt, maintain_every):
        stream = (
            spark.readStream.schema(
                "symbol string, price double, ts timestamp, event_id long, user_id long"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(replay)
        )
        q = (
            stream.withColumn(
                "id", F.concat_ws("_", "symbol", F.col("event_id").cast("string"))
            )
            .withColumnRenamed("ts", "window_start")  # default prune col
            .writeStream.foreachBatch(
                manifest_foreach_batch_writer(sink, maintain_every=maintain_every)
            )
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    run_passthrough(tmpdir + "/pt_m", tmpdir + "/pt_ckpt_m", 2)
    run_passthrough(tmpdir + "/pt_p", tmpdir + "/pt_ckpt_p", None)
    pm = manifest_sink_read(spark, tmpdir + "/pt_m")
    pp = manifest_sink_read(spark, tmpdir + "/pt_p")
    cols = sorted(pm.columns)
    left = sorted(map(tuple, pm.select(*cols).collect()))
    right = sorted(map(tuple, pp.select(*cols).collect()))
    assert left == right and len(left) == 120  # 6 files × 20 rows
    assert [m for m in manifest_versions(tmpdir + "/pt_m") if m.get("replaces")]


def test_manifest_compact_and_expire_snapshots(spark, tmpdir):
    """OPTIMIZE + VACUUM lifecycle: compaction merges live segments into
    one (current reads identical, pre-compaction time travel intact),
    appends after compaction dedup correctly against the merged segment,
    GC never touches superseded-but-unexpired segments, and
    expire_snapshots reclaims exactly them while old at_version reads
    fail with a clear 'expired' error."""
    import os
    import pytest as _pytest

    from options_data_pipeline_spark.streaming.sink import (
        expire_snapshots,
        gc_uncommitted_segments,
        manifest_append_batch,
        manifest_compact,
        manifest_sink_read,
        manifest_versions,
    )

    sink = tmpdir + "/csink"

    def batch(ids):
        return spark.createDataFrame(
            [(i, float(len(i))) for i in ids], "id string, v double"
        ).withColumn("window_start", F.lit("2024-01-01 09:15:00").cast("timestamp"))

    assert manifest_append_batch(batch(["a", "b"]), sink) == 2   # v0
    assert manifest_append_batch(batch(["c"]), sink) == 1        # v1
    seg_root = os.path.join(sink, "segments")
    assert len(os.listdir(seg_root)) == 2

    v = manifest_compact(spark, sink)                            # v2
    assert v == 2
    assert manifest_sink_read(spark, sink).count() == 3          # unchanged
    assert manifest_sink_read(spark, sink, at_version=1).count() == 3
    assert manifest_sink_read(spark, sink, at_version=0).count() == 2
    # replay + new append still dedup against the MERGED segment
    assert manifest_append_batch(batch(["a", "c", "d"]), sink) == 1  # v3
    assert manifest_sink_read(spark, sink).count() == 4
    # GC must not collect superseded segments (they serve time travel)
    assert gc_uncommitted_segments(sink, grace_s=0.0) == []
    assert len(os.listdir(seg_root)) == 4  # 2 originals + merged + delta

    removed = expire_snapshots(sink, before_version=v)
    assert len(removed) == 2  # exactly the two pre-compaction segments
    assert manifest_sink_read(spark, sink).count() == 4
    assert manifest_sink_read(spark, sink, at_version=v).count() == 3
    with _pytest.raises(ValueError, match="expired"):
        manifest_sink_read(spark, sink, at_version=1)
    # history metadata stays auditable
    assert [m["version"] for m in manifest_versions(sink)] == [0, 1, 2, 3]
    # second compaction chains: merged+delta collapse again
    v2 = manifest_compact(spark, sink)
    assert v2 == 4
    assert manifest_sink_read(spark, sink).count() == 4
    assert expire_snapshots(sink, before_version=v2) != []
    assert manifest_sink_read(spark, sink).count() == 4


def test_streaming_drawdown_matches_batch(spark, tmpdir):
    """The drawdown panel the live stage publishes equals the batch
    max_drawdown query bit-for-bit (same op sequence, strict-< first-
    trough tie-break), including across MULTIPLE triggers carrying the
    peak between batches."""
    import os
    import time as _time

    from options_data_pipeline_spark.streaming.fold_state import (
        drawdown_panel,
        streaming_max_drawdown,
    )

    base = datetime(2024, 1, 1, 9, 15)
    prices = {
        # peak early, trough later, partial recovery; B monotone up (dd at first tick)
        "A": [100.0, 120.0, 90.0, 95.0, 80.0, 110.0],
        "B": [50.0, 55.0, 60.0, 66.0],
    }
    rows, eid = [], 0
    for i in range(6):
        for s, ps in prices.items():
            if i < len(ps):
                rows.append((s, ps[i], base + timedelta(minutes=i), eid))
                eid += 1
    schema = "symbol string, price double, ts timestamp, event_id long"
    src = spark.createDataFrame(rows, schema)

    # two replay slices → the running peak must survive the trigger gap
    replay = tmpdir + "/ddreplay"
    os.makedirs(replay)
    for k, frac in enumerate([rows[: len(rows) // 2], rows[len(rows) // 2:]]):
        p = replay + f"/{k:03d}.parquet"
        spark.createDataFrame(frac, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(p + ".tmp")
        part = next(f for f in os.listdir(p + ".tmp") if f.endswith(".parquet"))
        os.rename(os.path.join(p + ".tmp", part), p)
        os.utime(p, (_time.time() + k, _time.time() + k))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(replay)
    )
    q = streaming_max_drawdown(stream, tmpdir + "/ddckpt").start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    # the published panel after the last trigger
    got = {r.symbol: r for r in drawdown_panel(spark, tmpdir + "/ddckpt").collect()}
    assert {s: r.n_ticks for s, r in got.items()} == {s: len(p) for s, p in prices.items()}

    from pyspark.sql import Window as W

    w = (
        W.partitionBy("symbol")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    batch = {
        r.symbol: r
        for r in src.select(
            "symbol",
            "ts",
            "event_id",
            (F.col("price") / F.max("price").over(w) - 1).alias("drawdown"),
        )
        .groupBy("symbol")
        .agg(F.min(F.struct("drawdown", "ts", "event_id")).alias("t"))
        .select("symbol", "t.drawdown", "t.ts", "t.event_id")
        .collect()
    }
    assert set(got) == {"A", "B"}
    for s in got:
        assert got[s].max_drawdown == batch[s].drawdown  # bit-exact
        assert got[s].trough_ts == batch[s].ts
        assert got[s].trough_event_id == batch[s].event_id
    assert got["A"].max_drawdown == pytest.approx(80.0 / 120.0 - 1)
    assert got["B"].max_drawdown == 0.0  # first tick: dd = 0 at its own peak


def test_manifest_compact_crash_between_stage_and_publish(spark, tmpdir, monkeypatch):
    """Kill-and-restart INSIDE a compaction: the merged segment is fully
    written but its superseding manifest never publishes. Invariants: the
    sink reads byte-identical before/after the crash AND after the
    restarted compaction; time travel to every pre-compaction version
    still resolves; the stranded merge segment is GC-able debris."""
    import os

    from options_data_pipeline_spark.streaming import sink as sink_mod

    sink = tmpdir + "/msink"

    def mk(ids, ts):
        return spark.createDataFrame(
            [(i, float(len(i))) for i in ids], "id string, v double"
        ).withColumn("window_start", F.lit(ts).cast("timestamp"))

    assert sink_mod.manifest_append_batch(mk(["a", "b"], "2024-01-01 09:15:00"), sink) == 2
    assert sink_mod.manifest_append_batch(mk(["c"], "2024-01-02 09:15:00"), sink) == 1
    assert sink_mod.manifest_append_batch(mk(["d", "e"], "2024-01-03 09:15:00"), sink) == 2
    before = sorted(
        map(tuple, sink_mod.manifest_sink_read(spark, sink).collect())
    )
    n_segments_before = len(os.listdir(os.path.join(sink, "segments")))

    def boom(sink_path, segment, n_rows, lo, hi, **kw):
        raise RuntimeError("killed between compaction stage and publish")

    monkeypatch.setattr(sink_mod, "_publish_manifest", boom)
    with pytest.raises(RuntimeError):
        sink_mod.manifest_compact(spark, sink)
    # merged segment staged on disk, but NO manifest names it → readers
    # resolve the original segments, byte-identical
    assert len(os.listdir(os.path.join(sink, "segments"))) == n_segments_before + 1
    assert sorted(map(tuple, sink_mod.manifest_sink_read(spark, sink).collect())) == before
    for v in range(3):
        assert sink_mod.manifest_sink_read(spark, sink, at_version=v).count() > 0

    monkeypatch.undo()
    # restart: compaction re-runs from scratch and commits
    v_new = sink_mod.manifest_compact(spark, sink)
    assert v_new == 3
    assert sorted(map(tuple, sink_mod.manifest_sink_read(spark, sink).collect())) == before
    # pre-compaction snapshots still resolve their original segments
    assert sink_mod.manifest_sink_read(spark, sink, at_version=0).count() == 2
    assert sink_mod.manifest_sink_read(spark, sink, at_version=2).count() == 5
    # the crashed attempt's stranded segment is uncommitted debris
    removed = sink_mod.gc_uncommitted_segments(sink, grace_s=0)
    assert len(removed) == 1
    assert sorted(map(tuple, sink_mod.manifest_sink_read(spark, sink).collect())) == before
    # VACUUM retires the superseded originals; current read unaffected,
    # expired time travel refuses with the marker's clear error
    sink_mod.expire_snapshots(sink, before_version=v_new)
    assert sorted(map(tuple, sink_mod.manifest_sink_read(spark, sink).collect())) == before
    with pytest.raises(Exception, match="expired|snapshot"):
        sink_mod.manifest_sink_read(spark, sink, at_version=0).count()


def test_streaming_sessions_watermark_finalization_and_batch_parity(spark, tmpdir):
    """Streaming session_window (the W7 silence detector as a stateful
    operator): a session emits ONLY once the watermark passes its close;
    open sessions stay in state across micro-batches; finalized sessions
    match the batch tick_sessions semantics exactly."""
    import os

    from options_data_pipeline_spark.streaming.session_stream import (
        streaming_sessions,
    )

    base = datetime(2024, 1, 1, 9, 0)
    src, ckpt = tmpdir + "/src", tmpdir + "/ckpt"
    os.makedirs(src)
    name = "sessions_wm"

    def write_batch(fname, rows):
        spark.createDataFrame(rows, TICK_SCHEMA).coalesce(1).write.mode(
            "overwrite"
        ).parquet(tmpdir + "/" + fname)
        # move the part file into the watched dir (file source sees new files)
        import glob
        import shutil as sh

        part = glob.glob(tmpdir + f"/{fname}/part-*.parquet")[0]
        sh.copy(part, src + f"/{fname}.parquet")

    stream = spark.readStream.schema(TICK_SCHEMA).parquet(src)
    out = streaming_sessions(stream, gap="10 minutes", watermark_delay="5 minutes")
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        # batch 1: one burst of 3 ticks — session stays OPEN (watermark
        # hasn't passed its close), nothing emits
        write_batch("b1", [
            ("A", 100.0, base, 1),
            ("A", 101.0, base + timedelta(minutes=1), 2),
            ("A", 102.0, base + timedelta(minutes=2), 3),
        ])
        q.processAllAvailable()
        assert spark.sql(f"SELECT * FROM {name}").count() == 0

        # batch 2: ticks two hours later — watermark (max ts − 5 min)
        # sweeps past session 1's close → it finalizes; session 2 is open
        write_batch("b2", [
            ("A", 110.0, base + timedelta(minutes=120), 4),
            ("A", 111.0, base + timedelta(minutes=121), 5),
        ])
        q.processAllAvailable()
        got = spark.sql(f"SELECT * FROM {name}").collect()
        assert len(got) == 1
        s1 = got[0]
        assert s1.symbol == "A" and s1.n_ticks == 3
        assert s1.session_start == base
        assert s1.session_end == base + timedelta(minutes=12)  # last tick + gap

        # batch 3: far future tick closes session 2
        write_batch("b3", [("A", 120.0, base + timedelta(minutes=300), 6)])
        q.processAllAvailable()
        rows = {r.session_start: r for r in spark.sql(f"SELECT * FROM {name}").collect()}
        assert len(rows) == 2
        s2 = rows[base + timedelta(minutes=120)]
        assert s2.n_ticks == 2
        assert s2.session_end == base + timedelta(minutes=131)
    finally:
        q.stop()


def test_run_streaming_sessions_stage(spark, tmpdir):
    """Pipeline stage 3: run_streaming(sessions_path=...) runs the
    silence detector as a parallel branch off the tick stream —
    finalized gap-sessions land in their own sink while candles/ATR
    flow unchanged."""
    import os

    from options_data_pipeline_spark.pipeline import run_streaming

    base = datetime(2024, 1, 1, 9, 15)
    src = tmpdir + "/ticks"
    os.makedirs(src)
    rows = [
        ("A", 100.0, base, 1, 1),
        ("A", 101.0, base + timedelta(minutes=2), 2, 1),
        # 3-hour silence → session 1 (2 ticks) closes once the watermark
        # (max ts − 1 min) passes its end (last tick + 10 min gap)
        ("A", 105.0, base + timedelta(minutes=180), 3, 1),
    ]
    spark.createDataFrame(
        rows, "symbol string, price double, ts timestamp, event_id long, user_id long"
    ).write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(
        "symbol string, price double, ts timestamp, event_id long, user_id long"
    ).parquet(src)
    queries = run_streaming(
        stream,
        candle_path=tmpdir + "/candles",
        sink_path=tmpdir + "/sink",
        checkpoint_path=tmpdir + "/ckpt",
        watermark="1 second",
        sessions_path=tmpdir + "/sessions",
        session_gap="10 minutes",
        session_watermark="1 minute",
    )
    try:
        for q in queries:
            q.processAllAvailable()
    finally:
        for q in queries:
            q.stop()
    sessions = spark.read.parquet(tmpdir + "/sessions").collect()
    assert len(sessions) == 1  # the open session must NOT be emitted
    s = sessions[0]
    assert s.symbol == "A" and s.n_ticks == 2
    assert s.session_start == base
    assert s.session_end == base + timedelta(minutes=12)
    # the main sink still produced enriched candles
    assert spark.read.parquet(tmpdir + "/sink").count() > 0


def test_stream_stream_interval_join_matches_batch(spark, tmpdir):
    """Stream-stream event-time interval join: every tick enriched with
    its OWN window's candle, continuously. Results must equal the batch
    inner join; the range predicate + both watermarks are what let
    Spark bound the join state (it rejects the plan without them)."""
    import os

    from options_data_pipeline_spark.streaming.join_stream import ticks_with_candles

    base = datetime(2024, 1, 1, 9, 15)
    tick_rows = [
        ("A", 100.5, base + timedelta(seconds=30), 1),
        ("A", 101.0, base + timedelta(seconds=290), 2),
        ("A", 102.0, base + timedelta(seconds=301), 3),   # next window
        ("B", 50.0, base + timedelta(seconds=10), 4),
    ]
    candle_rows = [
        ("A", base, 100.0, 101.5, 99.5, 101.0, 2),
        ("A", base + timedelta(seconds=300), 102.0, 102.5, 101.5, 102.0, 1),
        ("B", base, 50.0, 50.5, 49.5, 50.0, 1),
        ("C", base, 1.0, 1.0, 1.0, 1.0, 1),              # no ticks → no output
    ]
    tsrc, csrc = tmpdir + "/ticks", tmpdir + "/candles"
    spark.createDataFrame(tick_rows, TICK_SCHEMA).write.parquet(tsrc)
    spark.createDataFrame(candle_rows, CANDLE_SCHEMA).write.parquet(csrc)
    ticks = spark.readStream.schema(TICK_SCHEMA).parquet(tsrc)
    candles = spark.readStream.schema(CANDLE_SCHEMA).parquet(csrc)
    out = ticks_with_candles(ticks, candles)
    q = (
        out.writeStream.format("memory")
        .queryName("ssj")
        .outputMode("append")
        .option("checkpointLocation", tmpdir + "/ckpt")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {r.event_id: r for r in spark.sql("SELECT * FROM ssj").collect()}
    assert set(got) == {1, 2, 3, 4}
    assert got[1].w_high == 101.5 and got[1].window_start == base
    assert got[2].window_start == base            # second 30s before boundary
    assert got[3].window_start == base + timedelta(seconds=300)
    assert got[4].w_close == 50.0


CDC_SCHEMA = "k bigint, ts timestamp, cid bigint, op string, v double"


def _cdc_changes(spark, rows):
    return spark.createDataFrame(rows, CDC_SCHEMA)


def test_streaming_cdc_upsert_matches_batch(spark, tmpdir):
    """Drain a change stream through the foreachBatch merge; the final
    snapshot must equal the batch operator over the full log (cross-
    batch out-of-order updates and a delete→resurrect included)."""
    from options_data_pipeline_spark.operators.cdc import cdc_latest_snapshot
    from options_data_pipeline_spark.streaming.cdc_stream import (
        streaming_cdc_upsert,
    )

    base = datetime(2024, 1, 1, 9, 0)
    t = lambda m: base + timedelta(minutes=m)  # noqa: E731
    log = [
        (1, t(1), 101, "U", 1.0), (1, t(3), 103, "U", 3.0),
        (1, t(2), 102, "U", 2.0),          # out-of-order update: loses
        (2, t(1), 201, "U", 1.0), (2, t(2), 202, "D", 0.0),
        (2, t(3), 203, "U", 9.0),          # resurrect after delete
        (3, t(1), 301, "U", 5.0), (3, t(2), 302, "D", 0.0),  # stays dead
    ]
    src_dir = os.path.join(tmpdir, "cdc_src")
    snap = os.path.join(tmpdir, "cdc_snap")
    ck = os.path.join(tmpdir, "cdc_ck")
    _cdc_changes(spark, log).write.mode("overwrite").parquet(src_dir)
    stream = (
        spark.readStream.schema(CDC_SCHEMA)
        .option("maxFilesPerTrigger", 1)  # several micro-batches
        .parquet(src_dir)
    )
    q = streaming_cdc_upsert(
        stream, snap, ck, key_cols=["k"], seq_cols=["ts", "cid"]
    ).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    from options_data_pipeline_spark.streaming.cdc_stream import cdc_live_view

    got = {r.k: r for r in cdc_live_view(spark, snap).collect()}
    want = {
        r.k: r
        for r in cdc_latest_snapshot(
            _cdc_changes(spark, log), key_cols=["k"], seq_cols=["ts", "cid"]
        ).collect()
    }
    assert set(got) == set(want) == {1, 2}
    for k in got:
        assert (got[k].last_v, got[k].last_cid) == (want[k].last_v, want[k].last_cid)


def test_cdc_merge_batch_replay_is_fixpoint(spark, tmpdir):
    """Re-applying the same micro-batch (at-least-once foreachBatch
    after a crash) must leave the snapshot byte-identical — the merge
    is idempotent by construction, no applied-batch ledger needed."""
    from options_data_pipeline_spark.streaming.cdc_stream import cdc_merge_batch

    base = datetime(2024, 1, 1, 9, 0)
    snap = os.path.join(tmpdir, "snap")
    b1 = _cdc_changes(spark, [
        (1, base, 101, "U", 1.0), (2, base, 201, "U", 2.0),
    ])
    b2 = _cdc_changes(spark, [
        (1, base + timedelta(minutes=1), 102, "U", 7.0),
        (2, base + timedelta(minutes=1), 202, "D", 0.0),
    ])
    from options_data_pipeline_spark.streaming.cdc_stream import cdc_snapshot_read

    cdc_merge_batch(b1, snap, key_cols=["k"], seq_cols=["ts", "cid"])
    n = cdc_merge_batch(b2, snap, key_cols=["k"], seq_cols=["ts", "cid"])
    first = sorted(map(tuple, cdc_snapshot_read(spark, snap).collect()))
    n2 = cdc_merge_batch(b2, snap, key_cols=["k"], seq_cols=["ts", "cid"])
    replay = sorted(map(tuple, cdc_snapshot_read(spark, snap).collect()))
    assert n == n2 == 2          # key 1 live + key 2 TOMBSTONE retained
    assert first == replay
    from options_data_pipeline_spark.streaming.cdc_stream import cdc_live_view

    live = cdc_live_view(spark, snap).collect()
    assert len(live) == 1 and live[0].k == 1 and live[0].last_v == 7.0


def test_streaming_bitmap_rollup_matches_batch(spark, tmpdir):
    """Stream events through the foreachBatch OR-merge in several
    micro-batches; the report answered from STORED SEGMENTS ONLY must
    equal (a) the batch operator over the full log and (b) exact
    count-distinct ground truth — users overlapping across days and
    across micro-batches included."""
    from options_data_pipeline_spark.streaming.bitmap_stream import (
        batch_bitmap_segments,
        bitmap_rollup_report,
        bitmap_segments_read,
        streaming_bitmap_rollup,
    )

    base = datetime(2024, 1, 1, 9, 0)
    rows = []
    # two event types; users revisit across days and split across batches
    for d in range(3):
        for u in range(1, 8):
            if (u + d) % 3 != 0:
                rows.append(("click", base + timedelta(days=d, minutes=u), u))
        for u in range(5, 10):
            rows.append(("view", base + timedelta(days=d, minutes=u), u))
    schema = "event_type string, ts timestamp, user_id bigint"
    src = os.path.join(tmpdir, "bm_src")
    store = os.path.join(tmpdir, "bm_store")
    ck = os.path.join(tmpdir, "bm_ck")
    spark.createDataFrame(rows, schema).repartition(4).write.parquet(src)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)  # several micro-batches
        .parquet(src)
    )
    q = streaming_bitmap_rollup(stream, store, ck).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    segments = bitmap_segments_read(spark, store)
    got = {r.et: r for r in bitmap_rollup_report(segments).collect()}
    full = spark.createDataFrame(rows, schema)
    want = {
        r.et: r
        for r in bitmap_rollup_report(batch_bitmap_segments(full)).collect()
    }
    assert set(got) == set(want) == {"click", "view"}
    for et in got:
        assert (got[et].n_days, got[et].sum_daily_users, got[et].total_users) == (
            want[et].n_days, want[et].sum_daily_users, want[et].total_users
        )
    # exact ground truth for the period total
    exact = {
        r.event_type: r.n
        for r in full.groupBy("event_type")
        .agg(F.count_distinct("user_id").alias("n"))
        .collect()
    }
    assert {et: got[et].total_users for et in got} == exact


def test_bitmap_merge_batch_replay_is_fixpoint(spark, tmpdir):
    """OR is idempotent: re-merging the same micro-batch (at-least-once
    foreachBatch after a crash) leaves segments AND the report
    unchanged — no ledger, no sequence columns."""
    from options_data_pipeline_spark.streaming.bitmap_stream import (
        bitmap_merge_batch,
        bitmap_rollup_report,
        bitmap_segments_read,
    )

    base = datetime(2024, 1, 1, 9, 0)
    schema = "event_type string, ts timestamp, user_id bigint"
    store = os.path.join(tmpdir, "store")
    b1 = spark.createDataFrame(
        [("click", base, 1), ("click", base, 2)], schema
    )
    b2 = spark.createDataFrame(
        [("click", base + timedelta(days=1), 2), ("click", base, 3)], schema
    )
    bitmap_merge_batch(b1, store)
    n = bitmap_merge_batch(b2, store)
    first = sorted(map(tuple, bitmap_rollup_report(
        bitmap_segments_read(spark, store)).collect()))
    n2 = bitmap_merge_batch(b2, store)  # replay
    replay = sorted(map(tuple, bitmap_rollup_report(
        bitmap_segments_read(spark, store)).collect()))
    assert n == n2 and first == replay
    assert first[0][1:4] == (2, 4, 3)  # n_days=2, Σdaily=3+1, total=3


def test_cdc_merge_batch_schema_evolution_fails_loudly(spark, tmpdir):
    """The stored snapshot's payload schema is fixed at first publish; a
    micro-batch whose payload columns evolved (added/renamed) must fail
    with a descriptive ValueError naming the mismatched columns — not an
    opaque AnalysisException from the prior-snapshot select mid-merge."""
    import pytest

    from options_data_pipeline_spark.streaming.cdc_stream import cdc_merge_batch

    base = datetime(2024, 1, 1, 9, 0)
    snap = os.path.join(tmpdir, "snap")
    b1 = _cdc_changes(spark, [(1, base, 101, "U", 1.0)])
    cdc_merge_batch(b1, snap, key_cols=["k"], seq_cols=["ts", "cid"])
    evolved = spark.createDataFrame(
        [(1, base + timedelta(minutes=1), 102, "U", 2.0, "extra")],
        "k bigint, ts timestamp, cid bigint, op string, v double, note string",
    )
    with pytest.raises(ValueError, match=r"last_note.*fixed at first publish"):
        cdc_merge_batch(evolved, snap, key_cols=["k"], seq_cols=["ts", "cid"])
    renamed = spark.createDataFrame(
        [(1, base + timedelta(minutes=1), 102, "U", 2.0)],
        "k bigint, ts timestamp, cid bigint, op string, val double",
    )
    with pytest.raises(ValueError, match=r"last_val.*last_v"):
        cdc_merge_batch(renamed, snap, key_cols=["k"], seq_cols=["ts", "cid"])
    # the matching batch still merges after the rejected ones
    b2 = _cdc_changes(spark, [(1, base + timedelta(minutes=2), 103, "U", 3.0)])
    assert cdc_merge_batch(b2, snap, key_cols=["k"], seq_cols=["ts", "cid"]) == 1


def test_cdc_tombstone_suppresses_out_of_order_insert(spark, tmpdir):
    """The retention rule the stored tombstones exist for: a delete in
    an EARLIER micro-batch must suppress the key's OLDER insert arriving
    in a later batch (without stored tombstones the insert would
    resurrect the key — the failure mode the first parity run caught)."""
    from options_data_pipeline_spark.streaming.cdc_stream import (
        cdc_live_view,
        cdc_merge_batch,
    )

    base = datetime(2024, 1, 1, 9, 0)
    snap = os.path.join(tmpdir, "snap")
    delete_first = _cdc_changes(
        spark, [(7, base + timedelta(minutes=5), 702, "D", 0.0)]
    )
    stale_insert = _cdc_changes(spark, [(7, base, 701, "U", 1.0)])
    cdc_merge_batch(delete_first, snap, key_cols=["k"], seq_cols=["ts", "cid"])
    cdc_merge_batch(stale_insert, snap, key_cols=["k"], seq_cols=["ts", "cid"])
    from options_data_pipeline_spark.streaming.cdc_stream import cdc_snapshot_read

    assert cdc_live_view(spark, snap).count() == 0
    stored = cdc_snapshot_read(spark, snap).collect()
    assert len(stored) == 1 and stored[0].last_op == "D"


def test_run_streaming_latest_snapshot_stage(spark, tmpdir):
    """Pipeline stage 4: run_streaming(latest_path=...) maintains the
    current-candle-per-symbol snapshot via the CDC upsert merge; the
    live view must hold exactly one row per symbol — the newest closed
    window — while candles/ATR flow unchanged."""
    from options_data_pipeline_spark.pipeline import run_streaming
    from options_data_pipeline_spark.streaming.cdc_stream import cdc_live_view

    base = datetime(2024, 1, 1, 9, 15)
    src = tmpdir + "/ticks"
    os.makedirs(src)
    rows = []
    eid = 0
    for w in range(3):
        for s in ("A", "B"):
            rows.append(
                (s, 100.0 + w, base + timedelta(minutes=5 * w), eid, 1)
            )
            eid += 1
    spark.createDataFrame(
        rows, "symbol string, price double, ts timestamp, event_id long, user_id long"
    ).write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(
        "symbol string, price double, ts timestamp, event_id long, user_id long"
    ).parquet(src)
    queries = run_streaming(
        stream,
        candle_path=tmpdir + "/candles",
        sink_path=tmpdir + "/sink",
        checkpoint_path=tmpdir + "/ckpt",
        watermark="1 second",
        latest_path=tmpdir + "/latest",
    )
    try:
        for q in queries:
            q.processAllAvailable()
        # the latest stage tails the candle sink: drain it again after
        # the candle stage committed its files
        for q in queries:
            q.processAllAvailable()
    finally:
        for q in queries:
            q.stop()
    latest = {r.symbol: r for r in cdc_live_view(spark, tmpdir + "/latest").collect()}
    candles = spark.read.parquet(tmpdir + "/candles").collect()
    assert set(latest) == {"A", "B"}
    for sym in ("A", "B"):
        newest = max(
            (c for c in candles if c.symbol == sym), key=lambda c: c.window_start
        )
        assert latest[sym].last_window_start == newest.window_start
        assert latest[sym].last_close == newest.close


def test_cdc_snapshot_survives_crash_before_publish(spark, tmpdir, monkeypatch):
    """The versioned store's whole point: a crash AFTER the new version
    is written but BEFORE the pointer swap must leave readers on the
    previous snapshot intact (a plain mode-overwrite would have deleted
    it first); the replayed merge then publishes normally and converges."""
    from options_data_pipeline_spark.sources import store
    from options_data_pipeline_spark.streaming.cdc_stream import (
        cdc_merge_batch,
        cdc_snapshot_read,
    )

    base = datetime(2024, 1, 1, 9, 0)
    snap = os.path.join(tmpdir, "snap")
    b1 = _cdc_changes(spark, [(1, base, 101, "U", 1.0)])
    b2 = _cdc_changes(spark, [(1, base + timedelta(minutes=1), 102, "U", 9.0)])
    cdc_merge_batch(b1, snap, key_cols=["k"], seq_cols=["ts", "cid"])

    real_publish = store.publish
    monkeypatch.setattr(
        store,
        "publish",
        lambda *a, **kw: (_ for _ in ()).throw(RuntimeError("crash")),
    )
    with pytest.raises(RuntimeError, match="crash"):
        cdc_merge_batch(b2, snap, key_cols=["k"], seq_cols=["ts", "cid"])
    # pointer untouched: readers still see the v1 state, no data loss
    rows = cdc_snapshot_read(spark, snap).collect()
    assert len(rows) == 1 and rows[0].last_v == 1.0

    monkeypatch.setattr(store, "publish", real_publish)
    cdc_merge_batch(b2, snap, key_cols=["k"], seq_cols=["ts", "cid"])
    rows = cdc_snapshot_read(spark, snap).collect()
    assert len(rows) == 1 and rows[0].last_v == 9.0
    # GC kept at most current+previous versions; orphaned partial gone
    versions = [n for n in os.listdir(snap) if n.startswith("v_")]
    assert len(versions) <= 2


def test_streaming_seasonal_anomaly_matches_batch(spark, tmpdir):
    """Stream events through the batch-tagged idempotent cell append in
    several micro-batches; the LOO report answered from STORED CELLS
    ONLY must equal the batch operator over the full log, and a
    replayed merge must write nothing (count exactly-once under
    at-least-once delivery)."""
    from options_data_pipeline_spark.operators.seasonal import (
        hour_cells,
        loo_scores,
    )
    from options_data_pipeline_spark.streaming.seasonal_stream import (
        seasonal_merge_batch,
        seasonal_report,
        streaming_seasonal_anomaly,
    )

    base = datetime(2024, 2, 1, 0, 0)
    rows = []
    # 10 days x 2 hours x 2 types with varied counts and one spike,
    # rows deliberately straddling micro-batch boundaries
    for d in range(10):
        for h in (3, 14):
            n = 40 if (d == 6 and h == 3) else 3 + ((d + h) % 4)
            for i in range(n):
                rows.append(
                    ("click" if i % 2 == 0 else "view",
                     base + timedelta(days=d, hours=h, seconds=i))
                )
    schema = "event_type string, ts timestamp"
    src = os.path.join(tmpdir, "seas_src")
    store = os.path.join(tmpdir, "seas_store")
    ck = os.path.join(tmpdir, "seas_ck")
    spark.createDataFrame(rows, schema).repartition(5).write.parquet(src)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = streaming_seasonal_anomaly(stream, store, ck).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        (r.event_type, r.day_start, r.hour_of_day): r
        for r in seasonal_report(spark, store).collect()
    }
    full = spark.createDataFrame(rows, schema)
    want = {
        (r.event_type, r.day_start, r.hour_of_day): r
        for r in loo_scores(hour_cells(full)).collect()
    }
    assert set(got) == set(want) and len(got) == 40
    for k in want:
        assert got[k].n_events == want[k].n_events
        assert got[k].loo_mean == want[k].loo_mean  # bit-exact shared impl
        assert got[k].z_score == want[k].z_score
        assert got[k].is_anomaly == want[k].is_anomaly
    # the spike is flagged once the baseline accrues
    spikes = [k for k, r in got.items() if r.is_anomaly]
    assert all(k[2] == 3 and k[1].day == 7 for k in spikes) and spikes
    # replay idempotence: re-merging an already-applied batch writes 0
    some_batch = spark.read.parquet(src).limit(50)
    first = seasonal_merge_batch(some_batch, store, batch_id=99)
    again = seasonal_merge_batch(some_batch, store, batch_id=99)
    assert first > 0 and again == 0


def test_streaming_drift_monitor_matches_batch_and_flags_drift(spark, tmpdir):
    """Freeze a uniform reference, stream a drifted live period in
    micro-batches: (1) the report from stored cells equals the shared
    batch math over the full live log (structural parity), (2) the
    drifted type is flagged and the stable type is not, (3) a replayed
    merge writes nothing (exactly-once under at-least-once delivery)."""
    from options_data_pipeline_spark.operators.drift import (
        chi2_between,
        hist_cells,
    )
    from options_data_pipeline_spark.streaming.drift_stream import (
        _read_reference,
        drift_merge_batch,
        drift_report,
        publish_reference,
        streaming_drift_monitor,
    )

    # reference: both types uniform over [0, 100)
    ref_rows = [
        ("stable", float(v % 100)) for v in range(800)
    ] + [("shifty", float(v % 100)) for v in range(800)]
    ref = spark.createDataFrame(ref_rows, "event_type string, value double")
    ref_path = os.path.join(tmpdir, "drift_ref")
    publish_reference(ref, ref_path)

    # live: 'stable' stays uniform; 'shifty' collapses into one bin
    live_rows = [
        ("stable", float((v * 7) % 100)) for v in range(600)
    ] + [("shifty", 3.0 + (v % 10) * 0.1) for v in range(600)]
    src = os.path.join(tmpdir, "drift_src")
    store = os.path.join(tmpdir, "drift_store")
    ck = os.path.join(tmpdir, "drift_ck")
    spark.createDataFrame(
        live_rows, "event_type string, value double"
    ).repartition(4).write.parquet(src)
    stream = (
        spark.readStream.schema("event_type string, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = streaming_drift_monitor(stream, ref_path, store, ck).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = {r.event_type: r for r in drift_report(spark, ref_path, store).collect()}
    # structural parity: same result as the shared math over the full log
    rng, ref_cells, _version = _read_reference(spark, ref_path)
    live_full = spark.read.parquet(src)
    want = {
        r.event_type: r
        for r in chi2_between(ref_cells, hist_cells(live_full, rng)).collect()
    }
    assert set(got) == set(want) == {"stable", "shifty"}
    for k in want:
        assert got[k].n_live == want[k].n_live == 600
        assert got[k].chi2 == want[k].chi2  # bit-exact shared impl
        assert got[k].is_drifted == want[k].is_drifted
    assert got["shifty"].is_drifted and not got["stable"].is_drifted

    # replay idempotence: re-merging an already-applied batch writes 0
    some = spark.read.parquet(src).limit(40)
    first = drift_merge_batch(some, ref_path, store, batch_id=424242)
    again = drift_merge_batch(some, ref_path, store, batch_id=424242)
    assert first > 0 and again == 0

    # reference republish is atomic: the pointer still resolves and the
    # report keeps answering after a rebuild
    publish_reference(ref, ref_path)
    assert drift_report(spark, ref_path, store).count() == 2


def test_drift_merge_reads_only_its_own_batch(spark, tmpdir, monkeypatch):
    """Every cell id embeds its batch_id, so an append dedups against its
    own batch's rows only, however many batches the store holds, and an
    empty batch reads no store data."""
    from options_data_pipeline_spark.streaming.drift_stream import (
        drift_merge_batch,
        publish_reference,
    )

    ref_path, store = tmpdir + "/ref", tmpdir + "/cells"
    events = spark.createDataFrame(
        [(t, float(v)) for t in ("a", "b") for v in range(10)],
        "event_type string, value double",
    )
    publish_reference(events, ref_path)
    for batch_id in range(3):
        assert drift_merge_batch(events, ref_path, store, batch_id) > 0
    seen = _anti_join_reads(spark, monkeypatch)
    n = drift_merge_batch(events, ref_path, store, 3)
    assert drift_merge_batch(events, ref_path, store, 3) == 0
    assert drift_merge_batch(events.limit(0), ref_path, store, 4) == 0
    assert seen == [0, n]


def test_drift_chi2_between_null_on_one_sided_type(spark):
    """A type present on only one side has no two-sample statistic:
    chi2/verdict must be NULL, never a fake number."""
    from options_data_pipeline_spark.operators.drift import chi2_between

    ref = spark.createDataFrame(
        [("a", 0, 10), ("a", 1, 10)], "event_type string, bin int, n long"
    )
    live = spark.createDataFrame(
        [("a", 0, 12), ("a", 1, 8), ("b", 3, 99)],
        "event_type string, bin int, n long",
    )
    rows = {r.event_type: r for r in chi2_between(ref, live).collect()}
    assert rows["a"].chi2 is not None and rows["a"].chi2 >= 0.0
    assert rows["b"].chi2 is None and rows["b"].is_drifted is None
    assert rows["b"].n_ref == 0 and rows["b"].n_live == 99


def test_drift_reference_rebuild_never_mixes_binnings(spark, tmpdir):
    """Review regression: live partials are keyed by reference version —
    after a reference rebuild the report must NOT merge counts binned
    under the old range, and out-of-range live values clamp into the
    edge bin instead of overflowing the cast."""
    from options_data_pipeline_spark.streaming.drift_stream import (
        drift_merge_batch,
        drift_report,
        publish_reference,
    )

    ref_path = os.path.join(tmpdir, "ref2")
    store = os.path.join(tmpdir, "store2")
    ref = spark.createDataFrame(
        [("a", float(v % 100)) for v in range(400)],
        "event_type string, value double",
    )
    publish_reference(ref, ref_path)

    # report is callable BEFORE any batch: n_live = 0, NULL verdict
    pre = drift_report(spark, ref_path, store).collect()
    assert [(r.n_live, r.chi2) for r in pre] == [(0, None)]

    # a batch with an absurd out-of-range value must not kill the merge
    batch = spark.createDataFrame(
        [("a", 1e18)] + [("a", float(v % 100)) for v in range(200)],
        "event_type string, value double",
    )
    assert drift_merge_batch(batch, ref_path, store, batch_id=1) > 0
    r1 = drift_report(spark, ref_path, store).first()
    assert r1.n_live == 201  # the 1e18 row landed in the edge bin

    # rebuild the reference with a DIFFERENT range: old partials carry
    # the old version tag and must vanish from the report
    ref2 = spark.createDataFrame(
        [("a", float(v % 200)) for v in range(400)],
        "event_type string, value double",
    )
    publish_reference(ref2, ref_path)
    r2 = drift_report(spark, ref_path, store).first()
    assert r2.n_live == 0 and r2.chi2 is None
    # new batches under the new reference accumulate fresh
    assert drift_merge_batch(batch, ref_path, store, batch_id=2) > 0
    r3 = drift_report(spark, ref_path, store).first()
    assert r3.n_live == 201


def test_cdc_time_travel_reads_previous_version(spark, tmpdir):
    """The GC's current+previous retention doubles as one-step time
    travel: after two merges, cdc_previous_snapshot_read returns the
    state as of merge 1; before a second publish exists it refuses
    (never silently serves the current version)."""
    from options_data_pipeline_spark.streaming.cdc_stream import (
        cdc_merge_batch,
        cdc_previous_snapshot_read,
        cdc_snapshot_read,
    )

    base = datetime(2024, 1, 1, 9, 0)
    snap = os.path.join(tmpdir, "tt_snap")
    b1 = _cdc_changes(spark, [
        (1, base, 101, "U", 1.0), (2, base, 201, "U", 2.0),
    ])
    b2 = _cdc_changes(spark, [
        (1, base + timedelta(minutes=1), 102, "U", 7.0),
    ])
    cdc_merge_batch(b1, snap, key_cols=["k"], seq_cols=["ts", "cid"])
    with pytest.raises(FileNotFoundError):
        cdc_previous_snapshot_read(spark, snap)  # only one publish yet
    after_1 = sorted(map(tuple, cdc_snapshot_read(spark, snap).collect()))
    cdc_merge_batch(b2, snap, key_cols=["k"], seq_cols=["ts", "cid"])
    prev = sorted(
        map(tuple, cdc_previous_snapshot_read(spark, snap).collect())
    )
    assert prev == after_1  # exactly the pre-merge-2 state
    now = {r.k: r for r in cdc_snapshot_read(spark, snap).collect()}
    assert now[1].last_v == 7.0  # and the current one moved on


def test_streaming_hll_rollup_matches_batch_query(spark, tmpdir):
    """Stream the sf0.001 events through the foreachBatch MAX-merge in
    several micro-batches; the rollup answered from STORED REGISTERS
    ONLY must equal the registry batch query's merged arm exactly —
    same n_days, bit-identical hll_merged (register MAX is associative,
    so micro-batch partitioning loses nothing; the batch query proves
    the same algebra in-query as merge_exact)."""
    from options_data_pipeline_spark import registry
    from options_data_pipeline_spark.sources.tables import load_table
    from options_data_pipeline_spark.streaming.hll_stream import (
        hll_registers_read,
        hll_rollup_report,
        streaming_hll_rollup,
    )

    sf = "/root/testdata/sf0.001"
    ev = load_table(spark, "events", sf).select("event_type", "ts", "user_id")
    src = os.path.join(tmpdir, "hll_src")
    store = os.path.join(tmpdir, "hll_store")
    ck = os.path.join(tmpdir, "hll_ck")
    ev.repartition(4).write.parquet(src)
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)  # several micro-batches
        .parquet(src)
    )
    q = streaming_hll_rollup(stream, store, ck).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        r.symbol: r
        for r in hll_rollup_report(hll_registers_read(spark, store)).collect()
    }
    want = {
        r.symbol: r
        for r in registry.queries()["hll_segment_rollup"](spark, sf).collect()
    }
    assert set(got) == set(want) and got
    for s in got:
        assert got[s].n_days == want[s].n_days
        assert got[s].hll_merged == want[s].hll_merged  # bit-identical


def test_hll_merge_batch_replay_is_fixpoint(spark, tmpdir):
    """MAX is idempotent: re-merging the same micro-batch (at-least-once
    foreachBatch after a crash) reports changed == 0 and leaves the
    registers AND the report unchanged — no ledger, no sequence
    columns (the replay-writes-0 contract of the drift monitor)."""
    from options_data_pipeline_spark.streaming.hll_stream import (
        hll_merge_batch,
        hll_registers_read,
        hll_rollup_report,
    )

    base = datetime(2024, 1, 1, 9, 0)
    schema = "event_type string, ts timestamp, user_id bigint"
    store = os.path.join(tmpdir, "store")
    b1 = spark.createDataFrame(
        [("click", base, 1), ("click", base, 2), ("view", base, 1)], schema
    )
    b2 = spark.createDataFrame(
        [("click", base + timedelta(days=1), 2), ("click", base, 3)], schema
    )
    r1 = hll_merge_batch(b1, store)
    assert r1["changed"] == r1["registers"] > 0  # first publish: all new
    r2 = hll_merge_batch(b2, store)
    assert r2["changed"] > 0
    first = sorted(map(tuple, hll_rollup_report(
        hll_registers_read(spark, store)).collect()))
    r3 = hll_merge_batch(b2, store)  # replay
    assert r3["changed"] == 0  # replay writes nothing new
    assert r3["registers"] == r2["registers"]
    replay = sorted(map(tuple, hll_rollup_report(
        hll_registers_read(spark, store)).collect()))
    assert first == replay
    assert {t[0] for t in first} == {"click", "view"}
    click = [t for t in first if t[0] == "click"][0]
    assert click[1] == 2  # n_days


def test_streaming_chunk_store_matches_batch_report(spark, tmpdir):
    """Stream sf0.001 documents through the foreachBatch SET-UNION in
    several micro-batches; the unique-content report from the STORE
    ALONE must equal the batch query's n_distinct_chunks/chars_unique
    over the full corpus (set union is order/partitioning-free)."""
    from options_data_pipeline_spark import registry
    from options_data_pipeline_spark.sources.tables import load_table
    from options_data_pipeline_spark.streaming.chunk_stream import (
        chunk_store_read,
        chunk_store_report,
        streaming_chunk_store,
    )

    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, "documents", sf).select("doc_id", "text")
    src = os.path.join(tmpdir, "cs_src")
    store = os.path.join(tmpdir, "cs_store")
    ck = os.path.join(tmpdir, "cs_ck")
    docs.repartition(4).write.parquet(src)
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = streaming_chunk_store(stream, store, ck).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = chunk_store_report(chunk_store_read(spark, store)).collect()[0]
    want = registry.queries()["content_chunk_dedup"](spark, sf).collect()[0]
    assert got.n_distinct_chunks == want.n_distinct_chunks
    assert got.chars_unique == want.chars_unique


def test_chunk_store_merge_replay_reports_zero_new(spark, tmpdir):
    """SET-UNION is idempotent: re-merging the same micro-batch reports
    new_chunks == new_bytes == 0 and leaves the store unchanged; a
    batch overlapping a prior one pays only its genuinely new bytes —
    the incremental-backup question answered per batch."""
    from options_data_pipeline_spark.streaming.chunk_stream import (
        chunk_store_merge,
        chunk_store_read,
    )

    store = os.path.join(tmpdir, "store")
    schema = "doc_id long, text string"
    b1 = spark.createDataFrame(
        [(0, "shared stable content that chunks deterministically " * 4)],
        schema,
    )
    b2 = spark.createDataFrame(
        [
            (1, "shared stable content that chunks deterministically " * 4),
            (2, "entirely new material never seen in the prior batch " * 4),
        ],
        schema,
    )
    r1 = chunk_store_merge(b1, store)
    assert r1["new_chunks"] == r1["chunks"] > 0
    r2 = chunk_store_merge(b2, store)
    assert 0 < r2["new_chunks"] < r2["chunks"]  # only doc 2's chunks are new
    first = sorted(map(tuple, chunk_store_read(spark, store).collect()))
    r3 = chunk_store_merge(b2, store)  # replay
    assert r3["new_chunks"] == 0 and r3["new_bytes"] == 0
    assert r3["chunks"] == r2["chunks"]
    assert sorted(map(tuple, chunk_store_read(spark, store).collect())) == first


def test_streaming_quality_score_matches_batch(spark, tmpdir):
    """Train-batch / serve-streaming parity: publish weights trained on
    the full sf0.001 corpus, stream the same docs through the
    foreachBatch scorer in several micro-batches, and the stored scores
    must be BIT-IDENTICAL to `quality_train_score`'s batch output (same
    corpus -> same GD trajectory -> same weights; scoring is the same
    fixed-parenthesization squash on both paths)."""
    from options_data_pipeline_spark import registry
    from options_data_pipeline_spark.sources.tables import load_table
    from options_data_pipeline_spark.streaming.quality_stream import (
        publish_quality_weights,
        streaming_quality_score,
    )

    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, "documents", sf).select("doc_id", "text")
    model = os.path.join(tmpdir, "q_model")
    store = os.path.join(tmpdir, "q_store")
    src = os.path.join(tmpdir, "q_src")
    ck = os.path.join(tmpdir, "q_ck")
    publish_quality_weights(docs, model)
    docs.repartition(4).write.parquet(src)
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = streaming_quality_score(stream, model, store, ck).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        r.doc_id: (r.label, r.score, r.keep)
        for r in spark.read.parquet(store).collect()
    }
    want = {
        r.doc_id: (r.label, r.score, r.keep)
        for r in registry.queries()["quality_train_score"](spark, sf).collect()
    }
    assert got == want and got  # bit-identical scores, every doc present


def test_quality_score_merge_replay_writes_zero(spark, tmpdir):
    """SET-UNION on (doc_id, weight_version): a replayed micro-batch
    appends 0 rows; an overlapping batch pays only its new docs."""
    from options_data_pipeline_spark.streaming.quality_stream import (
        publish_quality_weights,
        quality_score_merge_batch,
    )

    schema = "doc_id long, text string"
    corpus = spark.createDataFrame(
        [(i, f"token{i} alpha beta gamma delta " * (2 + i % 3)) for i in range(8)],
        schema,
    )
    model = os.path.join(tmpdir, "model")
    store = os.path.join(tmpdir, "store")
    publish_quality_weights(corpus, model)
    b1 = corpus.filter("doc_id < 4")
    b2 = corpus.filter("doc_id >= 3")  # overlaps b1 on doc 3
    r1 = quality_score_merge_batch(b1, model, store)
    assert r1["appended"] == r1["scored"] == 4
    r2 = quality_score_merge_batch(b2, model, store)
    assert r2["scored"] == 5 and r2["appended"] == 4  # doc 3 deduped
    before = sorted(map(tuple, spark.read.parquet(store).collect()))
    r3 = quality_score_merge_batch(b2, model, store)  # full replay
    assert r3["appended"] == 0
    assert sorted(map(tuple, spark.read.parquet(store).collect())) == before


def test_quality_weight_version_pinning(spark, tmpdir):
    """Scored rows are pinned to the weight version they were scored
    under: a retrain republishes a NEW version through the atomic
    pointer, subsequent batches score under it (and are NOT deduped
    against the old version's rows), and the old rows keep their
    version — mixed-version stores stay auditable."""
    from options_data_pipeline_spark.streaming.quality_stream import (
        publish_quality_weights,
        quality_score_merge_batch,
        read_quality_weights,
    )

    schema = "doc_id long, text string"
    corpus_a = spark.createDataFrame(
        [(i, f"alpha{i} beta gamma " * (1 + i % 4)) for i in range(6)], schema
    )
    # different corpus -> different GD trajectory -> different weights
    corpus_b = spark.createDataFrame(
        [(i, f"x{i} " + "dup dup dup dup " * (1 + i % 2)) for i in range(6)], schema
    )
    model = os.path.join(tmpdir, "model")
    store = os.path.join(tmpdir, "store")
    p1 = publish_quality_weights(corpus_a, model)
    batch = corpus_a.filter("doc_id < 3")
    r1 = quality_score_merge_batch(batch, model, store)
    assert r1["weight_version"] == p1["version"] and r1["appended"] == 3

    p2 = publish_quality_weights(corpus_b, model)
    assert p2["version"] != p1["version"]
    assert p2["weights"] != p1["weights"]
    w_now, v_now = read_quality_weights(spark, model)
    assert (w_now, v_now) == (p2["weights"], p2["version"])

    r2 = quality_score_merge_batch(batch, model, store)  # same docs, new weights
    assert r2["weight_version"] == p2["version"] and r2["appended"] == 3
    rows = spark.read.parquet(store).collect()
    by_version = {}
    for r in rows:
        by_version.setdefault(r.weight_version, set()).add(r.doc_id)
    assert by_version == {p1["version"]: {0, 1, 2}, p2["version"]: {0, 1, 2}}


def test_streaming_gram_index_matches_oneshot_build(spark, tmpdir):
    """Stream documents through the foreachBatch SET-UNION gram merge
    in several micro-batches (index seeded from the first slice); the
    final store's (gram_key, doc_id) set equals a one-shot build over
    the full corpus — set union is order/partitioning-free."""
    from options_data_pipeline_spark.functions.text import (
        build_gram_index,
        read_gram_index,
        streaming_gram_index,
    )
    from options_data_pipeline_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, "documents", sf).select("doc_id", "text")
    seed = docs.filter("doc_id < 10")
    rest = docs.filter("doc_id >= 10")
    path = os.path.join(tmpdir, "g_store")
    src = os.path.join(tmpdir, "g_src")
    ck = os.path.join(tmpdir, "g_ck")
    build_gram_index(seed, path)
    rest.repartition(4).write.parquet(src)
    stream = (
        spark.readStream.schema(rest.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = streaming_gram_index(stream, path, ck).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = sorted(map(tuple, read_gram_index(spark, path).collect()))
    want = sorted(
        map(tuple, build_gram_index(docs, os.path.join(tmpdir, "g_ref")).collect())
    )
    assert got == want and got


def _mixture_docs(spark):
    """3-domain corpus with planted skew (domain c is token-uniform
    and far from the others), small enough for exact driver mirrors."""
    rows = []
    for i in range(6):
        rows.append((i, "a", "common common words here " * (1 + i % 2)))
    for i in range(6, 12):
        rows.append((i, "b", "common words also shared text " * (1 + i % 3)))
    for i in range(12, 18):
        rows.append((i, "c", f"rare{i} unique{i} outlier{i} tok{i}"))
    return spark.createDataFrame(rows, "doc_id long, source string, text string")


def test_streaming_mixture_weights_matches_batch(spark, tmpdir):
    """Stream the corpus in micro-batches through the incremental count
    store; the final published weights must be BIT-IDENTICAL to the
    batch trajectory over the same corpus (exact int counts -> same
    IEEE division -> same gridded mirror descent)."""
    from options_data_pipeline_spark.functions.doremi import (
        domain_token_model,
        doremi_trajectory,
    )
    from options_data_pipeline_spark.streaming.mixture_stream import (
        read_mixture_weights,
        streaming_mixture_weights,
    )

    docs = _mixture_docs(spark)
    store = os.path.join(tmpdir, "m_store")
    model = os.path.join(tmpdir, "m_model")
    src = os.path.join(tmpdir, "m_src")
    ck = os.path.join(tmpdir, "m_ck")
    docs.repartition(4).write.parquet(src)
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = streaming_mixture_weights(stream, store, model, ck).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got, _ = read_mixture_weights(spark, model)
    want, _, _ = doremi_trajectory(domain_token_model(docs))
    assert got == want  # bit-identical, not approximately


def test_mixture_ingest_replay_and_crash_dir(spark, tmpdir):
    """Batch-keyed idempotent commit: a replayed batch_id rewrites the
    same delta (appended_tokens == 0, model unchanged); a crashed dir
    (no _SUCCESS) is invisible to readers."""
    from options_data_pipeline_spark.streaming.mixture_stream import (
        mixture_ingest_batch,
        read_mixture_model,
    )

    docs = _mixture_docs(spark)
    store = os.path.join(tmpdir, "m_store")
    b0 = docs.filter("doc_id < 9")
    b1 = docs.filter("doc_id >= 9")
    r0 = mixture_ingest_batch(b0, 0, store)
    r1 = mixture_ingest_batch(b1, 1, store)
    assert r0["appended_tokens"] == r0["tokens"] > 0
    assert r1["appended_tokens"] == r1["tokens"] > 0
    before = sorted(map(tuple, read_mixture_model(spark, store).collect()))
    rr = mixture_ingest_batch(b1, 1, store)  # replay
    assert rr["appended_tokens"] == 0 and rr["tokens"] == r1["tokens"]
    assert sorted(map(tuple, read_mixture_model(spark, store).collect())) == before
    # crash injection: a batch dir without _SUCCESS must not count
    crash = os.path.join(store, "deltas", "batch_id=9")
    os.makedirs(crash)
    with open(os.path.join(crash, "part-orphan.parquet"), "wb") as f:
        f.write(b"torn")
    assert sorted(map(tuple, read_mixture_model(spark, store).collect())) == before


def test_mixture_compaction_and_version_pinning(spark, tmpdir):
    """Compaction folds deltas into one generation with an unchanged
    model; weight republish after more data swaps the pointer and the
    new version is what readers see (old versions stay on disk for the
    publish discipline's crash window)."""
    from options_data_pipeline_spark.streaming.mixture_stream import (
        compact_mixture_model,
        mixture_ingest_batch,
        publish_mixture_weights,
        read_mixture_model,
        read_mixture_weights,
    )

    docs = _mixture_docs(spark)
    store = os.path.join(tmpdir, "m_store")
    model = os.path.join(tmpdir, "m_model")
    mixture_ingest_batch(docs.filter("doc_id < 9"), 0, store)
    p1 = publish_mixture_weights(spark, store, model)
    w1, v1 = read_mixture_weights(spark, model)
    assert (w1, v1) == (p1["weights"], p1["version"])
    mixture_ingest_batch(docs.filter("doc_id >= 9"), 1, store)
    before = sorted(map(tuple, read_mixture_model(spark, store).collect()))
    rep = compact_mixture_model(spark, store)
    assert rep["folded_deltas"] == 2
    assert sorted(map(tuple, read_mixture_model(spark, store).collect())) == before
    assert not os.listdir(os.path.join(store, "deltas"))
    p2 = publish_mixture_weights(spark, store, model)
    w2, v2 = read_mixture_weights(spark, model)
    assert v2 == p2["version"] != v1
    assert w2 != w1  # domain c arrived in batch 1 -> trajectory moved
    assert abs(sum(w2.values()) - 1.0) < 1e-9


def _cluster_docs(spark):
    """Seed + growth corpus with cross-batch and within-batch near-dup
    structure: docs 0/1 near-dup (seed), 10 near-dups doc 0 (batch),
    11/12 near-dup each other only, 13 unique."""
    base = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    rows = [
        (0, base + " k0"),
        (1, base + " k1"),
        (2, "completely different seed text q1 q2 q3 q4 q5 q6"),
        (10, base + " k2"),
        (11, "another shared block s1 s2 s3 s4 s5 s6 s7 s8"),
        (12, "another shared block s1 s2 s3 s4 s5 s6 s7 s9"),
        (13, "unique growth document with its own words only here"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_streaming_cluster_map_matches_oneshot(spark, tmpdir):
    """Stream growth docs through the cluster-map loop in micro-batches;
    the final stored map equals a from-scratch CC over the full corpus's
    candidate graph."""
    from options_data_pipeline_spark.functions.dedupe import (
        build_cluster_map,
        build_lsh_index,
        connected_components_star,
        minhash_lsh_candidates,
        read_cluster_map,
    )
    from options_data_pipeline_spark.streaming.cluster_stream import (
        streaming_cluster_map,
    )

    docs = _cluster_docs(spark)
    seed = docs.filter("doc_id < 10")
    rest = docs.filter("doc_id >= 10")
    map_path = os.path.join(tmpdir, "cmap")
    sig_path = os.path.join(tmpdir, "sigs")
    src = os.path.join(tmpdir, "c_src")
    ck = os.path.join(tmpdir, "c_ck")
    build_lsh_index(seed, sig_path)
    build_cluster_map(minhash_lsh_candidates(seed), map_path)
    rest.repartition(3).write.parquet(src)
    stream = (
        spark.readStream.schema(rest.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = streaming_cluster_map(stream, map_path, sig_path, ck).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = sorted(map(tuple, read_cluster_map(spark, map_path).collect()))
    want = sorted(
        map(
            tuple,
            connected_components_star(minhash_lsh_candidates(docs)).collect(),
        )
    )
    assert got == want and got


def test_cluster_ingest_replay_and_crash_window(spark, tmpdir):
    """Replay touches neither store; a crash BETWEEN merge and append
    (the designed window) replays to convergence — same edges, merge
    no-op, append completes."""
    from options_data_pipeline_spark.functions.dedupe import (
        build_cluster_map,
        build_lsh_index,
        incremental_lsh_candidates,
        merge_cluster_map,
        minhash_lsh_candidates,
        read_cluster_map,
        read_lsh_index,
    )
    from options_data_pipeline_spark.streaming.cluster_stream import (
        cluster_ingest_batch,
    )

    docs = _cluster_docs(spark)
    seed = docs.filter("doc_id < 10")
    b1 = docs.filter("doc_id >= 10 and doc_id < 12")
    b2 = docs.filter("doc_id >= 12")
    map_path = os.path.join(tmpdir, "cmap")
    sig_path = os.path.join(tmpdir, "sigs")
    build_lsh_index(seed, sig_path)
    build_cluster_map(minhash_lsh_candidates(seed), map_path)

    r1 = cluster_ingest_batch(b1, map_path, sig_path)
    assert r1["fresh_docs"] == 2 and r1["sig_rows_appended"] == 2
    rr = cluster_ingest_batch(b1, map_path, sig_path)  # full replay
    assert rr["fresh_docs"] == 0 and rr["sig_rows_appended"] == 0
    state = sorted(map(tuple, read_cluster_map(spark, map_path).collect()))

    # crash injection: run b2's MERGE but not its append (the window)
    idx = read_lsh_index(spark, sig_path)
    pairs = (
        incremental_lsh_candidates(b2, idx)
        .select("doc_a", "doc_b")
        .unionByName(minhash_lsh_candidates(b2))
    )
    merge_cluster_map(pairs, map_path)
    # replayed ingest: b2 still fresh (no signatures) -> same edges,
    # merge no-op, append completes -> converged state
    r2 = cluster_ingest_batch(b2, map_path, sig_path)
    assert r2["fresh_docs"] == 2 and r2["relabeled"] == 0
    assert r2["sig_rows_appended"] == 2
    got = sorted(map(tuple, read_cluster_map(spark, map_path).collect()))
    assert got != state  # b2's cluster (11,12) landed exactly once
    assert (11, 11) in got and (12, 11) in got
