"""End-to-end volatility-harvester pipeline (reference ``main.py`` §3.1).

The reference's session orchestration — calendar gate → session hours →
tick ingest → per-window freeze/finalize → gap-fill → ATR → id/segment
enrichment → dedup write → state snapshot — collapses into two Spark
programs:

 - :func:`run_batch` — one DataFrame chain over a day (or any range) of
   stored ticks, materialized once and read by three consumers: the
   idempotent append's bound probe and anti-join delta, and the
   ``atr_state`` snapshot (the reference likewise writes ``market_data``
   and ``atr_state`` from one in-memory result).
   This is the "DataFrame transforms + scheduled jobs" shape from
   BASELINE.json: a scheduler triggers it per session; the calendar gate
   is a job predicate, not dataflow.
 - :func:`run_streaming` — the live twin: watermarked OHLC append stream →
   a foreachBatch ATR stage that runs the batch fold seeded from the
   state the previous micro-batch published (streaming/fold_state.py) →
   idempotent sink, with checkpointing.

Scale: everything between the tick scan and the sink groups/windows by
symbol — one shuffle into (symbol, window) grain, then one shuffle on
symbol that gap-fill's span window, the TR window and the ATR fold all
reuse; gap-fill's batch-wide last window is a scalar subquery. The
batch sink is not partitioned: the append's dedup read prunes by a
``window_start`` range filter over the batch's own bounds, which parquet
row-group statistics turn into skipped reads.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .operators.ohlc import ohlc_candles
from .operators.truerange import with_true_range
from .operators.atr import with_wilder_atr, atr_summary
from .operators.gapfill import gap_fill
from .operators.ids import with_row_id
from .operators.filters import in_session
from .operators.joins import attach_segment, calendar_gate, session_hours_gate
from .streaming.ohlc_stream import streaming_ohlc
from .streaming.fold_state import atr_stage
from .streaming.sink import idempotent_append_batch, overwrite_snapshot


def enrich_candles(
    ticks: DataFrame,
    interval: str = "5 minutes",
    interval_seconds: int = 300,
    symbols: DataFrame | None = None,
    instruments: DataFrame | None = None,
) -> DataFrame:
    """ticks → gap-filled, TR/ATR-enriched, id'd candle rows (the
    market_data fact schema, reference schema_manager.py:20-24 + the
    explicit gap_filled column the reference drops by accident).

    Lazy and cache-free: the OHLC aggregate shuffles on (symbol, window),
    and gap-fill's span window, the TR window and the ATR fold share one
    symbol shuffle."""
    candles = ohlc_candles(ticks, interval)
    filled = gap_fill(candles, interval_seconds, symbols=symbols)
    enriched = with_wilder_atr(with_true_range(filled).drop("prev_close"))
    enriched = with_row_id(enriched)
    if instruments is not None:
        enriched = attach_segment(enriched, instruments)
    return enriched


def run_batch(
    ticks: DataFrame,
    sink_path: str,
    state_path: str | None = None,
    calendar: DataFrame | None = None,
    open_hm: str = "09:15",
    close_hm: str = "15:30",
    interval: str = "5 minutes",
    interval_seconds: int = 300,
    symbols: DataFrame | None = None,
    instruments: DataFrame | None = None,
) -> int:
    """The per-session batch job. Returns rows written (idempotent:
    re-running the same session writes 0).

    The enriched chain is materialized once (cached) and read by three
    consumers: the sink's bound probe, its anti-join delta and the
    ``atr_summary`` snapshot — so gap-fill, the TR window and the ATR
    fold run once per session, not once per action. That one cache is
    released on return, also when a write raises."""
    if calendar is not None and "session_open" in calendar.columns:
        # full per-date gate: holidays drop, special sessions (Muhurat)
        # override the default hours AND trade on otherwise-closed days
        ticks = session_hours_gate(
            ticks, calendar, default_open=open_hm, default_close=close_hm
        )
    else:
        if calendar is not None:
            ticks = calendar_gate(ticks, calendar)
        ticks = in_session(ticks, open_hm, close_hm)
    enriched = enrich_candles(
        ticks, interval, interval_seconds, symbols, instruments
    ).cache()
    try:
        written = idempotent_append_batch(enriched, sink_path)
        if state_path is not None:
            overwrite_snapshot(atr_summary(enriched), state_path)
    finally:
        enriched.unpersist()
    return written


CANDLE_STREAM_SCHEMA = (
    "symbol string, window_start timestamp, open double, high double,"
    " low double, close double, tick_count long"
)


def run_streaming(
    tick_stream: DataFrame,
    candle_path: str,
    sink_path: str,
    checkpoint_path: str,
    interval: str = "5 minutes",
    watermark: str = "500 milliseconds",
    dense_path: str | None = None,
    interval_seconds: int = 300,
    universe: DataFrame | None = None,
    densify_max_files: int | None = 32,
    manifest_maintain_every: int | None = None,
    atr_max_files: int | None = None,
    sessions_path: str | None = None,
    session_gap: str = "2 hours",
    session_watermark: str = "30 minutes",
    latest_path: str | None = None,
    metrics_path: str | None = None,
):
    """The live twin: chained streaming stages (Spark disallows a stateful
    grouped-map after a streaming aggregation in one query, and the
    reference likewise materializes candles before enrichment).

    Stage 1: watermarked OHLC append stream → candle parquet.
    Stage 1.5 (optional, ``dense_path``): gap-fill densifier — flat
        candles for silent (symbol, window) slots, chained across
        micro-batch boundaries (reference W4 at its native streaming
        position, gapfill_stream.py).
    Stage 2: candle stream → foreachBatch Wilder ATR → id → idempotent
        sink. Each micro-batch folds from the per-symbol state the
        previous one published under the stage's checkpoint and then
        publishes its own (streaming/fold_state.py); the stage keeps no
        Spark state store, so its ``pipeline_metrics.state_rows`` read 0.
    Stage 3 (optional, ``sessions_path``): tick stream → watermarked
        session_window silence detector → session sink (the W7
        heartbeat as a parallel stateful branch).
    Stage 4 (optional, ``latest_path``): candle stream → CDC latest-wins
        upsert → live "current candle per symbol" snapshot (the
        reference's current-state tab, S4, maintained incrementally by
        the idempotent foreachBatch merge in streaming/cdc_stream.py).

    Stage 5 (optional, ``metrics_path``): a MetricsListener
        (streaming/metrics.py) lands every stage's per-micro-batch
        progress — and alert escalations — in the ``pipeline_metrics``
        parquet table; each stage query is named so metric rows carry
    the stage label. The listener is session-scoped: callers that
    restart pipelines in one session should
    ``spark.streams.removeListener`` the returned queries' listener
    (exposed as ``queries.metrics`` on the returned tuple subclass).

    Returns the started queries. Restart recovery = the per-stage
    checkpointLocations (reference CheckpointManager, §2.8); every stage
    boundary is replay-safe (append-once emission or dedup-by-id sinks).
    """
    import os

    spark = tick_stream.sparkSession
    queries = []
    metrics_listener = None
    alert_listener = None
    if metrics_path is not None:
        from .streaming.listeners import AlertManager, PipelineListener
        from .streaming.metrics import attach_metrics

        metrics_listener = attach_metrics(spark, metrics_path)
        # the reference's alert channel rides the same table: silence
        # heartbeats, watermark-drop accounting, and WARNING→CRITICAL
        # escalations land as alert rows next to the latency rows
        alert_listener = PipelineListener(
            alerts=AlertManager(on_fire=metrics_listener.alert_row)
        )
        spark.streams.addListener(alert_listener)
    # a downstream stage may start before its upstream writes anything —
    # the file stream source tolerates an empty dir but not a missing one
    os.makedirs(candle_path, exist_ok=True)
    if dense_path is not None:
        os.makedirs(dense_path, exist_ok=True)
    candles = streaming_ohlc(tick_stream, interval, watermark)
    queries.append(
        candles.writeStream.queryName("candles")
        .format("parquet")
        .option("path", candle_path)
        .option("checkpointLocation", checkpoint_path + "/candles")
        .outputMode("append")
        .start()
    )

    atr_src_path = candle_path
    if dense_path is not None:
        from .streaming.gapfill_stream import run_densify_stage

        # paced trigger BY DEFAULT (densify_max_files): unbounded, the file
        # source hands the densifier every candle file its upstream has
        # written since the last trigger — multi-slice gulps measured at
        # p95 = 22.6 s against the 30 s write-timeout NFR (reference
        # WRITE_TIMEOUT_S, config/settings.py:54). Bounding files-per-
        # trigger keeps each densify batch (and its scaffold join) small
        # and the NFR headroom wide; idempotent dedup-by-grain appends
        # make the finer batch slicing correctness-neutral.
        candle_reader = spark.readStream.schema(CANDLE_STREAM_SCHEMA)
        if densify_max_files is not None:
            candle_reader = candle_reader.option(
                "maxFilesPerTrigger", densify_max_files
            )
        candle_stream = candle_reader.parquet(candle_path)
        queries.append(
            run_densify_stage(
                candle_stream,
                dense_path,
                checkpoint_path + "/dense",
                interval_seconds,
                universe,
            )
        )
        atr_src_path = dense_path

    # gap_filled / the date partition column exist only in the dense sink;
    # reading the plain candle sink with the wider schema yields NULLs for
    # them (parquet semantics). The declared schema must include `date`
    # when the source IS the dense sink or the file-stream batch planner
    # rejects the partitioned files (schema mismatch assertion).
    atr_schema = CANDLE_STREAM_SCHEMA + ", gap_filled boolean"
    if dense_path is not None:
        atr_schema += ", date date"
    atr_reader = spark.readStream.schema(atr_schema)
    if atr_max_files is not None:
        # bound candle files per ATR trigger (same pacing rationale as
        # densify_max_files; also lets tests drive multi-batch sink runs)
        atr_reader = atr_reader.option("maxFilesPerTrigger", atr_max_files)
    atr_stream = atr_reader.parquet(atr_src_path)
    if dense_path is not None:
        atr_stream = atr_stream.drop("date")
    if manifest_maintain_every is not None:
        # versioned manifest sink with in-loop OPTIMIZE/VACUUM: the
        # maintenance pair runs inside foreachBatch every N batches, so
        # it is serialized with appends (single-writer by construction)
        # while the stream stays live — the composition a deployment
        # actually runs (post-commit auto-compaction)
        from .streaming.sink import manifest_foreach_batch_writer

        write = manifest_foreach_batch_writer(
            sink_path, maintain_every=manifest_maintain_every
        )
    else:
        def write(batch: DataFrame, batch_id: int) -> None:
            idempotent_append_batch(batch, sink_path)

    queries.append(
        atr_stream.writeStream.queryName("enriched")
        .foreachBatch(atr_stage(checkpoint_path + "/enriched", write))
        .outputMode("append")
        .option("checkpointLocation", checkpoint_path + "/enriched")
        .start()
    )

    if sessions_path is not None:
        # silence detector (reference ws_client.py:228-244 heartbeat) as
        # a parallel stateful branch off the SAME tick stream: finalized
        # gap-sessions append to their own sink — each emitted row is a
        # "symbol went silent after N ticks" record with the lateness
        # bound made explicit by the watermark (session_stream.py)
        from .streaming.session_stream import streaming_sessions

        queries.append(
            streaming_sessions(
                tick_stream, gap=session_gap, watermark_delay=session_watermark
            )
            .writeStream.queryName("sessions")
            .format("parquet")
            .option("path", sessions_path)
            .option("checkpointLocation", checkpoint_path + "/sessions")
            .outputMode("append")
            .start()
        )

    if latest_path is not None:
        # current-state snapshot: latest candle per symbol, keyed merge
        # (candles never delete, so every change is an upsert; the seq is
        # the window start — a replayed or out-of-order candle file can
        # never regress the snapshot)
        from .streaming.cdc_stream import streaming_cdc_upsert

        latest_src = (
            spark.readStream.schema(CANDLE_STREAM_SCHEMA)
            .parquet(candle_path)
            .withColumn("op", F.lit("U"))
        )
        queries.append(
            streaming_cdc_upsert(
                latest_src,
                latest_path,
                checkpoint_path + "/latest",
                key_cols=["symbol"],
                seq_cols=["window_start"],
            )
            .queryName("latest")
            .start()
        )
    out = _Queries(queries)
    out.metrics = metrics_listener
    out.alerts = alert_listener
    return out


class _Queries(tuple):
    """Started-queries tuple + the optional listeners."""

    metrics = None
    alerts = None
