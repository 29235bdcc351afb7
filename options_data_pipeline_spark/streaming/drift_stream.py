"""Streaming DISTRIBUTION-DRIFT monitor: freeze a reference histogram
once (the distribution the model/pipeline was validated on), then
maintain live bin counts incrementally from the event stream and answer
the chi-square drift verdict from STORED CELLS ONLY — no raw-history
re-scan, the monitoring twin of the one-shot ``chi2_drift`` registry
query.

Exactly-once composes the seasonal-stream way: counts are not
idempotent, so each micro-batch reduces to its OWN cell partials tagged
with the foreachBatch ``batch_id`` and appends them through the WAL
sink's anti-join append — a crash replay finds its rows present and
writes nothing. The reference publishes through the shared versioned
atomic pointer swap (``sources/store.py``) (a crash mid-publish leaves the previous
reference readable), and every micro-batch bins against the PUBLISHED
reference range, so a reference rebuild never tears a batch.

All math lives in operators/drift.py and is shared verbatim with the
batch recomputation — batch/stream parity is structural, asserted by
the parity test in test_streaming.py.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.drift import chi2_between, hist_cells, value_range
from ..sources import store
from ..sources.local import local_frame
from .sink import idempotent_append_batch


def publish_reference(events: DataFrame, ref_path: str) -> None:
    """Freeze the reference: the value range and the reference cell
    counts from one (batch) table of events, behind the atomic
    versioned pointer. Rebuilding later is the same call — readers
    always see one complete version."""
    vdir = store.next_generation(ref_path)
    value_range(events).coalesce(1).write.parquet(os.path.join(vdir, "range"))
    # bin against the range READ BACK from what was just written: one
    # aggregate scan instead of two, and the stored cells are guaranteed
    # binned by the exact stored range
    rng = events.sparkSession.read.parquet(os.path.join(vdir, "range"))
    hist_cells(events, rng).coalesce(1).write.parquet(
        os.path.join(vdir, "cells")
    )
    store.publish(ref_path, vdir)


def _read_reference(
    spark: SparkSession, ref_path: str
) -> tuple[DataFrame, DataFrame, str]:
    """(range, cells, version) of the PUBLISHED reference. The version
    string keys everything downstream: live partials are tagged with
    the version they were binned under, so a reference rebuild can
    never silently mix counts from incompatible binnings."""
    vdir = store.require(ref_path, "drift monitor", "reference")
    return (
        spark.read.parquet(os.path.join(vdir, "range")),
        spark.read.parquet(os.path.join(vdir, "cells")),
        os.path.basename(vdir),
    )


_LIVE_SCHEMA = (
    "id string, batch_id long, ref_version string,"
    " event_type string, bin int, n long"
)


def drift_merge_batch(
    batch: DataFrame, ref_path: str, store_path: str, batch_id: int
) -> int:
    """Bin one micro-batch against the published reference range and
    idempotently append its cell partials (keyed by batch_id × cell ×
    reference version). Returns rows written — 0 on a replay."""
    rng, _, version = _read_reference(batch.sparkSession, ref_path)
    part = hist_cells(batch, rng).select(
        F.concat_ws(
            "|",
            F.lit(version),
            F.lit(str(batch_id)),
            F.col("event_type"),
            F.col("bin").cast("string"),
        ).alias("id"),
        F.lit(batch_id).alias("batch_id"),
        F.lit(version).alias("ref_version"),
        "event_type",
        "bin",
        "n",
    )
    # every id embeds its batch_id, so the batch's own rows are the only
    # ones it can collide with, and an empty batch reads no store data
    return idempotent_append_batch(part, store_path, id_col="id", prune_col="batch_id")


def live_cells_read(
    spark: SparkSession, store_path: str, ref_version: str
) -> DataFrame:
    """True live cells from the stored partials (associative sum),
    restricted to partials binned under ``ref_version`` — counts from
    an older reference use a different bin geometry and MUST NOT merge.
    Empty (never-written) store → empty cells, not a read error."""
    from .sink import sink_has_data

    if not sink_has_data(store_path):
        return local_frame(spark, [], _LIVE_SCHEMA).select(
            "event_type", "bin", "n"
        )
    return (
        spark.read.parquet(store_path)
        .filter(F.col("ref_version") == ref_version)
        .groupBy("event_type", "bin")
        .agg(F.sum("n").alias("n"))
    )


def drift_report(
    spark: SparkSession, ref_path: str, store_path: str, threshold: float = 4.0
) -> DataFrame:
    """The chi-square drift verdict from stored state only — reference
    cells vs the live cells accumulated UNDER THE CURRENT reference
    version, via the shared operators/drift.py math. Callable any time:
    before the first micro-batch (or right after a reference rebuild)
    every type reports n_live = 0 with a NULL verdict."""
    _, ref_cells, version = _read_reference(spark, ref_path)
    return chi2_between(
        ref_cells, live_cells_read(spark, store_path, version), threshold
    )


def streaming_drift_monitor(
    stream: DataFrame, ref_path: str, store_path: str, checkpoint_dir: str
):
    """Wire an event stream into the live cell store:
    ``streaming_drift_monitor(...).start()`` + the checkpoint gives
    exactly-once cell maintenance; call :func:`drift_report` any time
    for the current verdict."""

    def write(batch: DataFrame, batch_id: int) -> None:
        drift_merge_batch(batch, ref_path, store_path, batch_id)

    return (
        stream.writeStream.foreachBatch(write)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
