"""Per-symbol fold state carried across micro-batches: the live stages
run the batch recursion (operators/fold.py) with no Python worker.

A live stage is a ``foreachBatch`` over its input stream. Each
micro-batch:

 1. seeds the fold per symbol from the state generation the previous
    batch published (``sources/store.py``): the state table, a few
    scalars per symbol, is broadcast-joined onto the batch as
    ``seed_<field>`` columns, which the fold's initial values read from
    the key's first row (``__fold_rows[0].seed_<field>``);
 2. caches the folded rows once and hands them, without the state
    columns, to the stage's writer;
 3. publishes the next generation: each symbol's state after its last
    row, plus the unchanged state of the symbols the batch did not
    touch, with the batch id recorded beside it.

This is the reference's write-then-confirm checkpoint
(``checkpoint_manager.py:62-67``: ``last_window``, ``atr_state``,
``sheets_write_confirmed``). A crash between the write and the publish
replays the batch from the same seed, and the idempotent sink absorbs
the second write. A batch whose id the current generation already
records was published before the crash: it seeds from the previous
generation and publishes nothing, so any number of replays see the same
seed (Delta's idempotent foreachBatch write keys on the batch id the
same way). An empty micro-batch writes and publishes nothing. State
lives under the stage's checkpoint directory, so it moves, and starts
over, with the checkpoint.

The first state field counts the key's rows, so the last row of a key
in a batch is the one with the largest state struct.
"""

from __future__ import annotations

import os
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter

from ..operators.atr import ATR_CLAMP, ATR_PERIOD, wilder_state, wilder_step
from ..operators.fold import ROWS, fold_per_key, py_max
from ..operators.ids import with_row_id
from ..sources import store
from ..sources.local import local_frame

STATE_DIR = "fold_state"  # under the stage's checkpoint directory
_BATCH_ID = "BATCH_ID"  # the micro-batch a generation's state follows


def _seed(field: str, default: str = "NULL") -> str:
    """A fold initial value: the key's published ``field``, else ``default``."""
    return f"coalesce({ROWS}[0].seed_{field}, {default})"


def seeded_stage(
    checkpoint_dir: str,
    state: list[tuple[str, str]],
    fold: Callable[[DataFrame], DataFrame],
    write: Callable[[DataFrame, int], None] | None = None,
) -> Callable[[DataFrame, int], None]:
    """The ``foreachBatch`` function of a stage whose ``fold`` maps a
    batch with ``seed_<field>`` columns to one row per input row carrying
    the ``state`` fields (``(name, sql type)`` pairs) after that row;
    ``write(rows, batch_id)`` receives the rows without those fields."""
    path = os.path.join(checkpoint_dir, STATE_DIR)
    fields = [f for f, _ in state]
    schema = ", ".join(["symbol STRING"] + [f"{f} {t}" for f, t in state])

    def run(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        gen, replay = store.current(path), False
        if gen is not None and _batch_id(gen) == batch_id:
            gen, replay = store.previous(path), True
        seed = (
            local_frame(spark, [], schema)
            if gen is None
            else spark.read.schema(schema).parquet(os.path.join(gen, "state"))
        )
        seeds = seed.select("symbol", *[F.col(f).alias(f"seed_{f}") for f in fields])
        out = fold(batch.join(F.broadcast(seeds), "symbol", "left")).cache()
        try:
            if out.count() == 0:  # fills the cache the writer reads
                return
            if write is not None:
                write(out.drop(*fields), batch_id)
            if replay:
                return
            last = out.groupBy("symbol").agg(F.max(F.struct(*fields)).alias("s"))
            last = last.select("symbol", "s.*")
            nxt = last.unionByName(seed.join(last.select("symbol"), "symbol", "left_anti"))
            new = store.next_generation(path)
            nxt.coalesce(1).write.parquet(os.path.join(new, "state"))
            with open(os.path.join(new, _BATCH_ID), "w") as f:
                f.write(str(batch_id))
            store.publish(path, new)
        finally:
            out.unpersist()

    return run


def _batch_id(gen: str) -> int:
    with open(os.path.join(gen, _BATCH_ID)) as f:
        return int(f.read())


def read_state(spark: SparkSession, checkpoint_dir: str) -> DataFrame:
    """The state the stage at ``checkpoint_dir`` last published, one row
    per symbol; FileNotFoundError before its first non-empty batch."""
    gen = store.require(os.path.join(checkpoint_dir, STATE_DIR), "read_state", "state")
    return spark.read.parquet(os.path.join(gen, "state"))


# -- live Wilder ATR (reference W6): the batch state and step, seeded ------

ATR_STATE = [("i", "INT"), ("acc", "DOUBLE"), ("prev", "DOUBLE"), ("pc", "DOUBLE")]


def _atr_fold(seeded: DataFrame, period: int = ATR_PERIOD) -> DataFrame:
    """candles + seeds → + tr, atr, id and the state. ``pc`` is the
    previous close, so the TR step needs no window; TR is Python's
    ``max`` of the same three terms as operators/truerange.py."""
    return with_row_id(
        fold_per_key(
            seeded,
            state=[
                ("tr", "DOUBLE", "NULL"),
                *wilder_state(_seed("i", "0"), _seed("acc", "0D"), _seed("prev")),
                ("pc", "DOUBLE", _seed("pc")),
            ],
            steps=[
                {"tr": py_max("x.high - x.low", "abs(x.high - s.pc)", "abs(x.low - s.pc)")},
                {**wilder_step(period, "s.tr"), "pc": "x.close"},
            ],
            emit={"tr": "s.tr", "atr": ATR_CLAMP, **{f: f"s.{f}" for f, _ in ATR_STATE}},
            keep=[c for c in seeded.columns if not c.startswith("seed_")],
        )
    )


def atr_stage(
    checkpoint_dir: str, write: Callable[[DataFrame, int], None]
) -> Callable[[DataFrame, int], None]:
    """The live ATR stage: candle micro-batches → ``write(enriched,
    batch_id)`` with the candle columns + ``tr``, ``atr`` and ``id``,
    equal to ``with_wilder_atr(with_true_range(...))`` over all candles
    so far whatever the batch boundaries."""
    return seeded_stage(checkpoint_dir, ATR_STATE, _atr_fold, write)


# -- live max drawdown: the risk panel the batch max_drawdown query reads --

DRAWDOWN_STATE = [
    ("n_ticks", "BIGINT"),
    ("peak", "DOUBLE"),
    ("max_drawdown", "DOUBLE"),
    ("trough_ts", "TIMESTAMP"),
    ("trough_event_id", "BIGINT"),
]


def _drawdown_fold(seeded: DataFrame) -> DataFrame:
    """ticks + seeds → the drawdown state after every tick, in (ts,
    event_id) order: the fold sorts each key's rows by ``ts`` and then by
    the next column. ``dd = price/peak − 1`` and a strict ``<`` keep the
    first minimal trough, the batch query's (drawdown, ts, event_id)
    struct-min tie-break."""
    first = "s.max_drawdown IS NULL OR s.dd < s.max_drawdown"
    seeds = [c for c in seeded.columns if c.startswith("seed_")]
    return fold_per_key(
        seeded.select("symbol", "ts", "event_id", "price", *seeds),
        state=[(f, t, _seed(f, "0" if f == "n_ticks" else "NULL")) for f, t in DRAWDOWN_STATE]
        + [("dd", "DOUBLE", "NULL")],
        steps=[
            {"n_ticks": "s.n_ticks + 1", "peak": "IF(s.peak IS NULL OR x.price > s.peak, x.price, s.peak)"},
            {"dd": "x.price / s.peak - 1"},
            {
                "max_drawdown": f"IF({first}, s.dd, s.max_drawdown)",
                "trough_ts": f"IF({first}, x.ts, s.trough_ts)",
                "trough_event_id": f"IF({first}, x.event_id, s.trough_event_id)",
            },
        ],
        emit={f: f"s.{f}" for f, _ in DRAWDOWN_STATE},
        keep=["symbol"],
        order="ts",
    )


def streaming_max_drawdown(ticks: DataFrame, checkpoint_dir: str) -> DataStreamWriter:
    """Wire a tick stream (symbol, price, ts, event_id, …) into the live
    drawdown panel: ``streaming_max_drawdown(...).start()``; the panel
    is :func:`drawdown_panel`, read any time without rescanning history."""
    return (
        ticks.writeStream.foreachBatch(seeded_stage(checkpoint_dir, DRAWDOWN_STATE, _drawdown_fold))
        .option("checkpointLocation", checkpoint_dir)
    )


def drawdown_panel(spark: SparkSession, checkpoint_dir: str) -> DataFrame:
    """Per symbol: running peak, worst drawdown, its trough and ticks seen."""
    return read_state(spark, checkpoint_dir).select(
        "symbol", "peak", "max_drawdown", "trough_ts", "trough_event_id", "n_ticks"
    )
