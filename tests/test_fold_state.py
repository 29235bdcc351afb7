"""The live fold stages (streaming/fold_state.py), driven directly on
DataFrame splits with no streaming query: any split of the candles into
micro-batches gives the batch operators' tr/atr bit for bit, and the
crash windows around the state publish converge to an uncrashed run."""

from __future__ import annotations

import os
import random
import shutil
import tempfile
from datetime import datetime, timedelta

import pytest

from options_data_pipeline_spark.operators.atr import with_wilder_atr
from options_data_pipeline_spark.operators.truerange import with_true_range
from options_data_pipeline_spark.sources import store
from options_data_pipeline_spark.sources.local import local_frame
from options_data_pipeline_spark.streaming.fold_state import (
    STATE_DIR,
    atr_stage,
    read_state,
)
from options_data_pipeline_spark.streaming.sink import idempotent_append_batch

CANDLES = (
    "symbol string, window_start timestamp, open double, high double,"
    " low double, close double, tick_count long, gap_filled boolean"
)
BASE = datetime(2024, 1, 1, 9, 15)


def _candles(lengths=(1, 5, 13, 14, 15, 30), seed=7):
    """Random-walk candles, one symbol per series length, every series
    starting at window 0 (a cut at window k splits each long series after
    its k-th candle)."""
    rng, rows = random.Random(seed), []
    for k, n in enumerate(lengths):
        px = 100.0
        for w in range(n):
            px += rng.uniform(-2, 2)
            hi, lo = px + rng.random(), px - rng.random()
            rows.append((f"S{k}", BASE + timedelta(minutes=5 * w), px, hi, lo, rng.uniform(lo, hi), 3, None))
    return rows


def _batches(spark, rows, cuts):
    """The candles in window order, split at the window indexes ``cuts``."""
    edges = [BASE + timedelta(minutes=5 * c) for c in cuts]
    bounds = [None, *edges, None]
    return [
        local_frame(spark, [r for r in rows if (lo is None or r[1] >= lo) and (hi is None or r[1] < hi)], CANDLES)
        for lo, hi in zip(bounds, bounds[1:])
    ]


def _append(sink):
    return lambda batch, _: idempotent_append_batch(batch, sink)


def _rows(df):
    return sorted(map(tuple, df.select(*sorted(df.columns)).collect()), key=repr)


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="odp_fold_state_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


@pytest.mark.parametrize("cuts", [(13,), (14,), (15,), (1, 14, 15, 29)])
def test_any_split_matches_batch_operators(spark, tmpdir, cuts):
    """Cuts on the warm-up edges: the batch that completes 13, 14 or 15
    candles, and a one-candle batch, all give bit-equal tr/atr."""
    rows = _candles()
    stage = atr_stage(tmpdir + "/ckpt", _append(tmpdir + "/sink"))
    for batch_id, batch in enumerate(_batches(spark, rows, cuts)):
        stage(batch, batch_id)
    got = {(r.symbol, r.window_start): (r.tr, r.atr) for r in spark.read.parquet(tmpdir + "/sink").collect()}
    full = with_wilder_atr(with_true_range(local_frame(spark, rows, CANDLES)).drop("prev_close"))
    want = {(r.symbol, r.window_start): (r.tr, r.atr) for r in full.collect()}
    assert len(got) == len(rows)
    assert got == want


@pytest.fixture(scope="module")
def uncrashed(spark):
    """Sink and state rows of three batches run without a crash."""
    d = tempfile.mkdtemp(prefix="odp_fold_ref_")
    stage = atr_stage(d + "/ckpt", _append(d + "/sink"))
    for batch_id, batch in enumerate(_batches(spark, _candles(), (10, 20))):
        stage(batch, batch_id)
    yield _rows(spark.read.parquet(d + "/sink")), _rows(read_state(spark, d + "/ckpt"))
    shutil.rmtree(d, ignore_errors=True)


def _assert_converged(spark, tmpdir, uncrashed):
    sink, state = uncrashed
    assert _rows(spark.read.parquet(tmpdir + "/sink")) == sink
    assert _rows(read_state(spark, tmpdir + "/ckpt")) == state


def test_crash_between_append_and_publish_replays_to_uncrashed(spark, tmpdir, uncrashed):
    """Batch 1 is appended, then the process dies before its state is
    published: the replay seeds from batch 0's state again, appends
    nothing new and publishes batch 1's state."""
    sink, ckpt = tmpdir + "/sink", tmpdir + "/ckpt"
    b0, b1, b2 = _batches(spark, _candles(), (10, 20))
    stage = atr_stage(ckpt, _append(sink))
    stage(b0, 0)

    def append_then_die(batch, batch_id):
        idempotent_append_batch(batch, sink)
        raise RuntimeError("killed before the state publish")

    spark.catalog.clearCache()
    with pytest.raises(RuntimeError):
        atr_stage(ckpt, append_then_die)(b1, 1)
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    stage(b1, 1)  # the restarted query replays batch 1
    stage(b2, 2)
    _assert_converged(spark, tmpdir, uncrashed)


def test_replayed_published_batch_twice_is_a_no_op(spark, tmpdir, uncrashed):
    """A batch replayed after its state was published (the crash came
    before the query's own commit) seeds from the previous generation
    and publishes nothing, however many times it is replayed."""
    ckpt = tmpdir + "/ckpt"
    path = os.path.join(ckpt, STATE_DIR)
    b0, b1, b2 = _batches(spark, _candles(), (10, 20))
    stage = atr_stage(ckpt, _append(tmpdir + "/sink"))
    stage(b0, 0)
    stage(b1, 1)
    published = store.current(path), store.previous(path)
    for _ in range(2):
        stage(b1, 1)
        assert (store.current(path), store.previous(path)) == published
    stage(b2, 2)
    _assert_converged(spark, tmpdir, uncrashed)


def test_empty_batch_touches_nothing(spark, tmpdir):
    """An empty micro-batch writes no sink row and publishes no state."""
    ckpt = tmpdir + "/ckpt"
    written = []
    stage = atr_stage(ckpt, lambda batch, batch_id: written.append(batch_id))
    stage(local_frame(spark, [], CANDLES), 0)
    assert written == [] and store.current(os.path.join(ckpt, STATE_DIR)) is None
