"""End-to-end pipeline tests (reference main.py orchestration §3.1)."""

from __future__ import annotations

import shutil
import tempfile
from datetime import datetime, timedelta

import pytest

from options_data_pipeline_spark.pipeline import run_batch, run_streaming

TICK_SCHEMA = "symbol string, price double, ts timestamp, event_id long"


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="odp_pipe_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def session_ticks(spark, day=datetime(2024, 1, 5)):
    base = day.replace(hour=9, minute=15)
    rows, eid = [], 0
    for w in range(4):
        for sym, sec, px in [("A", 10, 100.0), ("A", 120, 101.0), ("B", 30, 50.0)]:
            rows.append((sym, px + w, base + timedelta(minutes=5 * w, seconds=sec), eid))
            eid += 1
    # out-of-session noise that must be filtered (pre-open + post-close)
    rows.append(("A", 999.0, day.replace(hour=8, minute=0), eid)); eid += 1
    rows.append(("A", 999.0, day.replace(hour=16, minute=0), eid))
    return spark.createDataFrame(rows, TICK_SCHEMA)


def test_batch_pipeline_end_to_end(spark, tmpdir):
    sink, state = tmpdir + "/market", tmpdir + "/state"
    n = run_batch(session_ticks(spark), sink, state_path=state)
    assert n == 8  # 2 symbols × 4 windows; 999s filtered by session gate
    fact = spark.read.parquet(sink)
    assert fact.filter("open = 999.0").count() == 0
    assert set(fact.columns) >= {"symbol", "window_start", "open", "close", "tr", "atr", "id", "gap_filled"}
    st = spark.read.parquet(state)
    assert {r.symbol for r in st.collect()} == {"A", "B"}
    [a] = st.filter("symbol = 'A'").collect()
    assert a.last_close == 104.0 and a.candle_count == 4


def test_batch_pipeline_idempotent_rerun(spark, tmpdir):
    sink = tmpdir + "/market"
    ticks = session_ticks(spark)
    assert run_batch(ticks, sink) == 8
    assert run_batch(ticks, sink) == 0  # replay writes nothing
    assert spark.read.parquet(sink).count() == 8


def cache_is_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def plan_nodes(plan):
    """Node names of a physical plan, descending through adaptive plans
    but not into a cached relation's own plan."""
    name = plan.nodeName()
    if name == "AdaptiveSparkPlan":
        return plan_nodes(plan.executedPlan())
    kids = plan.children()
    return [name] + [n for i in range(kids.size()) for n in plan_nodes(kids.apply(i))]


def test_batch_pipeline_enriches_once(spark, tmpdir, monkeypatch):
    """The bound probe, the anti-join delta and the ATR snapshot all read
    one cached copy of the enriched chain; nothing stays cached after."""
    from options_data_pipeline_spark import pipeline

    real_append, real_snapshot = pipeline.idempotent_append_batch, pipeline.overwrite_snapshot
    seen = []

    def append(batch, sink_path):
        seen.append(("append", batch.is_cached))
        return real_append(batch, sink_path)

    def snapshot(df, path):
        seen.append(("snapshot", plan_nodes(df._jdf.queryExecution().executedPlan())))
        real_snapshot(df, path)

    monkeypatch.setattr(pipeline, "idempotent_append_batch", append)
    monkeypatch.setattr(pipeline, "overwrite_snapshot", snapshot)
    spark.catalog.clearCache()
    sink, state = tmpdir + "/market", tmpdir + "/state"
    # an empty sink (delta = the batch itself), then a non-empty one
    assert run_batch(session_ticks(spark), sink, state_path=state) == 8
    assert cache_is_empty(spark)
    assert run_batch(session_ticks(spark, datetime(2024, 1, 8)), sink, state_path=state) == 8
    assert cache_is_empty(spark)
    assert [k for k, _ in seen] == ["append", "snapshot"] * 2
    for kind, got in seen:
        if kind == "append":
            assert got
        else:
            assert "InMemoryTableScan" in got
            assert "FlatMapGroupsInPandas" not in got


def plan_walk(plan, in_subquery=False):
    """(node, in_subquery) over a physical plan, every cached relation
    and every subquery in it."""
    yield plan, in_subquery
    subs = plan.subqueries()
    for i in range(subs.size()):
        yield from plan_walk(subs.apply(i), True)
    name = plan.nodeName()
    if name == "AdaptiveSparkPlan":
        kids = [plan.executedPlan()]
    elif name == "InMemoryTableScan":
        kids = [plan.relation().cachedPlan()]
    elif name.endswith("QueryStage"):  # adaptive stages hold their plan
        kids = [plan.plan()]
    else:
        kids = [plan.children().apply(i) for i in range(plan.children().size())]
    for kid in kids:
        yield from plan_walk(kid, in_subquery)


def all_plan_nodes(plan):
    """Node names of a physical plan, its cached relations and subqueries."""
    return [node.nodeName() for node, _ in plan_walk(plan)]


_PYTHON_NODES = ("FlatMapGroupsInPandas", "ArrowEvalPython", "BatchEvalPython", "ExistingRDD")


def test_batch_pipeline_runs_no_python_worker(spark, tmpdir, monkeypatch):
    """The enriched chain (ATR fold included) and the calendar plan no
    pandas island, Python UDF or pickled Python RDD. The enriched chain
    also holds no nested-loop or cartesian join and no cache but
    ``run_batch``'s own, and shuffles twice in its main plan (OHLC on
    (symbol, window), then symbol for gap-fill, TR and ATR) plus once to
    SinglePartition in gap-fill's ``w_max`` subquery."""
    import json

    from options_data_pipeline_spark import pipeline
    from options_data_pipeline_spark.sources.json_source import load_calendar
    from options_data_pipeline_spark.sources.local import local_frame

    cal_path = tmpdir + "/cal.json"
    with open(cal_path, "w") as f:
        json.dump({"holidays": ["2024-01-26"], "special_sessions": {}}, f)
    cal = load_calendar(spark, cal_path)
    real_append, plans = pipeline.idempotent_append_batch, []

    def append(batch, sink_path):
        batch.count()  # materialize the cache the plan reads
        plans.append(list(plan_walk(batch._jdf.queryExecution().executedPlan())))
        return real_append(batch, sink_path)

    monkeypatch.setattr(pipeline, "idempotent_append_batch", append)
    ticks = local_frame(spark, session_ticks(spark).collect(), TICK_SCHEMA)
    assert run_batch(ticks, tmpdir + "/market", state_path=tmpdir + "/state", calendar=cal) == 8
    [walk] = plans
    enriched = [node.nodeName() for node, _ in walk]
    assert enriched.count("InMemoryTableScan") == 1 and "LocalTableScan" in enriched
    assert not {"BroadcastNestedLoopJoin", "CartesianProduct"} & set(enriched)
    shuffles = [
        (sub, node.outputPartitioning().toString())
        for node, sub in walk
        if node.nodeName() == "Exchange"
    ]
    assert len([p for sub, p in shuffles if not sub]) <= 2, shuffles
    assert [p for sub, p in shuffles if sub] == ["SinglePartition"], shuffles
    for nodes in (enriched, all_plan_nodes(cal._jdf.queryExecution().executedPlan())):
        assert not [n for n in nodes if any(p in n for p in _PYTHON_NODES)], nodes


def test_streaming_pipeline_runs_no_python_worker(spark, tmpdir, monkeypatch):
    """The live ATR stage's per-micro-batch plan (the seeded fold over the
    batch, read from its one cache) holds no Python-worker node."""
    from options_data_pipeline_spark import pipeline

    real_append, plans = pipeline.idempotent_append_batch, []

    def append(batch, sink_path):
        batch.count()  # materialize the cache the plan reads
        plans.append(all_plan_nodes(batch._jdf.queryExecution().executedPlan()))
        return real_append(batch, sink_path)

    monkeypatch.setattr(pipeline, "idempotent_append_batch", append)
    # a second run over a later day: its batch is seeded from the state
    # the first run published
    for day in (datetime(2024, 1, 5), datetime(2024, 1, 8)):
        session_ticks(spark, day).filter("price < 900").write.mode("append").parquet(tmpdir + "/src")
        stream = spark.readStream.schema(TICK_SCHEMA).parquet(tmpdir + "/src")
        queries = run_streaming(stream, tmpdir + "/candles", tmpdir + "/sink", tmpdir + "/ckpt")
        try:
            for q in queries:
                q.processAllAvailable()
        finally:
            for q in queries:
                q.stop()
        # foreachBatch hands the stage its micro-batch as a scan of the
        # query's own incremental plan: check that plan too
        plans.append(all_plan_nodes(queries[1]._jsq.streamingQuery().lastExecution().executedPlan()))
    assert "BroadcastHashJoin" in plans[-2]
    for nodes in plans:
        python = [n for n in nodes if any(p in n for p in _PYTHON_NODES)]
        assert python in ([], ["Scan ExistingRDD"]), nodes


def test_batch_pipeline_failed_write_releases_caches(spark, tmpdir):
    """A snapshot write that raises leaves no cache behind."""
    blocker = tmpdir + "/blocker"
    open(blocker, "w").close()
    spark.catalog.clearCache()
    with pytest.raises(Exception):
        run_batch(session_ticks(spark), tmpdir + "/market", state_path=blocker + "/state")
    assert cache_is_empty(spark)


def test_batch_pipeline_special_session_calendar(spark, tmpdir):
    """run_batch with a load_calendar-shaped frame (session columns) keeps
    a Muhurat-style evening session on a holiday and drops the holiday's
    default-hours ticks — the end-to-end wiring of session_hours_gate."""
    import json

    from options_data_pipeline_spark.sources.json_source import load_calendar

    day = datetime(2024, 1, 5)  # a Friday
    rows = [
        ("A", 100.0, day.replace(hour=18, minute=30), 1),  # special window → kept
        ("A", 101.0, day.replace(hour=18, minute=32), 2),  # special window → kept
        ("A", 999.0, day.replace(hour=10, minute=0), 3),   # holiday default hours → dropped
    ]
    ticks = spark.createDataFrame(rows, TICK_SCHEMA)
    cal_path = tmpdir + "/cal.json"
    with open(cal_path, "w") as f:
        json.dump(
            {
                "holidays": [{"date": "2024-01-05", "name": "Diwali"}],
                "special_sessions": {
                    "2024-01-05": {"name": "Muhurat", "open": "18:15", "close": "19:45"}
                },
            },
            f,
        )
    cal = load_calendar(spark, cal_path)
    sink = tmpdir + "/market"
    assert run_batch(ticks, sink, calendar=cal) == 1  # one 5-min window kept
    fact = spark.read.parquet(sink)
    [row] = fact.collect()
    assert row.open == 100.0 and row.close == 101.0
    assert fact.filter("open = 999.0").count() == 0


def test_streaming_pipeline_end_to_end(spark, tmpdir):
    src, candles, sink, ckpt = (
        tmpdir + "/src", tmpdir + "/candles", tmpdir + "/sink", tmpdir + "/ckpt"
    )
    ticks = session_ticks(spark).filter("price < 900")
    ticks.write.parquet(src)
    stream = spark.readStream.schema(TICK_SCHEMA).parquet(src)
    q1, q2 = run_streaming(stream, candles, sink, ckpt)
    try:
        q1.processAllAvailable()
        q2.processAllAvailable()
    finally:
        q1.stop()
        q2.stop()
    fact = spark.read.parquet(sink)
    # append mode: all but the last (still-open) window are written
    assert fact.count() == 6
    assert set(fact.columns) >= {"symbol", "window_start", "tr", "atr", "id"}


def test_streaming_pipeline_with_gap_fill(spark, tmpdir):
    """Full 3-stage streaming pipeline: a symbol silent for one window
    gets a flat candle which then flows through the stateful ATR stage."""
    src = tmpdir + "/src"
    base = datetime(2024, 1, 5, 9, 15)
    rows = [
        ("A", 100.0, base + timedelta(seconds=10), 1),
        ("B", 50.0, base + timedelta(seconds=20), 2),
        ("A", 101.0, base + timedelta(minutes=5, seconds=10), 3),  # B silent in w1
        ("A", 102.0, base + timedelta(minutes=10, seconds=10), 4),
        ("B", 51.0, base + timedelta(minutes=10, seconds=20), 5),
        ("A", 103.0, base + timedelta(minutes=15, seconds=10), 6),  # w3 stays open
    ]
    spark.createDataFrame(rows, TICK_SCHEMA).write.parquet(src)
    stream = spark.readStream.schema(TICK_SCHEMA).parquet(src)
    queries = run_streaming(
        stream,
        tmpdir + "/candles",
        tmpdir + "/sink",
        tmpdir + "/ckpt",
        dense_path=tmpdir + "/dense",
    )
    try:
        for q in queries:
            q.processAllAvailable()
        # one extra drain so downstream stages see upstream's last writes
        for q in queries:
            q.processAllAvailable()
    finally:
        for q in queries:
            q.stop()
    fact = {(r.symbol, r.window_start): r for r in spark.read.parquet(tmpdir + "/sink").collect()}
    w1 = base + timedelta(minutes=5)
    gap = fact[("B", w1)]
    assert gap.gap_filled and gap.close == 50.0 and gap.tick_count == 0
    assert gap.tr is not None  # the flat candle went through the ATR stage
    assert not fact[("A", w1)].gap_filled
