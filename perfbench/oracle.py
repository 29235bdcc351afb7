"""Independent output checks: DuckDB recomputes a tick day's enriched
candles, and the document corpus is checked against the generator's
labels. Neither check goes through Spark."""

from __future__ import annotations

import math

import duckdb
import numpy as np
import pyarrow.parquet as pq

from options_data_pipeline_spark.operators.atr import ATR_PERIOD
from options_data_pipeline_spark.registry import candles_cte


def _enriched_sql(interval_s: int) -> str:
    """300 s OHLC (the registry's candle CTE) → gap fill over the
    symbols × windows scaffold → True Range → Wilder ATR (the registry's
    recursive-CTE shape), with the gap flag carried through."""
    p = ATR_PERIOD
    return f"""WITH RECURSIVE {candles_cte(interval_s)},
bounds AS (SELECT min(window_start) AS lo, max(window_start) AS hi FROM candles),
grid AS (
  SELECT s.symbol, w.window_start
  FROM (SELECT DISTINCT symbol FROM candles) s,
       (SELECT unnest(generate_series(lo, hi, INTERVAL {interval_s} SECOND)) AS window_start
        FROM bounds) w
),
joined AS (
  SELECT g.symbol, g.window_start, c."open", c.high, c.low, c."close", c.tick_count,
         last_value(c."close" IGNORE NULLS) OVER (
           PARTITION BY g.symbol ORDER BY g.window_start
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pc
  FROM grid g LEFT JOIN candles c USING (symbol, window_start)
),
filled AS (
  SELECT symbol, window_start,
         CASE WHEN tick_count IS NULL THEN pc ELSE "open" END AS "open",
         CASE WHEN tick_count IS NULL THEN pc ELSE high END AS high,
         CASE WHEN tick_count IS NULL THEN pc ELSE low END AS low,
         CASE WHEN tick_count IS NULL THEN pc ELSE "close" END AS "close",
         coalesce(tick_count, 0) AS tick_count,
         tick_count IS NULL AS gap_filled
  FROM joined
  WHERE CASE WHEN tick_count IS NULL THEN pc ELSE "close" END IS NOT NULL
),
trc AS (
  SELECT *, lag("close") OVER (PARTITION BY symbol ORDER BY window_start) AS prev_close
  FROM filled
),
numbered AS (
  SELECT *,
         CASE WHEN prev_close IS NULL THEN high - low
              ELSE greatest(high - low, abs(high - prev_close), abs(low - prev_close))
         END AS tr,
         row_number() OVER (PARTITION BY symbol ORDER BY window_start) AS rn
  FROM trc
),
seed AS (
  SELECT symbol, rn,
         avg(tr) OVER (PARTITION BY symbol ORDER BY rn
                       ROWS BETWEEN {p - 1} PRECEDING AND CURRENT ROW) AS atr
  FROM numbered QUALIFY rn = {p}
),
rec AS (
  SELECT symbol, rn, atr FROM seed
  UNION ALL
  SELECT t.symbol, t.rn, (r.atr * {p - 1} + t.tr) / {p}
  FROM rec r JOIN numbered t ON t.symbol = r.symbol AND t.rn = r.rn + 1
)
SELECT n.symbol, epoch_us(n.window_start) AS window_us, n."open", n.high, n.low,
       n."close", n.tick_count, n.gap_filled, n.tr,
       CASE WHEN rec.atr < 0 THEN 0.0 ELSE rec.atr END AS atr
FROM numbered n LEFT JOIN rec ON rec.symbol = n.symbol AND rec.rn = n.rn
ORDER BY 1, 2"""


def _close(a: float | None, b: float | None) -> bool:
    if a is None or b is None or (isinstance(a, float) and math.isnan(a)):
        return (a is None or math.isnan(a)) and (b is None or math.isnan(b))
    return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-12)


def check_tick_day(
    events_path: str,
    sink_rows: dict,
    session: tuple[str, str],
    interval_s: int = 300,
) -> list[str]:
    """Compare one day's sink rows against DuckDB. ``sink_rows`` maps
    (symbol, window_us) → row dict; ``session`` is the (open, close)
    HH:MM the calendar allows that day. Returns problems (empty when the
    day matches)."""
    con = duckdb.connect()
    gate = f"CAST(ts AS TIME) >= TIME '{session[0]}:00' AND CAST(ts AS TIME) < TIME '{session[1]}:00'"
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{events_path}') WHERE {gate}"
    )
    want = con.execute(_enriched_sql(interval_s)).fetchall()
    con.close()
    problems = []
    if len(want) != len(sink_rows):
        problems.append(f"rows: sink {len(sink_rows)} vs oracle {len(want)}")
    fields = ["open", "high", "low", "close", "tick_count", "gap_filled", "tr", "atr"]
    for sym, w_us, *vals in want:
        got = sink_rows.get((sym, w_us))
        if got is None:
            problems.append(f"missing {sym}@{w_us}")
        else:
            bad = [f for f, v in zip(fields, vals) if not _close(got[f], v)]
            if bad:
                problems.append(f"{sym}@{w_us}: {bad}")
        if len(problems) > 5:
            break
    return problems


def read_sink_days(sink_path: str, bounds: dict, full: set) -> dict:
    """Sink rows per day: ``bounds`` maps a day key to its [lo, hi] window
    range in µs. Each day gets its raw row count ``n`` and its count of
    distinct (symbol, window) keys; the days in ``full`` also get their
    ``rows`` keyed (symbol, window_us)."""
    tbl = pq.read_table(sink_path)
    w = tbl.column("window_start").cast("int64").to_numpy()
    out = {}
    for key, (lo, hi) in bounds.items():
        sub = tbl.take(np.nonzero((w >= lo) & (w <= hi))[0])
        keys = sub.select(["symbol", "window_start"])
        day = {"n": sub.num_rows, "distinct": keys.group_by(keys.column_names).aggregate([]).num_rows}
        if key in full:
            cols = sub.to_pydict()
            cols["window_us"] = sub.column("window_start").cast("int64").to_pylist()
            day["rows"] = {
                (cols["symbol"][i], cols["window_us"][i]): {k: cols[k][i] for k in cols}
                for i in range(sub.num_rows)
            }
        out[key] = day
    return out


def check_corpus(corpus_path: str, sig_path: str, batches: list[dict]) -> tuple[list[str], dict]:
    """Corpus invariants against the generator's labels: no doc_id twice,
    every exact replay dropped, the signature index holds exactly the
    corpus ids. Also returns the dedup ratios over the offered docs."""
    ids = pq.read_table(corpus_path, columns=["doc_id"]).column("doc_id").to_numpy()
    sig_ids = pq.read_table(sig_path, columns=["doc_id"]).column("doc_id").to_numpy()
    problems = []
    if len(np.unique(ids)) != len(ids):
        problems.append(f"{len(ids) - len(np.unique(ids))} doc_ids appear twice")
    if set(sig_ids.tolist()) != set(ids.tolist()):
        problems.append("signature index ids differ from corpus ids")
    kept = set(ids.tolist())
    injected = caught = exact_kept = offered = 0
    for b in batches:
        offered += len(b["doc_id"])
        for doc_id, label, src in zip(b["doc_id"].tolist(), b["label"], b["source"]):
            if label == "fresh":
                continue
            injected += 1
            if label == "intra":
                # resolved when at most one side of the pair survives
                caught += not (doc_id in kept and src in kept)
            else:
                caught += doc_id not in kept
                exact_kept += label == "exact" and doc_id in kept
    if exact_kept:
        problems.append(f"{exact_kept} exact replays were appended")
    return problems, {
        "keep_ratio": len(kept) / offered if offered else 0.0,
        "dup_caught_ratio": caught / injected if injected else 0.0,
    }
