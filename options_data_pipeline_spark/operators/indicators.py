"""Technical indicators over candles (reference domain: the options/TA
pipeline's enrichment layer — ATR lives in operators/atr.py).

Donchian, SMA, Bollinger, stochastic and OBV are plain window functions
over (symbol ORDER BY window_start) ROWS frames. EMA, RSI, MACD, Keltner,
Heikin-Ashi, ADX and Holt are sequential recursions with no window form;
they run as per-symbol Spark SQL folds (operators/fold.py), each step the
op-for-op sequence of its DuckDB recursive-CTE twin, so outputs compare
bit-exact unrounded. No Python worker either way. At 100 TB the shuffle
is the same symbol partitioning every other enrichment step already uses
(one partitioning reused across TR/ATR/indicators)."""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .fold import ROWS, fold_per_key, py_max, sma_seeded, wilder


def donchian_channels(candles: DataFrame, n: int = 20) -> DataFrame:
    """Donchian channels: rolling n-candle max-high / min-low per symbol
    plus the channel position of the close in [0, 1] (breakout signal).
    max/min are float-exact cross-engine (no summation order hazard).
    Rows without a full lookback emit NULL channels (warmup, same policy
    as ATR)."""
    w = Window.partitionBy("symbol").orderBy("window_start").rowsBetween(
        -(n - 1), 0
    )
    full = F.count(F.lit(1)).over(w) >= n
    upper = F.when(full, F.max("high").over(w))
    lower = F.when(full, F.min("low").over(w))
    width = upper - lower
    pos = F.when(
        width > 0, (F.col("close") - lower) / width
    ).otherwise(F.lit(0.5))
    return candles.select(
        "symbol",
        "window_start",
        "close",
        upper.alias("dc_upper"),
        lower.alias("dc_lower"),
        F.when(full, pos).alias("dc_pos"),
    )


def sma(candles: DataFrame, n: int = 20, col: str = "close") -> DataFrame:
    """Simple moving average of ``col`` over the last n candles per
    symbol, NULL during warmup. The windowed mean is snapped to the 9-dp
    grid: sliding-frame SUM accumulation order is engine-internal, so the
    raw double can differ in the last ulp across engines (same policy as
    the PQ/ADC floats)."""
    w = Window.partitionBy("symbol").orderBy("window_start").rowsBetween(
        -(n - 1), 0
    )
    full = F.count(F.lit(1)).over(w) >= n
    return candles.select(
        "symbol",
        "window_start",
        F.col(col).alias("value"),
        F.when(full, F.round(F.avg(col).over(w), 9)).alias(f"sma_{n}"),
    )


def bollinger_bands(candles: DataFrame, n: int = 20, k: float = 2.0) -> DataFrame:
    """Bollinger bands: n-candle SMA ± k·σ (population) of the close per
    symbol, NULL during warmup — the volatility envelope next to Donchian
    (range-based) and ATR (true-range-based). Mean and σ both snap to the
    9-dp grid: windowed SUM accumulation order is engine-internal, and
    stddev implementations (Welford vs two-pass) differ in the last ulp
    across engines. Same single symbol-grain shuffle as sma/donchian."""
    w = Window.partitionBy("symbol").orderBy("window_start").rowsBetween(
        -(n - 1), 0
    )
    full = F.count(F.lit(1)).over(w) >= n
    mid = F.round(F.avg("close").over(w), 9)
    sd = F.round(F.stddev_pop("close").over(w), 9)
    return candles.select(
        "symbol",
        "window_start",
        "close",
        F.when(full, mid).alias("bb_mid"),
        F.when(full, F.round(mid - k * sd, 9)).alias("bb_lower"),
        F.when(full, F.round(mid + k * sd, 9)).alias("bb_upper"),
    )


def stochastic_oscillator(candles: DataFrame, n: int = 14) -> DataFrame:
    """Stochastic oscillator: %K = 100·(close − min_low_n)/(max_high_n −
    min_low_n) over the last n candles per symbol, and %D = the 3-period
    average of %K. Flat-range windows (max = min) pin %K to 50.

    Float discipline: %K is picks + one subtraction + one division —
    bit-exact cross-engine, compared unrounded. %D is built from three
    EXPLICIT lag terms ((k + lag k + lag² k)/3) instead of a windowed
    avg, fixing the addition order so it too compares bit-exact (a
    3-row frame's internal accumulation order would not). Same single
    symbol-grain window pass as the Donchian/Bollinger siblings."""
    w = Window.partitionBy("symbol").orderBy("window_start").rowsBetween(
        -(n - 1), 0
    )
    ws = Window.partitionBy("symbol").orderBy("window_start")
    full = F.count(F.lit(1)).over(w) >= n
    lo = F.min("low").over(w)
    hi = F.max("high").over(w)
    k_raw = F.when(hi - lo > 0, 100.0 * (F.col("close") - lo) / (hi - lo)).otherwise(
        F.lit(50.0)
    )
    out = candles.select(
        "symbol",
        "window_start",
        "close",
        F.when(full, k_raw).alias("pct_k"),
    )
    k1, k2 = F.lag("pct_k", 1).over(ws), F.lag("pct_k", 2).over(ws)
    return out.withColumn(
        "pct_d", (F.col("pct_k") + k1 + k2) / 3.0  # NULL until 3 full %Ks
    )


def obv(candles: DataFrame) -> DataFrame:
    """On-balance volume over candle tick counts: cumulative Σ of
    sign(close − prev_close)·volume per symbol (volume = tick_count —
    the synthetic feed carries no size field, matching the reference's
    tick-count volume proxy). The first candle contributes 0 (no prior
    close). Pure BIGINT arithmetic under an unbounded-preceding running
    sum — exact in every engine, no float hazard at all. One symbol-grain
    window pass (the shared enrichment partitioning)."""
    ws = Window.partitionBy("symbol").orderBy("window_start")
    wc = ws.rowsBetween(Window.unboundedPreceding, 0)
    prev = F.lag("close").over(ws)
    signed = (
        F.when(prev.isNull(), F.lit(0))
        .when(F.col("close") > prev, F.col("tick_count"))
        .when(F.col("close") < prev, -F.col("tick_count"))
        .otherwise(F.lit(0))
    )
    return candles.select(
        "symbol",
        "window_start",
        "close",
        F.col("tick_count").cast("long").alias("volume"),
        F.sum(signed).over(wc).cast("long").alias("obv"),
    )


def _ema_step(n: int, acc: str, prev: str, x: str) -> str:
    """EMA update over the row count ``s.i + 1``: SMA(n) seed, then
    e + (x − e)·α with α = 2/(n+1) — sub→mul→add, as the oracle's CTE."""
    return sma_seeded(n, "s.i + 1", acc, x, f"{prev} + ({x} - {prev}) * (2D / {n + 1})")


_CLOSE_COLS = ["symbol", "window_start", "close"]


def ema(candles: DataFrame, n: int = 12) -> DataFrame:
    """Exponential moving average of the close per symbol (α = 2/(n+1),
    SMA seed, NULL warmup)."""
    return fold_per_key(
        candles.select(*_CLOSE_COLS),
        state=[("i", "INT", "0"), ("acc", "DOUBLE", "0D"), ("e", "DOUBLE", "NULL")],
        steps=[{
            "i": "s.i + 1",
            "acc": "s.acc + x.close",
            "e": _ema_step(n, "s.acc", "s.e", "x.close"),
        }],
        emit={f"ema_{n}": "s.e"},
        keep=_CLOSE_COLS,
    )


def rsi(candles: DataFrame, n: int = 14) -> DataFrame:
    """Wilder RSI of the close per symbol: deltas split into gains and
    losses, both averages seeded as the plain mean of the first n deltas
    and then Wilder-smoothed; RSI = 100 − 100/(1+ag/al), with the
    all-gain edge (avg loss = 0) pinned to 100. NULL warmup (the first
    row has no delta)."""
    d = "(x.close - s.pc)"
    gain, loss = f"IF({d} > 0, {d}, 0D)", f"IF({d} < 0, -{d}, 0D)"
    return fold_per_key(
        candles.select(*_CLOSE_COLS),
        state=[
            ("i", "INT", "0"), ("pc", "DOUBLE", "NULL"), ("g", "DOUBLE", "0D"),
            ("l", "DOUBLE", "0D"), ("ag", "DOUBLE", "NULL"), ("al", "DOUBLE", "NULL"),
        ],
        steps=[{
            "i": "s.i + 1",
            "pc": "x.close",
            # deltas seen = s.i (the first row has none)
            "g": f"IF(s.i = 0, 0D, s.g + {gain})",
            "l": f"IF(s.i = 0, 0D, s.l + {loss})",
            "ag": wilder(n, "s.i", "s.g", "s.ag", gain),
            "al": wilder(n, "s.i", "s.l", "s.al", loss),
        }],
        emit={f"rsi_{n}": "IF(s.al = 0D, 100D, 100D - 100D / (1D + s.ag / s.al))"},
        keep=_CLOSE_COLS,
    )


def indicator_panel(candles: DataFrame, n: int = 20) -> DataFrame:
    """All window-frame indicators (Donchian + SMA + Bollinger) in ONE
    projection over one shared (symbol ORDER BY window_start) frame —
    the view-layer composition. Joining the three single-indicator
    frames recomputes the candle aggregation per branch and adds two
    (symbol, window_start) join shuffles for columns that are all
    expressions over the same window; here Catalyst plans one
    symbol-grain exchange and one Window node."""
    w = Window.partitionBy("symbol").orderBy("window_start").rowsBetween(
        -(n - 1), 0
    )
    full = F.count(F.lit(1)).over(w) >= n
    upper = F.when(full, F.max("high").over(w))
    lower = F.when(full, F.min("low").over(w))
    width = upper - lower
    pos = F.when(width > 0, (F.col("close") - lower) / width).otherwise(F.lit(0.5))
    mid = F.round(F.avg("close").over(w), 9)
    sd = F.round(F.stddev_pop("close").over(w), 9)
    return candles.select(
        "symbol",
        "window_start",
        "close",
        upper.alias("dc_upper"),
        lower.alias("dc_lower"),
        F.when(full, pos).alias("dc_pos"),
        F.when(full, mid).alias(f"sma_{n}"),
        F.when(full, mid).alias("bb_mid"),
        F.when(full, F.round(mid - 2.0 * sd, 9)).alias("bb_lower"),
        F.when(full, F.round(mid + 2.0 * sd, 9)).alias("bb_upper"),
    )


def macd(
    candles: DataFrame, fast: int = 12, slow: int = 26, sig: int = 9
) -> DataFrame:
    """MACD(fast, slow, signal) per symbol — the composed recursive
    indicator: fast/slow EMAs of the close (each SMA-seeded as in
    :func:`ema`), MACD = fast − slow once both exist, signal = EMA(sig)
    of the MACD stream (SMA-seeded on its first ``sig`` values),
    histogram = MACD − signal. One fold carries the whole panel — joining
    separate ema() frames would run three symbol-grain shuffles and
    re-sort per branch for series that share one ordering."""
    # MACD values so far, this row's included (s.i already counts it)
    k = f"s.i - {max(fast, slow) - 1}"
    m = "(s.ef - s.es)"
    return fold_per_key(
        candles.select(*_CLOSE_COLS),
        state=[
            ("i", "INT", "0"), ("fa", "DOUBLE", "0D"), ("ef", "DOUBLE", "NULL"),
            ("sa", "DOUBLE", "0D"), ("es", "DOUBLE", "NULL"), ("ma", "DOUBLE", "0D"),
            ("m", "DOUBLE", "NULL"), ("sg", "DOUBLE", "NULL"),
        ],
        steps=[
            {
                "i": "s.i + 1",
                "fa": "s.fa + x.close",
                "ef": _ema_step(fast, "s.fa", "s.ef", "x.close"),
                "sa": "s.sa + x.close",
                "es": _ema_step(slow, "s.sa", "s.es", "x.close"),
            },
            {
                "m": m,
                "ma": f"IF({k} < 1, 0D, s.ma + {m})",
                "sg": sma_seeded(sig, k, "s.ma", m, f"s.sg + ({m} - s.sg) * (2D / {sig + 1})"),
            },
        ],
        emit={"macd": "s.m", "macd_signal": "s.sg", "macd_hist": "s.m - s.sg"},
        keep=_CLOSE_COLS,
    )


def _true_range(prev_close: str) -> str:
    """TR with Python's ``max`` tie order: high − low on a symbol's first
    row, else max(h − l, |h − pc|, |l − pc|)."""
    return (
        f"IF(s.i = 0, x.high - x.low, "
        + py_max("x.high - x.low", f"abs(x.high - {prev_close})", f"abs(x.low - {prev_close})")
        + ")"
    )


def keltner_channels(
    candles: DataFrame, n_ema: int = 20, n_atr: int = 10, mult: float = 2.0
) -> DataFrame:
    """Keltner channels: EMA(n_ema) of the TYPICAL price ((h+l+c)/3) ±
    mult × Wilder ATR(n_atr) — the volatility envelope that uses true
    range where Bollinger uses σ. Both recursions advance in ONE fold
    (the macd shared-fold pattern: one shuffle, both state variables
    carried together).

    Float discipline: typical = ((h + l) + c)/3 fixed order; each
    recursion step is the op-for-op EMA/ATR sequence the recursive-CTE
    oracle mirrors; bands are mid ± mult·atr single ops — the whole
    trajectory compares bit-exact UNROUNDED (ema_12 / atr_wilder
    precedent). Bands are NULL until BOTH recursions are seeded."""
    typ = "(((x.high + x.low) + x.close) / 3D)"
    tr = _true_range("s.pc")
    m = f"{float(mult)!r}D"
    return fold_per_key(
        candles.select("symbol", "window_start", "high", "low", "close"),
        state=[
            ("i", "INT", "0"), ("pc", "DOUBLE", "NULL"), ("ea", "DOUBLE", "0D"),
            ("e", "DOUBLE", "NULL"), ("aa", "DOUBLE", "0D"), ("a", "DOUBLE", "NULL"),
        ],
        steps=[{
            "i": "s.i + 1",
            "pc": "x.close",
            "ea": f"s.ea + {typ}",
            "e": _ema_step(n_ema, "s.ea", "s.e", typ),
            "aa": f"s.aa + {tr}",
            "a": wilder(n_atr, "s.i + 1", "s.aa", "s.a", tr),
        }],
        emit={
            "kc_mid": "s.e",
            "kc_upper": f"s.e + {m} * s.a",
            "kc_lower": f"s.e - {m} * s.a",
        },
        keep=_CLOSE_COLS,
    )


def heikin_ashi(candles: DataFrame) -> DataFrame:
    """Heikin-Ashi candles: ha_close = (o+h+l+c)/4 (row-local), ha_open
    recursion (prev_ha_open + prev_ha_close)/2 seeded at (o₁+c₁)/2,
    ha_high/ha_low = extremes over {h, ha_open, ha_close} / {l, …} —
    the smoothing transform charting pipelines apply before trend rules.
    One-variable recursion; every step is add/divide in fixed order,
    bit-exact vs the recursive-CTE twin."""
    return fold_per_key(
        candles.select("symbol", "window_start", "open", "high", "low", "close"),
        state=[("i", "INT", "0"), ("ho", "DOUBLE", "NULL"), ("hc", "DOUBLE", "NULL")],
        steps=[{
            "i": "s.i + 1",
            "ho": "IF(s.i = 0, (x.open + x.close) / 2D, (s.ho + s.hc) / 2D)",
            "hc": "(((x.open + x.high) + x.low) + x.close) / 4D",
        }],
        emit={
            "ha_open": "s.ho",
            "ha_high": "greatest(x.high, s.ho, s.hc)",
            "ha_low": "least(x.low, s.ho, s.hc)",
            "ha_close": "s.hc",
        },
        keep=["symbol", "window_start"],
    )


def adx(candles: DataFrame, n: int = 14) -> DataFrame:
    """ADX (Wilder's average directional index): ±DM from candle-to-
    candle extremes, three Wilder-smoothed averages advancing in
    LOCKSTEP (+DM, −DM, TR — one recursion carrying three state
    variables), ±DI = 100·DM/ATR, DX = 100·|DI⁺−DI⁻|/(DI⁺+DI⁻), and ADX
    as a SECOND Wilder smoothing over DX (seeded at rn = 2n−1).

    One symbol-grain fold. Every step is the op-for-op sequence of the
    oracle's two chained recursive CTEs — bit-exact unrounded. Zero
    guards: ATR=0 ⇒ DI=0; DI⁺+DI⁻=0 ⇒ DX=0 (flat-market candles stay
    defined instead of NaN)."""
    up, dn = "(x.high - s.ph)", "(s.pl - x.low)"
    dmp = f"IF(s.i = 0, 0D, IF({up} > {dn} AND {up} > 0, {up}, 0D))"
    dmm = f"IF(s.i = 0, 0D, IF({dn} > {up} AND {dn} > 0, {dn}, 0D))"
    tr = _true_range("s.pc")
    warm = f"s.i < {n}"  # after the first stage s.i counts this row
    return fold_per_key(
        candles.select("symbol", "window_start", "high", "low", "close"),
        state=[
            ("i", "INT", "0"), ("ph", "DOUBLE", "NULL"), ("pl", "DOUBLE", "NULL"),
            ("pc", "DOUBLE", "NULL"), ("ap", "DOUBLE", "0D"), ("am", "DOUBLE", "0D"),
            ("aa", "DOUBLE", "0D"), ("sp", "DOUBLE", "NULL"), ("sm", "DOUBLE", "NULL"),
            ("sa", "DOUBLE", "NULL"), ("p", "DOUBLE", "NULL"), ("q", "DOUBLE", "NULL"),
            ("d", "DOUBLE", "NULL"), ("ad", "DOUBLE", "0D"), ("adx", "DOUBLE", "NULL"),
        ],
        steps=[
            {
                "i": "s.i + 1",
                "ph": "x.high",
                "pl": "x.low",
                "pc": "x.close",
                "ap": f"s.ap + {dmp}",
                "am": f"s.am + {dmm}",
                "aa": f"s.aa + {tr}",
                "sp": wilder(n, "s.i + 1", "s.ap", "s.sp", dmp),
                "sm": wilder(n, "s.i + 1", "s.am", "s.sm", dmm),
                "sa": wilder(n, "s.i + 1", "s.aa", "s.sa", tr),
            },
            {
                "p": f"IF({warm}, NULL, IF(s.sa > 0, 100D * s.sp / s.sa, 0D))",
                "q": f"IF({warm}, NULL, IF(s.sa > 0, 100D * s.sm / s.sa, 0D))",
            },
            {"d": f"IF({warm}, NULL, IF(s.p + s.q > 0, 100D * abs(s.p - s.q) / (s.p + s.q), 0D))"},
            {
                # DX values so far = s.i − (n − 1)
                "ad": f"IF({warm}, 0D, s.ad + s.d)",
                "adx": wilder(n, f"s.i - {n - 1}", "s.ad", "s.adx", "s.d"),
            },
        ],
        emit={"di_plus": "s.p", "di_minus": "s.q", "dx": "s.d", "adx": "s.adx"},
        keep=["symbol", "window_start"],
    )


def holt_linear(candles: DataFrame) -> DataFrame:
    """Holt linear-trend smoothing + 3-step-ahead forecast per symbol —
    the forecasting layer above the EMA family (level AND trend state,
    ŷ_{t+h} = l_t + h·b_t). Level l_t = α·x + (1−α)·(l+b), trend b_t =
    β·(l_t−l) + (1−β)·b with α=0.5, β=0.3, seeded l₁=x₁, b₁=x₂−x₁ (NULL
    trend for a one-row symbol). Every step is the mul/add/sub sequence
    the recursive-CTE oracle runs — compared unrounded."""
    level = "0.5D * x.close + 0.5D * (s.l + s.b)"
    return fold_per_key(
        candles.select(*_CLOSE_COLS),
        state=[
            ("i", "INT", "0"),
            ("l", "DOUBLE", "NULL"),
            # b₁ = x₂ − x₁ reads ahead: the initial state sees the rows
            ("b", "DOUBLE", f"IF(size({ROWS}) > 1, {ROWS}[1].close - {ROWS}[0].close, NULL)"),
        ],
        steps=[{
            "i": "s.i + 1",
            "l": f"IF(s.i = 0, x.close, {level})",
            "b": f"IF(s.i = 0, s.b, 0.3D * (({level}) - s.l) + 0.7D * s.b)",
        }],
        emit={"level": "s.l", "trend": "s.b", "forecast_3": "s.l + 3D * s.b"},
        keep=_CLOSE_COLS,
    )
