"""Pure-Python reference recursions for the per-symbol folds.

These are the sequential loops the engine's recursive indicators were
first written as (Wilder ATR, EMA, RSI, MACD, Keltner, Heikin-Ashi, ADX,
Holt), plus the gap-fill loop. The engine now runs them as Spark SQL
folds (``operators/fold.py``) and spans (``operators/gapfill.py``); the
tests compare the two with ``==``, so every fold step must run these
loops' IEEE double operations in the same order. A ``None`` here is a NULL there; a NaN here (a NULL input
read through pandas) may be a NULL there.
"""

from __future__ import annotations

from datetime import timedelta


def _wilder(trs, period: int):
    """Sequential Wilder recursion over one symbol's ordered TR series."""
    out = []
    prev_atr = None
    acc = 0.0
    for i, tr in enumerate(trs):
        tr = float(tr)
        if prev_atr is None:
            acc += tr
            if i + 1 == period:
                prev_atr = acc / period
                out.append(max(prev_atr, 0.0))
            else:
                out.append(None)
        else:
            prev_atr = (prev_atr * (period - 1) + tr) / period
            out.append(max(prev_atr, 0.0))
    return out


def _ema_series(values, n: int):
    """Sequential EMA recursion over one symbol's ordered closes: SMA(n)
    seed, then e_t = e + (x − e)·α with α = 2/(n+1). Pure Python floats,
    op-for-op mirrored by the recursive-CTE oracle (each step is sub→
    mul→add — IEEE-deterministic, no rounding grid needed; only the seed
    average's accumulation order has to match, which sequential left-fold
    on both sides guarantees)."""
    alpha = 2.0 / (n + 1)
    out, acc, prev = [], 0.0, None
    for i, x in enumerate(values):
        x = float(x)
        if prev is None:
            acc += x
            if i + 1 == n:
                prev = acc / n
                out.append(prev)
            else:
                out.append(None)
        else:
            prev = prev + (x - prev) * alpha
            out.append(prev)
    return out


def _rsi_series(values, n: int):
    """Sequential Wilder RSI over one symbol's ordered closes: deltas
    split into gains/losses, avg gain/loss seeded as the plain mean of
    the first n deltas, then Wilder-smoothed ((a·(n−1)+g)/n); RSI =
    100 − 100/(1+rs), with the all-gain edge (avg loss = 0) pinned to
    100. Same op sequence as the oracle's recursive CTE."""
    out, prev = [None], None  # first row has no delta
    gains, losses, ag, al = 0.0, 0.0, None, None
    for i in range(1, len(values)):
        d = float(values[i]) - float(values[i - 1])
        g = d if d > 0 else 0.0
        l = -d if d < 0 else 0.0
        if ag is None:
            gains += g
            losses += l
            if i == n:
                ag, al = gains / n, losses / n
                out.append(100.0 if al == 0.0 else 100.0 - 100.0 / (1.0 + ag / al))
            else:
                out.append(None)
        else:
            ag = (ag * (n - 1) + g) / n
            al = (al * (n - 1) + l) / n
            out.append(100.0 if al == 0.0 else 100.0 - 100.0 / (1.0 + ag / al))
    return out


def _macd_series(values, fast: int = 12, slow: int = 26, sig: int = 9):
    """Sequential MACD over one symbol's ordered closes: fast/slow EMAs
    (each SMA-seeded as in :func:`_ema_series`), MACD = fast − slow once
    both exist, signal = EMA(sig) of the MACD stream (SMA-seeded on its
    first ``sig`` values), histogram = MACD − signal. Every step is the
    same sub→mul→add sequence the oracle's recursive CTEs run —
    IEEE-deterministic, compared unrounded."""
    af, as_, ag = 2.0 / (fast + 1), 2.0 / (slow + 1), 2.0 / (sig + 1)
    macd_out, sig_out = [], []
    accf = accs = accm = 0.0
    ef = es = sg = None
    n_macd = 0
    for i, x in enumerate(values):
        x = float(x)
        if ef is None:
            accf += x
            if i + 1 == fast:
                ef = accf / fast
        else:
            ef = ef + (x - ef) * af
        if es is None:
            accs += x
            if i + 1 == slow:
                es = accs / slow
        else:
            es = es + (x - es) * as_
        if ef is not None and es is not None:
            m = ef - es
            macd_out.append(m)
            n_macd += 1
            if sg is None:
                accm += m
                if n_macd == sig:
                    sg = accm / sig
                sig_out.append(sg)
            else:
                sg = sg + (m - sg) * ag
                sig_out.append(sg)
        else:
            macd_out.append(None)
            sig_out.append(None)
    return macd_out, sig_out


def _holt_series(values):
    """Sequential Holt double-exponential smoothing over one symbol's
    ordered closes (α=0.5, β=0.3): level l_t = α·x + (1−α)·(l+b), trend
    b_t = β·(l_t−l) + (1−β)·b, seeded l₁=x₁, b₁=x₂−x₁. Every step is
    the identical mul/add/sub sequence the recursive-CTE oracle runs —
    IEEE-deterministic, compared unrounded. Returns (levels, trends)."""
    if not values:
        return [], []
    xs = [float(x) for x in values]
    if len(xs) == 1:
        return [xs[0]], [None]
    l, b = xs[0], xs[1] - xs[0]
    levels, trends = [l], [b]
    for x in xs[1:]:
        l_new = 0.5 * x + 0.5 * (l + b)
        b = 0.3 * (l_new - l) + 0.7 * b
        l = l_new
        levels.append(l)
        trends.append(b)
    return levels, trends


def _keltner_series(h, l, c, n_ema: int = 20, n_atr: int = 10):
    """EMA(n_ema) of the typical price ((h+l)+c)/3 and Wilder ATR(n_atr)
    of the true range, carried in one pass. Returns (ema, atr)."""
    alpha = 2.0 / (n_ema + 1)
    ema_out, atr_out = [], []
    e_acc, e_prev = 0.0, None
    a_acc, a_prev = 0.0, None
    prev_close = None
    for i in range(len(c)):
        typ = ((h[i] + l[i]) + c[i]) / 3.0
        if e_prev is None:
            e_acc += typ
            e_prev_val = None
            if i + 1 == n_ema:
                e_prev = e_acc / n_ema
                e_prev_val = e_prev
        else:
            e_prev = e_prev + (typ - e_prev) * alpha
            e_prev_val = e_prev
        ema_out.append(e_prev_val)
        tr = (
            h[i] - l[i]
            if prev_close is None
            else max(h[i] - l[i], abs(h[i] - prev_close), abs(l[i] - prev_close))
        )
        prev_close = c[i]
        if a_prev is None:
            a_acc += tr
            a_prev_val = None
            if i + 1 == n_atr:
                a_prev = a_acc / n_atr
                a_prev_val = a_prev
        else:
            a_prev = (a_prev * (n_atr - 1) + tr) / n_atr
            a_prev_val = a_prev
        atr_out.append(a_prev_val)
    return ema_out, atr_out


def _heikin_ashi_series(o, h, l, c):
    """ha_close = (((o+h)+l)+c)/4; ha_open = (o₁+c₁)/2, then the mean of
    the previous ha_open and ha_close. Returns (ha_open, ha_close)."""
    ha_open, ha_close = [], []
    for i in range(len(c)):
        hc = (((o[i] + h[i]) + l[i]) + c[i]) / 4.0
        ho = (o[i] + c[i]) / 2.0 if i == 0 else (ha_open[i - 1] + ha_close[i - 1]) / 2.0
        ha_open.append(ho)
        ha_close.append(hc)
    return ha_open, ha_close


def _adx_series(h, l, c, n: int = 14):
    """Wilder ±DM/TR smoothing, ±DI, DX and ADX (a second Wilder smoothing
    over DX, seeded at row 2n−1). Returns (di_plus, di_minus, dx, adx)."""
    m = len(c)
    dmp, dmm, tr = [0.0], [0.0], [h[0] - l[0]] if m else []
    for i in range(1, m):
        up, dn = h[i] - h[i - 1], l[i - 1] - l[i]
        dmp.append(up if (up > dn and up > 0) else 0.0)
        dmm.append(dn if (dn > up and dn > 0) else 0.0)
        tr.append(max(h[i] - l[i], abs(h[i] - c[i - 1]), abs(l[i] - c[i - 1])))
    di_p, di_m, dx, adx_out = [], [], [], []
    sp = sm = sa = None
    acc_p = acc_m = acc_a = 0.0
    adx_prev, acc_dx, n_dx = None, 0.0, 0
    for i in range(m):
        if sp is None:
            acc_p += dmp[i]
            acc_m += dmm[i]
            acc_a += tr[i]
            if i + 1 == n:
                sp, sm, sa = acc_p / n, acc_m / n, acc_a / n
        else:
            sp = (sp * (n - 1) + dmp[i]) / n
            sm = (sm * (n - 1) + dmm[i]) / n
            sa = (sa * (n - 1) + tr[i]) / n
        if sp is None:
            di_p.append(None)
            di_m.append(None)
            dx.append(None)
            adx_out.append(None)
            continue
        p = 100.0 * sp / sa if sa > 0 else 0.0
        q = 100.0 * sm / sa if sa > 0 else 0.0
        d = 100.0 * abs(p - q) / (p + q) if (p + q) > 0 else 0.0
        di_p.append(p)
        di_m.append(q)
        dx.append(d)
        if adx_prev is None:
            acc_dx += d
            n_dx += 1
            if n_dx == n:  # rn = 2n−1
                adx_prev = acc_dx / n
                adx_out.append(adx_prev)
            else:
                adx_out.append(None)
        else:
            adx_prev = (adx_prev * (n - 1) + d) / n
            adx_out.append(adx_prev)
    return di_p, di_m, dx, adx_out


def _gap_fill_rows(candles, interval_seconds: int, symbols=None):
    """Gap-fill as the dense scaffold does it: every symbol of the
    universe (``symbols``, else the candles' own) × every window
    ``w_min + k·interval`` up to ``w_max`` (bounds over all candles),
    forward-filling the last non-NULL close into silent windows.

    ``candles`` are (symbol, window_start, open, high, low, close,
    tick_count) tuples; returns (…, tick_count, gap_filled) tuples in
    (symbol, window_start) order. A row with no close to show (a real
    candle with a NULL close, or silence before any close) is dropped."""
    if not candles:
        return []
    starts = [c[1] for c in candles]
    w_min, w_max = min(starts), max(starts)
    step = timedelta(seconds=interval_seconds)
    universe = symbols if symbols is not None else {c[0] for c in candles}
    by_key = {(c[0], c[1]): c for c in candles}
    out = []
    for sym in sorted(universe):
        prev_close, w = None, w_min
        while w <= w_max:
            c = by_key.get((sym, w))
            if c is None:
                if prev_close is not None:
                    out.append((sym, w) + (prev_close,) * 4 + (0, True))
            elif c[5] is not None:
                out.append(tuple(c) + (False,))
                prev_close = c[5]
            w += step
    return out
