"""Seeded input generators: tick days in the ``events`` table layout, a
trading calendar, and labelled document batches.

Everything here is a pure function of its ``seed`` and shape arguments;
the package under test only ever sees the files these write.
"""

from __future__ import annotations

import datetime as dt
import itertools
import json
import os
from collections.abc import Iterator

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_SYMBOLS = 178  # the reference's instrument universe
WINDOW_S = 300
WINDOWS_PER_DAY = 75  # 09:15 .. 15:30 IST, 5-minute candles
OPEN_HM = (9, 15)
MUHURAT_HM = (18, 15)
MUHURAT_WINDOWS = 12  # 18:15 .. 19:15

# events.parquet columns; ts is written as µs — Spark's reader refuses
# ns-precision parquet timestamps (PARQUET_TYPE_ILLEGAL)
EVENTS_SCHEMA = pa.schema(
    [
        ("event_id", pa.int64()),
        ("ts", pa.timestamp("us")),
        ("user_id", pa.int64()),
        ("event_type", pa.string()),
        ("value", pa.float64()),
        ("props", pa.string()),
    ]
)


def symbols() -> list[str]:
    return [f"SYM{i:03d}" for i in range(N_SYMBOLS)]


def trading_days(n: int, start: dt.date = dt.date(2026, 1, 5)) -> list[dt.date]:
    """``n`` consecutive weekdays from ``start`` (a Monday)."""
    out, d = [], start
    while len(out) < n:
        if d.weekday() < 5:
            out.append(d)
        d += dt.timedelta(days=1)
    return out


def weekdays_before(day: dt.date, n: int) -> list[dt.date]:
    """The ``n`` weekdays before ``day``, latest first."""
    out, d = [], day
    while len(out) < n:
        d -= dt.timedelta(days=1)
        if d.weekday() < 5:
            out.append(d)
    return out


def write_calendar(path: str, holiday: dt.date, muhurat: dt.date) -> None:
    """A ``load_calendar`` JSON: one plain holiday and one holiday that
    carries the Muhurat evening session (18:15–19:15)."""
    doc = {
        "holidays": [
            {"date": holiday.isoformat(), "name": "Holiday"},
            {"date": muhurat.isoformat(), "name": "Diwali"},
        ],
        "special_sessions": {
            muhurat.isoformat(): {"name": "Muhurat", "open": "18:15", "close": "19:15"}
        },
    }
    with open(path, "w") as fh:
        json.dump(doc, fh)


def _day_ticks(
    rng: np.random.Generator,
    day: dt.date,
    ticks_per_window: float,
    silent_share: float,
    hot_factor: float,
    first_event_id: int,
    open_hm: tuple[int, int] = OPEN_HM,
    n_windows: int = WINDOWS_PER_DAY,
    stray_share: float = 0.0,
) -> dict[str, np.ndarray]:
    """One session of ticks: per (symbol, window) a Poisson tick count
    (zero for the silent share), symbol 0 hot, prices a per-symbol
    random walk. ``stray_share`` adds ticks at 10:00–11:00 that a special
    session's calendar gate must drop."""
    n_sym = N_SYMBOLS
    lam = np.full((n_sym, n_windows), ticks_per_window)
    lam[0] *= hot_factor
    counts = rng.poisson(lam)
    counts[rng.random((n_sym, n_windows)) < silent_share] = 0
    # every symbol trades in the first window, so gap_fill never drops an
    # unfillable leading row and the silent share is all synthesised
    counts[:, 0] = np.maximum(counts[:, 0], 1)
    total = int(counts.sum())
    sym_idx = np.repeat(np.repeat(np.arange(n_sym), n_windows), counts.ravel())
    win_idx = np.repeat(np.tile(np.arange(n_windows), n_sym), counts.ravel())
    start = dt.datetime.combine(day, dt.time(*open_hm))
    start_us = int((start - dt.datetime(1970, 1, 1)).total_seconds()) * 1_000_000
    offs = rng.integers(0, WINDOW_S * 1_000_000, total)
    ts = start_us + win_idx.astype(np.int64) * WINDOW_S * 1_000_000 + offs
    base = 100.0 + 50.0 * rng.random(n_sym)
    steps = rng.normal(0.0, 0.05, total)
    order = np.lexsort((ts, sym_idx))
    walk = np.empty(total)
    walk[order] = np.cumsum(steps[order])
    # restart each symbol's walk at its base price
    first = np.searchsorted(sym_idx[order], np.arange(n_sym))
    cum_at_first = np.cumsum(steps[order])[first] - steps[order][first]
    price = np.round(base[sym_idx] + walk - cum_at_first[sym_idx], 2)
    if stray_share > 0:
        n_stray = max(1, int(total * stray_share))
        s_sym = rng.integers(0, n_sym, n_stray)
        s_start = dt.datetime.combine(day, dt.time(10, 0))
        s_us = int((s_start - dt.datetime(1970, 1, 1)).total_seconds()) * 1_000_000
        sym_idx = np.concatenate([sym_idx, s_sym])
        ts = np.concatenate([ts, s_us + rng.integers(0, 3600 * 1_000_000, n_stray)])
        price = np.concatenate([price, np.full(n_stray, 999.0)])
    # event_id is the arrival-order authority: ascending in ts
    order = np.argsort(ts, kind="stable")
    n = len(ts)
    return {
        "event_id": first_event_id + np.arange(n, dtype=np.int64),
        "ts": ts[order],
        "sym": sym_idx[order],
        "price": price[order],
    }


def _events_table(t: dict[str, np.ndarray], user_ids: np.ndarray) -> pa.Table:
    names = np.array(symbols())
    return pa.table(
        {
            "event_id": t["event_id"],
            "ts": pa.array(t["ts"], type=pa.timestamp("us")),
            "user_id": user_ids,
            "event_type": names[t["sym"]],
            "value": t["price"],
            "props": pa.nulls(len(t["ts"]), type=pa.string()),
        },
        schema=EVENTS_SCHEMA,
    )


def write_tick_day(
    out_dir: str,
    seed: int,
    k: int,
    day: dt.date,
    ticks_per_window: float,
    silent_share: float,
    hot_factor: float,
    special: bool = False,
    holiday: dt.date | None = None,
) -> dict:
    """Write day ``k``'s ticks to ``<out_dir>/<date>/events.parquet``; the
    ticks depend only on (seed, k). A ``special`` day trades only in the
    18:15 Muhurat session (12 windows) and also carries stray
    default-hours ticks the calendar gate must drop. With ``holiday``, the
    file also holds a full default-hours session on that date, which the
    gate must drop whole."""
    rng = np.random.default_rng([seed, k])
    shape = (ticks_per_window, silent_share, hot_factor)
    parts = [
        _day_ticks(
            rng, day, *shape,
            first_event_id=k * 100_000_000 + 1,
            open_hm=MUHURAT_HM if special else OPEN_HM,
            n_windows=MUHURAT_WINDOWS if special else WINDOWS_PER_DAY,
            stray_share=0.02 if special else 0.0,
        )
    ]
    if holiday is not None:
        parts.append(_day_ticks(rng, holiday, *shape, first_event_id=k * 100_000_000 + 50_000_001))
    t = {c: np.concatenate([p[c] for p in parts]) for c in parts[0]}
    d = os.path.join(out_dir, day.isoformat())
    os.makedirs(d, exist_ok=True)
    users = rng.integers(1, 1000, len(t["ts"]))
    path = os.path.join(d, "events.parquet")
    pq.write_table(_events_table(t, users), path)
    return {"k": k, "date": day, "holiday": holiday, "dir": d, "path": path, "ticks": len(t["ts"])}


def _vocab(rng: np.random.Generator, n: int = 4000) -> np.ndarray:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    lens = rng.integers(3, 10, n)
    return np.array(["".join(rng.choice(letters, k)) for k in lens])


def _edit(rng: np.random.Generator, text: str, vocab: np.ndarray) -> str:
    """Swap one word in every 40: a light edit (Jaccard ~0.9 on 5-char
    shingles)."""
    words = text.split(" ")
    for i in range(0, len(words), 40):
        j = int(rng.integers(i, min(i + 40, len(words))))
        words[j] = str(vocab[rng.integers(0, len(vocab))])
    return " ".join(words)


def doc_batches(
    seed: int,
    batch_docs: int,
    exact_share: float,
    edit_share: float,
    intra_share: float,
    words_per_doc: tuple[int, int] = (60, 140),
    first_sizes: tuple[int, ...] = (),
) -> Iterator[dict]:
    """Endless labelled document batches with fresh doc_ids. Batch ``b`` holds
    ``batch_docs`` docs: an ``exact_share`` of verbatim replays of earlier
    batches' fresh documents (same text, new id), an ``edit_share`` of
    lightly edited copies of earlier fresh documents, an ``intra_share``
    of edited copies of fresh documents in the same batch (these form the
    within-batch candidate graph that connected components resolves), and
    fresh documents for the rest. Batch 0 has no cross-batch copies;
    the first batches take their sizes from ``first_sizes`` (small
    warm-up batches).
    Each doc carries its label and the doc_id of its source (-1 when
    fresh)."""
    rng = np.random.default_rng(seed)
    vocab = _vocab(rng)
    pool_text: list[str] = []
    pool_id: list[int] = []
    next_id = 1
    for b in itertools.count():
        size = first_sizes[b] if b < len(first_sizes) else batch_docs
        n_exact = 0 if b == 0 else int(size * exact_share)
        n_edit = 0 if b == 0 else int(size * edit_share)
        n_intra = int(size * intra_share)
        n_fresh = size - n_exact - n_edit - n_intra
        ids = next_id + rng.permutation(size).astype(np.int64)
        next_id += size
        texts, labels, sources = [], [], []
        for _ in range(n_fresh):
            k = int(rng.integers(*words_per_doc))
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), k)]))
            labels.append("fresh")
            sources.append(-1)
        for _ in range(n_exact):
            src = int(rng.integers(0, len(pool_text)))
            texts.append(pool_text[src])
            labels.append("exact")
            sources.append(pool_id[src])
        for _ in range(n_edit):
            src = int(rng.integers(0, len(pool_text)))
            texts.append(_edit(rng, pool_text[src], vocab))
            labels.append("edit")
            sources.append(pool_id[src])
        for i in rng.choice(n_fresh, n_intra, replace=False):
            texts.append(_edit(rng, texts[i], vocab))
            labels.append("intra")
            sources.append(int(ids[i]))
        pool_text.extend(texts[:n_fresh])
        pool_id.extend(int(i) for i in ids[:n_fresh])
        yield {"doc_id": ids, "text": texts, "label": labels, "source": sources}


def doc_table(batch: dict) -> pa.Table:
    n = len(batch["doc_id"])
    return pa.table(
        {
            "doc_id": batch["doc_id"],
            "text": batch["text"],
            "lang": ["en"] * n,
            "source": [f"gen:{lab}" for lab in batch["label"]],
            "n_chars": np.array([len(t) for t in batch["text"]], dtype=np.int64),
        }
    )


def write_doc_batch(path: str, batch: dict) -> None:
    pq.write_table(doc_table(batch), path)


def embeddings_table(seed: int, n: int, dim: int, clusters: int) -> pa.Table:
    """``n`` float32 vectors of ``dim`` dimensions drawn around ``clusters``
    random centres; ``label`` is the centre a vector was drawn from."""
    rng = np.random.default_rng([seed, 11])
    centres = rng.normal(0.0, 1.0, (clusters, dim))
    labels = rng.integers(0, clusters, n)
    vecs = (centres[labels] + rng.normal(0.0, 0.6, (n, dim))).astype(np.float32)
    return pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": labels.astype(np.int32),
        }
    )
