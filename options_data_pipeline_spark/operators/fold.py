"""Per-key sequential fold in Spark SQL — the engine's one recursion shape.

Wilder ATR, EMA/RSI, MACD, Keltner, Heikin-Ashi, ADX and Holt are
recursions (each row's value depends on the previous row's state), which
no window aggregate expresses. :func:`fold_per_key` runs them inside the
JVM with no Python worker:

 1. ``groupBy(key)`` + ``sort_array(collect_list(struct(order, ...)))`` —
    one array of rows per key, in ``order`` (one shuffle at key grain,
    the partitioning the TR window and the indicators already use);
 2. ``aggregate`` folds the array over a named-struct state. The caller
    gives the state fields, their initial values and one SQL expression
    per field; a step that runs the same IEEE double operations in the
    same order as a sequential Python loop gives bit-equal results;
 3. ``zip_with`` pairs each row with the state after it, the caller's
    output expressions read that pair, and ``inline`` turns the pairs
    back into rows.

The per-row history is built in blocks of :data:`BLOCK` rows. Spark
copies an ``aggregate`` accumulator on every step, so a fold that
carries the whole history (``concat(out, array(v))`` per row) copies it
once per row — quadratic in the series length. Here the fold runs twice
over fixed slices: the first pass carries only the state entering each
block, the second re-folds every block from its entry state and carries
at most one block of history — one array per state field the outputs
read, since a history of structs is copied struct by struct. Each row's
step is evaluated twice, and each row copies at most one block.

Expressions are Spark SQL over two lambda variables: ``s`` (the state)
and ``x`` (the current row's struct: ``x.<column>``); initial values may
read the key's ordered rows as ``{ROWS}[k].<column>``. A NULL input
propagates through SQL arithmetic, so where a Python loop over pandas
floats would yield NaN the fold yields NULL.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

BLOCK = 64  # rows per slice of the blocked state history

ROWS = "__fold_rows"  # the key's rows, sorted by the order column


def _struct_sql(pairs) -> str:
    return "named_struct(" + ", ".join(f"'{k}', {v}" for k, v in pairs) + ")"


def sma_seeded(n: int, count: str, acc: str, x: str, steady: str) -> str:
    """A recursion seeded by the mean of its first ``n`` inputs: NULL
    while ``count`` (inputs seen, this row's included) is below ``n``,
    ``(acc + x) / n`` at the n-th input (``acc`` sums the earlier ones),
    then ``steady``."""
    return (
        f"CASE WHEN {count} < {n} THEN NULL WHEN {count} = {n}"
        f" THEN ({acc} + {x}) / {n} ELSE {steady} END"
    )


def wilder(n: int, count: str, acc: str, prev: str, x: str) -> str:
    """Wilder smoothing of ``x``: SMA(n) seed, then (prev·(n−1) + x)/n."""
    return sma_seeded(n, count, acc, x, f"({prev} * {n - 1} + {x}) / {n}")


def py_max(*args: str) -> str:
    """Python's ``max(a, b, ...)``: the first argument unless a later one
    is strictly greater."""
    out = args[0]
    for a in args[1:]:
        out = f"IF({a} > {out}, {a}, {out})"
    return out


def fold_per_key(
    df: DataFrame,
    state: list[tuple[str, str, str]],
    steps: list[dict[str, str]],
    emit: dict[str, str],
    keep: list[str],
    key: str = "symbol",
    order: str = "window_start",
) -> DataFrame:
    """Fold each ``key`` group of ``df`` in ``order`` and emit one row per
    input row: the ``keep`` columns followed by one column per ``emit``
    entry. Every non-key column of ``df`` travels through the fold, so
    select what the step and ``keep`` need first.

    ``state``: ``(field, sql type, initial value)`` triples.
    ``steps``: stages applied to every row in turn; each maps state
    fields to their new value over ``s`` (the state the previous stage
    left) and ``x``; unset fields carry over. A later stage reads the
    earlier stages' results, so a step can use a value computed in the
    same row without repeating its expression.
    ``emit``: output column → expression over ``s`` (the state after the
    row) and ``x``."""
    fields = [f for f, _, _ in state]
    types = {f: t for f, t, _ in state}
    st_fields = ", ".join(f"{f}: {t}" for f, t, _ in state)
    st_type = f"STRUCT<{st_fields}>"
    # the fields the outputs read: the only ones the history records
    seen = list(dict.fromkeys(re.findall(r"\bs\.(\w+)", " ".join(emit.values()))))

    def snap(v: str, names=fields) -> str:
        return _struct_sql((f, f"{v}.{f}") for f in names)

    def step(first_extra=(), later_extra=()) -> str:
        """One row's step over ``s``; a later stage sees the earlier
        stages' result as ``s`` through a one-element transform (SQL has
        no let). ``*_extra`` fields ride along in the stage structs."""
        out = _struct_sql([(f, steps[0].get(f, f"s.{f}")) for f in fields] + list(first_extra))
        for later in steps[1:]:
            nxt = _struct_sql([(f, later.get(f, f"s.{f}")) for f in fields] + list(later_extra))
            out = f"transform(array({out}), s -> {nxt})[0]"
        return out

    # slices by index: ``slice`` converts its whole input array per call
    blocks = (
        f"transform(sequence(0, (size({ROWS}) - 1) div {BLOCK}),"
        f" b -> transform(sequence(b * {BLOCK},"
        f" least(b * {BLOCK} + {BLOCK}, size({ROWS})) - 1), k -> {ROWS}[k]))"
    )
    # pass 1: the state entering each block, then the final state. The
    # CAST makes every field nullable whatever its initial value.
    zero = (
        "CAST("
        + _struct_sql([(f, init) for f, _, init in state] + [("_starts", "array()")])
        + f" AS STRUCT<{st_fields}, _starts: ARRAY<{st_type}>>)"
    )
    block_end = _struct_sql(
        [(f, f"s.{f}") for f in fields]
        + [("_starts", f"concat(o._starts, array({snap('o')}))")]
    )
    starts = (
        f"aggregate({blocks}, {zero},"
        f" (o, blk) -> aggregate(blk, {snap('o')}, (s, x) -> {step()}, s -> {block_end}),"
        f" o -> concat(o._starts, array({snap('o')})))"
    )
    # pass 2: each block again from its entry state, recording the read
    # fields before every row; the final state pairs with a NULL block.
    # Shifted by one, that is the state after every row.
    hist = [(f"_h_{f}", f) for f in seen]
    block_zero = _struct_sql(
        [(f, f"st.{f}") for f in fields]
        + [(h, f"CAST(array() AS ARRAY<{types[f]}>)") for h, f in hist]
    )
    record = step(
        [(h, f"concat(s.{h}, array(s.{f}))") for h, f in hist], [(h, f"s.{h}") for h, _ in hist]
    )
    as_rows = _struct_sql((f, f"s.{h}[k]") for h, f in hist)
    one_block = (
        f"aggregate(blk, {block_zero}, (s, x) -> {record},"
        f" s -> transform(sequence(0, size(s.{hist[0][0]}) - 1), k -> {as_rows}))"
    )
    after = (
        f"slice(flatten(zip_with({blocks}, {starts}, (blk, st) ->"
        f" IF(blk IS NULL, array({snap('st', seen)}), {one_block}))), 2, size({ROWS}))"
    )
    rest = [c for c in df.columns if c not in (key, order)]
    row = _struct_sql(
        [(c, f"x.`{c}`") for c in [order, *rest] if c in keep] + list(emit.items())
    )
    return (
        df.groupBy(key)
        .agg(F.sort_array(F.collect_list(F.struct(order, *rest))).alias(ROWS))
        .select(key, F.expr(f"inline(zip_with({ROWS}, {after}, (x, s) -> {row}))"))
        .select(*keep, *emit)
    )
