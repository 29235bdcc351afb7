"""SQL text for driver loops: the one home of three decisions every
per-round ``spark.sql`` builder makes (k-means, k-center, MMR, CC star
contraction, quality GD, DoReMi, top-PC power iteration, and the
one-statement LSH/simhash builders).

 - **View naming and lifetime** — :func:`temp_view` registers a frame
   under a monotonic, session-unique name and drops it on exit, also on
   error. Names are never keyed on ``id()``: ids are reused after GC and
   the view namespace is session-global, so two interleaved builders
   could otherwise drop each other's view mid-loop.
 - **Lazy one-statement frames** — :func:`sql_lazy` builds a lazy result
   as ONE SQL statement over a throwaway view, for builders whose Column
   form needs hundreds of py4j round trips.
 - **Exact literals** — :func:`sql_double`, :func:`dot_sql` and
   :func:`sign_bit_sql` render driver-side floats and the fold dot
   product so the SQL text spells the same operators, in the same order,
   on the same IEEE doubles as the Column form.

Assumption (stated once, here): classic PySpark, where ``spark.sql``
analyzes eagerly. A frame built inside :func:`temp_view` has its analyzed
plan resolved while the view exists, so it survives the drop. Under
Spark Connect plans stay unresolved client-side until execution, and a
frame that outlives its view would fail at action time — driver loops
that collect each round inside the ``with`` block are unaffected.
"""

from __future__ import annotations

import itertools
from contextlib import contextmanager
from typing import Callable, Iterator, Sequence

from pyspark.sql import DataFrame

_suffixes = itertools.count()


@contextmanager
def temp_view(df: DataFrame, prefix: str) -> Iterator[str]:
    """Register ``df`` as temp view ``<prefix>_<n>`` for the ``with``
    block and yield the name; the view is dropped on exit."""
    name = f"{prefix}_{next(_suffixes)}"
    df.createOrReplaceTempView(name)
    try:
        yield name
    finally:
        df.sparkSession.catalog.dropTempView(name)


def sql_lazy(df: DataFrame, sql_for_view: Callable[[str], str]) -> DataFrame:
    """``spark.sql(sql_for_view(view))`` over a throwaway view of ``df``.
    ``.schema`` forces analysis while the view exists; the returned
    frame's analyzed plan embeds the resolved subtree, so the view is
    dropped before returning (no catalog leak)."""
    with temp_view(df, "__sig_v") as view:
        out = df.sparkSession.sql(sql_for_view(view))
        out.schema  # force analysis so the plan survives the view drop
    return out


def sql_double(x: float) -> str:
    """Render a Python float as a Spark SQL DOUBLE literal. ``repr`` emits
    the shortest decimal that round-trips (both Python and the JVM parse
    via correctly-rounded decimal→binary64), so the parsed literal is
    bit-identical to ``F.lit(x)``; the D suffix keeps Spark from reading
    it as DECIMAL."""
    return repr(float(x)) + "D"


def sql_double_array(xs: Sequence[float]) -> str:
    """``array(<x0>D, <x1>D, ...)`` — a driver-side vector as a literal."""
    return "array(" + ", ".join(sql_double(x) for x in xs) + ")"


def dot_sql(a: str, b: str) -> str:
    """SQL text of the sequential dot-product fold — the string twin of
    :func:`similarity.dot_col` (zip_with + aggregate, same summation
    order, so values stay bit-identical with DuckDB's list_dot_product)."""
    return f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0.0D, (a, x) -> a + x)"


def sign_bit_sql(vec: str, plane: Sequence[float]) -> str:
    """Random-hyperplane sign bit of array column ``vec``: 1 when
    ``vec · plane >= 0``, 0 when negative, NULL when the dot product is
    NULL (a NULL vector, or one with a NULL element). The NULL bit keeps
    such rows out of every real bucket: callers concatenate bits with the
    NULL-propagating ``concat``, so their bucket key is NULL and joins
    nothing. The dot product is written once (a CASE with two tests
    would evaluate it twice)."""
    return f"CAST({dot_sql(vec, sql_double_array(plane))} >= 0 AS INT)"
