"""Driver-built rows as a ``LocalRelation``.

``spark.createDataFrame(<python list>, schema)`` plans the rows as a
pickled Python RDD (``LogicalRDD``): every evaluation of the frame — each
broadcast, each action over it — starts Python workers to unpickle a few
rows (~0.8 CPU-s per broadcast of a 2-row calendar). Sent through Arrow
instead, the same rows land in the JVM once, as a ``LocalRelation``
(``LocalTableScan``), and no evaluation needs a Python worker.
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType, _parse_datatype_string


def local_frame(spark: SparkSession, rows: Iterable, schema: StructType | str) -> DataFrame:
    """``spark.createDataFrame(rows, schema)`` as a ``LocalRelation``.

    ``rows``: tuples, lists, dicts or Rows, as ``createDataFrame`` takes
    them; ``schema``: a StructType or a DDL string. Values and types are
    those ``createDataFrame`` gives: each row goes through the schema's
    own ``toInternal`` (a naive ``datetime`` is read in the process's
    local time zone, as there), and timestamps reach Arrow as UTC
    instants, so the session time zone does not shift them."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if not isinstance(schema, StructType):
        schema = _parse_datatype_string(schema)
    internal = [schema.toInternal(r) for r in rows]
    arrow = to_arrow_schema(schema)
    table = pa.Table.from_arrays(
        [pa.array([r[i] for r in internal], type=f.type) for i, f in enumerate(arrow)],
        schema=arrow,
    )
    return spark.createDataFrame(table, schema)
