"""The one way an operator turns rows it holds on the driver into a
DataFrame.

``spark.createDataFrame(list_of_rows, schema)`` becomes
``sc.parallelize`` plus a pickling ``map`` in PySpark: a ``LogicalRDD``
over a Python RDD, so EVERY Spark read of that frame starts Python
worker tasks that unpickle the rows again.  An Arrow table handed to
``createDataFrame`` is instead shipped to the JVM once and becomes a
``LocalRelation`` leaf: later reads take the rows from the plan, Spark
can size it (a broadcast candidate) and no Python worker starts.
"""

from __future__ import annotations

from typing import Iterable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

__all__ = ["local_frame"]


def local_frame(
    spark: SparkSession,
    rows: Iterable[Sequence],
    schema: T.StructType | str,
) -> DataFrame:
    """``rows`` (tuples in ``schema``'s column order) as a
    ``LocalRelation``-backed frame with exactly ``schema``'s column
    types (a ``StructType`` or a DDL string such as ``"id long, v
    string"``).

    Values go through ``schema.toInternal`` first, the conversion the
    row-list path applies, so dates and naive timestamps mean what they
    mean there (a naive timestamp is local time).  No Spark job runs."""
    # imported here, not at module load: importing the package must
    # not pay for pyarrow in sessions that never build a local frame
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    cols = [[] for _ in schema.fields]
    for row in rows:
        for col, v in zip(cols, schema.toInternal(row)):
            col.append(v)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)
