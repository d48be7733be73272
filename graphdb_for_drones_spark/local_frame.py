"""Driver-local frames: columns the driver holds, as a Spark frame.

``local_frame`` is the one builder.  Its columns become one Arrow table
and the frame a ``LocalRelation``: no Python rows and no Python-RDD
scan.  ``spark.createDataFrame(tuples)`` is Python-RDD-backed, so every
query that reads such a frame starts Python workers (measured at
local[4]: a ``union().count()`` over an empty one cost 250-300 ms warm,
over an empty ``local_frame`` 60-100 ms, and a single materialization
paid one worker spawn per partition inside the iterative kernels).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType, TimestampType, _parse_datatype_string


def local_frame(spark: SparkSession, schema, *columns) -> DataFrame:
    """``columns``, one per field of ``schema`` (a DDL string or a
    StructType), as a local frame; no columns means zero rows.  A
    column is an Arrow array or any sequence ``pyarrow.array`` takes
    (a numpy array, a list of Python values as ``collect`` returns
    them).  Naive ``datetime`` values of a timestamp field are read in
    the session time zone, as Spark reads them."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if not isinstance(schema, StructType):
        schema = _parse_datatype_string(schema)
    arrow = to_arrow_schema(schema)
    if not columns:
        return spark.createDataFrame(arrow.empty_table(), schema=schema)
    arrays = []
    for col, field, at in zip(columns, schema.fields, arrow.types, strict=True):
        if not isinstance(col, (pa.Array, pa.ChunkedArray)):
            naive = isinstance(field.dataType, TimestampType)
            col = pa.array(col, type=pa.timestamp("us") if naive else at)
        arrays.append(col)
    return spark.createDataFrame(
        pa.table(arrays, names=schema.fieldNames()), schema=schema
    )
