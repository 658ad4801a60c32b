"""The driver boundary: small frames built on the driver.

`spark.createDataFrame(<python list>)` plans a `Scan ExistingRDD`: every
scan of the frame starts Python workers to unpickle its rows, even when
the plan above it is pure JVM. `local_frame` builds the frame from a
pyarrow table instead, which plans a `LocalTableScan` (a
`LocalRelation`): no Python worker, exact size statistics, and Catalyst
folds filters and projections over it at plan time.

A `LocalRelation` travels inside the plan (to the optimizer and to
every task that scans it), so `local_frame` refuses inputs above
`MAX_LOCAL_ROWS`; larger data belongs in a distributed source.
"""

from __future__ import annotations

from typing import Any, Iterable

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import ArrayType, DataType, MapType, StructField, StructType

# Rows a driver-built frame may carry inside its plan.
MAX_LOCAL_ROWS = 100_000


def _nested_nullable(t: DataType) -> DataType:
    # PySpark's Arrow path rebuilds nested arrays as nullable before it
    # casts them to the target schema, so a non-nullable nested field
    # fails the cast; nested fields are therefore declared nullable.
    if isinstance(t, StructType):
        return StructType([StructField(f.name, _nested_nullable(f.dataType), True, f.metadata)
                           for f in t.fields])
    if isinstance(t, ArrayType):
        return ArrayType(_nested_nullable(t.elementType), True)
    if isinstance(t, MapType):
        return MapType(_nested_nullable(t.keyType), _nested_nullable(t.valueType), True)
    return t


def local_frame(spark: SparkSession, rows: Iterable[Any], schema: StructType | str) -> DataFrame:
    """DataFrame over driver-side `rows` that scans without Python.

    `rows` are tuples (by position) or dicts (by field name; extra keys
    are ignored); `schema` is a StructType or a DDL string. The frame
    keeps the schema's names, types and top-level nullability; nested
    fields come back nullable. Raises ValueError above MAX_LOCAL_ROWS.
    """
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    rows = list(rows)
    if len(rows) > MAX_LOCAL_ROWS:
        raise ValueError(
            f"local_frame got {len(rows)} rows, above MAX_LOCAL_ROWS={MAX_LOCAL_ROWS}; "
            "write larger inputs to a distributed source instead")
    relaxed = StructType([StructField(f.name, _nested_nullable(f.dataType), f.nullable, f.metadata)
                          for f in schema.fields])
    arrow_schema = to_arrow_schema(relaxed)
    columns = [
        pa.array([r[f.name] if isinstance(r, dict) else r[i] for r in rows], type=f.type)
        for i, f in enumerate(arrow_schema)
    ]
    return spark.createDataFrame(pa.Table.from_arrays(columns, schema=arrow_schema))
