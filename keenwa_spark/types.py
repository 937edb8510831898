"""Type-system mapping: reference DataType -> Spark, with shims.

The reference's fixed type system (reference src/datatypes.rs:8-37) maps
onto Spark as below (SURVEY §1). Two deliberate policies:

1. WIDER-INTERNALLY: the reference lowers INT/BIGINT to Int32 and has
   only Float32 (reference src/sql/mod.rs:1367-1374, README.md:131-137).
   Copying that would silently truncate at 100 TB row counts; we use
   Spark's native widths internally and offer ``present_as_reference``
   to narrow at the presentation boundary when exact type parity is
   wanted (SURVEY §7 risk 5).

2. TIME SHIM: the reference has a TIME type (secs+nanos since midnight,
   reference src/datatypes.rs:22); Spark has none. The documented shim
   is seconds-since-midnight as INT (``time_of_day_expr``) — total
   ordering, arithmetic, and grouping all behave; formatting back is
   trivial. (SURVEY §7 risk 4.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: reference DataType (src/datatypes.rs:8-37) -> Spark DataType
REFERENCE_TYPE_MAP: dict[str, T.DataType] = {
    "null": T.NullType(),
    "bool": T.BooleanType(),
    "int32": T.IntegerType(),
    "float32": T.FloatType(),
    "string": T.StringType(),
    "date": T.DateType(),
    "time": T.IntegerType(),  # SHIM: seconds since midnight
    "timestamp": T.TimestampNTZType(),
    "timestamp_tz": T.TimestampType(),
    "interval_year_month": T.YearMonthIntervalType(),
    "interval_day_second": T.DayTimeIntervalType(),
    # tuple -> StructType(fields), array -> ArrayType(elem): constructed
    # per-instance, entries here mark the family
}


def time_of_day_expr(ts_col: str) -> str:
    """The TIME-type shim: seconds since midnight of a timestamp column
    (works identically in Spark and DuckDB — hour/minute/second are
    shared dialect)."""
    return (
        f"CAST(hour({ts_col}) * 3600 + minute({ts_col}) * 60 "
        f"+ second({ts_col}) AS INT)"
    )


def present_as_reference(df: DataFrame) -> DataFrame:
    """Narrow output columns to the reference's type widths at the
    presentation boundary: bigint -> int (count() parity — reference
    count returns Int32, aggregates.rs:29), double -> float. Internal
    plans keep full width; ONLY apply to final presentation."""
    cols = []
    for f in df.schema.fields:
        c = F.col(f.name)
        if isinstance(f.dataType, T.LongType):
            cols.append(c.cast("int").alias(f.name))
        elif isinstance(f.dataType, T.DoubleType):
            cols.append(c.cast("float").alias(f.name))
        else:
            cols.append(c)
    return df.select(*cols)
