"""DataFrames from driver-side rows.

Every frame the engine builds from Python values (inline
``PlanBuilder.values`` rows, ANN centroids and codebooks, sketch
reports, BPE merge tables, fixtures) goes through ``local_df``: the
rows become one ``pyarrow.Table`` under the DDL schema, and
``spark.createDataFrame(table, schema)`` hands it to the JVM as an
Arrow stream. Spark plans that as a ``LocalRelation``:

- it has an exact ``sizeInBytes``, so the planner can decide joins
  against it (a pickled Python-RDD scan is sized at
  ``spark.sql.defaultSizeInBytes`` and needs a forced broadcast);
- no Spark job or Python worker runs to build or to scan it;
- no data value becomes a plan literal, so codegen stays constant-size
  at any model size;
- float64 cells travel as IEEE bits, never as text, so they stay
  bit-exact;
- naive ``datetime`` cells are read in the session time zone, like a
  SQL ``TIMESTAMP`` literal (``createDataFrame(list)`` reads them in
  the process time zone instead).
"""

from __future__ import annotations

from collections.abc import Sequence

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType


def local_df(spark: SparkSession, rows: Sequence[Sequence], schema: str) -> DataFrame:
    """DataFrame of ``rows`` (tuples in schema order) under the DDL
    ``schema``, planned as a sized ``LocalRelation`` (see module
    docstring)."""
    st = StructType.fromDDL(schema)
    arrow = to_arrow_schema(st, timestamp_utc=False)
    rows = list(rows)
    width = len(st.fields)
    for row in rows:
        if len(row) != width:
            raise ValueError(
                f"row {row!r} has {len(row)} cells; schema {schema!r} "
                f"has {width} columns"
            )
    cols = list(zip(*rows)) if rows else [()] * width
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow)], schema=arrow
    )
    return spark.createDataFrame(table, st)
