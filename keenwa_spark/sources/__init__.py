"""Source / sink layer.

keenwa has no I/O at all (optimizer-only; its 'tables' are catalog
declarations — reference src/catalog/mod.rs:65-93). This package is
therefore beyond-parity surface: the readers/writers an executing
engine needs, thin and declarative so Catalyst keeps pushdown/pruning.

- ``read_parquet / read_csv / read_json / read_orc`` — schema-aware
  readers returning plain DataFrames (scan stays pushdown-capable);
- ``write_parquet`` — partitioned, size-targeted writer (the 100 TB
  output shape: partition columns + target file size, never
  coalesce(1));
- ``parquet_schema`` / ``nanos_columns`` — one parquet footer read on
  the driver: the schema Spark would infer without the Spark job its
  inference runs, and the TIMESTAMP(NANOS) columns the Catalog and the
  event stream convert.
"""

from keenwa_spark.sources.readers import (
    read_binary_dir,
    read_csv,
    read_json,
    read_orc,
    read_parquet,
)
from keenwa_spark.sources.writers import backfill_partitions, write_parquet

__all__ = [
    "backfill_partitions",
    "read_binary_dir",
    "read_csv",
    "read_json",
    "read_orc",
    "read_parquet",
    "write_parquet",
]
