"""Declarative readers. Every reader returns an un-materialized
DataFrame so Catalyst retains predicate pushdown, column pruning, and
partition pruning — the reader never does work the optimizer could
skip.
"""

from __future__ import annotations

import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.conf import RuntimeConfig
from pyspark.sql.pandas.types import from_arrow_type
from pyspark.sql.types import (
    ArrayType,
    DataType,
    LongType,
    MapType,
    StructField,
    StructType,
    TimestampType,
)

from keenwa_spark.errors import ArgumentError

#: footer key under which Spark's parquet writer stores the row schema
#: as JSON (ParquetReadSupport.SPARK_METADATA_KEY)
SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"

#: arrow leaf types whose Spark type ``from_arrow_schema`` gets right.
#: Left out on purpose: uint8-uint64 and float16 (pyspark rejects
#: them), duration (pyspark says interval, Spark's reader says long),
#: time, fixed-size binary, dictionary, null, decimal256, date64.
_LEAF_TYPES = (
    pa.types.is_boolean,
    pa.types.is_int8,
    pa.types.is_int16,
    pa.types.is_int32,
    pa.types.is_int64,
    pa.types.is_float32,
    pa.types.is_float64,
    pa.types.is_decimal128,
    pa.types.is_string,
    pa.types.is_large_string,
    pa.types.is_binary,
    pa.types.is_large_binary,
    pa.types.is_date32,
    pa.types.is_timestamp,
)


def _hidden(name: str) -> bool:
    """Spark's file-index rule: ``_``/``.`` names are not data, except a
    ``k=v`` partition directory and the parquet summary files."""
    return (
        (name.startswith("_") and "=" not in name) or name.startswith(".")
    ) and name not in ("_metadata", "_common_metadata")


def _footer_file(path: str) -> str | None:
    """The file whose footer Spark's schema inference reads: ``path``
    itself, or the first data file under it in sorted path order.
    ``None`` when Spark would read a summary file instead, or when there
    is nothing to read."""
    if os.path.isfile(path):
        return path
    if not os.path.isdir(path):
        return None
    files = []
    for dirpath, dirnames, filenames in os.walk(path):
        dirnames[:] = [d for d in dirnames if not _hidden(d)]
        for name in filenames:
            if name in ("_metadata", "_common_metadata"):
                return None
            if not _hidden(name):
                files.append(os.path.join(dirpath, name))
    return min(files, default=None)


def _is_nanos(column) -> bool:
    """INT64 TIMESTAMP(NANOS): the one parquet timestamp Spark has no
    type for. Under nanosAsLong it reads as long; INT96 (also
    nanoseconds, also ``timestamp[ns]`` in arrow) reads as a timestamp."""
    return column.physical_type == "INT64" and (
        column.logical_type.type == "TIMESTAMP"
        and json.loads(column.logical_type.to_json())["timeUnit"] == "nanoseconds"
    )


def _has(t: pa.DataType, leaf) -> bool:
    """Whether ``leaf`` holds for ``t`` or a leaf type nested in its
    lists, maps and structs."""
    if pa.types.is_struct(t):
        return any(_has(t.field(i).type, leaf) for i in range(t.num_fields))
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return _has(t.value_type, leaf)
    if pa.types.is_map(t):
        return _has(t.key_type, leaf) or _has(t.item_type, leaf)
    return leaf(t)


def _as_nullable(dt: DataType) -> DataType:
    """Spark's ``DataType.asNullable``: a file source's data schema is
    nullable all the way down, whatever the footer declares."""
    if isinstance(dt, StructType):
        return StructType(
            [
                StructField(f.name, _as_nullable(f.dataType), True, f.metadata)
                for f in dt.fields
            ]
        )
    if isinstance(dt, ArrayType):
        return ArrayType(_as_nullable(dt.elementType), True)
    if isinstance(dt, MapType):
        return MapType(_as_nullable(dt.keyType), _as_nullable(dt.valueType), True)
    return dt


def _open_footer(path: str) -> pq.ParquetFile | None:
    file = _footer_file(path)
    if file is None:
        return None
    try:
        return pq.ParquetFile(file)
    except (OSError, pa.ArrowException):
        return None  # not parquet: Spark raises its own error


def nanos_columns(path: str) -> list[str]:
    """Top-level columns of ``path``'s footer that are INT64
    TIMESTAMP(NANOS), which Spark reads as long under nanosAsLong and
    the engine converts to a micros timestamp."""
    pf = _open_footer(path)
    if pf is None:
        return []
    schema = pf.schema
    return [
        col.name
        for col in (schema.column(i) for i in range(len(schema)))
        if "." not in col.path and _is_nanos(col)
    ]


def parquet_schema(path: str, conf: RuntimeConfig) -> StructType | None:
    """The schema ``spark.read.parquet(path)`` would infer, read from
    one footer on the driver instead of by a Spark job.

    Follows Spark's ``ParquetFileFormat.readSchemaFromFooter``: the
    footer of the first data file (``_footer_file``), its Spark schema
    when a Spark writer stored one (``SPARK_SCHEMA_KEY``), else its
    arrow schema converted with INT64 TIMESTAMP(NANOS) as long and INT96
    as a timestamp; then nullable throughout. This is the data schema:
    Spark appends partition columns it discovers from the paths.

    Returns ``None`` -- let Spark infer -- when a column's arrow type is
    outside ``_LEAF_TYPES`` and lists, maps and structs of them, for a
    nested nanosecond timestamp, and when the session turns
    nanosAsLong or int96AsTimestamp off or binaryAsString on.
    inferTimestampNTZ picks the type of naive timestamps, as in Spark.
    ``conf`` is the reading session's ``spark.conf``, asked only about
    the settings the file's column types depend on."""

    def on(key: str) -> bool:
        return conf.get(key) == "true"

    pf = _open_footer(path)
    if pf is None:
        return None
    arrow = pf.schema_arrow
    if any(
        _has(f.type, lambda t: not any(is_type(t) for is_type in _LEAF_TYPES))
        for f in arrow
    ):
        return None
    spark_json = (pf.metadata.metadata or {}).get(SPARK_SCHEMA_KEY)
    if spark_json is not None:
        try:
            return _as_nullable(StructType.fromJson(json.loads(spark_json)))
        except (ValueError, KeyError, TypeError):
            return None
    has_binary = any(
        _has(f.type, lambda t: pa.types.is_binary(t) or pa.types.is_large_binary(t))
        for f in arrow
    )
    if has_binary and on("spark.sql.parquet.binaryAsString"):
        return None
    leaves = {
        col.path: col for col in (pf.schema.column(i) for i in range(len(pf.schema)))
    }
    fields = []
    for f in arrow:
        col = leaves.get(f.name)  # None for a nested column
        if col is not None and _is_nanos(col):
            if not on("spark.sql.legacy.parquet.nanosAsLong"):
                return None
            dt: DataType = LongType()
        elif col is not None and col.physical_type == "INT96":
            if not on("spark.sql.parquet.int96AsTimestamp"):
                return None
            dt = TimestampType()
        elif _has(f.type, lambda t: pa.types.is_timestamp(t) and t.unit == "ns"):
            return None  # nested INT96 or NANOS: not worth the rule
        else:
            naive = _has(f.type, lambda t: pa.types.is_timestamp(t) and t.tz is None)
            ntz = naive and on("spark.sql.parquet.inferTimestampNTZ.enabled")
            dt = from_arrow_type(f.type, prefer_timestamp_ntz=ntz)
        fields.append(StructField(f.name, dt, True))
    return _as_nullable(StructType(fields))


def _ddl_field_names(schema: str) -> list[str]:
    """Field names of a DDL schema string (engine's own parser)."""
    return [f.name for f in StructType.fromDDL(schema).fields]


def read_parquet(
    spark: SparkSession,
    path: str,
    columns: list[str] | None = None,
    merge_schema: bool = False,
) -> DataFrame:
    """Parquet scan. ``columns`` prunes at the reader level (visible in
    ReadSchema); ``merge_schema`` only when files genuinely disagree —
    it costs a footer read per file at planning time.

    Without ``merge_schema`` the schema comes from ``parquet_schema``:
    one footer read on the driver, where Spark's own inference
    (``SchemaMergeUtils.mergeSchemasInParallel``) launches a Spark job
    to read that same footer on every call, even for one file. The
    footer rule copies Spark's: first data file in sorted order, the
    Spark-written schema when the footer holds one, else the arrow
    schema with INT64 TIMESTAMP(NANOS) as long and INT96 as a
    timestamp, nullable throughout. Columns outside the arrow
    allow-list (``_LEAF_TYPES``: booleans, signed ints, floats,
    decimal128, strings, binary, date32, timestamps, and lists, maps
    and structs of them) make it return ``None``, and Spark infers as
    before. Partition columns are still discovered from the paths."""
    reader = spark.read.option("mergeSchema", str(merge_schema).lower())
    schema = None if merge_schema else parquet_schema(path, spark.conf)
    if schema is not None:
        reader = reader.schema(schema)
    df = reader.parquet(path)
    return df.select(*columns) if columns else df


def read_csv(
    spark: SparkSession,
    path: str,
    schema: str | None = None,
    header: bool = True,
    delimiter: str = ",",
) -> DataFrame:
    """CSV with an EXPLICIT schema by default. inferSchema is a full
    extra pass over the data — at 100 TB that is a second job before
    the first; callers must opt into it by passing schema=None."""
    reader = (
        spark.read.option("header", str(header).lower())
        .option("sep", delimiter)
        .option("mode", "PERMISSIVE")
    )
    if schema:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "true")
    return reader.csv(path)


def read_json(
    spark: SparkSession,
    path: str,
    schema: str | None = None,
    multiline: bool = False,
    corrupt_col: str | None = None,
) -> DataFrame:
    """JSON lines (or multiline documents). Same explicit-schema rule
    as CSV: schema inference is a full pre-pass.

    ``corrupt_col`` opts into quarantine-style ingestion: malformed
    lines land whole in that STRING column (all data columns NULL)
    instead of failing the job or silently vanishing — on a crawl-
    scale corpus a handful of broken records must never kill the
    read, and quarantined originals let the pipeline count/inspect
    them (the same posture as decode_real's 'invalid' rows). The
    column must also be declared in ``schema``; Spark only populates
    it under PERMISSIVE mode with an explicit schema."""
    reader = spark.read.option("multiLine", str(multiline).lower())
    if corrupt_col:
        if not schema:
            raise ValueError("corrupt_col requires an explicit schema")
        if corrupt_col not in _ddl_field_names(schema):
            # without the column in the schema, PERMISSIVE mode emits
            # all-NULL rows for malformed lines and nothing is
            # quarantined — the silent failure this flag exists to
            # prevent, so reject it loudly
            raise ValueError(
                f"corrupt_col {corrupt_col!r} must be declared in the schema"
            )
        reader = reader.option("mode", "PERMISSIVE").option(
            "columnNameOfCorruptRecord", corrupt_col
        )
    if schema:
        reader = reader.schema(schema)
    return reader.json(path)


def read_orc(spark: SparkSession, path: str, columns: list[str] | None = None) -> DataFrame:
    df = spark.read.orc(path)
    return df.select(*columns) if columns else df


def read_binary_dir(
    spark: SparkSession,
    path: str,
    glob: str | None = None,
    max_bytes: int | None = None,
) -> DataFrame:
    """Raw-asset ingestion via Spark's ``binaryFile`` source: one row
    per file with ``path``, ``modificationTime``, ``length``, and
    ``content`` (binary) — the entry point that turns an image/audio
    directory into the opaque-binary-column shape the multimodal
    pipeline decodes (``pipeline/multimodal.py``).

    ``glob`` filters by filename pattern at LISTING time (e.g.
    ``*.png``) and ``max_bytes`` pushes a length ceiling into the scan
    (oversized assets are skipped before their bytes are read) — both
    prune work before any content crosses the wire. At 100 TB of small
    files the listing itself is the bottleneck: point this at a
    manifest-compacted layout (or convert once to parquet with the
    bytes inline, ``write_parquet``) rather than a raw million-file
    directory tree.
    """
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    df = reader.load(path)
    if max_bytes is not None:
        from pyspark.sql import functions as F

        df = df.where(F.col("length") <= max_bytes)
    return df


def read_table_dir(
    spark: SparkSession, sf_dir: str, table: str, columns: list[str] | None = None
) -> DataFrame:
    """Convenience: one of the standard testdata tables."""
    path = os.path.join(sf_dir, f"{table}.parquet")
    if not os.path.exists(path):
        raise ArgumentError(f"no such table file: {path}")
    return read_parquet(spark, path, columns)
