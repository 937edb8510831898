"""Catalog: named parquet-backed tables with row-count statistics.

Mirrors keenwa's catalog surface (reference src/catalog/mod.rs:21-93:
``Catalog { schemas } → Schema { tables } → Table { name, columns,
statistics }``, ``TableBuilder.add_row_count``, mutable implementation
src/catalog/mutable.rs). Keenwa's per-table row counts feed its
SimpleCostEstimator (reference src/cost/simple.rs:25-157); here they
feed our broadcast-hint decisions and are also what Catalyst's CBO
would consume via ANALYZE on persisted tables.

Row counts come free from parquet footers (no data scan), the same
"declared statistics" model keenwa uses — the catalog knows sizes
without reading rows.

Schemas come from the same footers (``sources.readers.read_parquet``
/ ``parquet_schema``). Spark's own schema inference launches a Spark
job per table just to read the footer the catalog has already opened
on the driver, so registering the ten standard tables cost ten jobs,
about half of a fresh session's set-up. Read from the footer,
registration launches no Spark job.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession

from keenwa_spark.errors import ArgumentError
from keenwa_spark.sources.readers import nanos_columns, read_parquet

#: Tables the driver materializes at /root/testdata/sf*/ (TESTDATA.md)
STANDARD_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


@dataclass
class TableDef:
    """One catalog table (reference src/catalog/mod.rs:65-93)."""

    name: str
    path: str
    row_count: int | None = None
    size_bytes: int | None = None
    columns: list[tuple[str, str]] = field(default_factory=list)


@dataclass
class IndexDef:
    """Index metadata (reference Index: src/catalog/mod.rs:182-214 —
    name, table, covered columns, optional ordering).

    Spark has no secondary indexes; the physical analog of the
    reference's IndexOnlyScanRule (reference
    rules/implementation/index.rs:10-77 — serve an ordered scan from
    the index, skipping the sort) is a bucketed+sorted table layout:
    joins and aggregations on the leading index column then plan with
    NO Exchange, the write-time shuffle playing the role of the index
    build. ``Catalog.materialize_index`` performs that mapping."""

    name: str
    table: str
    columns: list[str]
    descending: list[bool] | None = None  # reference Ordering; None = unordered


class Catalog:
    """Register parquet tables as temp views + keep statistics."""

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self.tables: dict[str, TableDef] = {}
        self.indexes: dict[str, IndexDef] = {}

    def register_parquet(self, name: str, path: str) -> TableDef:
        if not os.path.exists(path):
            raise ArgumentError(f"no parquet file at {path}")
        # Defensive: the driver may hand us a session built WITHOUT
        # session.py's configs. Both are runtime-settable:
        # - nanosAsLong reads TIMESTAMP(NANOS) parquet (older testdata
        #   generations) as long; the view converts to micros below;
        # - inferTimestampNTZ=false reads naive (isAdjustedToUTC=false)
        #   parquet timestamps as TimestampType instead of NTZ, so the
        #   whole engine sees one timestamp type regardless of how the
        #   generator wrote the file — with the session timezone pinned
        #   to UTC the wall-clock values are identical either way, and
        #   the scan stays cast-free (filter pushdown on ts intact).
        self.spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        self.spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        if os.path.isdir(path):
            # Spark-standard directory layout: sum the part files
            dataset = pq.ParquetDataset(path)
            row_count = sum(
                frag.metadata.num_rows if frag.metadata else frag.count_rows()
                for frag in dataset.fragments
            )
            size_bytes = sum(
                os.path.getsize(os.path.join(dp, f))
                for dp, _, fs in os.walk(path)
                for f in fs
                if f.endswith(".parquet")
            )
        else:
            row_count = pq.read_metadata(path).num_rows
            size_bytes = os.path.getsize(path)
        df = read_parquet(self.spark, path)
        # parquet TIMESTAMP(NANOS) has no Spark type; the session reads it
        # as long (nanosAsLong) and the view converts to a micros timestamp
        from pyspark.sql import functions as F

        for col in nanos_columns(path):
            df = df.withColumn(
                col, F.expr(f"timestamp_micros(CAST({col} DIV 1000 AS BIGINT))")
            )
        df.createOrReplaceTempView(name)
        tdef = TableDef(
            name=name,
            path=path,
            row_count=row_count,
            size_bytes=size_bytes,
            columns=[(f.name, f.dataType.simpleString()) for f in df.schema.fields],
        )
        self.tables[name] = tdef
        return tdef

    def register_dir(self, sf_dir: str, tables: tuple[str, ...] = STANDARD_TABLES) -> None:
        """Register every standard table under a testdata sf directory."""
        for name in tables:
            path = os.path.join(sf_dir, f"{name}.parquet")
            if os.path.exists(path):
                self.register_parquet(name, path)

    def table(self, name: str) -> DataFrame:
        if name not in self.tables:
            raise ArgumentError(f"table does not exist: {name}")
        return self.spark.table(name)

    def row_count(self, name: str) -> int | None:
        tdef = self.tables.get(name)
        return tdef.row_count if tdef else None

    def persist_and_analyze(
        self, name: str, columns: list[str] | None = None
    ) -> None:
        """Promote a temp-view table to a managed table and run ANALYZE
        (optionally with column-level stats) so Catalyst's CBO has the
        same information keenwa's SimpleCatalogStatisticsBuilder gets
        from TableStatistics (reference src/statistics/simple.rs:28-120,
        src/catalog/mod.rs:95-115) — plus histograms/NDVs the reference
        never models. Temp views cannot be ANALYZEd; this is the
        explicit opt-in for CBO join reordering on hot tables."""
        if name not in self.tables:
            raise ArgumentError(f"table does not exist: {name}")
        managed = f"{name}_stats"
        self.spark.sql(f"DROP TABLE IF EXISTS {managed}")
        # an in-memory catalog drop leaves the warehouse dir behind;
        # clear it or saveAsTable fails with LOCATION_ALREADY_EXISTS
        warehouse = self.spark.conf.get(
            "spark.sql.warehouse.dir", "spark-warehouse"
        ).removeprefix("file:")
        leftover = os.path.join(warehouse, managed)
        if os.path.exists(leftover):
            import shutil

            shutil.rmtree(leftover)
        self.spark.table(name).write.mode("overwrite").saveAsTable(managed)
        self.spark.sql(f"ANALYZE TABLE {managed} COMPUTE STATISTICS")
        if columns:
            cols = ", ".join(columns)
            self.spark.sql(
                f"ANALYZE TABLE {managed} COMPUTE STATISTICS FOR COLUMNS {cols}"
            )

    def table_stats(self, name: str) -> dict:
        """Catalyst's view of a managed table's statistics (DESCRIBE
        EXTENDED Statistics line parsed)."""
        rows = self.spark.sql(f"DESCRIBE TABLE EXTENDED {name}").collect()
        for r in rows:
            if r.col_name == "Statistics":
                return {"statistics": r.data_type}
        return {}

    def add_index(
        self,
        name: str,
        table: str,
        columns: list[str],
        descending: list[bool] | None = None,
    ) -> IndexDef:
        """Declare index metadata (reference IndexBuilder,
        src/catalog/mod.rs:214-260): validated against the table's
        schema, stored for API parity and as layout advice. Declaring
        an index moves no data — ``materialize_index`` does."""
        if table not in self.tables:
            raise ArgumentError(f"table does not exist: {table}")
        known = {c for c, _ in self.tables[table].columns}
        missing = [c for c in columns if c not in known]
        if not columns or missing:
            raise ArgumentError(
                f"index columns must be non-empty and exist in {table}; missing: {missing}"
            )
        if descending is not None and len(descending) != len(columns):
            raise ArgumentError("descending flags must match columns")
        if name in self.indexes:
            raise ArgumentError(f"index already exists: {name}")
        idx = IndexDef(name=name, table=table, columns=list(columns), descending=descending)
        self.indexes[name] = idx
        return idx

    def table_indexes(self, table: str) -> list[IndexDef]:
        """Indexes declared for a table (reference get_indexes,
        src/catalog/mod.rs:30-34)."""
        return [i for i in self.indexes.values() if i.table == table]

    def materialize_index(self, name: str, n_buckets: int = 32) -> str:
        """Realize declared index metadata as the Spark-native layout it
        advises: a managed table bucketed by the leading index column
        and sorted by all index columns — the IndexOnlyScanRule analog
        (reference rules/implementation/index.rs:10-77, whose point is
        satisfying an ordering REQUIREMENT without a Sort; ordering
        model at reference src/catalog/mod.rs:297-301). Returns the
        managed table name; joins/aggregations on the leading column
        against it plan with no Exchange AND no Sort (both asserted in
        tests/test_catalog_engine.py).

        Sort elimination needs two things this method provides/sets:
        (1) ONE file per bucket (write_bucketed repartitions by the
        bucket column before writing — concatenating several sorted
        files would break the ordering, so Spark refuses to report it
        otherwise), and (2) ``spark.sql.legacy.bucketedTableScan.
        outputOrdering=true`` — Spark 3 turned the sorted-bucket scan
        ordering off by default because the one-file-per-bucket check
        costs a listing on tables that don't qualify; this layout
        qualifies by construction, so the conf is set here
        (runtime-settable, session-scoped)."""
        if name not in self.indexes:
            raise ArgumentError(f"index does not exist: {name}")
        idx = self.indexes[name]
        self.spark.conf.set(
            "spark.sql.legacy.bucketedTableScan.outputOrdering", "true"
        )
        from keenwa_spark.sources.bucketing import write_bucketed

        managed = f"{idx.table}_idx_{idx.name}"
        self.spark.sql(f"DROP TABLE IF EXISTS {managed}")
        warehouse = self.spark.conf.get(
            "spark.sql.warehouse.dir", "spark-warehouse"
        ).removeprefix("file:")
        leftover = os.path.join(warehouse, managed)
        if os.path.exists(leftover):
            import shutil

            shutil.rmtree(leftover)
        write_bucketed(
            self.spark.table(idx.table),
            managed,
            idx.columns[0],
            n_buckets=n_buckets,
            sort=idx.columns,
        )
        return managed
