"""Data plane: turn a snapshot's active file list into a DataFrame.

The reference stops at the file list (README.md:14-16); this module is the
compute engine it delegates to.  Design for scale:

- ONE `spark.read.parquet` over all surviving files — never a read per
  file/partition (a union of thousands of scans would defeat Catalyst).
- Partition columns are injected from the LOG's partitionValues (the
  canonical source per the Delta protocol) via a broadcast map-join on
  input_file_name() — O(#files) broadcast, zero extra shuffle of data rows.
- The declared schema is enforced (schemaString is authoritative), so
  column pruning/pushdown work against the true types.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructType

from delta_go_spark.actions import AddFile
from delta_go_spark.snapshot import Snapshot, canonicalize_path


def _data_schema(full: StructType, partition_cols: list[str]) -> StructType:
    pset = {c.lower() for c in partition_cols}
    return StructType([f for f in full.fields if f.name.lower() not in pset])


def read_files_with_pv(
    spark: SparkSession,
    schema: StructType,
    pcols: list[str],
    files: list[tuple[str, dict]],
) -> DataFrame:
    """One scan over already-readable paths with partition columns injected
    from the supplied (path -> partitionValues) mapping — the log is the
    canonical source of partition values per the Delta protocol.  Shared by
    snapshot reads and the hive-partitioned CDF read."""
    paths = [p for p, _ in files]
    if not paths:
        return spark.createDataFrame([], schema)
    if not pcols:
        return spark.read.schema(schema).parquet(*paths)

    data_schema = _data_schema(schema, pcols)
    df = spark.read.schema(data_schema).parquet(*paths)

    # (decoded absolute path -> partition values) broadcast mapping.  Both
    # sides are normalized to a plain decoded filesystem path, so no
    # URI-encoding table needs replicating.
    rows = []
    for p, pv in files:
        pv = pv or {}
        rows.append((p, *[pv.get(c) for c in pcols]))
    from pyspark.sql.types import StructField

    map_schema = StructType(
        [StructField("_pv_file", StringType(), False)]
        + [StructField(f"_pv_{c}", StringType(), True) for c in pcols]
    )
    pv_df = spark.createDataFrame(rows, map_schema)

    field_by_lower = {f.name.lower(): f for f in schema.fields}
    # input_file_name() -> decoded path: strip file: scheme, collapse the
    # authority slashes, %-decode (pre-escaping '+' which url_decode would
    # otherwise turn into a space).
    decoded = F.url_decode(
        F.regexp_replace(
            F.regexp_replace(F.input_file_name(), "^file:/+", "/"), r"\+", "%2B"
        )
    )
    df = df.withColumn("_pv_file", decoded).join(
        F.broadcast(pv_df), on="_pv_file", how="left"
    )
    for c in pcols:
        declared = field_by_lower[c.lower()]
        raw = F.nullif(F.col(f"_pv_{c}"), F.lit(""))  # empty string = NULL (record.go:34-45)
        df = df.withColumn(c, raw.cast(declared.dataType))
    return df.select(*[f.name for f in schema.fields])


def files_to_df(spark: SparkSession, snapshot: Snapshot, files: list[AddFile]) -> DataFrame:
    meta = snapshot.metadata()
    schema = meta.schema()
    if schema is None:
        raise ValueError("snapshot has no schema")
    pcols = meta.partition_columns

    paths = [canonicalize_path(a.path, snapshot.table_root) for a in files]
    if not paths:
        return spark.createDataFrame([], schema)

    # Cloud table: with the scheme's Hadoop connector available (probed
    # once per scheme, or forced via spark.delta_go.nativeCloud /
    # DGS_NATIVE_CLOUD), the URIs pass STRAIGHT THROUGH — executors
    # stream ranged reads from the object store and no byte crosses the
    # driver.  Only without a connector does the SDK localize() fallback
    # materialize the files into the local cache.
    from delta_go_spark.datacache import is_cloud_uri, localize
    from delta_go_spark.datacloud import use_native_cloud

    if is_cloud_uri(snapshot.table_root) and not use_native_cloud(
        spark, snapshot.table_root
    ):
        paths = localize(paths, getattr(snapshot, "store", None))

    return read_files_with_pv(
        spark,
        schema,
        pcols,
        [(p, a.partition_values or {}) for a, p in zip(files, paths)],
    )


def snapshot_to_df(snapshot: Snapshot, spark: SparkSession) -> DataFrame:
    return files_to_df(spark, snapshot, snapshot.all_files())
