"""Metadata tables: the engine's analogue of Iceberg's ``<table>.files``
/ ``.snapshots`` / ``.partitions`` inspection tables — DataFrames built
from MANIFEST state, never from data-file contents.

Why this is a first-class scale feature: at 100 TB "how many files does
bucket 7 hold", "how big is the table", "what did commit v12 change"
must be answerable without touching a data page. Everything here reads
version manifests (bounded driver metadata, the same class as a
manifest load) plus, for file sizes, one ``getsize`` stat per file —
O(files) filesystem metadata calls, zero opens. The real-Iceberg
adapter (plans/iceberg_sink.py) delegates to Iceberg's own metadata
tables, which store sizes in the manifest and need no stat calls.

Row/tombstone counts, zone-map columns and Bloom columns come from the
manifest's per-file entries. Every commit records counts from the new
files' parquet footers, so inspection never scans.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from arango_etl_spark.plans.lakehouse import SnapshotTable

_FILES_SCHEMA = T.StructType([
    T.StructField("bucket", T.IntegerType()),
    T.StructField("path", T.StringType()),
    T.StructField("size_bytes", T.LongType()),
    T.StructField("rows", T.LongType()),
    T.StructField("tombstones", T.LongType()),
    T.StructField("zone_stat_cols", T.ArrayType(T.StringType())),
    T.StructField("bloom_cols", T.ArrayType(T.StringType())),
])

_SNAPSHOTS_SCHEMA = T.StructType([
    T.StructField("version", T.IntegerType()),
    T.StructField("parent", T.IntegerType()),
    T.StructField("committed_at", T.TimestampType()),
    T.StructField("mode", T.StringType()),
    T.StructField("n_buckets", T.IntegerType()),
    T.StructField("one_row_per_key", T.BooleanType()),
    T.StructField("n_files", T.IntegerType()),
    T.StructField("summary", T.StringType()),
])


def files_df(
    spark: SparkSession, table: SnapshotTable, manifest: dict | None = None
) -> DataFrame:
    """One row per live data file of the snapshot: bucket, relative
    path, size, rows, tombstones, and which secondary indexes cover
    it."""
    m = manifest or table.manifest()
    rows = [
        (
            e["bucket"],
            rel,
            os.path.getsize(os.path.join(table.root, rel)),
            e["rows"],
            e["dels"],
            sorted(e.get("bounds", {})),
            sorted(e.get("bloom", {})),
        )
        for rel, e in sorted(m["files"].items(), key=lambda kv: kv[1]["bucket"])
    ]
    return spark.createDataFrame(rows, _FILES_SCHEMA)


def snapshots_df(spark: SparkSession, table: SnapshotTable) -> DataFrame:
    """One row per RETAINED snapshot, oldest first (expired versions are
    gone from disk and absent here, like Iceberg after
    expire_snapshots). ``committed_at`` is the manifest file's mtime —
    the mini-format's commit timestamp."""
    rows = []
    import datetime as dt

    for v in range(table.current_version() + 1):
        path = os.path.join(table.meta_dir, f"v{v}.json")
        if not os.path.exists(path):
            continue
        m = table.manifest(v)
        rows.append((
            m["version"],
            m["parent"],
            dt.datetime.utcfromtimestamp(os.path.getmtime(path)),
            m["mode"],
            m["n_buckets"],
            m["one_row_per_key"],
            len(m["files"]),
            json.dumps(m["summary"], sort_keys=True),
        ))
    return spark.createDataFrame(rows, _SNAPSHOTS_SCHEMA)


def partitions_df(
    spark: SparkSession, table: SnapshotTable, manifest: dict | None = None
) -> DataFrame:
    """Per-bucket rollup of ``files_df`` (Iceberg's ``.partitions``):
    file count, bytes, rows and tombstones."""
    return (
        files_df(spark, table, manifest)
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_files"),
            F.sum("size_bytes").alias("size_bytes"),
            F.sum("rows").alias("rows"),
            F.sum("tombstones").alias("tombstones"),
        )
        .orderBy("bucket")
    )


def meta_df(
    spark: SparkSession, table: SnapshotTable, kind: str
) -> DataFrame:
    fn = {
        "files": files_df,
        "snapshots": snapshots_df,
        "partitions": partitions_df,
    }.get(kind)
    if fn is None:
        raise ValueError(f"unknown metadata table {kind!r}")
    return fn(spark, table)
