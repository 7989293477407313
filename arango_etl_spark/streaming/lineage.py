"""Ingest lineage + metrics table (FIXTURES.md §3).

Replaces the reference's `files` ledger (done/retries,
/root/reference/src/document/iot_poc_file.rs:5-13) and its Redis XADD side
channel (/root/reference/src/handler/redis_handler.rs:19-24) with an
append-only parquet table of per-batch, per-input-partition counters —
queryable with plain SQL, and never silently dropping a batch (reference
hazard SURVEY.md §4.3.5).

Schema: batch_id, partition_id, events_seen, events_applied,
events_deduped, committed_at_seq, status, retries, wall_secs.

The rows are a few scalars per batch, so the driver appends them with
pyarrow: recording a batch costs one per-partition count, and the retry
ledger starts no Spark job.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from arango_etl_spark.plans.lakehouse import _empty_frame

LINEAGE_SCHEMA = T.StructType(
    [
        T.StructField("batch_id", T.LongType()),
        T.StructField("partition_id", T.IntegerType()),
        T.StructField("events_seen", T.LongType()),
        T.StructField("events_applied", T.LongType()),
        T.StructField("events_deduped", T.LongType()),
        T.StructField("committed_at_seq", T.LongType()),
        T.StructField("status", T.StringType()),
        T.StructField("retries", T.IntegerType()),
        T.StructField("wall_secs", T.DoubleType()),
    ]
)


class LineageLog:
    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    def _append(self, batch_id: int, rows: list[tuple]) -> None:
        """Append ``rows`` (LINEAGE_SCHEMA order) to the batch's dir as one
        parquet file, written under a hidden name (Spark and pyarrow skip
        ``.``/``_`` files) and renamed in, so no reader sees half a file."""
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import to_arrow_schema

        d = os.path.join(self.root, f"batch={batch_id:012d}")
        os.makedirs(d, exist_ok=True)
        tmp = os.path.join(d, f".part-{uuid.uuid4().hex}.parquet")
        pq.write_table(pa.Table.from_pylist(
            [dict(zip(LINEAGE_SCHEMA.names, r)) for r in rows],
            schema=to_arrow_schema(LINEAGE_SCHEMA),
        ), tmp)
        os.replace(tmp, os.path.join(d, os.path.basename(tmp)[1:]))

    def record_batch(
        self,
        events: DataFrame,
        batch_id: int,
        keys_applied: int | None,
        max_seq_no: int | None,
        status: str = "committed",
        retries: int = 0,
        wall_secs: float | None = None,
    ) -> None:
        """Per-input-partition counters for one micro-batch (north rule:
        per-partition lineage counters): one per-partition count over the
        batch, collected to the driver.

        Batch-level values (events_applied, events_deduped, wall) live on a
        SINGLE summary row (partition_id NULL) — repeating them per
        partition row made sums over the column overcount (round-1 ADVICE).
        """
        counts = sorted(
            events.groupBy(F.spark_partition_id()).count().collect()
        )
        n = sum(c for _, c in counts)
        self._append(batch_id, [
            *[(batch_id, p, c, None, None, None, status, None, None)
              for p, c in counts],
            (batch_id, None, None, keys_applied,
             None if keys_applied is None else n - keys_applied,
             max_seq_no, status, retries, wall_secs),
        ])

    def record_failure(
        self, spark: SparkSession, batch_id: int, retries: int, status: str = "retried"
    ) -> None:
        """One row per failed attempt (partition_id = -1): the engine's
        retry ledger. The reference silently DROPPED a file when its retry
        lookup errored (/root/reference/src/handler/arangodb_handler.rs:132-136
        — hazard §4.3.5); here every attempt is durably recorded."""
        self._append(
            batch_id, [(batch_id, -1, 0, 0, 0, None, status, retries, None)]
        )

    def failure_count(self, spark: SparkSession, batch_id: int) -> int:
        import pyarrow.parquet as pq

        p = os.path.join(self.root, f"batch={batch_id:012d}")
        if not os.path.exists(p):
            return 0
        status = pq.read_table(p, columns=["status"]).column("status")
        return sum(s in ("retried", "poisoned") for s in status.to_pylist())

    def read(self, spark: SparkSession) -> DataFrame:
        dirs = [d for d in os.listdir(self.root) if d.startswith("batch=")]
        if not dirs:
            return _empty_frame(spark, LINEAGE_SCHEMA)
        return spark.read.schema(LINEAGE_SCHEMA).parquet(
            *[os.path.join(self.root, d) for d in dirs]
        )

    def throughput(self, spark: SparkSession) -> DataFrame:
        """events/sec per batch — the lag/throughput metric surface."""
        return (
            self.read(spark)
            .groupBy("batch_id")
            .agg(
                F.sum("events_seen").alias("events_seen"),
                # wall_secs lives only on the batch summary row
                F.max("wall_secs").alias("wall_secs"),
            )
            .withColumn(
                "events_per_sec",
                F.when(
                    F.col("wall_secs") > 0,
                    F.col("events_seen") / F.col("wall_secs"),
                ),
            )
        )
