"""Exactly-once streaming CDC ingest: readStream → foreachBatch →
fence-checked MERGE → atomic snapshot commit (SURVEY.md §3.3).

Maps the reference's `current` mode (tokio tick loop advancing a timestamp
cursor, /root/reference/src/tracker.rs:24-44 +
/root/reference/src/handler/arangodb_handler.rs:92-111) onto Structured
Streaming:

- source offsets/cursor     → the streaming checkpoint (ST2)
- per-file ledger + done    → batch-id fence in the snapshot summary (ST4)
- retry counter cap         → Spark task/stage retries + idempotent
                              re-application under the fence (ST5)
- Redis XADD progress       → LineageLog + StreamingQuery metrics (ST8)

MERGE INTO is not a legal streaming sink; foreachBatch is the idiomatic
bridge (SURVEY.md §7.3). Each micro-batch applies `apply_changes` with the
Spark-assigned epoch id as the fence batch_id — on restart, Structured
Streaming replays the last uncommitted epoch with the SAME id, so the
fence makes re-delivery a no-op: exactly-once end-to-end.
"""

from __future__ import annotations

import os
import time
import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from arango_etl_spark.operators.merge_into import apply_changes
from arango_etl_spark.plans.lakehouse import SnapshotTable
from arango_etl_spark.streaming.lineage import LineageLog

EVENT_SCHEMA = T.StructType(
    [
        T.StructField("op", T.StringType()),
        T.StructField("doc_id", T.StringType()),
        T.StructField("seq_no", T.LongType()),
        T.StructField("tokens", T.ArrayType(T.IntegerType())),
        T.StructField("n_tok", T.IntegerType()),
        T.StructField("source", T.StringType()),
        T.StructField("batch_id", T.LongType()),
        T.StructField("event_ts", T.TimestampType()),
    ]
)


@dataclass
class IngestConfig:
    stream_id: str = "cdc"
    strategy: str = "mor"
    compact_every: int = 8
    max_files_per_trigger: int = 4
    trigger_interval_secs: int = 10  # continuous-mode micro-batch cadence
    fail_batches: frozenset[int] = frozenset()  # fault injection for tests
    # poison-batch cap (reference max_retries=3, settings.rs:86-88): after
    # this many recorded failures an epoch is skipped and marked 'poisoned'
    # instead of wedging the stream forever. Requires a LineageLog.
    max_retries: int = 3
    # snapshot GC cadence: every N applied epochs, expire manifests older
    # than the last `expire_keep_last` versions (bounds manifest count on
    # long-running streams; 0 = never). keep_last >= 2 preserves the
    # previous snapshot for readers mid-swap.
    expire_every: int = 0
    expire_keep_last: int = 4
    # snapshot-bootstrap watermark: drop events with seq_no <= this before
    # merging (binlog-position semantics after bootstrap_from_snapshot —
    # pre-watermark events are already in the snapshot and replaying one
    # could resurrect a deleted doc). None = no filter.
    min_seq_exclusive: int | None = None
    # continuous aggregate: when rollup_root is set, every micro-batch
    # also incrementally maintains a groupBy(rollup_group_col)
    # count/sum(rollup_measure_col) rollup table at that path (created on
    # first use; a new rollup over a base with rows starts from them; own
    # fence — see streaming/rollup.py for the retraction and crash-heal
    # semantics). Expired with the base on the expire_every cadence.
    # The base merge takes the same strategy/compact_every/
    # min_seq_exclusive/bloom_cols either way.
    rollup_root: str | None = None
    rollup_group_col: str = "source"
    rollup_measure_col: str = "n_tok"
    # feed encoding: "parquet" (native change-event files) or "debezium"
    # (JSON-lines Debezium envelopes, payload-wrapped or flat — mapped
    # through sources.readers.debezium_to_events before the merge; same
    # fence/lineage/rollup semantics downstream)
    source_format: str = "parquet"
    # write-time Bloom index maintenance: each micro-batch indexes ONLY
    # its freshly staged files for these columns (O(batch); with the CoW
    # strategy the table then stays read_eq-prunable continuously — see
    # SnapshotTable.build_blooms). None = off. Row/tombstone counts need
    # no setting: every commit reads them from parquet footers.
    bloom_cols: tuple[str, ...] | None = None


def run_ingest(
    spark: SparkSession,
    events_dir: str,
    table: SnapshotTable,
    checkpoint_dir: str,
    lineage: LineageLog | None = None,
    cfg: IngestConfig | None = None,
    event_schema: T.StructType | None = None,
    available_now: bool = True,
) -> None:
    """Tail `events_dir` (parquet file feed) and MERGE every micro-batch.

    With ``available_now=True`` this drains the backlog then stops —
    the `history`/`rehydrate` replay modes (SURVEY.md §3.1/§3.2). A
    processing-time trigger turns the same code into the continuous
    `current` mode.
    """
    cfg = cfg or IngestConfig()
    schema = event_schema or EVENT_SCHEMA
    run_id = _fence_run_id(checkpoint_dir)

    rollup_table = None
    if cfg.rollup_root is not None:
        from arango_etl_spark.streaming.rollup import create_rollup_table

        if SnapshotTable.exists(cfg.rollup_root):
            rollup_table = SnapshotTable(cfg.rollup_root)
        else:
            gtype = next(
                f.dataType for f in table.payload_schema().fields
                if f.name == cfg.rollup_group_col
            )
            rollup_table = create_rollup_table(
                cfg.rollup_root, cfg.rollup_group_col, gtype
            )

    # NOTE: .schema(schema) PINS the read schema — evolved columns in later
    # files are only picked up when the caller passes a widened
    # event_schema (the superset-schema pattern; CLI: --extra-columns).
    if cfg.source_format == "debezium":
        from arango_etl_spark.sources.readers import (
            debezium_envelope_schema,
            debezium_to_events,
            debezium_value_schema,
        )

        value_schema = debezium_value_schema(schema)
        stream = (
            spark.readStream.schema(debezium_envelope_schema(value_schema))
            .option("maxFilesPerTrigger", cfg.max_files_per_trigger)
            .option("recursiveFileLookup", "true")
            .json(events_dir)
            .transform(lambda df: debezium_to_events(df, value_schema))
        )
    else:
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", cfg.max_files_per_trigger)
            .option("recursiveFileLookup", "true")
            .parquet(events_dir)
        )

    # the one set of merge arguments, for the rollup and the plain path
    merge_kwargs = dict(
        strategy=cfg.strategy,
        compact_every=cfg.compact_every,
        min_seq_exclusive=cfg.min_seq_exclusive,
        bloom_cols=list(cfg.bloom_cols) if cfg.bloom_cols else None,
    )

    def apply_batch(batch_df: DataFrame, epoch_id: int) -> None:
        t0 = time.monotonic()
        prior_failures = 0
        if lineage is not None and cfg.max_retries is not None:
            prior_failures = lineage.failure_count(spark, epoch_id)
            if prior_failures >= cfg.max_retries:
                # poison batch: cap exceeded → skip, durably marked (the
                # reference's retry-capped resume set, ST5; unlike the
                # reference the skip itself is recorded, hazard §4.3.5)
                lineage.record_failure(
                    spark, epoch_id, prior_failures, status="poisoned"
                )
                return
        try:
            if epoch_id in cfg.fail_batches:
                raise RuntimeError(f"injected failure at epoch {epoch_id}")
            # sources without a feed-side batch_id (Debezium envelopes)
            # get the epoch stamped in: batch_id is an LWW tie-break
            # column and a provenance field — never leave it null
            if "batch_id" in batch_df.columns:
                batch_df = batch_df.withColumn(
                    "batch_id",
                    F.coalesce(F.col("batch_id"), F.lit(int(epoch_id))),
                )
            if rollup_table is not None:
                from arango_etl_spark.streaming.rollup import maintain_rollup

                out = maintain_rollup(
                    spark, table, rollup_table, batch_df,
                    batch_id=epoch_id,
                    group_col=cfg.rollup_group_col,
                    measure_col=cfg.rollup_measure_col,
                    stream_id=cfg.stream_id,
                    run_id=run_id,
                    **merge_kwargs,
                )
                res = out["base"]
            else:
                res = apply_changes(
                    spark, table, batch_df,
                    batch_id=epoch_id,
                    fence_stream_id=cfg.stream_id,
                    fence_run_id=run_id,
                    **merge_kwargs,
                )
            if (
                cfg.expire_every
                and not res.skipped
                and epoch_id > 0
                and epoch_id % cfg.expire_every == 0
            ):
                for t in (table, rollup_table):
                    if t is not None:
                        t.expire_snapshots(keep_last=cfg.expire_keep_last)
            if lineage is not None and not res.skipped:
                # the count scans the epoch's files a second time, reading
                # no columns (a file scan is deterministic)
                lineage.record_batch(
                    batch_df,
                    batch_id=epoch_id,
                    keys_applied=res.keys_applied,
                    max_seq_no=res.max_seq_no,
                    wall_secs=time.monotonic() - t0,
                )
        except Exception:
            if lineage is not None:
                lineage.record_failure(spark, epoch_id, prior_failures + 1)
            raise

    writer = (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
    else:
        q = writer.trigger(
            processingTime=f"{cfg.trigger_interval_secs} seconds"
        ).start()
        return q  # caller manages lifecycle


def _fence_run_id(checkpoint_dir: str) -> str:
    """Checkpoint-lineage identity for the batch-id fence.

    Epoch ids restart at 0 when a checkpoint is deleted, so fencing on
    batch_id alone would silently drop new events that land in fenced
    epochs. The run id lives INSIDE the checkpoint dir — created once with
    it, destroyed with it — so the fence is scoped to exactly one epoch-id
    lineage. (Local-FS implementation, matching SnapshotTable's manifest
    layer; a remote-checkpoint deployment would use the Hadoop FS API.)
    """
    os.makedirs(checkpoint_dir, exist_ok=True)
    marker = os.path.join(checkpoint_dir, "__fence_run_id__")
    try:
        fd = os.open(marker, os.O_WRONLY | os.O_CREAT | os.O_EXCL)
        with os.fdopen(fd, "w") as f:
            rid = uuid.uuid4().hex
            f.write(rid)
            return rid
    except FileExistsError:
        with open(marker) as f:
            return f.read().strip()


def stream_progress(query) -> list[dict]:
    """Lag/throughput surface from Spark's own StreamingQueryProgress
    (north rule ST8): one dict per recent micro-batch with rows/sec,
    batch duration, and pending-work signals. Complements LineageLog
    (durable, queryable) with the live in-flight view the reference
    exposed over Redis (/root/reference/src/handler/redis_handler.rs:19-24).
    """
    out = []
    for p in query.recentProgress:
        src = (p.get("sources") or [{}])[0]
        out.append(
            {
                "batch_id": p.get("batchId"),
                "input_rows": p.get("numInputRows"),
                "rows_per_sec": p.get("processedRowsPerSecond"),
                "batch_duration_ms": (p.get("durationMs") or {}).get(
                    "triggerExecution"
                ),
                # file-source lag: how far the cursor is behind the log
                "latest_offset": src.get("latestOffset"),
                "end_offset": src.get("endOffset"),
            }
        )
    return out
