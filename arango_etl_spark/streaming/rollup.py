"""Incrementally-maintained rollups (continuous aggregates) over the CDC
table — the "hypertable rollup" class of operator.

A rollup table holds ``groupBy(group_col).agg(count, sum(measure))`` of
the BASE table's current state, maintained per micro-batch from the CDC
delta instead of recomputed. The retraction problem (an UPDATE must
subtract the OLD row's contribution before adding the new one; a DELETE
must subtract) is solved with the snapshot log the lakehouse already
keeps: the pre-batch and post-batch snapshots of the base table give the
exact old/new rows for the batch's keys, so the delta is

    Δ(group) = agg(new rows of touched keys) − agg(old rows of touched keys)

and the rollup update is a pure ADDITIVE merge — O(batch + groups), not
O(table). This is classic incremental view maintenance (delta + retract),
expressed Spark-first: two semi-joined snapshot reads (bucket-layout
scans of only the touched keys' versions), one signed union-aggregate,
one broadcast-joined additive merge.

Exactly-once: the rollup table carries its own fence
(``fence.<stream_id>`` in its manifest summary, same protocol as the
base). On replay after a crash BETWEEN the base commit and the rollup
commit, the base fence makes ``apply_changes`` a no-op and the pre-batch
snapshot is recovered by walking the base's manifest chain to the
batch's data commit — deterministic, because snapshots are immutable.
If that pre-batch manifest has been expired (``expire_snapshots``), the
maintainer falls back to a full recompute, which is always correct.

Measures: ``cnt`` counts live (non-tombstone) rows per group; ``total``
sums ``measure_col`` over non-null values. min/max are NOT maintainable
incrementally under deletes (not subtractable) — use
:func:`recompute_rollup` or a full query for those.

Reference scope: the reference's closest surface is its counter/
histogram accumulate-upserts (/root/reference/src/handler/
arangodb.rs:243-333), which only ever ADD; this module handles the
update/delete retraction those upserts cannot.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from arango_etl_spark.operators.merge_into import apply_changes
from arango_etl_spark.plans.lakehouse import SnapshotTable

ROLLUP_SCHEMA_TAIL = [
    ("cnt", T.LongType()),
    ("total", T.DoubleType()),
]


def create_rollup_table(
    root: str, group_col: str, group_type: T.DataType, n_buckets: int = 8
) -> SnapshotTable:
    """Create an empty rollup table keyed by the group column."""
    schema = T.StructType(
        [T.StructField(group_col, group_type)]
        + [T.StructField(n, t, True) for n, t in ROLLUP_SCHEMA_TAIL]
    )
    return SnapshotTable.create(
        root, schema, key_col=group_col, n_buckets=n_buckets
    )


def _agg(rows: DataFrame, group_col: str, measure_col: str) -> DataFrame:
    return rows.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("long").alias("cnt"),
        # coalesce so an all-null-measure group is 0.0, matching the
        # incremental path's additive identity
        F.coalesce(
            F.sum(F.col(measure_col).cast("double")), F.lit(0.0)
        ).alias("total"),
    )


def _find_data_commit(
    base: SnapshotTable, stream_id: str, batch_id: int
) -> int | None:
    """Walk the base manifest chain for the version that committed
    ``batch_id`` (the smallest version whose fence equals it — summaries
    merge forward, so later versions inherit the fence value). Returns
    None when the chain has been expired past that point."""
    try:
        v: int | None = base.current_version()
        found = None
        while v is not None and v >= 0:
            m = base.manifest(v)
            fence = m["summary"].get(f"fence.{stream_id}")
            if fence is None or int(fence) < batch_id:
                break
            if int(fence) == batch_id:
                found = v
            v = m["parent"]
        return found
    except FileNotFoundError:
        return None


def _commit_rollup(
    spark: SparkSession,
    rollup: SnapshotTable,
    state: DataFrame,
    group_col: str,
    stream_id: str,
    batch_id: int,
    run_id: str | None = None,
) -> None:
    """Full-replace the rollup table (group-cardinality-sized by
    definition — the whole point of a rollup) with the fence recorded
    atomically in the same manifest."""
    m = rollup.manifest()
    stored = state.select(
        group_col,
        F.col("cnt").cast("long"),
        F.col("total").cast("double"),
        F.lit(batch_id).cast("long").alias("_seq_no"),
        F.lit(None).cast("timestamp").alias("_event_ts"),
        F.lit(batch_id).cast("long").alias("_batch_id"),
        F.lit("rollup").alias("_op"),
        F.lit(False).alias("_deleted"),
    ).withColumn("_bucket", rollup.bucket_expr(F.col(group_col), m))
    _, files = rollup.stage_write(stored)
    rollup.commit(
        new_files=files,
        replaced_buckets=None,
        summary={
            f"fence.{stream_id}": int(batch_id),
            # run-id scopes the fence to one checkpoint lineage (epoch
            # ids restart at 0 after checkpoint loss — same contract as
            # apply_changes)
            f"fence_run.{stream_id}": run_id,
        },
        mode="merge",
        one_row_per_key=True,
        expected_version=m["version"],
    )


def recompute_rollup(
    spark: SparkSession,
    base: SnapshotTable,
    rollup: SnapshotTable,
    group_col: str,
    measure_col: str,
    stream_id: str = "rollup",
    batch_id: int = 0,
    run_id: str | None = None,
) -> None:
    """Rebuild the rollup from the base's current state (bootstrap, or
    the fallback when incremental history has been expired)."""
    _commit_rollup(
        spark, rollup,
        _agg(base.read(spark), group_col, measure_col),
        group_col, stream_id, batch_id, run_id,
    )


def maintain_rollup(
    spark: SparkSession,
    base: SnapshotTable,
    rollup: SnapshotTable,
    events: DataFrame,
    batch_id: int,
    group_col: str,
    measure_col: str,
    stream_id: str = "rollup",
    run_id: str | None = None,
    strategy: str = "mor",
    compact_every: int = 8,
) -> dict:
    """Apply one CDC batch to the base table AND incrementally maintain
    the rollup. Call from ``foreachBatch`` (or a batch replay loop) —
    both tables are fenced on ``(stream_id, batch_id)``, so replays are
    no-ops and a crash between the two commits heals on re-run.

    Returns {"rollup": "skipped"|"incremental"|"recomputed",
    "base": MergeResult | None}.
    """
    last = rollup.last_batch_id(stream_id)
    stored_run = rollup.manifest()["summary"].get(f"fence_run.{stream_id}")
    if last is not None and batch_id <= last and stored_run == run_id:
        # rollup already reflects this batch (and therefore so does the
        # base — the base commits first)
        return {"rollup": "skipped", "base": None}

    pre_version = base.manifest()["version"]
    res = apply_changes(
        spark, base, events,
        batch_id=batch_id, fence_stream_id=stream_id, fence_run_id=run_id,
        strategy=strategy, compact_every=compact_every,
    )
    if res.skipped:
        # crash-replay: the base committed this batch in a previous run;
        # recover the pre-batch snapshot from the immutable manifest chain
        commit_v = _find_data_commit(base, stream_id, batch_id)
        if commit_v is None:
            recompute_rollup(
                spark, base, rollup, group_col, measure_col,
                stream_id, batch_id, run_id,
            )
            return {"rollup": "recomputed", "base": res}
        pre_version = base.manifest(commit_v)["parent"]

    try:
        pre_manifest = base.manifest(pre_version)
    except FileNotFoundError:  # expired mid-flight
        recompute_rollup(
            spark, base, rollup, group_col, measure_col,
            stream_id, batch_id, run_id,
        )
        return {"rollup": "recomputed", "base": res}

    key_col = base.manifest()["key_col"]
    # RAW batch keys (pre-dedup): a superset of the winners is harmless —
    # untouched keys contribute old == new, i.e. a zero delta
    keys = events.select(key_col).distinct()
    old_rows = base.read(spark, manifest=pre_manifest).join(
        F.broadcast(keys), key_col, "left_semi"
    )
    new_rows = base.read(spark).join(F.broadcast(keys), key_col, "left_semi")

    delta = (
        _signed(new_rows, group_col, measure_col, +1)
        .unionByName(_signed(old_rows, group_col, measure_col, -1))
        .groupBy(group_col)
        .agg(
            F.sum("_s").cast("long").alias("d_cnt"),
            F.sum(F.col("_s") * F.col("_m")).alias("d_total"),
        )
    )
    current = rollup.read(spark)
    merged = (
        current.join(F.broadcast(delta), group_col, "full_outer")
        .select(
            group_col,
            (F.coalesce("cnt", F.lit(0))
             + F.coalesce("d_cnt", F.lit(0))).alias("cnt"),
            (F.coalesce("total", F.lit(0.0))
             + F.coalesce("d_total", F.lit(0.0))).alias("total"),
        )
        .where(F.col("cnt") > 0)
    )
    _commit_rollup(
        spark, rollup, merged, group_col, stream_id, batch_id, run_id
    )
    return {"rollup": "incremental", "base": res}


def _signed(
    rows: DataFrame, group_col: str, measure_col: str, sign: int
) -> DataFrame:
    return rows.select(
        group_col,
        F.lit(sign).alias("_s"),
        F.coalesce(F.col(measure_col).cast("double"), F.lit(0.0)).alias("_m"),
    )
