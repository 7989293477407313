"""Incrementally-maintained rollups (continuous aggregates) over the CDC
table — the "hypertable rollup" class of operator.

A rollup table holds ``groupBy(group_col).agg(count, sum(measure))`` of
the BASE table's current state, maintained per micro-batch from the CDC
delta instead of recomputed. The retraction problem (an UPDATE must
subtract the OLD row's contribution before adding the new one; a DELETE
must subtract) is solved with the snapshot log the lakehouse already
keeps. A first run, a crash replay and a new rollup take one path: merge
the batch (the base fence makes a replay a no-op), check the rollup's
fence, then walk the base's immutable manifest chain to the snapshot
before the version that committed the batch. The batch's effect is in
the files that commit added (``lakehouse.changed_files``): a touched
key's old row is the LWW winner of its pre-batch stored rows in the
changed buckets, its new row the winner of those rows plus the added
ones, so

    Δ(group) = agg(new rows of touched keys) − agg(old rows of touched keys)

and the rollup update is an ADDITIVE merge of those rows, signed +1/−1,
with the rollup's rows. Scan O(changed buckets), shuffle O(batch +
groups) — under CoW or an in-merge compaction the added files are whole
buckets or the whole table. When the pre-batch snapshot has been expired
(``expire_snapshots``), or a new rollup starts over a base that already
holds rows, the step recomputes the rollup from the base instead.

Exactly-once: the rollup table carries its own fence
(``fence.<stream_id>`` in its manifest summary, same protocol as the
base), the base's fence of the snapshot it reflects.

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

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from arango_etl_spark.operators.merge_into import apply_changes
from arango_etl_spark.plans.lakehouse import (
    SnapshotTable,
    changed_files,
    fence_entries,
    fence_of,
    lww_resolve,
)

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


def _pre_batch_manifest(
    base: SnapshotTable, stream_id: str, batch_id: int, run_id: str | None
) -> dict | None:
    """The base snapshot just before the version that committed
    ``batch_id`` in checkpoint lineage ``run_id`` (the smallest version
    whose fence equals it — summaries merge forward, so later versions
    inherit the fence value). Returns None when the chain has been
    expired past that point."""
    try:
        v: int | None = base.current_version()
        found = None
        while v is not None and v >= 0:
            m = base.manifest(v)
            fence = fence_of(m, stream_id, run_id)
            if fence is None or fence < batch_id:
                break
            if fence == batch_id:
                found = m["parent"]
            v = m["parent"]
        return None if found is None else base.manifest(found)
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
    _, files = rollup.stage_write(stored, manifest=m)
    rollup.commit(
        new_files=files,
        replaced_buckets=None,
        summary=fence_entries(stream_id, batch_id, run_id),
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
        _fold(group_col, _signed(base.read(spark), group_col, measure_col, +1)),
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
    **merge_kwargs,
) -> dict:
    """Apply one CDC batch to the base table AND incrementally maintain
    the rollup. Call from ``foreachBatch`` (or a batch replay loop) —
    both tables are fenced on ``(stream_id, batch_id)``, so replays are
    no-ops and a crash between the two commits heals on re-run.

    ``merge_kwargs`` (``strategy``, ``compact_every``,
    ``min_seq_exclusive``, ``bloom_cols``, ...) go to the base's
    ``apply_changes`` unchanged, so a rollup epoch merges as a plain one.

    Returns {"rollup": "skipped"|"incremental"|"recomputed",
    "base": MergeResult}.
    """
    res = apply_changes(
        spark, base, events,
        batch_id=batch_id, fence_stream_id=stream_id, fence_run_id=run_id,
        **merge_kwargs,
    )
    roll_m = rollup.manifest()
    last = fence_of(roll_m, stream_id, run_id)
    if last is not None and batch_id <= last:
        return {"rollup": "skipped", "base": res}

    # the rollup is brought to the base's current snapshot and its fence
    post = base.manifest()
    fence = fence_of(post, stream_id, run_id)
    pre = _pre_batch_manifest(base, stream_id, batch_id, run_id)
    if pre is None or (roll_m["version"] == 0 and pre["files"]):
        # the pre-batch snapshot is expired, or a new rollup starts over
        # a base that already held rows: the delta would miss them
        recompute_rollup(
            spark, base, rollup, group_col, measure_col,
            stream_id, fence, run_id,
        )
        return {"rollup": "recomputed", "base": res}

    # a touched key's other rows sit in the pre-batch snapshot's changed
    # buckets (read with the post-batch schema: evolved columns are null)
    key_col = post["key_col"]
    added, buckets = changed_files(pre, post)
    added_rows = base._read_rels(spark, added, base.stored_schema(post))
    before = base.read_stored(
        spark, buckets=buckets, manifest={**pre, "schema": post["schema"]}
    ).join(added_rows.select(key_col), key_col, "left_semi")
    old_rows = lww_resolve(before, key_col).where(~F.col("_deleted"))
    new_rows = lww_resolve(
        before.unionByName(added_rows), key_col
    ).where(~F.col("_deleted"))

    merged = _fold(
        group_col,
        rollup.read(spark, manifest=roll_m),
        _signed(new_rows, group_col, measure_col, +1),
        _signed(old_rows, group_col, measure_col, -1),
    )
    _commit_rollup(spark, rollup, merged, group_col, stream_id, fence, run_id)
    return {"rollup": "incremental", "base": res}


def _signed(
    rows: DataFrame, group_col: str, measure_col: str, sign: int
) -> DataFrame:
    """Each row's ±1 contribution to its group's (cnt, total)."""
    return rows.select(
        group_col,
        F.lit(sign).cast("long").alias("cnt"),
        (F.lit(float(sign))
         * F.coalesce(F.col(measure_col).cast("double"), F.lit(0.0))
         ).alias("total"),
    )


def _fold(group_col: str, *parts: DataFrame) -> DataFrame:
    """Sum (cnt, total) rows per group — the one definition of the
    measures; a group whose count falls to 0 is gone."""
    return (
        reduce(DataFrame.unionByName, parts)
        .groupBy(group_col)
        .agg(F.sum("cnt").alias("cnt"), F.sum("total").alias("total"))
        .where(F.col("cnt") > 0)
    )
