"""Multi-sink fan-out ingest: one change-event batch applied to N entity
tables, each through its own projection and its own batch-id fence.

The reference populates FOUR collections from every decoded poc event —
beacons (insert-if-absent), hotspots (two projections sharing a key),
witnesses edges, plus the files ledger — inside one per-file processing
pass (/root/reference/src/handler/arangodb.rs:345-376). This operator is
that fan-out re-expressed for the foreachBatch engine: each sink declares
how the shared batch projects into ITS change-event shape (its own key
column, payload and op mapping), and ``apply_changes`` runs per sink
under a per-sink fence (``<stream_id>.<sink>``).

Exactly-once across sinks WITHOUT a cross-table transaction: the apply
order is deterministic (sorted sink name) and each sink's fence rides
its own table's snapshot commit, so a crash that lands between two sink
commits heals on replay — already-committed sinks skip on their fence,
the remainder apply, and the union converges after at most one replay.
The reference has the same multi-collection structure with WEAKER
guarantees (its ledger `done` write is a separate, non-atomic statement
— hazard SURVEY.md §4.3.1); here every sink individually is
exactly-once, and "all sinks reflect the batch" is monotone under
retries. Readers that need a cross-sink-consistent view pin per-table
snapshot versions (time travel), exactly as Iceberg multi-table
pipelines do.

At 100 TB: the batch is persisted once (N projections read the cached
Arrow batches, not the source files) and each projection is a
column-pruned, map-side job; each sink's MERGE then shuffles only that
sink's — usually far smaller — projected key space. The `sources`
profile table shuffles |sources| keys, not |events| rows, because
apply_changes pre-aggregates the batch per key before touching the sink
(SURVEY.md §4.2's O(events) → O(distinct keys) delta).
"""

from __future__ import annotations

from collections.abc import Callable, Mapping
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from arango_etl_spark.operators.merge_into import MergeResult, apply_changes
from arango_etl_spark.plans.lakehouse import SnapshotTable


@dataclass
class SinkSpec:
    """One fan-out sink: a target table plus the projection that turns the
    shared batch into this sink's change events.

    ``project`` receives the raw batch DataFrame and must return a frame
    with the sink table's key column, its payload columns, and the CDC
    meta columns (op, seq_no, batch_id, event_ts). Returning fewer rows
    (filtering) or a constant op (e.g. every doc event is an 'update'
    observation of its source profile) is the normal case — the
    projections ARE the reference's Beacon/Hotspot/Edge row builders
    (/root/reference/src/document/{beacon,hotspot,edge}.rs) in columnar
    form.
    """

    table: SnapshotTable
    project: Callable[[DataFrame], DataFrame]
    strategy: str = "mor"
    compact_every: int = 8


def apply_fan_out(
    spark: SparkSession,
    sinks: Mapping[str, SinkSpec],
    batch_df: DataFrame,
    batch_id: int,
    stream_id: str = "cdc",
    run_id: str | None = None,
    fail_sinks: frozenset[str] = frozenset(),
) -> dict[str, MergeResult]:
    """Apply one micro-batch to every sink, each under its own fence.

    ``fail_sinks`` is fault injection for tests: raising AFTER some sinks
    committed models the mid-fan-out crash whose healing (fence-skip on
    replay) is the operator's whole point.

    Raises on the first failing sink — matching foreachBatch semantics,
    where the exception fails the epoch and Structured Streaming replays
    it with the same batch_id.
    """
    results: dict[str, MergeResult] = {}
    multi = len(sinks) > 1
    if multi:
        batch_df = batch_df.persist()
    try:
        for name in sorted(sinks):
            spec = sinks[name]
            if name in fail_sinks:
                raise RuntimeError(f"injected failure at sink {name!r}")
            results[name] = apply_changes(
                spark,
                spec.table,
                spec.project(batch_df),
                batch_id=batch_id,
                fence_stream_id=f"{stream_id}.{name}",
                fence_run_id=run_id,
                strategy=spec.strategy,
                compact_every=spec.compact_every,
            )
    finally:
        if multi:
            batch_df.unpersist()
    return results


def source_profile_events(events: DataFrame) -> DataFrame:
    """The hotspot-style profile projection (reference T14,
    /root/reference/src/document/hotspot.rs:28-78): every doc-level change
    event — including doc deletes — is an UPDATE observation of its
    `source`, so the profile table's LWW keeps the fields of that
    source's highest-seq_no event. A doc delete never tombstones the
    source (sources outlive their documents), hence the constant op.
    """
    return events.select(
        F.col("source"),
        F.col("doc_id").alias("last_doc_id"),
        F.col("n_tok").alias("last_n_tok"),
        F.lit("update").alias("op"),
        "seq_no",
        "batch_id",
        "event_ts",
    )


def event_archive_events(events: DataFrame) -> DataFrame:
    """The beacon-style insert-if-absent projection (reference K4,
    /root/reference/src/handler/arangodb.rs:277-289): one immutable row
    per event, keyed by the globally-unique event id — replays are
    absorbed by the fence (and by LWW degenerating to insert-if-absent
    when every key carries exactly one event)."""
    return events.select(
        F.concat_ws("#", F.col("doc_id"), F.col("seq_no")).alias("event_key"),
        "doc_id",
        "source",
        "n_tok",
        F.col("op").alias("event_op"),
        F.lit("update").alias("op"),
        "seq_no",
        "batch_id",
        "event_ts",
    )
