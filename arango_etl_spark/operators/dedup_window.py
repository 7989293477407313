"""Per-key LWW dedup/ordering of a change-event batch (SURVEY.md §2.6/§2.7).

The single ordering-sensitive semantic in the reference is last-writer-wins
per key, which it resolves racily by UPSERT arrival order
(/root/reference/src/handler/arangodb.rs:223-225). Here it is explicit and
deterministic: winner per doc_id = max event under
(seq_no, event_ts, batch_id, op).

One implementation, ``dedup_events``: a max_by hash aggregation with
map-side partial combine. A hot doc_id pre-reduces on every input
partition before the shuffle, so key skew costs O(partitions) extra rows,
not O(events) — no salting or window shape is needed on top.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

LWW_COLS = ["seq_no", "event_ts", "batch_id", "op"]


def _lww_struct(prefix: str = "") -> F.Column:
    return F.struct(*[F.col(prefix + c) for c in LWW_COLS])


def dedup_events(events: DataFrame, key_col: str = "doc_id") -> DataFrame:
    """One winning event per key via max_by hash aggregation."""
    payload = [c for c in events.columns if c != key_col]
    return (
        events.groupBy(key_col)
        .agg(F.max_by(F.struct(*payload), _lww_struct()).alias("_w"))
        .select(key_col, "_w.*")
    )
