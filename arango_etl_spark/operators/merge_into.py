"""apply_changes — exactly-once MERGE of a change-event batch into a
SnapshotTable (SURVEY.md §2.2 K1–K6, §2.6 J3).

Replaces the reference's per-event AQL UPSERT round-trips
(/root/reference/src/handler/arangodb.rs:211-343 — 2+2W HTTP queries per
poc event) with one set-oriented MERGE per micro-batch: the batch is
deduped to one winning event per key first (SURVEY.md §4.2's "biggest
architectural delta" — O(distinct keys) sink work, not O(events)).

Two strategies behind one call:

- ``strategy="cow"`` (copy-on-write, Iceberg CoW MERGE INTO analogue):
  prune to touched buckets → union target with source → winner per key
  by the same LWW order → rewrite touched buckets.
  Read-optimized; write cost ∝ size of touched buckets.

- ``strategy="mor"`` (merge-on-read, Iceberg MoR analogue — DEFAULT for
  sustained ingest): append the deduped batch as per-bucket delta files;
  no target read at all. Write cost ∝ O(batch). Readers LWW-reduce;
  ``compact()`` (auto once avg delta files/bucket > ``compact_every``,
  0 = never) folds deltas back
  to one row per key.

Cross-batch out-of-order correctness: stored rows keep their winning
event's (seq_no, event_ts, batch_id, op) in META_COLS, and deletes are
stored as tombstones — so a late lower-seq_no event loses to an
already-applied higher one, and a late insert cannot resurrect a
higher-seq_no delete (reference hazards §4.3.1/§4.3.3).

Idempotence (exactly-once fence): ``fence_stream_id`` + ``batch_id``
record `fence.<stream>` in the same snapshot as the data; re-applying a
batch with batch_id <= the fenced value is a no-op
(reference analogue: `files.done` ledger flag,
/root/reference/src/document/iot_poc_file.rs:11, made atomic per
SURVEY.md §4.3.1).
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from arango_etl_spark.operators import dedup_window
from arango_etl_spark.plans.lakehouse import SnapshotTable, lww_resolve

CDC_META = ["op", "seq_no", "batch_id", "event_ts"]

# one entry, still called through the dict: perfbench/tracing.py patches
# DEDUP_STRATEGIES["max_by"] to time the dedup_window layer
DEDUP_STRATEGIES = {"max_by": dedup_window.dedup_events}


@dataclass
class MergeResult:
    version: int
    skipped: bool = False
    events_seen: int | None = None
    keys_applied: int | None = None
    max_seq_no: int | None = None
    new_columns: list[str] = field(default_factory=list)


def _payload_cols(events: DataFrame, key_col: str) -> list[str]:
    return [c for c in events.columns if c not in CDC_META and c != key_col]


def _as_stored(deduped: DataFrame, key_col: str, payload: list[str]) -> DataFrame:
    """Winning events → stored-row layout (payload + META_COLS)."""
    return deduped.select(
        key_col,
        *payload,
        F.col("seq_no").alias("_seq_no"),
        F.col("event_ts").alias("_event_ts"),
        F.col("batch_id").alias("_batch_id"),
        F.col("op").alias("_op"),
        (F.col("op") == "delete").alias("_deleted"),
    )


def _evolve_schema(
    table: SnapshotTable, events: DataFrame, key_col: str
) -> tuple[T.StructType | None, list[str]]:
    """Additive schema evolution: payload columns present in the batch but
    not in the table schema are appended (nullable). Non-additive changes
    (type change, drop) are rejected — additive-only per the north rule."""
    current = table.payload_schema()
    names = set(current.fieldNames())
    new_fields = []
    for f_ in events.schema.fields:
        if f_.name in CDC_META or f_.name == key_col:
            continue
        if f_.name in names:
            cur = current[f_.name].dataType
            if cur != f_.dataType:
                raise ValueError(
                    f"non-additive schema change for {f_.name}: {cur} -> {f_.dataType}"
                )
        else:
            new_fields.append(T.StructField(f_.name, f_.dataType, True))
    if not new_fields:
        return None, []
    evolved = T.StructType(current.fields + new_fields)
    return evolved, [f_.name for f_ in new_fields]


def apply_changes(
    spark: SparkSession,
    table: SnapshotTable,
    events: DataFrame,
    batch_id: int | None = None,
    fence_stream_id: str | None = None,
    fence_run_id: str | None = None,
    strategy: str = "mor",
    compact_every: int = 8,
    collect_metrics: bool = True,
    extra_summary: dict | None = None,
    min_seq_exclusive: int | None = None,
    branch: str | None = None,
    bloom_cols: list[str] | None = None,
    count_files: bool = False,
) -> MergeResult:
    """``bloom_cols``: write-time Bloom index maintenance — index ONLY
    the files this merge stages (cost O(batch), never a table scan) so a
    CoW table stays fully ``read_eq``-prunable commit after commit;
    carried-over files keep their existing entries via the manifest
    lifecycle. See SnapshotTable.build_blooms.

    ``count_files``: write-time row/tombstone counts for the staged
    files (same O(batch) lifecycle as blooms) — with this on, a CoW
    table answers ``row_count()``/``col_bounds()`` from pure manifest
    arithmetic after EVERY commit, no ``analyze_counts`` retrofit; MoR
    tables keep counts current so the retrofit after compaction covers
    only the rewritten files. See SnapshotTable.build_counts.

    ``branch``: Write-Audit-Publish mode — the merge stages onto the
    named table branch instead of committing to the main line; audit the
    result with ``table.read_branch`` and then ``publish_branch`` /
    ``abandon_branch`` (see plans/wap.write_audit_publish for the wired
    flow). Compaction never runs on a branch (it belongs to the main
    line the branch may never join)."""
    manifest = table.manifest()
    key_col = manifest["key_col"]

    if min_seq_exclusive is not None:
        # snapshot-bootstrap watermark (binlog-position semantics): events
        # at or below the watermark are already REFLECTED in the
        # bootstrapped state — replaying them is not merely redundant, it
        # is WRONG (an old insert would resurrect a doc the snapshot
        # knows was deleted, because the tombstone itself is not in the
        # snapshot). Plain pushdown-able filter; see
        # bootstrap_from_snapshot.
        events = events.where(F.col("seq_no") > F.lit(min_seq_exclusive))

    # ---- fence check (O(1): one manifest read, no data touched —
    # replaces the reference's done-files anti-join scan, SURVEY.md F1).
    # The fence only applies within one checkpoint lineage: epoch ids
    # restart at 0 after checkpoint loss, so comparing batch_ids across
    # lineages would silently drop new data landing in fenced epochs.
    # fence_run_id identifies the lineage (the runner stores it INSIDE the
    # checkpoint dir, so deleting the checkpoint rotates it); on mismatch
    # the batch is re-applied, which is safe — the merge is LWW-idempotent.
    if fence_stream_id is not None and batch_id is not None:
        last = table.last_batch_id(fence_stream_id)
        stored_run = manifest["summary"].get(f"fence_run.{fence_stream_id}")
        if last is not None and batch_id <= last and stored_run == fence_run_id:
            return MergeResult(version=manifest["version"], skipped=True)

    evolved_schema, new_cols = _evolve_schema(table, events, key_col)
    payload_schema = evolved_schema or table.payload_schema()
    payload = [f_.name for f_ in payload_schema.fields if f_.name != key_col]

    # align batch to the (possibly widened) payload: older producers may
    # lack newly-evolved columns
    for f_ in payload_schema.fields:
        if f_.name not in events.columns:
            events = events.withColumn(f_.name, F.lit(None).cast(f_.dataType))

    deduped = DEDUP_STRATEGIES["max_by"](events, key_col=key_col)
    obs = None
    if collect_metrics:
        obs = Observation(f"merge-{manifest['version'] + 1}")
        deduped = deduped.observe(
            obs,
            F.count(F.lit(1)).alias("keys_applied"),
            F.max("seq_no").alias("max_seq_no"),
        )
    src = _as_stored(deduped, key_col, payload).withColumn(
        "_bucket", table.bucket_expr(F.col(key_col), manifest)
    )

    # CoW must read existing files with the widened schema so evolved
    # columns resolve on the target side (null-backfilled for old files)
    read_manifest = (
        {**manifest, "schema": json.loads(payload_schema.json())}
        if evolved_schema is not None
        else manifest
    )

    if strategy == "mor":
        new_files, replaced = _merge_mor(table, src)
    elif strategy == "cow":
        # touched buckets listed from the deduped source, not the raw
        # batch: inside foreachBatch an extra action on the streaming
        # batch DataFrame can wedge the micro-batch thread (observed
        # hang), and the deduped plan re-executes deterministically.
        # Fast path: `touched` exists only to PRUNE the target read (and
        # to mark replaced buckets, which is vacuous when nothing can be
        # carried over) — a parent with zero live files has nothing to
        # prune or replace, so skip the distinct-collect job entirely
        # (first CoW merge into a fresh table was paying a full shuffle
        # job just to learn an empty file list). NOT inside a streaming
        # micro-batch: there this collect is LOAD-BEARING for the
        # Observation metrics — under foreachBatch a union over an
        # observed frame never fires its CollectMetrics event (verified
        # empirically: union → no event, write/agg alone → event), so
        # without a pre-write action ``obs.get`` below deadlocks the
        # stream thread. Batch mode fires fine either way.
        in_micro_batch = (
            spark.sparkContext.getLocalProperty("streaming.sql.batchId")
            is not None
        )
        if (obs is not None and in_micro_batch) or any(
            fs for fs in manifest["files"].values()
        ):
            touched = sorted(
                r["_bucket"]
                for r in src.select("_bucket").distinct().collect()
            )
        else:
            touched = []
        new_files, replaced = _merge_cow(
            spark, table, read_manifest, src, key_col, touched
        )
    else:
        raise ValueError(f"unknown merge strategy {strategy!r}")

    file_blooms = _blooms_for(spark, table, read_manifest, new_files, bloom_cols)
    file_counts = _counts_for(spark, table, read_manifest, new_files, count_files)

    summary: dict = dict(extra_summary or {})
    if fence_stream_id is not None and batch_id is not None:
        summary[f"fence.{fence_stream_id}"] = int(batch_id)
        # always (re)write the run id — commit() merges summaries forward,
        # and a stale lineage id next to a fresh fence could wrongly skip
        summary[f"fence_run.{fence_stream_id}"] = fence_run_id
    metrics: dict[str, float] = {}
    if obs is not None:
        metrics = obs.get
        summary["lineage.keys_applied"] = int(metrics.get("keys_applied") or 0)
        if metrics.get("max_seq_no") is not None:
            summary["lineage.max_seq_no"] = int(metrics["max_seq_no"])

    if branch is not None:
        new_manifest = table.stage_branch(
            branch,
            new_files=new_files,
            replaced_buckets=replaced,
            summary=summary,
            new_payload_schema=evolved_schema,
            mode="append" if strategy == "mor" else "merge",
            expected_version=manifest["version"],
            file_blooms=file_blooms,
            file_counts=file_counts,
        )
        return MergeResult(
            version=new_manifest["version"],
            keys_applied=(
                int(metrics.get("keys_applied") or 0) if metrics else None
            ),
            max_seq_no=(
                int(metrics["max_seq_no"])
                if metrics and metrics.get("max_seq_no") is not None
                else None
            ),
            new_columns=new_cols,
        )

    new_manifest = table.commit(
        new_files=new_files,
        replaced_buckets=replaced,
        summary=summary,
        new_payload_schema=evolved_schema,
        mode="append" if strategy == "mor" else "merge",
        expected_version=manifest["version"],
        file_blooms=file_blooms,
        file_counts=file_counts,
    )

    if strategy == "mor" and compact_every:
        # compact when the average delta-file depth per bucket exceeds the
        # threshold — bounds merge-on-read amplification by actual file
        # count, not commit count (a tiny batch shouldn't hasten compaction)
        n_files = sum(len(fs) for fs in new_manifest["files"].values())
        if n_files > compact_every * new_manifest["n_buckets"]:
            new_manifest = compact(spark, table)

    return MergeResult(
        version=new_manifest["version"],
        keys_applied=int(metrics.get("keys_applied") or 0) if metrics else None,
        max_seq_no=(
            int(metrics["max_seq_no"])
            if metrics and metrics.get("max_seq_no") is not None
            else None
        ),
        new_columns=new_cols,
    )


def _merge_mor(
    table: SnapshotTable, src: DataFrame
) -> tuple[dict[str, list[str]], set[int]]:
    """Append the deduped batch as per-bucket delta files — no target read,
    no target-side shuffle; commit cost is O(batch). The LWW reduce is
    deferred to readers / compaction (Iceberg MoR shape)."""
    _, files = table.stage_write(src)
    return files, set()  # append: every existing file carries over


def _merge_cow(
    spark: SparkSession,
    table: SnapshotTable,
    manifest: dict,
    src: DataFrame,
    key_col: str,
    touched: list[int],
) -> tuple[dict[str, list[str]], set[int]]:
    """Copy-on-write MERGE: bucket-pruned, rewrite only touched buckets
    (Iceberg CoW MERGE INTO analogue, SURVEY.md J3 /
    /root/reference/src/handler/arangodb.rs:220,235,302).
    `touched` is bounded metadata (≤ n_buckets ints), not data.

    UNION the pruned target with the deduped batch and hash-reduce per
    key (`lww_resolve` max_by): one partial-aggregating shuffle, no join,
    and it tolerates multi-row-per-key targets (a table previously
    written MoR keeps a delta stack per key until compaction).
    """
    target = table.read_stored(spark, buckets=touched, manifest=manifest)
    merged = lww_resolve(
        target.unionByName(src.drop("_bucket")), key_col
    ).withColumn("_bucket", table.bucket_expr(F.col(key_col), manifest))
    _, files = table.stage_write(merged)
    # every touched bucket is replaced, including one whose rewrite came
    # out empty (stage_write only lists buckets that got rows)
    return files, set(touched)


def _resolve_cluster_by(resolved, cluster_by, table, manifest):
    """A LIST of 2-4 cluster columns requests the Z-order rewrite
    (operators/zorder.py); a single name (or 1-list) is the linear
    sort-order rewrite. Returns what stage_write accepts."""
    if isinstance(cluster_by, (list, tuple)):
        if len(cluster_by) == 1:
            return cluster_by[0]
        from arango_etl_spark.operators.zorder import zorder_column

        return zorder_column(
            resolved, list(cluster_by), table.stored_schema(manifest)
        )
    return cluster_by


def _blooms_for(spark, table, manifest, files, bloom_cols):
    """Bloom entries for freshly written ``files`` (commit's lifecycle
    carries parent entries over for untouched files and drops them with
    replaced ones)."""
    if not bloom_cols:
        return None
    import os as _os

    abs_new = [
        _os.path.join(table.root, rel) for fs in files.values() for rel in fs
    ]
    if not abs_new:
        return None
    return table.build_blooms(
        spark, abs_new, table.stored_schema(manifest), bloom_cols
    )


def _counts_for(spark, table, manifest, files, count_files):
    """Row/tombstone counts for freshly written ``files`` (same manifest
    lifecycle as blooms: parent entries carry over for untouched files
    and die with replaced ones)."""
    if not count_files:
        return None
    import os as _os

    abs_new = [
        _os.path.join(table.root, rel) for fs in files.values() for rel in fs
    ]
    return table.build_counts(
        spark, abs_new, table.stored_schema(manifest)
    ) or None


def compact(
    spark: SparkSession,
    table: SnapshotTable,
    cluster_by: str | list[str] | None = None,
    max_records_per_file: int | None = None,
    bloom_cols: list[str] | None = None,
    count_files: bool = False,
) -> dict:
    """Fold all delta files back to one stored row per key (full table) and
    drop nothing — tombstones are retained so late events keep losing.
    At cluster scale this is Iceberg's rewrite_data_files maintenance job;
    run it off the ingest hot path.

    ``cluster_by`` + ``max_records_per_file`` request the sort-order
    rewrite layout: rows sorted by (bucket, cluster_by, key), files
    rolled every N records so each covers a narrow cluster_by range —
    the layout ``SnapshotTable.analyze`` + ``read_range`` zone-map
    pruning is built for. A LIST of 2-4 columns requests the Z-ORDER
    rewrite instead (operators/zorder.py): files then cover small
    hyper-rectangles of the combined space, so zone maps prune on EVERY
    listed column at once — single-column clustering prunes perfectly
    on one and not at all on the others.

    ``bloom_cols``: re-establish the Bloom equality index over the
    rewritten files in the same job (compaction replaces every file, so
    prior entries die with them; MoR tables become ``read_eq``-eligible
    exactly here, where ``one_row_per_key`` turns true)."""
    manifest = table.manifest()
    stored = table.read_stored(spark, manifest=manifest)
    resolved = lww_resolve(stored, manifest["key_col"]).withColumn(
        "_bucket", table.bucket_expr(F.col(manifest["key_col"]), manifest)
    )
    cluster_by = _resolve_cluster_by(resolved, cluster_by, table, manifest)
    _, files = table.stage_write(
        resolved,
        cluster_by=cluster_by,
        max_records_per_file=max_records_per_file,
    )
    return table.commit(
        new_files=files,
        replaced_buckets=None,
        summary={"compaction": True},
        mode="compact",
        one_row_per_key=True,
        expected_version=manifest["version"],
        file_blooms=_blooms_for(spark, table, manifest, files, bloom_cols),
        file_counts=_counts_for(spark, table, manifest, files, count_files),
    )


def compact_buckets(
    spark: SparkSession,
    table: SnapshotTable,
    min_delta_files: int = 2,
    max_buckets: int | None = None,
    cluster_by: str | list[str] | None = None,
    max_records_per_file: int | None = None,
    bloom_cols: list[str] | None = None,
    count_files: bool = False,
) -> dict:
    """INCREMENTAL compaction: fold only the buckets whose delta-file
    count has reached ``min_delta_files``, leave every other bucket's
    files untouched in the child manifest.

    Full ``compact`` rewrites the whole table — at 100 TB that is a
    full-table read+write per maintenance run, which no real deployment
    does. Steady-state MoR maintenance is Iceberg's
    ``rewrite_data_files`` with a min-input-files / max-group filter:
    pick the buckets where read amplification actually accumulated
    (hot keys concentrate delta files in their hash buckets), rewrite
    JUST those, and let the snapshot commit carry the cold buckets'
    files over by reference. Bucket selection is pure MANIFEST metadata
    — no data file is listed, opened, or scanned for cold buckets, so
    the job's input is |hot buckets| / n_buckets of the table.

    ``max_buckets`` caps one run's rewrite volume (worst-first by file
    count) so maintenance can be paced against the ingest hot path.
    ``one_row_per_key`` flips true only when the selection covered
    every live bucket — a partial rewrite leaves the table MoR and the
    read path keeps merging (correctness is never layout-dependent).

    cf. reference sink's incremental index maintenance
    (src/handler/arangodb.rs) — same off-hot-path shape, here as
    snapshot-isolated file surgery."""
    manifest = table.manifest()
    by_count = sorted(
        ((int(b), fs) for b, fs in manifest["files"].items()),
        key=lambda kv: (-len(kv[1]), kv[0]),
    )
    hot = [b for b, fs in by_count if len(fs) >= int(min_delta_files)]
    if max_buckets is not None:
        hot = hot[: int(max_buckets)]
    if not hot:
        return {**manifest, "skipped": True, "compacted_buckets": []}
    full = len(hot) == sum(1 for _, fs in by_count if fs)
    stored = table.read_stored(spark, buckets=hot, manifest=manifest)
    resolved = lww_resolve(stored, manifest["key_col"]).withColumn(
        "_bucket", table.bucket_expr(F.col(manifest["key_col"]), manifest)
    )
    cluster_by = _resolve_cluster_by(resolved, cluster_by, table, manifest)
    _, files = table.stage_write(
        resolved,
        cluster_by=cluster_by,
        max_records_per_file=max_records_per_file,
    )
    out = table.commit(
        new_files=files,
        replaced_buckets=set(hot),
        summary={"compaction": True, "compacted_buckets": sorted(hot)},
        mode="compact",
        # partial rewrite: parent's flag survives via None (cold buckets
        # may still hold per-key delta stacks)
        one_row_per_key=True if full else None,
        expected_version=manifest["version"],
        file_blooms=_blooms_for(spark, table, manifest, files, bloom_cols),
        file_counts=_counts_for(spark, table, manifest, files, count_files),
    )
    out["compacted_buckets"] = sorted(hot)
    return out


def bootstrap_from_snapshot(
    spark: SparkSession,
    table: SnapshotTable,
    snapshot: DataFrame,
    watermark_seq: int,
    batch_id: int = 0,
    fence_stream_id: str | None = None,
    **apply_kwargs,
) -> MergeResult:
    """Classic CDC bootstrap, step 1: bulk-load an existing table state
    (a consistent snapshot taken at binlog position ``watermark_seq``)
    before tailing the incremental log. Snapshot rows become synthetic
    ``insert`` events AT the watermark with a fixed epoch event_ts, so:

    - any change event with ``seq_no > watermark_seq`` wins over the
      snapshot under the engine's LWW order — incremental catch-up just
      works;
    - the caller MUST replay the log with
      ``apply_changes(min_seq_exclusive=watermark_seq)`` (or
      ``IngestConfig.min_seq_exclusive``): pre-watermark events are
      already reflected in the snapshot and replaying them would
      resurrect docs the snapshot knows are deleted (their tombstones
      are exactly what a snapshot does NOT carry).

    Scale note: this is one bucketed write of the snapshot (the same
    MoR path as any batch) — at 100 TB the snapshot load parallelizes
    over the bucket layout like every other merge, and the watermark
    filter on the incremental side is a pushdown-able scan predicate.
    """
    manifest = table.manifest()
    key_col = manifest["key_col"]
    if key_col not in snapshot.columns:
        raise ValueError(f"snapshot lacks key column {key_col!r}")
    events = snapshot.select(
        "*",
        F.lit("insert").alias("op"),
        F.lit(int(watermark_seq)).alias("seq_no"),
        F.lit(int(batch_id)).alias("batch_id"),
        F.to_timestamp(F.lit("1970-01-01 00:00:00")).alias("event_ts"),
    )
    return apply_changes(
        spark, table, events, batch_id=batch_id,
        fence_stream_id=fence_stream_id, **apply_kwargs,
    )


def rebucket(
    spark: SparkSession, table: SnapshotTable, new_n_buckets: int
) -> dict:
    """Bucket-layout evolution (the engine's analogue of Iceberg's
    partition-spec evolution): rewrite the whole table into
    ``new_n_buckets`` hash buckets and swap the layout + files in ONE
    atomic commit. A table sized for last year's volume outgrows its
    bucket count — per-bucket files get fat, write parallelism caps at
    n_buckets, hot buckets amplify — and the fix must not stop ingest.

    Like compaction this is a full-rewrite maintenance job run OFF the
    ingest path; the commit CAS-es against the snapshot it read
    (expected_version), so a concurrent ingest commit wins and the
    rebucket retries rather than clobbering it. Readers before the swap
    see the old layout, readers after see the new — bucket_expr always
    derives from the CURRENT manifest, so merges and point lookups
    follow automatically. Fences/summary carry over with the manifest.
    """
    if new_n_buckets < 1:
        raise ValueError(f"new_n_buckets must be >= 1, got {new_n_buckets}")
    manifest = table.manifest()
    key_col = manifest["key_col"]
    stored = table.read_stored(spark, manifest=manifest)
    resolved = lww_resolve(stored, key_col).withColumn(
        "_bucket",
        F.pmod(F.xxhash64(F.col(key_col)), F.lit(new_n_buckets)).cast("int"),
    )
    _, files = table.stage_write(resolved)
    return table.commit(
        new_files=files,
        replaced_buckets=None,
        summary={"rebucket_from": manifest["n_buckets"],
                 "rebucket_to": new_n_buckets},
        mode="compact",
        one_row_per_key=True,
        expected_version=manifest["version"],
        new_n_buckets=new_n_buckets,
    )
