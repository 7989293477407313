"""Maintenance + robustness: poison-batch retry cap, snapshot expiry (GC),
time travel, commit-conflict CAS."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from arango_etl_spark.operators.merge_into import apply_changes
from arango_etl_spark.oracle import assert_states_equal, reduce_events_pandas
from arango_etl_spark.plans.lakehouse import CommitConflict, SnapshotTable
from arango_etl_spark.sources.cdc_generator import GeneratorConfig
from arango_etl_spark.streaming.lineage import LineageLog
from arango_etl_spark.streaming.runner import IngestConfig, run_ingest
from tests.test_merge import PAYLOAD_SCHEMA, TS0, ev, files_by_bucket, mk_events

# poison test: one file per dir (epoch == file) and no cross-batch duplicate
# deliveries, so "skip one epoch" == "exclude exactly one dir" in the oracle
POISON_CFG = GeneratorConfig(
    n_events=1_200, n_docs=100, n_batches=4, seed=17, dup_permille=0
)


def mk_table(tmp_path, name):
    return SnapshotTable.create(
        str(tmp_path / name), PAYLOAD_SCHEMA, key_col="doc_id", n_buckets=8
    )


def _meta_with(manifest, field, col):
    """Files whose manifest entry has ``field`` (bounds/bloom) for
    ``col``."""
    return {
        rel for rel, e in manifest["files"].items() if col in e.get(field, {})
    }


def test_poison_batch_skipped_after_retry_cap(spark, tmp_path):
    """A batch that fails every attempt is retried max_retries times, then
    skipped and durably marked 'poisoned' — the stream drains the rest
    (reference ST5 retry cap, settings.rs:86-88; unlike the reference the
    drop is recorded, hazard §4.3.5)."""
    from arango_etl_spark.sources.cdc_generator import generate_events

    d = str(tmp_path / "events")
    events = generate_events(spark, POISON_CFG)
    for b in range(POISON_CFG.n_batches):
        events.where(F.col("batch_id") == b).coalesce(1).write.parquet(
            f"{d}/batch={b:05d}"
        )
    t = mk_table(tmp_path, "poison")
    lineage = LineageLog(str(tmp_path / "lin"))
    cfg = IngestConfig(
        max_files_per_trigger=1, fail_batches=frozenset({1}), max_retries=2
    )
    ckpt = str(tmp_path / "ckpt")

    attempts = 0
    while True:
        try:
            run_ingest(spark, d, t, ckpt, lineage=lineage, cfg=cfg)
            break
        except Exception:
            attempts += 1
            assert attempts <= 5, "stream never recovered"
    assert attempts == 2  # failed max_retries times, then skipped

    lin = lineage.read(spark)
    statuses = {r["status"] for r in lin.select("status").distinct().collect()}
    assert "poisoned" in statuses and "retried" in statuses

    # final state == oracle with exactly ONE batch dir excluded (the file
    # source's epoch numbering need not match our dir numbering, so find
    # which whole input file was skipped)
    actual = t.read(spark).toPandas()
    for skipped in range(POISON_CFG.n_batches):
        applied = spark.read.parquet(
            *[f"{d}/batch={b:05d}" for b in range(POISON_CFG.n_batches)
              if b != skipped]
        ).toPandas()
        try:
            assert_states_equal(actual, reduce_events_pandas(applied))
            return
        except AssertionError:
            continue
    raise AssertionError("final state matches no single-batch-excluded oracle")


def test_expire_snapshots_gc(spark, tmp_path):
    t = mk_table(tmp_path, "gc")
    for i in range(4):
        apply_changes(
            spark, t,
            mk_events(spark, [ev("update", f"doc_{j}", 10 * i + j, [i, j])
                              for j in range(5)]),
            strategy="cow",
        )
    assert t.current_version() == 4
    before = t.read(spark).toPandas()
    n_files_before = sum(
        len(files) for _, _, files in os.walk(t.data_dir)
    )
    stats = t.expire_snapshots(keep_last=1)
    assert stats["expired_versions"] == 4  # v0..v3 dropped
    assert stats["removed_files"] > 0
    n_files_after = sum(len(files) for _, _, files in os.walk(t.data_dir))
    assert n_files_after < n_files_before
    # current snapshot unaffected
    assert_states_equal(t.read(spark).toPandas(), before)


def test_time_travel_read(spark, tmp_path):
    t = mk_table(tmp_path, "tt")
    apply_changes(spark, t, mk_events(spark, [ev("insert", "a", 1, [1])]))
    apply_changes(spark, t, mk_events(spark, [ev("update", "a", 2, [2, 2])]))
    v1, v2 = 1, 2
    old = t.read(spark, manifest=t.manifest(v1)).collect()
    new = t.read(spark, manifest=t.manifest(v2)).collect()
    assert [list(r["tokens"]) for r in old] == [[1]]
    assert [list(r["tokens"]) for r in new] == [[2, 2]]


def test_commit_conflict_cas(spark, tmp_path):
    """Two writers preparing against the same base version: the second
    commit must fail the CAS (Iceberg catalog swap semantics)."""
    t = mk_table(tmp_path, "cas")
    base = t.current_version()
    t.commit(new_files={}, replaced_buckets=set(), expected_version=base)
    with pytest.raises(CommitConflict):
        t.commit(new_files={}, replaced_buckets=set(), expected_version=base)


def test_expire_snapshots_twice_with_shrinking_keep(spark, tmp_path):
    """A second expiry with a LARGER keep_last after an aggressive one must
    not crash on already-deleted manifests (round-1 ADVICE:
    non-contiguous history)."""
    t = mk_table(tmp_path, "gc2")
    for i in range(5):
        apply_changes(
            spark, t,
            mk_events(spark, [ev("update", f"doc_{j}", 10 * i + j, [i, j])
                              for j in range(5)]),
            strategy="cow",
        )
    t.expire_snapshots(keep_last=1)
    apply_changes(
        spark, t,
        mk_events(spark, [ev("update", "doc_0", 999, [9])]), strategy="cow",
    )
    out = t.expire_snapshots(keep_last=4)  # window reaches expired versions
    assert "expired_versions" in out
    assert t.read(spark).count() > 0


def test_rebucket_layout_evolution(spark, tmp_path):
    """rebucket rewrites the table into a new hash layout atomically:
    same public state, updated n_buckets, and SUBSEQUENT merges and
    point lookups follow the new layout (bucket_expr reads the current
    manifest)."""
    from arango_etl_spark.operators.merge_into import (
        apply_changes,
        rebucket,
    )
    from tests.test_merge import ev, mk_events, mk_table

    t = mk_table(tmp_path, "rb", n_buckets=4)
    apply_changes(spark, t, mk_events(spark, [
        ev("insert", f"d{i}", 1, [i]) for i in range(30)
    ] + [ev("delete", "d5", 2, None)]), batch_id=0, fence_stream_id="cdc")
    before = {r["doc_id"]: list(r["tokens"]) for r in t.read(spark).collect()}

    m = rebucket(spark, t, new_n_buckets=16)
    assert m["n_buckets"] == 16
    assert t.manifest()["n_buckets"] == 16
    after = {r["doc_id"]: list(r["tokens"]) for r in t.read(spark).collect()}
    assert after == before
    # fence survived the layout swap
    assert t.last_batch_id("cdc") == 0
    # post-rebucket merge + point lookup work against the new layout
    apply_changes(spark, t, mk_events(spark, [ev("update", "d3", 9, [99])]),
                  batch_id=1, fence_stream_id="cdc")
    got = {r["doc_id"]: list(r["tokens"])
           for r in t.read_keys(spark, ["d3", "d5"]).collect()}
    assert got == {"d3": [99]}
    # data files are spread over more buckets than before
    assert len(files_by_bucket(t.manifest())) > 4


def test_remove_orphan_files(spark, tmp_path):
    """A crash between stage_write and commit leaves a commit dir no
    manifest references: remove_orphan_files deletes it once past the
    grace window, never touches live commits (incl. their unreferenced
    _SUCCESS/.crc sidecars) and never touches fresh staged dirs."""
    import os
    import time

    from pyspark.sql import functions as F

    from arango_etl_spark.operators.merge_into import apply_changes
    from tests.test_merge import ev, mk_events, mk_table

    t = mk_table(tmp_path, "orph", n_buckets=4)
    apply_changes(spark, t, mk_events(spark, [ev("insert", "a", 1, [1])]))

    # simulate the crash: stage a write that is never committed
    staged = mk_events(spark, [ev("insert", "zz", 9, [9])]).select(
        "*"
    ).withColumn("_bucket", t.bucket_expr(F.col("doc_id")))
    stored = staged.select(
        "doc_id", "tokens", "n_tok", "source",
        F.col("seq_no").alias("_seq_no"), F.col("event_ts").alias("_event_ts"),
        F.col("batch_id").alias("_batch_id"), F.col("op").alias("_op"),
        F.lit(False).alias("_deleted"),
    ).withColumn("_bucket", t.bucket_expr(F.col("doc_id")))
    rel, _files = t.stage_write(stored)
    orphan_dir = os.path.join(t.root, rel)
    assert os.path.isdir(orphan_dir)

    # fresh orphan: protected by the grace window
    r = t.remove_orphan_files(older_than_secs=3600)
    assert r["removed_dirs"] == 0 and os.path.isdir(orphan_dir)

    # age everything, then GC: orphan dir goes, live data stays readable
    for dirpath, _dirs, files in os.walk(os.path.join(t.root, "data")):
        for fn in files:
            p = os.path.join(dirpath, fn)
            os.utime(p, (time.time() - 7200, time.time() - 7200))
    r = t.remove_orphan_files(older_than_secs=3600)
    assert r["removed_dirs"] == 1 and r["removed_files"] >= 1
    assert not os.path.exists(orphan_dir)
    got = {x["doc_id"]: list(x["tokens"]) for x in t.read(spark).collect()}
    assert got == {"a": [1]}
    # idempotent second pass
    assert t.remove_orphan_files(older_than_secs=3600)["removed_dirs"] == 0


def test_zone_map_range_pruning(spark, tmp_path):
    """Sort-order compaction + analyze + read_range: a narrow _seq_no
    range must open only the files whose zone map intersects it, return
    exactly the full-scan answer, and refuse to run on a MoR snapshot
    (file pruning before LWW-resolve is unsound)."""
    t = mk_table(tmp_path, "zones")
    rows = [
        ev("update", f"d{i:05d}", i, [i % 7], batch=0) for i in range(10_000)
    ]
    apply_changes(
        spark, t, mk_events(spark, rows), batch_id=0,
        fence_stream_id="z", strategy="mor", compact_every=0,
    )
    # MoR snapshot (append mode): pruning is unsound and must raise
    with pytest.raises(ValueError, match="one_row_per_key"):
        t.read_range(spark, "_seq_no", lo=100, hi=200)

    from arango_etl_spark.operators.merge_into import compact

    compact(spark, t, cluster_by="_seq_no", max_records_per_file=400)
    t.analyze(spark, ["_seq_no"])
    m = t.manifest()
    all_files = t.data_files(m)
    assert len(all_files) >= 24  # 8 buckets x ~1250 rows / 400 per file
    assert _meta_with(m, "bounds", "_seq_no") == {
        os.path.relpath(f, t.root) for f in all_files
    }

    got = t.read_range(spark, "_seq_no", lo=1000, hi=1999)
    opened = got.inputFiles()
    assert got.count() == 1000
    assert {r["doc_id"] for r in got.collect()} == {
        f"d{i:05d}" for i in range(1000, 2000)
    }
    # 10% of the seq range → at most ~2 file spans per bucket
    assert len(opened) <= len(all_files) // 2, (
        f"opened {len(opened)}/{len(all_files)}"
    )
    print(f"zone-map pruning: opened {len(opened)}/{len(all_files)} files")

    # stats survive carried-over commits and die with replaced files
    compact(spark, t)  # plain re-compaction: new files, old stats dropped
    assert not _meta_with(t.manifest(), "bounds", "_seq_no")
    # pruning-free fallback still answers correctly (no stats present)
    again = t.read_range(spark, "_seq_no", lo=1000, hi=1999)
    assert again.count() == 1000


def test_zorder_multi_column_pruning(spark, tmp_path):
    """Z-order compaction (cluster_by=[a, b]) must give zone-map pruning
    on BOTH columns at once, where single-column clustering prunes
    perfectly on its own column and not at all on the other. Dims are
    de-correlated by a Knuth multiplicative scatter so linear clustering
    can't accidentally help the second column."""
    import datetime as dt

    from arango_etl_spark.operators.merge_into import compact

    n = 8192
    t = mk_table(tmp_path, "zorder")
    rows = [
        ev("update", f"d{i:04d}", i, [1],
           ts=TS0 + dt.timedelta(seconds=(i * 2654435761) % n))
        for i in range(n)
    ]
    apply_changes(
        spark, t, mk_events(spark, rows), batch_id=0, fence_stream_id="z",
        strategy="mor", compact_every=0,
    )
    compact(
        spark, t, cluster_by=["_seq_no", "_event_ts"],
        max_records_per_file=64,
    )
    t.analyze(spark, ["_seq_no", "_event_ts"])
    all_files = t.data_files()
    assert len(all_files) >= 64  # 8 buckets x 1024 rows / 64 per file

    # ~10% range in dim 1
    g1 = t.read_range(spark, "_seq_no", lo=0, hi=n // 10 - 1)
    assert g1.count() == n // 10
    frac1 = len(g1.inputFiles()) / len(all_files)
    # ~10% window in dim 2
    g2 = t.read_range(
        spark, "_event_ts",
        lo=TS0, hi=TS0 + dt.timedelta(seconds=n // 10 - 1),
    )
    assert g2.count() == n // 10
    frac2 = len(g2.inputFiles()) / len(all_files)
    assert frac1 <= 0.5 and frac2 <= 0.5, (frac1, frac2)
    print(f"zorder pruning: seq {frac1:.2f}, ts {frac2:.2f} of files")

    # contrast: linear clustering on _seq_no leaves _event_ts unprunable
    compact(spark, t, cluster_by="_seq_no", max_records_per_file=64)
    t.analyze(spark, ["_seq_no", "_event_ts"])
    lin_files = t.data_files()
    lin_seq = t.read_range(spark, "_seq_no", lo=0, hi=n // 10 - 1)
    lin_ts = t.read_range(
        spark, "_event_ts",
        lo=TS0, hi=TS0 + dt.timedelta(seconds=n // 10 - 1),
    )
    assert len(lin_seq.inputFiles()) / len(lin_files) < frac1  # linear wins its own dim
    assert len(lin_ts.inputFiles()) / len(lin_files) > 0.9     # and loses the other
    assert lin_ts.count() == n // 10


def test_incremental_compaction_hot_buckets_only(spark, tmp_path):
    """compact_buckets must rewrite ONLY buckets at the delta-file
    threshold: cold buckets' manifest entries carry over BY REFERENCE
    (same file names — no read, no write), visible state is unchanged,
    the change feed across the compaction is empty, and one_row_per_key
    stays false until a run covers every live bucket."""
    from arango_etl_spark.operators.merge_into import compact_buckets

    t = mk_table(tmp_path, "inc")
    keys = [f"d{i:03d}" for i in range(200)]
    apply_changes(
        spark, t,
        mk_events(spark, [ev("insert", k, 1, [1, 2]) for k in keys]),
        batch_id=0, fence_stream_id="i", strategy="mor", compact_every=0,
    )
    m0 = t.manifest()
    kdf = spark.createDataFrame([(k,) for k in keys], "doc_id string")
    by_bucket = {
        r["doc_id"]: r["b"]
        for r in kdf.select(
            "doc_id", t.bucket_expr(F.col("doc_id"), m0).alias("b")
        ).collect()
    }
    hot = sorted({b for b in by_bucket.values()})[:2]
    hot_keys = [k for k, b in by_bucket.items() if b in hot]
    for batch in (1, 2, 3):  # delta files pile up in the hot buckets only
        apply_changes(
            spark, t,
            mk_events(
                spark,
                [ev("update", k, 10 + batch, [batch]) for k in hot_keys],
            ),
            batch_id=batch, fence_stream_id="i",
            strategy="mor", compact_every=0,
        )
    pre = t.manifest()
    pre_b = files_by_bucket(pre)
    assert all(len(pre_b[b]) == 4 for b in hot)
    before = sorted(map(tuple, t.read(spark).collect()))

    m = compact_buckets(spark, t, min_delta_files=4)
    assert m["compacted_buckets"] == hot
    assert m["one_row_per_key"] is False
    m_b = files_by_bucket(m)
    for b, fs in pre_b.items():
        if b in hot:
            assert len(m_b[b]) < len(fs)
        else:
            assert m_b[b] == fs  # carried over by reference
    assert sorted(map(tuple, t.read(spark).collect())) == before
    assert t.read_changes(spark, pre["version"], m["version"]).count() == 0

    # worst-first cap: a fresh pile-up + max_buckets=1 takes one bucket
    skipped = compact_buckets(spark, t, min_delta_files=4)
    assert skipped.get("skipped") and t.current_version() == m["version"]

    # covering every live bucket flips the table flat
    full = compact_buckets(spark, t, min_delta_files=1)
    assert full["one_row_per_key"] is True
    assert sorted(map(tuple, t.read(spark).collect())) == before


def test_bloom_point_lookup_pruning(spark, tmp_path):
    """Per-file Bloom equality index on a high-cardinality non-key
    column (the reference's persistent pub_key index shape): a point
    lookup must open only the file(s) whose Bloom matches, return
    exactly the full-scan answer, refuse MoR snapshots, and fall back
    to a full (correct) scan once compaction drops the index entries."""
    t = mk_table(tmp_path, "blooms")
    # unique-ish source per doc, scattered across buckets/files — zone
    # maps prune nothing for this shape; only a hash index helps
    rows = [
        ev("update", f"d{i:05d}", i, [i % 7], src=f"user_{(i * 7919) % 9973}")
        for i in range(10_000)
    ]
    apply_changes(
        spark, t, mk_events(spark, rows), batch_id=0,
        fence_stream_id="b", strategy="mor", compact_every=0,
    )
    with pytest.raises(ValueError, match="one_row_per_key"):
        t.read_eq(spark, "source", "user_1")

    from arango_etl_spark.operators.merge_into import compact

    compact(spark, t, max_records_per_file=400)
    t.analyze(spark, bloom_cols=["source"])
    m = t.manifest()
    all_files = t.data_files(m)
    assert len(all_files) >= 24
    assert _meta_with(m, "bloom", "source") == {
        os.path.relpath(f, t.root) for f in all_files
    }

    target = f"user_{(4321 * 7919) % 9973}"  # source of doc d04321
    got = t.read_eq(spark, "source", target)
    opened = got.inputFiles()
    hits = got.collect()
    assert {r["doc_id"] for r in hits} == {"d04321"}
    # the value lives in ONE file; Bloom FPs may open a couple more
    assert len(opened) <= max(3, len(all_files) // 8), (
        f"opened {len(opened)}/{len(all_files)}"
    )
    print(f"bloom pruning: opened {len(opened)}/{len(all_files)} files")

    # absent value: 0 rows, and (modulo FPs) nearly nothing opened
    miss = t.read_eq(spark, "source", "nobody_home")
    assert miss.count() == 0
    assert len(miss.inputFiles()) <= max(3, len(all_files) // 8)
    with pytest.raises(ValueError, match="non-null"):
        t.read_eq(spark, "source", None)

    # index entries survive metadata-only commits on the same files...
    t.analyze(spark, ["_seq_no"])
    assert _meta_with(t.manifest(), "bloom", "source") == {
        os.path.relpath(f, t.root) for f in all_files
    }
    # ...and die with replaced files; the lookup then scans all files
    # but still answers correctly (pruning is never a correctness gate)
    compact(spark, t)
    assert not _meta_with(t.manifest(), "bloom", "source")
    again = t.read_eq(spark, "source", target)
    assert {r["doc_id"] for r in again.collect()} == {"d04321"}


def test_bloom_write_time_maintenance(spark, tmp_path):
    """Write-time index maintenance: CoW merges with ``bloom_cols`` index
    only their freshly staged files (O(batch), no retrofit scan), yet
    after every commit the WHOLE table is covered — new entries merge
    with carried-over ones through the manifest lifecycle. MoR tables
    get their index at compaction (``compact(bloom_cols=...)``), where
    read_eq becomes sound."""
    t = mk_table(tmp_path, "wtblooms")
    b0 = [ev("update", f"d{i:04d}", i, [1], src=f"user_{i}") for i in range(0, 2000)]
    b1 = [ev("update", f"d{i:04d}", i, [2], src=f"user_{i}", batch=1)
          for i in range(2000, 4000)]
    apply_changes(
        spark, t, mk_events(spark, b0), batch_id=0, fence_stream_id="w",
        strategy="cow", compact_every=0, bloom_cols=["source"],
    )
    apply_changes(
        spark, t, mk_events(spark, b1), batch_id=1, fence_stream_id="w",
        strategy="cow", compact_every=0, bloom_cols=["source"],
    )
    m = t.manifest()
    all_files = t.data_files(m)
    # every live file is indexed — including batch-0 files carried over
    assert _meta_with(m, "bloom", "source") == {
        os.path.relpath(f, t.root) for f in all_files
    }
    got = t.read_eq(spark, "source", "user_150")   # batch-0 resident
    assert {r["doc_id"] for r in got.collect()} == {"d0150"}
    assert len(got.inputFiles()) < len(all_files)
    got = t.read_eq(spark, "source", "user_3999")  # batch-1 resident
    assert {r["doc_id"] for r in got.collect()} == {"d3999"}

    # MoR path: deltas are unindexed (read_eq raises pre-compaction);
    # the compaction that makes pruning sound also (re)builds the index
    t2 = mk_table(tmp_path, "morblooms")
    apply_changes(
        spark, t2,
        mk_events(spark, [ev("update", f"e{i}", i, [1], src=f"s_{i}")
                          for i in range(500)]),
        strategy="mor", compact_every=0,
    )
    from arango_etl_spark.operators.merge_into import compact

    compact(spark, t2, max_records_per_file=100, bloom_cols=["source"])
    m2 = t2.manifest()
    assert _meta_with(m2, "bloom", "source") == {
        os.path.relpath(f, t2.root) for f in t2.data_files(m2)
    }
    hit = t2.read_eq(spark, "source", "s_42")
    assert {r["doc_id"] for r in hit.collect()} == {"e42"}
    assert len(hit.inputFiles()) < len(t2.data_files(m2))

    # streaming: IngestConfig.bloom_cols maintains the index per epoch
    d = str(tmp_path / "bloom_events")
    for b, lo in ((0, 0), (1, 300)):
        mk_events(
            spark,
            [ev("update", f"s{i:04d}", i, [1], src=f"u{i}", batch=b)
             for i in range(lo, lo + 300)],
        ).coalesce(1).write.parquet(f"{d}/batch={b:05d}")
    t3 = mk_table(tmp_path, "streamblooms")
    run_ingest(
        spark, d, t3, str(tmp_path / "bloom_ckpt"),
        cfg=IngestConfig(strategy="cow", bloom_cols=("source",),
                         max_files_per_trigger=1),
    )
    m3 = t3.manifest()
    assert _meta_with(m3, "bloom", "source") == {
        os.path.relpath(f, t3.root) for f in t3.data_files(m3)
    }
    got = t3.read_eq(spark, "source", "u123")
    assert {r["doc_id"] for r in got.collect()} == {"s0123"}


def test_zone_map_timestamp_bounds(spark, tmp_path):
    """Timestamp zone maps are stored as unix micros; read_range accepts
    datetime bounds and converts symmetrically."""
    import datetime as dt

    t = mk_table(tmp_path, "tszones")
    rows = [
        ev("update", f"d{i:03d}", i, [1],
           ts=dt.datetime(2024, 1, 1) + dt.timedelta(hours=i))
        for i in range(200)
    ]
    apply_changes(
        spark, t, mk_events(spark, rows), batch_id=0,
        fence_stream_id="z", strategy="cow", compact_every=0,
    )
    from arango_etl_spark.operators.merge_into import compact

    compact(spark, t, cluster_by="_event_ts", max_records_per_file=25)
    t.analyze(spark, ["_event_ts"])
    got = t.read_range(
        spark, "_event_ts",
        lo=dt.datetime(2024, 1, 2), hi=dt.datetime(2024, 1, 3),
    )
    assert got.count() == 25  # hours 24..48 inclusive
    assert len(got.inputFiles()) < len(t.data_files())
