"""Incrementally-maintained rollup (continuous aggregate with
update/delete retraction via snapshot time travel) — after every batch
the rollup must equal a from-scratch groupBy of the base's state, and
replays / crash-recovery must be exactly-once."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from arango_etl_spark.operators.merge_into import apply_changes
from arango_etl_spark.streaming.rollup import (
    create_rollup_table,
    maintain_rollup,
    recompute_rollup,
)
from tests.test_merge import (
    PAYLOAD_SCHEMA,
    WATERMARK,
    WATERMARK_LOG,
    ev,
    mk_events,
    mk_table,
)


def _expected(spark, base):
    rows = (
        base.read(spark)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.coalesce(
                F.sum(F.col("n_tok").cast("double")), F.lit(0.0)
            ).alias("total"),
        )
        .collect()
    )
    return {r["source"]: (r["cnt"], r["total"]) for r in rows}


def _actual(spark, rollup):
    return {
        r["source"]: (r["cnt"], r["total"])
        for r in rollup.read(spark).collect()
    }


BATCHES = [
    # batch 0: inserts across two sources
    [ev("update", f"d{i}", i, [1] * (i + 1), batch=0,
        src=f"src_{i % 2}") for i in range(10)],
    # batch 1: updates move d0/d1 token counts, delete d2, new doc d10
    [
        ev("update", "d0", 100, [1] * 7, batch=1, src="src_0"),
        ev("update", "d1", 101, [1] * 9, batch=1, src="src_1"),
        ev("delete", "d2", 102, None, batch=1, src="src_0"),
        ev("update", "d10", 103, [1] * 3, batch=1, src="src_0"),
    ],
    # batch 2: delete the last src_1 heavy doc, update d10 twice
    # (in-batch dedup: only seq 201 wins)
    [
        ev("delete", "d9", 200, None, batch=2, src="src_1"),
        ev("update", "d10", 201, [1] * 5, batch=2, src="src_0"),
        ev("update", "d10", 199, [1] * 50, batch=2, src="src_0"),
    ],
]


def _mk(tmp_path):
    base = mk_table(tmp_path, "base")
    rollup = create_rollup_table(
        str(tmp_path / "rollup"), "source", T.StringType()
    )
    return base, rollup


def test_rollup_tracks_base_through_updates_and_deletes(spark, tmp_path):
    base, rollup = _mk(tmp_path)
    for b, rows in enumerate(BATCHES):
        out = maintain_rollup(
            spark, base, rollup, mk_events(spark, rows), batch_id=b,
            group_col="source", measure_col="n_tok",
        )
        assert out["rollup"] == "incremental"
        assert _actual(spark, rollup) == _expected(spark, base), f"batch {b}"


def test_rollup_replay_is_noop(spark, tmp_path):
    base, rollup = _mk(tmp_path)
    for b, rows in enumerate(BATCHES[:2]):
        maintain_rollup(
            spark, base, rollup, mk_events(spark, rows), batch_id=b,
            group_col="source", measure_col="n_tok",
        )
    v_base, v_roll = base.current_version(), rollup.current_version()
    out = maintain_rollup(
        spark, base, rollup, mk_events(spark, BATCHES[1]), batch_id=1,
        group_col="source", measure_col="n_tok",
    )
    assert out["rollup"] == "skipped"
    assert base.current_version() == v_base
    assert rollup.current_version() == v_roll


def test_rollup_heals_after_crash_between_commits(spark, tmp_path):
    """Crash simulation: the base commits a batch but the rollup does
    not (process died between the two). Re-running maintain_rollup must
    recover the pre-batch snapshot from the manifest chain and produce
    the exact rollup."""
    base, rollup = _mk(tmp_path)
    maintain_rollup(
        spark, base, rollup, mk_events(spark, BATCHES[0]), batch_id=0,
        group_col="source", measure_col="n_tok",
    )
    # "crash": batch 1 reaches the base only
    apply_changes(
        spark, base, mk_events(spark, BATCHES[1]), batch_id=1,
        fence_stream_id="rollup",
    )
    out = maintain_rollup(
        spark, base, rollup, mk_events(spark, BATCHES[1]), batch_id=1,
        group_col="source", measure_col="n_tok",
    )
    assert out["rollup"] == "incremental"
    assert _actual(spark, rollup) == _expected(spark, base)


def test_rollup_recomputes_when_history_expired(spark, tmp_path):
    """If expire_snapshots GC'd the pre-batch manifest before the rollup
    caught up, the maintainer falls back to a full recompute — correct,
    just not incremental."""
    base, rollup = _mk(tmp_path)
    maintain_rollup(
        spark, base, rollup, mk_events(spark, BATCHES[0]), batch_id=0,
        group_col="source", measure_col="n_tok",
    )
    apply_changes(
        spark, base, mk_events(spark, BATCHES[1]), batch_id=1,
        fence_stream_id="rollup",
    )
    base.expire_snapshots(keep_last=1)  # pre-batch manifest is gone
    out = maintain_rollup(
        spark, base, rollup, mk_events(spark, BATCHES[1]), batch_id=1,
        group_col="source", measure_col="n_tok",
    )
    assert out["rollup"] == "recomputed"
    assert _actual(spark, rollup) == _expected(spark, base)


def test_recompute_bootstrap(spark, tmp_path):
    """recompute_rollup initializes a rollup over a pre-existing base."""
    base, rollup = _mk(tmp_path)
    apply_changes(
        spark, base, mk_events(spark, BATCHES[0]), batch_id=0,
        fence_stream_id="rollup",
    )
    recompute_rollup(
        spark, base, rollup, "source", "n_tok", batch_id=0
    )
    assert _actual(spark, rollup) == _expected(spark, base)
    # and incremental maintenance continues from the bootstrap
    out = maintain_rollup(
        spark, base, rollup, mk_events(spark, BATCHES[1]), batch_id=1,
        group_col="source", measure_col="n_tok",
    )
    assert out["rollup"] == "incremental"
    assert _actual(spark, rollup) == _expected(spark, base)


def test_rollup_through_streaming_runner(spark, tmp_path):
    """run_ingest with rollup_root maintains the continuous aggregate
    epoch-by-epoch through the REAL streaming path, and a second drain
    of the same checkpoint changes nothing (fences on both tables)."""
    from arango_etl_spark.sources.cdc_generator import (
        GeneratorConfig,
        write_event_batches,
    )
    from arango_etl_spark.streaming.runner import IngestConfig, run_ingest

    feed = str(tmp_path / "feed")
    cfg_gen = GeneratorConfig(n_events=800, n_docs=60, n_batches=4, seed=5)
    write_event_batches(spark, cfg_gen, feed)
    base = mk_table(tmp_path, "sbase")
    rollup_root = str(tmp_path / "srollup")
    cfg = IngestConfig(
        stream_id="s", max_files_per_trigger=1, compact_every=0,
        rollup_root=rollup_root,
    )
    ckpt = str(tmp_path / "ckpt")
    run_ingest(spark, feed, base, ckpt, cfg=cfg)

    from arango_etl_spark.plans.lakehouse import SnapshotTable

    rollup = SnapshotTable(rollup_root)
    assert _actual(spark, rollup) == _expected(spark, base)
    v_b, v_r = base.current_version(), rollup.current_version()
    run_ingest(spark, feed, base, ckpt, cfg=cfg)  # re-drain: no-op
    assert base.current_version() == v_b
    assert rollup.current_version() == v_r
    assert _actual(spark, rollup) == _expected(spark, base)


def test_rollup_runner_honours_bootstrap_watermark(spark, tmp_path):
    """run_ingest with rollup_root merges with the same arguments as
    without it: a bootstrapped table tailed with ``min_seq_exclusive``
    keeps a doc deleted before the snapshot dead, although the feed
    redelivers its pre-watermark insert."""
    from arango_etl_spark.operators.merge_into import bootstrap_from_snapshot
    from arango_etl_spark.streaming.runner import IngestConfig, run_ingest

    pre = mk_table(tmp_path, "pre")
    apply_changes(spark, pre, mk_events(spark, WATERMARK_LOG[:4]))
    base = mk_table(tmp_path, "boot")
    bootstrap_from_snapshot(
        spark, base, pre.read(spark), watermark_seq=WATERMARK
    )
    feed = str(tmp_path / "feed")
    mk_events(spark, WATERMARK_LOG[4:]).coalesce(1).write.parquet(
        feed + "/batch=00000"
    )
    cfg = IngestConfig(
        stream_id="s", compact_every=0, min_seq_exclusive=WATERMARK,
        rollup_root=str(tmp_path / "roll"),
    )
    run_ingest(spark, feed, base, str(tmp_path / "ckpt"), cfg=cfg)
    got = {r["doc_id"]: list(r["tokens"]) for r in base.read(spark).collect()}
    assert got == {"a": [7], "b": [8, 8]}


def test_rollup_runner_keeps_write_time_blooms(spark, tmp_path):
    """``bloom_cols`` reaches the base merge on the rollup path: every
    file a CoW epoch writes carries its Bloom entry."""
    from arango_etl_spark.sources.cdc_generator import (
        GeneratorConfig,
        write_event_batches,
    )
    from arango_etl_spark.streaming.runner import IngestConfig, run_ingest

    feed = str(tmp_path / "feed")
    write_event_batches(
        spark, GeneratorConfig(n_events=400, n_docs=60, n_batches=2, seed=7),
        feed,
    )
    base = mk_table(tmp_path, "base")
    cfg = IngestConfig(
        stream_id="s", max_files_per_trigger=1, strategy="cow",
        rollup_root=str(tmp_path / "roll"), bloom_cols=("source",),
    )
    run_ingest(spark, feed, base, str(tmp_path / "ckpt"), cfg=cfg)
    m = base.manifest()
    assert m["files"] and m["summary"]["fence.s"] == 1
    assert all("source" in e.get("bloom", {}) for e in m["files"].values())


def test_rollup_runner_seeds_new_rollup_from_non_empty_base(spark, tmp_path):
    """A rollup created by ``run_ingest`` over a base that already holds
    rows starts from those rows: after a bootstrap and one epoch the
    rollup equals a groupBy of the base."""
    from arango_etl_spark.operators.merge_into import bootstrap_from_snapshot
    from arango_etl_spark.plans.lakehouse import SnapshotTable
    from arango_etl_spark.streaming.runner import IngestConfig, run_ingest

    pre = mk_table(tmp_path, "pre")
    apply_changes(spark, pre, mk_events(spark, BATCHES[0]))
    base = mk_table(tmp_path, "boot")
    bootstrap_from_snapshot(spark, base, pre.read(spark), watermark_seq=99)
    feed = str(tmp_path / "feed")
    mk_events(spark, BATCHES[1]).coalesce(1).write.parquet(
        feed + "/batch=00000"
    )
    cfg = IngestConfig(
        stream_id="s", compact_every=0, rollup_root=str(tmp_path / "roll"),
    )
    run_ingest(spark, feed, base, str(tmp_path / "ckpt"), cfg=cfg)
    assert base.manifest()["summary"]["fence.s"] == 0
    rollup = SnapshotTable(str(tmp_path / "roll"))
    assert _actual(spark, rollup) == _expected(spark, base)


# edge cases the step must retract or ignore, with the rollup each batch
# must leave (n_tok is the token count)
EDGE_BATCHES = [
    (
        [ev("insert", "a", 10, [1] * 2, src="src_0"),
         ev("insert", "b", 10, [1] * 3, src="src_0"),
         ev("insert", "c", 10, [1] * 4, src="src_1"),
         ev("insert", "d", 10, [1] * 5, src="src_1"),
         ev("insert", "e", 10, [1], src="src_2")],
        {"src_0": (2, 5.0), "src_1": (2, 9.0), "src_2": (1, 1.0)},
    ),
    (
        [ev("update", "a", 5, [1] * 9, batch=1, src="src_0"),  # late update
         ev("delete", "b", 5, None, batch=1, src="src_0"),      # late delete
         ev("delete", "c", 20, None, batch=1, src="src_1"),
         ev("delete", "zz", 20, None, batch=1, src="src_2"),    # never seen
         ev("update", "d", 20, [1] * 6, batch=1, src="src_0"),  # moves group
         ev("delete", "e", 20, None, batch=1, src="src_2")],    # src_2 → 0
        {"src_0": (3, 11.0)},
    ),
    (
        [ev("insert", "c", 30, [1] * 7, batch=2, src="src_1"),  # re-insert
         ev("update", "c", 15, [1] * 50, batch=2, src="src_1"),
         ev("insert", "zz", 10, [1], batch=2, src="src_2"),     # under tomb
         ev("delete", "d", 15, None, batch=2, src="src_0")],    # late delete
        {"src_0": (3, 11.0), "src_1": (1, 7.0)},
    ),
]


@pytest.mark.parametrize(
    "merge_kwargs",
    [dict(strategy="mor", compact_every=0), dict(strategy="cow"),
     dict(strategy="mor", compact_every=1)],
    ids=["mor", "cow", "mor_compacting"],
)
def test_rollup_edge_cases(spark, tmp_path, merge_kwargs):
    """Late lower-seq_no updates and deletes, a re-insert after a delete,
    a key moving between groups, groups emptying to zero and a delete of
    a never-seen key, under MoR, CoW (whole buckets added) and an
    in-merge compaction (the whole table added)."""
    base, rollup = _mk(tmp_path)
    for b, (rows, want) in enumerate(EDGE_BATCHES):
        out = maintain_rollup(
            spark, base, rollup, mk_events(spark, rows), batch_id=b,
            group_col="source", measure_col="n_tok", **merge_kwargs,
        )
        assert out["rollup"] == "incremental"
        assert _actual(spark, rollup) == want == _expected(spark, base), b


def test_rollup_new_over_non_empty_base(spark, tmp_path):
    """A direct maintain_rollup on a new rollup over a base that already
    holds rows starts from those rows."""
    base, rollup = _mk(tmp_path)
    apply_changes(spark, base, mk_events(spark, BATCHES[0]))
    out = maintain_rollup(
        spark, base, rollup,
        mk_events(spark, [ev("update", "d0", 50, [1] * 4, batch=1)]),
        batch_id=1, group_col="source", measure_col="n_tok",
    )
    assert _actual(spark, rollup) == _expected(spark, base) == {
        "src_0": (5, 28.0), "src_1": (5, 30.0)
    }
    assert out["rollup"] == "recomputed"


def test_rollup_step_reads_only_the_batch_bucket(spark, tmp_path, monkeypatch):
    """A 1-key MoR batch on an 8-bucket base reads the pre-batch snapshot
    in that key's bucket only, and never the whole base."""
    from arango_etl_spark.plans.lakehouse import SnapshotTable, _key_hash

    base, rollup = _mk(tmp_path)
    maintain_rollup(
        spark, base, rollup,
        mk_events(spark, [ev("insert", f"d{i}", i, [1] * (i % 5), src=f"s{i % 3}")
                          for i in range(64)]),
        batch_id=0, group_col="source", measure_col="n_tok", compact_every=0,
    )
    reads = []
    read_stored = SnapshotTable.read_stored

    def spy(self, spark, buckets=None, manifest=None):
        if self.root == base.root:
            reads.append(buckets)
        return read_stored(self, spark, buckets=buckets, manifest=manifest)

    monkeypatch.setattr(SnapshotTable, "read_stored", spy)
    out = maintain_rollup(
        spark, base, rollup,
        mk_events(spark, [ev("update", "d7", 100, [1] * 9, batch=1, src="s0")]),
        batch_id=1, group_col="source", measure_col="n_tok", compact_every=0,
    )
    monkeypatch.undo()
    assert out["rollup"] == "incremental"
    assert reads == [[_key_hash("d7", T.StringType()) % 8]]
    assert _actual(spark, rollup) == _expected(spark, base)


def test_runner_expires_the_rollup_with_the_base(spark, tmp_path):
    """expire_every/expire_keep_last bound the rollup's manifests and
    files as they bound the base's."""
    import os

    from arango_etl_spark.plans.lakehouse import SnapshotTable
    from arango_etl_spark.sources.cdc_generator import (
        GeneratorConfig,
        write_event_batches,
    )
    from arango_etl_spark.streaming.runner import IngestConfig, run_ingest

    feed = str(tmp_path / "feed")
    write_event_batches(
        spark, GeneratorConfig(n_events=400, n_docs=40, n_batches=8, seed=3),
        feed,
    )
    base = mk_table(tmp_path, "base")
    cfg = IngestConfig(
        stream_id="s", max_files_per_trigger=1, compact_every=0,
        expire_every=2, expire_keep_last=2, rollup_root=str(tmp_path / "roll"),
    )
    run_ingest(spark, feed, base, str(tmp_path / "ckpt"), cfg=cfg)
    rollup = SnapshotTable(str(tmp_path / "roll"))
    assert base.manifest()["summary"]["fence.s"] == 7
    assert len(rollup._versions()) == len(base._versions()) == 3
    on_disk = {
        os.path.relpath(os.path.join(d, f), rollup.root)
        for d, _, fs in os.walk(rollup.data_dir) for f in fs
        if f.endswith(".parquet")
    }
    assert on_disk == rollup._referenced(rollup._versions())
    assert _actual(spark, rollup) == _expected(spark, base)
