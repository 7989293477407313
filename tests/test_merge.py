"""M1: batch MERGE end-to-end — micro-fixtures (FIXTURES.md §6) and
replay-equality vs the DuckDB oracle, for both CoW and MoR strategies."""

from __future__ import annotations

import datetime as dt
import json
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from arango_etl_spark.operators.merge_into import apply_changes, compact
from arango_etl_spark.oracle import (
    assert_states_equal,
    reduce_events_duckdb,
)
from arango_etl_spark.plans.lakehouse import SnapshotTable
from arango_etl_spark.sources.cdc_generator import (
    GeneratorConfig,
    generate_events,
)
from arango_etl_spark.streaming.runner import EVENT_SCHEMA

PAYLOAD_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("tokens", T.ArrayType(T.IntegerType())),
        T.StructField("n_tok", T.IntegerType()),
        T.StructField("source", T.StringType()),
    ]
)

TS0 = dt.datetime(2024, 1, 1)


def ev(op, doc, seq, toks, batch=0, ts=None, src="src_0"):
    return (
        op,
        doc,
        seq,
        toks,
        None if toks is None else len(toks),
        src,
        batch,
        ts or (TS0 + dt.timedelta(seconds=seq)),
    )


def mk_events(spark, rows):
    return spark.createDataFrame(rows, EVENT_SCHEMA)


def mk_table(tmp_path, name="t", n_buckets=8):
    return SnapshotTable.create(
        str(tmp_path / name), PAYLOAD_SCHEMA, key_col="doc_id", n_buckets=n_buckets
    )


def files_by_bucket(manifest):
    """bucket -> the manifest's files in that bucket, in manifest order."""
    out = {}
    for rel, e in manifest["files"].items():
        out.setdefault(e["bucket"], []).append(rel)
    return out


def state(spark, table):
    rows = table.read(spark).collect()
    return {
        r["doc_id"]: (list(r["tokens"]) if r["tokens"] is not None else None, r["n_tok"])
        for r in rows
    }


@pytest.mark.parametrize("strategy", ["cow", "mor"])
def test_lww_out_of_order(spark, tmp_path, strategy):
    """FIXTURES §6.1: insert(1) → update(3) → update(2) arriving out of
    order → final = seq-3 payload."""
    t = mk_table(tmp_path, f"lww_{strategy}")
    batch = mk_events(
        spark,
        [
            ev("insert", "a", 1, [1, 1]),
            ev("update", "a", 3, [3, 3, 3]),
            ev("update", "a", 2, [2, 2]),
        ],
    )
    apply_changes(spark, t, batch, strategy=strategy)
    assert state(spark, t) == {"a": ([3, 3, 3], 3)}


@pytest.mark.parametrize("strategy", ["cow", "mor"])
def test_cross_batch_late_event_loses(spark, tmp_path, strategy):
    """A later-arriving batch with a LOWER seq_no must lose (north rule:
    late events lose by rule, not arrival time — reference hazard §4.3.3)."""
    t = mk_table(tmp_path, f"late_{strategy}")
    apply_changes(
        spark, t, mk_events(spark, [ev("update", "a", 10, [10])]), strategy=strategy
    )
    apply_changes(
        spark, t, mk_events(spark, [ev("update", "a", 5, [5])]), strategy=strategy
    )
    assert state(spark, t) == {"a": ([10], 1)}


@pytest.mark.parametrize("strategy", ["cow", "mor"])
def test_delete_then_insert_across_batches(spark, tmp_path, strategy):
    """FIXTURES §6.2: insert(1), delete(2) | insert(3) → row with seq-3."""
    t = mk_table(tmp_path, f"delins_{strategy}")
    apply_changes(
        spark,
        t,
        mk_events(spark, [ev("insert", "a", 1, [1]), ev("delete", "a", 2, None)]),
        strategy=strategy,
    )
    assert state(spark, t) == {}
    apply_changes(
        spark, t, mk_events(spark, [ev("insert", "a", 3, [3, 3])]), strategy=strategy
    )
    assert state(spark, t) == {"a": ([3, 3], 2)}


@pytest.mark.parametrize("strategy", ["cow", "mor"])
def test_late_insert_does_not_resurrect_delete(spark, tmp_path, strategy):
    """Tombstone semantics: delete(seq 5) applied; late insert(seq 3) in a
    later batch must NOT bring the doc back."""
    t = mk_table(tmp_path, f"tomb_{strategy}")
    apply_changes(
        spark, t, mk_events(spark, [ev("delete", "a", 5, None)]), strategy=strategy
    )
    apply_changes(
        spark, t, mk_events(spark, [ev("insert", "a", 3, [3])]), strategy=strategy
    )
    assert state(spark, t) == {}


@pytest.mark.parametrize("strategy", ["cow", "mor"])
def test_duplicate_batch_replay_is_noop(spark, tmp_path, strategy):
    """FIXTURES §6.3: re-applying a committed batch_id is fenced to a no-op
    (the reference's done-file skip, arangodb_handler.rs:159-176)."""
    t = mk_table(tmp_path, f"fence_{strategy}")
    batch = mk_events(spark, [ev("insert", "a", 1, [1]), ev("insert", "b", 2, [2])])
    r1 = apply_changes(
        spark, t, batch, batch_id=0, fence_stream_id="s", strategy=strategy
    )
    v1 = t.current_version()
    s1 = state(spark, t)
    r2 = apply_changes(
        spark, t, batch, batch_id=0, fence_stream_id="s", strategy=strategy
    )
    assert not r1.skipped and r2.skipped
    assert t.current_version() == v1
    assert state(spark, t) == s1


def test_tie_break_deterministic(spark, tmp_path):
    """FIXTURES §6.4: same (doc_id, seq_no) → winner by documented rule
    (event_ts, then batch_id, then op, descending)."""
    t = mk_table(tmp_path, "tie")
    same_ts = TS0
    batch = mk_events(
        spark,
        [
            ev("update", "a", 7, [1], batch=0, ts=same_ts),
            ev("update", "a", 7, [2], batch=3, ts=same_ts),  # higher batch wins
        ],
    )
    apply_changes(spark, t, batch, strategy="mor")
    assert state(spark, t) == {"a": ([2], 1)}


@pytest.mark.parametrize("strategy", ["cow", "mor", "mor_then_cow"])
def test_replay_matches_oracle(spark, tmp_path, strategy):
    """The M1 oracle test: multi-batch replay == single-threaded DuckDB
    reduction, token-array equality per doc_id. ``mor_then_cow`` applies
    the last batch CoW onto a table whose MoR delta files still hold
    several rows per key; the CoW reduce must fold those stacks, not
    carry them (the batch touches every bucket, so one row per key)."""
    cfg = GeneratorConfig(
        n_events=4_000, n_docs=300, n_batches=3, seed=11, hot_doc_permille=200
    )
    events = generate_events(spark, cfg)
    ev_dir = str(tmp_path / f"events_{strategy}")
    events.write.parquet(ev_dir)
    events = spark.read.parquet(ev_dir)

    t = mk_table(tmp_path, f"replay_{strategy}", n_buckets=16)

    def rows_and_keys():
        stored = t.read_stored(spark)
        return stored.count(), stored.select("doc_id").distinct().count()

    for b in range(cfg.n_batches):
        batch_strategy = strategy
        if strategy == "mor_then_cow":
            batch_strategy = "cow" if b == cfg.n_batches - 1 else "mor"
            if batch_strategy == "cow":
                rows, keys = rows_and_keys()
                assert rows > keys
        apply_changes(
            spark,
            t,
            events.where(F.col("batch_id") == b),
            batch_id=b,
            fence_stream_id="replay",
            strategy=batch_strategy,
            compact_every=2,
        )
    if strategy == "mor_then_cow":
        rows, keys = rows_and_keys()
        assert rows == keys
    actual = t.read(spark).toPandas()
    expected = reduce_events_duckdb(f"{ev_dir}/*.parquet")
    assert_states_equal(actual, expected)


def test_compaction_preserves_state_and_flattens(spark, tmp_path):
    cfg = GeneratorConfig(n_events=2_000, n_docs=150, n_batches=2, seed=3)
    events = generate_events(spark, cfg)
    ev_dir = str(tmp_path / "events_compact")
    events.write.parquet(ev_dir)
    events = spark.read.parquet(ev_dir)
    t = mk_table(tmp_path, "compact", n_buckets=8)
    for b in range(2):
        apply_changes(
            spark, t, events.where(F.col("batch_id") == b),
            strategy="mor", compact_every=0,
        )
    before = state(spark, t)
    assert not t.manifest()["one_row_per_key"]
    compact(spark, t)
    assert t.manifest()["one_row_per_key"]
    assert state(spark, t) == before
    # flat: stored rows == distinct keys (incl. tombstones)
    stored = t.read_stored(spark)
    assert stored.count() == stored.select("doc_id").distinct().count()


def test_cow_only_rewrites_touched_buckets(spark, tmp_path):
    t = mk_table(tmp_path, "prune", n_buckets=32)
    cfg = GeneratorConfig(n_events=1_000, n_docs=500, n_batches=1, seed=5)
    apply_changes(spark, t, generate_events(spark, cfg), strategy="cow")
    m1 = t.manifest()
    # single-doc batch → exactly one bucket's file list changes
    one = mk_events(spark, [ev("update", "doc_1", 10_000, [9])])
    apply_changes(spark, t, one, strategy="cow")
    b1, b2 = files_by_bucket(m1), files_by_bucket(t.manifest())
    changed = [b for b in b2 if b2[b] != b1.get(b)]
    assert len(changed) == 1


@pytest.mark.parametrize("strategy", ["cow", "mor"])
def test_all_delete_log_yields_empty_table(spark, tmp_path, strategy):
    """A log of only deletes (keys never inserted): tombstones stored,
    public read is empty, and a later lower-seq insert still loses."""
    t = mk_table(tmp_path, f"alldel_{strategy}")
    apply_changes(
        spark, t,
        mk_events(spark, [ev("delete", f"d{i}", 10 + i, None) for i in range(5)]),
        strategy=strategy,
    )
    assert t.read(spark).count() == 0
    apply_changes(
        spark, t, mk_events(spark, [ev("insert", "d0", 3, [1])]),
        strategy=strategy,
    )
    assert t.read(spark).count() == 0  # tombstone seq 10 beats insert seq 3


@pytest.mark.parametrize("strategy", ["cow", "mor"])
def test_empty_batch_is_noop_commitless(spark, tmp_path, strategy):
    """apply_changes on an empty frame must not corrupt the table (commits
    an empty version or skips — read state unchanged either way)."""
    t = mk_table(tmp_path, f"empty_{strategy}")
    apply_changes(
        spark, t, mk_events(spark, [ev("insert", "a", 1, [1])]),
        strategy=strategy,
    )
    before = t.read(spark).toPandas()
    empty = mk_events(spark, [ev("insert", "x", 1, [1])]).limit(0)
    apply_changes(spark, t, empty, strategy=strategy)
    assert_states_equal(t.read(spark).toPandas(), before)


def test_unicode_text_dedup_roundtrip(spark):
    """Near-dup + fingerprint ops handle non-ASCII text (md5 over UTF-8)."""
    from arango_etl_spark.operators import dedup, text

    rows = [
        (1, "héllo wörld füll of ünïcode tokens and more words here ok"),
        (2, "héllo wörld füll of ünïcode tokens and more words here ok!"),
        (3, "日本語 の テキスト データ パイプライン 処理 テスト 完全 に 異なる"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {(r["doc_a"], r["doc_b"])
             for r in dedup.minhash_lsh_pairs(df, n_hashes=32, n_bands=16).collect()}
    assert (1, 2) in pairs and (1, 3) not in pairs
    fp = text.fingerprint(df).collect()
    assert len({r["content_md5"] for r in fp}) == 3


# ----------------------------------------------------------- bootstrap
# a log with a snapshot taken at binlog position WATERMARK after its
# first four events: doc 'x' is inserted and deleted before the snapshot,
# and its insert is redelivered after it
WATERMARK = 5
WATERMARK_LOG = [
    ev("insert", "a", 1, [1]),
    ev("insert", "x", 2, [9]),
    ev("update", "a", 3, [3, 3]),
    ev("delete", "x", 4, None),
    # --- snapshot taken here (watermark W=5) ---
    ev("update", "a", 7, [7]),
    ev("insert", "b", 8, [8, 8]),
    ev("insert", "x", 2, [9]),   # duplicate pre-watermark delivery
]


def test_bootstrap_from_snapshot_with_watermark(spark, tmp_path):
    """Classic CDC bootstrap: bulk-load a snapshot taken at binlog
    position W, then replay ONLY events with seq_no > W. The end state
    must equal a from-scratch replay of the full log — including the
    resurrection hazard: doc 'x' was inserted (seq 2) and deleted
    (seq 4) BEFORE the snapshot; its insert event is in the replayed log
    and only the watermark filter keeps it dead."""
    from arango_etl_spark.operators.merge_into import (
        bootstrap_from_snapshot,
    )

    W, log = WATERMARK, WATERMARK_LOG
    full = mk_events(spark, log)

    # from-scratch reference replay
    ref = mk_table(tmp_path, "ref")
    apply_changes(spark, ref, full)
    expected = ref.read(spark).toPandas()

    # snapshot = final state of the pre-watermark prefix (public view:
    # deleted docs simply absent)
    pre = mk_table(tmp_path, "pre")
    apply_changes(spark, pre, mk_events(spark, log[:4]))
    snapshot = pre.read(spark)
    assert {r["doc_id"] for r in snapshot.collect()} == {"a"}

    boot = mk_table(tmp_path, "boot")
    bootstrap_from_snapshot(spark, boot, snapshot, watermark_seq=W)
    # incremental catch-up: the full log arrives, watermark filters it
    apply_changes(spark, boot, full, min_seq_exclusive=W)

    got = boot.read(spark).toPandas()
    assert_states_equal(got, expected)
    assert "x" not in set(got["doc_id"])          # stayed dead
    a_row = got[got["doc_id"] == "a"].iloc[0]
    assert list(a_row["tokens"]) == [7]           # post-watermark won


def test_bootstrap_rejects_missing_key(spark, tmp_path):
    import pytest as _pytest

    from arango_etl_spark.operators.merge_into import (
        bootstrap_from_snapshot,
    )

    t = mk_table(tmp_path, "k")
    bad = spark.createDataFrame([(1,)], "not_key int")
    with _pytest.raises(ValueError, match="key column"):
        bootstrap_from_snapshot(spark, t, bad, watermark_seq=1)


def test_read_keys_point_lookup_prunes_buckets(spark, tmp_path):
    """read_keys must return exactly the requested live keys AND open
    only the files of those keys' buckets — never the whole table."""
    t = mk_table(tmp_path, "pt", n_buckets=16)
    events = mk_events(spark, [
        ev("insert", f"d{i}", 1, [i]) for i in range(40)
    ] + [ev("delete", "d7", 2, None)])
    apply_changes(spark, t, events)

    out = t.read_keys(spark, ["d3", "d7", "d11"])
    got = {r["doc_id"]: list(r["tokens"]) for r in out.collect()}
    assert got == {"d3": [3], "d11": [11]}         # d7 tombstoned

    total_files = len(t.data_files())
    touched = set(out.inputFiles())
    assert 0 < len(touched) < total_files, (len(touched), total_files)
    # every opened file belongs to one of the requested keys' buckets
    from pyspark.sql import functions as F2

    want = {
        r["b"]
        for r in spark.createDataFrame(
            [("d3",), ("d7",), ("d11",)], "doc_id string"
        ).select(t.bucket_expr(F2.col("doc_id")).alias("b")).collect()
    }
    # structural check: the pruned file list equals data_files(buckets=want)
    import os as _os

    expect_files = {
        _os.path.realpath(p) for p in t.data_files(buckets=sorted(want))
    }
    assert {_os.path.realpath(p.replace("file:", "")) for p in touched} <= expect_files

    # an int-keyed table (negative keys too) routes on the driver alike
    ti = mk_keyed_table(spark, tmp_path, "pt_int", T.IntegerType(),
                        [i * 7919 - 150_000 for i in range(40)])
    want_keys = [3 * 7919 - 150_000, 7 * 7919 - 150_000, 11 * 7919 - 150_000]
    out = ti.read_keys(spark, want_keys + [None])
    assert {r["doc_id"]: list(r["tokens"]) for r in out.collect()} == {
        want_keys[0]: [3], want_keys[2]: [11],
    }
    want = {
        r["b"]
        for r in spark.createDataFrame(
            [(k,) for k in want_keys], "doc_id int"
        ).select(ti.bucket_expr(F.col("doc_id")).alias("b")).collect()
    }
    touched = {
        _os.path.realpath(p.replace("file:", "")) for p in out.inputFiles()
    }
    assert 0 < len(touched) < len(ti.data_files())
    assert touched <= {
        _os.path.realpath(p) for p in ti.data_files(buckets=sorted(want))
    }


def mk_keyed_table(spark, tmp_path, name, key_type, keys, n_buckets=16):
    """A table keyed by ``doc_id`` of ``key_type``: one insert per key
    (tokens ``[i]``), then the 8th key deleted."""
    payload = T.StructType(
        [T.StructField("doc_id", key_type)] + PAYLOAD_SCHEMA.fields[1:]
    )
    t = SnapshotTable.create(
        str(tmp_path / name), payload, key_col="doc_id", n_buckets=n_buckets
    )
    events = T.StructType([
        T.StructField("doc_id", key_type) if f.name == "doc_id" else f
        for f in EVENT_SCHEMA.fields
    ])
    rows = [ev("insert", k, 1, [i]) for i, k in enumerate(keys)]
    apply_changes(spark, t, spark.createDataFrame(
        rows + [ev("delete", keys[7], 2, None)], events
    ))
    return t


def test_read_keys_uncovered_key_type_reads_every_bucket(spark, tmp_path):
    """A key type the driver-side hash does not cover (here: date) is not
    pruned but still returns exactly the live requested rows."""
    days = [dt.date(2024, 1, 1) + dt.timedelta(days=i) for i in range(40)]
    t = mk_keyed_table(spark, tmp_path, "pt_date", T.DateType(), days)
    out = t.read_keys(spark, [days[3], days[7], days[11]])
    assert {r["doc_id"]: list(r["tokens"]) for r in out.collect()} == {
        days[3]: [3], days[11]: [11],
    }
    assert len(out.inputFiles()) == len(t.data_files())


def test_first_cow_merge_metrics_without_touched_probe(spark, tmp_path):
    """First CoW merge into a FRESH table commits the staged winners as
    they are (nothing to rewrite); the second rewrites the touched
    bucket. Both read ``keys_applied``/``max_seq_no`` from the staged
    files' parquet footers."""
    t = mk_table(tmp_path, "fastpath")
    res = apply_changes(
        spark, t,
        mk_events(spark, [ev("update", f"d{i}", i, [1]) for i in range(20)]),
        batch_id=0, fence_stream_id="fp", strategy="cow", compact_every=0,
    )
    assert res.keys_applied == 20
    assert res.max_seq_no == 19
    assert state(spark, t)["d5"] == ([1], 1)
    # second merge: live files exist -> bucket rewrite, still correct
    res2 = apply_changes(
        spark, t,
        mk_events(spark, [ev("update", "d5", 100, [1, 2])]),
        batch_id=1, fence_stream_id="fp", strategy="cow", compact_every=0,
    )
    assert res2.keys_applied == 1
    assert state(spark, t)["d5"] == ([1, 2], 2)


def _jobs_of(spark, fn):
    st = spark.sparkContext.statusTracker()
    before = len(st.getJobIdsForGroup(None) or [])
    fn()
    return len(st.getJobIdsForGroup(None) or []) - before


def test_cow_merge_job_counts(spark, tmp_path):
    """A CoW merge stages the batch winners once and takes its counts
    from their footers: at most 3 Spark jobs into a fresh table (dedup
    exchange, bucket exchange, write) and 6 into a non-empty one (the
    same three, then the rewrite of the touched buckets)."""
    t = mk_table(tmp_path, "cow_jobs")
    rows = [ev("update", f"d{i}", i, [i]) for i in range(40)]
    assert _jobs_of(spark, lambda: apply_changes(
        spark, t, mk_events(spark, rows), strategy="cow",
    )) <= 3
    more = [ev("update", f"d{i}", 100 + i, [i, i]) for i in range(0, 60, 3)]
    assert _jobs_of(spark, lambda: apply_changes(
        spark, t, mk_events(spark, more), strategy="cow",
    )) <= 6
    assert state(spark, t)["d3"] == ([3, 3], 2)


def test_cow_merge_leaves_no_unreferenced_commit_dir(spark, tmp_path):
    """CoW into a non-empty table drops its staged dir after the
    rewrite: every ``data/commit-*`` dir holds a file that a retained
    manifest names."""
    t = mk_table(tmp_path, "cow_leak")
    for b in range(3):
        apply_changes(spark, t, mk_events(spark, [
            ev("update", f"d{i}", 10 * b + i, [b]) for i in range(10)
        ]), batch_id=b, fence_stream_id="s", strategy="cow")
    dirs, referenced = commit_dirs(t)
    assert len(dirs) == 3 and dirs == referenced


@pytest.mark.parametrize("strategy", ["mor", "cow"])
def test_all_filtered_batch_leaves_no_commit_dir(spark, tmp_path, strategy):
    """A batch with no rows left after ``min_seq_exclusive`` stages no
    file: it commits a version and leaves no ``data/commit-*`` dir that
    no manifest names."""
    t = mk_table(tmp_path, f"empty_{strategy}")
    apply_changes(spark, t, mk_events(spark, [ev("insert", "a", 5, [1])]),
                  strategy=strategy)
    res = apply_changes(spark, t, mk_events(spark, [ev("update", "a", 2, [9])]),
                        strategy=strategy, min_seq_exclusive=4)
    assert res.keys_applied == 0 and res.version == 2
    dirs, referenced = commit_dirs(t)
    assert len(dirs) == 1 and dirs == referenced
    assert state(spark, t) == {"a": ([1], 1)}


def commit_dirs(table):
    """(every ``data/commit-*`` dir, the dirs a retained manifest names)."""
    referenced = set()
    for f in os.listdir(table.meta_dir):
        if f.startswith("v") and f.endswith(".json"):
            with open(os.path.join(table.meta_dir, f)) as fh:
                referenced.update(os.path.dirname(os.path.dirname(r))
                                  for r in json.load(fh)["files"])
    dirs = {os.path.join("data", d)
            for d in os.listdir(os.path.join(table.root, "data"))}
    return dirs, referenced
