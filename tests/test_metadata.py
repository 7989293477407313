"""Metadata tables + manifest count stats: file inventory, commit
history, per-bucket rollups, SELECT count(*) answered without a data
scan, and the manifest's one-entry-per-file format."""

from __future__ import annotations

import json
import math
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from arango_etl_spark.operators.merge_into import apply_changes, compact
from arango_etl_spark.plans.lakehouse import SnapshotTable
from arango_etl_spark.plans.metadata import meta_df
from tests.test_merge import PAYLOAD_SCHEMA, ev, mk_events


def mk_table(tmp_path, name):
    return SnapshotTable.create(
        str(tmp_path / name), PAYLOAD_SCHEMA, key_col="doc_id", n_buckets=8
    )


def _ingest(spark, t, n=120, strategy="mor"):
    apply_changes(
        spark, t,
        mk_events(
            spark,
            [ev("insert", f"d{i:03d}", 1, [1, 2, 3]) for i in range(n)],
        ),
        batch_id=0, fence_stream_id="m", strategy=strategy, compact_every=0,
    )


def _entries_ok(m):
    """Every live file's entry carries its bucket and footer counts."""
    return all(
        isinstance(e["bucket"], int) and e["rows"] >= e["dels"] >= 0
        for e in m["files"].values()
    )


def test_analyze_retrofit_incremental_and_row_count(spark, tmp_path):
    """analyze adds zone-map bounds ONLY to files that lack them; every
    commit counts its own files, so a flat snapshot answers row_count
    with NO SparkSession at all — tombstones subtracted exactly."""
    t = mk_table(tmp_path, "cnt")
    _ingest(spark, t, n=120)
    assert _entries_ok(t.manifest())  # the commit read its files' footers
    m1 = t.analyze(spark, cols=["_seq_no"])
    n_files_1 = len(m1["files"])
    assert m1["analyzed_files"] == n_files_1
    # idempotent re-run: nothing missing, no commit
    v = t.current_version()
    assert t.analyze(spark, cols=["_seq_no"])["analyzed_files"] == 0
    assert t.current_version() == v

    # second batch: its commit counts exactly its own new files
    apply_changes(
        spark, t,
        mk_events(
            spark,
            [ev("update", f"d{i:03d}", 5, [9]) for i in range(40)]
            + [ev("delete", f"d{i:03d}", 6, None) for i in range(40, 60)],
        ),
        batch_id=1, fence_stream_id="m", strategy="mor", compact_every=0,
    )
    m2 = t.manifest()
    assert _entries_ok(m2)
    assert t.analyze(spark, cols=["_seq_no"])["analyzed_files"] == (
        len(m2["files"]) - n_files_1
    )
    # MoR snapshot: metadata count impossible → needs a session, and the
    # fallback still agrees with read()
    with pytest.raises(ValueError):
        t.row_count()
    assert t.row_count(spark) == 100  # 120 - 20 deleted

    # compaction makes it flat and counts its rewritten files, so
    # count(*) is pure manifest arithmetic — no session argument
    compact(spark, t)
    assert _entries_ok(t.manifest())
    assert t.row_count() == 100
    assert t.analyze(spark)["analyzed_files"] == 0


def test_files_and_partitions_tables(spark, tmp_path):
    """files/partitions metadata tables: totals agree with the manifest
    and with the counts every commit records."""
    t = mk_table(tmp_path, "meta")
    _ingest(spark, t, n=120)
    m = t.manifest()
    files = meta_df(spark, t, "files")
    got = files.collect()
    assert len(got) == len(m["files"])
    assert all(r["size_bytes"] > 0 for r in got)
    assert sum(r["rows"] for r in got) == 120  # counted at commit
    assert all(r["zone_stat_cols"] == [] for r in got)
    assert [r["bucket"] for r in got] == sorted(r["bucket"] for r in got)

    t.analyze(spark, cols=["_seq_no"], bloom_cols=["source"])
    files2 = meta_df(spark, t, "files").collect()
    assert sum(r["rows"] for r in files2) == 120
    assert all(r["zone_stat_cols"] == ["_seq_no"] for r in files2)
    assert all(r["bloom_cols"] == ["source"] for r in files2)
    parts2 = meta_df(spark, t, "partitions").collect()
    assert sum(p["rows"] for p in parts2) == 120
    assert sum(p["n_files"] for p in parts2) == len(files2)


def test_snapshots_table_history(spark, tmp_path):
    """snapshots metadata table: one row per retained version with mode
    and summary; expiry drops rows exactly like the on-disk manifests."""
    t = mk_table(tmp_path, "snap")
    _ingest(spark, t, n=50)
    compact(spark, t)
    t.analyze(spark, cols=["_seq_no"])
    snaps = meta_df(spark, t, "snapshots").collect()
    assert [r["version"] for r in snaps] == list(range(t.current_version() + 1))
    assert snaps[-2]["mode"] == "compact"
    assert snaps[-1]["mode"] == "analyze"
    assert snaps[-2]["one_row_per_key"] is True
    assert "analyzed_files" in snaps[-1]["summary"]

    t.expire_snapshots(keep_last=2)
    kept = meta_df(spark, t, "snapshots").collect()
    assert len(kept) == 2
    assert kept[-1]["version"] == t.current_version()


def test_write_time_counts(spark, tmp_path):
    """Every commit counts its staged files from their footers, so a CoW
    table answers row_count() metadata-only after EVERY commit (no
    retrofit), and an incremental compaction covers the rewritten bucket
    so the counts never go stale."""
    t = mk_table(tmp_path, "wtc")
    apply_changes(
        spark, t,
        mk_events(
            spark, [ev("insert", f"d{i:03d}", i, [1]) for i in range(60)]
        ),
        batch_id=0, fence_stream_id="m", strategy="cow", compact_every=0,
    )
    assert _entries_ok(t.manifest())
    assert t.row_count() == 60  # metadata-only, no session

    apply_changes(
        spark, t,
        mk_events(
            spark,
            [ev("update", f"d{i:03d}", 100 + i, [9]) for i in range(20)]
            + [ev("delete", f"d{i:03d}", 200 + i, None) for i in range(50, 60)],
        ),
        batch_id=1, fence_stream_id="m", strategy="cow", compact_every=0,
    )
    assert _entries_ok(t.manifest())
    assert t.row_count() == 50  # still zero retrofit scans

    # MoR deltas + incremental compaction keep the counts exact: the
    # compaction's commit counts its rewritten files
    apply_changes(
        spark, t,
        mk_events(spark, [ev("update", "d000", 999, [5])]),
        batch_id=2, fence_stream_id="m", strategy="mor", compact_every=0,
    )
    assert _entries_ok(t.manifest())
    from arango_etl_spark.operators.merge_into import compact_buckets

    m = compact_buckets(spark, t, min_delta_files=2)
    assert m["compacted_buckets"] and _entries_ok(m)
    # one stored row per key again: rows − tombstones is the live count
    assert sum(e["rows"] - e["dels"] for e in m["files"].values()) == 50


def test_col_bounds_metadata_only(spark, tmp_path):
    """Manifest min/max (Iceberg bounds aggregate-pushdown): flat +
    proven-tombstone-free + fully-stats'd snapshot answers (min, max)
    with NO SparkSession; any tombstone forces the honest scan fallback
    (zone maps include tombstoned rows, so manifest bounds would lie)."""
    from arango_etl_spark.operators.merge_into import compact

    t = mk_table(tmp_path, "bounds")
    apply_changes(  # inserts only, distinct seqs — no tombstones anywhere
        spark, t,
        mk_events(
            spark,
            [ev("insert", f"d{i:03d}", i, [1]) for i in range(80)],
        ),
        batch_id=0, fence_stream_id="m", strategy="mor", compact_every=0,
    )
    compact(spark, t)
    t.analyze(spark, ["_seq_no", "_event_ts"])
    # metadata-only: zero jobs, no session argument
    assert t.col_bounds("_seq_no") == (0, 79)
    assert t.col_bounds("_event_ts") == t.col_bounds("_event_ts", spark)

    # a delete introduces a tombstone owning the _seq_no max: after
    # recompaction the snapshot is flat again but counts prove
    # tombstones>0 → the metadata path refuses (manifest bounds would
    # report the tombstone's 99); the scan fallback answers the live max
    apply_changes(
        spark, t,
        mk_events(spark, [ev("delete", "d079", 99, None)]),
        batch_id=1, fence_stream_id="m", strategy="mor", compact_every=0,
    )
    compact(spark, t)
    t.analyze(spark, ["_seq_no"])
    with pytest.raises(ValueError):
        t.col_bounds("_seq_no")
    assert t.col_bounds("_seq_no", spark) == (0, 78)


def test_counts_survive_incremental_compaction(spark, tmp_path):
    """Manifest entries follow the file lifecycle: untouched buckets
    keep their entries across an incremental compaction; rewritten
    buckets drop theirs (metadata can never outlive or contradict the
    file list) and the compaction's commit counts the new files."""
    from arango_etl_spark.operators.merge_into import compact_buckets
    from pyspark.sql import functions as F

    t = mk_table(tmp_path, "lc")
    _ingest(spark, t, n=160)
    m0 = t.manifest()
    kdf = spark.createDataFrame(
        [(f"d{i:03d}",) for i in range(160)], "doc_id string"
    )
    by_b = {
        r["doc_id"]: r["b"]
        for r in kdf.select(
            "doc_id", t.bucket_expr(F.col("doc_id"), m0).alias("b")
        ).collect()
    }
    hot_b = sorted(set(by_b.values()))[0]
    hot_keys = [k for k, b in by_b.items() if b == hot_b]
    apply_changes(
        spark, t,
        mk_events(spark, [ev("update", k, 9, [7]) for k in hot_keys]),
        batch_id=1, fence_stream_id="m", strategy="mor", compact_every=0,
    )
    pre = t.manifest()
    m = compact_buckets(spark, t, min_delta_files=2)
    assert m["compacted_buckets"] == [hot_b]
    cold = {r: e for r, e in pre["files"].items() if e["bucket"] != hot_b}
    assert {r: m["files"][r] for r in cold} == cold
    hot_old = set(pre["files"]) - set(cold)
    hot_new = {r for r, e in m["files"].items() if e["bucket"] == hot_b}
    assert hot_new and not hot_old & set(m["files"])  # died with their files
    assert _entries_ok(m)                               # counted at commit
    assert t.analyze(spark)["analyzed_files"] == 0
    assert t.row_count(spark) == 160


# ---------------------------------------------------------------------------
# footer-read entries: fidelity against a Spark scan, zero jobs, lifecycle

_WIDE_SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType()),
    T.StructField("score", T.DoubleType()),
    T.StructField("empty", T.LongType()),
    T.StructField("source", T.StringType()),
])
_WIDE_EVENTS = (
    "op string, doc_id string, seq_no long, score double, empty long, "
    "source string, batch_id long, event_ts timestamp"
)
_WIDE_COLS = ["doc_id", "score", "empty", "source", "_seq_no", "_event_ts"]


def _wide_events(spark, lo, hi, batch, deletes=()):
    import datetime as dt

    rows = []
    for i in range(lo, hi):
        op = "delete" if i in deletes else "update"
        rows.append((
            op, f"d{i:04d}", batch * 10_000 + i,
            float("nan") if i % 7 == 0 else i * 0.5,
            None, f"ü_{i % 13}", batch,
            dt.datetime(2024, 1, 1) + dt.timedelta(minutes=i, seconds=batch),
        ))
    return spark.createDataFrame(rows, _WIDE_EVENTS)


def _scan_oracle(spark, t):
    """Per-file rows, tombstones and min/max from one Spark scan grouped by
    input_file_name() — the oracle for the footer-read values."""
    m = t.manifest()
    schema = t.stored_schema(m)
    exprs = [
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.col("_deleted").cast("int")).alias("dels"),
    ]
    for c in _WIDE_COLS:
        col = F.unix_micros(c) if c == "_event_ts" else F.col(c)
        exprs += [F.min(col).alias(f"lo_{c}"), F.max(col).alias(f"hi_{c}")]
    got = (
        spark.read.schema(schema).parquet(*t.data_files(m))
        .groupBy(F.input_file_name().alias("_f")).agg(*exprs).collect()
    )
    return {
        t._rel_from_uri(r["_f"]): {
            "rows": r["rows"], "dels": r["dels"],
            "bounds": {
                c: [r[f"lo_{c}"], r[f"hi_{c}"]] for c in _WIDE_COLS
            },
        }
        for r in got
    }


def _same(a, b):
    if isinstance(a, float) and isinstance(b, float):
        return a == b or (math.isnan(a) and math.isnan(b))
    return a == b


def _assert_meta_matches_scan(spark, t):
    m = t.analyze(spark, cols=_WIDE_COLS)
    oracle = _scan_oracle(spark, t)
    meta = m["files"]
    assert set(meta) == set(oracle) == {
        os.path.relpath(f, t.root) for f in t.data_files(m)
    }
    for rel, want in oracle.items():
        e = meta[rel]
        assert (e["rows"], e["dels"]) == (want["rows"], want["dels"]), rel
        for c in _WIDE_COLS:
            lo, hi = e["bounds"][c]
            wlo, whi = want["bounds"][c]
            assert _same(lo, wlo) and _same(hi, whi), (rel, c, lo, hi, wlo, whi)
    return meta


def test_footer_meta_matches_spark_scan(spark, tmp_path):
    """Footer-read rows/dels/bounds equal a Spark scan's count, tombstone
    sum and min/max per file — on a MoR delta stack with tombstones
    (mixed and delete-only files), then on the compacted flat table.
    Covers a double column with NaN, an all-null column, a timestamp and
    a non-ASCII string."""
    t = SnapshotTable.create(str(tmp_path / "wide"), _WIDE_SCHEMA, n_buckets=4)
    for batch, (lo, hi, dels) in enumerate([
        (0, 300, ()),
        (100, 400, range(150, 200)),
        (150, 200, range(150, 200)),  # delete-only files
    ]):
        apply_changes(
            spark, t, _wide_events(spark, lo, hi, batch, set(dels)),
            batch_id=batch, strategy="mor", compact_every=0,
        )
    meta = _assert_meta_matches_scan(spark, t)
    assert any(0 < e["dels"] < e["rows"] for e in meta.values())
    assert any(e["dels"] == e["rows"] for e in meta.values())
    assert any(math.isnan(e["bounds"]["score"][1]) for e in meta.values())
    assert all(e["bounds"]["empty"] == [None, None] for e in meta.values())

    compact(spark, t)
    meta = _assert_meta_matches_scan(spark, t)
    assert sum(e["rows"] - e["dels"] for e in meta.values()) == 350
    assert t.row_count() == t.read(spark).count() == 350


def test_analyze_runs_no_spark_job(spark, tmp_path):
    """Zone-map bounds come from parquet footers: ``analyze(spark,
    cols=[...])`` launches no Spark job."""
    t = mk_table(tmp_path, "nojob")
    _ingest(spark, t, n=120)
    compact(spark, t)
    st = spark.sparkContext.statusTracker()

    def last_job():
        return max(st.getJobIdsForGroup(None) or [-1])

    before = last_job()
    assert t.analyze(
        spark, cols=["_seq_no", "_event_ts", "source"]
    )["analyzed_files"] > 0
    assert last_job() == before
    assert t.row_count() == 120
    assert t.col_bounds("_seq_no") == (1, 1)


def test_rollback_keeps_file_meta(spark, tmp_path):
    """rollback restores the target version's per-file entries whole:
    Bloom pruning in read_eq and the metadata-only row_count survive."""
    t = mk_table(tmp_path, "rbmeta")
    apply_changes(
        spark, t,
        mk_events(spark, [ev("update", f"d{i:04d}", i, [1], src=f"user_{i}")
                          for i in range(2000)]),
        strategy="mor", compact_every=0,
    )
    compact(spark, t, max_records_per_file=100)
    v = t.analyze(spark, bloom_cols=["source"])["version"]
    n_files = len(t.data_files())
    apply_changes(
        spark, t,
        mk_events(spark, [ev("delete", f"d{i:04d}", 5000 + i, None)
                          for i in range(100)]),
        strategy="mor", compact_every=0,
    )
    compact(spark, t)
    t.rollback(v)
    assert t.row_count() == 2000  # metadata-only, no session
    got = t.read_eq(spark, "source", "user_150")
    assert {r["doc_id"] for r in got.collect()} == {"d0150"}
    assert len(got.inputFiles()) <= 3 < n_files


def test_analyze_adds_bounds_across_calls(spark, tmp_path):
    """A second analyze on other columns adds to the first call's bounds
    instead of replacing them: read_range still prunes on the first."""
    t = mk_table(tmp_path, "addb")
    apply_changes(
        spark, t,
        mk_events(spark, [ev("update", f"d{i:05d}", i, [1])
                          for i in range(4000)]),
        strategy="mor", compact_every=0,
    )
    compact(spark, t, cluster_by="_seq_no", max_records_per_file=100)
    t.analyze(spark, cols=["_seq_no"])
    t.analyze(spark, cols=["_event_ts"])
    got = t.read_range(spark, "_seq_no", lo=1000, hi=1399)
    assert got.count() == 400
    assert len(got.inputFiles()) <= len(t.data_files()) // 2


# ---------------------------------------------------------------------------
# manifest format: one entry per data file; the bucket-keyed format refused


def test_manifest_stores_each_live_path_once(spark, tmp_path):
    """The raw JSON of a MoR table with Bloom and zone-map fields names
    each live data file exactly once, as a ``files`` key whose entry has
    bucket, rows and dels; there is no second per-file map."""
    t = mk_table(tmp_path, "fmt")
    for b in range(3):
        apply_changes(
            spark, t,
            mk_events(spark, [ev("update", f"d{i:03d}", 10 * b + 1, [b])
                              for i in range(b * 20, b * 20 + 60)]),
            batch_id=b, strategy="mor", compact_every=0,
            bloom_cols=["source"],
        )
    t.analyze(spark, cols=["_seq_no"])
    path = os.path.join(t.meta_dir, f"v{t.current_version()}.json")
    with open(path) as f:
        raw = f.read()
    m = json.loads(raw)
    assert "file_meta" not in m
    live = [os.path.relpath(p, t.root) for p in t.data_files(m)]
    assert len(live) > 8 and set(live) == set(m["files"])
    assert all(raw.count(json.dumps(rel)) == 1 for rel in live)
    for e in m["files"].values():
        assert {"bucket", "rows", "dels"} <= set(e)
        assert 0 <= e["bucket"] < m["n_buckets"]
        assert set(e) <= {"bucket", "rows", "dels", "bounds", "bloom"}


def _to_bucket_keyed(path):
    """Re-write the manifest at ``path`` in the older format: ``files``
    maps buckets to path lists, ``file_meta`` holds the rest, and v0
    has no ``one_row_per_key``."""
    with open(path) as f:
        m = json.load(f)
    files, meta = {}, {}
    for rel, e in m["files"].items():
        files.setdefault(str(e.pop("bucket")), []).append(rel)
        meta[rel] = e
    m["files"] = files
    if meta:
        m["file_meta"] = meta
    if m["parent"] is None:
        m.pop("one_row_per_key", None)
    with open(path, "w") as f:
        json.dump(m, f)


def test_bucket_keyed_manifest_refused(spark, tmp_path):
    """Every loader refuses an older bucket-keyed manifest with an error
    that names the format, and neither GC deletes a file on such a table
    (read as per-file entries, its bucket ids would be the only
    'referenced paths' and every live file would look like garbage)."""
    t = mk_table(tmp_path, "old")
    _ingest(spark, t, n=60)
    apply_changes(
        spark, t, mk_events(spark, [ev("update", "d001", 7, [7])]),
        branch="audit",
    )
    data = sorted(
        os.path.join(d, f) for d, _, fs in os.walk(t.data_dir) for f in fs
    )
    for name in os.listdir(t.meta_dir):
        if name.endswith(".json"):
            _to_bucket_keyed(os.path.join(t.meta_dir, name))
    with pytest.raises(ValueError, match="bucket-keyed"):
        t.manifest()
    with pytest.raises(ValueError, match="bucket-keyed"):
        t.manifest(0)
    with pytest.raises(ValueError, match="bucket-keyed"):
        t.branch_manifest("audit")
    with pytest.raises(ValueError, match="bucket-keyed"):
        t.expire_snapshots(keep_last=1)
    with pytest.raises(ValueError, match="bucket-keyed"):
        t.remove_orphan_files(older_than_secs=0)
    assert sorted(
        os.path.join(d, f) for d, _, fs in os.walk(t.data_dir) for f in fs
    ) == data
    assert len(os.listdir(t.meta_dir)) == 4  # v0, v1, branch, _current
