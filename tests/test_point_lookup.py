"""Point lookups with no side jobs: the driver-side XXH64 twin must equal
Spark's ``xxhash64`` (bucket routing and Bloom positions), a lookup starts
no Spark job, and its driver-side resolve returns what ``read`` returns
for the same keys."""

from __future__ import annotations

import datetime as dt
import random

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from arango_etl_spark.operators.merge_into import apply_changes
from arango_etl_spark.plans.lakehouse import (
    BLOOM_K,
    SnapshotTable,
    _key_hash,
    _xxh64,
)
from arango_etl_spark.streaming.runner import EVENT_SCHEMA
from tests.test_merge import PAYLOAD_SCHEMA, ev, mk_events, mk_table

N_BUCKETS = (1, 7, 8, 16, 64)
M64 = (1 << 64) - 1


def test_xxh64_published_vectors():
    """Spark-free: the reference XXH64 test vectors (seed 0)."""
    assert _xxh64(b"", 0) & M64 == 0xEF46DB3751D8E999
    assert _xxh64(b"abc", 0) & M64 == 0x44BC2CF5AD770999


def _strings() -> list[str]:
    rng = random.Random(8)
    ascii_ = [
        "".join(rng.choice("abcdefghijklmnopqrstuvwxyz0123456789_")
                for _ in range(n))
        for n in range(101) for _ in range(10)
    ]
    alphabet = "aé日本語ß€😀́Ω"
    other = [
        "".join(rng.choice(alphabet) for _ in range(rng.randrange(1, 60)))
        for _ in range(990)
    ]
    return ascii_ + other + ["", "doc_0", "é", "😀" * 33]


def test_twin_matches_spark_on_strings(spark):
    """Every string length 0-100 (each 32/8/4/1-byte tail) plus non-ASCII
    strings: hash, bucket for every tested ``n_buckets`` and the chained
    Bloom hash ``xxhash64(lit(i), s)`` all equal Spark's."""
    strings = _strings()
    assert len(strings) >= 2000
    t = SnapshotTable("unused")
    df = spark.createDataFrame([(s,) for s in strings], "s string")
    rows = df.select(
        "s",
        F.xxhash64("s").alias("h"),
        *[t.bucket_expr(F.col("s"), {"n_buckets": n}).alias(f"b{n}")
          for n in N_BUCKETS],
        *[F.xxhash64(F.lit(i), "s").alias(f"c{i}") for i in range(BLOOM_K)],
    ).collect()
    assert len(rows) == len(strings)
    for r in rows:
        h = _key_hash(r["s"], T.StringType())
        assert h == r["h"], r["s"]
        assert all(h % n == r[f"b{n}"] for n in N_BUCKETS), r["s"]
        data = r["s"].encode()
        for i in range(BLOOM_K):
            assert _xxh64(data, _xxh64(i.to_bytes(4, "little"))) == r[f"c{i}"]


def test_twin_matches_spark_on_int_and_long_keys(spark):
    rng = random.Random(4)
    ints = [0, 1, -1, 42, (1 << 31) - 1, -(1 << 31)] + [
        rng.randrange(-(1 << 31), 1 << 31) for _ in range(300)
    ]
    longs = [0, 1, -1, (1 << 63) - 1, -(1 << 63), 1 << 31, -(1 << 31) - 1] + [
        rng.randrange(-(1 << 63), 1 << 63) for _ in range(300)
    ]
    t = SnapshotTable("unused")
    for dtype, ddl, keys in (
        (T.IntegerType(), "k int", ints),
        (T.LongType(), "k long", longs),
    ):
        rows = spark.createDataFrame([(k,) for k in keys], ddl).select(
            "k",
            F.xxhash64("k").alias("h"),
            *[t.bucket_expr(F.col("k"), {"n_buckets": n}).alias(f"b{n}")
              for n in N_BUCKETS],
        ).collect()
        for r in rows:
            h = _key_hash(r["k"], dtype)
            assert h == r["h"], (ddl, r["k"])
            assert all(h % n == r[f"b{n}"] for n in N_BUCKETS), (ddl, r["k"])
    # values the twin cannot hash as the column type: not covered
    assert _key_hash(1 << 31, T.IntegerType()) is None
    assert _key_hash(True, T.IntegerType()) is None
    assert _key_hash("1", T.LongType()) is None
    assert _key_hash(1.5, T.DoubleType()) is None


def _last_job(spark) -> int:
    return max(spark.sparkContext.statusTracker().getJobIdsForGroup(None)
               or [-1])


def _mor_table(spark, tmp_path):
    """A 16-bucket MoR table of three delta batches (≥ 40 files)."""
    t = mk_table(tmp_path, "mor", n_buckets=16)
    for b in range(3):
        apply_changes(spark, t, mk_events(spark, [
            ev("update", f"d{i}", 100 * b + i, [b, i], batch=b)
            for i in range(120)
        ]), batch_id=b, fence_stream_id="s", compact_every=0)
    return t


def test_lookup_and_manifest_reads_start_no_side_jobs(spark, tmp_path):
    """Building a read over ≥ 40 manifest files starts no job (no
    parallel file listing), and an 8-key lookup with its collect starts
    none either: the driver resolves it and Spark serves the rows from a
    ``LocalRelation``."""
    t = _mor_table(spark, tmp_path)
    assert len(t.data_files()) >= 40
    before = _last_job(spark)
    stored = t.read_stored(spark)
    full = t.read(spark)
    assert _last_job(spark) == before

    keys = [f"d{i}" for i in range(0, 120, 15)]
    before = _last_job(spark)
    got = t.read_keys(spark, keys).collect()
    assert _last_job(spark) == before
    assert {r["doc_id"]: list(r["tokens"]) for r in got} == {
        k: [2, int(k[1:])] for k in keys
    }
    assert stored.count() == 360 and full.count() == 120


def test_read_eq_str_starts_no_job_before_its_scan(spark, tmp_path):
    """A ``str`` probe computes its Bloom positions on the driver and
    still prunes to the file that holds the value."""
    t = mk_table(tmp_path, "eq")
    apply_changes(spark, t, mk_events(spark, [
        ev("update", f"d{i}", i, [i], src=f"user_{i}") for i in range(400)
    ]), strategy="cow", bloom_cols=["source"])
    before = _last_job(spark)
    hit = t.read_eq(spark, "source", "user_123")
    miss = t.read_eq(spark, "source", "nobody_home")
    assert _last_job(spark) == before
    assert [r["doc_id"] for r in hit.collect()] == ["d123"]
    assert len(hit.inputFiles()) < len(t.data_files())
    assert miss.count() == 0


KEY_TYPES = {
    "string": (T.StringType(), lambda i: f"d{i}"),
    "int": (T.IntegerType(), lambda i: i * 7919 - 150_000),
    "long": (T.LongType(), lambda i: i * (1 << 35) - (1 << 45)),
    "date": (T.DateType(), lambda i: dt.date(2024, 1, 1) + dt.timedelta(i)),
    "timestamp": (T.TimestampType(),
                  lambda i: dt.datetime(2024, 1, 1) + dt.timedelta(hours=i)),
}


def _history_table(spark, tmp_path, key_type, key):
    """An 8-bucket MoR table keyed by ``doc_id`` of ``key_type`` over
    four batches of keys ``key(0..39)``:

    0. inserts;
    1. deletes of 0-9, updates of 10-19, duplicate deliveries of 20-24,
       updates of 25-29;
    2. with a ``lang`` column added by schema evolution: re-inserts of
       0-4, updates of 10-14, and a seq_no tie on 25-29 with a null
       event_ts, which loses;
    3. late inserts of 5-9 below their tombstones' seq_no, which lose.
    """
    payload = T.StructType(
        [T.StructField("doc_id", key_type)] + PAYLOAD_SCHEMA.fields[1:]
    )
    t = SnapshotTable.create(
        str(tmp_path / "hist"), payload, key_col="doc_id", n_buckets=8
    )
    events = T.StructType([
        T.StructField("doc_id", key_type) if f.name == "doc_id" else f
        for f in EVENT_SCHEMA.fields
    ])

    def merge(batch, rows, lang=None):
        df = spark.createDataFrame(rows, events)
        if lang is not None:
            df = df.withColumn("lang", F.lit(lang))
        apply_changes(spark, t, df, batch_id=batch, fence_stream_id="h",
                      compact_every=0)

    merge(0, [ev("insert", key(i), 1, [i], batch=0) for i in range(40)])
    merge(1, [ev("delete", key(i), 2, None, batch=1) for i in range(10)]
          + [ev("update", key(i), 3, [i, 1], batch=1) for i in range(10, 20)]
          + 2 * [ev("update", key(i), 3, [i, 2], batch=1)
                 for i in range(20, 25)]
          + [ev("update", key(i), 4, [i, 3], batch=1) for i in range(25, 30)])
    merge(2, [ev("insert", key(i), 5, [i, 5], batch=2) for i in range(5)]
          + [ev("update", key(i), 6, [i, 6], batch=2) for i in range(10, 15)]
          + [ev("update", key(i), 4, [i, 7], batch=2)[:-1] + (None,)
             for i in range(25, 30)], lang="en")
    merge(3, [ev("insert", key(i), 1, [i, 8], batch=3) for i in range(5, 10)])
    return t


def _by_key(rows) -> dict:
    out = {r["doc_id"]: r.asDict() for r in rows}
    assert len(out) == len(rows), "one row per key"
    return out


@pytest.mark.parametrize("kind", sorted(KEY_TYPES))
def test_read_keys_equals_read_filtered_to_the_keys(spark, tmp_path, kind):
    """Differential: the driver-side lookup returns exactly ``read()``
    filtered to the keys, schema included, over a MoR history of deletes,
    re-inserts, duplicate deliveries, a null event_ts and an additive
    schema evolution. Empty and all-missing key lists (and, for an int
    key, a key no int holds) return an empty frame of the payload
    schema."""
    key_type, key = KEY_TYPES[kind]
    t = _history_table(spark, tmp_path, key_type, key)
    full = t.read(spark)
    keys = [key(i) for i in range(40)] + [key(i) for i in (90, 91)] + [None]
    want = _by_key(full.where(F.col("doc_id").isin(keys[:-1])).collect())
    out = t.read_keys(spark, keys)
    assert out.schema == full.schema
    got = _by_key(out.collect())
    assert got == want
    # the history did what the docstring says
    assert sorted(got) == sorted(key(i) for i in [*range(5), *range(10, 40)])
    assert got[key(0)]["tokens"] == [0, 5] and got[key(0)]["lang"] == "en"
    assert got[key(20)]["tokens"] == [20, 2] and got[key(20)]["lang"] is None
    assert got[key(25)]["tokens"] == [25, 3] and got[key(25)]["lang"] is None
    assert got[key(35)]["tokens"] == [35] and got[key(35)]["lang"] is None
    # a subset, in another order, with a duplicate
    some = [key(12), key(3), key(27), key(12), key(7)]
    assert _by_key(t.read_keys(spark, some).collect()) == {
        k: want[k] for k in some if k in want
    }

    edge = [[], [key(90), key(91)], [None]]
    if kind == "int":
        edge += [[1 << 40], [1 << 40, None]]
    for ks in edge:
        empty = t.read_keys(spark, ks)
        assert empty.schema == t.payload_schema() and empty.collect() == [], ks


def test_read_keys_keeps_rows_after_empty_arrow_batches(
    spark, tmp_path, arrow_reads
):
    """A key's versions spread over files with files of no candidate row
    between them: the raw multi-file scan holds empty Arrow batches
    between non-empty ones (PySpark 4.1 drops every batch after an empty
    one it is handed), and the lookup still returns every winner."""
    t = mk_table(tmp_path, "spread", n_buckets=2)
    for b in range(6):
        # batches 1-4 hold no candidate, but their key range admits all
        docs = ([f"d{i}" for i in (0, 1, 55)] if b in (0, 5) else
                [f"{p}{b}_{i}" for p in "ce" for i in range(5)])
        apply_changes(spark, t, mk_events(spark, [
            ev("update", d, 100 * b + i, [b, i], batch=b)
            for i, d in enumerate(docs)
        ]), batch_id=b, fence_stream_id="s", compact_every=0)
    keys = ["d0", "d1", "d55"]
    got = {r["doc_id"]: list(r["tokens"])
           for r in t.read_keys(spark, keys).collect()}
    assert got == {"d0": [5, 0], "d1": [5, 1], "d55": [5, 2]}

    [read] = arrow_reads
    sizes = [b.num_rows for b in read["dataset"].to_table(
        filter=read["filter"]).to_batches()]
    assert sum(sizes) == 6, sizes
    assert any(
        n == 0 and any(sizes[:i]) and any(sizes[i + 1:])
        for i, n in enumerate(sizes)
    ), sizes


def test_read_keys_filter_prunes_row_groups_by_key_stats(
    spark, tmp_path, arrow_reads
):
    """The lookup's filter lets the footers' key statistics skip row
    groups: a key above every file's key range admits none of them."""
    t = _mor_table(spark, tmp_path)
    for k, admits in (("d5", True), ("zz", False)):
        arrow_reads.clear()
        t.read_keys(spark, [k]).collect()
        [read] = arrow_reads
        frags = list(read["dataset"].get_fragments())
        assert frags
        n = sum(f.subset(filter=read["filter"]).num_row_groups for f in frags)
        assert (n > 0) == admits, (k, n)
