"""Point lookups with no side jobs: the driver-side XXH64 twin must equal
Spark's ``xxhash64`` (bucket routing and Bloom positions), and building or
running a lookup starts only the jobs that read table data."""

from __future__ import annotations

import random

from pyspark.sql import functions as F
from pyspark.sql import types as T

from arango_etl_spark.operators.merge_into import apply_changes
from arango_etl_spark.plans.lakehouse import (
    BLOOM_K,
    SnapshotTable,
    _key_hash,
    _xxh64,
)
from tests.test_merge import ev, mk_events, mk_table

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
    at most the scan and the LWW exchange."""
    t = _mor_table(spark, tmp_path)
    assert len(t.data_files()) >= 40
    before = _last_job(spark)
    stored = t.read_stored(spark)
    full = t.read(spark)
    assert _last_job(spark) == before

    keys = [f"d{i}" for i in range(0, 120, 15)]
    before = _last_job(spark)
    got = t.read_keys(spark, keys).collect()
    assert _last_job(spark) - before <= 2
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
