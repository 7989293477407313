"""M2: Structured Streaming exactly-once ingest — drain, rerun-idempotence,
kill/resume mid-replay, lineage counters (SURVEY.md §2.8 ST2/ST4/ST5/ST8)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from arango_etl_spark.operators.merge_into import apply_changes
from arango_etl_spark.oracle import assert_states_equal, reduce_events_duckdb
from arango_etl_spark.plans.lakehouse import SnapshotTable
from arango_etl_spark.sources.cdc_generator import (
    GeneratorConfig,
    write_event_batches,
)
from arango_etl_spark.streaming.lineage import LINEAGE_SCHEMA, LineageLog
from arango_etl_spark.streaming.runner import IngestConfig, run_ingest
from tests.test_merge import (
    PAYLOAD_SCHEMA,
    commit_dirs,
    ev,
    files_by_bucket,
    mk_events,
)

CFG = GeneratorConfig(n_events=3_000, n_docs=250, n_batches=6, seed=21)


@pytest.fixture(scope="module")
def events_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("stream") / "events")
    write_event_batches(spark, CFG, d)
    return d


def mk_table(tmp_path, name):
    return SnapshotTable.create(
        str(tmp_path / name), PAYLOAD_SCHEMA, key_col="doc_id", n_buckets=16
    )


def test_stream_drain_matches_oracle(spark, tmp_path, events_dir):
    t = mk_table(tmp_path, "drain")
    lineage = LineageLog(str(tmp_path / "lineage"))
    run_ingest(
        spark, events_dir, t, str(tmp_path / "ckpt"), lineage=lineage,
        cfg=IngestConfig(max_files_per_trigger=2, compact_every=3),
    )
    actual = t.read(spark).toPandas()
    expected = reduce_events_duckdb(f"{events_dir}/batch=*/*.parquet")
    assert_states_equal(actual, expected)

    # lineage: per-partition counters recorded, totals match the feed
    lin = lineage.read(spark)
    assert lin.count() > 0
    seen = lin.groupBy().sum("events_seen").collect()[0][0]
    assert seen == spark.read.parquet(events_dir).count()
    thr = lineage.throughput(spark).collect()
    assert all(r["events_per_sec"] > 0 for r in thr)


def test_stream_rerun_same_checkpoint_is_noop(spark, tmp_path, events_dir):
    """Second drain from the same checkpoint: no new data → no new commits."""
    t = mk_table(tmp_path, "rerun")
    ckpt = str(tmp_path / "ckpt")
    run_ingest(spark, events_dir, t, ckpt)
    v1, s1 = t.current_version(), t.read(spark).count()
    run_ingest(spark, events_dir, t, ckpt)
    assert t.current_version() == v1
    assert t.read(spark).count() == s1


def test_stream_fresh_checkpoint_refeed_is_fenced(spark, tmp_path, events_dir):
    """Losing the checkpoint but keeping the table: epochs restart at 0 and
    every batch re-applies. State must converge to the same final answer
    (idempotent re-application — the at-least-once + absorbing-write story
    the reference relies on, done deterministically here)."""
    t = mk_table(tmp_path, "refeed")
    run_ingest(spark, events_dir, t, str(tmp_path / "ckpt1"))
    expected = t.read(spark).toPandas()
    run_ingest(spark, events_dir, t, str(tmp_path / "ckpt2"))  # full refeed
    assert_states_equal(t.read(spark).toPandas(), expected)


def test_stream_kill_and_resume(spark, tmp_path, events_dir):
    """Fault injection at epoch 1 → query dies mid-replay; restart from the
    same checkpoint resumes and the final state matches the oracle
    (reference ST5 retry loop, arangodb_handler.rs:94-111)."""
    t = mk_table(tmp_path, "kill")
    ckpt = str(tmp_path / "ckpt")
    with pytest.raises(Exception, match="injected failure"):
        run_ingest(
            spark, events_dir, t, ckpt,
            cfg=IngestConfig(max_files_per_trigger=1, fail_batches=frozenset({1})),
        )
    v_mid = t.current_version()
    assert v_mid >= 1  # epoch 0 landed before the crash
    run_ingest(spark, events_dir, t, ckpt)  # resume, no fault
    actual = t.read(spark).toPandas()
    expected = reduce_events_duckdb(f"{events_dir}/batch=*/*.parquet")
    assert_states_equal(actual, expected)


def test_manual_reapply_of_committed_epoch_is_skipped(spark, tmp_path, events_dir):
    """Simulated foreachBatch redelivery: same epoch id re-applied directly
    (bypassing the checkpoint) → fence skips it (FIXTURES §6.3)."""
    t = mk_table(tmp_path, "redeliver")
    batch = spark.read.parquet(f"{events_dir}/batch=00000")
    apply_changes(spark, t, batch, batch_id=0, fence_stream_id="cdc")
    v1 = t.current_version()
    res = apply_changes(spark, t, batch, batch_id=0, fence_stream_id="cdc")
    assert res.skipped and t.current_version() == v1


def test_stream_cow_strategy_matches_oracle(spark, tmp_path, events_dir):
    """The copy-on-write strategy through the full streaming path."""
    t = mk_table(tmp_path, "cow_stream")
    run_ingest(
        spark, events_dir, t, str(tmp_path / "ckpt"),
        cfg=IngestConfig(strategy="cow", max_files_per_trigger=3),
    )
    actual = t.read(spark).toPandas()
    expected = reduce_events_duckdb(f"{events_dir}/batch=*/*.parquet")
    assert_states_equal(actual, expected)


def test_stream_processing_time_trigger(spark, tmp_path, events_dir):
    """The continuous `current` mode path: processing-time trigger, drain
    via processAllAvailable, graceful stop, state matches oracle (ST1/ST7)."""
    t = mk_table(tmp_path, "proc_time")
    q = run_ingest(
        spark, events_dir, t, str(tmp_path / "ckpt"),
        cfg=IngestConfig(max_files_per_trigger=4),
        available_now=False,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    actual = t.read(spark).toPandas()
    expected = reduce_events_duckdb(f"{events_dir}/batch=*/*.parquet")
    assert_states_equal(actual, expected)


def test_fresh_checkpoint_new_data_not_dropped(spark, tmp_path, events_dir):
    """THE fence-lineage hazard (round-1 ADVICE): checkpoint lost, table
    kept, NEW events arrive. The refeed re-batches old+new files into
    epochs restarting at 0 — without a run-scoped fence the new events in
    fenced epochs would be silently discarded."""
    import shutil

    from pyspark.sql import functions as F

    t = mk_table(tmp_path, "fence_lineage")
    run_ingest(spark, events_dir, t, str(tmp_path / "ckpt1"))

    # new events on top of the old log: strictly higher seq_nos for a doc
    new_dir = str(tmp_path / "events2")
    shutil.copytree(events_dir, new_dir)
    top = spark.read.parquet(f"{events_dir}/batch=*").agg(
        F.max("seq_no")
    ).collect()[0][0]
    late = spark.read.parquet(f"{events_dir}/batch=00000").limit(1).select(
        F.col("op"), F.col("doc_id"), (F.lit(top) + 1000).alias("seq_no"),
        F.expr("array(1,2,3)").cast("array<int>").alias("tokens"),
        F.lit(3).alias("n_tok"), F.lit("late-src").alias("source"),
        F.lit(999).cast("long").alias("batch_id"), F.col("event_ts"),
    ).withColumn("op", F.lit("update"))
    doc = late.collect()[0]["doc_id"]
    late.write.parquet(f"{new_dir}/batch=00099")

    # fresh checkpoint → epochs restart at 0; new file is in an early epoch
    run_ingest(spark, new_dir, t, str(tmp_path / "ckpt2"))
    got = t.read(spark).where(F.col("doc_id") == doc).collect()
    assert len(got) == 1 and got[0]["source"] == "late-src", got


def test_stream_progress_surface(spark, tmp_path, events_dir):
    """stream_progress exposes per-batch rows/sec + duration from Spark's
    StreamingQueryProgress (the live lag/throughput view, ST8)."""
    from arango_etl_spark.streaming.runner import stream_progress

    t = mk_table(tmp_path, "progress")
    q = run_ingest(
        spark, events_dir, t, str(tmp_path / "ckpt"),
        cfg=IngestConfig(max_files_per_trigger=2, trigger_interval_secs=1),
        available_now=False,
    )
    try:
        import time as _t

        deadline = _t.time() + 60
        prog = []
        while _t.time() < deadline:
            prog = [p for p in stream_progress(q) if p["input_rows"]]
            if len(prog) >= 2:
                break
            _t.sleep(1)
        assert len(prog) >= 2, "no progress recorded"
        assert all(p["rows_per_sec"] > 0 for p in prog)
        assert all(p["batch_duration_ms"] > 0 for p in prog)
    finally:
        q.stop()


@pytest.mark.slow
def test_soak_long_stream_with_compaction_expiry_and_two_kills(
    spark, tmp_path
):
    """Soak (round-2 VERDICT next-8): 50 micro-batches with compaction AND
    snapshot expiry interleaved in the runner loop, killed and resumed
    TWICE mid-replay — final state must equal the oracle and the manifest
    count must stay bounded by the expiry cadence (previously fence,
    compaction and expiry were only tested separately)."""
    import os as _os

    soak_cfg = GeneratorConfig(
        n_events=25_000, n_docs=900, n_batches=50, seed=77
    )
    d = str(tmp_path / "soak_events")
    write_event_batches(spark, soak_cfg, d)
    t = mk_table(tmp_path, "soak")
    ckpt = str(tmp_path / "ckpt")
    base = dict(
        max_files_per_trigger=1,   # one generator batch per epoch → 50 epochs
        compact_every=2,           # force frequent MoR compactions
        expire_every=10,
        expire_keep_last=4,
    )
    for fail_at in (7, 23):       # two kills at different depths
        with pytest.raises(Exception, match="injected failure"):
            run_ingest(
                spark, d, t, ckpt,
                cfg=IngestConfig(fail_batches=frozenset({fail_at}), **base),
            )
        # epoch fail_at replays with the SAME id on resume; drop the
        # injection for the next leg
    run_ingest(spark, d, t, ckpt, cfg=IngestConfig(**base))

    actual = t.read(spark).toPandas()
    expected = reduce_events_duckdb(f"{d}/batch=*/*.parquet")
    assert_states_equal(actual, expected)

    # expiry kept the manifest set bounded by the CADENCE, not the run
    # length: at most keep_last survivors plus every commit since the
    # last expiry tick — up to expire_every data commits AND the
    # compaction commits interleaved among them (the r3 bound omitted
    # the compaction term and held only by epoch-count phase luck)
    manifests = [
        f for f in _os.listdir(t.meta_dir)
        if f.startswith("v") and f.endswith(".json")
    ]
    cadence_bound = (
        base["expire_keep_last"]
        + base["expire_every"]
        + base["expire_every"] // base["compact_every"]
        + 1
    )
    assert len(manifests) <= cadence_bound, (len(manifests), cadence_bound)
    # fence survived expiry (it rides the latest summary, merged forward)
    assert t.last_batch_id("cdc") is not None
    # compaction actually ran: delta depth is bounded per bucket
    per_bucket = [len(fs) for fs in files_by_bucket(t.manifest()).values()]
    assert max(per_bucket, default=0) <= 2 * base["compact_every"] + 1


def test_curate_stream_quality_and_dedup(spark, tmp_path):
    """Streaming curation twin: the quality gate drops short/junk docs and
    dropDuplicatesWithinWatermark keeps ONE row per content hash across
    micro-batches; the batch fallback of the same function agrees."""
    import datetime as dt

    from arango_etl_spark.streaming.curation import curate_stream

    body_a = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
              "lam mu nu xi omicron pi rho sigma tau upsilon phi chi "
              "psi omega extra words fill the hundred char floor nicely")
    body_b = body_a.replace("alpha", "distinct")
    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    feed = str(tmp_path / "feed")
    schema = "doc_id long, text string, ingest_ts timestamp"
    # two micro-batch files: a duplicate of body_a arrives in EACH
    spark.createDataFrame(
        [(1, body_a, t0), (2, "too short 123", t0), (3, body_b, t0)],
        schema,
    ).coalesce(1).write.parquet(f"{feed}/f0")
    spark.createDataFrame(
        [(4, body_a, t0 + dt.timedelta(minutes=1)),
         (5, body_b, t0 + dt.timedelta(minutes=2))],
        schema,
    ).coalesce(1).write.parquet(f"{feed}/f1")

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(feed)
    )
    out = curate_stream(stream)
    q = (
        out.writeStream.format("parquet")
        .option("path", str(tmp_path / "sink"))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.read.parquet(str(tmp_path / "sink")).collect()
    by_hash: dict = {}
    for r in got:
        by_hash.setdefault(r["content_hash"], []).append(r["doc_id"])
    # exactly one survivor per distinct content; the short doc is gone
    assert all(len(ids) == 1 for ids in by_hash.values()), by_hash
    assert len(by_hash) == 2
    assert 2 not in {r["doc_id"] for r in got}

    # batch fallback: same function, same survivors-per-hash contract
    batch = spark.read.schema(schema).option(
        "recursiveFileLookup", "true"
    ).parquet(feed)
    bgot = curate_stream(batch).collect()
    assert len(bgot) == 2
    assert {r["content_hash"] for r in bgot} == set(by_hash)
    # deterministic batch winner (ADVICE r3): FIRST arrival by
    # (ingest_ts, doc_id), not an arbitrary dropDuplicates survivor
    assert {r["doc_id"] for r in bgot} == {1, 3}

    # batch frames WITHOUT the id column still work: ordering falls
    # back to ingest_ts alone (ADVICE r4 #5)
    noid = curate_stream(batch.drop("doc_id")).collect()
    assert len(noid) == 2
    assert {r["content_hash"] for r in noid} == set(by_hash)
    assert noid[0].__fields__[-1] == "content_hash"


def test_streaming_session_windows_emit_closed_sessions(spark, tmp_path):
    """session_metrics on a stream: gap-merged sessions per user, emitted
    in append mode once the watermark closes them; the batch form over
    the same feed agrees on every emitted session."""
    import datetime as dt

    from arango_etl_spark.streaming.windows import session_metrics

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    feed = str(tmp_path / "sfeed")
    schema = "user_id long, ts timestamp"
    # user 1: two events 10 min apart (one session), then one 2h later
    # (second session); user 2: single event
    spark.createDataFrame(
        [(1, t0), (1, t0 + dt.timedelta(minutes=10)),
         (2, t0 + dt.timedelta(minutes=5))], schema,
    ).coalesce(1).write.parquet(f"{feed}/f0")
    spark.createDataFrame(
        [(1, t0 + dt.timedelta(hours=2)),
         # far-future row pushes the watermark past every prior session
         (9, t0 + dt.timedelta(days=2))], schema,
    ).coalesce(1).write.parquet(f"{feed}/f1")

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(feed)
    )
    q = (
        session_metrics(stream, gap="30 minutes", watermark="1 hour")
        .writeStream.format("parquet")
        .option("path", str(tmp_path / "ssink"))
        .option("checkpointLocation", str(tmp_path / "sckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in spark.read.parquet(str(tmp_path / "ssink")).collect()
    }
    # every emitted session matches the batch twin over the same files
    batch = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in session_metrics(
            spark.read.schema(schema)
            .option("recursiveFileLookup", "true").parquet(feed)
        ).collect()
    }
    assert got <= batch and len(got) >= 3
    # the merged first session of user 1: 2 events, end = last + gap
    assert (1, t0, t0 + dt.timedelta(minutes=40), 2) in got
    assert (2, t0 + dt.timedelta(minutes=5),
            t0 + dt.timedelta(minutes=35), 1) in got


def test_stream_stream_interval_join_matches_batch(spark, tmp_path):
    """attribute_clicks over two REAL file streams (append mode,
    watermark-bounded state) must emit exactly what the same function
    returns on the batch frames — the batch twin is the oracle."""
    import datetime as dt

    from arango_etl_spark.streaming.joins import attribute_clicks

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    imp_rows = [
        (u, f"i{u}_{k}", t0 + dt.timedelta(minutes=5 * k + u))
        for u in range(4) for k in range(6)
    ]
    click_rows = [
        # some clicks inside the 30-min window of 1+ impressions, one
        # click with no impression (user 9), one exactly-at-boundary
        (0, "c0", t0 + dt.timedelta(minutes=12)),
        (1, "c1", t0 + dt.timedelta(minutes=31)),
        (2, "c2", t0 + dt.timedelta(minutes=2)),  # == first imp instant
        (9, "c9", t0 + dt.timedelta(minutes=10)),
    ]
    imp_dir, click_dir = str(tmp_path / "imp"), str(tmp_path / "click")
    imp_schema = "user_id long, imp_id string, imp_ts timestamp"
    click_schema = "user_id long, click_id string, click_ts timestamp"
    spark.createDataFrame(imp_rows, imp_schema).write.parquet(imp_dir)
    spark.createDataFrame(click_rows, click_schema).write.parquet(click_dir)

    batch = attribute_clicks(
        spark.read.parquet(imp_dir), spark.read.parquet(click_dir)
    )
    expected = {tuple(r) for r in batch.collect()}
    assert expected, "fixture must produce attributions"
    assert all(r[1] != "c9" for r in expected)  # no impression, no row
    assert any(r[1] == "c2" for r in expected)  # boundary click attributes

    out_dir, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    si = spark.readStream.schema(imp_schema).parquet(imp_dir)
    sc = spark.readStream.schema(click_schema).parquet(click_dir)
    q = (
        attribute_clicks(si, sc)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {tuple(r) for r in spark.read.parquet(out_dir).collect()}
    assert got == expected


def test_debezium_feed_through_run_ingest(spark, tmp_path):
    """source_format="debezium": envelope JSON feed → columnar mapping →
    fenced MERGE per epoch; LWW resolves by lsn, deletes tombstone, and
    a rerun from the same checkpoint is a no-op."""
    import json
    import os

    feed = str(tmp_path / "dbz_feed")
    os.makedirs(feed)

    def env(op, after=None, before=None, lsn=0, ts_ms=0):
        return json.dumps({"payload": {
            "op": op, "after": after, "before": before, "ts_ms": ts_ms,
            "source": {"name": "pg", "lsn": lsn, "txId": None}}})

    def row(doc, toks):
        return {"doc_id": doc, "tokens": toks, "n_tok": len(toks),
                "source": "s"}

    # two files → two epochs under maxFilesPerTrigger=1: the delete for
    # "b" and the update for "a" arrive in the SECOND epoch
    with open(f"{feed}/f1.json", "w") as fh:
        fh.write(env("r", after=row("a", [1]), lsn=1, ts_ms=1000) + "\n")
        fh.write(env("c", after=row("b", [2]), lsn=2, ts_ms=2000) + "\n")
    with open(f"{feed}/f2.json", "w") as fh:
        fh.write(env("u", after=row("a", [1, 5]), before=row("a", [1]),
                     lsn=3, ts_ms=3000) + "\n")
        fh.write(env("d", before=row("b", [2]), lsn=4, ts_ms=4000) + "\n")

    t = mk_table(tmp_path, "t_dbz_stream")
    ckpt = str(tmp_path / "ckpt_dbz")
    cfg = IngestConfig(max_files_per_trigger=1, source_format="debezium")
    run_ingest(spark, feed, t, ckpt, cfg=cfg)
    final = {r["doc_id"]: r for r in t.read(spark).collect()}
    assert set(final) == {"a"}
    assert final["a"]["tokens"] == [1, 5]
    v1 = t.current_version()
    # same checkpoint → no new data → no new commits
    run_ingest(spark, feed, t, ckpt, cfg=cfg)
    assert t.current_version() == v1


def test_debezium_feed_keeps_widened_columns(spark, tmp_path):
    """A widened event schema (the CLI's --extra-columns) reaches the
    table through a Debezium feed: every value-schema field of the row
    image is projected, so the extra column is merged, not dropped."""
    import json
    import os

    from pyspark.sql import types as T

    from arango_etl_spark.streaming.runner import EVENT_SCHEMA

    feed = str(tmp_path / "dbz_feed")
    os.makedirs(feed)
    with open(f"{feed}/f1.json", "w") as fh:
        for lsn, (doc, lang) in enumerate([("a", "en"), ("b", "de")]):
            fh.write(json.dumps({"payload": {
                "op": "c", "ts_ms": 1000 + lsn,
                "after": {"doc_id": doc, "tokens": [1], "n_tok": 1,
                          "source": "s", "lang": lang},
                "source": {"name": "pg", "lsn": lsn, "txId": None}}}) + "\n")
    schema = T.StructType(
        EVENT_SCHEMA.fields + [T.StructField("lang", T.StringType())]
    )
    t = mk_table(tmp_path, "t_dbz_wide")
    run_ingest(
        spark, feed, t, str(tmp_path / "ckpt"),
        cfg=IngestConfig(source_format="debezium"), event_schema=schema,
    )
    got = {r["doc_id"]: r["lang"] for r in t.read(spark).collect()}
    assert got == {"a": "en", "b": "de"}


@pytest.mark.parametrize("strategy", ["mor", "cow"])
def test_lineage_counts_per_epoch(spark, tmp_path, strategy):
    """Lineage counters of two epochs: the first (for CoW, the first
    merge into a fresh table from inside a micro-batch) holds a
    duplicate delivery, an update and a delete; every event of the
    second is at or below ``min_seq_exclusive``, so it applies nothing
    and commits at no seq_no."""
    feed = str(tmp_path / "feed")
    epochs = [
        [ev("insert", "a", 1, [1]), ev("update", "a", 2, [1, 2]),
         ev("insert", "b", 3, [3]), ev("delete", "b", 4, None),
         ev("insert", "c", 5, [5]), ev("insert", "c", 5, [5])],
        [ev("update", "a", 0, [9]), ev("insert", "d", -1, [7])],
    ]
    t = mk_table(tmp_path, f"lin_{strategy}")
    lineage = LineageLog(str(tmp_path / "lineage"))
    cfg = IngestConfig(strategy=strategy, max_files_per_trigger=1,
                       min_seq_exclusive=0)
    # one drain per epoch file: the epoch order is the list order
    for i, rows in enumerate(epochs):
        mk_events(spark, rows).coalesce(1).write.parquet(
            f"{feed}/batch={i:05d}"
        )
        run_ingest(spark, feed, t, str(tmp_path / "ckpt"),
                   lineage=lineage, cfg=cfg)

    lin = lineage.read(spark).where("status = 'committed'")
    seen = {
        r["batch_id"]: r["n"]
        for r in lin.where("partition_id IS NOT NULL")
        .groupBy("batch_id").agg(F.sum("events_seen").alias("n")).collect()
    }
    summary = {
        r["batch_id"]: (r["events_applied"], r["events_deduped"],
                        r["committed_at_seq"])
        for r in lin.where("partition_id IS NULL").collect()
    }
    assert seen == {0: 6, 1: 2}
    assert summary == {0: (3, 3, 5), 1: (0, 2, None)}
    final = {r["doc_id"]: list(r["tokens"]) for r in t.read(spark).collect()}
    assert final == {"a": [1, 2], "c": [5]}


def test_empty_epoch_commits_no_files_and_records_zero(spark, tmp_path):
    """A 0-row epoch file takes the all-filtered path: a fenced version
    with no files, no leftover commit dir, and a lineage summary row with
    0 applied / 0 deduped at no seq_no; the next epoch applies as usual."""
    feed = str(tmp_path / "feed")
    t = mk_table(tmp_path, "empty_epoch")
    lineage = LineageLog(str(tmp_path / "lineage"))
    cfg = IngestConfig(max_files_per_trigger=1)
    epochs = [[], [ev("insert", "a", 1, [1]), ev("update", "a", 2, [1, 2]),
                   ev("insert", "b", 3, [3])]]
    for i, rows in enumerate(epochs):
        mk_events(spark, rows).coalesce(1).write.parquet(
            f"{feed}/batch={i:05d}"
        )
        run_ingest(spark, feed, t, str(tmp_path / "ckpt"),
                   lineage=lineage, cfg=cfg)

    assert_states_equal(t.read(spark).toPandas(),
                        reduce_events_duckdb(f"{feed}/batch=*/*.parquet"))
    dirs, referenced = commit_dirs(t)
    assert len(dirs) == 1 and dirs == referenced
    summary = {
        r["batch_id"]: (r["events_applied"], r["events_deduped"],
                        r["committed_at_seq"])
        for r in lineage.read(spark).where("partition_id IS NULL").collect()
    }
    assert summary == {0: (0, 0, None), 1: (2, 1, 3)}


def test_lineage_epoch_runs_at_most_five_jobs(spark, tmp_path):
    """One non-compaction MoR epoch with lineage runs the merge's 3 jobs
    and the per-partition count's 2, all in the query's job group."""
    feed = str(tmp_path / "feed")
    mk_events(spark, [ev("insert", f"d{i}", i, [i]) for i in range(50)]
              ).coalesce(1).write.parquet(f"{feed}/batch=00000")
    t = mk_table(tmp_path, "jobs")
    cfg = IngestConfig(max_files_per_trigger=1, compact_every=0,
                       trigger_interval_secs=0)
    q = run_ingest(spark, feed, t, str(tmp_path / "ckpt"),
                   lineage=LineageLog(str(tmp_path / "lineage")), cfg=cfg,
                   available_now=False)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert t.current_version() == 1
    st = spark.sparkContext.statusTracker()
    assert len(st.getJobIdsForGroup(str(q.runId)) or []) <= 5


def test_failure_ledger_starts_no_spark_job(spark, tmp_path):
    """The retry ledger is written and counted on the driver."""
    lineage = LineageLog(str(tmp_path / "lineage"))
    st = spark.sparkContext.statusTracker()
    before = len(st.getJobIdsForGroup(None) or [])
    lineage.record_failure(spark, 3, 1)
    lineage.record_failure(spark, 3, 2, status="poisoned")
    n = lineage.failure_count(spark, 3)
    assert len(st.getJobIdsForGroup(None) or []) - before == 0
    assert n == 2 and lineage.failure_count(spark, 4) == 0


def test_ledger_reads_spark_and_driver_written_rows(spark, tmp_path):
    """A batch dir holding a row from a Spark parquet write (the ledger's
    earlier writer) and one appended from the driver reads as one table."""
    lineage = LineageLog(str(tmp_path / "lineage"))
    spark.createDataFrame(
        [(7, -1, 0, 0, 0, None, "retried", 1, None)], LINEAGE_SCHEMA
    ).write.mode("append").parquet(
        str(tmp_path / "lineage" / "batch=000000000007")
    )
    lineage._append(7, [(7, -1, 0, 0, 0, None, "retried", 2, None)])
    assert lineage.failure_count(spark, 7) == 2
    lin = lineage.read(spark)
    assert lin.schema == LINEAGE_SCHEMA
    assert sorted(tuple(r) for r in lin.collect()) == [
        (7, -1, 0, 0, 0, None, "retried", 1, None),
        (7, -1, 0, 0, 0, None, "retried", 2, None),
    ]
