"""M4: additive schema evolution — mid-replay events add `quality_score`;
the column auto-merges into the table schema with null backfill
(FIXTURES §6.6; reference analogue: ArangoDB additive document merge,
/root/reference/src/handler/arangodb.rs:221-226)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from arango_etl_spark.operators.merge_into import apply_changes
from arango_etl_spark.oracle import assert_states_equal, reduce_events_duckdb
from arango_etl_spark.plans.lakehouse import SnapshotTable
from arango_etl_spark.sources.cdc_generator import (
    GeneratorConfig,
    write_event_batches,
)
from arango_etl_spark.streaming.runner import (
    EVENT_SCHEMA,
    IngestConfig,
    run_ingest,
)
from tests.test_merge import PAYLOAD_SCHEMA, ev, mk_events

CFG = GeneratorConfig(
    n_events=3_000, n_docs=250, n_batches=5, seed=33, evolution_onset=1_500
)


def mk_table(tmp_path, name):
    return SnapshotTable.create(
        str(tmp_path / name), PAYLOAD_SCHEMA, key_col="doc_id", n_buckets=16
    )


@pytest.mark.parametrize("strategy", ["cow", "mor"])
def test_batch_replay_with_evolution(spark, tmp_path, strategy):
    d = str(tmp_path / "events")
    write_event_batches(spark, CFG, d)
    t = mk_table(tmp_path, f"evo_{strategy}")
    for b in range(CFG.n_batches):
        # read each batch dir standalone: pre-onset dirs physically lack
        # the quality_score column (old producers)
        batch = spark.read.parquet(f"{d}/batch={b:05d}")
        apply_changes(spark, t, batch, strategy=strategy, compact_every=2)

    assert "quality_score" in t.payload_schema().fieldNames()
    actual = t.read(spark).toPandas()
    expected = reduce_events_duckdb(
        f"{d}/batch=*/*.parquet", extra_cols=("quality_score",)
    )
    assert_states_equal(actual, expected)
    # both populated and null-backfilled rows exist
    n_null = sum(1 for v in actual["quality_score"] if v is None or v != v)
    assert 0 < n_null < len(actual)


def test_streaming_with_superset_schema(spark, tmp_path):
    """Streaming reads with the widened schema declared up front: old files
    null-backfill the new column (the schema registry pattern)."""
    d = str(tmp_path / "events")
    write_event_batches(spark, CFG, d)
    # copy: StructType.add mutates in place
    schema = T.StructType(EVENT_SCHEMA.fields + [
        T.StructField("quality_score", T.DoubleType(), True)
    ])
    t = mk_table(tmp_path, "evo_stream")
    run_ingest(
        spark, d, t, str(tmp_path / "ckpt"),
        cfg=IngestConfig(max_files_per_trigger=3),
        event_schema=schema,
    )
    actual = t.read(spark).toPandas()
    expected = reduce_events_duckdb(
        f"{d}/batch=*/*.parquet", extra_cols=("quality_score",)
    )
    assert_states_equal(actual, expected)


def test_non_additive_change_rejected(spark, tmp_path):
    t = mk_table(tmp_path, "reject")
    bad = mk_events(spark, [ev("insert", "a", 1, [1])]).withColumn(
        "n_tok", F.col("n_tok").cast("string")
    )
    with pytest.raises(ValueError, match="non-additive"):
        apply_changes(spark, t, bad)


def test_hot_key_skew_correctness(spark, tmp_path):
    """FIXTURES §6.5: 60% of events on one doc_id — the max_by dedup
    agrees with the oracle."""
    cfg = GeneratorConfig(
        n_events=5_000, n_docs=200, n_batches=2, seed=44, hot_doc_permille=600
    )
    d = str(tmp_path / "skew_events")
    write_event_batches(spark, cfg, d)
    events = spark.read.schema(EVENT_SCHEMA).parquet(
        *[f"{d}/batch={b:05d}" for b in range(cfg.n_batches)]
    )
    expected = reduce_events_duckdb(f"{d}/batch=*/*.parquet")
    t = mk_table(tmp_path, "skew")
    apply_changes(spark, t, events, strategy="mor")
    assert_states_equal(t.read(spark).toPandas(), expected)
