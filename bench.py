"""Benchmark harness — prints ONE JSON line with per-query seconds.

Headline: the CDC replay itself (generate → micro-batch MERGE → final
state) at $SPARK_GRAFT_SF_DIR scale, plus the flagship parity queries.
Run:  SPARK_GRAFT_CPUS=32 python bench.py
Env:  SPARK_GRAFT_SF_DIR  (default /root/testdata/sf0.1)
      SPARK_GRAFT_CPUS    (default 32)
      BENCH_N_EVENTS      (default 2_000_000)
      BENCH_STRATEGY      (default mor)
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from pyspark.sql import functions as F  # noqa: E402

from arango_etl_spark import parity  # noqa: E402
from arango_etl_spark.operators.merge_into import apply_changes  # noqa: E402
from arango_etl_spark.plans.lakehouse import SnapshotTable  # noqa: E402
from arango_etl_spark.session import get_spark  # noqa: E402
from arango_etl_spark.sources.cdc_generator import (  # noqa: E402
    GeneratorConfig,
    generate_events,
)
from arango_etl_spark.streaming.runner import EVENT_SCHEMA  # noqa: E402

PARITY_QUERIES = [
    "cdc_final_state",
    "pricing_summary",
    "lww_latest_per_key",
    "exact_dedup_docs",
    "histogram_counts",
    "minhash_lsh_candidates",
    "embedding_cosine_topk",
    "pack_chunks",
    "q5_local_supplier_volume",   # NEW r4 (additive — totals not
    "range_join_windows",         # comparable across rounds)
    "kmv_distinct_users",         # NEW r5: sketch family
    "cms_token_counts",           # NEW r5
    "q8_market_share",            # NEW r5: widest join tree (8 relations)
    "quantize_embeddings",        # NEW r5: map-only int8 quantization
    "unigram_logprob_quality",    # NEW r5: vocab-join LM scoring
    "source_overlap_matrix",      # NEW r5: shingle-keyed self-join
    "hll_distinct_users",         # NEW r5: HLL register sketch
    "bloom_point_lookup",         # NEW r5: CoW load + bloom build + pruned eq
    "graph_pagerank",             # NEW r5: iterative frontier joins
    "bm25_search",                # NEW r5: keyword retrieval top-k
    "dup_span_coverage",          # NEW r5: exact-substring token-span dedup
    "token_drift_by_source",      # NEW r5: per-source TV drift monitoring
    "pq_topk_multi",              # NEW r5: product-quantization ANN (ADC)
]
# ivfpq is timed split below (build vs probe), same policy as ivf.
# ivf is timed separately below: build (write-time index state — centroid
# TakeOrdered + assignment-plan codegen over 16×64-dim literal arrays) vs
# the probe/query path a user actually pays per query (round-3 VERDICT #8:
# the old single number conflated the two).


def bench_cdc_replay(spark, sf_dir: str, work_dir: str, n_events: int,
                     strategy: str, n_batches: int = 8,
                     repeats: int = 3) -> dict:
    """Generate a change log over the sf documents universe, write it as
    batch files (not timed), then time the replay: per-batch dedup + MERGE
    + commit, including the periodic compaction — the sustained-ingest
    number the north rule targets.

    The replay is repeated ``repeats`` times against a fresh table (same
    pre-generated events): the shared host shows 2-2.4x run-to-run
    interference swings on identical configs (r3 sweep: 804k/1034k/790k/
    431k ev/s for the same settings), so a single draw measures the
    host, not the engine. The HEADLINE ``events_per_sec`` is the MEDIAN
    run (ADVICE r3: best-of-N systematically overstates sustained
    throughput and broke cross-round comparability);
    ``events_per_sec_best`` and the full ``all_runs_events_per_sec``
    distribution stay visible."""
    # doc universe ≈ events/20 (sustained-upsert regime: table comparable
    # to cumulative batches, ~20 versions per doc), floored at the sf
    # documents universe
    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    cfg = GeneratorConfig(
        n_events=n_events,
        n_docs=max(n_docs, n_events // 20, 1),
        n_batches=n_batches,
        seed=42,
        hot_doc_permille=100,  # 10% of events on one hot doc (skew on)
    )
    events_dir = os.path.join(work_dir, "events")
    generate_events(spark, cfg).write.partitionBy("batch_id").parquet(events_dir)

    from pyspark.sql import types as T

    payload = T.StructType([f for f in EVENT_SCHEMA.fields
                            if f.name in ("doc_id", "tokens", "n_tok", "source")])
    n_total = spark.read.parquet(events_dir).count()

    runs: list[tuple[float, SnapshotTable]] = []
    for r in range(max(repeats, 1)):
        table_dir = os.path.join(work_dir, f"table_{r}")
        table = SnapshotTable.create(table_dir, payload, n_buckets=64)
        t0 = time.monotonic()
        for b in range(cfg.n_batches):
            batch = spark.read.schema(EVENT_SCHEMA).parquet(
                f"{events_dir}/batch_id={b}"
            ).withColumn("batch_id", F.lit(b).cast("long"))
            apply_changes(
                spark, table, batch,
                batch_id=b, fence_stream_id="bench",
                strategy=strategy, compact_every=0,
            )
        runs.append((time.monotonic() - t0, table))
    by_time = sorted(runs, key=lambda x: x[0])
    # upper median run: the true middle for odd N, the conservative
    # (slower) of the two middles for even N — never silently the best
    replay_secs, table = by_time[len(by_time) // 2]
    best_secs = by_time[0][0]
    # maintenance + read-side costs reported separately: at cluster scale
    # compaction is an async rewrite_data_files job off the ingest path
    compact_secs = 0.0
    if strategy == "mor":
        from arango_etl_spark.operators.merge_into import compact

        t1 = time.monotonic()
        compact(spark, table)
        compact_secs = time.monotonic() - t1
    t1 = time.monotonic()
    n_final = table.read(spark).count()
    read_secs = time.monotonic() - t1
    return {
        "replay_secs": round(replay_secs, 3),
        "compaction_secs": round(compact_secs, 3),
        "final_read_secs": round(read_secs, 3),
        "events": n_total,
        "events_per_sec": round(n_total / replay_secs, 1),   # MEDIAN run
        "events_per_sec_best": round(n_total / best_secs, 1),
        "all_runs_events_per_sec": [
            round(n_total / s, 1) for s, _ in runs
        ],
        "final_rows": n_final,
        "strategy": strategy,
        "dedup": "max_by",
    }


def bench_stream_replay(spark, events_dir: str, work_dir: str,
                        n_batches: int, strategy: str,
                        repeats: int = 3) -> dict:
    """Drain the SAME pre-generated backlog through the real streaming
    path (readStream → foreachBatch → fence-checked MERGE, availableNow)
    so trigger-loop + checkpoint overhead is measured, not inferred
    (r4 VERDICT #6). Feed re-layout is NOT timed; the drain is. Same
    MEDIAN-of-N policy as the batch leg (fresh table + checkpoint per
    run) — comparing a single stream draw against the batch MEDIAN
    conflated warm-up with streaming overhead (a cold batch draw and a
    cold stream drain measure within noise of each other).

    Feed files per batch = half the cores: the first cut used 4 big
    files per 4.1M-row batch, which capped each epoch's SCAN at ~8
    input splits while the batch leg read the generator's ~32 files —
    that alone showed as a 2.6x "streaming overhead". Epoch-count
    experiment (recorded in BENCH/BASELINE.md): 1 big epoch is SLOWER
    than 4, so the trigger loop is not the bottleneck."""
    from arango_etl_spark.streaming.runner import IngestConfig, run_ingest

    from pyspark.sql import types as T

    cores = spark.sparkContext.defaultParallelism
    files_per_batch = max(4, cores // 2)
    feed = os.path.join(work_dir, "stream_feed")
    for b in range(n_batches):
        (
            spark.read.schema(EVENT_SCHEMA)
            .parquet(f"{events_dir}/batch_id={b}")
            .withColumn("batch_id", F.lit(b).cast("long"))
            .coalesce(files_per_batch)
            .write.mode("overwrite")
            .parquet(f"{feed}/batch={b:05d}")
        )
    n_total = spark.read.option("recursiveFileLookup", "true").parquet(feed).count()
    payload = T.StructType([f for f in EVENT_SCHEMA.fields
                            if f.name in ("doc_id", "tokens", "n_tok", "source")])
    runs = []
    table = None
    for r in range(max(repeats, 1)):
        table = SnapshotTable.create(
            os.path.join(work_dir, f"table_stream_{r}"), payload, n_buckets=64
        )
        cfg = IngestConfig(
            stream_id="bench-stream", strategy=strategy,
            compact_every=0, max_files_per_trigger=files_per_batch,
        )
        t0 = time.monotonic()
        run_ingest(
            spark, feed, table,
            os.path.join(work_dir, f"stream_ckpt_{r}"), cfg=cfg,
        )
        runs.append(time.monotonic() - t0)
    secs = sorted(runs)[len(runs) // 2]  # upper median, like the batch leg
    return {
        "stream_replay_secs": round(secs, 3),
        "stream_events_per_sec": round(n_total / secs, 1),
        "all_stream_runs_events_per_sec": [
            round(n_total / s, 1) for s in runs
        ],
        "stream_final_rows": table.read(spark).count(),
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    # default sized OUT of the fixed-cost regime: at 2M×8 batches the
    # ~1.3 s/micro-batch driver latency dominated and the recorded ev/s
    # reflected job-submission overhead, not engine throughput (round-1
    # BENCH analysis). 16M events in 4 batches puts >80% of wall time in
    # scalable work while keeping the run a few minutes.
    n_events = int(os.environ.get("BENCH_N_EVENTS", "16000000"))
    strategy = os.environ.get("BENCH_STRATEGY", "mor")
    n_batches = int(os.environ.get("BENCH_N_BATCHES", "4"))
    repeats = int(os.environ.get("BENCH_REPLAY_REPEATS", "3"))
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0

    shuffle_partitions = int(
        os.environ.get("BENCH_SHUFFLE_PARTITIONS", str(cpus))
    )
    spark = get_spark("bench", cores=cpus, shuffle_partitions=shuffle_partitions)
    queries: dict[str, float] = {}

    work_dir = tempfile.mkdtemp(prefix="bench_cdc_")
    try:
        replay = bench_cdc_replay(
            spark, sf_dir, work_dir, n_events, strategy,
            n_batches=n_batches, repeats=repeats,
        )
        queries["cdc_replay"] = replay["replay_secs"]
        queries["cdc_final_read"] = replay["final_read_secs"]

        if os.environ.get("BENCH_ONLY_REPLAY") != "1":
            # skipped in scaling legs: the N-vs-4N criterion measures the
            # batch replay; the stream drain would only add wall time
            stream = bench_stream_replay(
                spark, os.path.join(work_dir, "events"), work_dir,
                n_batches, strategy, repeats=repeats,
            )
            queries["stream_replay"] = stream["stream_replay_secs"]
            replay.update(stream)

        qmap = parity.queries()
        if os.environ.get("BENCH_ONLY_REPLAY") == "1":
            qmap = {}
        for name in [q for q in PARITY_QUERIES if q in qmap]:
            t0 = time.monotonic()
            df = qmap[name](spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            queries[name] = round(time.monotonic() - t0, 3)

        if qmap:
            # IVF: index build (write-time state) timed apart from the
            # probe path a query actually pays (round-3 VERDICT #8)
            from arango_etl_spark.operators.similarity import (
                IvfIndex,
                build_ivf_index,
                ivf_query,
            )

            emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
            t0 = time.monotonic()
            index = build_ivf_index(emb, n_centroids=16)
            # WRITE-TIME STATE, literally: persist the cell assignment as
            # a parquet table (what a deployment bucket/partitions by
            # _cluster). Queries then plan against a clean scan — the
            # n_centroids×dim literal assignment expressions exist only
            # in the build plan, so per-query driver-side analysis cost
            # is independent of the centroid count.
            ivf_dir = os.path.join(work_dir, "ivf_index")
            index.clustered.write.mode("overwrite").parquet(ivf_dir)
            queries["ivf_build"] = round(time.monotonic() - t0, 3)
            served = IvfIndex(
                index.centroids, spark.read.parquet(ivf_dir),
                index.id_col, index.vec_col,
            )
            qdf = emb.where(F.col("vec_id") == 0).select(
                F.lit(0).alias("query_id"), "embedding"
            )
            # first call pays one-time whole-stage-codegen compile of the
            # probe/re-rank plan shape; the second measures the
            # steady-state per-query cost against the standing index —
            # reported as ivf_topk (both visible; round-3 VERDICT #8)
            t0 = time.monotonic()
            ivf_query(served, qdf, k=10, n_probe=4, single_query=True) \
                .write.format("noop").mode("overwrite").save()
            queries["ivf_topk_first"] = round(time.monotonic() - t0, 3)
            t0 = time.monotonic()
            ivf_query(served, qdf, k=10, n_probe=4, single_query=True) \
                .write.format("noop").mode("overwrite").save()
            queries["ivf_topk"] = round(time.monotonic() - t0, 3)

            # IVFADC: same build/probe split. The codes table is the
            # write-time state, persisted PARTITIONED BY cell so the
            # probe's array_contains(probes, cell) filter is served by
            # partition pruning on disk — the layout the operator
            # docstring promises at table scale.
            from arango_etl_spark.operators.pq import (
                build_ivfpq_index,
                ivfpq_topk,
                load_ivfpq_index,
                save_ivfpq_index,
            )
            from arango_etl_spark.operators.similarity import (
                quantize_embeddings,
            )

            qz = quantize_embeddings(emb).select("vec_id", "qvec")
            t0 = time.monotonic()
            ivfpq = build_ivfpq_index(qz, kc=8, m=8, ksub=16)
            ivfpq_dir = os.path.join(work_dir, "ivfpq_index")
            save_ivfpq_index(ivfpq, ivfpq_dir)
            queries["ivfpq_build"] = round(time.monotonic() - t0, 3)
            ivfpq_served = load_ivfpq_index(spark, ivfpq_dir)
            pq_queries = qz.where(F.col("vec_id") < 3).select(
                F.col("vec_id").alias("query_id"), "qvec"
            )
            t0 = time.monotonic()
            ivfpq_topk(ivfpq_served, pq_queries, k=10, n_probe=2) \
                .write.format("noop").mode("overwrite").save()
            queries["ivfpq_topk_first"] = round(time.monotonic() - t0, 3)
            t0 = time.monotonic()
            ivfpq_topk(ivfpq_served, pq_queries, k=10, n_probe=2) \
                .write.format("noop").mode("overwrite").save()
            queries["ivfpq_topk"] = round(time.monotonic() - t0, 3)

            # BPE over the tokens payload (the graft's token axis):
            # train on a deterministic 5% sample (standard practice —
            # vocabularies fit on a corpus subset; bounds the R-shuffle
            # iterative cost), then encode the FULL corpus in ONE
            # Arrow-batched map stage (bpe_encode_arrow) — the map-only
            # pass a production retokenization pays per corpus scan.
            from arango_etl_spark.functions.tokenizer import tokens_expr
            from arango_etl_spark.operators.bpe import (
                bpe_encode_arrow,
                bpe_train,
            )

            # byte-level view (token % 256): BPE merge training starts
            # from a small base alphabet (256 bytes); over the raw 50k
            # synthetic vocab every adjacent pair is unique and training
            # stops at zero merges — the fold makes the measured legs
            # exercise real merge discovery + application.
            docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
            toks = docs.select(
                "doc_id",
                F.transform(
                    tokens_expr(F.col("doc_id"), F.lit(0)),
                    lambda t: F.pmod(t, F.lit(256)).cast("int"),
                ).alias("tokens"),
            )
            sample = toks.where(F.pmod(F.col("doc_id"), F.lit(20)) == 0)
            # train cost = R × (pair-count shuffle + 1-row TakeOrdered +
            # localCheckpoint) over the SAMPLE — fixed per-round job
            # latency, not data-scaled; the encode leg is the one that
            # scales with the corpus.
            t0 = time.monotonic()
            merges = bpe_train(sample, n_merges=8)
            queries["bpe_train_8"] = round(time.monotonic() - t0, 3)
            t0 = time.monotonic()
            bpe_encode_arrow(toks, merges).write.format("noop") \
                .mode("overwrite").save()
            queries["bpe_encode_arrow"] = round(time.monotonic() - t0, 3)

        total = round(sum(queries.values()), 3)
        print(json.dumps({
            "metric": "headline_total_sec",
            "value": total,
            "unit": "sec",
            "queries": queries,
            "sf": sf,
            "cpus": cpus,
            "replay": replay,
        }))
    finally:
        shutil.rmtree(work_dir, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
