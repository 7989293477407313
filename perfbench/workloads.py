"""The benchmark workloads.

Each workload is a closed loop: the next batch, epoch, read or query starts
only after the previous one has committed or returned. A workload provides

- ``build_base``: the seed-independent base inputs, built once with Spark
  in a separate generator process and cached;
- ``build_seed``: the seed's own inputs derived from the base without
  Spark, with their oracle results, cached per seed;
- ``load_inputs``: the cached inputs' paths and oracle results
  (none of the above is in ``setup_s``);
- ``prepare``: fresh per-run state from the inputs (cheap, repeatable);
- ``warm_up``: the untimed warm-up pass of the same work;
- ``window``: the timed loop, returning its samples;
- ``check``: the oracle comparison of everything the window produced.

Sizes are fixed here so the parent and the change always run the same
work; ``--seconds`` decides how many whole units of it a window runs.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

import oracles

STREAM_ID = "bench"
BASE_SEED = 42  # generator seed of the base inputs; --seed permutes their keys

# replay_bulk: history replay, REPLAY_BATCHES micro-batches per pass
REPLAY_EVENTS = 400_000
REPLAY_BATCHES = 4
REPLAY_DOCS = REPLAY_EVENTS // 20
REPLAY_BUCKETS = 64
REPLAY_WARM_BATCHES = 1

# stream_tail: one-file epochs through run_ingest
STREAM_BUCKETS = 16
EPOCH_EVENTS = 20_000
STREAM_DOCS = 20_000
WARM_EPOCHS = 2
COMPACT_EVERY = 4
EXPIRE_EVERY = 4
# every epoch touches every bucket, so compaction (and expiry) recur every
# COMPACT_EVERY epochs; a window runs whole cycles of that length
CYCLE = COMPACT_EVERY
# epoch files for the warm-up and three windows (a traced run measures an
# untraced, a traced and another untraced window)
WINDOWS = 3
STREAM_FILES = WARM_EPOCHS + WINDOWS * CYCLE

# read_serve: deep MoR delta stack; scans, lookups, rollup steps, one
# compaction; IVFADC/PQ vector search over a 2,000-row embeddings table
SERVE_BUCKETS = 8
SERVE_DEPTH = 10
SERVE_WARM_DEPTH = 2  # the small table the warm-up reads
SERVE_BATCH_EVENTS = 4_000
SERVE_DOCS = 6_000
SERVE_STEP_EVENTS = 1_000
LOOKUPS_PER_ROUND = 4
PROBES_PER_ROUND = 2
LOOKUP_KEYS = 8
ANN_ROWS = 2_000
ANN_DIM = 64
ANN_QUERIES = (0, 1, 2)
ANN_WARM = WINDOWS  # embeddings variant used only by the warm-up
ANN_WARM_ROWS = 200


@dataclass
class Ctx:
    spark: object
    seed: int
    seconds: float
    work: str
    digest: str
    tracer: object
    trace: bool = False
    attempted: int = 0
    failed: int = 0
    errors: list = field(default_factory=list)

    def fail(self, what: str, n: int = 1) -> None:
        self.failed += n
        self.errors.append(what)


def _timed(fn):
    t0 = time.monotonic()
    out = fn()
    return time.monotonic() - t0, out


def _payload_schema():
    from pyspark.sql import types as T

    from arango_etl_spark.streaming.runner import EVENT_SCHEMA

    return T.StructType(
        [f for f in EVENT_SCHEMA.fields if f.name in ("doc_id", "tokens", "n_tok", "source")]
    )


def _gen_cfg(n_events: int, n_docs: int, n_batches: int, salt: int = 0):
    from arango_etl_spark.sources.cdc_generator import GeneratorConfig

    # 10% of events on one hot doc, 3% duplicate deliveries, 5% deletes
    return GeneratorConfig(
        n_events=n_events, n_docs=n_docs, n_batches=n_batches, seed=BASE_SEED + salt,
        hot_doc_permille=100, dup_permille=30, delete_permille=50,
    )


def _read_batch(spark, path: str):
    from arango_etl_spark.streaming.runner import EVENT_SCHEMA

    return spark.read.schema(EVENT_SCHEMA).parquet(path)


def _cache_dir(ctx: Ctx, kind: str, spec: dict, per_seed: bool) -> str:
    import inputs

    return inputs.cache_path(kind, spec, ctx.digest, ctx.seed if per_seed else None)


class Workload:
    """Input plumbing shared by the workloads: ``spec`` names everything
    the base depends on; seed inputs depend on the base and the seed."""

    kind = ""

    def spec(self) -> dict:
        raise NotImplementedError

    def base_dir(self, ctx: Ctx) -> str:
        return _cache_dir(ctx, self.kind, self.spec(), per_seed=False)

    def seed_dir(self, ctx: Ctx) -> str:
        return _cache_dir(ctx, self.kind, self.spec(), per_seed=True)


# ----------------------------------------------------------- replay_bulk
class ReplayBulk(Workload):
    """History replay: each pass applies the batches in order to a fresh
    MoR table."""

    kind = "replay"

    def spec(self) -> dict:
        return _gen_cfg(REPLAY_EVENTS, REPLAY_DOCS, REPLAY_BATCHES).__dict__

    def build_base(self, ctx: Ctx, d: str) -> None:
        import inputs

        inputs.write_event_batches(
            ctx.spark, _gen_cfg(REPLAY_EVENTS, REPLAY_DOCS, REPLAY_BATCHES), d)

    def build_seed(self, ctx: Ctx, base: str, d: str) -> None:
        import inputs

        batches = inputs.permute_keys(base, d, ctx.seed, REPLAY_DOCS)
        oracles.save_json(d, "batch_keys", oracles.batch_key_counts(batches))
        oracles.state_of([os.path.join(d, "*", "*.parquet")]).to_parquet(
            os.path.join(d, "expected_state.parquet"))

    def load_inputs(self, ctx: Ctx) -> None:
        self.dir = self.seed_dir(ctx)
        self.batches = [os.path.join(self.dir, f"batch={b:05d}") for b in range(REPLAY_BATCHES)]
        self.expected_keys = oracles.load_json(self.dir, "batch_keys")
        self.tables = 0

    def prepare(self, ctx: Ctx) -> None:
        from arango_etl_spark.plans.lakehouse import SnapshotTable

        self.tables += 1
        self.table = SnapshotTable.create(
            os.path.join(ctx.work, f"replay{self.tables}"), _payload_schema(),
            n_buckets=REPLAY_BUCKETS)

    def _apply(self, ctx: Ctx, b: int):
        from arango_etl_spark.operators import merge_into

        return merge_into.apply_changes(
            ctx.spark, self.table, _read_batch(ctx.spark, self.batches[b]),
            batch_id=b, fence_stream_id=STREAM_ID, strategy="mor",
            compact_every=0,
        )

    def warm_up(self, ctx: Ctx) -> None:
        for b in range(REPLAY_WARM_BATCHES):
            self._apply(ctx, b)

    def window(self, ctx: Ctx, w: int) -> dict:
        """Batches until ``seconds`` have passed, at least one whole pass;
        every REPLAY_BATCHES batches a new pass starts on a fresh table."""
        spans, results = [], []
        self.complete = None
        t_start = time.monotonic()
        while len(spans) < REPLAY_BATCHES or time.monotonic() - t_start < ctx.seconds:
            b = len(spans) % REPLAY_BATCHES
            if b == 0:
                self.prepare(ctx)
            ctx.tracer.op = f"w{w}-table{self.tables}-batch{b}"
            t0 = time.time()
            res = self._apply(ctx, b)
            spans.append((t0, time.time()))
            results.append((b, res))
            if b == REPLAY_BATCHES - 1:
                self.complete = self.table
        ctx.tracer.op = None
        self.results = results
        op_s = [e - s for s, e in spans]
        n_events = sum(self.expected_keys[b][0] for b, _ in results)
        return {
            "op_s": op_s,
            "op_spans": spans,
            "work": n_events,
            "busy_s": sum(op_s),
            "detail": {"replay_ev_per_s": (n_events / sum(op_s), "events/s")},
        }

    def check(self, ctx: Ctx) -> None:
        for b, res in self.results:
            ctx.attempted += 1
            if res.keys_applied != self.expected_keys[b][1]:
                ctx.fail(f"batch {b}: keys_applied {res.keys_applied} != "
                         f"{self.expected_keys[b][1]}")
        expected = oracles.load_state(self.dir)
        bad = oracles.state_mismatch(self.complete.read(ctx.spark).toPandas(), expected)
        if bad:
            ctx.fail(f"final state: {bad[0]}", REPLAY_BATCHES)


# ----------------------------------------------------------- stream_tail
class StreamTail(Workload):
    """The ``current``-mode tail: one long-running run_ingest query with
    lineage, compaction and snapshot expiry on. The benchmark publishes one
    epoch file at a time and waits for that epoch to commit (closed loop)."""

    kind = "stream"

    def spec(self) -> dict:
        return _gen_cfg(STREAM_FILES * EPOCH_EVENTS, STREAM_DOCS, STREAM_FILES).__dict__

    def build_base(self, ctx: Ctx, d: str) -> None:
        import inputs

        inputs.write_event_batches(
            ctx.spark, _gen_cfg(STREAM_FILES * EPOCH_EVENTS, STREAM_DOCS, STREAM_FILES), d)

    def build_seed(self, ctx: Ctx, base: str, d: str) -> None:
        import inputs

        batches = inputs.permute_keys(base, d, ctx.seed, STREAM_DOCS)
        oracles.save_json(d, "batch_keys", oracles.batch_key_counts(batches))

    def load_inputs(self, ctx: Ctx) -> None:
        self.dir = self.seed_dir(ctx)
        self.expected_keys = oracles.load_json(self.dir, "batch_keys")
        self.n_files = STREAM_FILES
        self.runs = 0

    def prepare(self, ctx: Ctx) -> None:
        from arango_etl_spark.plans.lakehouse import SnapshotTable
        from arango_etl_spark.streaming.lineage import LineageLog

        self.runs += 1
        self.root = os.path.join(ctx.work, f"stream{self.runs}")
        self.watched = os.path.join(self.root, "feed")
        self.staged = os.path.join(self.root, "staged")
        shutil.copytree(self.dir, self.staged,
                        ignore=shutil.ignore_patterns("*.json"))
        os.makedirs(self.watched)
        self.table = SnapshotTable.create(
            os.path.join(self.root, "table"), _payload_schema(), n_buckets=STREAM_BUCKETS)
        self.lineage = LineageLog(os.path.join(self.root, "lineage"))
        self.fed = 0

    def warm_up(self, ctx: Ctx) -> None:
        """Start the query on the prepared state and run its first epochs."""
        from tracing import ProgressLog

        from arango_etl_spark.streaming import runner

        self.progress = ProgressLog(ctx.spark)
        cfg = runner.IngestConfig(
            stream_id=STREAM_ID, strategy="mor", compact_every=COMPACT_EVERY,
            max_files_per_trigger=1, trigger_interval_secs=0,
            expire_every=EXPIRE_EVERY,
        )
        self.query = runner.run_ingest(
            ctx.spark, self.watched, self.table, os.path.join(self.root, "checkpoint"),
            lineage=self.lineage, cfg=cfg, available_now=False,
        )
        for _ in range(WARM_EPOCHS):
            self._feed_one()

    def _feed_one(self) -> dict:
        """Publish the next epoch file and wait until its epoch commits."""
        name = f"batch={self.fed:05d}"
        os.replace(os.path.join(self.staged, name), os.path.join(self.watched, name))
        self.fed += 1
        want = self.fed

        def done(events):
            return sum(1 for e in events if e["rows"] > 0) >= want

        while not self.progress.wait_for(done, timeout=1.0):
            if self.query.exception() is not None:
                raise RuntimeError(f"stream failed: {self.query.exception()}")
            if not self.query.isActive:
                raise RuntimeError("stream stopped")
        return [e for e in self.progress.events if e["rows"] > 0][want - 1]

    def window(self, ctx: Ctx, w: int) -> dict:
        """Whole compaction cycles until ``seconds`` have passed."""
        ctx.tracer.op = f"w{w}"
        epochs, spans = [], []
        t_start = time.monotonic()
        # a traced run keeps a cycle of files for each window still to come
        limit = self.n_files - (CYCLE * (WINDOWS - 1 - w) if ctx.trace else 0)
        while self.fed + CYCLE <= limit:
            for _ in range(CYCLE):
                t0 = time.time()
                epochs.append(self._feed_one())
                spans.append((t0, time.time()))
            if time.monotonic() - t_start >= ctx.seconds:
                break
        wall = time.monotonic() - t_start
        ctx.tracer.op = None
        self.window_epochs = epochs
        n_events = sum(self.expected_keys[e["batch"]][0] for e in epochs)
        trig = [e["durations"]["triggerExecution"] / 1000 for e in epochs]
        return {
            "op_s": trig,
            "op_spans": spans,
            "work": n_events,
            "busy_s": wall,
            "epochs": epochs,
            "detail": {
                "stream_ev_per_s": (n_events / wall, "events/s"),
                "epoch_s_p50": (statistics.median(trig), "s"),
            },
        }

    def check(self, ctx: Ctx) -> None:
        lin = self.lineage.read(ctx.spark).toPandas()
        applied = lin[lin["partition_id"].isna()].set_index("batch_id")["events_applied"]
        seen = lin[lin["partition_id"].notna()].groupby("batch_id")["events_seen"].sum()
        for e in self.window_epochs:
            ctx.attempted += 1
            b = e["batch"]
            want_n, want_k = self.expected_keys[b]
            if seen.get(b) != want_n or applied.get(b) != want_k:
                ctx.fail(f"epoch {b}: {seen.get(b)} events, {applied.get(b)} keys; "
                         f"expected {want_n}, {want_k}")
        expected = oracles.state_of([os.path.join(self.watched, "*", "*.parquet")])
        bad = oracles.state_mismatch(self.table.read(ctx.spark).toPandas(), expected)
        if bad:
            ctx.fail(f"stream state: {bad[0]}", len(self.window_epochs))

    def close(self) -> None:
        q = getattr(self, "query", None)
        if q is not None and q.isActive:
            q.stop()


# ------------------------------------------------------------ read_serve
class ReadServe(Workload):
    """Readers beside a writer. The table side is a MoR table with a deep
    delta stack: full scans, point lookups and small rollup steps, each
    round's writes rolled back after it so every round sees the same
    table, then one compaction. The vector side is IVFADC build + persist,
    a first probe on the loaded index, steady probes inside the rounds and
    the oracle-paired inline ``pq_topk_multi``."""

    kind = "serve"

    def spec(self) -> dict:
        return {"stack": self._cfgs()[0].__dict__, "step": self._cfgs()[1].__dict__,
                "buckets": SERVE_BUCKETS, "warm_depth": SERVE_WARM_DEPTH}

    @staticmethod
    def _cfgs():
        return (_gen_cfg(SERVE_DEPTH * SERVE_BATCH_EVENTS, SERVE_DOCS, SERVE_DEPTH),
                _gen_cfg(SERVE_STEP_EVENTS, SERVE_DOCS, 1, salt=1))

    def build_base(self, ctx: Ctx, d: str) -> None:
        """Events and the engine-built tables the readers face."""
        import inputs

        cfg, step_cfg = self._cfgs()
        inputs.write_event_batches(ctx.spark, cfg, os.path.join(d, "events"))
        inputs.write_event_batches(ctx.spark, step_cfg, os.path.join(d, "step"))
        self._build_tables(ctx, d, d, SERVE_DEPTH)
        self._build_tables(ctx, d, os.path.join(d, "warm"), SERVE_WARM_DEPTH)
        oracles.state_of([os.path.join(d, "events", "*", "*.parquet")]).to_parquet(
            os.path.join(d, "expected_state.parquet"))

    def build_seed(self, ctx: Ctx, base: str, d: str) -> None:
        """The seed's rollup step batch and embeddings, and the rollup
        oracle (the vector oracles run at check time, for the variants a
        run uses)."""
        import inputs

        os.makedirs(os.path.join(d, "step"))
        inputs.permute_keys(os.path.join(base, "step"), os.path.join(d, "step"),
                            ctx.seed, SERVE_DOCS)
        oracles.save_json(d, "rollup", oracles.rollup_of(oracles.state_of([
            os.path.join(base, "events", "*", "*.parquet"),
            os.path.join(d, "step", "*", "*.parquet")])))
        for v in range(WINDOWS + 1):
            vd = os.path.join(d, f"ann{v}")
            os.makedirs(vd)
            rows = ANN_WARM_ROWS if v == ANN_WARM else ANN_ROWS
            inputs.write_embeddings(os.path.join(vd, "embeddings.parquet"),
                                    ctx.seed * (WINDOWS + 1) + v, rows, ANN_DIM)

    def load_inputs(self, ctx: Ctx) -> None:
        self.base_path = self.base_dir(ctx)
        self.dir = self.seed_dir(ctx)
        self.expected = oracles.load_state(self.base_path)
        self.expected_by_key = self.expected.set_index("doc_id")
        self.expected_rollup = oracles.load_json(self.dir, "rollup")
        self.ann_oracle = {}
        self.copies = 0

    def _build_tables(self, ctx: Ctx, d: str, root: str, depth: int) -> None:
        """The tables the readers face, built by the engine under test: a
        delta stack of ``depth`` appended batches (no compaction) and a
        rollup of it bootstrapped at the last batch."""
        from pyspark.sql import types as T

        from arango_etl_spark.operators.merge_into import apply_changes
        from arango_etl_spark.plans.lakehouse import SnapshotTable
        from arango_etl_spark.streaming.rollup import create_rollup_table, recompute_rollup

        base = SnapshotTable.create(os.path.join(root, "base"), _payload_schema(),
                                    n_buckets=SERVE_BUCKETS)
        for b in range(depth):
            apply_changes(ctx.spark, base,
                          _read_batch(ctx.spark, os.path.join(d, "events", f"batch={b:05d}")),
                          batch_id=b, fence_stream_id=STREAM_ID, compact_every=0)
        rollup = create_rollup_table(os.path.join(root, "rollup"), "source", T.StringType())
        recompute_rollup(ctx.spark, base, rollup, "source", "n_tok",
                         stream_id=STREAM_ID, batch_id=SERVE_DEPTH - 1)

    def _open(self, ctx: Ctx, src: str) -> None:
        """Work on a fresh copy of the tables under ``src``."""
        from arango_etl_spark.plans.lakehouse import SnapshotTable

        self.copies += 1
        root = os.path.join(ctx.work, f"serve{self.copies}")
        for t in ("base", "rollup"):
            shutil.copytree(os.path.join(src, t), os.path.join(root, t))
        self.base = SnapshotTable(os.path.join(root, "base"))
        self.rollup = SnapshotTable(os.path.join(root, "rollup"))
        self.base_v = self.base.current_version()
        self.rollup_v = self.rollup.current_version()

    def prepare(self, ctx: Ctx) -> None:
        self._open(ctx, self.base_path)
        self.step_df = _read_batch(ctx.spark, os.path.join(self.dir, "step"))
        self.n_lookups = 0

    def _reset(self) -> None:
        """Undo the writes of the last round (RESTORE-style rollback)."""
        if self.base.current_version() != self.base_v:
            self.base_v = self.base.rollback(self.base_v)["version"]
        if self.rollup.current_version() != self.rollup_v:
            self.rollup_v = self.rollup.rollback(self.rollup_v)["version"]

    # ---- table side
    def _scan(self, ctx: Ctx):
        with ctx.tracer.span("scan_collect", "lakehouse"):
            return self.base.read(ctx.spark).toPandas()

    def _lookup(self, ctx: Ctx):
        # a hot doc, then keys spread over the universe (some deleted,
        # some never written)
        i = self.n_lookups
        self.n_lookups += 1
        keys = ["doc_0"] + [
            f"doc_{(ctx.seed * 7919 + i * 104729 + j * 1301) % (SERVE_DOCS + 50)}"
            for j in range(1, LOOKUP_KEYS)
        ]
        with ctx.tracer.span("lookup_collect", "lakehouse"):
            rows = self.base.read_keys(ctx.spark, keys).collect()
        return keys, rows

    def _rollup_step(self, ctx: Ctx):
        from arango_etl_spark.streaming import rollup

        return rollup.maintain_rollup(
            ctx.spark, self.base, self.rollup, self.step_df,
            batch_id=SERVE_DEPTH, group_col="source", measure_col="n_tok",
            stream_id=STREAM_ID, compact_every=0,
        )

    # ---- vector side
    def _ann_dir(self, v: int) -> str:
        return os.path.join(self.dir, f"ann{v}")

    def _ann_index(self, ctx: Ctx, v: int) -> str:
        """Quantize, build and persist the IVFADC index of variant v."""
        from pyspark.sql import functions as F

        from arango_etl_spark.operators import pq, similarity

        emb = ctx.spark.read.parquet(os.path.join(self._ann_dir(v), "embeddings.parquet"))
        qz = similarity.quantize_embeddings(emb).select("vec_id", "qvec")
        self.queries = qz.where(F.col("vec_id").isin(*ANN_QUERIES)).select(
            F.col("vec_id").alias("query_id"), "qvec")
        path = os.path.join(ctx.work, f"ivfpq-{v}-{time.monotonic_ns()}")
        pq.save_ivfpq_index(pq.build_ivfpq_index(qz, kc=8, m=8, ksub=16), path)
        return path

    def _probe(self, ctx: Ctx, index):
        from arango_etl_spark.operators import pq

        df = pq.ivfpq_topk(index, self.queries, k=10, n_probe=2)
        return _run_query(ctx, df, "ivfpq_topk")

    def _round(self, ctx: Ctx, index, t: dict, out: dict,
               lookups: int = LOOKUPS_PER_ROUND, probes: int = PROBES_PER_ROUND) -> None:
        """scan, lookups, probes, one rollup step — then, untimed, keep the
        rollup output and roll the round's writes back."""
        dt, pdf = _timed(lambda: self._scan(ctx))
        t["scan_s"].append(dt)
        out["scans"].append(pdf)
        for _ in range(lookups):
            dt, res = _timed(lambda: self._lookup(ctx))
            t["lookup_s"].append(dt)
            out["lookups"].append(res)
        for _ in range(probes):
            dt, res = _timed(lambda: self._probe(ctx, index))
            t["probe_s"].append(dt)
            out["ann"].append(("ivfpq_topk_multi", self.v, res))
        dt, res = _timed(lambda: self._rollup_step(ctx))
        t["rollup_step_s"].append(dt)
        out["rollups"].append((res["rollup"], self.rollup.read(ctx.spark).collect()))
        self._reset()

    @staticmethod
    def _empty():
        return ({k: [] for k in ("scan_s", "lookup_s", "probe_s", "rollup_step_s")},
                {k: [] for k in ("scans", "lookups", "ann", "rollups")})

    def warm_up(self, ctx: Ctx) -> None:
        """One round of every operation on small inputs of the same shape:
        the shallow table and a 200-row embeddings variant. The prepared
        tables stay untouched for the window."""
        from arango_etl_spark.operators import pq

        prepared = (self.base, self.rollup, self.base_v, self.rollup_v)
        self._open(ctx, os.path.join(self.base_path, "warm"))
        self.v = ANN_WARM
        index = pq.load_ivfpq_index(ctx.spark, self._ann_index(ctx, self.v))
        self._round(ctx, index, *self._empty(), lookups=1, probes=1)
        self.base, self.rollup, self.base_v, self.rollup_v = prepared
        self.n_lookups = 0

    def window(self, ctx: Ctx, w: int) -> dict:
        from arango_etl_spark import parity
        from arango_etl_spark.operators import merge_into, pq

        self.v = w  # a window's first probe compiles plans no earlier one did
        t, out = self._empty()
        ctx.tracer.op = f"w{w}-ann-build"
        build_s, path = _timed(lambda: self._ann_index(ctx, self.v))
        index = pq.load_ivfpq_index(ctx.spark, path)
        ctx.tracer.op = f"w{w}-ann-first"
        first_s, res = _timed(lambda: self._probe(ctx, index))
        out["ann"].append(("ivfpq_topk_multi", self.v, res))

        spans = []
        t_start = time.monotonic()
        while not spans or time.monotonic() - t_start < ctx.seconds:
            ctx.tracer.op = f"w{w}-round{len(spans)}"
            t0 = time.time()
            self._round(ctx, index, t, out)
            spans.append((t0, time.time()))

        ctx.tracer.op = f"w{w}-compact"
        compact_s, _ = _timed(lambda: merge_into.compact(ctx.spark, self.base))
        ctx.tracer.op = None
        out["compacted"] = self.base.read(ctx.spark).toPandas()
        self._reset()

        ctx.tracer.op = f"w{w}-inline"
        inline_s, res = _timed(lambda: _run_query(
            ctx, parity.queries()["pq_topk_multi"](ctx.spark, self._ann_dir(self.v)),
            "pq_topk_multi"))
        ctx.tracer.op = None
        out["ann"].append(("pq_topk_multi", self.v, res))
        self.out = out

        reads = len(t["scan_s"]) + len(t["lookup_s"]) + len(t["probe_s"])
        busy = (sum(sum(v) for v in t.values()) + compact_s + build_s + first_s
                + inline_s)
        return {
            "op_s": t["lookup_s"],
            "op_spans": spans,
            "work": reads,
            "busy_s": busy,
            "detail": {
                "scan_s": (statistics.median(t["scan_s"]), "s"),
                "lookup_s_p50": (statistics.median(t["lookup_s"]), "s"),
                "rollup_step_s_p50": (statistics.median(t["rollup_step_s"]), "s"),
                "compact_s": (compact_s, "s"),
                "ann_build_s": (build_s, "s"),
                "ann_first_query_s": (first_s, "s"),
                "ann_query_s_p50": (statistics.median(t["probe_s"]), "s"),
                "ann_inline_s": (inline_s, "s"),
            },
        }

    def check(self, ctx: Ctx) -> None:
        out = self.out
        for i, pdf in enumerate(out["scans"] + [out["compacted"]]):
            ctx.attempted += 1
            bad = oracles.state_mismatch(pdf, self.expected)
            if bad:
                ctx.fail(f"scan {i}: {bad[0]}")
        exp = self.expected_by_key
        for keys, rows in out["lookups"]:
            ctx.attempted += 1
            got = sorted((r["doc_id"], list(r["tokens"]), r["n_tok"], r["source"]) for r in rows)
            want = sorted(
                (k, list(exp.at[k, "tokens"]), int(exp.at[k, "n_tok"]), exp.at[k, "source"])
                for k in set(keys) if k in exp.index
            )
            if got != want:
                ctx.fail(f"lookup {keys[:3]}: {len(got)} rows vs oracle {len(want)}")
        for mode, rows in out["rollups"]:
            ctx.attempted += 1
            got = {r["source"]: (int(r["cnt"]), float(r["total"])) for r in rows}
            if mode != "incremental" or got != self.expected_rollup:
                ctx.fail(f"rollup step ({mode}): groups differ from oracle")
        for name, v, got in out["ann"]:
            ctx.attempted += 1
            if (name, v) not in self.ann_oracle:
                self.ann_oracle[(name, v)] = oracles.parity_oracle(name, self._ann_dir(v))
            bad = oracles.rows_mismatch(name, got, self.ann_oracle[(name, v)])
            if bad:
                ctx.fail(bad[0])


def _run_query(ctx: Ctx, df, name: str):
    """Execute a query and return its normalised rows. Traced, the plan is
    forced first so analysis/optimisation/planning time and the optimised
    plan size are recorded apart from execution."""
    tracer = ctx.tracer
    if tracer.enabled:
        with tracer.span(f"{name}.plan", "pq") as info:
            qe = df._jdf.queryExecution()
            qe.executedPlan()
            info["plan_bytes"] = len(qe.optimizedPlan().toString())
    with tracer.span(f"{name}.exec", "pq"):
        rows = df.collect()
    return oracles.normalized(df.columns, [tuple(r) for r in rows])


WORKLOADS = {
    "replay_bulk": ReplayBulk,
    "stream_tail": StreamTail,
    "read_serve": ReadServe,
}
