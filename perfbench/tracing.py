"""Outside-in tracing: spans around the engine's public calls, Spark job
tags on the jobs each call launches, and stage metrics read back from
Spark's status store after the run.

Nothing here edits the engine. ``Tracer.install`` swaps the public
functions and methods listed in ``WRAPPED`` for timing wrappers and
``uninstall`` puts the originals back; untraced runs never install it.
"""

from __future__ import annotations

import importlib
import itertools
import json
import os
import threading
import time
from contextlib import contextmanager

# (module, attribute path, layer): every public call the trace times.
# A function imported by name into another module is patched there too,
# because the caller looks it up in its own namespace.
WRAPPED = [
    ("arango_etl_spark.operators.merge_into", "apply_changes", "merge_into"),
    ("arango_etl_spark.streaming.runner", "apply_changes", "merge_into"),
    ("arango_etl_spark.streaming.rollup", "apply_changes", "merge_into"),
    ("arango_etl_spark.operators.merge_into", "compact", "merge_into"),
    ("arango_etl_spark.plans.lakehouse", "SnapshotTable.last_batch_id", "merge_into"),
    ("arango_etl_spark.plans.lakehouse", "SnapshotTable.stage_write", "lakehouse"),
    ("arango_etl_spark.plans.lakehouse", "SnapshotTable.commit", "lakehouse"),
    ("arango_etl_spark.plans.lakehouse", "SnapshotTable.manifest", "lakehouse"),
    ("arango_etl_spark.plans.lakehouse", "SnapshotTable.data_files", "lakehouse"),
    ("arango_etl_spark.plans.lakehouse", "SnapshotTable.read", "lakehouse"),
    ("arango_etl_spark.plans.lakehouse", "SnapshotTable.read_keys", "lakehouse"),
    ("arango_etl_spark.plans.lakehouse", "SnapshotTable.expire_snapshots", "lakehouse"),
    ("arango_etl_spark.streaming.runner", "run_ingest", "runner"),
    ("arango_etl_spark.streaming.lineage", "LineageLog.record_batch", "lineage"),
    ("arango_etl_spark.streaming.lineage", "LineageLog.failure_count", "lineage"),
    ("arango_etl_spark.streaming.rollup", "maintain_rollup", "rollup"),
    ("arango_etl_spark.operators.pq", "build_ivfpq_index", "pq"),
    ("arango_etl_spark.operators.pq", "save_ivfpq_index", "pq"),
    ("arango_etl_spark.operators.pq", "load_ivfpq_index", "pq"),
    ("arango_etl_spark.operators.pq", "ivfpq_topk", "pq"),
    ("arango_etl_spark.operators.pq", "build_pq_index", "pq"),
    ("arango_etl_spark.operators.pq", "pq_topk", "pq"),
    ("arango_etl_spark.operators.similarity", "quantize_embeddings", "similarity"),
]
# the dedup strategy the merge uses is looked up in this dict per call
DEDUP_TABLE = ("arango_etl_spark.operators.merge_into", "DEDUP_STRATEGIES", "max_by")

TAG_PREFIX = "pb-"


class Tracer:
    """In-memory span recorder. Spans are dicts with ``id``, ``name``,
    ``layer``, ``start``, ``end``, ``parent``, ``op`` (the id shared by all
    spans of one batch, epoch or query) and optional ``info``."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.enabled = False
        self.op = None
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._saved: list[tuple[object, str, object]] = []

    # ------------------------------------------------------------ spans
    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _op_id(self) -> str | None:
        # inside foreachBatch the stream thread carries its epoch id
        epoch = self.sc.getLocalProperty("streaming.sql.batchId")
        if epoch is not None:
            return f"{self.op}:epoch{epoch}"
        return self.op

    @contextmanager
    def span(self, name: str, layer: str):
        """Time a block as one span; the block's Spark jobs get its tag."""
        if not self.enabled:
            yield {}
            return
        stack = self._stack()
        with self._lock:
            sid = next(self._ids)
        rec = {
            "id": sid, "name": name, "layer": layer,
            "parent": stack[-1] if stack else None, "op": self._op_id(),
            "info": {},
        }
        tag = f"{TAG_PREFIX}{sid}"
        stack.append(sid)
        self.sc.addJobTag(tag)
        rec["start"] = time.time()
        try:
            yield rec["info"]
        finally:
            rec["end"] = time.time()
            self.sc.removeJobTag(tag)
            stack.pop()
            with self._lock:
                self.spans.append(rec)

    def _wrapper(self, fn, name: str, layer: str):
        tracer = self

        def traced(*args, **kwargs):
            with tracer.span(name, layer) as info:
                out = fn(*args, **kwargs)
                _record_result(name, out, info, args)
                return out

        traced.__wrapped__ = fn
        traced.__name__ = getattr(fn, "__name__", name)
        return traced

    # ---------------------------------------------------- install/remove
    def install(self) -> None:
        for mod_name, path, layer in WRAPPED:
            owner = importlib.import_module(mod_name)
            *parents, attr = path.split(".")
            for p in parents:
                owner = getattr(owner, p)
            fn = getattr(owner, attr)
            self._saved.append((owner, attr, fn))
            setattr(owner, attr, self._wrapper(fn, path.split(".")[-1], layer))
        mod_name, table, key = DEDUP_TABLE
        strategies = getattr(importlib.import_module(mod_name), table)
        self._saved.append((strategies, key, strategies[key]))
        strategies[key] = self._wrapper(strategies[key], "dedup_events", "dedup_window")
        self.enabled = True

    def uninstall(self) -> None:
        self.enabled = False
        for owner, attr, fn in reversed(self._saved):
            if isinstance(owner, dict):
                owner[attr] = fn
            else:
                setattr(owner, attr, fn)
        self._saved.clear()


def _record_result(name: str, out, info: dict, args) -> None:
    """Counts taken at the boundary where the work happens."""
    if name == "stage_write":
        info["files"] = sum(len(fs) for fs in out[1].values())
    elif name == "data_files":
        info["files"] = len(out)
    elif name == "manifest":
        table, version = args[0], out["version"]
        p = os.path.join(table.meta_dir, f"v{version}.json")
        info["bytes"] = os.path.getsize(p) if os.path.exists(p) else 0
    elif name == "apply_changes" and out is not None:
        info["keys_applied"] = out.keys_applied or 0


# ------------------------------------------------------------ status store
def last_job_id(spark) -> int:
    """Highest job id Spark has recorded so far (-1 if none)."""
    jobs = spark.sparkContext._jsc.sc().statusStore().jobsList(None)
    return max((jobs.apply(i).jobId() for i in range(jobs.size())), default=-1)


SKEW_SHAPES = ("exchange", "result", "write")  # stages that read a shuffle


def harvest(spark, after_job: int) -> list[dict]:
    """Stage records for every job with id > ``after_job``: the job's tags,
    the stage's shape and metrics, and for shuffle-reading stages the
    median and max task run time."""
    from stats import stage_shape

    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    gw = sc._gateway
    quantiles = gw.new_array(gw.jvm.double, 2)
    quantiles[0], quantiles[1] = 0.5, 1.0

    jobs = store.jobsList(None)
    stage_jobs: dict[int, dict] = {}
    for i in range(jobs.size()):
        j = jobs.apply(i)
        jid = j.jobId()
        if jid <= after_job:
            continue
        tags = [t for t in j.jobTags().mkString(",").split(",") if t.startswith(TAG_PREFIX)]
        ids = [int(t[len(TAG_PREFIX):]) for t in tags]
        for sid in j.stageIds().mkString(",").split(","):
            if sid:
                stage_jobs[int(sid)] = {"job": jid, "spans": ids}
    out = []
    stages = store.stageList(None, False, False, gw.new_array(gw.jvm.double, 0), None)
    for i in range(stages.size()):
        s = stages.apply(i)
        sid = s.stageId()
        if sid not in stage_jobs or s.status().toString() != "COMPLETE":
            continue
        rec = {
            "stage": sid,
            **stage_jobs[sid],
            "tasks": s.numTasks(),
            "run_s": s.executorRunTime() / 1000.0,
            "gc_s": s.jvmGcTime() / 1000.0,
            "input_bytes": s.inputBytes(),
            "input_records": s.inputRecords(),
            "output_bytes": s.outputBytes(),
            "shuffle_read": s.shuffleReadBytes(),
            "shuffle_write": s.shuffleWriteBytes(),
            "spill_bytes": s.memoryBytesSpilled() + s.diskBytesSpilled(),
        }
        # local parquet scans can report a few KB of input bytes for MBs of
        # data, so records read also mark a scan
        rec["shape"] = stage_shape(
            rec["input_bytes"] or rec["input_records"], rec["shuffle_read"],
            rec["shuffle_write"], rec["output_bytes"],
        )
        if rec["shape"] in SKEW_SHAPES and rec["tasks"] > 1:
            summ = store.taskSummary(sid, s.attemptId(), quantiles)
            if summ.isDefined():
                rt = summ.get().executorRunTime()
                rec["task_p50_s"] = rt.apply(0) / 1000.0
                rec["task_max_s"] = rt.apply(1) / 1000.0
        out.append(rec)
    return out


def write_trace(path: str, spans: list[dict], stages: list[dict],
                epochs: list[dict]) -> None:
    """Write the spans kept in memory, with the stage records and
    streaming progress they were matched against, as one JSON file."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump({"spans": spans, "stages": stages, "epochs": epochs}, f)


def _iso_seconds(ts: str) -> float:
    """Progress timestamps are ISO-8601 UTC strings."""
    from datetime import datetime

    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


class ProgressLog:
    """Collects StreamingQueryProgress events (per-trigger durations) from
    a listener registered on the session."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        log = self
        self.events: list[dict] = []
        self._cv = threading.Condition()

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                rec = {
                    "batch": p.batchId,
                    "start": _iso_seconds(p.timestamp),
                    "rows": p.numInputRows,
                    "durations": dict(p.durationMs),
                }
                with log._cv:
                    log.events.append(rec)
                    log._cv.notify_all()

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = _Listener()
        spark.streams.addListener(self.listener)

    def wait_for(self, pred, timeout: float) -> bool:
        with self._cv:
            return self._cv.wait_for(lambda: pred(self.events), timeout)
