"""Per-layer metrics of a traced window, computed from the spans the
tracer recorded, the stage records harvested from Spark's status store and
the streaming progress events. Plain Python: no Spark objects here.

Per-call figures are means over the calls made in the window; a layer the
workload never calls reports 0.
"""

from __future__ import annotations

import statistics

from stats import layer_self_times, unattributed

SELF_LAYERS = (
    "merge_into", "lakehouse", "dedup_window", "lineage", "rollup", "pq", "similarity",
)


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def _ratio(a: float, b: float) -> float:
    return a / b if b else 0.0


class Window:
    """Index over one traced window's spans and stages."""

    def __init__(self, spans: list[dict], stages: list[dict]):
        self.spans = spans
        self.by_id = {s["id"]: s for s in spans}
        self.stages = stages

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def dur(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.named(name)]

    def stages_in(self, name: str, shapes: tuple[str, ...] | None = None) -> list[dict]:
        """Stages of jobs that ran while a span called ``name`` was open."""
        out = []
        for st in self.stages:
            if shapes is not None and st["shape"] not in shapes:
                continue
            if any(self.by_id.get(i, {}).get("name") == name for i in st["spans"]):
                out.append(st)
        return out

    def jobs_in(self, name: str) -> int:
        return len({st["job"] for st in self.stages_in(name)})

    def child_files(self, parent_name: str) -> list[int]:
        return [
            s["info"]["files"] for s in self.named("data_files")
            if s["parent"] is not None
            and self.by_id.get(s["parent"], {}).get("name") == parent_name
        ]


def layer_metrics(spans: list[dict], stages: list[dict], epochs: list[dict],
                  op_spans: list[tuple[float, float]]) -> dict[str, float]:
    """Every per-layer metric for one traced window.

    ``epochs`` are the window's streaming progress events (empty outside
    stream_tail); ``op_spans`` the (start, end) wall interval of each timed
    op, used for the unattributed remainder of the median op."""
    w = Window(spans, stages)
    m: dict[str, float] = {}
    n_ops = max(1, len(op_spans))

    # dedup_window: the scan + partial-aggregate stages of every merge
    merges = w.named("apply_changes")
    scan = w.stages_in("apply_changes", ("scan",))
    m["dedup_window.scan_task_s"] = _ratio(sum(s["run_s"] for s in scan), len(merges))
    m["dedup_window.input_rows"] = _ratio(sum(s["input_records"] for s in scan), len(merges))
    m["dedup_window.keys_ratio"] = _ratio(
        sum(s["info"].get("keys_applied", 0) for s in merges),
        sum(s["input_records"] for s in scan),
    )

    # lakehouse write path: exchange into buckets, parquet write
    writes = w.named("stage_write")
    ws = w.stages_in("stage_write")
    m["lakehouse.exchange_bytes"] = _ratio(sum(s["shuffle_write"] for s in ws), len(writes))
    wr = [s for s in ws if s["shape"] == "write"]
    m["lakehouse.write_task_s"] = _ratio(sum(s["run_s"] for s in wr), len(writes))
    m["lakehouse.output_bytes"] = _ratio(sum(s["output_bytes"] for s in wr), len(writes))
    m["lakehouse.files_written"] = _mean(s["info"]["files"] for s in writes)
    skewed = [s for s in ws if "task_max_s" in s]
    m["lakehouse.task_skew"] = _ratio(
        sum(s["task_max_s"] for s in skewed), sum(s["task_p50_s"] for s in skewed))

    # per-call fixed costs of the merge and its commit protocol
    m["merge_into.apply_changes_s"] = _mean(w.dur("apply_changes"))
    m["merge_into.jobs"] = _ratio(w.jobs_in("apply_changes"), len(merges))
    m["lakehouse.commit_s"] = _mean(w.dur("commit"))
    manifests = w.named("manifest")
    m["lakehouse.manifest_reads"] = len(manifests) / n_ops
    m["lakehouse.manifest_kb"] = _mean(s["info"].get("bytes", 0) / 1024 for s in manifests)
    m["lakehouse.expire_s"] = _mean(w.dur("expire_snapshots"))

    # runner: trigger loop vs the foreachBatch body
    trig = [e["durations"].get("triggerExecution", 0) / 1000 for e in epochs]
    add = [e["durations"].get("addBatch", 0) / 1000 for e in epochs]
    m["runner.trigger_s"] = statistics.median(trig) if trig else 0.0
    m["runner.add_batch_s"] = statistics.median(add) if add else 0.0
    m["runner.overhead_s"] = (
        statistics.median(t - a for t, a in zip(trig, add)) if trig else 0.0)
    m["runner.epochs"] = float(len(epochs))

    # lineage side jobs
    m["lineage.record_batch_s"] = _mean(w.dur("record_batch"))
    m["lineage.failure_count_s"] = _mean(w.dur("failure_count"))
    m["lineage.jobs"] = _ratio(
        w.jobs_in("record_batch") + w.jobs_in("failure_count"), len(epochs))

    # readers: full merge-on-read scans and point lookups
    scans = w.named("scan_collect")
    m["lakehouse.read_files"] = _mean(w.child_files("read"))
    m["lakehouse.scan_task_s"] = _ratio(
        sum(s["run_s"] for s in w.stages_in("scan_collect", ("scan",))), len(scans))
    m["lakehouse.resolve_task_s"] = _ratio(
        sum(s["run_s"] for s in w.stages_in("scan_collect", ("exchange", "result"))),
        len(scans))
    m["lakehouse.lookup_files"] = _mean(w.child_files("read_keys"))
    m["lakehouse.lookup_jobs"] = _ratio(
        w.jobs_in("lookup_collect"), len(w.named("lookup_collect")))

    # rollup maintenance: total, and the part that is not the base merge
    maint = w.named("maintain_rollup")
    m["rollup.maintain_s"] = _mean(w.dur("maintain_rollup"))
    m["rollup.delta_s"] = _mean(
        (s["end"] - s["start"]) - sum(
            c["end"] - c["start"] for c in merges if c["parent"] == s["id"])
        for s in maint
    )

    # compaction
    compacts = w.named("compact")
    m["merge_into.compact_s"] = _mean(w.dur("compact"))
    m["merge_into.compact_bytes"] = _ratio(
        sum(s["output_bytes"] for s in w.stages_in("compact", ("write",))), len(compacts))

    # pq / IVFADC: planning vs execution of each query
    plans = [s for s in spans if s["name"].endswith(".plan")]
    m["pq.plan_s"] = _mean(s["end"] - s["start"] for s in plans)
    m["pq.plan_kb"] = _mean(s["info"].get("plan_bytes", 0) / 1024 for s in plans)
    probes = w.named("ivfpq_topk.exec")
    m["pq.jobs"] = _ratio(w.jobs_in("ivfpq_topk.exec"), len(probes))
    m["pq.exec_s"] = statistics.median(w.dur("ivfpq_topk.exec")) if probes else 0.0
    m["pq.build_s"] = _mean(w.dur("build_ivfpq_index"))
    m["pq.save_s"] = _mean(w.dur("save_ivfpq_index"))

    # the runtime under all of them
    m["jvm.gc_s"] = sum(s["gc_s"] for s in stages)
    m["jvm.spill_bytes"] = float(sum(s["spill_bytes"] for s in stages))

    # self time per layer, per op
    self_t = layer_self_times(spans)
    for layer in SELF_LAYERS:
        m[f"{layer}.self_s"] = self_t.get(layer, 0.0) / n_ops

    # unattributed remainder of the median op (a replay batch, a stream
    # epoch's trigger, a read round or a probe)
    if epochs:
        ep = sorted(epochs, key=lambda e: e["durations"].get("triggerExecution", 0))
        ep = ep[len(ep) // 2]
        wall = (ep["start"], ep["start"] + ep["durations"]["triggerExecution"] / 1000)
        inside = [s for s in spans if s["op"] and s["op"].endswith(f":epoch{ep['batch']}")]
    elif op_spans:
        wall = sorted(op_spans, key=lambda x: x[1] - x[0])[len(op_spans) // 2]
        inside = spans
    else:
        wall, inside = (0.0, 0.0), []
    wall_s = wall[1] - wall[0]
    m["trace.op_wall_s"] = wall_s
    m["trace.unattributed_pct"] = _ratio(100 * unattributed(wall, inside), wall_s)
    return m
