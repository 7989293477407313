"""CDC-ingest benchmark: one closed-loop workload per process.

Run from the repository root:

    python3 perfbench/run.py --workload replay_bulk --seed 1 --seconds 5 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 5

``--trace 0`` prints the end-to-end metrics of BENCHMARK.json; ``--trace 1``
runs an untraced, a traced and another untraced window, and prints the
per-layer metrics. The last line of stdout is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``. Any oracle mismatch or error makes
the exit code non-zero. ``--workload all`` runs every workload in its own
process and prints the workload-specific metrics side by side.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
TRACE_DIR = ".perfbench_traces"  # raw spans and stage records of traced runs
SETUP_ROUNDS = 3
DRIVER_MEMORY = "1536m"


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _spark_conf(work: str) -> dict[str, str]:
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp  # Python workers
    return {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.local.dir": os.path.join(work, "spark-local"),
        # a fixed-size heap: peak RSS then tracks the heap the run touches,
        # not when G1 happened to grow it
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Xms{DRIVER_MEMORY}",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "5000",
        "spark.ui.retainedStages": "5000",
    }


def _metric(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


def _stop(spark) -> None:
    """Stop the session and wait for its JVM to exit (it exits when its
    stdin closes)."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _session(work: str):
    from arango_etl_spark.session import get_spark

    cores = _cores()
    return get_spark("perfbench", cores=cores, shuffle_partitions=cores,
                     extra_conf=_spark_conf(work))


def _ctx(args, spark, work: str, tracer=None):
    from inputs import engine_digest
    from workloads import Ctx

    return Ctx(spark=spark, seed=args.seed, seconds=args.seconds, work=work,
               digest=engine_digest(), tracer=tracer, trace=bool(args.trace))


def _work_dir() -> str:
    work = os.path.join(os.getcwd(), ".perfbench_work", str(os.getpid()))
    os.makedirs(work)
    return work


def generate(args) -> int:
    """Build every workload's base inputs in this process's own Spark
    session, so the measured process never runs the generator (a JVM that
    has generated is warmer, which would skew its set-up time)."""
    import inputs
    from workloads import WORKLOADS

    work = _work_dir()
    spark = None
    try:
        t0 = time.monotonic()
        spark = _session(work)
        ctx = _ctx(args, spark, work)
        for cls in WORKLOADS.values():
            wl = cls()
            inputs.cached(wl.base_dir(ctx), lambda d: wl.build_base(ctx, d))
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)
    return 0


def _ensure_inputs(args, wl) -> float:
    """Seconds spent building this run's inputs (near 0 when cached):
    the base in a generator process, then the seed's own inputs here,
    before the measured session starts."""
    import inputs

    ctx = _ctx(args, None, "")
    t0 = time.monotonic()
    base = wl.base_dir(ctx)
    if not os.path.isdir(base):
        cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload",
               args.workload, "--generate"]
        subprocess.run(cmd, stdout=subprocess.DEVNULL, check=True)
    inputs.cached(wl.seed_dir(ctx), lambda d: wl.build_seed(ctx, base, d))
    return time.monotonic() - t0


def run_workload(args, spec: dict) -> int:
    import stats
    import tracing
    from workloads import WORKLOADS, _timed

    wl = WORKLOADS[args.workload]()
    gen_s = _ensure_inputs(args, wl)
    work = _work_dir()
    spark = None
    out: dict = {}
    try:
        t0 = time.monotonic()
        spark = _session(work)
        start_s = time.monotonic() - t0
        ctx = _ctx(args, spark, work, tracing.Tracer(spark))
        wl.load_inputs(ctx)
        # set-up: fresh state from the inputs, SETUP_ROUNDS times (the last
        # one is used), then one untimed warm-up pass on it
        rounds = []
        for _ in range(SETUP_ROUNDS):
            t = time.monotonic()
            wl.prepare(ctx)
            rounds.append(time.monotonic() - t)
        warmup_s, _ = _timed(lambda: wl.warm_up(ctx))
        setup_s = start_s + statistics.median(rounds) + warmup_s

        t, cpu0, host0 = time.monotonic(), stats.tree_cpu_s(os.getpid()), stats.host_cpu_ticks()
        plain = wl.window(ctx, 0)
        window_s = time.monotonic() - t
        window_cpu_s = stats.tree_cpu_s(os.getpid()) - cpu0
        host = [b - a for a, b in zip(host0, stats.host_cpu_ticks())]
        rss = stats.tree_peak_rss_mb(os.getpid())
        t = time.monotonic()
        wl.check(ctx)
        check_s = time.monotonic() - t
        if args.trace:
            # untraced, traced, untraced again: the traced window is compared
            # with the mean of the two around it, so warm-up drift cancels
            first_job = tracing.last_job_id(spark)
            ctx.tracer.install()
            try:
                traced = wl.window(ctx, 1)
            finally:
                ctx.tracer.uninstall()
            stage_recs = tracing.harvest(spark, first_job)
            tracing.write_trace(
                os.path.join(TRACE_DIR, f"{args.workload}-seed{args.seed}.json"),
                ctx.tracer.spans, stage_recs, traced.get("epochs", []))
            wl.check(ctx)
            plain2 = wl.window(ctx, 2)
            wl.check(ctx)
            import layers

            values = layers.layer_metrics(
                ctx.tracer.spans, stage_recs, traced.get("epochs", []),
                traced["op_spans"])
            values["session.start_s"] = start_s
            values["session.warmup_s"] = warmup_s
            values["cdc_generator.gen_s"] = gen_s
            untraced_s = statistics.mean(o["busy_s"] / o["work"] for o in (plain, plain2))
            values["trace.overhead_pct"] = 100 * (
                traced["busy_s"] / traced["work"] / untraced_s - 1)
            units = {m["name"]: m["unit"] for m in spec["per_layer"]}
            metrics = {k: _metric(values[k], units[k]) for k in units}
            stats.check_metrics(metrics, spec["per_layer"])
        else:
            values = {
                "setup_s": setup_s,
                "op_s_p50": statistics.median(plain["op_s"]),
                "work_per_s": plain["work"] / plain["busy_s"],
                "peak_rss_mb": rss,
            }
            units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
            metrics = {k: _metric(values[k], units[k]) for k in units}
            stats.check_metrics(metrics, spec["end_to_end"])
        ops = stats.summarize(plain["op_s"])
        detail = {k: _metric(v, u) for k, (v, u) in plain["detail"].items()}
        detail["failed_ops_ratio"] = _metric(
            ctx.failed / max(1, ctx.attempted), "ratio")
        detail["setup_s"] = _metric(setup_s, "s")
        detail["peak_rss_mb"] = _metric(rss, "MB")
        out = {
            "correct": ctx.failed == 0,
            "attempted": max(1, ctx.attempted),
            "failed": ctx.failed,
            "metrics": metrics,
        }
        phases = {"start": start_s, "inputs": gen_s, "prepare": rounds,
                  "warm_up": warmup_s, "window": window_s, "check": check_s}
        # the host's state during the first window: CPU seconds the session
        # used, and the share of host CPU time stolen or busy
        host_info = {"window_cpu_s": window_cpu_s,
                     "steal_pct": 100 * host[7] / max(1, sum(host)),
                     "busy_pct": 100 * (sum(host) - host[3] - host[4]) / max(1, sum(host))}
        print(json.dumps({"workload": args.workload, "cores": _cores(), "op_s": ops,
                          "op_samples": plain["op_s"], "phases_s": phases,
                          "host": host_info, "detail": detail,
                          "errors": ctx.errors[:10]}))
        for name, m in sorted({**detail, **metrics}.items()):
            print(f"  {name:32s} {m['value']:>14.4f} {m['unit']}")
    except Exception:
        traceback.print_exc()
        out = {}
    finally:
        close = getattr(wl, "close", None)
        if close is not None:
            try:
                close()
            except Exception:
                traceback.print_exc()
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)
    if not out:
        return 1
    print(json.dumps(out))
    return 0 if out["correct"] else 1


def run_all(args) -> int:
    """Each workload in its own fresh process; the workload-specific
    metrics of all of them in one table."""
    from workloads import WORKLOADS

    total = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    rows = []
    for name in WORKLOADS:
        cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("{")]
        if proc.returncode != 0 or len(lines) < 2:
            total["correct"] = False
            total["failed"] += 1
            print(f"{name}: exit {proc.returncode}", file=sys.stderr)
            continue
        info, res = json.loads(lines[0]), json.loads(lines[-1])
        total["correct"] &= res["correct"]
        total["attempted"] += res["attempted"]
        total["failed"] += res["failed"]
        for k, m in res["metrics"].items():
            total["metrics"][f"{name}.{k}"] = m
        for k, m in info["detail"].items():
            rows.append((name, k, m))
    for name, k, m in rows:
        print(f"{name:12s} {k:22s} {m['value']:>14.4f} {m['unit']}")
    print(json.dumps(total))
    return 0 if total["correct"] else 1


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--generate", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "arango_etl_spark")):
        print("perfbench: run from the repository root "
              "(no arango_etl_spark/ here)", file=sys.stderr)
        return 2
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    sys.path[:0] = [HERE, root]
    from workloads import WORKLOADS

    if args.workload == "all":
        return run_all(args)
    if args.generate:
        return generate(args)
    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    return run_workload(args, spec)


if __name__ == "__main__":
    sys.exit(main())
