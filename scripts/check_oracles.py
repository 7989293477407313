"""Cross-scale oracle checker: run every __spark_entry__ queries() entry
against its DuckDB oracle_sql() twin at any sf dir and report mismatches.

The driver gates correctness at sf0.01 only; this proves the parity pairs
are scale-independent (no thresholds or dims tuned to one sf).

Run:  python scripts/check_oracles.py [--split] [sf_dir] [name ...]
sf_dir defaults to the sf0.001 test-data dir; trailing query names restrict
the sweep to those pairs (same comparison, same exit code). The session
runs local[SPARK_GRAFT_CPUS] with as many shuffle partitions (the host's
CPU count when the variable is unset), as the Tier-1 run does.
--split runs each leg under its own Spark job group and prints one JSON
line per leg in place of its "ok" line: the DataFrame build, final-plan
(optimize + physical planning) and collect seconds, the optimized plan's
KB (each run of comma-separated literal values, such as a folded model
array, counted as one token, so the figure tracks the expression tree and
not the model's size), and the leg's Spark job count and summed job
seconds. Build + plan + collect is the leg's wall time (the build
includes any jobs it runs itself, such as an index's seed collect);
what of it lies outside ``job_s`` is driver work (summed job time
double-counts jobs that overlap).
The registered-query count is printed per run (it tracks parity.py —
do not hardcode it here). Round-5 record (2026-08-17, refreshed after
the graph/BM25/JSON-shred/gap-fill/fan-out/sketch/video/token-span
additions): all (then-registered) queries matched; 104 swept at sf0.01 via this script
this round (97 pre-existing also swept at sf0.001 AND sf0.1), the 15
newer ones (graph_khop, graph_shortest_paths, graph_triangles,
graph_pagerank, bm25_search, json_shred_props, json_nested_extract,
gapfill_locf_series, interpolate_linear_series, fanout_source_profiles,
bk_value_quantiles, video_frame_sample, dup_span_coverage,
token_drift_by_source, pq_topk_multi) checked pairwise at sf0.01 at add
time (the last three also at sf0.001); a full-sweep re-run of this
script supersedes this note. 2026-08-18: full sweep of all 112 at
sf0.01 green post-BPE-arrow; semantic_dedup_keep added (113th pair,
checked pairwise at sf0.01 at add time: 500 rows, 350 kept, 0 cell or
kept mismatches). 2026-08-18 later: ivfpq_topk_multi added (114th
pair) and a FULL sweep of all 114 ran green at sf0.01.
Round-6 record (optimization round): full sweeps of all 114 ran green
on the final tree at ALL THREE scales — sf0.001 (2026-08-21, twice),
sf0.01 (2026-08-22) and sf0.1 (2026-08-22). The count printed by the
run is the source of truth; this note only records the dates.
"""

from __future__ import annotations

import json
import math
import os
import re
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import duckdb  # noqa: E402

import __spark_entry__ as entry_mod  # noqa: E402
from arango_etl_spark.session import get_spark  # noqa: E402

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]

_NUM = r"-?\d[\d.]*(?:[eE][-+]?\d+)?"
# a run of two or more literal values; not an attribute id (``a#12``)
_LITERAL_RUN = re.compile(rf"(?<![\w#.]){_NUM}(?:,\s?{_NUM})+")


def _norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 9)
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if hasattr(v, "isoformat"):
        return v.isoformat().replace("+00:00", "")
    return v


def _run_split(spark, name, build):
    """Build, plan and collect one leg under its own job group; return
    its columns, its rows and the leg's timing record."""
    sc = spark.sparkContext
    group = f"check_oracles:{name}:{time.monotonic_ns()}"
    sc.setJobGroup(group, name)
    t0 = time.perf_counter()
    df = build()
    t1 = time.perf_counter()
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    t2 = time.perf_counter()
    rows = [tuple(r) for r in df.collect()]
    t3 = time.perf_counter()
    sc._jsc.clearJobGroup()
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()  # job-end events reach the store
    jobs = jsc.statusStore().jobsList(None)
    n_jobs, job_s = 0, 0.0
    for i in range(jobs.size()):
        j = jobs.apply(i)
        if j.jobGroup().isDefined() and j.jobGroup().get() == group:
            n_jobs += 1
            if j.submissionTime().isDefined() and j.completionTime().isDefined():
                job_s += (
                    j.completionTime().get().getTime()
                    - j.submissionTime().get().getTime()
                ) / 1000
    record = {
        "leg": name,
        "build_s": round(t1 - t0, 3),
        "plan_s": round(t2 - t1, 3),
        "collect_s": round(t3 - t2, 3),
        "plan_kb": round(len(_LITERAL_RUN.sub(
            "#", qe.optimizedPlan().toString())) / 1024, 1),
        "jobs": n_jobs,
        "job_s": round(job_s, 3),
    }
    return df.columns, rows, record


def main() -> int:
    split = "--split" in sys.argv
    if split:
        sys.argv.remove("--split")
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    queries = entry_mod.queries()
    names = sys.argv[2:] or sorted(queries)
    # sized like the Tier-1 run: SPARK_GRAFT_CPUS cores and as many
    # shuffle partitions (the host's CPU count when unset)
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count())
    spark = get_spark("check_oracles", cores=cpus, shuffle_partitions=cpus)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    oracles = entry_mod.oracle_sql()
    bad = []
    for name in names:
        try:
            if split:
                scols, sdata, record = _run_split(
                    spark, name, lambda: queries[name](spark, sf_dir)
                )
            else:
                df = queries[name](spark, sf_dir)
                sdata, scols = [tuple(r) for r in df.collect()], df.columns
            res = con.execute(oracles[name])
            dcols = [d[0] for d in res.description]
            ddata = res.fetchall()
            si = sorted(range(len(scols)), key=lambda i: scols[i])
            di = sorted(range(len(dcols)), key=lambda i: dcols[i])
            srows = sorted(tuple(_norm(r[i]) for i in si) for r in sdata)
            drows = sorted(tuple(_norm(r[i]) for i in di) for r in ddata)
            ok = sorted(scols) == sorted(dcols) and srows == drows
            if split:
                print(json.dumps({**record, "rows": len(sdata), "ok": ok}),
                      flush=True)
            if not ok:
                bad.append((name, len(sdata), len(ddata)))
            elif not split:
                print(f"ok {name} ({len(sdata)} rows)", flush=True)
        except Exception as e:  # pragma: no cover
            bad.append((name, "ERR", str(e)[:200]))
    if bad:
        print("FAILURES:", bad)
        return 1
    print(f"all {len(names)} queries match at {sf_dir}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
