from __future__ import annotations

import hashlib
import re

from pyspark.sql import functions as F

from arango_etl_spark.operators.pq import build_pq_index, pq_topk
from arango_etl_spark.plans import explain

M, KSUB, DIM = 4, 4, 8  # dsub = 2


def _h60(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _vec(i: int) -> list[int]:
    # 4 integer clusters along all dims + a small per-id wiggle
    base = (i % 4) * 30
    return [base + ((i + d) % 3) for d in range(DIM)]


def _fixture(spark, n=64):
    return spark.createDataFrame(
        [(i, _vec(i)) for i in range(n)], "vec_id long, qvec array<int>"
    )


def _py_index(n=64):
    """Pure-Python mirror of build_pq_index's seed selection + encoding."""
    seeds = sorted(range(n), key=lambda i: (_h60(str(i)), i))[:KSUB]
    dsub = DIM // M
    cbs = [
        [_vec(s)[j * dsub : (j + 1) * dsub] for s in seeds] for j in range(M)
    ]
    def encode(v):
        out = []
        for j in range(M):
            sub = v[j * dsub : (j + 1) * dsub]
            d = [
                (sum((a - b) ** 2 for a, b in zip(sub, c)), ci)
                for ci, c in enumerate(cbs[j])
            ]
            out.append(min(d)[1])
        return out
    return cbs, encode


def test_pq_encoding_matches_python_reference(spark):
    idx = build_pq_index(_fixture(spark), m=M, ksub=KSUB)
    cbs, encode = _py_index()
    assert idx.codebooks == cbs
    got = {r["vec_id"]: list(r["codes"]) for r in idx.codes.collect()}
    assert got == {i: encode(_vec(i)) for i in range(64)}


def test_pq_adc_distance_is_exact_integer(spark):
    idx = build_pq_index(_fixture(spark), m=M, ksub=KSUB)
    cbs, encode = _py_index()
    q = [31, 30, 32, 30, 31, 30, 32, 30]
    qdf = spark.createDataFrame([(0, q)], "query_id long, qvec array<int>")
    got = {
        r["vec_id"]: r["adc_dist"]
        for r in pq_topk(idx, qdf, k=64).collect()
    }
    dsub = DIM // M
    for i in range(64):
        codes = encode(_vec(i))
        expect = sum(
            sum(
                (a - b) ** 2
                for a, b in zip(q[j * dsub : (j + 1) * dsub], cbs[j][codes[j]])
            )
            for j in range(M)
        )
        assert got[i] == expect, i


def test_pq_topk_recall_on_clustered_data(spark):
    # Query sits on cluster 2's centroid: every cluster-2 member must
    # out-rank every other cluster (inter-cluster gap 30 >> wiggle 2).
    idx = build_pq_index(_fixture(spark), m=M, ksub=KSUB)
    q = [60 + (d % 3) for d in range(DIM)]
    qdf = spark.createDataFrame([(0, q)], "query_id long, qvec array<int>")
    top16 = [r["vec_id"] for r in pq_topk(idx, qdf, k=16).collect()]
    assert sorted(top16) == [i for i in range(64) if i % 4 == 2]


def test_pq_topk_ties_break_to_lowest_id(spark):
    df = spark.createDataFrame(
        [(7, [1, 1]), (3, [1, 1]), (9, [50, 50])], "vec_id long, qvec array<int>"
    )
    idx = build_pq_index(df, m=1, ksub=2)
    qdf = spark.createDataFrame([(0, [1, 1])], "query_id long, qvec array<int>")
    rows = pq_topk(idx, qdf, k=2).collect()
    assert [r["vec_id"] for r in rows] == [3, 7]
    assert rows[0]["adc_dist"] == rows[1]["adc_dist"]


def test_pq_plans_are_jvm_side_and_partitioned(spark):
    idx = build_pq_index(_fixture(spark), m=M, ksub=KSUB)
    qdf = spark.createDataFrame(
        [(0, _vec(0)), (1, _vec(1))], "query_id long, qvec array<int>"
    )
    multi = pq_topk(idx, qdf, k=5)
    plan = explain.physical_plan(multi)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert explain.unpartitioned_window_count(multi) == 0
    single = pq_topk(
        idx, qdf.where(F.col("query_id") == 0), k=5, single_query=True
    )
    assert "TakeOrderedAndProject" in explain.physical_plan(single)


def _plan_shape(plan: str) -> str:
    """The plan string with the model literals' printed values and the
    expression ids blanked: a folded model array prints its elements, and
    those necessarily grow with the model; the expressions around them
    must not."""
    plan = re.sub(r"\[[\d\[\], -]*\]", "[]", plan)
    return re.sub(r"#\d+L?", "#", plan)


def test_pq_plan_size_does_not_depend_on_model_size(spark):
    """Every quantizer expression is one SQL expression over one folded
    literal per model array: growing kc 2 -> 8 and ksub 4 -> 16 on the
    same data must leave the optimized plans (model values blanked) the
    same size, so no per-centroid or per-codeword literal tree creeps
    back in."""
    from arango_etl_spark.operators.pq import build_ivfpq_index, ivfpq_topk

    fx = _fixture(spark)
    qdf = fx.where(F.col("vec_id").isin(0, 1)).select(
        F.col("vec_id").alias("query_id"), "qvec"
    )
    sizes = {}
    for kc, ksub in ((2, 4), (8, 16)):
        pqi = build_pq_index(fx, m=M, ksub=ksub)
        ivf = build_ivfpq_index(fx, kc=kc, m=M, ksub=ksub)
        for name, df in (
            ("pq_codes", pqi.codes),
            ("pq_topk", pq_topk(pqi, qdf, k=3)),
            ("ivfpq_codes", ivf.codes),
            ("ivfpq_topk", ivfpq_topk(ivf, qdf, k=3, n_probe=2)),
        ):
            plan = df._jdf.queryExecution().optimizedPlan().toString()
            assert "from_json" not in plan, (name, plan[:2000])
            sizes.setdefault(name, []).append(len(_plan_shape(plan)))
    for name, (small, big) in sizes.items():
        assert abs(big - small) <= 16, (name, small, big)


def test_pq_quotes_caller_column_names(spark):
    """Column names that need quoting in SQL text (a space, a keyword)
    give the same codes and top-k as the default names."""
    from arango_etl_spark.operators.pq import build_ivfpq_index, ivfpq_topk

    fx = _fixture(spark)
    odd = fx.select(F.col("vec_id").alias("order"), F.col("qvec").alias("q vec"))
    qdf = fx.where(F.col("vec_id").isin(0, 1)).select(
        F.col("vec_id").alias("query_id"), "qvec"
    )
    odd_q = qdf.withColumnRenamed("qvec", "q vec")
    names = {"id_col": "order", "vec_col": "q vec"}

    def codes(index, id_col):
        return {r[id_col]: list(r["codes"]) for r in index.codes.collect()}

    def top(df, id_col):
        return sorted((r["query_id"], r[id_col], r[2]) for r in df.collect())

    a = build_pq_index(fx, m=M, ksub=KSUB)
    b = build_pq_index(odd, m=M, ksub=KSUB, **names)
    assert codes(b, "order") == codes(a, "vec_id")
    assert top(pq_topk(b, odd_q, k=5, qvec_col="q vec"), "order") == top(
        pq_topk(a, qdf, k=5), "vec_id"
    )
    a = build_ivfpq_index(fx, kc=2, m=M, ksub=KSUB, refine_iters=1)
    b = build_ivfpq_index(odd, kc=2, m=M, ksub=KSUB, refine_iters=1, **names)
    assert codes(b, "order") == codes(a, "vec_id")
    for kw in ({}, {"rerank": 10}):
        got = ivfpq_topk(
            b, odd_q, k=5, qvec_col="q vec", src=odd, src_vec_col="q vec", **kw
        )
        want = ivfpq_topk(a, qdf, k=5, src=fx, **kw)
        assert top(got, "order") == top(want, "vec_id")


# ----------------------------------------------------------------- IVFADC
def _py_ivfpq(n=64, kc=2, m=M, ksub=KSUB):
    """Pure-Python mirror of build_ivfpq_index: coarse seeds by md5,
    argmin assignment, residuals, residual-seeded codebooks, encoding."""
    ids = list(range(n))
    cseeds = sorted(ids, key=lambda i: (_h60(str(i)), i))[:kc]
    coarse = [_vec(s) for s in cseeds]

    def sq(a, b):
        return sum((x - y) * (x - y) for x, y in zip(a, b))

    def cell_of(v):
        return min(range(kc), key=lambda c: (sq(v, coarse[c]), c))

    cells = {i: cell_of(_vec(i)) for i in ids}
    res = {i: [x - y for x, y in zip(_vec(i), coarse[cells[i]])] for i in ids}
    rseeds = sorted(ids, key=lambda i: (_h60(str(i)), i))[:ksub]
    dsub = DIM // m
    cbs = [
        [res[s][j * dsub : (j + 1) * dsub] for s in rseeds] for j in range(m)
    ]

    def encode(r):
        return [
            min(range(ksub),
                key=lambda c: (sq(r[j * dsub:(j + 1) * dsub], cbs[j][c]), c))
            for j in range(m)
        ]

    codes = {i: encode(res[i]) for i in ids}
    return coarse, cbs, cells, codes


def test_ivfpq_build_matches_python_reference(spark):
    from arango_etl_spark.operators.pq import build_ivfpq_index

    coarse, cbs, cells, codes = _py_ivfpq()
    index = build_ivfpq_index(_fixture(spark), kc=2, m=M, ksub=KSUB)
    assert index.coarse == coarse
    assert index.codebooks == cbs
    got = {
        r["vec_id"]: (r["cell"], list(r["codes"]))
        for r in index.codes.collect()
    }
    assert got == {i: (cells[i], codes[i]) for i in range(64)}


def test_ivfpq_topk_matches_python_reference(spark):
    from arango_etl_spark.operators.pq import build_ivfpq_index, ivfpq_topk

    coarse, cbs, cells, codes = _py_ivfpq()
    kc, m, dsub = 2, M, DIM // M

    def sq(a, b):
        return sum((x - y) * (x - y) for x, y in zip(a, b))

    def py_topk(qid, k=5, n_probe=1):
        q = _vec(qid)
        probes = sorted(range(kc), key=lambda c: (sq(q, coarse[c]), c))[:n_probe]
        scored = []
        for i in range(64):
            if cells[i] not in probes:
                continue
            qres = [x - y for x, y in zip(q, coarse[cells[i]])]
            d = sum(
                sq(qres[j * dsub:(j + 1) * dsub], cbs[j][codes[i][j]])
                for j in range(m)
            )
            scored.append((d, i))
        return sorted(scored)[:k]

    index = build_ivfpq_index(_fixture(spark), kc=kc, m=M, ksub=KSUB)
    queries = _fixture(spark).where(F.col("vec_id").isin(0, 1)).select(
        F.col("vec_id").alias("query_id"), "qvec"
    )
    out = ivfpq_topk(index, queries, k=5, n_probe=1)
    got = {
        (r["query_id"], r["vec_id"]): r["adc_dist"] for r in out.collect()
    }
    expect = {
        (qid, i): d for qid in (0, 1) for d, i in py_topk(qid)
    }
    assert got == expect
    # pruning is real: every candidate's cell is the query's single probe
    for (qid, i) in got:
        q = _vec(qid)
        probe = min(range(kc), key=lambda c: (sq(q, coarse[c]), c))
        assert cells[i] == probe


def test_ivfpq_plans_jvm_side(spark):
    from arango_etl_spark.operators.pq import build_ivfpq_index, ivfpq_topk

    index = build_ivfpq_index(_fixture(spark), kc=2, m=M, ksub=KSUB)
    queries = _fixture(spark).limit(2).select(
        F.col("vec_id").alias("query_id"), "qvec"
    )
    plan = explain.physical_plan(ivfpq_topk(index, queries, k=3, n_probe=1))
    assert "BatchEvalPython" not in plan and "PythonUDF" not in plan
    # r6: the probe filter is an exploded (query, cell) equi-join — a
    # broadcast HASH join on the codes' cell column (it was an
    # array_contains BroadcastNestedLoopJoin before); codes still stream
    assert "BroadcastHashJoin" in plan, plan[:2000]
    assert "NestedLoop" not in plan, plan[:2000]


def test_ivfpq_refined_rerank_recall_floor(spark):
    """r4 VERDICT #2's measure-recall treatment extended to IVFADC:
    hash-seeded codebooks rank same-cell neighbours nearly at random
    (ADC-only recall@10 ~0.36 on this fixture); Lloyd-refined residual
    codebooks must never be worse, and the IVFADC+R exact-rerank stage
    (Jégou et al. 2011) must reach recall@10 >= 0.99 at n_probe=2/8
    with a 50-candidate shortlist. Fully deterministic: fixed rng seed
    + integer arithmetic + exact-int Lloyd updates."""
    import numpy as np

    from arango_etl_spark.operators.pq import build_ivfpq_index, ivfpq_topk

    rng = np.random.default_rng(7)
    n_clusters, dim, per = 8, 16, 50
    centers = rng.integers(-100, 101, size=(n_clusters, dim))
    rows = [
        (
            vid,
            [
                int(x)
                for x in centers[vid % n_clusters]
                + rng.integers(-6, 7, size=dim)
            ],
        )
        for vid in range(n_clusters * per)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, qvec array<int>")
    vecs = np.array([r[1] for r in rows])
    qrows = [
        (
            qi,
            [
                int(x)
                for x in centers[qi % n_clusters]
                + rng.integers(-6, 7, size=dim)
            ],
        )
        for qi in range(16)
    ]
    qdf = spark.createDataFrame(qrows, "query_id long, qvec array<int>")
    exact = {}
    for qi, qv in qrows:
        d = ((vecs - np.array(qv)) ** 2).sum(axis=1)
        order = np.lexsort((np.arange(len(d)), d))
        exact[qi] = set(int(i) for i in order[:10])

    def recall(index, n_probe, **kw):
        got = {}
        out = ivfpq_topk(index, qdf, k=10, n_probe=n_probe, **kw)
        for r in out.collect():
            got.setdefault(r["query_id"], set()).add(r["vec_id"])
        return sum(len(got.get(q, set()) & e) for q, e in exact.items()) / 160

    seeded = build_ivfpq_index(emb, kc=8, m=4, ksub=16)
    refined = build_ivfpq_index(emb, kc=8, m=4, ksub=16, refine_iters=3)
    adc = {p: (recall(seeded, p), recall(refined, p)) for p in (1, 2, 4)}
    print(f"IVFPQ ADC-only recall@10 (seeded, refined): {adc}")
    assert all(ref >= seed - 0.02 for seed, ref in adc.values()), adc
    rr = {p: recall(refined, p, rerank=50, src=emb) for p in (1, 2, 4)}
    print(f"IVFPQ refined+rerank=50 recall@10: {rr}")
    assert rr[1] >= 0.85 and rr[2] >= 0.99 and rr[4] >= 0.99, rr
    # rerank output is EXACT on the shortlist: sq_dist == int sqL2
    one = ivfpq_topk(
        refined, qdf.where(F.col("query_id") == 0), k=5, n_probe=2,
        rerank=50, src=emb,
    ).collect()
    q0 = np.array(qrows[0][1])
    for r in one:
        assert r["sq_dist"] == int(((vecs[r["vec_id"]] - q0) ** 2).sum())


def test_ivfpq_rerank_plan_jvm_side(spark):
    from arango_etl_spark.operators.pq import build_ivfpq_index, ivfpq_topk

    fx = _fixture(spark)
    index = build_ivfpq_index(fx, kc=2, m=M, ksub=KSUB, refine_iters=1)
    queries = fx.limit(2).select(F.col("vec_id").alias("query_id"), "qvec")
    plan = explain.physical_plan(
        ivfpq_topk(index, queries, k=3, n_probe=1, rerank=10, src=fx)
    )
    assert "BatchEvalPython" not in plan and "PythonUDF" not in plan
    # the shortlist refinement joins broadcast the tiny sides
    assert plan.count("BroadcastHashJoin") >= 1


def test_ivfpq_save_load_roundtrip(spark, tmp_path):
    from arango_etl_spark.operators.pq import (
        build_ivfpq_index,
        ivfpq_topk,
        load_ivfpq_index,
        save_ivfpq_index,
    )

    fx = _fixture(spark)
    built = build_ivfpq_index(fx, kc=2, m=M, ksub=KSUB)
    save_ivfpq_index(built, str(tmp_path / "idx"))
    served = load_ivfpq_index(spark, str(tmp_path / "idx"))
    assert served.coarse == built.coarse
    assert served.codebooks == built.codebooks
    assert served.dsub == built.dsub and served.id_col == built.id_col
    # codes survive the partitioned write (cell moves to partition cols)
    got = {
        r["vec_id"]: (r["cell"], list(r["codes"]))
        for r in served.codes.collect()
    }
    want = {
        r["vec_id"]: (r["cell"], list(r["codes"]))
        for r in built.codes.collect()
    }
    assert got == want
    # and the served index answers queries identically
    q = fx.limit(2).select(F.col("vec_id").alias("query_id"), "qvec")
    a = sorted(map(tuple, ivfpq_topk(built, q, k=5, n_probe=2).collect()))
    b = sorted(map(tuple, ivfpq_topk(served, q, k=5, n_probe=2).collect()))
    assert a == b
