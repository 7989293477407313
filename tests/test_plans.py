"""Plan-quality assertions: predicate pushdown reaches the parquet scan,
column pruning trims ReadSchema, small sides broadcast, aggregations have
map-side partial phases, hot paths stay in WholeStageCodegen
(SURVEY.md §4 — what Catalyst must be allowed to do for 100 TB)."""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from arango_etl_spark.plans import explain
from arango_etl_spark.plans.lakehouse import lww_resolve
from arango_etl_spark import parity

SF = "/root/testdata/sf0.01"


def test_filter_pushdown_to_scan(spark):
    df = parity.pricing_summary(spark, SF)
    assert explain.has_pushed_filters(df), explain.formatted_plan(df)[:2000]


def test_column_pruning(spark):
    df = (
        spark.read.parquet(f"{SF}/lineitem.parquet")
        .select("l_orderkey", "l_quantity")
        .where(F.col("l_quantity") > 10)
    )
    rs = explain.pruned_columns(df)
    assert "l_orderkey" in rs and "l_quantity" in rs
    assert "l_comment" not in rs and "l_extendedprice" not in rs, rs


def test_broadcast_join_for_small_side(spark):
    df = parity.embedding_cosine_topk(spark, SF)
    assert explain.uses_broadcast_join(df), explain.physical_plan(df)[:2000]


def test_dedup_has_partial_aggregation(spark):
    """The max_by LWW reduce (the merge's intra-batch dedup) must
    pre-reduce map-side (hot-key safety)."""
    ev = spark.createDataFrame(
        [("a", 1, 0, "i")], "doc_id string, _seq_no long, _batch_id long, _op string"
    ).withColumn("_event_ts", F.current_timestamp())
    df = lww_resolve(ev, "doc_id")
    plan = explain.physical_plan(df)
    # max_by over a struct payload aggregates sort-based, but the partial
    # (map-side) phase must be present: "partial_max_by" before the Exchange
    assert "partial_max_by" in plan, plan[:2000]


def test_codegen_in_hot_path(spark):
    df = parity.cdc_final_state(spark, SF)
    df.collect()  # finalize THIS dataset's AQE plan (count() builds a new one)
    plan = explain.physical_plan(df)
    assert explain.codegen_stage_count(df) >= 1, plan[:2000]


def test_window_dedup_uses_group_limit(spark):
    """Catalyst rewrites rn=1 windows into WindowGroupLimit with a Partial
    phase before the shuffle — per-key top-1 never materializes a hot key's
    full row set in one task. Guard that this optimization stays active."""
    df = parity.cdc_final_state(spark, SF)
    plan = explain.physical_plan(df)
    assert "WindowGroupLimit" in plan, plan[:2000]
    assert "Partial" in plan, plan[:2000]


def test_anti_join_broadcasts(spark):
    """The done-files anti-join (F1) must broadcast the small ledger side,
    not shuffle the big fact side."""
    files = spark.range(0, 100_000).select(F.col("id").alias("key"))
    done = spark.range(0, 100).select(F.col("id").alias("key"))
    out = files.join(F.broadcast(done), "key", "left_anti")
    assert explain.uses_broadcast_join(out)


def test_q10_broadcasts_dim_and_pushes_filters(spark):
    """The 4-table join tree must broadcast the tiny nation dim, push the
    selective filters into the parquet scans, and partial-aggregate
    before the final exchange."""
    df = parity.q10_returned_items(spark, SF)
    plan = explain.physical_plan(df)
    assert "BroadcastHashJoin" in plan, plan[:2000]
    assert "PushedFilters: [IsNotNull(l_returnflag)" in plan or \
        "EqualTo(l_returnflag,R)" in plan, plan[:3000]
    assert "partial_sum" in plan, plan[:2000]


def test_q5_broadcasts_dims_and_pushes_filters(spark):
    """The 6-table Q5 join tree: region/nation/supplier ride broadcasts
    (no shuffle for dims), the date + region filters reach the parquet
    scans, and the nation aggregate partial-aggregates map-side."""
    df = parity.q5_local_supplier_volume(spark, SF)
    plan = explain.physical_plan(df)
    assert plan.count("BroadcastHashJoin") >= 3, plan[:3000]
    assert "EqualTo(r_name,ASIA)" in plan, plan[:3000]
    assert "partial_sum" in plan, plan[:2000]


def test_q18_semi_join_and_partial_agg(spark):
    """Q18's HAVING key set must reach the fact scan as a broadcast
    LEFT-SEMI hash join (never a shuffled subquery join), with the
    order-quantity aggregate partial map-side."""
    df = parity.q18_large_volume_customers(spark, SF)
    plan = explain.physical_plan(df)
    assert "LeftSemi" in plan and "BroadcastHashJoin" in plan, plan[:3000]
    assert "partial_sum" in plan, plan[:2000]


def test_range_join_is_hash_equi_join_not_nested_loop(spark):
    """The binned range join must plan as a hash equi-join on the bin
    key — the whole point is avoiding BroadcastNestedLoopJoin, which is
    what a bare inequality-only join condition degenerates to."""
    df = parity.range_join_windows(spark, SF)
    plan = explain.physical_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan, plan[:3000]
    assert "HashJoin" in plan, plan[:3000]


def test_kmv_sketch_plan_shapes(spark):
    """KMV scale claims, plan-asserted: the GLOBAL sketch ranks via a
    distributed TakeOrderedAndProject (per-partition k-row heaps), never
    a partitionBy(lit) window (which constant-folds to ONE task); the
    GROUPED sketch's rank<=k filter runs as Catalyst WindowGroupLimit
    with real group keys — zero unpartitioned windows in either."""
    from arango_etl_spark.operators import sketches

    base = spark.range(0, 1000).selectExpr(
        "concat('u', id) AS uid", "id % 3 AS g"
    )
    g = sketches.kmv_sketch(base, "uid", k=64)
    assert "TakeOrderedAndProject" in explain.physical_plan(g)
    assert explain.unpartitioned_window_count(g) == 0
    grouped = sketches.kmv_sketch(base, "uid", ["g"], k=64)
    assert "WindowGroupLimit" in explain.physical_plan(grouped)
    assert explain.unpartitioned_window_count(grouped) == 0


def test_cms_shuffles_bounded_cells_and_broadcasts_sketch(spark):
    """Count-min scale claims: the cell aggregation partial-aggregates
    map-side (the shuffle carries at most depth x width cells, not raw
    occurrences), and point queries broadcast the SKETCH (bounded d x w)
    onto the probe coordinates, never the reverse."""
    from arango_etl_spark.operators import sketches

    words = spark.range(0, 5000).selectExpr("concat('w', id % 97) AS word")
    sk = sketches.cms_build(words, "word", depth=4, width=64)
    assert explain.has_partial_aggregation(sk)
    est = sketches.cms_query(sk, words.distinct(), "word", depth=4, width=64)
    assert "BroadcastHashJoin" in explain.physical_plan(est)


def test_q6_filters_reach_the_scan(spark):
    """Q6 is the canonical pushdown case: shipdate/discount/quantity
    predicates must appear as PushedFilters on the parquet scan, the
    aggregate must be partial (map-side), and there must be no join."""
    df = parity.q6_forecast_revenue(spark, SF)
    plan = explain.physical_plan(df)
    assert "Join" not in plan, plan[:2000]
    assert "partial" in plan.lower(), plan[:2000]
    pushed = plan[plan.find("PushedFilters"):][:400]
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, f"{col} not pushed: {pushed}"


def test_range_join_left_is_single_pass(spark):
    """Left mode must be ONE left_outer equi-join on the bin key with
    containment in the join condition — the round-4 shape (binned inner
    + a second left_anti over the same frames) scanned and bin-hashed
    the 100 TB fact side twice. Here events.parquet feeds both the fact
    side and the derived-window side, so exactly TWO parquet scans may
    appear; a dual-pass left would show three or more."""
    df = parity.range_join_left(spark, SF)
    plan = explain.physical_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan, plan[:3000]
    assert "LeftOuter" in plan, plan[:3000]
    n_scans = plan.count("Scan parquet")
    assert n_scans == 2, f"expected 2 parquet scans, saw {n_scans}"


def test_jaccard_single_tokenization_pass(spark):
    """jaccard_ngram_pairs must evaluate the shingle pipeline ONCE: the
    per-doc size branch and the pair branch share one _bucket_groups
    frame, so AQE's exchange reuse dedupes their identical
    Exchange(hash(shingle)) subtrees at runtime — and the two size joins
    (sz_a/sz_b) share the sizes exchange (round-2 VERDICT #3). Asserted
    on the executed plan because AQE applies reuse at runtime, not in
    the static explain.

    Pinned to the UNCACHED-input case: if any other session consumer has
    .cache()d the same parquet, Spark's CacheManager substitutes the
    InMemoryRelation and AQE then re-plans each branch separately,
    dropping stage reuse (measured: 0 ReusedExchange, 3
    TableCacheQueryStages — see jaccard_ngram_pairs docstring caveat)."""
    from arango_etl_spark.operators.dedup import jaccard_ngram_pairs

    spark.catalog.clearCache()  # cross-test cache from module fixtures
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    df = jaccard_ngram_pairs(docs, threshold=0.5)
    df.collect()
    executed = df._jdf.queryExecution().executedPlan().toString()
    assert executed.count("ReusedExchange") >= 2, executed[:3000]


def test_similarity_family_never_unpartitioned_window(spark):
    """Round-3 VERDICT #1: a literal query_id constant-folds the window
    partition spec away and WindowExec funnels EVERY candidate into one
    task ("No Partition Defined"). The whole similarity family must plan
    with ZERO unpartitioned window nodes — both the literal-query parity
    shapes and the general multi-query shapes."""
    from arango_etl_spark.operators.similarity import (
        build_ivf_index,
        cosine_topk,
        ivf_query,
        lsh_cosine_topk,
    )

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    dim = len(e.first()["embedding"])
    # worst case: single-row query with a FOLDABLE literal id
    q_lit = e.where(F.col("vec_id") == 0).select(
        F.lit(0).alias("query_id"), "embedding"
    )
    q_multi = e.where(F.col("vec_id").isin(0, 1, 2)).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    index = build_ivf_index(e, n_centroids=8)
    frames = [
        cosine_topk(e, q_lit, k=5, single_query=True),
        cosine_topk(e, q_lit, k=5),          # two-phase even when folded
        cosine_topk(e, q_multi, k=5),
        lsh_cosine_topk(e, q_lit, dim=dim, k=5),
        lsh_cosine_topk(e, q_multi, dim=dim, k=5),
        ivf_query(index, q_lit, k=5, n_probe=4, single_query=True),
        ivf_query(index, q_lit, k=5, n_probe=4),
        ivf_query(index, q_multi, k=5, n_probe=4),
        parity.ivf_topk(spark, "/root/testdata/sf0.001"),
        parity.ivf_topk_multi(spark, "/root/testdata/sf0.001"),
        parity.cosine_topk_multi(spark, "/root/testdata/sf0.001"),
    ]
    for i, df in enumerate(frames):
        n = explain.unpartitioned_window_count(df)
        assert n == 0, (i, explain.physical_plan(df)[:2000])


def test_ivf_query_launches_no_jobs(spark):
    """Round-3 VERDICT #2: the IVF read path must not rebuild the index —
    no centroid collect, no TakeOrdered scan of the embeddings table.
    Pinned by job count: planning an ivf_query launches ZERO Spark jobs
    (the pre-split code ran a full-table collect per call)."""
    from arango_etl_spark.operators.similarity import (
        build_ivf_index,
        ivf_query,
    )

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    index = build_ivf_index(e, n_centroids=8)   # build MAY run jobs
    q = e.limit(2).select(F.col("vec_id").alias("query_id"), "embedding")
    st = spark.sparkContext.statusTracker()
    before = len(st.getJobIdsForGroup(None) or [])
    df = ivf_query(index, q, k=5, n_probe=2)
    _ = explain.physical_plan(df)  # force full planning, still no jobs
    after = len(st.getJobIdsForGroup(None) or [])
    assert after - before == 0


def _model_blanked(plan: str) -> str:
    """The plan string with the folded model literals' printed values
    (int or double arrays, structs of them) and the expression ids
    blanked."""
    plan = re.sub(r"\[[\d\[\], .E-]*\]", "[]", plan)
    return re.sub(r"#\d+L?", "#", plan)


def test_float_ann_plan_size_does_not_depend_on_model_size(spark):
    """IVF centroids and LSH hyperplanes enter as one folded literal each
    (the PQ form): growing n_centroids 4 -> 16 and n_planes 8 -> 48 must
    leave the optimized plans (model values blanked) the same size, so no
    per-centroid or per-plane expression tree creeps back in."""
    from arango_etl_spark.operators.similarity import (
        build_ivf_index,
        hyperplane_signs,
        ivf_query,
    )

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    dim = len(e.first()["embedding"])
    q = e.where(F.col("vec_id").isin(0, 1)).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    sizes = {}
    for n_centroids, n_planes in ((4, 8), (16, 48)):
        index = build_ivf_index(e, n_centroids=n_centroids)
        bits = e.select(
            "vec_id",
            hyperplane_signs(F.col("embedding"), dim, n_planes).alias("_bits"),
        )
        for name, df in (
            ("clustered", index.clustered),
            ("ivf_query", ivf_query(index, q, k=5, n_probe=2)),
            ("hyperplane_signs", bits),
        ):
            plan = df._jdf.queryExecution().optimizedPlan().toString()
            assert "from_json" not in plan, (name, plan[:2000])
            sizes.setdefault(name, []).append(len(_model_blanked(plan)))
    for name, (small, big) in sizes.items():
        assert abs(big - small) <= 16, (name, small, big)


def test_ivfpq_probe_evaluates_coarse_argmin_once(spark):
    """A probe over a fresh (never saved) IVFADC index joins the codes on
    ``cell``. A nullable ``cell`` would make Spark infer
    ``isnotnull(cell)`` and push it below the build, evaluating the
    coarse argmin (kc sqL2 folds per row) twice: once in that Filter and
    once in the Project. The coarse argmin is the one array_min over a
    transform of a folded literal."""
    from arango_etl_spark.operators.pq import build_ivfpq_index, ivfpq_topk
    from tests.test_pq import M, _fixture

    fx = _fixture(spark)
    index = build_ivfpq_index(fx, kc=4, m=M, ksub=4)
    q = fx.where(F.col("vec_id").isin(0, 1)).select(
        F.col("vec_id").alias("query_id"), "qvec"
    )
    plan = ivfpq_topk(index, q, k=3, n_probe=2)._jdf.queryExecution()
    plan = plan.optimizedPlan().toString()
    assert len(re.findall(r"array_min\(transform\(\[", plan)) == 1, plan[:4000]
    assert "isnotnull(array_min" not in plan, plan[:4000]


def test_single_query_topk_is_take_ordered(spark):
    """single_query re-rank must plan as TakeOrderedAndProject (local
    k-row heaps merged on the driver) — no shuffle, no window at all."""
    from arango_etl_spark.operators.similarity import cosine_topk

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = e.where(F.col("vec_id") == 0).select(
        F.lit(0).alias("query_id"), "embedding"
    )
    df = cosine_topk(e, q, k=5, single_query=True)
    plan = explain.physical_plan(df)
    assert "TakeOrderedAndProject" in plan, plan[:2000]
    assert "Window" not in plan, plan[:2000]


def test_minhash_simhash_hash_once_in_plan(spark):
    """The base md5 must appear exactly ONCE in the physical plan — the
    32 affine minhashes / 64 simhash bit votes derive from the aliased
    column, and CollapseProject must not inline the non-cheap md5 into
    every derivation (round-1 VERDICT #5/#8)."""
    from arango_etl_spark.operators.dedup import minhash_signatures, simhash

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    p1 = explain.physical_plan(minhash_signatures(docs, n_hashes=32))
    assert p1.count("md5") == 1, p1[:2000]
    p2 = explain.physical_plan(simhash(docs))
    assert p2.count("md5") == 1, p2[:2000]


def test_q4_exists_is_semi_join_with_pushed_date(spark):
    """The EXISTS rewrites to a LEFT SEMI hash join (no correlated
    per-row subquery) and the orderdate window reaches orders' scan."""
    df = parity.q4_order_priority(spark, SF)
    plan = explain.physical_plan(df)
    assert "LeftSemi" in plan, plan[:3000]
    assert "NestedLoop" not in plan, plan[:3000]
    pushed = plan[plan.find("PushedFilters"):][:400]
    assert "o_orderdate" in pushed, pushed


def test_q8_broadcasts_every_dim(spark):
    """The 8-relation tree must shuffle only lineitem(+orders): part,
    supplier, customer, nation ×2 and region all ride broadcasts."""
    df = parity.q8_market_share(spark, SF)
    plan = explain.physical_plan(df)
    assert plan.count("BroadcastHashJoin") >= 5, plan[:4000]


def test_q19_disjunction_stays_hash_join(spark):
    """The OR-of-bands predicate must NOT demote the p_partkey equi-join
    to a nested loop; the derivable quantity band pushes to lineitem."""
    df = parity.q19_disjunctive_pushdown(spark, SF)
    plan = explain.physical_plan(df)
    assert "NestedLoop" not in plan, plan[:3000]
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan
    assert "partial" in plan.lower()


def test_q21_semi_and_anti_self_joins(spark):
    """Double-correlated existence = one LeftSemi + one LeftAnti over
    lineitem — the decorrelated join shape, never a per-row subquery."""
    df = parity.q21_sole_returner(spark, SF)
    plan = explain.physical_plan(df)
    assert "LeftSemi" in plan, plan[:3000]
    assert "LeftAnti" in plan, plan[:3000]


def test_quantize_is_map_only(spark):
    """int8 quantization must be a pure projection: no exchange, no
    aggregate, one codegen stage over the scan."""
    from arango_etl_spark.operators.similarity import quantize_embeddings

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    df = quantize_embeddings(emb)
    plan = explain.physical_plan(df)
    assert "Exchange" not in plan, plan[:2000]
    assert "Aggregate" not in plan, plan[:2000]


def test_source_overlap_aggregates_before_join(spark):
    """The (source, shingle) distinct must reduce ahead of the
    self-join: partial aggregation present, and the pair join keyed on
    the shingle (hash join, not nested loop)."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    from arango_etl_spark.operators.dedup import source_overlap

    df = source_overlap(docs, ngram=5)
    plan = explain.physical_plan(df)
    assert "partial" in plan.lower(), plan[:3000]
    assert "NestedLoop" not in plan, plan[:3000]


def test_q20_nested_in_chain_is_semi_joins(spark):
    """The nested IN chain (suppliers ⟵ heavy shipments ⟵ bolt parts)
    must plan as LeftSemi joins over a partial-aggregated HAVING — no
    correlated subquery execution, no nested loop."""
    df = parity.q20_excess_suppliers(spark, SF)
    plan = explain.physical_plan(df)
    assert plan.count("LeftSemi") >= 2, plan[:3000]
    assert "NestedLoop" not in plan, plan[:3000]
    assert "partial" in plan.lower()


def test_q16_blacklist_anti_join_and_distinct_agg(spark):
    """NOT IN (bounded blacklist) must broadcast as LeftAnti; the
    count-distinct aggregates with a partial phase."""
    df = parity.q16_supplier_count(spark, SF)
    plan = explain.physical_plan(df)
    assert "LeftAnti" in plan, plan[:3000]
    assert "BroadcastHashJoin" in plan, plan[:3000]
    assert "partial" in plan.lower()


def test_cube_is_one_pass_expand(spark):
    """CUBE must plan as a single Expand (4 grouping sets from one scan)
    feeding a partial-aggregating hash agg — never one scan per set."""
    df = parity.cube_event_matrix(spark, SF)
    plan = explain.physical_plan(df)
    assert "Expand" in plan, plan[:3000]
    assert "partial" in plan.lower(), plan[:3000]
    assert plan.count("FileScan") == 1, plan[:3000]


def test_set_ops_are_semi_anti_joins(spark):
    """INTERSECT/EXCEPT must compile to distinct + LeftSemi/LeftAnti
    hash joins — no nested loop, no global sort."""
    df = parity.funnel_set_ops(spark, SF)
    plan = explain.physical_plan(df)
    assert "LeftSemi" in plan, plan[:3000]
    assert "LeftAnti" in plan, plan[:3000]
    assert "NestedLoop" not in plan, plan[:3000]
