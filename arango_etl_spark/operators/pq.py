"""Product quantization (PQ) for embedding columns — Jégou et al. 2011,
"Product Quantization for Nearest Neighbor Search" (IEEE TPAMI): split
each vector into ``m`` subvectors, learn a small per-subspace codebook,
store each vector as ``m`` byte-sized code ids, and answer top-k queries
against the CODES instead of the raw vectors.

Beyond-reference surface, completing the ANN ladder next to brute-force
cosine and IVF (operators/similarity.py). What PQ buys at 100 TB is
**scan compression**: a 64-dim float32 embedding is 256 bytes, its PQ
code (m=8, ksub=16) is 8 small ints — the candidate scan reads ~32×
fewer bytes, which is the whole cost of a Spark ANN pass (IO-bound
columnar scan). The classic per-query LUT trick (precompute m×ksub
distances, then sum table lookups) is a CPU-side refinement a pandas-UDF
kernel would add; the JVM expression form below already gets the IO win
and stays whole-stage-codegen.

Exactness contract: PQ here runs over INTEGER vectors (compose with
``similarity.quantize_embeddings`` — int8 symmetric quantization), so
every distance is an exact int64 sum of squared differences: argmin
encoding, ADC distances, and top-k ties are bit-identical in Spark and
the DuckDB oracle, with none of the float-fold jitter the cosine family
documents. Ties break to the lowest code id / lowest vec id in both
engines (strict ``<`` left fold).

Plan shape:
- MODEL: every quantizer expression is ONE parsed SQL expression whose
  size does not depend on kc, m, ksub or dsub. Each model array
  (codebooks, coarse centroids) enters through ``similarity._model`` —
  ``from_json('<json>', 'array<…>')``, which ConstantFolding turns into
  a single Literal — and the per-centroid / per-subspace loops are
  ``transform``/``zip_with`` lambdas in the SQL text. Building a plan
  costs a handful of py4j calls and the analysed plan stays small,
  whatever the model's size.
- BUILD: one distributed ``similarity._seeds`` scan (TakeOrderedAndProject
  over md5 of the id, the same hash-seeded determinism as IVF);
  codebooks are a driver-side constant of m × ksub × dsub small ints.
- ENCODE: map-only — per subspace an array_min over ksub (dist, code)
  structs against the folded codebook literal; no shuffle, no UDF.
- QUERY (ADC): map-only distance over the codes table + the distributed
  two-phase top-k ``similarity._topk_per_query`` (WindowGroupLimit
  pre-filter keyed by the REAL spark_partition_id column, then a bounded
  array_sort merge) over the integer distance.
"""

from __future__ import annotations

import json
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from arango_etl_spark.operators.similarity import _model, _seeds, _topk_per_query


@dataclass
class PqIndex:
    codebooks: list[list[list[int]]]  # m × ksub × dsub
    codes: DataFrame  # (id_col, codes: array<int> length m)
    id_col: str
    dsub: int


def _q(name: str) -> str:
    """A caller-supplied column name, backtick-quoted for SQL text."""
    return "`" + name.replace("`", "``") + "`"


def _sq_l2(a: str, b: str) -> str:
    """Exact integer squared L2 between two int arrays (zip_with +
    aggregate left fold — deterministic in any engine)."""
    return (
        f"aggregate(zip_with({a}, {b}, (_x, _y) -> (_x - _y) * (_x - _y)),"
        " 0L, (_acc, _t) -> _acc + _t)"
    )


def _scored(v: str, words: str) -> str:
    """One (d, c, w) struct per row of ``words``: its squared distance
    from ``v``, its index and the row. Struct order sorts by distance
    and breaks ties to the lowest index (``w`` is never reached: indexes
    are unique), and each distance is evaluated exactly once."""
    return (
        f"transform({words}, (_w, _c) -> named_struct("
        f"'d', {_sq_l2(v, '_w')}, 'c', _c, 'w', _w))"
    )


def _nearest(v: str, words: str) -> str:
    """The (d, c, w) struct of the row of ``words`` nearest ``v``."""
    return f"array_min({_scored(v, words)})"


def _subvectors(v: str, m: int, dsub: int) -> str:
    """The m subvectors of ``v``. array_repeat evaluates ``v`` once per
    row: a lambda naming ``v`` itself would re-evaluate it per element
    once CollapseProject inlines a computed ``v`` (a residual) into it."""
    return (
        f"transform(array_repeat({v}, {m}),"
        f" (_v, _j) -> slice(_v, _j * {dsub} + 1, {dsub}))"
    )


def _encode_expr(vec: str, codebooks: list[list[list[int]]], dsub: int) -> Column:
    """codes[j] = argmin_c sqL2(vec[j*dsub : (j+1)*dsub], codebook_j[c])
    for the SQL expression ``vec``, as one expression: a zip_with of the
    folded codebook literal with the subvectors, an array_min
    (:func:`_nearest`) per subspace."""
    cbs = _model(codebooks, "array<array<array<int>>>")
    subs = _subvectors(vec, len(codebooks), dsub)
    return F.expr(
        f"zip_with({cbs}, {subs}, (_cb, _s) -> {_nearest('_s', '_cb')}.c)"
    )


def build_pq_index(
    emb: DataFrame,
    m: int = 8,
    ksub: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "qvec",
) -> PqIndex:
    """Train codebooks from the ksub vectors with the smallest portable
    md5-of-id (deterministic, reproducible in SQL), then encode the
    whole table map-only. Requires dim % m == 0."""
    from arango_etl_spark.operators.dedup import _spread

    seeds = _seeds(emb, id_col, vec_col, ksub)
    emb = _spread(emb)  # encode argmin is the CPU; single-file inputs
    # would otherwise run it in ONE task (no-op at table scale)
    if not seeds:
        raise ValueError("cannot build PQ index from an empty table")
    dim = len(seeds[0][vec_col])
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    codebooks = [
        [[int(x) for x in r[vec_col][j * dsub : (j + 1) * dsub]] for r in seeds]
        for j in range(m)
    ]
    codes = emb.select(
        F.col(id_col), _encode_expr(_q(vec_col), codebooks, dsub).alias("codes")
    )
    return PqIndex(codebooks, codes, id_col, dsub)


def _lut_expr(index, q: str) -> Column:
    """Per-query ADC lookup table (Jégou et al. 2011 §V, the classic
    LUT trick) for the SQL expression ``q``: lut[j][c] =
    sqL2(q_sub_j, codebook_j[c]) — m × ksub longs computed ONCE per query
    row on the (tiny, broadcast) side, as one expression over the folded
    codebook literal. Candidate scoring then degenerates to m table
    lookups per stored code (:func:`_adc_from_lut`) instead of m
    interpreted zip_with folds per (code, query) pair — higher-order-
    function lambdas run interpreted in Spark, so moving them from the
    |codes| × |queries| side to the |queries| side is the whole scan
    cost of ADC."""
    cbs = _model(index.codebooks, "array<array<array<int>>>")
    subs = _subvectors(q, len(index.codebooks), index.dsub)
    return F.expr(
        f"zip_with({cbs}, {subs},"
        f" (_cb, _s) -> transform(_cb, _w -> {_sq_l2('_s', '_w')}))"
    )


def _adc_from_lut(m: int, lut_col: str = "_lut") -> Column:
    """Asymmetric distance sum_j lut[j][codes[j]] = sum_j
    sqL2(query_sub_j, codebook_j[codes[j]]) — integer-exact, and every
    term is a plain (codegen-friendly) element_at chain: no
    per-candidate lambda."""
    return F.expr(
        " + ".join(
            f"element_at(element_at({lut_col}, {j + 1}),"
            f" element_at(codes, {j + 1}) + 1)"
            for j in range(m)
        )
    )


def pq_topk(
    index: PqIndex,
    query: DataFrame,
    k: int = 10,
    query_id_col: str = "query_id",
    qvec_col: str = "qvec",
    single_query: bool = False,
) -> DataFrame:
    """Top-k by ascending integer ADC distance, ties to the lowest id.

    single_query=True -> global TakeOrderedAndProject (no shuffle);
    multi-query -> two-phase top-k (WindowGroupLimit keyed by the real
    spark_partition_id column, bounded array_sort merge).

    The per-query m × ksub ADC lookup table is computed once on the
    broadcast side (:func:`_lut_expr`); each stored code then costs m
    table lookups, not m re-computed subvector distances."""
    id_col = index.id_col
    m = len(index.codebooks)
    qside = query.select(
        query_id_col, _lut_expr(index, _q(qvec_col)).alias("_lut")
    )
    scored = index.codes.crossJoin(F.broadcast(qside)).select(
        query_id_col, id_col, _adc_from_lut(m).alias("_d")
    )
    top = _topk_per_query(scored, k, query_id_col, id_col, single_query)
    return top.withColumnRenamed("_d", "adc_dist")


@dataclass
class IvfPqIndex:
    coarse: list[list[int]]  # kc × dim coarse centroids (int space)
    codebooks: list[list[list[int]]]  # m × ksub × dsub — RESIDUAL space
    codes: DataFrame  # (id_col, cell: int, codes: array<int> length m)
    id_col: str
    dsub: int


def build_ivfpq_index(
    emb: DataFrame,
    kc: int = 8,
    m: int = 8,
    ksub: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "qvec",
    refine_iters: int = 0,
) -> IvfPqIndex:
    """IVFADC build (Jégou et al. 2011 §IV — "IVF" + asymmetric distance
    over PQ codes): the billion-scale layout that combines BOTH index
    wins. The coarse quantizer prunes the candidate set (only ``n_probe``
    of ``kc`` cells are scanned per query — IVF's win); within a cell,
    vectors are stored as PQ codes of their RESIDUAL from the cell
    centroid (PQ's ~32× scan-compression win). Residuals concentrate
    near zero, which is why PQ codebooks fit them better than raw
    vectors — the paper's central observation.

    Integer-exactness contract (same as PqIndex): runs over INT vectors
    (compose with ``similarity.quantize_embeddings``), so coarse
    assignment, residuals, encoding, and ADC are all exact int64
    arithmetic — bit-identical in the DuckDB oracle
    (parity:ivfpq_topk_multi), no float-fold jitter anywhere.

    Plan shape:
    - seeds: ONE ``_seeds`` TakeOrdered scan of max(kc, ksub) rows;
      centroids and codebooks are driver-side constants that enter the
      plan as folded literals (module docstring).
    - assign + residual: MAP-ONLY — an array_min over (dist, cell,
      centroid) structs against the centroid literal (:func:`_scored`);
      the residual is a zip_with against the winning centroid it carries.
    - PQ codebooks: the ksub smallest-md5 RESIDUALS, derived driver-side
      from the same seed rows; encode is map-only.
    So the whole build is one bounded driver collect and zero shuffles —
    at 100 TB the codes table writes partitioned by ``cell`` and a probe
    reads only its cells' files."""
    from arango_etl_spark.operators.dedup import _spread

    # ONE TakeOrdered collect serves BOTH seed sets: coarse seeds are
    # the kc smallest-(md5, id) rows, residual-codebook seeds the ksub
    # smallest — the same ordering, so collect max(kc, ksub) rows once
    # and derive the residual seeds driver-side in exact int arithmetic
    # (identical argmin/tie-break as the Spark expression).
    seeds = _seeds(emb, id_col, vec_col, max(kc, ksub))
    emb = _spread(emb)  # assign/residual/encode are the CPU; see
    # build_pq_index (no-op once input files >= parallelism)
    if not seeds:
        raise ValueError("cannot build IVFPQ index from an empty table")
    coarse = [[int(x) for x in r[vec_col]] for r in seeds[:kc]]
    dim = len(coarse[0])
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    # Optional Lloyd refinement of the COARSE layer (the ivf_topk
    # refine_iters treatment, r4 VERDICT #2, extended to IVFADC):
    # hash-seeded centroids are a uniform sample — skewed corpora give
    # unbalanced cells (hot cell ≈ full scan per probe) and residuals
    # far from zero (bad codebook fit). Each round re-assigns map-only
    # and replaces a centroid with its cell's per-dimension mean
    # ROUNDED BACK TO INT — unlike the float IVF case this stays fully
    # deterministic (avg of ints = exact long sum / count, no FP
    # reorder; round-half-even), so refined indexes are reproducible,
    # just not oracle-paired (the parity twin pins refine_iters=0).
    # Cost: refine_iters × (one kc×dim partial-agg shuffle + kc-row
    # collect). Empty cells keep their previous centroid.
    for _ in range(int(refine_iters)):
        if len(coarse) <= 1:
            break
        near = _nearest(_q(vec_col), _model(coarse, "array<array<int>>"))
        assigned = emb.select(vec_col, F.expr(f"{near}.c").alias("cell"))
        means = (
            assigned.groupBy("cell")
            .agg(
                *[
                    F.avg(F.col(vec_col)[i]).alias(f"d{i}")
                    for i in range(dim)
                ]
            )
            .collect()  # bounded: kc rows
        )
        by_cell = {
            r["cell"]: [int(round(r[f"d{i}"])) for i in range(dim)]
            for r in means
        }
        coarse = [by_cell.get(c, v) for c, v in enumerate(coarse)]
    # the nearest centroid rides along in the argmin struct, so the
    # centroid literal enters the plan once. `cell` is non-nullable (the
    # coalesce never fires: kc >= 1), so a probe's equi-join on it infers
    # no isnotnull filter that would evaluate the argmin a second time.
    near = _nearest(_q(vec_col), _model(coarse, "array<array<int>>"))
    residuals = emb.select(id_col, vec_col, F.expr(near).alias("_n")).select(
        id_col,
        F.coalesce(F.col("_n.c"), F.lit(0)).alias("cell"),
        F.expr(f"zip_with({_q(vec_col)}, _n.w, (_x, _y) -> _x - _y)").alias(
            "_res"
        ),
    )
    # residual-codebook seeds: the ksub smallest-(md5, id) rows — the
    # SAME ordering the coarse seeds used, so they are a prefix of the
    # one collected seed set; their cell (argmin int sqL2, ties to the
    # lowest id — the _nearest tie-break exactly) and residual are
    # pure int arithmetic over <= ksub collected rows, done driver-side
    # instead of a second distributed TakeOrdered over the full
    # assignment plan. Uses the REFINED coarse layer (loop above), as
    # the distributed formulation did.
    res_vecs = []
    for r in seeds[:ksub]:
        v = [int(x) for x in r[vec_col]]
        _, c = min(
            (sum((x - y) * (x - y) for x, y in zip(v, cen)), c)
            for c, cen in enumerate(coarse)
        )
        res_vecs.append([x - y for x, y in zip(v, coarse[c])])
    codebooks = [
        [rv[j * dsub : (j + 1) * dsub] for rv in res_vecs]
        for j in range(m)
    ]
    # Lloyd refinement of the RESIDUAL codebooks (the actual PQ training
    # step — hash-sampled codewords rank same-cell neighbours nearly at
    # random; k-means codewords are what makes ADC a usable ranker).
    # ONE shuffle per round for ALL m subspaces: posexplode the codes
    # array to (j, code, subvector) rows and groupBy (j, code) — the
    # same exact-int avg + round-half-even determinism as the coarse
    # refinement above. m × ksub bounded collect per round.
    for _ in range(int(refine_iters)):
        enc = residuals.select(
            F.col("_res"),
            F.posexplode(
                _encode_expr("_res", codebooks, dsub)
            ).alias("_j", "_c"),
        ).select(
            "_j",
            "_c",
            F.slice(F.col("_res"), F.col("_j") * dsub + 1, dsub).alias(
                "_sub"
            ),
        )
        cb_means = (
            enc.groupBy("_j", "_c")
            .agg(
                *[
                    F.avg(F.col("_sub")[i]).alias(f"d{i}")
                    for i in range(dsub)
                ]
            )
            .collect()  # bounded: m × ksub rows
        )
        by_jc = {
            (r["_j"], r["_c"]): [
                int(round(r[f"d{i}"])) for i in range(dsub)
            ]
            for r in cb_means
        }
        codebooks = [
            [by_jc.get((j, c), w) for c, w in enumerate(cb)]
            for j, cb in enumerate(codebooks)
        ]
    codes = residuals.select(
        F.col(id_col),
        F.col("cell"),
        _encode_expr("_res", codebooks, dsub).alias("codes"),
    )
    return IvfPqIndex(coarse, codebooks, codes, id_col, dsub)


def ivfpq_topk(
    index: IvfPqIndex,
    query: DataFrame,
    k: int = 10,
    n_probe: int = 2,
    query_id_col: str = "query_id",
    qvec_col: str = "qvec",
    single_query: bool = False,
    rerank: int = 0,
    src: DataFrame | None = None,
    src_vec_col: str = "qvec",
) -> DataFrame:
    """IVFADC query: pick the ``n_probe`` coarse cells nearest the query
    (exact int sqL2 against the folded centroid literal — computed once
    per QUERY row, broadcast), scan ONLY those cells' codes, and rank by
    ADC distance between the query's per-cell residual and each stored
    code. Ties break to the lowest cell / code / vec id in both engines.

    The candidate filter is an equi-join on ``cell`` against the (tiny)
    broadcast query side — a BroadcastHashJoin whose streamed side is
    the codes scan, i.e. exactly the cell-pruned scan; with the codes
    table partitioned by ``cell`` it is also partition pruning."""
    id_col = index.id_col
    qv = F.col(qvec_col)
    # (dist, cell, centroid) structs sorted ascending: the probed cells
    # carry their centroid, so the residual needs no second literal
    cells = _scored(_q(qvec_col), _model(index.coarse, "array<array<int>>"))
    probes = F.expr(
        f"slice(array_sort({cells}), 1, {min(n_probe, len(index.coarse))})"
    )
    # one broadcast row per (query, probed cell): the candidate filter
    # becomes a plain equi-join on `cell` (BroadcastHashJoin — with the
    # codes table partitioned by cell it is ALSO the partition-pruning
    # predicate), and the per-(query, cell) residual ADC lookup table is
    # computed once on these few rows (n_queries × n_probe), so each
    # stored code pays m table lookups instead of m interpreted folds.
    qcell = query.select(
        query_id_col, qv.alias("_qv"), F.explode(probes).alias("_p")
    )
    qres = "zip_with(_qv, _p.w, (_x, _y) -> _x - _y)"
    qside = qcell.select(
        query_id_col,
        F.col("_p.c").alias("cell"),
        _lut_expr(index, qres).alias("_lut"),
    )
    scored = (
        index.codes.join(F.broadcast(qside), "cell")
        .select(
            query_id_col, id_col,
            _adc_from_lut(len(index.codebooks)).alias("_d"),
        )
    )
    if rerank <= 0:
        top = _topk_per_query(scored, k, query_id_col, id_col, single_query)
        return top.withColumnRenamed("_d", "adc_dist")
    if src is None:
        raise ValueError("rerank > 0 requires src (the original vectors)")
    # IVFADC+R (Jégou/Tavenard/Douze/Amsaleg 2011): ADC is a LOSSY
    # ranker — use it only to cut the probed cells down to a shortlist
    # of ``rerank`` candidates per query, then re-rank the shortlist by
    # EXACT int sqL2 against the original vectors. The shortlist
    # (n_queries × rerank rows) is tiny, so the refinement join
    # broadcasts it against ``src`` — at table scale that is a
    # bucket-pruned point-lookup join, never a second full scan. The
    # final top-k is exact over the shortlist; ties to the lowest id.
    short = _topk_per_query(
        scored, int(rerank), query_id_col, id_col, single_query
    ).select(query_id_col, id_col)
    exact = (
        src.withColumnsRenamed({id_col: "_sid", src_vec_col: "_sv"})
        .select("_sid", "_sv")
        .join(F.broadcast(short), F.col("_sid") == F.col(id_col))
        .join(
            F.broadcast(query.select(query_id_col, qv.alias("_qq"))),
            query_id_col,
        )
        .select(
            query_id_col,
            id_col,
            F.expr(_sq_l2("_qq", "_sv")).alias("_d"),
        )
    )
    out = _topk_per_query(exact, k, query_id_col, id_col, single_query)
    return out.withColumnRenamed("_d", "sq_dist")


def save_ivfpq_index(index: IvfPqIndex, path: str) -> None:
    """Persist the build-once index: codes land PARTITIONED BY cell
    (so a probe's equi-join on ``cell`` is served by disk partition
    pruning — the layout ``ivfpq_topk``'s docstring
    assumes at table scale), and the tiny driver-side state (coarse
    centroids, codebooks, id col, dsub) lands as one JSON row written
    THROUGH Spark so the path may be any Hadoop-supported filesystem,
    not just local disk."""
    spark = index.codes.sparkSession
    index.codes.write.mode("overwrite").partitionBy("cell").parquet(
        f"{path.rstrip('/')}/codes"
    )
    meta = json.dumps(
        {
            "coarse": index.coarse,
            "codebooks": index.codebooks,
            "id_col": index.id_col,
            "dsub": index.dsub,
        }
    )
    # one JVM literal row, NOT createDataFrame([...]).coalesce(1): the
    # parallelized local collection becomes a 32-slice Python RDD and
    # coalesce(1) folds all slices into ONE task that pays a Python
    # worker round trip per empty slice (measured ~5 s of the old
    # ivfpq_build leg; range(1)+lit is ~0.2 s and never leaves the JVM)
    spark.range(1).select(F.lit(meta).alias("meta")).write.mode(
        "overwrite"
    ).text(f"{path.rstrip('/')}/meta")


def load_ivfpq_index(spark, path: str) -> IvfPqIndex:
    """Reopen a saved index for serving: queries plan against a clean
    partitioned parquet scan — the build-time literal assignment
    expressions are gone, so per-query analysis cost is independent of
    the corpus and the build."""
    meta = json.loads(
        spark.read.text(f"{path.rstrip('/')}/meta").first()["value"]
    )
    codes = spark.read.parquet(f"{path.rstrip('/')}/codes")
    # `cell` is a partition column recovered by directory-name inference;
    # with spark.sql.sources.partitionColumnTypeInference.enabled=false
    # (common hardening) it loads as STRING and the probe's equi-join on
    # cell fails analysis — pin the type explicitly (r5 ADVICE #3).
    codes = codes.withColumn("cell", F.col("cell").cast("int"))
    return IvfPqIndex(
        [[int(x) for x in c] for c in meta["coarse"]],
        [
            [[int(x) for x in w] for w in cb]
            for cb in meta["codebooks"]
        ],
        codes,
        meta["id_col"],
        int(meta["dsub"]),
    )
