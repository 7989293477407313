"""Unit tests for the operator library: additive map merge (A4), dedup
family, similarity search, text analysis, multimodal plumbing."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from arango_etl_spark.operators import dedup, maps, multimodal, similarity, text

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").cache()


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").cache()


# ------------------------------------------------------------------- maps
def test_map_add_is_additive(spark):
    df = spark.createDataFrame(
        [({"a": 1, "b": 2}, {"b": 3, "c": 4})],
        "m1 map<string,int>, m2 map<string,int>",
    )
    out = df.select(maps.map_add(F.col("m1"), F.col("m2")).alias("m")).collect()[0]["m"]
    assert dict(out) == {"a": 1, "b": 5, "c": 4}


def test_histogram_map_and_upsert(spark):
    ev = spark.createDataFrame(
        [("e1", 1), ("e1", 1), ("e1", 2), ("e2", 5)], "k string, bucket int"
    )
    hist = maps.histogram_map(ev, ["k"], "bucket")
    h = {r["k"]: dict(r["hist"]) for r in hist.collect()}
    assert h == {"e1": {1: 2, 2: 1}, "e2": {5: 1}}

    # accumulate-upsert: merge a second batch into the first
    batch2 = maps.histogram_map(
        spark.createDataFrame([("e1", 2), ("e3", 9)], "k string, bucket int"),
        ["k"], "bucket",
    )
    merged = maps.merge_histogram_upsert(hist, batch2, ["k"], "hist")
    m = {r["k"]: dict(r["hist"]) for r in merged.collect()}
    assert m == {"e1": {1: 2, 2: 2}, "e2": {5: 1}, "e3": {9: 1}}


# ------------------------------------------------------------------ dedup
def test_minhash_detects_near_dups(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog again and again"),
        (2, "the quick brown fox jumps over the lazy dog again and again!"),
        (3, "completely different content about spark query engines at scale"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = dedup.minhash_lsh_pairs(df, n_hashes=32, n_bands=16).collect()
    found = {(r["doc_a"], r["doc_b"]) for r in pairs}
    assert (1, 2) in found
    assert (1, 3) not in found and (2, 3) not in found


def test_jaccard_exact(spark):
    rows = [
        (1, "a b c d e f g h"),
        (2, "a b c d e f g x"),
        (3, "z y x w v u t s"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = dedup.jaccard_ngram_pairs(df, ngram=2, threshold=0.5).collect()
    d = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in pairs}
    assert (1, 2) in d and d[(1, 2)] >= 0.5
    assert (1, 3) not in d


def test_simhash_similar_docs_close(spark):
    rows = [
        (1, "spark is a unified analytics engine for large scale data"),
        (2, "spark is a unified analytics engine for large scale data!"),
        (3, "unrelated words entirely here about cooking pasta tonight"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r["simhash63"] for r in dedup.simhash(df).collect()}
    ham = lambda a, b: bin(a ^ b).count("1")  # noqa: E731
    assert ham(out[1], out[2]) < ham(out[1], out[3])


def test_minhash_signature_shape(spark, docs):
    sig = dedup.minhash_signatures(docs.limit(20), n_hashes=16)
    rows = sig.collect()
    assert all(len(r["signature"]) == 16 for r in rows)


# -------------------------------------------------------------- similarity
def test_cosine_topk_exact(spark, emb):
    q = emb.where(F.col("vec_id") == 0).select(
        F.lit(0).alias("query_id"), "embedding"
    )
    base = emb.where(F.col("vec_id") != 0)
    top = similarity.cosine_topk(base, q, k=5).collect()
    assert len(top) == 5
    sims = [r["cos_sim"] for r in top]
    assert sims == sorted(sims, reverse=True)
    assert all(-1.0001 <= s <= 1.0001 for s in sims)


def test_lsh_topk_recall(spark, emb):
    dim = len(emb.select("embedding").first()["embedding"])
    q = emb.where(F.col("vec_id") == 0).select(
        F.lit(0).alias("query_id"), "embedding"
    )
    base = emb.where(F.col("vec_id") != 0)
    exact = {r["vec_id"] for r in similarity.cosine_topk(base, q, k=10).collect()}
    approx = {
        r["vec_id"]
        for r in similarity.lsh_cosine_topk(
            base, q, dim=dim, k=10, n_planes=4, n_tables=16
        ).collect()
    }
    # these synthetic embeddings are near-orthogonal (best cos≈0.33 →
    # sign-agreement s≈0.61): 16 tables x 4 planes → recall ≈ 1-(1-s^4)^16 ≈ 0.9
    assert len(exact & approx) >= 5


def test_repetition_signals_known_values(spark):
    """Hand-computed Gopher-style repetition fractions (exact integer ppm
    — no float rounding anywhere)."""
    rows = [
        (1, "a a a b"),        # 4 words, 2 distinct, top=3; bigrams:
                               # 'a a','a a','a b' → top 2 of 3
        (2, "x y z"),          # no repetition; bigrams 'x y','y z' top 1/2
        (3, "w"),              # 1 word; bigram degenerates to 'w' (1/1)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r.asDict() for r in text.repetition_signals(df).collect()}
    assert got[1]["n_words"] == 4 and got[1]["n_distinct_words"] == 2
    assert got[1]["dup_word_ppm"] == 500_000          # (4-2)/4
    assert got[1]["top_word_ppm"] == 750_000          # 3/4
    assert got[1]["top_bigram_ppm"] == 666_666        # floor(2e6/3)
    assert got[2]["dup_word_ppm"] == 0
    assert got[2]["top_word_ppm"] == 333_333
    assert got[2]["top_bigram_ppm"] == 500_000
    assert got[3]["top_bigram_ppm"] == 1_000_000


def test_ivf_full_probe_equals_exact(spark, emb):
    """IVF with n_probe == n_centroids degenerates to exact search: the
    probed cells cover the whole space, so the top-k must equal brute
    force (same raw-double ordering, same id tie-breaks); the self-hit
    ranks first at cos 1.0. At n_probe < n_centroids the result is a
    subset of the probed cells by construction."""
    q = emb.where(F.col("vec_id") == 0).select(
        F.lit(0).alias("query_id"), "embedding"
    )
    exact = [
        (r["vec_id"], round(r["cos_sim"], 4))
        for r in similarity.cosine_topk(emb, q, k=10).collect()
    ]
    full = [
        (r["vec_id"], r["cos_sim"])
        for r in similarity.ivf_cosine_topk(
            emb, q, k=10, n_centroids=8, n_probe=8
        ).collect()
    ]
    assert full == exact
    assert full[0] == (0, 1.0)  # self-hit first
    probed = similarity.ivf_cosine_topk(
        emb, q, k=10, n_centroids=8, n_probe=2
    ).collect()
    assert 0 < len(probed) <= 10
    assert set(r["vec_id"] for r in probed) <= set(
        r["vec_id"]
        for r in similarity.ivf_cosine_topk(
            emb, q, k=10_000, n_centroids=8, n_probe=8
        ).collect()
    )


def test_ivf_refined_recall_floor(spark):
    """r4 VERDICT #2: measure recall@10 vs brute force at sub-full probe
    levels instead of only asserting subset containment. On clustered
    synthetic embeddings (8 true clusters, 16 dims) Lloyd-refined
    centroids must reach recall@10 >= 0.8 at n_probe=4/16 and never be
    materially worse than the hash-seeded index at any probe level."""
    import numpy as np

    rng = np.random.default_rng(7)
    n_clusters, dim, per = 8, 16, 50
    centers = rng.normal(size=(n_clusters, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    rows = []
    for vid in range(n_clusters * per):
        v = centers[vid % n_clusters] + 0.15 * rng.normal(size=dim)
        rows.append((vid, [float(x) for x in v]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    qrows = [
        (qi, [float(x) for x in centers[qi % n_clusters]
              + 0.15 * rng.normal(size=dim)])
        for qi in range(16)
    ]
    qdf = spark.createDataFrame(
        qrows, "query_id long, embedding array<double>"
    )
    exact: dict = {}
    for r in similarity.cosine_topk(emb, qdf, k=10).collect():
        exact.setdefault(r["query_id"], set()).add(r["vec_id"])

    def recall(index, n_probe):
        got: dict = {}
        rows = similarity.ivf_query(index, qdf, k=10, n_probe=n_probe)
        for r in rows.collect():
            got.setdefault(r["query_id"], set()).add(r["vec_id"])
        hits = sum(len(got.get(q, set()) & e) for q, e in exact.items())
        return hits / sum(len(e) for e in exact.values())

    seeded = similarity.build_ivf_index(emb, n_centroids=16)
    refined = similarity.build_ivf_index(
        emb, n_centroids=16, refine_iters=3
    )
    report = {
        n_probe: (recall(seeded, n_probe), recall(refined, n_probe))
        for n_probe in (1, 2, 4)
    }
    print(f"IVF recall@10 (seeded, refined) by n_probe: {report}")
    assert report[4][1] >= 0.8, report
    assert all(ref >= seed - 0.05 for seed, ref in report.values()), report


# --------------------------------------------------------------------- text
def test_language_id(spark):
    rows = [
        (1, "the cat and the dog sat of the mat"),
        (2, "le chat et la souris et le fromage"),
        (3, "der hund und die katze und der vogel"),
        (4, "xyzzy plugh"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r["predicted_lang"] for r in text.language_id(df).collect()}
    assert out == {1: "en", 2: "fr", 3: "de", 4: "unknown"}


def test_quality_signals(spark, docs):
    q = text.quality_signals(docs.limit(50)).collect()
    for r in q:
        assert 0 <= r["q_alpha_ratio"] <= 1
        assert 0 <= r["q_punct_ratio"] <= 1
        assert 0 < r["q_distinct_word_ratio"] <= 1


def test_token_counts_and_fingerprint(spark):
    df = spark.createDataFrame(
        [(1, "Hello, world! 42 times."), (2, "Hello, world! 42 times.")],
        "doc_id long, text string",
    )
    tc = text.token_counts(df).first()
    assert tc["n_ws_tokens"] == 4
    assert tc["n_bpe_tokens"] >= 4  # punctuation split off
    fp = text.fingerprint(df).collect()
    assert fp[0]["content_md5"] == fp[1]["content_md5"]
    assert fp[0]["rolling_hash"] == fp[1]["rolling_hash"]
    # order sensitivity
    df2 = spark.createDataFrame([(3, "world! Hello, times. 42")], "doc_id long, text string")
    fp2 = text.fingerprint(df2).first()
    assert fp2["rolling_hash"] != fp[0]["rolling_hash"]


# --------------------------------------------------------------- multimodal
def test_multimodal_plumbing(spark, docs):
    media = multimodal.synthesize_media(docs.limit(30))
    feats = multimodal.extract_features(media, fake=True)
    rows = feats.collect()
    assert len(rows) == 30
    assert all(len(r["feature"]) == 8 for r in rows)
    assert all(r["n_bytes"] > 0 for r in rows)
    # deterministic
    again = multimodal.extract_features(media, fake=True).collect()
    assert sorted(map(str, rows)) == sorted(map(str, again))


def test_multimodal_real_decode_stubbed():
    with pytest.raises(NotImplementedError):
        multimodal.decode_video_stub(b"bytes", fake=False)


def test_bmp_roundtrip_exact():
    """_bmp_encode/_bmp_decode round-trip, including padded widths and the
    bottom-up row flip (a decoder that forgets the flip returns the last
    image row as row 0 — caught by the asymmetric pixel formula)."""
    import numpy as np

    rng = [(5, 4), (8, 6), (4, 5), (7, 3), (1, 1)]  # widths needing padding
    for w, h in rng:
        px = (np.arange(w * h * 3, dtype=np.int64) * 37 % 256).astype(
            np.uint8
        ).reshape(h, w, 3)
        back = multimodal._bmp_decode(multimodal._bmp_encode(px))
        assert back.shape == (h, w, 3)
        assert (back == px).all()


def test_bmp_features_spark(spark, docs):
    """Spark-side BMP synth+decode matches a direct numpy recomputation of
    the synthesis formula (the DuckDB oracle mirrors the same formula)."""
    import numpy as np

    feats = multimodal.decode_bmp_features(
        multimodal.synthesize_bmp(docs.limit(20))
    ).collect()
    assert len(feats) == 20
    for r in feats:
        d = r["doc_id"]
        w, h = 4 + d % 5, 4 + d % 3
        p = np.arange(w * h, dtype=np.int64)[:, None]
        c = np.arange(3, dtype=np.int64)[None, :]
        v = (d * 31 + p * 7 + c * 13) % 256
        assert (r["width"], r["height"]) == (w, h)
        assert r["top_left_sum"] == int(v[0].sum())
        assert abs(r["mean_b"] - v[:, 0].mean()) < 1e-9
        assert abs(r["mean_r"] - v[:, 2].mean()) < 1e-9


def test_rawv_frame_sampling_exact(spark, docs):
    """RAWV synth + frame sampling: every-2nd-frame selection, per-frame
    stats recomputed directly from the synthesis formula, and the
    log-and-skip contract on a corrupt payload."""
    import numpy as np

    feats = multimodal.sample_video_frames(
        multimodal.synthesize_rawv(docs.limit(15).select("doc_id")),
        every_k=2,
    ).collect()
    by_doc: dict[int, list] = {}
    for r in feats:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert len(by_doc) == 15
    for d, rows in by_doc.items():
        w, h, nf = 8 + d % 8, 8, 4 + d % 4
        want_frames = list(range(0, nf, 2))
        assert sorted(r["frame_idx"] for r in rows) == want_frames
        for r in rows:
            f_ = r["frame_idx"]
            y = np.arange(h, dtype=np.int64)[:, None]
            x = np.arange(w, dtype=np.int64)[None, :]
            v = (d * 31 + f_ * 17 + y * 5 + x * 3) % 256
            assert (r["width"], r["height"]) == (w, h)
            assert abs(r["mean_lum"] - v.mean()) < 1e-9
            assert (r["min_lum"], r["max_lum"]) == (v.min(), v.max())

    # corrupt payloads (bad magic / truncated body) are skipped, not fatal
    bad = spark.createDataFrame(
        [(1, "video", b"JUNKxxxxxxxxxxxxxxx"), (2, "video", b"RAWV")],
        multimodal.RAWV_MEDIA_SCHEMA,
    )
    assert multimodal.sample_video_frames(bad).count() == 0


def test_near_dup_clusters_components(spark, docs):
    """Planted clone groups collapse to one cluster labeled by the min
    doc id; everything else labels itself; output covers every doc."""
    from pyspark.sql import functions as F2

    base = docs.limit(40).select("doc_id", "text")
    clone_a = base.where(F2.col("doc_id") == 0).select(
        F2.explode(F2.array(F2.lit(1001), F2.lit(1002), F2.lit(1003)))
        .alias("doc_id"),
        "text",
    )
    clone_b = base.where(F2.col("doc_id") == 1).select(
        F2.explode(F2.array(F2.lit(2001), F2.lit(2002))).alias("doc_id"),
        "text",
    )
    all_docs = base.unionByName(clone_a).unionByName(clone_b)
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in dedup.near_dup_clusters(all_docs).collect()
    }
    assert len(got) == 45
    # clone group A: {0, 1001, 1002, 1003} all -> 0
    assert got[0] == got[1001] == got[1002] == got[1003] == 0
    # clone group B: {1, 2001, 2002} all -> 1
    assert got[1] == got[2001] == got[2002] == 1
    # structural invariants (testdata has some natural near-dups, so
    # "everything else is a singleton" does NOT hold): labels are the
    # component MINIMUM (label <= id) and label rows are fixpoints
    assert all(cl <= d for d, cl in got.items())
    assert all(got[cl] == cl for cl in got.values())
    # no non-planted doc got pulled into the planted clone ids
    assert all(cl not in (1001, 1002, 1003, 2001, 2002) for cl in got.values())


def test_near_dup_clusters_reliable_checkpoint(spark, docs, tmp_path):
    """reliable_checkpoint_dir switches lineage truncation to cluster-
    durable checkpoint() (round-3 VERDICT #3) — same fixpoint as the
    default localCheckpoint mode, and checkpoint files actually land
    in the given directory."""
    base = docs.limit(30).select("doc_id", "text")
    ckpt_dir = str(tmp_path / "ckpt")
    local = {
        (r["doc_id"], r["cluster_id"])
        for r in dedup.near_dup_clusters(base).collect()
    }
    durable = {
        (r["doc_id"], r["cluster_id"])
        for r in dedup.near_dup_clusters(
            base,
            reliable_checkpoint_dir=ckpt_dir,
            cleanup_checkpoints=False,
        ).collect()
    }
    assert durable == local
    import os

    found = [
        f for root, _, files in os.walk(ckpt_dir) for f in files
    ]
    assert found, f"no checkpoint files written under {ckpt_dir}"


def test_near_dup_clusters_reliable_checkpoint_cleanup(spark, docs, tmp_path):
    """Default reliable mode must not leak checkpoint storage or global
    state (ADVICE r4 #3): the per-call ndc-* subdir is deleted after
    convergence, the result is still consumable, and the
    SparkContext-wide checkpoint dir does not point into the deleted
    subdir."""
    import os

    base = docs.limit(30).select("doc_id", "text")
    ckpt_dir = str(tmp_path / "ckpt")
    out = dedup.near_dup_clusters(base, reliable_checkpoint_dir=ckpt_dir)
    assert out.count() == 30  # consumable after cleanup
    leftover = [
        d for d in (os.listdir(ckpt_dir) if os.path.isdir(ckpt_dir) else [])
        if d.startswith("ndc-")
    ]
    assert leftover == [], f"leaked per-call checkpoint dirs: {leftover}"
    jdir = spark.sparkContext._jsc.sc().getCheckpointDir()
    restored = jdir.get() if jdir.isDefined() else None
    assert restored is not None and "ndc-" not in restored


def test_embedding_near_dup_pairs(spark, emb):
    from pyspark.sql import functions as F2

    dim = len(emb.select("embedding").first()["embedding"])
    # plant an exact duplicate of vec_id=0 with a new id
    dup = emb.where(F2.col("vec_id") == 0).select(
        F2.lit(99999).cast("long").alias("vec_id"), "embedding", "label"
    )
    base = emb.unionByName(dup)
    pairs = dedup.embedding_near_dup_pairs(base, dim=dim, threshold=0.99)
    found = {(r["doc_a"], r["doc_b"]) for r in pairs.collect()}
    assert (0, 99999) in found
    # near-orthogonal random vectors must not appear as near-dups
    assert all(p == (0, 99999) or p[0] != 0 for p in found)


# ------------------------------------------------------------------- geo
def test_geo_cell_roundtrip_and_parent(spark):
    """Mirror of the reference's only unit test (loc_data.rs:101-129):
    a cell's center re-encodes to the same cell; the parent at a coarser
    res contains the child (same grid indices after the shift)."""
    from arango_etl_spark.operators import geo

    pts = spark.createDataFrame(
        [(1, 37.7749, -122.4194), (2, -33.8688, 151.2093), (3, 0.0, 0.0),
         (4, 90.0, 180.0), (5, -90.0, -180.0)],  # poles/antimeridian clamp
        "id long, lat double, lng double",
    )
    enriched = geo.geo_enrich(pts, "lat", "lng", res=12, parent_res=5)
    rows = enriched.collect()
    # round-trip: re-encode each center → identical cell
    centers = spark.createDataFrame(
        [(r["id"], r["cell_lat"], r["cell_lng"], r["cell"])
         for r in rows],
        "id long, lat double, lng double, orig_cell string",
    )
    again = geo.geo_enrich(centers, "lat", "lng", res=12, parent_res=5)
    for r in again.collect():
        assert r["cell"] == r["orig_cell"], f"round-trip failed for id={r['id']}"
    # parent containment: child indices >> 7 == parent indices
    for r in rows:
        _, x, y = r["cell"].split("_")
        _, px, py = r["parent_cell"].split("_")
        assert (int(x) >> 7, int(y) >> 7) == (int(px), int(py))
    # geojson box straddles the center
    import json as _json
    for r in rows:
        poly = _json.loads(r["geojson"])["coordinates"][0]
        w, s = poly[0]
        e, n = poly[2]
        assert w <= r["cell_lng"] <= e and s <= r["cell_lat"] <= n


def test_geo_oracle_res_restriction(spark):
    """The oracle-exact path is restricted to res <= 12 (ADVICE r2: the
    engines' double→decimal casts diverge beyond it); geo_enrich itself
    still honors the parent contract at high res."""
    import pytest as _pytest

    from arango_etl_spark.operators import geo

    with _pytest.raises(ValueError, match="res <= 12"):
        geo.geo_enrich_oracle_sql("SELECT 1", "lat", "lng", res=20)
    pts = spark.createDataFrame(
        [(1, 37.5, -122.3)], "user_id long, lat double, lng double"
    )
    r = geo.geo_enrich(pts, "lat", "lng", res=20, parent_res=12).first()
    # parent index = child index >> (res - parent_res), per cell ids
    cx, cy = map(int, r["cell"].split("_")[1:])
    px, py = map(int, r["parent_cell"].split("_")[1:])
    assert (px, py) == (cx >> 8, cy >> 8)


def test_geo_h3_mode_gates_cleanly_without_package(spark):
    """scheme='h3' must raise a labeled ImportError when the public h3
    package is absent (this image) — the grid scheme stays the default."""
    import pytest as _pytest

    from arango_etl_spark.operators import geo

    try:
        import h3  # noqa: F401
    except ImportError:
        pts = spark.createDataFrame(
            [(1, 37.5, -122.3)], "user_id long, lat double, lng double"
        )
        with _pytest.raises(ImportError, match="h3"):
            geo.geo_enrich(pts, "lat", "lng", res=9, scheme="h3")
    else:
        _pytest.skip("h3 installed — covered by test_geo_h3_consistency")


def test_geo_h3_consistency(spark):
    """H3 mode (runs only where `pip install h3` happened): same five
    columns, parent contract holds (cell_to_parent of the cell), and the
    cell center rounds to the h3 library's own answer."""
    import pytest as _pytest

    h3 = _pytest.importorskip("h3")

    from arango_etl_spark.operators import geo

    pts = spark.createDataFrame(
        [(1, 37.5, -122.3), (2, -33.86, 151.21)],
        "user_id long, lat double, lng double",
    )
    rows = geo.geo_enrich(pts, "lat", "lng", res=9, parent_res=5,
                          scheme="h3").collect()
    assert len(rows) == 2
    for r in rows:
        expect = h3.latlng_to_cell(r["lat"], r["lng"], 9)
        assert r["cell"] == expect
        assert r["parent_cell"] == h3.cell_to_parent(expect, 5)
        la, ln = h3.cell_to_latlng(expect)
        assert (r["cell_lat"], r["cell_lng"]) == (round(la, 6), round(ln, 6))
        import json as _json

        poly = _json.loads(r["geojson"])["coordinates"][0]
        assert poly[0] == poly[-1] and len(poly) >= 7


# --------------------------------------------------------------- packing
def test_pack_sequences_invariants(spark):
    """Every chunk except each group's last is exactly chunk_len; token
    count and sum are conserved; chunk ids are dense from 0."""
    from arango_etl_spark.operators.packing import pack_sequences

    rows = [
        ("s1", 1, list(range(10))),
        ("s1", 2, list(range(7))),
        ("s1", 3, list(range(12))),
        ("s2", 4, list(range(5))),
    ]
    df = spark.createDataFrame(rows, "source string, doc_id long, tokens array<int>")
    out = pack_sequences(df, chunk_len=8, order_col="doc_id",
                         group_cols=["source"], n_shards=1).collect()
    by_group: dict = {}
    for r in out:
        by_group.setdefault(r["source"], []).append(r)
    for g, chunks in by_group.items():
        chunks.sort(key=lambda r: r["chunk_id"])
        assert [c["chunk_id"] for c in chunks] == list(range(len(chunks)))
        assert all(c["n_tok"] == 8 for c in chunks[:-1])
        assert 1 <= chunks[-1]["n_tok"] <= 8
    total = sum(r["n_tok"] for r in out)
    assert total == sum(len(t) for _, _, t in rows)
    assert sum(r["token_sum"] for r in out) == sum(sum(t) for _, _, t in rows)
    # deterministic packing: first chunk of s1 = docs 1..2 concatenated
    s1c0 = [r for r in out if r["source"] == "s1" and r["chunk_id"] == 0][0]
    assert (s1c0["first_token"], s1c0["last_token"]) == (0, 7)


def test_pack_sequences_auto_shards_single_group(spark):
    """Auto n_shards (default): a 1-group input must fan out to multiple
    shards when parallelism allows — the group no longer serializes into
    one window task (round-2 VERDICT #5). Conservation still holds."""
    from arango_etl_spark.operators.packing import pack_sequences

    rows = [("s", i, list(range(i % 7 + 1))) for i in range(200)]
    df = spark.createDataFrame(
        rows, "source string, doc_id long, tokens array<int>"
    )
    out = pack_sequences(df, chunk_len=16, order_col="doc_id",
                         group_cols=["source"]).collect()
    assert "shard" in out[0].asDict()
    n_shards = len({r["shard"] for r in out})
    par = spark.sparkContext.defaultParallelism
    assert n_shards > 1 or par == 1
    assert sum(r["n_tok"] for r in out) == sum(len(t) for _, _, t in rows)
    # per (group, shard): all chunks full except the last
    by_shard: dict = {}
    for r in out:
        by_shard.setdefault(r["shard"], []).append(r)
    for chunks in by_shard.values():
        chunks.sort(key=lambda r: r["chunk_id"])
        assert all(c["n_tok"] == 16 for c in chunks[:-1])


def test_pack_sequences_duplicate_order_keys(spark):
    """Duplicate order_col values must yield structurally valid chunks
    (distinct offsets via the ROWS frame — ADVICE r2: the RANGE frame gave
    ties identical offsets, overlapping positions, corrupt n_tok), and
    validate_unique=True must refuse them."""
    import pytest as _pytest

    from arango_etl_spark.operators.packing import pack_sequences

    rows = [("s", 1, [1, 2, 3]), ("s", 1, [4, 5]), ("s", 2, [6, 7, 8, 9])]
    df = spark.createDataFrame(
        rows, "source string, doc_id long, tokens array<int>"
    )
    out = pack_sequences(df, chunk_len=4, order_col="doc_id",
                         group_cols=["source"], n_shards=1).collect()
    assert sum(r["n_tok"] for r in out) == 9          # conserved, no overlap
    chunks = sorted(out, key=lambda r: r["chunk_id"])
    assert [c["chunk_id"] for c in chunks] == [0, 1, 2]
    assert [c["n_tok"] for c in chunks] == [4, 4, 1]  # only the tail short
    with _pytest.raises(ValueError, match="duplicate"):
        pack_sequences(df, chunk_len=4, order_col="doc_id",
                       group_cols=["source"], n_shards=1,
                       validate_unique=True)


def test_deterministic_sample_is_stable_and_exactish(spark, docs):
    from arango_etl_spark.operators.packing import deterministic_sample

    a = {r["doc_id"] for r in deterministic_sample(docs, 300).select("doc_id").collect()}
    b = {r["doc_id"] for r in deterministic_sample(docs, 300).select("doc_id").collect()}
    assert a == b  # replayable
    n = docs.count()
    assert 0.15 * n <= len(a) <= 0.45 * n  # md5-uniform-ish at permille 300
    sub = {r["doc_id"] for r in deterministic_sample(docs, 100).select("doc_id").collect()}
    assert sub <= a  # nested: smaller permille is a subset


def test_redact_pii(spark):
    rows = [
        (1, "mail me at john.doe@example.com or visit https://x.io/page?q=1 now"),
        (2, "call +1 (555) 123-4567 today"),
        (3, "nothing sensitive here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in text.redact_pii(df).collect()}
    assert "<EMAIL>" in out[1]["clean_text"] and "<URL>" in out[1]["clean_text"]
    assert out[1]["n_redactions"] == 2
    assert "<PHONE>" in out[2]["clean_text"] and out[2]["n_redactions"] == 1
    assert out[3]["clean_text"] == rows[2][1] and out[3]["n_redactions"] == 0


def test_contamination_flags(spark):
    """Docs overlapping the benchmark's n-grams are flagged; others not;
    benchmark members flag themselves (shared shingles by identity)."""
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "quick brown fox stole my benchmark sentence verbatim"),
            (3, "entirely unrelated content about databases and engines"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, "the quick brown fox appears in this eval set")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in
           dedup.contamination_flags(docs, bench, ngram=3).collect()}
    assert out[1]["contaminated"] and out[1]["n_shared_ngrams"] >= 2
    assert out[2]["contaminated"]  # shares 'quick brown fox'
    assert not out[3]["contaminated"] and out[3]["n_shared_ngrams"] == 0


def test_mixture_sample_weights_and_determinism(spark, docs):
    from arango_etl_spark.operators.packing import mixture_sample

    out = mixture_sample(
        docs.select("doc_id", "source"),
        weights={"src0": 1000, "src1": 500, "src3": 0},
    )
    rows = out.collect()
    by_src: dict = {}
    for r in rows:
        by_src.setdefault(r["source"], []).append(r["doc_id"])
    n0 = docs.where("source = 'src0'").count()
    assert len(by_src.get("src0", [])) == n0          # permille 1000 = all
    assert "src3" not in by_src and "src2" not in by_src  # 0 / absent drop
    kept1 = len(by_src.get("src1", []))
    assert 0 < kept1 < docs.where("source = 'src1'").count()
    # replayable: identical selection on re-run
    again = sorted(r["doc_id"] for r in mixture_sample(
        docs.select("doc_id", "source"),
        weights={"src0": 1000, "src1": 500, "src3": 0},
    ).collect())
    assert again == sorted(r["doc_id"] for r in rows)
    # shuffle_key is the portable hash — deterministic order key
    assert all(r["shuffle_key"] >= 0 for r in rows)
    import pytest as _p

    with _p.raises(ValueError, match="permille"):
        mixture_sample(docs, weights={"src0": 1001})


def test_curate_training_set_composition(spark):
    """Each pipeline stage visibly drops the doc planted to fail it: the
    short doc, the clone with the higher id, and the eval-overlapping doc
    all disappear; the clean representative survives with a shuffle_key."""
    from arango_etl_spark.operators.pipeline import curate_training_set

    body = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "lam mu nu xi omicron pi rho sigma tau upsilon phi chi psi "
        "omega one two three four five six seven eight nine ten more "
        "words to comfortably clear the hundred character floor here"
    )
    eval_text = (
        "evalset question answer choice correct label benchmark "
        "heldout split test item prompt completion gold target "
        "metric score exact match accuracy suite task example row"
    )
    rows = [
        (10, "src0", body),                     # keeps: clean representative
        (11, "src0", body),                     # clone of 10 -> dropped (rep=10)
        (12, "src0", "too short"),              # fails length gate
        (13, "src0", eval_text + " padded with extra tokens to pass "
                     "the length gate easily for this contamination case"),
        (99, "src1", eval_text),                # the benchmark doc itself
    ]
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    bench = docs.where(F.col("doc_id") == 99).select("doc_id", "text")
    out = curate_training_set(
        docs, bench, weights={"src0": 1000, "src1": 1000}, min_overlap=5
    )
    got = {r["doc_id"]: r for r in out.collect()}
    assert set(got) == {10}
    assert got[10]["source"] == "src0" and got[10]["shuffle_key"] >= 0


def test_near_dup_representatives_policies(spark):
    """keep-longest picks the longest member (ties to lowest id);
    min_id picks the label itself; singleton clusters keep themselves."""
    long_body = ("alpha beta gamma delta epsilon zeta eta theta iota "
                 "kappa lam mu nu xi omicron pi rho sigma tau upsilon")
    rows = [
        (5, long_body),                      # cluster {5,6}: 6 is longer
        (6, long_body + " extra tail words here"),
        (7, "totally unrelated content one two three four five six"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    by_policy = {}
    for prefer in ("longest", "min_id"):
        got = {
            r["cluster_id"]: (r["rep_doc_id"], r["n_members"])
            for r in dedup.near_dup_representatives(
                df, prefer=prefer, n_hashes=16, n_bands=8
            ).collect()
        }
        by_policy[prefer] = got
    assert by_policy["longest"][5] == (6, 2)   # longest member wins
    assert by_policy["min_id"][5] == (5, 2)    # label (min id) wins
    assert by_policy["longest"][7] == (7, 1)   # singleton keeps itself
    import pytest as _p

    with _p.raises(ValueError, match="prefer"):
        dedup.near_dup_representatives(df, prefer="newest")


# ------------------------------------------------------------ CDC views
def test_scd2_history_intervals(spark):
    from arango_etl_spark.operators.scd2 import scd2_history

    ev = spark.createDataFrame(
        [("a", 1, "insert"), ("a", 3, "update"), ("a", 7, "delete"),
         ("b", 2, "insert")],
        "doc_id string, seq_no long, op string",
    )
    rows = {(r["doc_id"], r["seq_no"]): r for r in scd2_history(ev).collect()}
    assert rows[("a", 1)]["valid_to_seq"] == 3
    assert rows[("a", 3)]["valid_to_seq"] == 7
    assert rows[("a", 7)]["valid_to_seq"] is None
    assert not rows[("a", 7)]["is_current"]        # tombstone never current
    assert rows[("b", 2)]["is_current"]
    assert sum(1 for r in rows.values() if r["is_current"]) == 1


def test_snapshot_diff_change_types(spark):
    from arango_etl_spark.operators.scd2 import snapshot_diff

    old = spark.createDataFrame(
        [("a", 1), ("b", 2), ("c", 3), ("n", None)],
        "doc_id string, v int",
    )
    new = spark.createDataFrame(
        [("a", 1), ("b", 9), ("d", 4), ("n", None)],
        "doc_id string, v int",
    )
    got = {
        r["doc_id"]: r["change_type"]
        for r in snapshot_diff(old, new).collect()
    }
    # unchanged keys (a; n with null-safe compare) are absent
    assert got == {"b": "update", "c": "delete", "d": "insert"}


def test_assign_splits_deterministic_partition(spark, docs):
    from arango_etl_spark.operators.packing import assign_splits

    out = assign_splits(
        docs.select("doc_id"), {"train": 980, "val": 10, "test": 10}
    )
    rows = out.collect()
    assert {r["split"] for r in rows} <= {"train", "val", "test"}
    assert all(r["split"] is not None for r in rows)       # total cover
    # growth-stable: the same doc keeps its split in a smaller corpus
    sub = {
        r["doc_id"]: r["split"]
        for r in assign_splits(
            docs.limit(50).select("doc_id"),
            {"train": 980, "val": 10, "test": 10},
        ).collect()
    }
    full = {r["doc_id"]: r["split"] for r in rows}
    assert all(full[d] == s for d, s in sub.items())
    import pytest as _pytest

    with _pytest.raises(ValueError, match="sum to 1000"):
        assign_splits(docs, {"train": 900})


# ---------------------------------------------------------------- sketches
def test_kmv_estimate_accuracy_and_exact_path(spark):
    """KMV with k=256 must estimate 10k distinct values within ~3/sqrt(k)
    (≈19%, generous 3-sigma band over the ~6% expected error); below k
    the sketch is EXACT."""
    from arango_etl_spark.operators import sketches

    big = spark.range(0, 10_000).select(
        F.concat(F.lit("u"), F.col("id")).alias("uid")
    )
    est = sketches.kmv_distinct_count(big, "uid", k=256).collect()[0][
        "n_distinct_est"
    ]
    assert abs(est - 10_000) / 10_000 < 0.19, est
    small = spark.range(0, 100).select(
        F.concat(F.lit("u"), F.col("id")).alias("uid")
    )
    exact = sketches.kmv_distinct_count(small, "uid", k=256).collect()[0][
        "n_distinct_est"
    ]
    assert exact == 100  # n < k → exact count, not an estimate


def test_kmv_merge_is_lossless(spark):
    """Merging per-shard KMV sketches must equal the sketch of the full
    data — bit-for-bit (the property that makes KMV a write-once table
    statistic: per-day sketches roll up into monthly ones for free)."""
    from arango_etl_spark.operators import sketches

    full = spark.range(0, 5_000).select(
        (F.col("id") % 2).alias("shard"),
        F.concat(F.lit("u"), F.col("id")).alias("uid"),
    )
    direct = sketches.kmv_sketch(full, "uid", k=128).collect()[0][
        "kmv_hashes"
    ]
    per_shard = sketches.kmv_sketch(full, "uid", ["shard"], k=128)
    merged = sketches.kmv_merge(per_shard, [], k=128).collect()[0][
        "kmv_hashes"
    ]
    assert list(merged) == list(direct)


def test_cms_never_underestimates_and_merges_linearly(spark):
    """Count-min estimates >= exact counts always; cell-wise merge of two
    half-sketches equals the sketch of the union (linearity)."""
    from arango_etl_spark.operators import sketches

    df = spark.range(0, 3_000).select(
        F.concat(F.lit("w"), (F.col("id") % 97)).alias("word")
    )
    # tight width to force collisions
    sk = sketches.cms_build(df, "word", depth=4, width=64)
    keys = df.distinct()
    est = {
        r["word"]: r["est_count"]
        for r in sketches.cms_query(sk, keys, "word", depth=4, width=64).collect()
    }
    exact = {
        r["word"]: r["cnt"]
        for r in df.groupBy("word").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    assert all(est[w] >= c for w, c in exact.items())
    assert any(est[w] > c for w, c in exact.items())  # collisions happened
    # linearity
    a = df.where(F.col("word") < "w5")
    b = df.where(~(F.col("word") < "w5"))
    merged = sketches.cms_merge([
        sketches.cms_build(a, "word", depth=4, width=64),
        sketches.cms_build(b, "word", depth=4, width=64),
    ])
    direct = {(r["row"], r["bucket"]): r["cnt"] for r in sk.collect()}
    got = {(r["row"], r["bucket"]): r["cnt"] for r in merged.collect()}
    assert got == direct


def test_hll_estimate_accuracy(spark):
    """HLL at p=8 (m=256, ~6.5% stddev) must estimate 20k distinct values
    within a generous 3-sigma band (20%)."""
    from arango_etl_spark.operators import sketches

    big = spark.range(0, 20_000).select(
        F.concat(F.lit("u"), F.col("id")).alias("uid")
    )
    est = sketches.hll_distinct_count(big, "uid", p=8).collect()[0][
        "n_distinct_est"
    ]
    assert abs(est - 20_000) / 20_000 < 0.20, est


def test_hll_small_range_uses_linear_counting(spark):
    """With n << m, most registers stay empty and the estimator must take
    the linear-counting branch — far more accurate than the raw harmonic
    mean in that regime (within 15% at n=20, m=256)."""
    from arango_etl_spark.operators import sketches

    small = spark.range(0, 20).select(
        F.concat(F.lit("u"), F.col("id")).alias("uid")
    )
    row = sketches.hll_distinct_count(small, "uid", p=8).collect()[0]
    assert row["v_zero"] > 0  # empty registers → linear-counting regime
    assert abs(row["n_distinct_est"] - 20) / 20 < 0.15, row


def test_hll_merge_is_lossless(spark):
    """Register-wise max of per-shard sketches must equal the sketch of
    the full data bit-for-bit — the mergeability that makes HLL the
    per-file distinct-count statistic (daily sketches roll up monthly)."""
    from arango_etl_spark.operators import sketches

    full = spark.range(0, 5_000).select(
        (F.col("id") % 4).alias("shard"),
        F.concat(F.lit("u"), F.col("id")).alias("uid"),
    )
    direct = {
        r["bucket"]: r["rho"]
        for r in sketches.hll_sketch(full, "uid", p=6).collect()
    }
    per_shard = sketches.hll_sketch(full, "uid", ["shard"], p=6)
    merged = {
        r["bucket"]: r["rho"]
        for r in sketches.hll_merge(per_shard, []).collect()
    }
    assert merged == direct
    # merged estimate equals the direct estimate exactly (same registers)
    est_direct = sketches.hll_estimate(
        sketches.hll_sketch(full, "uid", p=6), p=6
    ).collect()[0]["n_distinct_est"]
    est_merged = sketches.hll_estimate(
        sketches.hll_merge(per_shard, []), p=6
    ).collect()[0]["n_distinct_est"]
    assert est_merged == est_direct


def test_bk_quantiles_accuracy_and_exact_path(spark):
    """Bottom-k sample quantiles: within ~3/sqrt(k) of truth on 20k
    uniform values at k=512; EXACT (nearest-rank of the full data) when
    the group has <= k rows."""
    from arango_etl_spark.operators import sketches

    big = spark.range(0, 20_000).select(
        F.concat(F.lit("e"), F.col("id")).alias("eid"),
        (F.col("id").cast("double") / 20_000).alias("v"),
    )
    got = sketches.bk_quantiles(
        sketches.bk_sample(big, "v", "eid", k=512), [0.5, 0.9]
    ).collect()[0]
    assert abs(got["q50"] - 0.5) < 0.14, got
    assert abs(got["q90"] - 0.9) < 0.14, got

    small = spark.range(0, 101).select(
        F.concat(F.lit("e"), F.col("id")).alias("eid"),
        F.col("id").cast("double").alias("v"),
    )
    exact = sketches.bk_quantiles(
        sketches.bk_sample(small, "v", "eid", k=512), [0.5, 0.99]
    ).collect()[0]
    assert exact["q50"] == 50.0  # floor(0.5*100) = 50
    assert exact["q99"] == 99.0  # floor(0.99*100) = 99


def test_bk_merge_is_lossless(spark):
    """Bottom-k sketches over disjoint shards re-ranked together must be
    bit-identical to the sketch of the full data — the roll-up property
    shared with KMV/CMS/HLL (hash the ID, not the value: uniform over
    rows, duplicates stay represented)."""
    from arango_etl_spark.operators import sketches

    full = spark.range(0, 4_000).select(
        (F.col("id") % 3).alias("shard"),
        F.concat(F.lit("e"), F.col("id")).alias("eid"),
        (F.col("id") % 17).cast("double").alias("v"),  # heavy duplicates
    )
    direct = sketches.bk_sample(full, "v", "eid", k=128).collect()[0][
        "bk_pairs"
    ]
    per_shard = sketches.bk_sample(full, "v", "eid", ["shard"], k=128)
    merged = sketches.bk_merge(per_shard, [], k=128).collect()[0][
        "bk_pairs"
    ]
    assert [tuple(p) for p in merged] == [tuple(p) for p in direct]
    # nulls contribute nothing
    with_nulls = spark.range(0, 4_000).select(
        F.concat(F.lit("e"), F.col("id")).alias("eid"),
        F.when(F.col("id") % 5 == 0, None)
        .otherwise((F.col("id") % 17).cast("double"))
        .alias("v"),
    )
    n = sketches.bk_sample(with_nulls, "v", "eid", k=10_000).collect()[0]
    assert len(n["bk_pairs"]) == 4_000 - 800


# ------------------------------------------- int8 quantization (round 5)
def test_quantize_embeddings_bounds_and_dequant(spark, emb):
    q = similarity.quantize_embeddings(emb).collect()
    assert len(q) == emb.count()
    for row in q[:50]:
        assert all(-127 <= x <= 127 for x in row["qvec"])
        assert row["q_scale"] > 0
    # dequantization error is bounded by scale/2 per component
    orig = {r["vec_id"]: r["embedding"] for r in emb.collect()}
    for row in q[:20]:
        v = orig[row["vec_id"]]
        for qx, vx in zip(row["qvec"], v):
            assert abs(qx * row["q_scale"] - vx) <= row["q_scale"] / 2 + 1e-9


def test_quantize_embeddings_zero_vector_guard(spark):
    df = spark.createDataFrame(
        [(1, [0.0, 0.0, 0.0]), (2, [1.0, -2.0, 0.5])],
        "vec_id bigint, embedding array<float>",
    )
    rows = {r["vec_id"]: r for r in similarity.quantize_embeddings(df).collect()}
    assert rows[1]["qvec"] == [0, 0, 0]          # no div-by-zero blow-up
    assert rows[2]["qvec"][1] in (-127,)         # max-abs maps to ±127


# ------------------------------------------- source overlap (round 5)
def test_source_overlap_pairs_ordered_and_bounded(spark, docs):
    m = dedup.source_overlap(docs, ngram=5).collect()
    assert len(m) > 0
    for r in m:
        assert r["source_a"] < r["source_b"]     # each pair emitted once
        assert 0 < r["containment"] <= 1.0
        assert r["shared_shingles"] >= 1


# ------------------------------------------- unigram LM quality (round 5)
def test_unigram_logprob_tails(spark):
    df = spark.createDataFrame(
        [(1, "the the the the"), (2, "the zzzrare the the")],
        "doc_id bigint, text string",
    )
    rows = {r["doc_id"]: r for r in text.unigram_logprob(df).collect()}
    # doc 2 contains a singleton token -> strictly higher surprise
    assert rows[2]["mean_nll"] > rows[1]["mean_nll"]
    assert rows[1]["n_tok"] == 4 and rows[2]["n_tok"] == 4


# ------------------------------------------- minhash fast mode (round 5)
def test_minhash_fast_mode_finds_planted_near_dups(spark):
    """fast=True (xxhash64 family) must find the same planted near-dup
    and reject the same non-dup as the md5 oracle-parity mode, and its
    plan must contain no md5 (the hex round trip is the cost driver)."""
    rows = [
        (1, "the quick brown fox jumps over the lazy dog again and again"),
        (2, "the quick brown fox jumps over the lazy dog again and again!"),
        (3, "completely different content about spark query engines at scale"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = dedup.minhash_lsh_pairs(df, n_hashes=32, n_bands=16, fast=True)
    found = {(r["doc_a"], r["doc_b"]) for r in pairs.collect()}
    assert (1, 2) in found
    assert (1, 3) not in found and (2, 3) not in found
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "md5" not in plan and "xxhash64" in plan, plan[:2000]


# --------------------------------------------------------- semantic dedup
def test_semantic_dedup_planted_groups(spark):
    """Cliques of identical vectors keep exactly the min-id member;
    singletons survive."""
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [1.0, 0.0, 0.0, 0.0]),
        (3, [1.0, 0.0, 0.0, 0.0]),
        (4, [0.0, 1.0, 0.0, 0.0]),
        (5, [0.0, 1.0, 0.0, 0.0]),
        (6, [0.0, 0.0, 1.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {
        r["vec_id"]: r["kept"]
        for r in similarity.semantic_dedup(
            df, n_cells=1, threshold=0.99
        ).collect()
    }
    assert out == {1: True, 2: False, 3: False, 4: True, 5: False, 6: True}


def test_semantic_dedup_dominance_on_chains(spark):
    """The documented keep policy: on a chain A~B, B~C, A!~C dominance
    drops BOTH B and C (a CC policy would keep C) — pinned so the
    oracle-expressible semantics never silently drift toward the
    iterative one."""
    import math

    def vec(deg):
        r = math.radians(deg)
        return [math.cos(r), math.sin(r)]

    df = spark.createDataFrame(
        [(1, vec(0)), (2, vec(25)), (3, vec(50))],
        "vec_id long, embedding array<double>",
    )
    out = {
        r["vec_id"]: r["kept"]
        for r in similarity.semantic_dedup(
            df, n_cells=1, threshold=0.9
        ).collect()
    }
    # sim(1,2)=cos25≈.906>=τ, sim(2,3)=cos25>=τ, sim(1,3)=cos50≈.64<τ
    assert out == {1: True, 2: False, 3: False}


def test_semantic_dedup_no_python_udf_and_cell_join(spark, emb):
    """Whole pipeline stays JVM-side (no BatchEvalPython / PythonUDF)
    and the pair step is an equi-join on the cell key, not a cartesian."""
    from arango_etl_spark.plans.explain import physical_plan

    plan = physical_plan(similarity.semantic_dedup(emb, n_cells=8,
                                                   threshold=0.3))
    assert "BatchEvalPython" not in plan and "PythonUDF" not in plan
    assert "CartesianProduct" not in plan
    assert "cell" in plan


def test_semantic_dedup_zero_norm_vector_is_inert(spark):
    """A zero-norm embedding makes cosine 0/0 = NaN; Spark orders NaN
    above every number, so an unguarded sim >= threshold would let one
    failed embedding drop every larger-id member of its cell (r5 ADVICE
    #1). Guarded: the zero vector never drops anyone and is never
    dropped."""
    rows = [
        (1, [0.0, 0.0, 0.0, 0.0]),   # zero-norm: must be inert
        (2, [1.0, 0.0, 0.0, 0.0]),
        (3, [1.0, 0.0, 0.0, 0.0]),   # true duplicate of 2 -> dropped
        (4, [0.0, 1.0, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {
        r["vec_id"]: r["kept"]
        for r in similarity.semantic_dedup(
            df, n_cells=1, threshold=0.99
        ).collect()
    }
    assert out == {1: True, 2: True, 3: False, 4: True}


def test_zero_norm_embeddings_rank_last_in_every_cosine_consumer(spark):
    """A zero-norm embedding makes cosine 0/0, which raises
    DIVIDE_BY_ZERO under ANSI. Every cosine consumer takes it as NULL:
    the top-k ranks such a candidate below every real one, the IVF
    argmax never assigns a real vector to a zero centroid, and a
    near-dup pair never includes it."""
    zeros = [(i, [0.0, 0.0, 0.0, 0.0]) for i in range(4)]  # lowest ids
    real = [
        (4, [1.0, 0.0, 0.0, 0.0]),
        (5, [1.0, 1.0, 0.0, 0.0]),
        (6, [0.0, 1.0, 0.0, 0.0]),
        (7, [0.0, 0.0, 1.0, 0.0]),
        (8, [1.0, 0.0, 1.0, 1.0]),
        (9, [0.0, 0.0, 0.0, 1.0]),
    ]
    df = spark.createDataFrame(zeros + real, "vec_id long, embedding array<double>")
    q = spark.createDataFrame(
        [(100, [1.0, 0.5, 0.25, 0.125])], "query_id long, embedding array<double>"
    )
    qv = [1.0, 0.5, 0.25, 0.125]

    def cos(v):
        return sum(a * b for a, b in zip(v, qv)) / (math.hypot(*v) * math.hypot(*qv))

    ranked = sorted(real, key=lambda r: (-cos(r[1]), r[0]))
    want = [(vid, round(cos(v), 4)) for vid, v in ranked] + [(i, None) for i in range(4)]

    def got(out):
        return [(r["vec_id"], r["cos_sim"]) for r in out.collect()]

    for single in (True, False):
        assert got(similarity.cosine_topk(df, q, k=10, single_query=single)) == want
    lsh = got(similarity.lsh_cosine_topk(df, q, dim=4, k=10, n_planes=2, n_tables=4))
    nulls = [s is None for _, s in lsh]
    assert nulls == sorted(nulls), lsh
    # every vector a centroid: real vectors pick a real centroid
    index = similarity.build_ivf_index(df, n_centroids=10)
    zero_cells = {c for c, v in index.centroids if not any(v)}
    assert len(zero_cells) == 4
    cells = {r["vec_id"]: r["_cluster"] for r in index.clustered.collect()}
    assert all(cells[vid] not in zero_cells for vid, _ in real), cells
    assert got(similarity.ivf_query(index, q, k=10, n_probe=10)) == want
    pairs = dedup.embedding_near_dup_pairs(df, dim=4, threshold=0.5, n_planes=2, n_tables=4)
    assert all(a >= 4 and b >= 4 for a, b, _ in pairs.collect())


def test_semantic_dedup_oversized_cell_fails_fast(spark):
    """r5 VERDICT #1: an oversized cell must fail fast with an
    actionable message instead of silently running a quadratic
    within-cell self-join (the range_join max_bins_per_interval
    pattern)."""
    import pytest as _pytest

    df = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(30)],
        "vec_id long, embedding array<double>",
    )
    with _pytest.raises(Exception, match="max_cell_rows"):
        similarity.semantic_dedup(
            df, n_cells=1, threshold=0.99, max_cell_rows=10
        ).collect()
    # derived-K default: n_cells=None picks K from a cheap count
    # (target_cell_rows) instead of a fixture-scale constant
    out = similarity.semantic_dedup(
        df, threshold=0.99, target_cell_rows=10
    )
    assert out.count() == 30
