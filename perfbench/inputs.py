"""Seeded workload inputs, built once and cached.

The engine only ever receives the files written here. Change events come
from the repo's own generator (``sources.cdc_generator.generate_events``),
run once per checkout into a seed-independent *base*; a seed then derives
its own inputs from the base without Spark: ``permute_keys`` relabels the
doc ids through a seed-chosen bijection (so the hot key, the bucket each
key hashes to and every per-bucket load change with the seed), and the
embeddings are drawn with NumPy from the seed. Every cache key includes a
digest of the engine's and the benchmark's source, so a changed engine or
benchmark never reuses inputs or tables built by an older one.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import shutil
from pathlib import Path

CACHE_DIR = ".perfbench_cache"
PACKAGE = "arango_etl_spark"


def engine_digest(root: str = ".") -> str:
    """Digest of every engine and benchmark source file (path + bytes): a
    change to either rebuilds the inputs."""
    h = hashlib.sha1()
    files = [*Path(root, PACKAGE).rglob("*.py"), *Path(__file__).parent.glob("*.py")]
    for rel in sorted(os.path.relpath(p, root) for p in files):
        h.update(rel.encode())
        h.update(Path(root, rel).read_bytes())
    return h.hexdigest()[:12]


def cache_path(kind: str, spec: dict, digest: str, seed: int | None = None) -> str:
    """Cache directory of one input set; ``seed=None`` for the base."""
    key = hashlib.sha1(json.dumps(spec, sort_keys=True).encode()).hexdigest()[:10]
    tag = "base" if seed is None else f"seed{seed}"
    return os.path.join(CACHE_DIR, f"{kind}-{tag}-{key}-{digest}")


def cached(path: str, build) -> bool:
    """Run ``build(tmp_dir)`` unless ``path`` exists; publish the result
    with one rename so a crashed build never looks complete. Returns True
    when the inputs were already cached."""
    if os.path.isdir(path):
        return True
    tmp = f"{path}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    try:
        build(tmp)
        os.replace(tmp, path)
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    return False


def write_event_batches(spark, cfg, out_dir: str) -> list[str]:
    """Write the generator's events as one parquet file per batch under
    ``out_dir/batch=NNNNN`` — the engine's feed layout — in one Spark job.

    The batch id is copied into a partition column so ``partitionBy`` splits
    the batches while every file keeps its own ``batch_id`` column."""
    from pyspark.sql import functions as F

    from arango_etl_spark.sources.cdc_generator import generate_events

    staging = os.path.join(out_dir, "_staging")
    (
        generate_events(spark, cfg)
        .withColumn("_part", F.col("batch_id"))
        .repartition(cfg.n_batches, "_part")
        .write.partitionBy("_part")
        .parquet(staging)
    )
    paths = []
    for b in range(cfg.n_batches):
        src = os.path.join(staging, f"_part={b}")
        dst = os.path.join(out_dir, f"batch={b:05d}")
        if os.path.isdir(src):
            os.replace(src, dst)
        else:  # a batch the hash scatter left empty
            os.makedirs(dst)
        paths.append(dst)
    shutil.rmtree(staging)
    return paths


def write_embeddings(path: str, seed: int, n: int, dim: int) -> None:
    """``embeddings(vec_id long, embedding array<float>, label int)``, the
    schema of the repo's embeddings fixture, drawn from ``seed``."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    # a few cluster centres plus noise, so IVF cells are uneven like real data
    centres = rng.normal(0.0, 0.15, size=(8, dim))
    label = rng.integers(0, 8, size=n)
    emb = (centres[label] + rng.normal(0.0, 0.08, size=(n, dim))).astype("float32")
    table = pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype="int64")),
            "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
            "label": pa.array(label.astype("int32")),
        }
    )
    pq.write_table(table, path)


def key_permutation(seed: int, n: int) -> tuple[int, int]:
    """(a, b) with gcd(a, n) = 1, so k -> (a*k + b) mod n is a bijection
    of [0, n)."""
    a = 7919 + 2 * (seed % 100_003)
    while math.gcd(a, n) != 1:
        a += 1
    return a, (seed * 104_729) % n


def permute_keys(src_dir: str, dst_dir: str, seed: int, n_docs: int) -> list[str]:
    """Copy every ``batch=NNNNN`` file under ``src_dir`` to ``dst_dir`` with
    doc ids relabelled by the seed's key permutation; everything else in
    each event (and the file layout) stays as the generator wrote it."""
    import duckdb

    a, b = key_permutation(seed, n_docs)
    out = []
    for name in sorted(os.listdir(src_dir)):
        if not name.startswith("batch="):
            continue
        dst = os.path.join(dst_dir, name)
        os.makedirs(dst)
        duckdb.sql(
            f"""
            COPY (
                SELECT op,
                       'doc_' || CAST(({a} * CAST(substr(doc_id, 5) AS BIGINT)
                                       + {b}) % {n_docs} AS VARCHAR) AS doc_id,
                       seq_no, tokens, n_tok, source, batch_id, event_ts
                FROM read_parquet('{os.path.join(src_dir, name)}/*.parquet')
            ) TO '{dst}/part-00000.parquet' (FORMAT PARQUET)
            """
        )
        out.append(dst)
    return out
