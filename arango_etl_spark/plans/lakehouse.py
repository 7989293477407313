"""SnapshotTable — an Iceberg-style transactional table on plain parquet.

Implements the contract the north rule assigns to Iceberg (no
iceberg-spark-runtime jar ships in this image, SURVEY.md §7.0):

- **snapshot isolation**: every commit writes an immutable manifest
  (`meta/v{N}.json`) with one entry per live data file (Iceberg's
  `data_file` record): ``files[rel] = {"bucket", "rows", "dels"}`` plus
  optional zone-map ``bounds`` and ``bloom`` bits. Readers resolve the
  `meta/_current` pointer (atomically swapped via `os.replace`) so they
  always see a complete snapshot.
- **atomic batch-id fence**: the manifest carries a `summary` dict;
  streaming commits record `fence.<stream_id> = batch_id` *in the same
  manifest as the data file list*, so data+fence are one atomic unit.
  This is strictly stronger than the reference, whose ledger `done` flag
  is a separate non-atomic write after the data writes
  (/root/reference/src/handler/arangodb_handler.rs:213-232 — the
  double-count hazard of SURVEY.md §4.3.1).
- **hash-bucket layout**: data files live under `data/.../b=<bucket>/`,
  bucket = pmod(xxhash64(doc_id), n_buckets). MERGE prunes to touched
  buckets; at cluster scale this is Iceberg's `bucket(N, doc_id)`
  partition transform and enables storage-partitioned joins.
- **additive schema evolution**: the manifest stores the table schema;
  commits may widen it with new nullable columns; old files are read with
  the widened schema (missing columns → null backfill) — the Spark-native
  restatement of ArangoDB's additive document merge
  (/root/reference/src/handler/arangodb.rs:221-226).
- **two write strategies** share one snapshot protocol:
  copy-on-write (rewrite touched buckets — Iceberg CoW MERGE) and
  merge-on-read (append per-bucket delta files, LWW-reduce at read,
  periodic compaction — Iceberg MoR; the sustained-ingest scale path:
  commit cost is O(batch), not O(table)).

Multi-writer note: `meta/v{N}.json` is created with O_EXCL, so two racing
committers conflict-detect exactly like an Iceberg catalog CAS; the loser
raises :class:`CommitConflict` and nothing retries it — its caller must
re-run against the new current snapshot. The engine's streaming runner is
single-writer per table (as Structured Streaming guarantees per query).
"""

from __future__ import annotations

import functools
import json
import operator
import os
import uuid

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from arango_etl_spark.operators.scd2 import diff_states

# internal CDC-state columns kept on every stored row. A stored row is
# simply "the last winning event" — so cross-batch LWW and tombstones fall
# out of comparing the same (seq_no, event_ts, batch_id, op) order used for
# in-batch dedup (SURVEY.md §2.6). Tombstones (_deleted=true) keep late
# lower-seq_no inserts from resurrecting deleted docs.
META_COLS: list[tuple[str, str]] = [
    ("_seq_no", "long"),
    ("_event_ts", "timestamp"),
    ("_batch_id", "long"),
    ("_op", "string"),
    ("_deleted", "boolean"),
]
META_NAMES = [c for c, _ in META_COLS]
# The LWW order: of two stored rows of one key, the one whose tuple of
# these columns is greater wins; a null field loses to any value, as in
# Spark's struct ordering.
LWW_ORDER = ("_seq_no", "_event_ts", "_batch_id", "_op")

# Bloom index shape: 8192 bits (1 KB per file and column), 5 hashes.
# Every entry records its own m/k, so read_eq probes any entry it finds.
BLOOM_M_BITS = 8192
BLOOM_K = 5


class CommitConflict(Exception):
    """Another writer committed the same version (catalog CAS failure)."""


class SnapshotTable:
    def __init__(self, root: str):
        self.root = root
        self.meta_dir = os.path.join(root, "meta")
        self.data_dir = os.path.join(root, "data")

    # ---------------------------------------------------------- lifecycle
    @classmethod
    def create(
        cls,
        root: str,
        payload_schema: T.StructType,
        key_col: str = "doc_id",
        n_buckets: int = 64,
    ) -> "SnapshotTable":
        """Create an empty table. payload_schema excludes META_COLS."""
        t = cls(root)
        os.makedirs(t.meta_dir, exist_ok=False)
        os.makedirs(t.data_dir, exist_ok=True)
        manifest = {
            "version": 0,
            "parent": None,
            "key_col": key_col,
            "n_buckets": n_buckets,
            "schema": json.loads(payload_schema.json()),
            "files": {},          # relative path -> entry, see commit()
            "summary": {},
            "mode": "init",
            "one_row_per_key": True,
        }
        t._write_manifest(manifest)
        return t

    @classmethod
    def exists(cls, root: str) -> bool:
        return os.path.exists(os.path.join(root, "meta", "_current"))

    # ------------------------------------------------------------ readers
    def current_version(self) -> int:
        with open(os.path.join(self.meta_dir, "_current")) as f:
            return int(f.read().strip())

    def manifest(self, version: int | None = None) -> dict:
        v = self.current_version() if version is None else version
        return _load_manifest(os.path.join(self.meta_dir, f"v{v}.json"))

    def payload_schema(self, manifest: dict | None = None) -> T.StructType:
        m = manifest or self.manifest()
        return T.StructType.fromJson(m["schema"])

    def stored_schema(self, manifest: dict | None = None) -> T.StructType:
        s = self.payload_schema(manifest)
        for name, dt in META_COLS:
            s = s.add(name, dt, True)
        return s

    def bucket_expr(self, col: Column, manifest: dict | None = None) -> Column:
        m = manifest or self.manifest()
        return F.pmod(F.xxhash64(col), F.lit(m["n_buckets"])).cast("int")

    def data_files(
        self, manifest: dict | None = None, buckets: list[int] | None = None
    ) -> list[str]:
        m = manifest or self.manifest()
        want = None if buckets is None else set(buckets)
        return [
            os.path.join(self.root, rel) for rel, e in m["files"].items()
            if want is None or e["bucket"] in want
        ]

    def read_stored(
        self,
        spark: SparkSession,
        buckets: list[int] | None = None,
        manifest: dict | None = None,
    ) -> DataFrame:
        """Raw stored rows (winning events incl. tombstones + meta cols).

        Reads with the *current* widened schema so files written before an
        additive schema evolution get null-backfilled new columns.
        """
        m = manifest or self.manifest()
        schema = self.stored_schema(m)
        files = self.data_files(m, buckets)
        if not files:
            return _empty_frame(spark, schema)
        return spark.read.schema(schema).parquet(*files)

    def read(self, spark: SparkSession, manifest: dict | None = None) -> DataFrame:
        """Public table state: LWW-resolved, tombstones dropped, meta hidden.

        Under CoW-only history the stored rows are already one-per-key and
        the reduce is a no-op pass; under MoR (delta files present) this is
        the merge-on-read. The reduce is a partial-aggregating groupBy
        (map-side combine), not a window — no per-key shuffle skew blowup.
        """
        m = manifest or self.manifest()
        return _live(self.read_stored(spark, manifest=m), m).drop(*META_NAMES)

    def read_keys(
        self, spark: SparkSession, keys: list, manifest: dict | None = None
    ) -> DataFrame:
        """Point lookups (SURVEY F3's "read one doc" at table scale),
        resolved on the driver with no Spark job.

        The driver maps keys to buckets with ``_key_hash``, a twin of the
        ``xxhash64`` in :meth:`bucket_expr`, and reads only those buckets'
        files with ``pyarrow.dataset`` under the manifest's stored schema
        (files older than a schema evolution get null-backfilled columns).
        The filter, one ``key == k`` per key, lets the parquet footers'
        key statistics skip every row group that cannot hold a key. Each
        key's winner is picked under ``LWW_ORDER``, tombstones are dropped,
        and the rows reach Spark as one Arrow batch: a ``LocalRelation``,
        which ``collect()`` serves without a job. A key column of a type
        the twin does not cover reads every bucket (correct, just
        unpruned). Null keys, and keys that do not fit the key column's
        type, match nothing.

        Scale: the winners and every stored version of the requested keys
        pass through driver memory. Bulk key sets belong in :meth:`read`
        joined to the keys, which runs distributed."""
        import pyarrow as pa
        import pyarrow.dataset as ds
        from pyspark.sql.pandas.types import to_arrow_schema

        m = manifest or self.manifest()
        key_col = m["key_col"]
        payload = self.payload_schema(m)
        stored = to_arrow_schema(self.stored_schema(m))
        ktype = stored.field(key_col).type
        wanted = _arrow_values(keys, ktype)
        hashes = [_key_hash(k, payload[key_col].dataType) for k in wanted]
        buckets = (
            None if None in hashes
            else sorted({h % m["n_buckets"] for h in hashes})
        )
        files = self.data_files(m, buckets)   # none when no key fits
        rows = []
        if files:
            # an OR of equalities, not isin: pyarrow prunes row groups by
            # their statistics for == but not for isin
            match = functools.reduce(
                operator.or_,
                [ds.field(key_col) == pa.scalar(k, ktype) for k in wanted],
            )
            rows = ds.dataset(files, schema=stored, format="parquet").to_table(
                filter=match
            ).to_pylist()
        win: dict = {}
        for r in rows:
            k = r[key_col]
            if k not in win or _lww_rank(r) > _lww_rank(win[k]):
                win[k] = r
        # one batch: PySpark 4.1 drops the Arrow batches that follow an
        # empty one, which a multi-file to_table() is full of
        live = pa.Table.from_pylist(
            [r for r in win.values() if r["_deleted"] is False],
            schema=to_arrow_schema(payload),
        )
        return spark.createDataFrame(live, schema=payload)

    # ------------------------------------------------- per-file metadata
    def analyze(self, spark: SparkSession, cols=(), bloom_cols=()) -> dict:
        """Add the index fields that live files' entries lack — zone-map
        ``bounds`` for ``cols`` from parquet footers (no Spark job), Bloom
        bits for ``bloom_cols`` by :meth:`build_blooms` over just the
        unindexed files — as one metadata-only commit. Existing fields are
        kept, so calls add up. Returns the manifest (unchanged if nothing
        was missing) with ``analyzed_files``, the number of files that
        gained a field."""
        m = self.manifest()
        have = m["files"]
        schema = self.stored_schema(m)
        dtypes = {f.name: f.dataType for f in schema.fields}
        found: dict[str, dict] = {}
        for rel, e in have.items():
            if any(c not in e.get("bounds", {}) for c in cols):
                b = _footer_meta(
                    os.path.join(self.root, rel), {c: dtypes[c] for c in cols}
                ).get("bounds")
                if b:
                    found[rel] = {"bounds": b}
        unindexed = [
            rel for rel, e in have.items()
            if any(c not in e.get("bloom", {}) for c in bloom_cols)
        ]
        if unindexed:
            blooms = self.build_blooms(
                spark, [os.path.join(self.root, r) for r in unindexed],
                schema, list(bloom_cols),
            )
            for rel, b in blooms.items():
                found.setdefault(rel, {})["bloom"] = b
        new = {
            rel: e for rel, e in found.items()
            if _merge_meta(have[rel], e) != have[rel]
        }
        if not new:
            return {**m, "analyzed_files": 0}
        out = self.commit(
            new_files={},
            replaced_buckets=set(),
            summary={"analyzed_files": len(new)},
            mode="analyze",
            expected_version=m["version"],
            file_meta=new,
        )
        return {**out, "analyzed_files": len(new)}

    def _rel_from_uri(self, uri: str) -> str:
        path = uri
        if "://" in path:
            from urllib.parse import unquote, urlparse

            path = unquote(urlparse(path).path)
        elif path.startswith("file:"):
            path = path[5:]
        return os.path.relpath(path, self.root)

    def read_range(
        self,
        spark: SparkSession,
        col: str,
        lo=None,
        hi=None,
        manifest: dict | None = None,
    ) -> DataFrame:
        """Range scan with FILE-LEVEL zone-map pruning: open only the
        files whose [min, max] for ``col`` intersects [lo, hi] (closed
        bounds; either side may be None). Files without stats are always
        read — pruning is an optimization, never a correctness filter;
        the exact predicate is re-applied to whatever is opened.

        SOUNDNESS: requires a ``one_row_per_key`` snapshot (post-
        compaction). Under MoR deltas a key's WINNING version may sit in
        a file the predicate prunes while a losing version survives in a
        matching file — file pruning before LWW-resolve would then
        resurrect the loser. The method raises on MoR manifests instead
        of silently returning wrong rows; run ``compact`` (ideally with
        ``cluster_by=col`` + ``max_records_per_file``) first. Recorded
        experiment: 10k docs, 8 buckets × 4-way file roll on _seq_no →
        a 10%-wide seq range opens 8/31 files
        (test_maintenance.py::test_zone_map_range_pruning).
        """
        m = manifest or self.manifest()
        self._require_flat(m, "read_range")
        schema = self.stored_schema(m)
        dtypes = {f.name: f.dataType for f in schema.fields}
        is_ts = isinstance(dtypes[col], T.TimestampType)

        def _bound(v):
            if v is None or not is_ts:
                return v
            import datetime as _dt

            if isinstance(v, _dt.datetime):
                if v.tzinfo is None:  # session TZ is pinned UTC
                    v = v.replace(tzinfo=_dt.timezone.utc)
                return int(v.timestamp() * 1_000_000)
            return v

        lo_b, hi_b = _bound(lo), _bound(hi)
        keep: list[str] = []
        for rel, e in m["files"].items():
            s = e.get("bounds", {}).get(col)
            if s is None:
                keep.append(rel)
                continue
            fmin, fmax = s
            if fmin is None and fmax is None:
                continue  # all-null file: no row satisfies a range
            if lo_b is not None and fmax is not None and fmax < lo_b:
                continue
            if hi_b is not None and fmin is not None and fmin > hi_b:
                continue
            keep.append(rel)
        pruned = self._read_rels(spark, keep, schema)
        cond = ~F.col("_deleted")
        if lo is not None:
            cond = cond & (F.col(col) >= F.lit(lo))
        if hi is not None:
            cond = cond & (F.col(col) <= F.lit(hi))
        return pruned.where(cond).drop(*META_NAMES)

    def _require_flat(self, m: dict, what: str) -> None:
        if not m["one_row_per_key"]:
            raise ValueError(
                f"{what} requires a one_row_per_key snapshot — run "
                "compact() first (MoR deltas make file-level pruning "
                "unsound: a pruned file may hold the winning version)"
            )

    def _read_rels(
        self, spark: SparkSession, rels: list[str], schema: T.StructType
    ) -> DataFrame:
        if not rels:
            return _empty_frame(spark, schema)
        return spark.read.schema(schema).parquet(
            *[os.path.join(self.root, r) for r in rels]
        )

    def row_count(
        self, spark: SparkSession | None = None,
        manifest: dict | None = None,
    ) -> int:
        """Exact public row count (``read``'s count: LWW-resolved,
        tombstones dropped). METADATA-ONLY — works with ``spark=None``,
        zero jobs — when the snapshot is flat (one stored row per key,
        so physical rows − tombstones IS the answer). A MoR snapshot
        (per-key delta stacks across files) cannot be counted from
        per-file totals; it falls back to the real resolve+count, or
        raises if no session was given."""
        m = manifest or self.manifest()
        if m["one_row_per_key"]:
            return sum(e["rows"] - e["dels"] for e in m["files"].values())
        if spark is None:
            raise ValueError(
                "row_count needs a SparkSession: snapshot is not flat "
                "(run compact for the metadata-only path)"
            )
        return self.read(spark, manifest=m).count()

    def col_bounds(
        self,
        col: str,
        spark: SparkSession | None = None,
        manifest: dict | None = None,
    ):
        """Exact public ``(min, max)`` of ``col`` — METADATA-ONLY (zero
        jobs, works with ``spark=None``) when three manifest facts hold:
        the snapshot is flat (``one_row_per_key``), the per-file counts
        prove ZERO tombstones (zone maps are computed over stored rows
        INCLUDING tombstones, so any tombstone could own an extreme and
        make manifest bounds a superset, fine for pruning but wrong as
        an answer), and every live file carries zone-map bounds for
        ``col``. That is Iceberg's manifest ``lower_bounds`` /
        ``upper_bounds`` aggregate-pushdown contract. All-null files
        store ``[null, null]`` and are skipped; a column with no
        non-null value returns ``(None, None)``. Timestamp bounds
        convert back from the stored unix-micros. Otherwise falls back
        to the real tombstone-filtered scan (column-pruned by Catalyst),
        or raises without a session."""
        m = manifest or self.manifest()
        es = m["files"].values()
        if (
            m["one_row_per_key"]
            and sum(e["dels"] for e in es) == 0
            and all(col in e.get("bounds", {}) for e in es)
        ):
            bounds = [e["bounds"][col] for e in es]
            mins = [b[0] for b in bounds if b[0] is not None]
            maxs = [b[1] for b in bounds if b[1] is not None]
            lo = min(mins, key=_nan_last) if mins else None
            hi = max(maxs, key=_nan_last) if maxs else None
            dtypes = {f.name: f.dataType for f in self.stored_schema(m).fields}
            if isinstance(dtypes[col], T.TimestampType):
                import datetime as _dt

                def _ts(v):
                    if v is None:
                        return None
                    return _dt.datetime(1970, 1, 1) + _dt.timedelta(
                        microseconds=int(v))

                return _ts(lo), _ts(hi)
            return lo, hi
        if spark is None:
            raise ValueError(
                "col_bounds needs a SparkSession: metadata-only min/max "
                "requires a flat snapshot whose counts prove zero "
                "tombstones AND zone-map bounds on every file for "
                f"{col!r} (run compact + analyze)"
            )
        r = _live(self.read_stored(spark, manifest=m), m).agg(
            F.min(col).alias("lo"), F.max(col).alias("hi")).first()
        return r["lo"], r["hi"]

    def build_blooms(
        self,
        spark: SparkSession,
        abs_files: list[str],
        schema: T.StructType,
        cols: list[str],
    ) -> dict:
        """Per-file Bloom filters for equality lookups on non-key columns
        whose values scatter across files (where min/max prune nothing),
        for exactly ``abs_files``, without a commit. Each non-null value
        sets ``BLOOM_K`` bits (``xxhash64(i, value)`` mod
        ``BLOOM_M_BITS``), distinct-aggregated per file, so shuffle state
        is capped per (file, col) regardless of row count; the driver
        packs them into a base64 bitset. Files with no non-null value get
        no entry and are always read. Merge/compaction call this on their
        staged files only (O(batch)); :meth:`analyze` is the retrofit."""
        import base64
        from functools import reduce as _reduce

        base = spark.read.schema(schema).parquet(*abs_files)
        parts = []
        for c in cols:
            pos = F.explode(
                F.array(*[
                    F.pmod(
                        F.xxhash64(F.lit(i), F.col(c).cast("string")),
                        F.lit(BLOOM_M_BITS),
                    )
                    for i in range(BLOOM_K)
                ])
            ).alias("_pos")
            parts.append(
                base.where(F.col(c).isNotNull()).select(
                    F.input_file_name().alias("_f"),
                    F.lit(c).alias("_c"),
                    pos,
                )
            )
        rows = (
            _reduce(lambda a, b: a.unionByName(b), parts)
            .groupBy("_f", "_c")
            .agg(F.collect_set("_pos").alias("_ps"))
            .collect()
        )
        blooms: dict[str, dict] = {}
        for r in rows:
            rel = self._rel_from_uri(r["_f"])
            buf = bytearray(BLOOM_M_BITS // 8)
            for p in r["_ps"]:
                buf[p >> 3] |= 1 << (p & 7)
            blooms.setdefault(rel, {})[r["_c"]] = {
                "m": BLOOM_M_BITS, "k": BLOOM_K,
                "b": base64.b64encode(bytes(buf)).decode(),
            }
        return blooms

    def read_eq(
        self, spark: SparkSession, col: str, value, manifest: dict | None = None
    ) -> DataFrame:
        """Point lookup on a non-key column with FILE-LEVEL Bloom
        pruning: open only the files whose Bloom filter for ``col`` has
        all ``k`` bits of ``value`` set (plus files without an index
        entry — never a correctness filter; the exact predicate is
        re-applied to whatever is opened).

        The build hashes ``xxhash64(lit(i), value.cast("string"))``,
        which is XXH64 of the value's UTF-8 bytes seeded with the hash of
        int ``i``, so a ``str`` value is probed on the driver by the
        ``_xxh64`` twin with no Spark job. Any other value keeps a 1-row
        Spark probe through the build's own expression: Spark's cast to
        string formats doubles, booleans and dates differently from
        Python's ``str()``, and a wrong position could prune a matching
        file. Same MoR soundness rule as :meth:`read_range`: requires a
        ``one_row_per_key`` snapshot, since a pruned file may hold a
        key's winning version while a losing version survives in a
        matching file."""
        import base64

        m = manifest or self.manifest()
        self._require_flat(m, "read_eq")
        if value is None:
            raise ValueError(
                "read_eq probes non-null equality (Bloom filters index "
                "non-null values only) — filter IS NULL via read()"
            )
        pos_cache: dict[tuple[int, int], list[int]] = {}

        def _positions(mb: int, kk: int) -> list[int]:
            if (mb, kk) in pos_cache:
                return pos_cache[(mb, kk)]
            if isinstance(value, str):
                data = value.encode()
                ps = [_xxh64(data, _key_hash(i, T.IntegerType())) % mb
                      for i in range(kk)]
            else:
                row = spark.range(1).select(*[
                    F.pmod(
                        F.xxhash64(F.lit(i), F.lit(value).cast("string")),
                        F.lit(mb),
                    ).alias(f"p{i}")
                    for i in range(kk)
                ]).collect()[0]
                ps = [row[f"p{i}"] for i in range(kk)]
            pos_cache[(mb, kk)] = ps
            return ps

        keep: list[str] = []
        for rel, fe in m["files"].items():
            e = fe.get("bloom", {}).get(col)
            if e is None:
                keep.append(rel)
                continue
            buf = base64.b64decode(e["b"])
            if all(
                buf[p >> 3] & (1 << (p & 7))
                for p in _positions(e["m"], e["k"])
            ):
                keep.append(rel)
        pruned = self._read_rels(spark, keep, self.stored_schema(m))
        return (
            pruned.where(~F.col("_deleted") & (F.col(col) == F.lit(value)))
            .drop(*META_NAMES)
        )

    # ------------------------------------------------------------ writers
    def stage_write(
        self,
        df: DataFrame,
        bucket_col: str = "_bucket",
        cluster_by: str | Column | None = None,
        max_records_per_file: int | None = None,
        manifest: dict | None = None,
    ) -> tuple[str, dict[str, list[str]]]:
        """Write df (with bucket_col, computed from ``manifest``) as one
        parquet dir partitioned by bucket; return (commit_dir_rel,
        files-by-bucket).

        Rows are hash-distributed by bucket and sorted by key within files
        so parquet row-group min/max stats support key-range skipping at
        scale (the engine's analogue of the reference's persistent sink
        indexes, /root/reference/src/handler/arangodb.rs:405-524).

        ``cluster_by`` inserts a sort column between bucket and key —
        combined with ``max_records_per_file`` (the sequential file-roll
        inside each sorted bucket partition) every emitted file covers a
        CONTIGUOUS, NARROW range of the cluster column. That is the
        layout :meth:`analyze` zone maps + :meth:`read_range` pruning
        are built for: the compaction-time clustering that turns a
        time-range scan from "every file" into "the few files whose
        [min,max] intersect" (Iceberg's sort-order rewrite).
        """
        commit_id = uuid.uuid4().hex[:12]
        rel = os.path.join("data", f"commit-{commit_id}")
        out = os.path.join(self.root, rel)
        # explicit partition count: with a bare repartition(col), AQE
        # coalesces the small post-dedup exchange to 1-2 partitions and the
        # write/sort loses all parallelism
        m = manifest or self.manifest()
        n_parts = df.sparkSession.sparkContext.defaultParallelism
        # cluster_by may be a column NAME or a computed sort Column
        # (e.g. the Z-order key from operators/zorder.py)
        sort_cols: list = [bucket_col]
        if cluster_by is not None:
            sort_cols.append(
                F.col(cluster_by) if isinstance(cluster_by, str)
                else cluster_by
            )
        sort_cols.append(m["key_col"])
        writer = df.repartition(n_parts, F.col(bucket_col))
        w = (
            writer.sortWithinPartitions(*sort_cols)
            .write.partitionBy(bucket_col).mode("error")
        )
        if max_records_per_file:
            w = w.option("maxRecordsPerFile", int(max_records_per_file))
        w.parquet(out)
        files: dict[str, list[str]] = {}
        for entry in os.listdir(out):
            if not entry.startswith(f"{bucket_col}="):
                continue
            b = entry.split("=", 1)[1]
            bdir = os.path.join(out, entry)
            files[b] = [
                os.path.join(rel, entry, f)
                for f in sorted(os.listdir(bdir))
                if f.endswith(".parquet")
            ]
        return rel, files

    def commit(
        self,
        new_files: dict[str, list[str]],
        replaced_buckets: set[int] | None,
        summary: dict | None = None,
        new_payload_schema: T.StructType | None = None,
        mode: str = "merge",
        one_row_per_key: bool | None = None,
        expected_version: int | None = None,
        new_n_buckets: int | None = None,
        file_meta: dict | None = None,
    ) -> dict:
        """Commit a new snapshot.

        replaced_buckets=None → full replace (compaction);
        otherwise buckets in the set take new_files, the rest carry over
        (CoW) — and for MoR appends, replaced_buckets=set() carries all
        old files over and appends the new ones.

        ``new_n_buckets`` records a bucket-layout change (rebucket jobs
        only — the new_files must already be laid out under the new
        scheme, so it is only legal with a full replace).

        The manifest keeps one entry per live file: ``files[rel] =
        {"bucket", "rows", "dels"}`` plus optional ``"bounds": {col: [lo,
        hi]}`` and ``"bloom": {col: {m, k, b}}``. ``file_meta[rel]`` adds
        fields to a new or carried-over file's entry; a new file's
        ``rows``/``dels`` come from it or else from the file's parquet
        footer (no Spark job).
        """
        if new_n_buckets is not None and replaced_buckets is not None:
            raise ValueError(
                "bucket-layout change requires a full replace "
                "(replaced_buckets=None)"
            )
        manifest = self._build_manifest(
            new_files, replaced_buckets, summary, new_payload_schema, mode,
            one_row_per_key, expected_version, new_n_buckets, file_meta,
        )
        self._write_manifest(manifest)
        return manifest

    def _build_manifest(
        self,
        new_files: dict[str, list[str]],
        replaced_buckets: set[int] | None,
        summary: dict | None = None,
        new_payload_schema: T.StructType | None = None,
        mode: str = "merge",
        one_row_per_key: bool | None = None,
        expected_version: int | None = None,
        new_n_buckets: int | None = None,
        file_meta: dict | None = None,
    ) -> dict:
        """Compute the child manifest of the current version (shared by
        ``commit`` and ``stage_branch`` — the SAME file-carryover /
        schema-widening / metadata-lifecycle rules apply whether the
        result lands on the main line or on an audit branch).

        An entry lives and dies with its file: carried-over files keep
        theirs, replaced buckets' entries go, and ``file_meta`` fields
        merge into the entry. ``bounds``/``bloom`` are shortcuts with a
        fallback: a file without one is always read. New files' footers
        are read BEFORE the version check, so the window between the
        check and the O_EXCL create does not grow."""
        file_meta = file_meta or {}
        new = {}
        for b, fs in new_files.items():
            for rel in fs:
                e = file_meta.get(rel, {})
                if "rows" not in e:
                    e = _merge_meta(
                        _footer_meta(os.path.join(self.root, rel), {}), e
                    )
                new[rel] = {"bucket": int(b), **e}
        cur_v = self.current_version()
        if expected_version is not None and cur_v != expected_version:
            raise CommitConflict(f"expected v{expected_version}, found v{cur_v}")
        parent = self.manifest(cur_v)
        files = {
            rel: _merge_meta(e, file_meta.get(rel, {}))
            for rel, e in parent["files"].items()
            if replaced_buckets is not None
            and e["bucket"] not in replaced_buckets
        }
        files.update(new)
        return {
            "version": cur_v + 1,
            "parent": cur_v,
            "key_col": parent["key_col"],
            "n_buckets": (
                new_n_buckets if new_n_buckets is not None
                else parent["n_buckets"]
            ),
            "schema": (
                json.loads(new_payload_schema.json())
                if new_payload_schema is not None
                else parent["schema"]
            ),
            "files": files,
            "summary": {**parent["summary"], **(summary or {})},
            "mode": mode,
            "one_row_per_key": (
                one_row_per_key
                if one_row_per_key is not None
                else (parent["one_row_per_key"] and mode != "append")
            ),
        }

    def _write_manifest(self, manifest: dict) -> None:
        v = manifest["version"]
        # O_EXCL create = the catalog CAS: a racing committer of the same
        # version fails here (nothing retries it)
        _create_json(os.path.join(self.meta_dir, f"v{v}.json"), manifest)
        tmp = os.path.join(self.meta_dir, f"_current.tmp.{uuid.uuid4().hex[:8]}")
        with open(tmp, "w") as f:
            f.write(str(v))
        os.replace(tmp, os.path.join(self.meta_dir, "_current"))

    # ------------------------------------------------- branches (WAP)
    def _branch_path(self, name: str) -> str:
        import re

        if not re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9._-]*", name or ""):
            raise ValueError(f"invalid branch name {name!r}")
        return os.path.join(self.meta_dir, f"branch-{name}.json")

    def stage_branch(
        self,
        name: str,
        new_files: dict[str, list[str]],
        replaced_buckets: set[int] | None,
        summary: dict | None = None,
        new_payload_schema: T.StructType | None = None,
        mode: str = "merge",
        one_row_per_key: bool | None = None,
        expected_version: int | None = None,
        file_meta: dict | None = None,
    ) -> dict:
        """Write-Audit-Publish step 1 (Iceberg's WAP / branch commit):
        build the child manifest exactly as :meth:`commit` would, but park
        it at ``meta/branch-{name}.json`` — invisible to ``_current``
        readers. Step 2 audits via :meth:`read_branch`; step 3 is
        :meth:`publish_branch` (atomic cherry-pick onto the main line) or
        :meth:`abandon_branch` (drop manifest + staged files). The branch
        records its base version, so publish conflict-detects against
        concurrent main-line commits exactly like the catalog CAS."""
        manifest = self._build_manifest(
            new_files, replaced_buckets, summary, new_payload_schema, mode,
            one_row_per_key, expected_version, file_meta=file_meta,
        )
        manifest["branch"] = name
        # staged (never-yet-referenced) files: exactly what abandon may
        # delete — files carried over from the parent are NOT in new_files
        manifest["staged_files"] = sorted(
            {rel for fs in new_files.values() for rel in fs}
        )
        _create_json(self._branch_path(name), manifest)
        return manifest

    def branch_manifest(self, name: str) -> dict:
        return _load_manifest(self._branch_path(name))

    def read_branch(self, spark: SparkSession, name: str) -> DataFrame:
        """Audit read: the table state AS IF the branch were published
        (same LWW-resolve + tombstone semantics as :meth:`read`)."""
        return self.read(spark, manifest=self.branch_manifest(name))

    def publish_branch(self, name: str) -> dict:
        """Atomic cherry-pick: promote the branch manifest to the next
        main-line version. CAS: fails with :class:`CommitConflict` if the
        main line advanced past the branch's base version (the staged
        file layout was computed against that snapshot — the caller
        re-stages against the new current, as with any catalog retry)."""
        m = self.branch_manifest(name)
        cur_v = self.current_version()
        if cur_v != m["parent"]:
            raise CommitConflict(
                f"branch {name!r} based on v{m['parent']}, current is "
                f"v{cur_v} — re-stage against the new snapshot"
            )
        published = {
            k: v for k, v in m.items() if k not in ("branch", "staged_files")
        }
        self._write_manifest(published)
        os.unlink(self._branch_path(name))
        return published

    def abandon_branch(self, name: str, delete_files: bool = True) -> dict:
        """Audit failed: drop the branch manifest and (default) its
        staged-but-never-published data files — only files first
        referenced BY this branch are deleted (parent-carryover files are
        never in ``staged_files``), so main-line readers are unaffected.
        With ``delete_files=False`` the staged files are left for
        :meth:`remove_orphan_files` to collect after the grace window."""
        m = self.branch_manifest(name)
        removed = 0
        if delete_files:
            for rel in m["staged_files"]:
                p = os.path.join(self.root, rel)
                if os.path.exists(p):
                    os.unlink(p)
                    removed += 1
        os.unlink(self._branch_path(name))
        return {"abandoned": name, "removed_files": removed}

    # --------------------------------------------------------- rollback
    def rollback(self, to_version: int) -> dict:
        """RESTORE (Delta-style): commit a NEW version whose file set,
        schema, bucket layout and summary equal ``to_version``'s —
        history stays linear and append-only (no manifest is rewritten),
        so concurrent readers and the CAS protocol are untouched, and
        ``expire_snapshots`` keeps the restored files live because the
        new current references them.

        The restored SUMMARY matters for CDC correctness: fences ride in
        the summary, so restoring v_target's fences re-opens exactly the
        batches whose effects were rolled back — the stream re-applies
        them instead of silently skipping (an idempotence hole if the
        current fences survived the rollback)."""
        cur_v = self.current_version()
        target = self.manifest(to_version)
        manifest = {
            "version": cur_v + 1,
            "parent": cur_v,
            "key_col": target["key_col"],
            "n_buckets": target["n_buckets"],
            "schema": target["schema"],
            "files": target["files"],
            "summary": {
                **target["summary"],
                "rollback_of": cur_v,
                "rollback_to": to_version,
            },
            "mode": "rollback",
            "one_row_per_key": target["one_row_per_key"],
        }
        self._write_manifest(manifest)
        return manifest

    # -------------------------------------------------- change data feed
    def read_changes(
        self,
        spark: SparkSession,
        from_version: int,
        to_version: int | None = None,
        include_before: bool = False,
    ) -> DataFrame:
        """Change-data-feed read BETWEEN two committed snapshots (the
        Iceberg/Delta CDF analogue): one row per key whose VISIBLE state
        differs, with ``_change_type`` ∈ insert/update/delete and the
        after-image payload (null for deletes; ``include_before=True``
        adds a ``_before`` struct). Downstream consumers chain
        incrementally: maintain state as of version X, then apply
        ``read_changes(X)`` to reach current — CDC out of the sink, not
        just into it.

        Scale shape: buckets whose file sets are IDENTICAL in both
        versions cannot differ — the diff scans only changed
        buckets (under steady MoR ingest that's the recently-touched
        slice, not the table). Bucket pruning is skipped across a
        rebucket (bucket ids aren't comparable) and after compaction it
        degrades to a full diff (files rewritten, state equal → empty
        output), never to a wrong answer. Both sides read with the TO
        version's widened schema, so additive evolution diffs as
        null → value updates. The diff is ``scd2.diff_states`` over
        LWW-resolved state (skew-safe max_by, no windows)."""
        m_from = self.manifest(from_version)
        m_to = self.manifest(to_version)
        key_col = m_to["key_col"]
        to_schema = m_to["schema"]
        _, buckets = changed_files(m_from, m_to)
        old_state, new_state = (
            _live(self.read_stored(
                spark, buckets=buckets, manifest={**m, "schema": to_schema}
            ), m).drop(*META_NAMES)
            for m in (m_from, m_to)
        )
        payload = [c for c in new_state.columns if c != key_col]
        cols = [
            F.col("_k").alias(key_col),
            F.col("_change").alias("_change_type"),
            *[F.col("_new").getField(c).alias(c) for c in payload],
        ]
        if include_before:
            cols.append(F.col("_old").alias("_before"))
        return diff_states(old_state, new_state, key_col).select(*cols)

    # ------------------------------------------------------------- fence
    def last_batch_id(self, stream_id: str) -> int | None:
        v = self.manifest()["summary"].get(f"fence.{stream_id}")
        return None if v is None else int(v)

    # ------------------------------------------------------- maintenance
    def expire_snapshots(self, keep_last: int = 2) -> dict:
        """Garbage-collect: drop manifests older than the last ``keep_last``
        versions and delete data files no surviving snapshot references
        (Iceberg's expire_snapshots). Readers of retained versions are
        unaffected — files shared with newer snapshots are kept, and so
        are the files a parked branch manifest reads (see
        :meth:`_referenced`). Every manifest is loaded before any file is
        deleted, so a manifest the loader refuses deletes nothing.

        SCALE NOTE: the unlink loop here is driver-side `os` — correct
        for this local mini-format, but a known wall at object-store
        scale (millions of per-file DELETE round trips from one
        process). The real-Iceberg adapter (plans/iceberg_sink.py)
        delegates to Iceberg's own `expire_snapshots` maintenance
        action, which distributes the file enumeration and deletion."""
        cur = self.current_version()
        # versions actually on disk: a prior expiry with a smaller
        # keep_last (or any non-contiguous history) leaves gaps
        all_versions = self._versions()
        expired = [v for v in all_versions if v < cur - keep_last + 1]
        referenced = self._referenced(
            [v for v in all_versions if v not in expired]
        )
        dead = {
            rel for v in expired for rel in self.manifest(v)["files"]
        } - referenced
        removed_files = 0
        for rel in dead:
            p = os.path.join(self.root, rel)
            if os.path.exists(p):
                os.unlink(p)
                removed_files += 1
        for v in expired:
            os.unlink(os.path.join(self.meta_dir, f"v{v}.json"))
        return {"expired_versions": len(expired), "removed_files": removed_files}

    def _versions(self) -> list[int]:
        return sorted(
            int(f[1:-5]) for f in os.listdir(self.meta_dir)
            if f.startswith("v") and f.endswith(".json")
        )

    def _referenced(self, versions: list[int]) -> set[str]:
        """Data files named by the manifests of ``versions`` or by any
        parked branch manifest: a WAP audit in flight reads its staged
        files and the files it carried over from its base version, so
        neither is garbage while the branch exists."""
        branches = [
            f[len("branch-"):-len(".json")] for f in os.listdir(self.meta_dir)
            if f.startswith("branch-") and f.endswith(".json")
        ]
        return {
            rel
            for m in [*map(self.manifest, versions),
                      *map(self.branch_manifest, branches)]
            for rel in m["files"]
        }

    def remove_orphan_files(self, older_than_secs: int = 3600) -> dict:
        """Iceberg `remove_orphan_files` analogue: a crash between
        ``stage_write`` and ``commit`` leaves a ``data/commit-*`` dir
        that NO manifest ever references — invisible to readers and to
        ``expire_snapshots`` (which only walks expired manifests), a
        pure storage leak that compounds on a long-running stream.
        Deletes data files referenced by no surviving manifest whose
        mtime is older than the grace window, so an IN-FLIGHT
        stage_write racing this GC is never touched (same grace
        contract as Iceberg's `older_than`). Empty commit dirs are
        pruned afterwards. Run off the ingest path.

        SCALE NOTE: same driver-side-`os` caveat as expire_snapshots —
        the real-Iceberg adapter delegates to the distributed
        `remove_orphan_files` action instead of walking from the
        driver."""
        import time as _time

        referenced = self._referenced(self._versions())
        cutoff = _time.time() - older_than_secs
        data_root = os.path.join(self.root, "data")
        removed = removed_dirs = 0
        # granularity = whole commit dir: a LIVE commit dir also holds
        # unreferenced sidecars (_SUCCESS, .crc) that must not be GC'd,
        # and the actual failure mode is an entire staged-but-uncommitted
        # dir — so a dir is orphan iff NONE of its files is referenced
        # and nothing in it is younger than the grace window.
        if os.path.isdir(data_root):
            for d in os.listdir(data_root):
                dpath = os.path.join(data_root, d)
                if not os.path.isdir(dpath):
                    continue
                live = young = False
                members = []
                for dirpath, _dirs, files in os.walk(dpath):
                    for fn in files:
                        p = os.path.join(dirpath, fn)
                        members.append(p)
                        if os.path.relpath(p, self.root) in referenced:
                            live = True
                        try:
                            if os.path.getmtime(p) >= cutoff:
                                young = True
                        except FileNotFoundError:
                            pass
                if live or young:
                    continue
                for p in members:
                    try:
                        os.unlink(p)
                        removed += 1
                    except FileNotFoundError:
                        pass
                for dirpath, _dirs, _files in list(
                    os.walk(dpath, topdown=False)
                ):
                    try:
                        os.rmdir(dirpath)
                    except OSError:
                        pass
                removed_dirs += 1
        return {"removed_files": removed, "removed_dirs": removed_dirs}



def _empty_frame(spark: SparkSession, schema: T.StructType) -> DataFrame:
    """Schema-typed EMPTY frame that never leaves the JVM.

    ``spark.createDataFrame([], schema)`` parallelizes a Python local
    collection into a defaultParallelism-slice RDD; every downstream job
    that unions or scans it then pays one Python-worker round trip PER
    EMPTY SLICE (measured ~1-2 s per job at local[32]). A LocalRelation
    built from ``range(0)`` is a pure JVM empty relation that
    PropagateEmptyRelation can also prune out of unions entirely."""
    return spark.range(0).select(
        *[F.lit(None).cast(f.dataType).alias(f.name) for f in schema.fields]
    )


def _merge_meta(old: dict, new: dict) -> dict:
    """A file's manifest entry with ``new``'s fields added; the
    ``bounds``/``bloom`` maps merge per column."""
    out = {**old, **new}
    for k in ("bounds", "bloom"):
        if k in old and k in new:
            out[k] = {**old[k], **new[k]}
    return out


def _nan_last(v):
    """Sort key matching Spark's order on doubles: NaN above +inf."""
    return (v != v, v)


_P1, _P2, _P3 = 0x9E3779B185EBCA87, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9
_P4, _P5 = 0x85EBCA77C2B2AE63, 0x27D4EB2F165667C5
_M64 = (1 << 64) - 1


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _round(acc: int, lane: int) -> int:
    return _rotl((acc + lane * _P2) & _M64, 31) * _P1 & _M64


def _xxh64(data: bytes, seed: int = 42) -> int:
    """XXH64 of ``data`` as the signed long Spark's ``xxhash64`` returns
    (its ``hashUnsafeBytes``; ``hashInt``/``hashLong`` equal this over
    the 4/8 little-endian bytes). Chained columns feed the previous hash
    in as ``seed``; Python's ``%`` on the result is Spark's ``pmod``."""
    n, seed = len(data), seed & _M64

    def lane(j: int, w: int = 8) -> int:
        return int.from_bytes(data[j:j + w], "little")

    if n >= 32:
        v = [(seed + _P1 + _P2) & _M64, (seed + _P2) & _M64, seed,
             (seed - _P1) & _M64]
        for i in range(0, n - 31, 32):
            v = [_round(v[j], lane(i + 8 * j)) for j in range(4)]
        h = sum(_rotl(x, r) for x, r in zip(v, (1, 7, 12, 18))) & _M64
        for x in v:
            h = ((h ^ _round(0, x)) * _P1 + _P4) & _M64
    else:
        h = (seed + _P5) & _M64
    h = (h + n) & _M64
    for i in range(n - n % 32, n - 7, 8):
        h = (_rotl(h ^ _round(0, lane(i)), 27) * _P1 + _P4) & _M64
    i = n - n % 8
    if n % 8 >= 4:
        h = (_rotl(h ^ (lane(i, 4) * _P1 & _M64), 23) * _P2 + _P3) & _M64
        i += 4
    for b in data[i:]:
        h = _rotl(h ^ (b * _P5 & _M64), 11) * _P1 & _M64
    for s, p in ((33, _P2), (29, _P3)):
        h = (h ^ (h >> s)) * p & _M64
    h ^= h >> 32
    return h - (1 << 64) if h >> 63 else h


def _key_hash(key, dtype: T.DataType) -> int | None:
    """Spark's ``xxhash64(key)`` for a key of column type ``dtype``, or
    None when the type (or a value that does not fit it) is not one the
    twin covers: strings as UTF-8, ints as 4 and longs as 8 bytes."""
    if isinstance(dtype, T.StringType) and isinstance(key, str):
        return _xxh64(key.encode())
    width = {T.IntegerType: 4, T.LongType: 8}.get(type(dtype))
    if width is None or type(key) is not int:
        return None
    try:
        return _xxh64(key.to_bytes(width, "little", signed=True))
    except OverflowError:
        return None


def _arrow_values(values: list, dtype) -> list:
    """The non-null ``values`` that an Arrow column of type ``dtype``
    holds unchanged, as that column returns them. Any other value (one
    out of range, of another kind, or that the cast would truncate)
    equals no stored key. A naive datetime is UTC (the session TZ is
    pinned UTC), as in :meth:`SnapshotTable.read_range`."""
    import datetime as _dt

    import pyarrow as pa

    out = []
    for v in values:
        if (isinstance(v, _dt.datetime) and v.tzinfo is None
                and getattr(dtype, "tz", None)):
            v = v.replace(tzinfo=_dt.timezone.utc)
        try:
            s = pa.scalar(v, dtype)
        except (pa.ArrowException, OverflowError):
            continue
        if v is not None and s.as_py() == v:
            out.append(s.as_py())
    return out


def _lww_rank(row: dict) -> tuple:
    """A stored row's ``LWW_ORDER`` tuple as Python compares it, a null
    field below any value (Spark's struct order)."""
    return tuple((row[c] is not None, row[c]) for c in LWW_ORDER)


def _footer_meta(path: str, cols: dict[str, T.DataType]) -> dict:
    """``rows``, ``dels`` and the ``bounds`` of ``cols`` (name → Spark
    type) of one data file, from its parquet footer. ``_deleted`` is read
    only for row groups whose footer min ≠ max. A column the file lacks
    (added by a later schema evolution) is all null: ``[None, None]``."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    with pq.ParquetFile(path) as pf:
        md = pf.metadata
        idx = {md.schema.column(i).path: i for i in range(md.num_columns)}
        dels = 0
        for g in range(md.num_row_groups if "_deleted" in idx else 0):
            s = md.row_group(g).column(idx["_deleted"]).statistics
            if (s is not None and s.has_min_max and s.min == s.max
                    and s.null_count == 0):
                dels += md.row_group(g).num_rows if s.min else 0
            else:
                chunk = pf.read_row_group(g, columns=["_deleted"]).column(0)
                dels += pc.sum(chunk).as_py() or 0
    out: dict = {"rows": md.num_rows, "dels": dels}
    bounds = {}
    for c, dt in cols.items():
        b = _chunk_bounds(md, idx[c], dt) if c in idx else [None, None]
        if b is not None:
            bounds[c] = b
    if bounds:
        out["bounds"] = bounds
    return out


def _chunk_bounds(md, i: int, dt: T.DataType) -> list | None:
    """``[lo, hi]`` of column ``i`` over a footer's row groups, skipping
    all-null ones, in the JSON form the readers compare: timestamps as
    INT64 unix micros (the session pins ``TIMESTAMP_MICROS``), strings
    as UTF-8. None — no bound, the file is always read — when a chunk
    lacks statistics or the type has no such form."""
    col = md.schema.column(i)
    if isinstance(dt, T.StringType):
        decode = bytes.decode
    elif isinstance(dt, T.TimestampType):
        unit = json.loads(col.logical_type.to_json()).get("timeUnit")
        if col.physical_type != "INT64" or unit != "microseconds":
            return None
        decode = int
    elif isinstance(dt, (T.BooleanType, T.IntegralType, T.FloatType,
                         T.DoubleType)):
        # Spark's writer (parquet-mr) orders NaN above +inf in float
        # statistics, as Spark's min/max do, so a NaN row is never pruned
        decode = None
    else:
        return None
    los, his = [], []
    for g in range(md.num_row_groups):
        chunk = md.row_group(g).column(i)
        s = chunk.statistics
        if s is not None and s.null_count == chunk.num_values:
            continue
        if s is None or not s.has_min_max:
            return None
        los.append(s.min_raw if decode is None else decode(s.min_raw))
        his.append(s.max_raw if decode is None else decode(s.max_raw))
    if not los:
        return [None, None]
    return [min(los, key=_nan_last), max(his, key=_nan_last)]


def changed_files(
    m_from: dict, m_to: dict
) -> tuple[list[str], list[int] | None]:
    """What snapshot ``m_to`` changed against ``m_from``: the files it
    added, and the buckets whose file sets differ (None across a
    rebucket, where bucket ids are not comparable). A bucket outside
    that list holds the same files, so the same rows, in both."""
    fa, fb = m_from["files"], m_to["files"]
    buckets = None
    if m_from["n_buckets"] == m_to["n_buckets"]:
        buckets = sorted(
            {(fa.get(r) or fb[r])["bucket"] for r in fa.keys() ^ fb.keys()}
        )
    return sorted(fb.keys() - fa.keys()), buckets


def fence_of(manifest: dict, stream_id: str, run_id: str | None) -> int | None:
    """The last batch id ``manifest`` fences for ``stream_id`` in
    checkpoint lineage ``run_id``; None when unfenced or fenced by another
    lineage (epoch ids restart at 0 with a new checkpoint)."""
    s = manifest["summary"]
    v = s.get(f"fence.{stream_id}")
    if v is None or s.get(f"fence_run.{stream_id}") != run_id:
        return None
    return int(v)


def fence_entries(stream_id: str, batch_id: int, run_id: str | None) -> dict:
    """Summary entries fencing ``batch_id`` in its data's commit; the run
    id is always (re)written, as summaries merge forward."""
    return {f"fence.{stream_id}": int(batch_id),
            f"fence_run.{stream_id}": run_id}


def _live(stored: DataFrame, m: dict) -> DataFrame:
    """Visible rows of a stored frame of snapshot ``m``: LWW-resolved
    unless ``m`` is flat, tombstones dropped; META_COLS kept for
    ``col_bounds``."""
    if not m["one_row_per_key"]:
        stored = lww_resolve(stored, m["key_col"])
    return stored.where(~F.col("_deleted"))


def _load_manifest(path: str) -> dict:
    """The one loader of version and branch manifests. Refuses the older
    bucket-keyed format (``files`` mapping buckets to path lists, with a
    separate ``file_meta``): read as per-file entries, its bucket ids
    would look like data paths, and the GC would see every live file as
    unreferenced."""
    with open(path) as f:
        m = json.load(f)
    if "one_row_per_key" not in m or any(
        not isinstance(e, dict) for e in m["files"].values()
    ):
        raise ValueError(
            f"{path} is a bucket-keyed manifest of an older format; this "
            "engine reads one entry per data file (files[path] = {bucket, "
            "rows, dels}) — rebuild the table with this engine"
        )
    return m


def _create_json(path: str, obj: dict) -> None:
    """Create ``path`` (O_EXCL) holding ``obj`` as compact JSON."""
    fd = os.open(path, os.O_WRONLY | os.O_CREAT | os.O_EXCL)
    try:
        with os.fdopen(fd, "w") as f:
            json.dump(obj, f, separators=(",", ":"))
    except Exception:
        os.unlink(path)
        raise


def lww_resolve(stored: DataFrame, key_col: str) -> DataFrame:
    """Reduce stored rows to one winning row per key under the canonical
    LWW order (``LWW_ORDER``) — max wins.

    Implemented as max_by over a comparison struct: a hash aggregation
    with map-side partial combine, so a hot key reduces locally on every
    input partition before one tiny shuffled row per partition — the
    skew-safe alternative to a row_number window (north rule).
    """
    order = F.struct(*LWW_ORDER)
    payload = [c for c in stored.columns if c != key_col]
    return stored.groupBy(key_col).agg(
        F.max_by(F.struct(*payload), order).alias("_w")
    ).select(key_col, "_w.*")
