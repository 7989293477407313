"""SnapshotTable — an Iceberg-style transactional table on plain parquet.

Implements the contract the north rule assigns to Iceberg (no
iceberg-spark-runtime jar ships in this image, SURVEY.md §7.0):

- **snapshot isolation**: every commit writes an immutable manifest
  (`meta/v{N}.json`) listing the exact data files per hash-bucket; readers
  resolve the `meta/_current` pointer (atomically swapped via
  `os.replace`) so they always see a complete snapshot.
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
retries against the new current snapshot. The engine's streaming runner is
single-writer per table (as Structured Streaming guarantees per query).
"""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

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
            "files": {},          # bucket(str) -> [relative file paths]
            "summary": {},
            "mode": "init",
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
        with open(os.path.join(self.meta_dir, f"v{v}.json")) as f:
            return json.load(f)

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
        out: list[str] = []
        keys = (
            [str(b) for b in buckets] if buckets is not None else list(m["files"])
        )
        for b in keys:
            out.extend(os.path.join(self.root, p) for p in m["files"].get(b, []))
        return out

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
        stored = self.read_stored(spark, manifest=m)
        if m.get("one_row_per_key", False):
            resolved = stored
        else:
            resolved = lww_resolve(stored, m["key_col"])
        return resolved.where(~F.col("_deleted")).drop(*META_NAMES)

    def read_keys(
        self, spark: SparkSession, keys: list, manifest: dict | None = None
    ) -> DataFrame:
        """Point lookups (SURVEY F3's "read one doc" at table scale):
        prune to the keys' BUCKETS before any data file is opened — the
        scan touches |distinct key buckets| / n_buckets of the table's
        files instead of all of them (pytest-pinned via inputFiles). The
        key→bucket map comes from one row-local Spark job over the
        literal keys (xxhash64 has no portable Python twin; the job
        scans no table data), then the same LWW-resolve + tombstone
        filter as ``read`` runs over the pruned file set."""
        m = manifest or self.manifest()
        key_col = m["key_col"]
        key_field = next(
            f for f in self.payload_schema(m).fields if f.name == key_col
        )
        kdf = spark.createDataFrame(
            [(k,) for k in keys], T.StructType([key_field])
        )
        buckets = sorted(
            r["b"]
            for r in kdf.select(
                self.bucket_expr(F.col(key_col), m).alias("b")
            ).distinct().collect()
        )
        stored = self.read_stored(spark, buckets=buckets, manifest=m).where(
            F.col(key_col).isin(list(keys))
        )
        if m.get("one_row_per_key", False):
            resolved = stored
        else:
            resolved = lww_resolve(stored, key_col)
        return resolved.where(~F.col("_deleted")).drop(*META_NAMES)

    # ---------------------------------------------------------- zone maps
    def analyze(self, spark: SparkSession, cols: list[str]) -> dict:
        """Collect per-file zone maps (min/max) for ``cols`` over the
        current snapshot and commit them as a metadata-only snapshot
        (Iceberg manifests carry column bounds at write time; this is
        the explicit ANALYZE retrofit for the mini-format).

        One columnar scan of just the stats columns, grouped by
        ``input_file_name()`` — the collect is file-count-bounded
        metadata, same class as the bucket lists. Timestamp columns are
        stored as unix MICROS (JSON-safe, total-ordered);
        :meth:`read_range` converts bounds symmetrically."""
        m = self.manifest()
        files = self.data_files(m)
        if not files:
            return m
        schema = self.stored_schema(m)
        dtypes = {f.name: f.dataType for f in schema.fields}
        exprs = []
        for c in cols:
            col = F.col(c)
            if isinstance(dtypes[c], T.TimestampType):
                col = F.unix_micros(col)
            exprs += [F.min(col).alias(f"_min_{c}"),
                      F.max(col).alias(f"_max_{c}")]
        rows = (
            spark.read.schema(schema).parquet(*files)
            .groupBy(F.input_file_name().alias("_f"))
            .agg(*exprs)
            .collect()
        )
        stats: dict[str, dict] = {}
        for r in rows:
            rel = self._rel_from_uri(r["_f"])
            stats[rel] = {
                c: [r[f"_min_{c}"], r[f"_max_{c}"]] for c in cols
            }
        return self.commit(
            new_files={},
            replaced_buckets=set(),
            summary={"analyze": ",".join(cols)},
            mode="analyze",
            expected_version=m["version"],
            file_stats=stats,
        )

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
        if not m.get("one_row_per_key", False):
            raise ValueError(
                "read_range requires a one_row_per_key snapshot — run "
                "compact() first (MoR deltas make file-level pruning "
                "unsound: a pruned file may hold the winning version)"
            )
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
        stats = m.get("file_stats", {})
        keep: list[str] = []
        for rel in (rel for fs in m["files"].values() for rel in fs):
            s = stats.get(rel, {}).get(col)
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
        if keep:
            pruned = spark.read.schema(schema).parquet(
                *[os.path.join(self.root, r) for r in keep]
            )
        else:
            pruned = _empty_frame(spark, schema)
        cond = ~F.col("_deleted")
        if lo is not None:
            cond = cond & (F.col(col) >= F.lit(lo))
        if hi is not None:
            cond = cond & (F.col(col) <= F.lit(hi))
        return pruned.where(cond).drop(*META_NAMES)

    # ------------------------------------------------------ bloom indexes
    def analyze_bloom(
        self, spark: SparkSession, cols: list[str], m_bits: int = 8192,
        k: int = 5,
    ) -> dict:
        """Per-file Bloom filters for EQUALITY lookups on non-key columns
        — the hash-index half of the reference's sink-side persistent
        indexes (pub_key/count fields,
        /root/reference/src/handler/arangodb.rs:440-524); the
        skiplist/range half is :meth:`analyze` zone maps. Intended for
        string / integral columns whose values scatter across files,
        where min/max bounds prune nothing.

        One scan of the stats columns per indexed column: each non-null
        value hashes to ``k`` bit positions (``xxhash64(i, value)`` mod
        ``m_bits``), exploded and distinct-aggregated per file — shuffle
        state is capped at ``m_bits`` ints per (file, col) REGARDLESS of
        row count (sketch-bounded, the same metadata class as zone
        maps). The driver packs each position set into an ``m_bits/8``-
        byte bitset (1 KB at the default) stored base64 in the manifest;
        like ``file_stats``, entries die with their files and can never
        contradict the file list. Files with zero non-null values get no
        entry and are always read (pruning is an optimization, never a
        correctness filter)."""
        m = self.manifest()
        files = self.data_files(m)
        if not files:
            return m
        blooms = self.build_blooms(
            spark, files, self.stored_schema(m), cols, m_bits=m_bits, k=k
        )
        return self.commit(
            new_files={},
            replaced_buckets=set(),
            summary={"analyze_bloom": ",".join(cols)},
            mode="analyze",
            expected_version=m["version"],
            file_blooms=blooms,
        )

    # ------------------------------------------------------- count stats
    def analyze_counts(self, spark: SparkSession) -> dict:
        """Per-file row + tombstone counts into the manifest (Iceberg
        manifests carry ``record_count`` at write time; this is the
        explicit retrofit, incremental by construction): ONLY files
        missing a count are scanned, column-pruned to the one boolean
        ``_deleted`` column — a re-run after N new commits reads the N
        commits' files, never the table. The collect is
        file-count-bounded metadata, same class as the bucket lists.

        With complete counts on a flat (``one_row_per_key``) snapshot,
        ``row_count`` answers ``SELECT count(*)`` from pure manifest
        arithmetic — zero jobs, zero file opens."""
        m = self.manifest()
        have = m.get("file_counts", {})
        missing = [
            os.path.join(self.root, rel)
            for fs in m["files"].values()
            for rel in fs
            if rel not in have
        ]
        if not missing:
            return {**m, "counted_files": 0}
        counts = self.build_counts(spark, missing, self.stored_schema(m))
        out = self.commit(
            new_files={},
            replaced_buckets=set(),
            summary={"analyze_counts": len(counts)},
            mode="analyze",
            expected_version=m["version"],
            file_counts=counts,
        )
        out["counted_files"] = len(counts)
        return out

    def build_counts(
        self,
        spark: SparkSession,
        abs_files: list[str],
        schema: T.StructType,
    ) -> dict:
        """Row/tombstone counts for exactly ``abs_files`` (no commit) —
        the write-time hook: merge/compaction jobs count ONLY the files
        they just staged (O(batch), column-pruned to ``_deleted``), so
        ``row_count``/``col_bounds`` stay metadata-answerable commit
        after commit with no retrofit scan — the Iceberg contract, where
        writers put ``record_count`` in the manifest at write time."""
        if not abs_files:
            return {}
        rows = (
            spark.read.schema(schema).parquet(*abs_files)
            .select(F.input_file_name().alias("_f"), "_deleted")
            .groupBy("_f")
            .agg(
                F.count(F.lit(1)).alias("_rows"),
                F.sum(F.col("_deleted").cast("int")).alias("_dels"),
            )
            .collect()
        )
        return {
            self._rel_from_uri(r["_f"]): [int(r["_rows"]), int(r["_dels"])]
            for r in rows
        }

    def counts_complete(self, manifest: dict | None = None) -> bool:
        m = manifest or self.manifest()
        have = m.get("file_counts", {})
        return all(rel in have for fs in m["files"].values() for rel in fs)

    def row_count(
        self, spark: SparkSession | None = None,
        manifest: dict | None = None,
    ) -> int:
        """Exact public row count (``read``'s count: LWW-resolved,
        tombstones dropped). METADATA-ONLY — works with ``spark=None``,
        zero jobs — when the snapshot is flat (one stored row per key,
        so physical rows − tombstones IS the answer) and every file
        carries a count. A MoR snapshot (per-key delta stacks across
        files) cannot be counted from per-file totals; it falls back to
        the real resolve+count, or raises if no session was given."""
        m = manifest or self.manifest()
        if m.get("one_row_per_key", False) and self.counts_complete(m):
            counts = m.get("file_counts", {})
            return sum(r - d for r, d in counts.values())
        if spark is None:
            raise ValueError(
                "row_count needs a SparkSession: snapshot is not flat or "
                "counts are incomplete (run compact + analyze_counts for "
                "the metadata-only path)"
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
        the snapshot is flat (``one_row_per_key``), the counts channel
        proves ZERO tombstones (zone maps are computed over stored rows
        INCLUDING tombstones, so any tombstone could own an extreme and
        make manifest bounds a superset, fine for pruning but wrong as
        an answer), and every live file carries zone-map stats for
        ``col``. That is Iceberg's manifest ``lower_bounds`` /
        ``upper_bounds`` aggregate-pushdown contract. All-null files
        store ``[null, null]`` and are skipped; a column with no
        non-null value returns ``(None, None)``. Timestamp bounds
        convert back from the stored unix-micros. Otherwise falls back
        to the real tombstone-filtered scan (column-pruned by Catalyst),
        or raises without a session."""
        m = manifest or self.manifest()
        stats = m.get("file_stats", {})
        counts = m.get("file_counts", {})
        rels = [rel for fs in m["files"].values() for rel in fs]
        if (
            m.get("one_row_per_key", False)
            and all(r in counts for r in rels)
            and sum(d for _, d in counts.values()) == 0
            and all(col in stats.get(r, {}) for r in rels)
        ):
            mins = [stats[r][col][0] for r in rels
                    if stats[r][col][0] is not None]
            maxs = [stats[r][col][1] for r in rels
                    if stats[r][col][1] is not None]
            lo = min(mins) if mins else None
            hi = max(maxs) if maxs else None
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
                "requires a flat snapshot with complete counts proving "
                "zero tombstones AND zone-map stats on every file for "
                f"{col!r} (run compact + analyze_counts + analyze)"
            )
        resolved = lww_resolve(
            self.read_stored(spark, manifest=m), m["key_col"]
        )
        r = resolved.where(~F.col("_deleted")).agg(
            F.min(col).alias("lo"), F.max(col).alias("hi")).first()
        return r["lo"], r["hi"]

    def build_blooms(
        self,
        spark: SparkSession,
        abs_files: list[str],
        schema: T.StructType,
        cols: list[str],
        m_bits: int = 8192,
        k: int = 5,
    ) -> dict:
        """Compute Bloom index entries for exactly ``abs_files`` (no
        commit) — the write-time hook: merge/compaction jobs index ONLY
        their freshly staged files, so a CoW table stays fully indexed
        with incremental cost O(batch), never a whole-table retrofit
        scan (Iceberg writes file stats at write time for the same
        reason; :meth:`analyze_bloom` is the explicit full-table
        retrofit for tables that predate the index)."""
        import base64
        from functools import reduce as _reduce

        base = spark.read.schema(schema).parquet(*abs_files)
        parts = []
        for c in cols:
            pos = F.explode(
                F.array(*[
                    F.pmod(
                        F.xxhash64(F.lit(i), F.col(c).cast("string")),
                        F.lit(m_bits),
                    )
                    for i in range(k)
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
            buf = bytearray(m_bits // 8)
            for p in r["_ps"]:
                buf[p >> 3] |= 1 << (p & 7)
            blooms.setdefault(rel, {})[r["_c"]] = {
                "m": m_bits, "k": k,
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

        The probe hashes ``value`` through the SAME Spark expression the
        build used (one 1-row local job — guaranteed hash portability
        without reimplementing xxhash64 driver-side). Same MoR soundness
        rule as :meth:`read_range`: requires a ``one_row_per_key``
        snapshot, since a pruned file may hold a key's winning version
        while a losing version survives in a matching file."""
        import base64

        m = manifest or self.manifest()
        if not m.get("one_row_per_key", False):
            raise ValueError(
                "read_eq requires a one_row_per_key snapshot — run "
                "compact() first (MoR deltas make file-level pruning "
                "unsound: a pruned file may hold the winning version)"
            )
        if value is None:
            raise ValueError(
                "read_eq probes non-null equality (Bloom filters index "
                "non-null values only) — filter IS NULL via read()"
            )
        blooms = m.get("file_blooms", {})
        pos_cache: dict[tuple[int, int], list[int]] = {}

        def _positions(mb: int, kk: int) -> list[int]:
            if (mb, kk) not in pos_cache:
                row = spark.range(1).select(*[
                    F.pmod(
                        F.xxhash64(F.lit(i), F.lit(value).cast("string")),
                        F.lit(mb),
                    ).alias(f"p{i}")
                    for i in range(kk)
                ]).collect()[0]
                pos_cache[(mb, kk)] = [row[f"p{i}"] for i in range(kk)]
            return pos_cache[(mb, kk)]

        keep: list[str] = []
        for rel in (rel for fs in m["files"].values() for rel in fs):
            e = blooms.get(rel, {}).get(col)
            if e is None:
                keep.append(rel)
                continue
            buf = base64.b64decode(e["b"])
            if all(
                buf[p >> 3] & (1 << (p & 7))
                for p in _positions(e["m"], e["k"])
            ):
                keep.append(rel)
        schema = self.stored_schema(m)
        if keep:
            pruned = spark.read.schema(schema).parquet(
                *[os.path.join(self.root, r) for r in keep]
            )
        else:
            pruned = _empty_frame(spark, schema)
        return (
            pruned.where(~F.col("_deleted") & (F.col(col) == F.lit(value)))
            .drop(*META_NAMES)
        )

    # ------------------------------------------------------------ writers
    def stage_write(
        self,
        df: DataFrame,
        bucket_col: str = "_bucket",
        sort_within: bool = True,
        cluster_by: str | Column | None = None,
        max_records_per_file: int | None = None,
    ) -> tuple[str, dict[str, list[str]]]:
        """Write df (with bucket_col) as one parquet dir partitioned by
        bucket; return (commit_dir_rel, files-by-bucket).

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
        # write/sort loses all parallelism (hurts the N→4N scaling curve)
        n_parts = max(
            df.sparkSession.sparkContext.defaultParallelism,
            self.manifest()["n_buckets"] // 4,
        )
        writer = df.repartition(n_parts, F.col(bucket_col))
        if sort_within:
            # cluster_by may be a column NAME or a computed sort Column
            # (e.g. the Z-order key from operators/zorder.py)
            sort_cols: list = [bucket_col]
            if cluster_by is not None:
                sort_cols.append(
                    F.col(cluster_by) if isinstance(cluster_by, str)
                    else cluster_by
                )
            sort_cols.append(self.manifest()["key_col"])
            writer = writer.sortWithinPartitions(*sort_cols)
        w = writer.write.partitionBy(bucket_col).mode("error")
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
        file_stats: dict | None = None,
        file_blooms: dict | None = None,
        file_counts: dict | None = None,
    ) -> dict:
        """Commit a new snapshot.

        replaced_buckets=None → full replace (compaction);
        otherwise buckets in the set take new_files, the rest carry over
        (CoW) — and for MoR appends, replaced_buckets=set() carries all
        old files over and appends the new ones.

        ``new_n_buckets`` records a bucket-layout change (rebucket jobs
        only — the new_files must already be laid out under the new
        scheme, so it is only legal with a full replace).

        ``file_stats`` merges per-file zone-map entries
        ({rel_path: {col: [min, max]}}) into the manifest; the parent's
        entries carry over for files still referenced and are dropped
        with their files — stats can never outlive or contradict the
        file list. ``file_blooms`` follows the identical lifecycle for
        per-file Bloom index entries ({rel_path: {col: {m, k, b}}}), and
        ``file_counts`` for per-file row/tombstone counts
        ({rel_path: [rows, dels]}).
        """
        if new_n_buckets is not None and replaced_buckets is not None:
            raise ValueError(
                "bucket-layout change requires a full replace "
                "(replaced_buckets=None)"
            )
        cur_v = self.current_version()
        if expected_version is not None and cur_v != expected_version:
            raise CommitConflict(f"expected v{expected_version}, found v{cur_v}")
        manifest = self._build_manifest(
            cur_v,
            new_files,
            replaced_buckets,
            summary,
            new_payload_schema,
            mode,
            one_row_per_key,
            new_n_buckets,
            file_stats,
            file_blooms,
            file_counts,
        )
        self._write_manifest(manifest)
        return manifest

    def _build_manifest(
        self,
        cur_v: int,
        new_files: dict[str, list[str]],
        replaced_buckets: set[int] | None,
        summary: dict | None = None,
        new_payload_schema: T.StructType | None = None,
        mode: str = "merge",
        one_row_per_key: bool | None = None,
        new_n_buckets: int | None = None,
        file_stats: dict | None = None,
        file_blooms: dict | None = None,
        file_counts: dict | None = None,
    ) -> dict:
        """Compute the child manifest of ``cur_v`` (shared by ``commit``
        and ``stage_branch`` — the SAME file-carryover / schema-widening /
        stats-lifecycle rules apply whether the result lands on the main
        line or on an audit branch)."""
        parent = self.manifest(cur_v)
        files: dict[str, list[str]] = {}
        if replaced_buckets is not None:
            for b, fs in parent["files"].items():
                if int(b) not in replaced_buckets:
                    files[b] = list(fs)
        for b, fs in new_files.items():
            files.setdefault(b, [])
            files[b].extend(fs)
        was_flat = parent.get("one_row_per_key", parent["version"] == 0)
        manifest = {
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
                else (was_flat and mode != "append")
            ),
        }
        kept = {rel for fs in files.values() for rel in fs}
        stats = {
            r: s for r, s in parent.get("file_stats", {}).items() if r in kept
        }
        if file_stats:
            stats.update({r: s for r, s in file_stats.items() if r in kept})
        if stats:
            manifest["file_stats"] = stats
        blooms = {
            r: s for r, s in parent.get("file_blooms", {}).items() if r in kept
        }
        if file_blooms:
            blooms.update({r: s for r, s in file_blooms.items() if r in kept})
        if blooms:
            manifest["file_blooms"] = blooms
        counts = {
            r: c for r, c in parent.get("file_counts", {}).items() if r in kept
        }
        if file_counts:
            counts.update({r: c for r, c in file_counts.items() if r in kept})
        if counts:
            manifest["file_counts"] = counts
        return manifest

    def _write_manifest(self, manifest: dict) -> None:
        v = manifest["version"]
        path = os.path.join(self.meta_dir, f"v{v}.json")
        # O_EXCL create = the catalog CAS: a racing committer of the same
        # version fails here and must retry against the new snapshot
        fd = os.open(path, os.O_WRONLY | os.O_CREAT | os.O_EXCL)
        try:
            with os.fdopen(fd, "w") as f:
                json.dump(manifest, f, indent=1)
        except Exception:
            os.unlink(path)
            raise
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
        file_blooms: dict | None = None,
        file_counts: dict | None = None,
    ) -> dict:
        """Write-Audit-Publish step 1 (Iceberg's WAP / branch commit):
        build the child manifest exactly as :meth:`commit` would, but park
        it at ``meta/branch-{name}.json`` — invisible to ``_current``
        readers. Step 2 audits via :meth:`read_branch`; step 3 is
        :meth:`publish_branch` (atomic cherry-pick onto the main line) or
        :meth:`abandon_branch` (drop manifest + staged files). The branch
        records its base version, so publish conflict-detects against
        concurrent main-line commits exactly like the catalog CAS."""
        cur_v = self.current_version()
        if expected_version is not None and cur_v != expected_version:
            raise CommitConflict(f"expected v{expected_version}, found v{cur_v}")
        manifest = self._build_manifest(
            cur_v,
            new_files,
            replaced_buckets,
            summary,
            new_payload_schema,
            mode,
            one_row_per_key,
            file_blooms=file_blooms,
            file_counts=file_counts,
        )
        manifest["branch"] = name
        # staged (never-yet-referenced) files: exactly what abandon may
        # delete — files carried over from the parent are NOT in new_files
        manifest["staged_files"] = sorted(
            {rel for fs in new_files.values() for rel in fs}
        )
        path = self._branch_path(name)
        fd = os.open(path, os.O_WRONLY | os.O_CREAT | os.O_EXCL)
        try:
            with os.fdopen(fd, "w") as f:
                json.dump(manifest, f, indent=1)
        except Exception:
            os.unlink(path)
            raise
        return manifest

    def branch_manifest(self, name: str) -> dict:
        with open(self._branch_path(name)) as f:
            return json.load(f)

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
            for rel in m.get("staged_files", []):
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
            "files": {b: list(fs) for b, fs in target["files"].items()},
            "summary": {
                **target["summary"],
                "rollback_of": cur_v,
                "rollback_to": to_version,
            },
            "mode": "rollback",
            "one_row_per_key": target.get(
                "one_row_per_key", to_version == 0
            ),
        }
        if target.get("file_stats"):
            manifest["file_stats"] = dict(target["file_stats"])
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

        Scale shape: buckets whose manifest file lists are IDENTICAL in
        both versions cannot differ — the diff scans only changed
        buckets (under steady MoR ingest that's the recently-touched
        slice, not the table). Bucket pruning is skipped across a
        rebucket (bucket ids aren't comparable) and after compaction it
        degrades to a full diff (files rewritten, state equal → empty
        output), never to a wrong answer. Both sides read with the TO
        version's widened schema, so additive evolution diffs as
        null → value updates. The diff itself is one full-outer hash
        join on the key over LWW-resolved state (skew-safe max_by, no
        windows)."""
        m_from = self.manifest(from_version)
        m_to = self.manifest(to_version)
        key_col = m_to["key_col"]
        to_schema = m_to["schema"]
        buckets: list[int] | None = None
        if m_from["n_buckets"] == m_to["n_buckets"]:
            buckets = sorted(
                int(b)
                for b in set(m_from["files"]) | set(m_to["files"])
                if m_from["files"].get(b) != m_to["files"].get(b)
            )

        def _visible(m: dict) -> DataFrame:
            aligned = {**m, "schema": to_schema}
            stored = self.read_stored(spark, buckets=buckets, manifest=aligned)
            if m.get("one_row_per_key", False):
                resolved = stored
            else:
                resolved = lww_resolve(stored, key_col)
            return resolved.where(~F.col("_deleted")).drop(*META_NAMES)

        old_state, new_state = _visible(m_from), _visible(m_to)
        payload = [c for c in new_state.columns if c != key_col]
        o = old_state.select(
            F.col(key_col).alias("_k"),
            F.struct(*[F.col(c) for c in payload]).alias("_old"),
        )
        n = new_state.select(
            F.col(key_col).alias("_k"),
            F.struct(*[F.col(c) for c in payload]).alias("_new"),
        )
        joined = o.join(n, "_k", "full_outer")
        change = (
            F.when(F.col("_old").isNull(), F.lit("insert"))
            .when(F.col("_new").isNull(), F.lit("delete"))
            .when(~F.col("_old").eqNullSafe(F.col("_new")), F.lit("update"))
        )
        out = (
            joined.withColumn("_change_type", change)
            .where(F.col("_change_type").isNotNull())
        )
        cols = [
            F.col("_k").alias(key_col),
            F.col("_change_type"),
            *[F.col("_new").getField(c).alias(c) for c in payload],
        ]
        if include_before:
            cols.append(F.col("_old").alias("_before"))
        return out.select(*cols)

    # ------------------------------------------------------------- fence
    def last_batch_id(self, stream_id: str) -> int | None:
        v = self.manifest()["summary"].get(f"fence.{stream_id}")
        return None if v is None else int(v)

    # ------------------------------------------------------- maintenance
    def expire_snapshots(self, keep_last: int = 2) -> dict:
        """Garbage-collect: drop manifests older than the last ``keep_last``
        versions and delete data files no surviving snapshot references
        (Iceberg's expire_snapshots). Readers of retained versions are
        unaffected — files shared with newer snapshots are kept.

        SCALE NOTE: the unlink loop here is driver-side `os` — correct
        for this local mini-format, but a known wall at object-store
        scale (millions of per-file DELETE round trips from one
        process). The real-Iceberg adapter (plans/iceberg_sink.py)
        delegates to Iceberg's own `expire_snapshots` maintenance
        action, which distributes the file enumeration and deletion."""
        cur = self.current_version()
        all_versions = sorted(
            int(f[1:-5]) for f in os.listdir(self.meta_dir)
            if f.startswith("v") and f.endswith(".json")
        )
        # intersect with versions actually on disk: a prior expiry with a
        # smaller keep_last (or any non-contiguous history) would otherwise
        # make manifest(v) raise mid-GC
        keep_versions = set(
            range(max(0, cur - keep_last + 1), cur + 1)
        ) & set(all_versions)
        referenced: set[str] = set()
        for v in keep_versions:
            m = self.manifest(v)
            for fs in m["files"].values():
                referenced.update(fs)
        removed_files = 0
        for v in all_versions:
            if v in keep_versions:
                continue
            m = self.manifest(v)
            for fs in m["files"].values():
                for rel in fs:
                    if rel not in referenced:
                        p = os.path.join(self.root, rel)
                        if os.path.exists(p):
                            os.unlink(p)
                            removed_files += 1
            os.unlink(os.path.join(self.meta_dir, f"v{v}.json"))
        return {
            "expired_versions": len([v for v in all_versions
                                     if v not in keep_versions]),
            "removed_files": removed_files,
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

        referenced: set[str] = set()
        for f in os.listdir(self.meta_dir):
            # parked branch manifests (WAP audits in flight) count as
            # references: their staged files are pre-publish, not orphans
            if f.endswith(".json") and (
                f.startswith("v") or f.startswith("branch-")
            ):
                with open(os.path.join(self.meta_dir, f)) as fh:
                    m = json.load(fh)
                for fs in m["files"].values():
                    referenced.update(fs)
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

def lww_resolve(stored: DataFrame, key_col: str) -> DataFrame:
    """Reduce stored rows to one winning row per key under the canonical
    LWW order (seq_no, event_ts, batch_id, op) — max wins.

    Implemented as max_by over a comparison struct: a hash aggregation
    with map-side partial combine, so a hot key reduces locally on every
    input partition before one tiny shuffled row per partition — the
    skew-safe alternative to a row_number window (north rule).
    """
    order = F.struct(
        F.col("_seq_no"), F.col("_event_ts"), F.col("_batch_id"), F.col("_op")
    )
    payload = [c for c in stored.columns if c != key_col]
    return stored.groupBy(key_col).agg(
        F.max_by(F.struct(*payload), order).alias("_w")
    ).select(key_col, "_w.*")
