"""Write-Audit-Publish: gate a CDC merge behind data-quality audits.

The Iceberg WAP pattern (public: Iceberg's `write.wap.enabled` /
branch-and-cherry-pick workflow) restated on SnapshotTable branches:

1. WRITE  — ``apply_changes(..., branch=...)`` stages the merge onto an
   audit branch; main-line readers never see it.
2. AUDIT  — ONE aggregate pass over the would-be table state evaluates
   every expectation as a conditional count (no per-audit jobs, no
   collect of data rows — the audit cost is a single scan regardless of
   how many expectations are attached).
3. PUBLISH — all expectations hold → atomic cherry-pick onto the main
   line; any violation → the branch is abandoned and its staged files
   deleted, leaving the table exactly as before the write.

The reference has no audit gate — bad batches land and must be repaired
after the fact (its only guard is decode-time skip,
/root/reference/src/handler/arangodb_handler.rs:172-189). Gating at the
snapshot boundary is what the lakehouse layer buys: rejection costs one
staged commit, never a restore.

Scale: the audit scan is the same MoR read the first post-commit reader
would do anyway; expectations are JVM-side conditional aggregates
(whole-stage codegen), and the optional row-count-drop guard reuses the
branch scan's count plus one O(manifest) base count.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from arango_etl_spark.plans.lakehouse import SnapshotTable


@dataclass(frozen=True)
class Expectation:
    """A named row-level invariant: rows where ``predicate`` is false (or
    NULL — an unevaluable invariant is a violation, not a pass) count
    against ``max_violations``."""

    name: str
    predicate: Column
    max_violations: int = 0


def not_null(*cols: str) -> Expectation:
    pred = F.lit(True)
    for c in cols:
        pred = pred & F.col(c).isNotNull()
    return Expectation(f"not_null({','.join(cols)})", pred)


def tokens_match_count(
    tokens_col: str = "tokens", n_col: str = "n_tok"
) -> Expectation:
    """The tokenized-sequence invariant: the declared length matches the
    token array (the per-row contract the north rule's token-array
    equality check rides on)."""
    return Expectation(
        f"tokens_match_count({tokens_col},{n_col})",
        F.size(F.col(tokens_col)) == F.col(n_col),
    )


def in_set(col: str, allowed: list) -> Expectation:
    return Expectation(
        f"in_set({col})", F.col(col).isin(list(allowed))
    )


@dataclass
class WapResult:
    published: bool
    version: int | None
    rows_audited: int
    violations: dict[str, int] = field(default_factory=dict)
    skipped: bool = False


def write_audit_publish(
    spark: SparkSession,
    table: SnapshotTable,
    events: DataFrame,
    expectations: list[Expectation],
    branch: str = "audit",
    max_row_drop_fraction: float | None = None,
    **apply_kwargs,
) -> WapResult:
    """Run the full WAP cycle for one change batch. Returns the audit
    outcome; on violation the table is untouched (staged files deleted).

    ``max_row_drop_fraction``: reject a batch that shrinks the visible
    table by more than this fraction (the classic fat-finger guard — a
    bug emitting mass deletes fails the audit instead of the table).
    ``apply_kwargs`` pass through to ``apply_changes`` (strategy,
    fences...). A fence-skipped batch publishes nothing and audits
    nothing (idempotent replay)."""
    from arango_etl_spark.operators.merge_into import apply_changes

    res = apply_changes(
        spark, table, events, branch=branch, **apply_kwargs
    )
    if res.skipped:
        return WapResult(
            published=False,
            version=res.version,
            rows_audited=0,
            skipped=True,
        )

    state = table.read_branch(spark, branch)
    aggs = [F.count(F.lit(1)).alias("_rows")]
    for i, e in enumerate(expectations):
        aggs.append(
            F.count(
                # false OR null predicate = violation (coalesce keeps a
                # null invariant from silently passing the count filter)
                F.when(~F.coalesce(e.predicate, F.lit(False)), 1)
            ).alias(f"_v{i}")
        )
    row = state.agg(*aggs).first()
    rows_audited = int(row["_rows"])
    violations = {
        e.name: int(row[f"_v{i}"])
        for i, e in enumerate(expectations)
        if int(row[f"_v{i}"]) > e.max_violations
    }
    if max_row_drop_fraction is not None and not violations:
        base_rows = table.read(spark).count()
        floor = base_rows * (1.0 - max_row_drop_fraction)
        if rows_audited < floor:
            violations["row_count_drop"] = base_rows - rows_audited

    if violations:
        table.abandon_branch(branch)
        return WapResult(
            published=False,
            version=None,
            rows_audited=rows_audited,
            violations=violations,
        )
    published = table.publish_branch(branch)
    return WapResult(
        published=True,
        version=published["version"],
        rows_audited=rows_audited,
    )
