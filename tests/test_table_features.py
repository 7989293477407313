"""Table-format wave 2: WAP branches, rollback (RESTORE), change-data-feed
reads between snapshots."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from arango_etl_spark.operators.merge_into import apply_changes, compact
from arango_etl_spark.plans.lakehouse import CommitConflict, SnapshotTable
from arango_etl_spark.plans.wap import (
    Expectation,
    in_set,
    not_null,
    tokens_match_count,
    write_audit_publish,
)
from tests.test_merge import PAYLOAD_SCHEMA, ev, mk_events, mk_table, state


# ------------------------------------------------------------ branches
def test_branch_stage_audit_publish(spark, tmp_path):
    """WRITE stages invisibly; AUDIT sees the would-be state; PUBLISH
    lands it atomically as the next main-line version."""
    t = mk_table(tmp_path, "wap1")
    apply_changes(spark, t, mk_events(spark, [ev("insert", "a", 1, [1])]))
    v_before = t.current_version()

    res = apply_changes(
        spark, t,
        mk_events(spark, [ev("insert", "b", 2, [2, 3])]),
        branch="audit",
    )
    # main line untouched; branch shows the merged state
    assert t.current_version() == v_before
    assert state(spark, t) == {"a": ([1], 1)}
    branch_state = {
        r["doc_id"]: list(r["tokens"])
        for r in t.read_branch(spark, "audit").collect()
    }
    assert branch_state == {"a": [1], "b": [2, 3]}

    published = t.publish_branch("audit")
    assert published["version"] == v_before + 1 == t.current_version()
    assert state(spark, t) == {"a": ([1], 1), "b": ([2, 3], 2)}
    assert res.keys_applied == 1
    # branch manifest consumed; published manifest carries no branch keys
    assert not os.path.exists(
        os.path.join(t.meta_dir, "branch-audit.json")
    )
    assert "branch" not in t.manifest() and "staged_files" not in t.manifest()


def test_branch_abandon_deletes_staged_files_only(spark, tmp_path):
    t = mk_table(tmp_path, "wap2")
    apply_changes(spark, t, mk_events(spark, [ev("insert", "a", 1, [1])]))
    pre_files = set(t.data_files())

    apply_changes(
        spark, t, mk_events(spark, [ev("insert", "b", 2, [2])]), branch="bad"
    )
    staged = t.branch_manifest("bad")["staged_files"]
    assert staged and all(
        os.path.exists(os.path.join(t.root, p)) for p in staged
    )
    out = t.abandon_branch("bad")
    assert out["removed_files"] == len(staged)
    assert not any(os.path.exists(os.path.join(t.root, p)) for p in staged)
    # parent-carryover files untouched, state unchanged
    assert set(t.data_files()) == pre_files
    assert state(spark, t) == {"a": ([1], 1)}


def test_branch_publish_conflicts_with_mainline_advance(spark, tmp_path):
    """CAS: a main-line commit after staging invalidates the branch's
    file layout — publish must fail, not silently drop the interleaved
    commit."""
    t = mk_table(tmp_path, "wap3")
    apply_changes(spark, t, mk_events(spark, [ev("insert", "a", 1, [1])]))
    apply_changes(
        spark, t, mk_events(spark, [ev("insert", "b", 2, [2])]), branch="br"
    )
    apply_changes(spark, t, mk_events(spark, [ev("insert", "c", 3, [3])]))
    with pytest.raises(CommitConflict):
        t.publish_branch("br")
    t.abandon_branch("br")
    assert state(spark, t) == {"a": ([1], 1), "c": ([3], 1)}


def test_orphan_gc_spares_parked_branch(spark, tmp_path):
    """A parked branch's staged files are pre-publish, not orphans —
    remove_orphan_files must never GC them (grace window zeroed to make
    the hazard bite)."""
    t = mk_table(tmp_path, "wap4")
    apply_changes(spark, t, mk_events(spark, [ev("insert", "a", 1, [1])]))
    apply_changes(
        spark, t, mk_events(spark, [ev("insert", "b", 2, [2])]), branch="br"
    )
    out = t.remove_orphan_files(older_than_secs=0)
    assert out["removed_files"] == 0
    published = t.publish_branch("br")
    assert published["version"] == 2
    assert state(spark, t) == {"a": ([1], 1), "b": ([2], 1)}


def test_expire_snapshots_spares_parked_branch(spark, tmp_path):
    """A parked branch reads the files it carried over from its base
    version: a compaction plus an expiry of that version must not delete
    them while the branch exists."""
    t = mk_table(tmp_path, "wap5")
    apply_changes(
        spark, t,
        mk_events(spark, [ev("insert", f"d{i}", 1, [i]) for i in range(20)]),
        compact_every=0,
    )
    apply_changes(
        spark, t, mk_events(spark, [ev("update", "d0", 2, [99])]),
        branch="audit",
    )
    compact(spark, t)
    t.expire_snapshots(keep_last=1)
    got = {
        r["doc_id"]: list(r["tokens"])
        for r in t.read_branch(spark, "audit").collect()
    }
    assert got == {f"d{i}": [99 if i == 0 else i] for i in range(20)}
    t.abandon_branch("audit")
    assert {k: v[0] for k, v in state(spark, t).items()} == {
        f"d{i}": [i] for i in range(20)
    }


def test_write_audit_publish_flow(spark, tmp_path):
    """Good batch publishes; a batch violating an expectation is rejected
    with the table byte-identical to before (staged files gone)."""
    t = mk_table(tmp_path, "wap5")
    good = write_audit_publish(
        spark, t,
        mk_events(spark, [ev("insert", "a", 1, [1]), ev("insert", "b", 2, [2])]),
        expectations=[
            not_null("doc_id", "tokens"),
            tokens_match_count(),
            in_set("source", ["src_0", "src_1"]),
        ],
    )
    assert good.published and good.violations == {} and good.rows_audited == 2
    assert t.current_version() == good.version

    v_good = t.current_version()
    files_good = set(t.data_files())
    bad = write_audit_publish(
        spark, t,
        # n_tok lies about the array length -> tokens_match_count trips
        mk_events(spark, [("insert", "c", 3, [9, 9], 5, "src_0", 0, None)]),
        expectations=[tokens_match_count()],
    )
    assert not bad.published
    assert bad.violations == {"tokens_match_count(tokens,n_tok)": 1}
    assert t.current_version() == v_good
    assert set(t.data_files()) == files_good
    assert state(spark, t) == {"a": ([1], 1), "b": ([2], 1)}


def test_write_audit_publish_row_drop_guard(spark, tmp_path):
    """Mass-delete fat-finger guard: a batch erasing most of the table
    fails the audit even with no row-level violations."""
    t = mk_table(tmp_path, "wap6")
    write_audit_publish(
        spark, t,
        mk_events(
            spark,
            [ev("insert", f"d{i}", i + 1, [i]) for i in range(10)],
        ),
        expectations=[],
    )
    wipe = write_audit_publish(
        spark, t,
        mk_events(
            spark,
            [ev("delete", f"d{i}", 100 + i, None) for i in range(9)],
        ),
        expectations=[],
        max_row_drop_fraction=0.5,
    )
    assert not wipe.published and "row_count_drop" in wipe.violations
    assert len(state(spark, t)) == 10
    # a legitimate small trim passes the same guard
    trim = write_audit_publish(
        spark, t,
        mk_events(spark, [ev("delete", "d0", 200, None)]),
        expectations=[],
        max_row_drop_fraction=0.5,
    )
    assert trim.published and len(state(spark, t)) == 9


def test_wap_null_predicate_counts_as_violation(spark, tmp_path):
    """A predicate that evaluates NULL (unevaluable invariant) must count
    against the expectation, not silently pass."""
    t = mk_table(tmp_path, "wap7")
    res = write_audit_publish(
        spark, t,
        mk_events(spark, [("insert", "a", 1, None, None, "src_0", 0, None)]),
        expectations=[Expectation("n_tok_pos", F.col("n_tok") > 0)],
    )
    assert not res.published and res.violations == {"n_tok_pos": 1}


# ------------------------------------------------------------ rollback
def test_rollback_restores_state_and_fences(spark, tmp_path):
    t = mk_table(tmp_path, "rb1")
    apply_changes(
        spark, t, mk_events(spark, [ev("insert", "a", 1, [1])]),
        batch_id=0, fence_stream_id="s", fence_run_id="r1",
    )
    v_target = t.current_version()
    apply_changes(
        spark, t,
        mk_events(spark, [ev("update", "a", 2, [9]), ev("insert", "b", 3, [2])]),
        batch_id=1, fence_stream_id="s", fence_run_id="r1",
    )
    assert state(spark, t) == {"a": ([9], 1), "b": ([2], 1)}
    assert t.last_batch_id("s") == 1

    m = t.rollback(v_target)
    # linear history: rollback is a NEW version, not a pointer rewind
    assert m["version"] == t.current_version() > v_target
    assert state(spark, t) == {"a": ([1], 1)}
    # fences restored with the state: batch 1 re-opens for replay
    assert t.last_batch_id("s") == 0
    assert m["summary"]["rollback_to"] == v_target
    # replaying batch 1 converges back (LWW idempotence across rollback)
    apply_changes(
        spark, t,
        mk_events(spark, [ev("update", "a", 2, [9]), ev("insert", "b", 3, [2])]),
        batch_id=1, fence_stream_id="s", fence_run_id="r1",
    )
    assert state(spark, t) == {"a": ([9], 1), "b": ([2], 1)}


def test_rollback_survives_expire_snapshots(spark, tmp_path):
    """The restored version's files are referenced by the new current, so
    snapshot expiry of the in-between history must not break reads."""
    t = mk_table(tmp_path, "rb2")
    apply_changes(spark, t, mk_events(spark, [ev("insert", "a", 1, [1])]))
    v1 = t.current_version()
    for s in range(2, 6):
        apply_changes(
            spark, t, mk_events(spark, [ev("update", "a", s, [s])])
        )
    t.rollback(v1)
    t.expire_snapshots(keep_last=1)
    assert state(spark, t) == {"a": ([1], 1)}


# ----------------------------------------------------- change data feed
def test_read_changes_classifies_and_carries_after_image(spark, tmp_path):
    t = mk_table(tmp_path, "cdf1")
    apply_changes(
        spark, t,
        mk_events(
            spark,
            [
                ev("insert", "keep", 1, [1]),
                ev("insert", "upd", 2, [2]),
                ev("insert", "gone", 3, [3]),
            ],
        ),
    )
    v_from = t.current_version()
    apply_changes(
        spark, t,
        mk_events(
            spark,
            [
                ev("update", "upd", 4, [4, 4]),
                ev("delete", "gone", 5, None),
                ev("insert", "new", 6, [6]),
            ],
        ),
    )
    changes = {
        r["doc_id"]: r
        for r in t.read_changes(
            spark, v_from, include_before=True
        ).collect()
    }
    assert set(changes) == {"upd", "gone", "new"}  # 'keep' is silent
    assert changes["new"]["_change_type"] == "insert"
    assert list(changes["new"]["tokens"]) == [6]
    assert changes["new"]["_before"] is None
    assert changes["upd"]["_change_type"] == "update"
    assert list(changes["upd"]["tokens"]) == [4, 4]
    assert list(changes["upd"]["_before"]["tokens"]) == [2]
    assert changes["gone"]["_change_type"] == "delete"
    assert changes["gone"]["tokens"] is None
    assert list(changes["gone"]["_before"]["tokens"]) == [3]


def test_read_changes_empty_across_compaction(spark, tmp_path):
    """Compaction rewrites every file but changes no visible state — the
    CDF between the two snapshots must be empty."""
    t = mk_table(tmp_path, "cdf2")
    apply_changes(spark, t, mk_events(spark, [ev("insert", "a", 1, [1])]))
    apply_changes(spark, t, mk_events(spark, [ev("update", "a", 2, [2])]))
    v_from = t.current_version()
    compact(spark, t)
    assert t.read_changes(spark, v_from).count() == 0


def test_read_changes_prunes_untouched_buckets(spark, tmp_path):
    """Only buckets whose manifest file sets differ are scanned: with
    one key updated under MoR, the diff must open strictly fewer files
    than two full-table reads."""
    t = mk_table(tmp_path, "cdf3", n_buckets=8)
    apply_changes(
        spark, t,
        mk_events(
            spark,
            [ev("insert", f"d{i}", i + 1, [i]) for i in range(64)],
        ),
        compact_every=None,
    )
    v_from = t.current_version()
    apply_changes(
        spark, t, mk_events(spark, [ev("update", "d0", 1000, [99])]),
        compact_every=None,
    )
    cdf = t.read_changes(spark, v_from)
    rows = cdf.collect()
    assert len(rows) == 1 and rows[0]["_change_type"] == "update"
    opened = set(cdf.inputFiles())
    all_files = {
        os.path.abspath(p) for p in t.data_files()
    }
    assert len(opened) < len(all_files)


def test_read_changes_across_rebucket(spark, tmp_path):
    """Bucket ids of two layouts are not comparable: across a rebucket
    ``changed_files`` names no bucket list and the diff reads both
    snapshots whole, so the rewrite itself is silent and only the later
    batch's changes show."""
    from arango_etl_spark.operators.merge_into import rebucket
    from arango_etl_spark.plans.lakehouse import changed_files

    t = mk_table(tmp_path, "cdf_rb", n_buckets=4)
    apply_changes(
        spark, t,
        mk_events(spark, [ev("insert", k, 1, [1]) for k in "abc"]),
    )
    v_from = t.current_version()
    rebucket(spark, t, new_n_buckets=8)
    apply_changes(
        spark, t,
        mk_events(spark, [ev("update", "b", 2, [2, 2]),
                          ev("delete", "c", 3, None),
                          ev("insert", "d", 4, [4])]),
    )
    added, buckets = changed_files(t.manifest(v_from), t.manifest())
    assert buckets is None and set(added) == set(t.manifest()["files"])
    changes = {
        r["doc_id"]: (r["_change_type"], r["tokens"])
        for r in t.read_changes(spark, v_from).collect()
    }
    assert changes == {
        "b": ("update", [2, 2]), "c": ("delete", None), "d": ("insert", [4])
    }


def test_read_changes_across_schema_evolution(spark, tmp_path):
    """Additive evolution between the snapshots: old state null-backfills
    the new column, so an unchanged row stays silent and a row that only
    gained a value in the new column reads as an update."""
    t = mk_table(tmp_path, "cdf4")
    apply_changes(
        spark, t,
        mk_events(spark, [ev("insert", "a", 1, [1]), ev("insert", "b", 2, [2])]),
    )
    v_from = t.current_version()
    evolved = mk_events(
        spark, [ev("update", "b", 3, [2])]
    ).withColumn("lang", F.lit("en"))
    apply_changes(spark, t, evolved)
    changes = {
        r["doc_id"]: r for r in t.read_changes(spark, v_from).collect()
    }
    assert set(changes) == {"b"}
    assert changes["b"]["_change_type"] == "update"
    assert changes["b"]["lang"] == "en"
