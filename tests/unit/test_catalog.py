"""Iceberg-semantics catalog: atomic commits, append vs overwrite,
time-travel by round (SURVEY.md §7.2)."""

from __future__ import annotations

import pytest

from gpse.catalog import Catalog


def test_commit_load_roundtrip(spark, tmp_path):
    cat = Catalog(str(tmp_path))
    df = spark.range(10).withColumnRenamed("id", "x")
    cat.commit("t", df, 0)
    assert cat.load(spark, "t").count() == 10


def test_append_accumulates_overwrite_replaces(spark, tmp_path):
    cat = Catalog(str(tmp_path))
    cat.commit("t", spark.range(5), 0, mode="append")
    cat.commit("t", spark.range(7), 1, mode="append")
    assert cat.load(spark, "t").count() == 12
    cat.commit("t", spark.range(3), 2, mode="overwrite")
    assert cat.load(spark, "t").count() == 3


def test_time_travel_by_round(spark, tmp_path):
    cat = Catalog(str(tmp_path))
    cat.commit("t", spark.range(5), 0, mode="append")
    cat.commit("t", spark.range(7), 1, mode="append")
    cat.commit("t", spark.range(11), 2, mode="append")
    assert cat.load(spark, "t", round=0).count() == 5
    assert cat.load(spark, "t", round=1).count() == 12
    assert cat.load(spark, "t", round=2).count() == 23
    assert cat.latest_round("t") == 2


def test_missing_table_raises(spark, tmp_path):
    cat = Catalog(str(tmp_path))
    with pytest.raises(KeyError):
        cat.load(spark, "nope")


def test_snapshot_log_visible(spark, tmp_path):
    cat = Catalog(str(tmp_path))
    cat.commit("a", spark.range(1), 0)
    cat.commit("b", spark.range(1), 0)
    snaps = cat.snapshots()
    assert {s["table"] for s in snaps} == {"a", "b"}
    assert all(s["snapshot_id"] for s in snaps)


def test_prune_drops_snapshots_and_reverts_reads(spark, tmp_path):
    cat = Catalog(str(tmp_path))
    cat.commit("t", spark.range(5), 0, mode="append")
    cat.commit("t", spark.range(7), 1, mode="append")
    dropped = cat.prune(lambda s: s.round <= 0)
    assert dropped == 1
    assert cat.load(spark, "t").count() == 5
    assert cat.latest_round("t") == 0


def test_commit_after_prune_never_reuses_orphan_dirs(spark, tmp_path):
    cat = Catalog(str(tmp_path))
    cat.commit("t", spark.range(5), 0, mode="append")
    cat.commit("t", spark.range(7), 1, mode="append")
    cat.prune(lambda s: s.round <= 0)
    # the orphan snap dir for round 1 still exists on disk; a new commit
    # must skip past it instead of failing errorifexists
    cat.commit("t", spark.range(3), 1, mode="append")
    assert cat.load(spark, "t").count() == 8


def test_compact_folds_append_chain(spark, tmp_path):
    cat = Catalog(str(tmp_path))
    for r in range(3):
        cat.commit("t", spark.range(r * 10, r * 10 + 10), r, mode="append")
    before = {r.id for r in cat.load(spark, "t").collect()}
    assert len(cat.snapshots("t")[-1]["dirs"]) == 3
    cat.compact(spark, "t", target_partitions=1)
    after_snap = cat.snapshots("t")[-1]
    assert len(after_snap["dirs"]) == 1
    assert after_snap["round"] == 2  # round preserved
    assert {r.id for r in cat.load(spark, "t").collect()} == before
    # time-travel to pre-compaction rounds still works
    assert cat.load(spark, "t", round=0).count() == 10


def test_load_delta_skips_compaction_snapshots(spark, tmp_path):
    """compact() commits at the current round; an incremental read of that
    round must still return the ROUND'S delta, not the whole compacted
    table (ADVICE r02: the compaction snapshot would otherwise shadow the
    real delta as cand[-1])."""
    cat = Catalog(str(tmp_path))
    for r in range(3):
        cat.commit("t", spark.range(r * 10, r * 10 + 10), r, mode="append")
    assert {x.id for x in cat.load_delta(spark, "t", 2).collect()} == set(range(20, 30))
    cat.compact(spark, "t")
    assert cat.load(spark, "t").count() == 30  # current read sees the rewrite
    # the incremental read of round 2 is unchanged by the compaction
    assert {x.id for x in cat.load_delta(spark, "t", 2).collect()} == set(range(20, 30))


def test_expire_snapshots_removes_unreferenced_dirs(spark, tmp_path):
    import os

    cat = Catalog(str(tmp_path))
    for r in range(3):
        cat.commit("t", spark.range(10), r, mode="append")
    cat.compact(spark, "t")
    old_dirs = [d for s in cat.snapshots("t")[:-1] for d in s["dirs"]]
    n = cat.expire_snapshots("t", keep_last=1)
    assert n > 0
    kept = cat.snapshots("t")
    assert len(kept) == 1
    assert cat.load(spark, "t").count() == 30
    # compacted dir survives; pre-compaction dirs are gone from disk
    survivors = {d for s in kept for d in s["dirs"]}
    for d in old_dirs:
        if d not in survivors:
            assert not os.path.isdir(d)


# --------------------------------------------------------------------------
# snapshot_diff — changelog between two rounds (Iceberg changelog-read idiom)
# --------------------------------------------------------------------------

def _commit_kv(spark, cat, rows, round):
    df = spark.createDataFrame(rows, "k int, v string")
    cat.commit("t", df, round, mode="overwrite")


def test_snapshot_diff_classifies_added_removed_changed(spark, tmp_path):
    from gpse.catalog import snapshot_diff

    cat = Catalog(str(tmp_path))
    _commit_kv(spark, cat, [(1, "a"), (2, "b"), (3, "c"), (5, None)], 0)
    _commit_kv(spark, cat, [(2, "b"), (3, "X"), (4, "d"), (5, "z")], 1)
    got = {
        r["k"]: r["change"]
        for r in snapshot_diff(spark, cat, "t", 0, 1, key_cols=["k"]).collect()
    }
    # NULL -> value flip counts as changed (null-discriminating hash)
    assert got == {1: "removed", 3: "changed", 4: "added", 5: "changed"}
    full = {
        r["k"]: r["change"]
        for r in snapshot_diff(
            spark, cat, "t", 0, 1, key_cols=["k"], include_unchanged=True
        ).collect()
    }
    assert full[2] == "unchanged" and len(full) == 5


def test_snapshot_diff_explicit_value_cols(spark, tmp_path):
    """Restricting value_cols masks changes outside them."""
    from gpse.catalog import snapshot_diff

    cat = Catalog(str(tmp_path))
    df0 = spark.createDataFrame([(1, "a", 10), (2, "b", 20)], "k int, v string, w int")
    df1 = spark.createDataFrame([(1, "a", 99), (2, "c", 20)], "k int, v string, w int")
    cat.commit("t", df0, 0)
    cat.commit("t", df1, 1, mode="overwrite")
    only_v = {
        r["k"]: r["change"]
        for r in snapshot_diff(spark, cat, "t", 0, 1, ["k"], value_cols=["v"]).collect()
    }
    assert only_v == {2: "changed"}  # row 1's w-change is invisible
    default = {
        r["k"]: r["change"]
        for r in snapshot_diff(spark, cat, "t", 0, 1, ["k"]).collect()
    }
    assert default == {1: "changed", 2: "changed"}


def test_snapshot_diff_shuffles_hashes_not_bodies(spark, tmp_path):
    """Scale guard: the join inputs are key+hash projections — the wide
    value column must not appear below the join in the optimized plan."""
    from gpse.catalog import snapshot_diff

    cat = Catalog(str(tmp_path))
    _commit_kv(spark, cat, [(1, "a")], 0)
    _commit_kv(spark, cat, [(1, "b")], 1)
    plan = snapshot_diff(spark, cat, "t", 0, 1, ["k"])._jdf.queryExecution().optimizedPlan().toString()
    # v feeds xxhash64 inside the per-side projection; the join itself sees
    # only (k, _ha/_hb) -- no raw `v` reference above the scans' Project
    assert "xxhash64" in plan
    for line in plan.splitlines():
        if "Join" in line:
            assert "v#" not in line


def test_snapshot_diff_value_moving_between_columns_is_changed(spark, tmp_path):
    """Spark's multi-column hash skips null children, so without the
    per-column null flags xxhash64(NULL,'x') == xxhash64('x',NULL) and a
    value MOVING from one column to another would alias to 'unchanged'
    (caught r4 review)."""
    from gpse.catalog import snapshot_diff

    cat = Catalog(str(tmp_path))
    df0 = spark.createDataFrame([(1, None, "x"), (2, "same", "same")], "k int, a string, b string")
    df1 = spark.createDataFrame([(1, "x", None), (2, "same", "same")], "k int, a string, b string")
    cat.commit("t", df0, 0, mode="overwrite")
    cat.commit("t", df1, 1, mode="overwrite")
    got = {
        r["k"]: r["change"]
        for r in snapshot_diff(spark, cat, "t", 0, 1, key_cols=["k"]).collect()
    }
    assert got == {1: "changed"}
