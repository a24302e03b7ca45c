"""Snapshot-trail maintenance pins: squash, crash recovery, retraction fold."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from xlink_spark.plans.snapshots import SnapshotStore


def _vals(df):
    return sorted(r["v"] for r in df.collect())


def test_squash_iterations_preserves_union(spark, tmp_path):
    store = SnapshotStore(str(tmp_path / "s"))
    # three disjoint "link batches"
    for k, lo in enumerate([0, 100, 200]):
        batch = spark.range(lo, lo + 10).select(F.col("id").alias("v"))
        store.commit("links", k, batch)
    expected = _vals(store.read_iterations_union(spark, "links"))
    assert len(expected) == 30

    man = store.squash_iterations(spark, "links")
    assert man is not None and man["rows"] == 30
    assert man["metrics"]["squashed_from"] == [0, 1, 2]
    assert store.iterations("links") == [2]  # highest id kept: producer resumes at 3
    assert _vals(store.read_iterations_union(spark, "links")) == expected

    # idempotent: single iteration -> nothing to squash
    assert store.squash_iterations(spark, "links") is None
    # no stray siblings left behind
    assert [d for d in os.listdir(store.root) if d.startswith((".tmp-", ".old-"))] == []


def test_squash_crash_between_renames_is_recoverable(spark, tmp_path, monkeypatch):
    """A crash between rename-aside and swap-in leaves the ONLY copy in the
    .old- sibling — renaming it back restores the full union (the same
    recovery contract as single-table commits)."""
    from xlink_spark.plans import snapshots as snapmod

    store = SnapshotStore(str(tmp_path / "s"))
    for k in range(2):
        store.commit("links", k, spark.range(k * 10, k * 10 + 5).select(F.col("id").alias("v")))
    expected = _vals(store.read_iterations_union(spark, "links"))
    stage_dir = store._dir("links")

    real_replace = os.replace

    def crashing_replace(src, dst):
        # crash on the swap-IN of the squashed stage tree
        if dst == stage_dir and ".tmp-links-" in os.path.basename(src):
            raise OSError("simulated crash mid-squash")
        return real_replace(src, dst)

    monkeypatch.setattr(snapmod.os, "replace", crashing_replace)
    with pytest.raises(OSError, match="simulated crash"):
        store.squash_iterations(spark, "links")
    monkeypatch.setattr(snapmod.os, "replace", real_replace)

    # stage dir is gone, but the recovery copy holds the full pre-squash tree
    olds = [d for d in os.listdir(store.root) if d.startswith(".old-links-")]
    assert len(olds) == 1
    os.replace(os.path.join(store.root, olds[0]), stage_dir)
    assert store.iterations("links") == [0, 1]
    assert _vals(store.read_iterations_union(spark, "links")) == expected


def _links_batch(spark, rows):
    return spark.createDataFrame(rows, ["doc_id", "entity_id"])


def _rets_batch(spark, rows):
    return spark.createDataFrame(rows, ["doc_id", "change"])


def _fold_store(spark, tmp_path):
    """batch 0: A,B linked; batch 1: A changed (re-linked), B removed;
    batch 2: B re-added."""
    store = SnapshotStore(str(tmp_path / "fold"))
    store.commit("links", 0, _links_batch(spark, [("A", "e1"), ("B", "e2")]))
    store.commit("links", 1, _links_batch(spark, [("A", "e9")]))
    store.commit(
        "retractions", 1, _rets_batch(spark, [("A", "changed"), ("B", "removed")])
    )
    store.commit("links", 2, _links_batch(spark, [("B", "e5")]))
    return store


def test_current_links_applies_wins_and_removals(spark, tmp_path):
    from xlink_spark.plans.incremental import current_links

    store = _fold_store(spark, tmp_path)
    # raw history keeps everything
    assert store.read_iterations_union(spark, "links").count() == 4
    cur = sorted(map(tuple, current_links(spark, store).collect()))
    # A: batch 1 wins (e1 superseded); B: removed at 1 but re-added at 2
    assert cur == [("A", "e9"), ("B", "e5")]


def test_current_links_removed_without_readd(spark, tmp_path):
    from xlink_spark.plans.incremental import current_links

    store = SnapshotStore(str(tmp_path / "f2"))
    store.commit("links", 0, _links_batch(spark, [("A", "e1"), ("B", "e2")]))
    store.commit("retractions", 1, _rets_batch(spark, [("B", "removed")]))
    store.commit(
        "links", 1, spark.createDataFrame([], "doc_id string, entity_id string")
    )
    cur = sorted(map(tuple, current_links(spark, store).collect()))
    assert cur == [("A", "e1")]


def test_fold_link_history_pure_frames(spark):
    """fold_link_history without a store: newest-batch-wins, removal after
    the newest links drops the doc, removal at/before the winning batch does
    not (re-link survives), and retractions=None is a pure wins fold."""
    from xlink_spark.plans.incremental import fold_link_history

    links = spark.createDataFrame(
        [("A", "e1", 0), ("B", "e2", 0), ("A", "e9", 1), ("C", "e3", 0)],
        ["doc_id", "entity_id", "batch_id"],
    )
    rets = spark.createDataFrame(
        [("B", "removed", 1), ("A", "removed", 1), ("C", "changed", 1)],
        ["doc_id", "change", "batch_id"],
    )
    cur = sorted(map(tuple, fold_link_history(links, rets).collect()))
    # A removed at 1 but its winning links ARE batch 1 → survives;
    # B removed at 1 > its newest links (0) → dropped;
    # C only 'changed' (not removed) → survives.
    assert cur == [("A", "e9"), ("C", "e3")]
    no_rets = sorted(map(tuple, fold_link_history(links, None).collect()))
    assert no_rets == [("A", "e9"), ("B", "e2"), ("C", "e3")]


def test_fold_retractions_materializes_current_view(spark, tmp_path):
    from xlink_spark.plans.incremental import current_links, fold_retractions

    store = _fold_store(spark, tmp_path)
    expected = sorted(map(tuple, current_links(spark, store).collect()))

    man = fold_retractions(spark, store)
    assert man is not None and man["rows"] == 2
    assert store.iterations("links") == [2]
    # after the fold, RAW union == current view (history folded away)
    assert sorted(map(tuple, store.read_iterations_union(spark, "links").select("doc_id", "entity_id").collect())) == expected
    # retractions squashed empty
    rid = store.iterations("retractions")
    assert len(rid) == 1 and store.manifest("retractions", rid[0])["rows"] == 0
    # idempotent: fold of a folded store is the same view
    fold_retractions(spark, store)
    assert sorted(map(tuple, store.read_iterations_union(spark, "links").select("doc_id", "entity_id").collect())) == expected
    # producers resume past the fold unchanged
    store.commit("links", 3, _links_batch(spark, [("C", "e7")]))
    cur = sorted(map(tuple, current_links(spark, store).collect()))
    assert cur == expected + [("C", "e7")]
