"""Incremental linking: frozen dictionary + per-batch link snapshots."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from xlink_spark.fixtures.generate import generate_corpus, to_spark
from xlink_spark.operators.spans import plain_text
from xlink_spark.plans.incremental import link_increment, load_dictionary
from xlink_spark.plans.pipeline import build_dictionary, link_corpus
from xlink_spark.plans.snapshots import SnapshotStore


@pytest.fixture(scope="module")
def inc_setup(spark, tmp_path_factory):
    tmp = tmp_path_factory.mktemp("inc")
    store = SnapshotStore(str(tmp / "snap"))
    corpus = generate_corpus(seed=5, n_docs=90, n_entities=50)
    docs, kb, wemb, eemb, gold = [d.cache() for d in to_spark(spark, corpus)]
    plain = docs.select("doc_id", plain_text("spans").alias("text")).cache()
    base = plain.filter(F.col("doc_id") < "d000060")
    newb = plain.filter(F.col("doc_id") >= "d000060").cache()
    base_docs = docs.filter(F.col("doc_id") < "d000060")
    build_dictionary(base_docs, kb, eemb, store=store)
    return store, base, newb, wemb, eemb


def test_load_dictionary_requires_snapshots(spark, tmp_path):
    with pytest.raises(FileNotFoundError, match="mention_anchors"):
        load_dictionary(spark, SnapshotStore(str(tmp_path / "empty")))


def test_incremental_batch_matches_full_run(spark, inc_setup):
    store, base, newb, wemb, eemb = inc_setup
    inc = link_increment(store, 0, newb, wemb, eemb)
    d = load_dictionary(spark, store)
    full = link_corpus(newb, d, wemb, eemb)
    key = lambda df: sorted(
        (r["doc_id"], r["start"], r["entity_id"]) for r in df.collect()
    )
    assert key(inc) == key(full)
    assert len(key(inc)) > 0


def test_incremental_rerun_is_idempotent(spark, inc_setup):
    store, base, newb, wemb, eemb = inc_setup
    a = link_increment(store, 0, newb, wemb, eemb).count()
    # poisoned input on re-run of the SAME batch id → snapshot returned
    empty = newb.filter(F.lit(False))
    b = link_increment(store, 0, empty, wemb, eemb).count()
    assert a == b


def test_all_links_unions_batches(spark, inc_setup):
    store, base, newb, wemb, eemb = inc_setup
    first_half = newb.filter(F.col("doc_id") < "d000075")
    second_half = newb.filter(F.col("doc_id") >= "d000075")
    n0 = link_increment(store, 0, newb, wemb, eemb).count()  # cached batch 0
    link_increment(store, 1, second_half, wemb, eemb)
    total = store.read_iterations_union(spark, "links").count()
    assert total == n0 + link_increment(store, 1, second_half, wemb, eemb).count()


def test_gap_batch_recommit_returns_gap_rows(spark, inc_setup):
    """Re-running a GAP batch after newer ones committed returns the gap's rows.

    Batches 0/1 exist from earlier tests; commit 3 first, then link the gap
    batch 2 — the returned frame must be batch 2's docs, not batch 3's latest
    snapshot (plans/incremental.py gap-return path, round-1 advice fix).
    """
    store, base, newb, wemb, eemb = inc_setup
    first_half = newb.filter(F.col("doc_id") < "d000075")
    second_half = newb.filter(F.col("doc_id") >= "d000075")
    link_increment(store, 3, first_half, wemb, eemb)  # newer batch lands first
    got = link_increment(store, 2, second_half, wemb, eemb)
    ids = {r["doc_id"] for r in got.select("doc_id").distinct().collect()}
    assert ids, "gap batch produced no links"
    assert all(i >= "d000075" for i in ids), "gap batch returned another batch's rows"
    # and the gap batch is now committed + idempotent
    assert 2 in store.iterations("links")
    assert link_increment(store, 2, second_half.limit(0), wemb, eemb).count() == got.count()


def test_crash_window_dirs_are_invisible(spark, tmp_path):
    """Stale temp dirs / manifest-less half-commits never read as snapshots.

    Plants (a) a temp dir in the OLD buggy namespace iter_00001.tmp-<hex>
    with a manifest INSIDE (the exact pre-os.replace crash state that used to
    crash last_iteration with ValueError), (b) a new-namespace .tmp- dir, and
    (c) a manifest-less iter_00002 with readable parquet (crashed before the
    manifest write). iterations/last_iteration/read_iterations_union must all
    ignore them.
    """
    import json
    import os

    store = SnapshotStore(str(tmp_path / "snap"))
    store.commit("links", 0, spark.range(5).withColumnRenamed("id", "v"))
    base = os.path.join(store.root, "links")

    junk = spark.range(3).withColumnRenamed("id", "v")
    # (a) old-namespace crashed temp, manifest already written inside
    t1 = os.path.join(base, "iter_00001.tmp-ab12cd34")
    junk.write.parquet(os.path.join(t1, "data"))
    with open(os.path.join(t1, "MANIFEST.json"), "w") as f:
        json.dump({"rows": 3}, f)
    # (b) new-namespace crashed temp, also with manifest
    t2 = os.path.join(base, ".tmp-iter_00003-deadbeef")
    junk.write.parquet(os.path.join(t2, "data"))
    with open(os.path.join(t2, "MANIFEST.json"), "w") as f:
        json.dump({"rows": 3}, f)
    # (c) half-written snapshot: data but no manifest
    junk.write.parquet(os.path.join(base, "iter_00002", "data"))

    assert store.iterations("links") == [0]
    k, reader = store.last_iteration("links")
    assert k == 0
    assert reader(spark).count() == 5
    assert store.read_iterations_union(spark, "links").count() == 5

    # %05d grows past five digits at 100000 — six-digit iterations must
    # still list (regression: a strict \d{5} pattern silently dropped them)
    store.commit("links", 100000, junk)
    assert store.iterations("links") == [0, 100000]
    k2, reader2 = store.last_iteration("links")
    assert k2 == 100000 and reader2(spark).count() == 3
    assert store.read_iterations_union(spark, "links").count() == 8


def test_overwrite_commit_never_deletes_last_snapshot(spark, tmp_path, monkeypatch):
    """Re-committing an existing stage must keep a valid copy of the OLD
    snapshot on disk at every instant: a crash exactly between moving the
    old dir aside and swapping the new one in leaves the old data as a
    recoverable .old- sibling (the previous rmtree-then-replace protocol
    permanently lost it). The next successful commit sweeps the sibling."""
    import os as os_mod

    from xlink_spark.plans import snapshots as snapmod

    store = SnapshotStore(str(tmp_path / "snap"))
    store.commit_table("probs", spark.range(7).withColumnRenamed("id", "v"))
    path = store._dir("probs")

    real_replace = os_mod.replace

    def crashing_replace(src, dst):
        if dst == path and ".tmp-" in os_mod.path.basename(src):
            raise OSError("simulated crash mid-swap")
        return real_replace(src, dst)

    monkeypatch.setattr(snapmod.os, "replace", crashing_replace)
    with pytest.raises(OSError, match="simulated crash"):
        store.commit_table("probs", spark.range(2).withColumnRenamed("id", "v"))
    monkeypatch.setattr(snapmod.os, "replace", real_replace)

    # the old snapshot survived, manifest-valid, as a .old- sibling
    olds = [d for d in os_mod.listdir(store.root) if d.startswith(".old-probs-")]
    assert len(olds) == 1
    old_dir = os_mod.path.join(store.root, olds[0])
    assert os_mod.path.exists(os_mod.path.join(old_dir, "MANIFEST.json"))
    assert spark.read.parquet(os_mod.path.join(old_dir, "data")).count() == 7

    # a rerun that fails during its (long) WRITE phase must not have
    # deleted the recovery copy at commit start — .old- sweeping happens
    # only after a successful swap (the bad plan fails at EXECUTION, i.e.
    # inside the commit's write, after the commit-start sweep already ran)
    bad = spark.range(1).select((F.col("id") / F.lit(0)).alias("v"))
    with pytest.raises(Exception):
        store.commit_table("probs", bad)
    assert [
        d for d in os_mod.listdir(store.root) if d.startswith(".old-probs-")
    ] == olds
    # manual recovery is a single rename back into the committed namespace
    real_replace(old_dir, path)
    assert store.has_table("probs")
    assert store.read_table(spark, "probs").count() == 7

    # a subsequent overwrite succeeds and leaves no stale siblings behind
    store.commit_table("probs", spark.range(3).withColumnRenamed("id", "v"))
    assert store.read_table(spark, "probs").count() == 3
    residue = [d for d in os_mod.listdir(store.root) if d.startswith((".old-", ".tmp-"))]
    assert residue == []

def test_table_diff_hand_values(spark):
    """added/removed/changed classification + unchanged rows dropped."""
    from xlink_spark.plans.incremental import table_diff

    old = spark.createDataFrame(
        [(1, "a", "x"), (2, "b", "y"), (3, "c", "z"), (4, None, "w")],
        "k int, t string, u string",
    )
    new = spark.createDataFrame(
        [(1, "a", "x"), (2, "B", "y"), (5, "e", "v"), (4, None, "w")],
        "k int, t string, u string",
    )
    got = {(r["k"], r["change"]) for r in table_diff(old, new, ["k"]).collect()}
    assert got == {(2, "changed"), (3, "removed"), (5, "added")}


def test_table_diff_null_safety_and_validation(spark):
    """NULL in a compare column must differ from the empty string AND from
    a shifted column split; missing columns raise."""
    from xlink_spark.plans.incremental import table_diff

    old = spark.createDataFrame([(1, None, "b")], "k int, t string, u string")
    new_empty = spark.createDataFrame([(1, "", "b")], "k int, t string, u string")
    assert table_diff(old, new_empty, ["k"]).collect()[0]["change"] == "changed"

    # ('ab', '') vs ('a', 'b') — separator keeps the concat unambiguous
    o2 = spark.createDataFrame([(1, "ab", "")], "k int, t string, u string")
    n2 = spark.createDataFrame([(1, "a", "b")], "k int, t string, u string")
    assert n2 is not None and table_diff(o2, n2, ["k"]).count() == 1

    import pytest as _pt

    with _pt.raises(ValueError, match="missing"):
        table_diff(old, new_empty.drop("u"), ["k"], compare_cols=["t", "u"])


def test_snapshot_diff_between_committed_iterations(spark, tmp_path):
    """End-to-end through the store: commit corpus v0 and v1 as iterations,
    diff them, and check only the real changes surface."""
    from xlink_spark.plans.incremental import table_diff

    store = SnapshotStore(str(tmp_path / "snap"))
    v0 = spark.createDataFrame(
        [(1, "alpha"), (2, "beta"), (3, "gamma")], "doc_id int, text string"
    )
    v1 = spark.createDataFrame(
        [(1, "alpha"), (2, "beta EDITED"), (4, "delta")], "doc_id int, text string"
    )
    store.commit("corpus", 0, v0)
    store.commit("corpus", 1, v1)
    got = {
        (r["doc_id"], r["change"])
        for r in table_diff(
            store.read_iteration(spark, "corpus", 0),
            store.read_iteration(spark, "corpus", 1),
            ["doc_id"],
        ).collect()
    }
    assert got == {(2, "changed"), (3, "removed"), (4, "added")}


def test_table_diff_plan_shuffles_hash_not_text(spark, tmp_path):
    """The exchange must carry (key, md5) only — document text is projected
    away before the full-outer join's shuffle."""
    from xlink_spark.plans.incremental import table_diff

    p = str(tmp_path / "docs")
    spark.range(100).select(
        F.col("id").alias("doc_id"), F.repeat(F.lit("x"), 1000).alias("text")
    ).write.parquet(p)
    docs = spark.read.parquet(p)
    d = table_diff(docs, docs.limit(50), ["doc_id"])
    plan = d._jdf.queryExecution().executedPlan().toString()
    # text never appears downstream of the scan: the only projected columns
    # crossing the exchange are doc_id and the hash
    import re

    exchanges = [ln for ln in plan.splitlines() if "Exchange hashpartitioning" in ln]
    assert exchanges and all("text" not in ln for ln in exchanges)
