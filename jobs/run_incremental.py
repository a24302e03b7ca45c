"""spark-submit entrypoint: incremental corpus update — diff, link the delta.

Usage (cluster or local):

    zip -r xlink_spark.zip xlink_spark
    spark-submit --py-files xlink_spark.zip jobs/run_incremental.py \\
        --documents /lake/documents_v2 --snapshots /lake/snapshots \\
        --word-emb /lake/word_embeddings --entity-emb /lake/entity_embeddings \\
        [--batch-id 7] [--master ...]

The lake's steady-state loop (the full-rebuild sibling is run_pipeline.py):

  1. read the NEW corpus version (interleaved-span parquet, same shape as
     run_pipeline's input) and the last committed ``corpus`` snapshot
     iteration from the store;
  2. ``table_diff`` them on doc_id over the span-sequence key — the shuffle
     carries (doc_id, md5) only, never text or spans;
  3. link ONLY added/changed docs against the frozen dictionary
     (``link_increment`` → ``links/iter_<batch>`` snapshot, idempotent);
  4. commit the removed+changed doc ids as ``retractions/iter_<batch>`` so
     downstream readers subtract stale links without rewriting history;
  5. commit the new corpus's NARROW fingerprint (doc_id, span-sequence
     key) as ``corpus_fp/iter_<batch>`` — all the next diff needs. The text
     itself stays wherever the lake keeps corpus versions; per-batch
     committed state never copies it.

First run (no committed corpus): every doc is 'added' and the whole corpus
links — the job degrades to the batch path without a separate bootstrap
flag. A re-run of the same --batch-id is a no-op returning the committed
counts (every commit is manifest-last and idempotent per iteration).

Dictionary snapshots must already exist in the store (run_pipeline.py or
build_dictionary(store=...) writes them) — incremental linking against a
half-built dictionary is an error, not a silent rebuild.
"""

from __future__ import annotations

import argparse
import json
import time

from xlink_spark.plans.storage import hold, scope


def _additive_window(store, last_cc: int, batch_id: int) -> list[int] | None:
    """Link batches in (last_cc, batch_id] IF the window is provably
    additive: every delta batch has its own committed retractions iteration
    with ZERO rows. A fold_retractions squash inside the window collapses
    the per-batch trail, so the shape check fails and the caller falls back
    to a full recompute — deletions can SPLIT components, which the
    contracted delta graph cannot express, so conservatism is correctness
    here, not tuning."""
    delta = [k for k in store.iterations("links") if last_cc < k <= batch_id]
    if not delta:
        return None
    for k in delta:
        if k not in store.iterations("retractions"):
            return None
        if store.manifest("retractions", k)["rows"] > 0:
            return None
    return delta


def _commit_clusters(spark, store, batch_id: int) -> int:
    """Cluster the current link view, reconcile ids against the previous
    clusters snapshot (split-loser collisions get MINTED ids — adopting
    their own CC label would fuse two clusters), commit, return row count.
    Idempotent per iteration like every snapshot commit.

    Incremental fast path: when a ``cc_state`` snapshot exists and every
    link batch since it is provably additive (its retractions iteration is
    committed and empty), the new batches' edges are folded into the saved
    (node, component) state through ``incremental_components`` — the CC
    iterations run over the CONTRACTED delta graph, never the full history.
    Any deletion, fold, or missing trail shape falls back to the full
    recompute; both paths commit the node-grain state for the next batch."""
    from pyspark.sql import functions as F

    from xlink_spark.operators.cluster import (
        connected_components,
        entity_clusters,
        incremental_components,
        link_edges,
        mint_stable_ids,
        reconcile_cluster_ids,
    )
    from xlink_spark.plans.incremental import current_links

    done_cc = store.iterations("cc_state")
    # fast path only when the cc_state and clusters trails ENDED together:
    # a crash between the two commits leaves cc_state one batch ahead, and
    # the entity union below would then miss entities from the gap — one
    # full recompute heals the store
    aligned = (
        bool(done_cc)
        and store.iterations("clusters")
        and store.iterations("clusters")[-1] == done_cc[-1]
    )
    window = (
        _additive_window(store, done_cc[-1], batch_id) if aligned else None
    )
    if window is not None:
        prev_state = store.read_iteration(spark, "cc_state", done_cc[-1])
        delta_links = store.read_iteration(spark, "links", window[0])
        for k in window[1:]:
            delta_links = delta_links.unionByName(
                store.read_iteration(spark, "links", k)
            )
        comp = incremental_components(prev_state, link_edges(delta_links))
        prev_ents = store.read_iteration(
            spark, "clusters", store.iterations("clusters")[-1]
        ).select("entity_id")
        ent_ids = delta_links.select("entity_id").unionByName(prev_ents)
    else:
        links = current_links(spark, store)
        comp = connected_components(link_edges(links))
        ent_ids = links.select("entity_id")
    if batch_id not in store.iterations("cc_state"):
        store.commit("cc_state", batch_id, comp)
    comp = store.read_iteration(spark, "cc_state", batch_id)
    cur = entity_clusters(ent_ids, comp)
    done = store.iterations("clusters")
    if done:
        prev = store.read_iteration(spark, "clusters", done[-1])
        prev_nc = prev.select(
            F.col("entity_id").alias("node"), F.col("cluster_id").alias("component")
        )
        cur_nc = cur.select(
            F.col("entity_id").alias("node"), F.col("cluster_id").alias("component")
        )
        remap = mint_stable_ids(
            reconcile_cluster_ids(prev_nc, cur_nc),
            prev.select("cluster_id").distinct(),
        ).select(F.col("component").alias("cluster_id"), "stable_id")
        stable = cur.join(remap, "cluster_id").select(
            "entity_id", F.col("stable_id").alias("cluster_id")
        )
    else:
        stable = cur
    store.commit("clusters", batch_id, stable)
    return store.manifest("clusters", batch_id)["rows"]


@scope()
def run_incremental_job(spark, args) -> dict:
    """The job body, importable for in-session testing. It runs in its own
    storage scope: every frame it caches or checkpoints is freed on return."""
    from pyspark.sql import functions as F

    from xlink_spark.operators.spans import plain_text, span_sequence_key
    from xlink_spark.plans.incremental import link_increment, table_diff
    from xlink_spark.plans.snapshots import SnapshotStore

    store = SnapshotStore(args.snapshots)
    new_docs = spark.read.parquet(args.documents)
    wemb = spark.read.parquet(args.word_emb)
    eemb = spark.read.parquet(args.entity_emb)

    committed = store.iterations("corpus_fp")
    batch_id = args.batch_id if args.batch_id is not None else (
        (committed[-1] + 1) if committed else 0
    )
    if batch_id in committed:
        # idempotent re-run: everything for this batch is already on disk.
        # Per-batch counts are None when a later fold_retractions squashed
        # this batch's iterations into the current view (the batch's effect
        # is still committed — it lives inside the folded iteration).
        def _rows(stage: str) -> int | None:
            if batch_id in store.iterations(stage):
                return store.manifest(stage, batch_id)["rows"]
            return None

        # --cluster on a resumed batch still commits the clusters snapshot
        # if this batch never got one (e.g. the original run didn't pass
        # the flag) — _commit_clusters is itself idempotent per iteration
        if getattr(args, "cluster", False) and batch_id not in store.iterations(
            "clusters"
        ):
            _commit_clusters(spark, store, batch_id)
        return {
            "batch_id": batch_id,
            "resumed": True,
            "n_linked_rows": _rows("links"),
            "n_retractions": _rows("retractions"),
            "n_cluster_rows": _rows("clusters"),
        }

    # diff on the span-sequence fingerprint: any change to the interleaved
    # (kind, text, media_ref, order) sequence re-links the doc
    new_fp = new_docs.select("doc_id", span_sequence_key("spans").alias("seq"))
    if committed:
        old_fp = store.read_iteration(spark, "corpus_fp", committed[-1])
        delta = table_diff(old_fp, new_fp, ["doc_id"])
    else:
        delta = new_docs.select("doc_id", F.lit("added").alias("change"))
    delta = hold(delta)
    counts = {r["change"]: r["n"] for r in delta.groupBy("change").agg(
        F.count(F.lit(1)).alias("n")).collect()}

    # link ONLY the added/changed docs; the semi join prunes the new
    # corpus before any text leaves the scan
    todo = new_docs.join(
        delta.filter(F.col("change") != "removed").select("doc_id"),
        "doc_id",
        "semi",
    )
    plain = todo.select("doc_id", plain_text("spans").alias("text"))
    link_increment(store, batch_id, plain, wemb, eemb)
    n_linked = store.manifest("links", batch_id)["rows"]

    # retractions: docs whose old links are stale (changed docs get
    # fresh links in this batch; removed docs get none)
    retract = delta.filter(F.col("change") != "added").select(
        "doc_id", "change"
    )
    store.commit("retractions", batch_id, retract)
    store.commit("corpus_fp", batch_id, new_fp)

    # steady-state maintenance: once the links trail outgrows the bound,
    # fold retractions into a single current-view iteration (readers keep
    # seeing a consistent union at every instant; producers resume at max+1)
    fold_after = getattr(args, "fold_after", 0) or 0
    folded = False
    if fold_after and len(store.iterations("links")) > fold_after:
        from xlink_spark.plans.incremental import fold_retractions

        fold_retractions(spark, store)
        folded = True

    # --cluster: transitive entity clusters over the CURRENT link view, with
    # ids reconciled against the last committed clusters snapshot — CC
    # labels by minimum node, so without reconciliation a delta batch that
    # moves a component's minimum would relabel the cluster for every
    # downstream consumer. Because each commit stores the STABLE ids, the
    # carried identity is transitive across arbitrarily many batches.
    n_clusters = None
    if getattr(args, "cluster", False):
        n_clusters = _commit_clusters(spark, store, batch_id)

    return {
        "batch_id": batch_id,
        "resumed": False,
        "folded": folded,
        "n_added": counts.get("added", 0),
        "n_changed": counts.get("changed", 0),
        "n_removed": counts.get("removed", 0),
        "n_linked_rows": n_linked,
        "n_retractions": counts.get("changed", 0) + counts.get("removed", 0),
        "n_cluster_rows": n_clusters,
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--documents", required=True, help="NEW corpus version (parquet)")
    ap.add_argument("--snapshots", required=True)
    ap.add_argument("--word-emb", required=True)
    ap.add_argument("--entity-emb", required=True)
    ap.add_argument("--batch-id", type=int, default=None,
                    help="default: last committed corpus iteration + 1")
    ap.add_argument("--fold-after", type=int, default=0,
                    help="fold retractions + squash the links trail once it "
                         "exceeds this many iterations (0 = never)")
    ap.add_argument("--cluster", action="store_true",
                    help="commit transitive entity clusters over the current "
                         "link view, ids reconciled against the previous "
                         "clusters snapshot (stable across batches)")
    ap.add_argument("--master", default=None)
    args = ap.parse_args()

    from xlink_spark.session import get_spark

    spark = get_spark(app_name="xlink_incremental", master=args.master)
    t0 = time.time()
    metrics = run_incremental_job(spark, args)
    metrics["wall_sec"] = round(time.time() - t0, 2)
    print(json.dumps(metrics))
    spark.stop()


if __name__ == "__main__":
    main()
