"""Incremental linking: process only new documents against committed state.

The lake grows continuously; rebuilding the dictionary and re-linking
10^12 documents for each drop is not a plan. This module adds the
incremental path on top of the snapshot store:

* ``load_dictionary`` — rehydrate the Dictionary from committed snapshots
  (no recomputation; fails loudly on a missing stage).
* ``link_increment``  — link one batch of new docs with the frozen
  dictionary and commit the links as ``links/iter_k`` snapshots; each batch
  is atomic and a re-run of the same batch id is idempotent (skip-if-
  committed).

Dictionary refresh stays a periodic batch job (build_dictionary over the
full corpus) — cheap incremental links now, exact stats refresh on a
cadence.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from xlink_spark.config import DEFAULT, EngineConfig
from xlink_spark.plans.pipeline import Dictionary, link_corpus
from xlink_spark.plans.snapshots import SnapshotStore
from xlink_spark.plans.storage import scope

_STAGES = (
    "mention_anchors",
    "title_entities",
    "e_given_m",
    "entity_prior",
    "m_given_e",
    "link_prob",
)


def load_dictionary(spark: SparkSession, store: SnapshotStore) -> Dictionary:
    """Rehydrate the predictor's input tables from committed snapshots."""
    missing = [s for s in _STAGES if not store.has_table(s)]
    if missing:
        raise FileNotFoundError(
            f"dictionary snapshots missing: {missing} — run build_dictionary first"
        )
    t = {s: store.read_table(spark, s) for s in _STAGES}
    return Dictionary(
        mention_anchors=t["mention_anchors"],
        title_entities=t["title_entities"],
        e_given_m=t["e_given_m"],
        entity_prior=t["entity_prior"],
        m_given_e=t["m_given_e"],
        link_prob=t["link_prob"],
    )


def link_increment(
    store: SnapshotStore,
    batch_id: int,
    new_docs_plain: DataFrame,
    word_emb: DataFrame,
    entity_emb: DataFrame,
    cfg: EngineConfig = DEFAULT,
) -> DataFrame:
    """Link one new-document batch against the frozen dictionary.

    Idempotent per batch_id: an already-committed batch is returned from its
    snapshot without recomputation (safe to re-run after a crash). The
    linking plan's cached and checkpointed frames are freed after the
    commit — repeated batches must not accumulate cached blocks.
    """
    spark = new_docs_plain.sparkSession
    if batch_id in store.iterations("links"):
        return store.read_iteration(spark, "links", batch_id)
    d = load_dictionary(spark, store)
    # the scope also closes on a failed commit: it must not leak cached
    # blocks into the retry
    with scope():
        links = link_corpus(new_docs_plain, d, word_emb, entity_emb, cfg)
        store.commit(
            "links", batch_id, links, metrics={"batch_id": batch_id}
        )
    # return THIS batch's committed snapshot, not the latest iteration —
    # re-running an older gap batch after newer ones committed must hand
    # back the gap batch's rows
    return store.read_iteration(spark, "links", batch_id)


def links_with_batch(
    spark: SparkSession, store: SnapshotStore, stage: str = "links"
) -> DataFrame:
    """Union of a delta stage's iterations WITH batch provenance.

    ``read_iterations_union`` is the fast single-scan path but loses which
    iteration a row came from; the retraction fold needs it, so this reads
    each iteration with a literal ``batch_id`` column and unions. The
    union's leg count equals the live iteration count — bounded in practice
    because ``fold_retractions``/``squash_iterations`` periodically collapse
    the trail back to one leg (that is exactly what they are for).
    """
    from pyspark.sql import functions as F

    out = None
    for k in store.iterations(stage):
        df = store.read_iteration(spark, stage, k).withColumn(
            "batch_id", F.lit(k)
        )
        out = df if out is None else out.unionByName(df)
    if out is None:
        raise FileNotFoundError(f"no committed iterations for {stage}")
    return out


def fold_link_history(
    links: DataFrame, retractions: DataFrame | None = None
) -> DataFrame:
    """Pure-frame fold of a batched link history into the current view.

    ``links`` carries a ``batch_id`` column (one row per link per batch
    that produced it); ``retractions`` is (doc_id, change, batch_id). The
    fold keeps, per doc, only the rows of the NEWEST batch that linked it
    (changed docs re-link wholesale, so the newest batch is authoritative),
    then drops docs whose newest 'removed' retraction is more recent than
    their newest links — a doc removed at batch k and re-added at k+2
    survives. Output drops the ``batch_id`` column.

    Scale shape: the wide link rows shuffle ONCE (the doc-grain join
    against the winning-batch list); winners and removals are narrow
    (doc_id, batch_id) map-combinable aggregates.
    """
    from pyspark.sql import functions as F

    wins = links.groupBy("doc_id").agg(F.max("batch_id").alias("batch_id"))
    live = links.join(wins, ["doc_id", "batch_id"], "inner")
    if retractions is None:
        return live.drop("batch_id")
    removed = (
        retractions.filter(F.col("change") == "removed")
        .groupBy("doc_id")
        .agg(F.max("batch_id").alias("removed_at"))
    )
    return (
        live.join(removed, "doc_id", "left")
        .filter(F.col("removed_at").isNull() | (F.col("removed_at") <= F.col("batch_id")))
        .drop("removed_at", "batch_id")
    )


def current_links(spark: SparkSession, store: SnapshotStore) -> DataFrame:
    """The lake's CURRENT links view: retractions applied, history folded.

    ``store.read_iterations_union(spark, "links")`` is raw history (every
    batch's rows, including links a later batch superseded); this is
    ``fold_link_history`` over the store's committed trail. Idempotent: folding an already-folded store returns
    the same rows, which is what makes fold_retractions' two-stage commit
    crash-safe without a cross-stage transaction.
    """
    links = links_with_batch(spark, store, "links")
    rets = (
        links_with_batch(spark, store, "retractions")
        if store.iterations("retractions")
        else None
    )
    return fold_link_history(links, rets)


def fold_retractions(spark: SparkSession, store: SnapshotStore) -> dict | None:
    """Maintenance: materialize ``current_links`` and reset the trail.

    The MERGE-compaction of the linking lake: the links stage is squashed
    to ONE iteration holding the current view (keeping the highest id, so
    producers resume at max+1), then the retractions stage is squashed to
    an EMPTY iteration (every retraction ≤ that id is now applied).

    Crash safety without a cross-stage transaction: each squash is
    individually atomic, and a crash between the two leaves folded links
    with stale retractions still present — re-applying them is a no-op
    because ``current_links`` is idempotent (the folded rows all carry the
    max batch id, so no retraction at ≤ max can drop them). Batches
    committed AFTER the fold behave exactly as before. Returns the links
    squash manifest, or None when there are no links iterations.
    """
    from pyspark.sql import functions as F

    if not store.iterations("links"):
        return None
    manifest = store.squash_iterations(
        spark, "links", frame=current_links(spark, store)
    )
    rets = store.iterations("retractions")
    if rets:
        empty = store.read_iteration(spark, "retractions", rets[-1]).filter(
            F.lit(False)
        )
        store.squash_iterations(spark, "retractions", frame=empty)
    return manifest


def table_diff(
    old: DataFrame,
    new: DataFrame,
    key_cols: list[str],
    compare_cols: list[str] | None = None,
) -> DataFrame:
    """Row-level diff between two versions of a table: (keys…, change).

    ``change`` ∈ {'added', 'removed', 'changed'}; rows identical on every
    compare column are dropped. This is the lake's incremental driver —
    diff two committed corpus snapshots and feed ONLY the added/changed
    doc_ids into link_increment instead of re-linking 10^12 rows (the same
    role as Iceberg's changelog/incremental scan between snapshot ids).

    Scale shape: each side is reduced to (keys…, md5-of-compare-columns)
    BEFORE the full-outer join, so the only shuffle carries keys + one
    32-char hash — document text never rides the exchange. NULL-safe: every
    compare column is coalesced to a NUL sentinel and joined with a \\u0001
    separator, so ('a', NULL) never collides with ('a',)."""
    from pyspark.sql import functions as F

    if compare_cols is None:
        compare_cols = [c for c in new.columns if c not in key_cols]
    missing = [
        c
        for c in list(key_cols) + list(compare_cols)
        if c not in old.columns or c not in new.columns
    ]
    if missing:
        raise ValueError(f"diff columns missing from a side: {missing}")

    def fp(df: DataFrame, alias: str) -> DataFrame:
        h = F.md5(
            F.concat_ws(
                "\u0001",
                *[
                    F.coalesce(F.col(c).cast("string"), F.lit("\u0000"))
                    for c in compare_cols
                ],
            )
        )
        return df.select(*key_cols, h.alias(alias))

    joined = fp(old, "_h_old").join(fp(new, "_h_new"), list(key_cols), "full_outer")
    return (
        joined.filter(
            F.col("_h_old").isNull()
            | F.col("_h_new").isNull()
            | (F.col("_h_old") != F.col("_h_new"))
        )
        .select(
            *key_cols,
            F.when(F.col("_h_old").isNull(), F.lit("added"))
            .when(F.col("_h_new").isNull(), F.lit("removed"))
            .otherwise(F.lit("changed"))
            .alias("change"),
        )
    )
