"""Corpus ingestion & standardization (SURVEY §2.1 S1, §2.2 F9).

Reference: corpus_full_refine (prepare_standard_input.py:333-516) reads
``title\\t\\tsub_title\\t\\turl\\t\\tcontent`` lines, validates annotation
brackets, resolves each doc to its entity via the URI index with a
full-title fallback (J2), rewrites ``[[mention|url]]`` anchors to
``[[entity_id|mention]]``, and counts rejects (error_no).

Input contract: the content's anchors must ALREADY be in the standardized
``[[entity_id|mention]]`` form (SURVEY S1). Every ``[[a|b]]`` is read as
``entity_id=a, surface=b``; the reference's ``[[mention|url]]`` rewrite
through the URI index is not built, so a raw dump in that form would yield
anchors whose entity id is the mention text.

Spark redesign: spark.read.text → split on the double-tab separator →
quarantine_split on validity predicates → broadcast joins against kb_uris /
kb_entities (doc → entity) → parse_markup_to_spans. One scan, no Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from xlink_spark.functions.text import normalize_uri
from xlink_spark.operators.spans import is_markup_valid, parse_markup_to_spans
from xlink_spark.plans.lineage import quarantine_split

SEP = "\t\t"


def read_raw_corpus(spark, path: str) -> DataFrame:
    """4-column raw corpus lines → (title, sub_title, url, content).

    Column-count validation mirrors ``len(line_arr) != 4: continue``
    (utils/dictionary.py:82); short rows go to the quarantine side.
    """
    lines = spark.read.text(path)
    parts = lines.select(F.split(F.col("value"), SEP).alias("p"))
    # try_element_at: short rows yield nulls (ANSI mode would throw)
    return parts.select(
        F.try_element_at("p", F.lit(1)).alias("title"),
        F.try_element_at("p", F.lit(2)).alias("sub_title"),
        F.try_element_at("p", F.lit(3)).alias("url"),
        F.try_element_at("p", F.lit(4)).alias("content"),
        (F.size("p") == 4).alias("_shape_ok"),
    )


def resolve_doc_entity(
    docs: DataFrame, kb_uris: DataFrame, kb_entities: DataFrame
) -> DataFrame:
    """J2: doc → entity_id via URI index, parent-path + full-title fallbacks.

    Reference: prepare_standard_input.py:396-400 +
    get_entity_by_uri_and_title (dictionary.py:124-139). On a URI-index
    miss, get_entity_by_uri (dictionary.py:124-132) retries with the LAST
    PATH SEGMENT DROPPED (``'/'.join(uri.split('/')[:-1])``) — Baidu URLs
    often carry a trailing disambiguator segment; only then falls back to
    the full title. All lookup tables are KB-bounded → broadcast joins; the
    precedence is one coalesce.
    """
    uri_index = F.broadcast(
        kb_uris.select(F.col("uri").alias("_uri"), F.col("entity_id").alias("_eid"))
    )
    by_uri = docs.withColumn("_uri", normalize_uri("url")).join(
        uri_index.withColumnRenamed("_eid", "_eid_uri"), "_uri", "left"
    )
    # parent path: drop the trailing '/segment'; no '/' at all ⇒ '' (the
    # reference's ''.join(...[:-1]) result), which simply never matches
    parent = F.when(
        F.col("_uri").contains("/"), F.regexp_replace("_uri", r"/[^/]*$", "")
    ).otherwise(F.lit(""))
    by_parent = by_uri.withColumn("_puri", parent).join(
        uri_index.select(
            F.col("_uri").alias("_puri"), F.col("_eid").alias("_eid_parent")
        ),
        "_puri",
        "left",
    )
    full_title = F.concat(F.col("title"), F.coalesce(F.col("sub_title"), F.lit("")))
    by_title = by_parent.withColumn("_ft", full_title).join(
        F.broadcast(
            kb_entities.select(
                F.col("full_title").alias("_ft"), F.col("entity_id").alias("_eid_title")
            )
        ),
        "_ft",
        "left",
    )
    return by_title.withColumn(
        "entity_id", F.coalesce("_eid_uri", "_eid_parent", "_eid_title")
    ).drop("_uri", "_puri", "_ft", "_eid_uri", "_eid_parent", "_eid_title")


_QUARANTINE_REASONS = ("bad_shape", "unresolved_entity", "invalid_markup")


def standardize_corpus(
    spark,
    path: str,
    kb_uris: DataFrame,
    kb_entities: DataFrame,
    store,
    stage: str = "standard_corpus",
) -> tuple[DataFrame, DataFrame]:
    """S1 end-to-end: raw lines → (documents(spans), quarantined).

    documents: (doc_id=entity_id, spans) — the reference emits
    ``eid\\t\\ttext`` (the annotated "standard corpus"); we emit the span
    form directly. Rows failing shape/validity/resolution are returned as
    the quarantine DataFrame with a reason column (error_no semantics,
    prepare_standard_input.py:349-398 — but keeping the rows, not just the
    count).

    Both sides are committed to the SnapshotStore ``store`` —
    ``<stage>_quarantine`` first (its write evaluates an observe() on the
    reject stream), then ``<stage>`` with the per-reason reject counters and
    the observed accepted-row count recorded in its manifest metrics: the
    reference's error_no tallies, durably attached to the snapshot they
    describe. The returned frames read the committed tables back.
    """
    raw = read_raw_corpus(spark, path)
    resolved = resolve_doc_entity(raw, kb_uris, kb_entities)
    ok_pred = (
        F.col("_shape_ok")
        & F.col("entity_id").isNotNull()
        & is_markup_valid(F.coalesce("content", F.lit("")))
    )
    valid, invalid, obs = quarantine_split(resolved, ok_pred, "corpus_standardize")
    invalid = invalid.withColumn(
        "reason",
        F.when(~F.col("_shape_ok"), F.lit("bad_shape"))
        .when(F.col("entity_id").isNull(), F.lit("unresolved_entity"))
        .otherwise(F.lit("invalid_markup")),
    )
    docs = valid.select(F.col("entity_id").alias("doc_id"), F.col("content").alias("text"))
    spans = parse_markup_to_spans(docs)
    inv_obs = Observation()
    invalid_observed = invalid.observe(
        inv_obs,
        F.count(F.lit(1)).alias("rejected"),
        *[
            F.sum((F.col("reason") == r).cast("long")).alias(r)
            for r in _QUARANTINE_REASONS
        ],
    )
    store.commit_table(
        f"{stage}_quarantine",
        invalid_observed,
        metrics_fn=lambda: {"quarantine": {k: int(v or 0) for k, v in inv_obs.get.items()}},
    )
    store.commit_table(
        stage,
        spans,
        metrics_fn=lambda: {
            "quarantine": {k: int(v or 0) for k, v in inv_obs.get.items()},
            "accepted_rows": int(obs.get["rows"]),
        },
    )
    return store.read_table(spark, stage), store.read_table(spark, f"{stage}_quarantine")
