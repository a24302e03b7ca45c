"""Offline dictionary build: anchor extraction, merges, filters.

Covers SURVEY §2.4 A1-A4, §2.2 F1-F5, §2.3 J3, §2.7 U1-U2. Every reference
dict-loop becomes a shuffle-aware DataFrame job:

* counting is groupBy → Spark's partial (map-side) + final hash aggregation,
  the exact combiner pattern the reference hand-rolls by merging per-corpus
  dicts (extract_mention_anchors.py:63-127);
* cross-corpus merge = unionByName + re-aggregate (A2);
* every filter is a semi/anti join or a pushed-down predicate.

At 100 TB the only shuffles here are keyed by ``mention`` / ``entity_id``
(both high-cardinality, near-uniform after the F1 length filter; the Zipf
head on mentions is tolerable because rows per mention are already partial-
aggregated map-side to one row per (mention, entity, partition)).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from xlink_spark.config import DictionaryConfig
from xlink_spark.operators.spans import anchor_spans


def extract_mention_anchors(docs: DataFrame, cfg: DictionaryConfig | None = None) -> DataFrame:
    """A1: anchor counts per (lower(mention), entity).

    Reference: extract_mention_anchors.py:8-61 — iterates docs, lower-cases
    the mention (:41), skips length<=1 (:75), accumulates nested dicts.
    Here: explode anchors → filter → groupBy. Map-side combine collapses the
    Zipf head before the shuffle.
    """
    cfg = cfg or DictionaryConfig()
    from xlink_spark.operators.detect import surface_token_count

    a = anchor_spans(docs)
    return (
        a.select(F.lower("surface").alias("mention"), "entity_id")
        .filter(F.length("mention") >= cfg.min_mention_len)
        # bound the dictionary's longest surface: every n-gram stage's cost
        # (detection limit, freq scan width) derives from it
        .filter(surface_token_count("mention") <= cfg.max_surface_words)
        .groupBy("mention", "entity_id")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def extract_self_links(docs: DataFrame) -> DataFrame:
    """A1: mentions whose anchor target is the containing doc itself.

    Reference: extract_mention_anchors.py:49-51 (doc_id doubles as the doc's
    own entity id, per FIXTURES.md A1).
    """
    a = anchor_spans(docs)
    return (
        a.filter(F.col("entity_id") == F.col("doc_id"))
        .select(F.lower("surface").alias("mention"))
        .groupBy("mention")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def merge_anchor_counts(*tables: DataFrame) -> DataFrame:
    """A2/U1: merge mention_anchors across corpora (abstract/article/infobox).

    Reference: extract_mention_anchors.py:63-127, main.py:79-117. Spark's
    partial-aggregate model makes this a union + re-sum.
    """
    out = tables[0]
    for t in tables[1:]:
        out = out.unionByName(t)
    return out.groupBy("mention", "entity_id").agg(F.sum("cnt").alias("cnt"))


def link_m(mention_anchors: DataFrame) -> DataFrame:
    """A3: total anchor count per mention — main.py:204-210."""
    return mention_anchors.groupBy("mention").agg(F.sum("cnt").alias("link"))


def freq_m_from_plain(
    docs_plain: DataFrame, surfaces: DataFrame, max_ngram: int | None = None
) -> DataFrame:
    """A4: corpus frequency of each dictionary surface in plain text.

    Reference scans plain text with an Aho-Corasick automaton
    (generate_prob_files.py:164-193). Spark formulation: the DETECTION-GRADE
    n-gram generator (detect.ngram_spans — raw text slices between scanner
    token boundaries, CJK chars as single tokens) counted per surface via a
    semi join. Using the same generator as detection guarantees freq(m)
    covers exactly what the scanner can match — including zh surfaces with
    no whitespace and 4+-token surfaces — so the F2/F3 gates (inner joins
    on freq) never silently drop detectable dictionary entries.

    n-gram explosion multiplies rows by ``max_ngram``, but the semi join
    prunes immediately, and map-side partial aggregation collapses
    duplicates before the shuffle — at 100 TB the shuffle carries only
    (distinct surface, partial count) pairs.

    ``docs_plain``: (doc_id, text); ``surfaces``: (mention).

    ``max_ngram=None`` (default) derives it from the LONGEST surface in the
    dictionary (scanner-token units) — one scalar aggregate over the
    KB-bounded surface table, computed once per build.
    """
    from xlink_spark.operators.detect import (
        first_token_set,
        ngram_spans,
        surface_token_count,
    )

    if max_ngram is None:
        row = surfaces.select(F.max(surface_token_count("mention")).alias("m")).first()
        max_ngram = int(row["m"]) if row and row["m"] else 1
    # no JVM-side lower(): ngram_spans already lowers each emitted slice
    grams = ngram_spans(
        docs_plain.select("doc_id", "text"),
        max_words=max_ngram,
        first_tokens=first_token_set(surfaces),
    ).select(F.col("surface").alias("mention"))
    return (
        grams.join(surfaces.select("mention").distinct(), "mention", "left_semi")
        .groupBy("mention")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def refine_by_freq(mention_anchors: DataFrame, freq_m: DataFrame) -> DataFrame:
    """F2: keep anchors whose mention occurs in freq_m — main.py:174-189."""
    return mention_anchors.join(freq_m.select("mention"), "mention", "left_semi")


def filter_mention_anchors(
    mention_anchors: DataFrame,
    freq_m: DataFrame,
    self_links: DataFrame | None = None,
    cfg: DictionaryConfig | None = None,
) -> DataFrame:
    """F3: the link-count + link-probability dictionary gate.

    Keep mention iff ``link(m) − self_links(m) ≥ min_link_count`` AND
    ``link(m)/freq(m) ≥ min_link_prob`` — extract_mention_anchors.py:161-183,
    thresholds main.py:458-459.
    """
    cfg = cfg or DictionaryConfig()
    lm = link_m(mention_anchors)
    joined = lm.join(freq_m, "mention", "inner")
    if self_links is not None:
        joined = joined.join(
            self_links.withColumnRenamed("cnt", "self_cnt"), "mention", "left"
        )
    else:
        joined = joined.withColumn("self_cnt", F.lit(None).cast("long"))
    kept = joined.filter(
        ((F.col("link") - F.coalesce("self_cnt", F.lit(0))) >= cfg.min_link_count)
        & ((F.col("link") / F.col("freq")) >= cfg.min_link_prob)
    ).select("mention")
    return mention_anchors.join(kept, "mention", "left_semi")


def filter_by_entity_embedding(
    mention_anchors: DataFrame, entity_embeddings: DataFrame
) -> DataFrame:
    """F4: drop candidates lacking an embedding, then mentions left empty.

    Reference: main.py:289-306 (filter_mention_anchor_by_entity_emb). The
    "mentions left with 0 candidates" drop is implicit: semi-joined rows are
    the only survivors, so an emptied mention simply has no rows.
    """
    return mention_anchors.join(
        entity_embeddings.select(F.col("key").alias("entity_id")), "entity_id", "left_semi"
    )


def expand_title_entities(
    kb_entities: DataFrame, mention_anchors: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """J3: title expansion — returns (injected_anchors, title_entities).

    Reference: extract_mention_anchors.py:130-158. For each KB entity whose
    normalized title surface already exists in mention_anchors, inject a
    count-1 anchor (mention=surface, entity) if that (m,e) pair is missing;
    surfaces absent from the dictionary become ``title_entities`` (the
    no-prob 'tt' dictionary).
    """
    kb_surf = kb_entities.select(
        F.col("surface_norm").alias("mention"), "entity_id"
    ).distinct()
    known = mention_anchors.select("mention").distinct()
    title_entities = kb_surf.join(known, "mention", "left_anti")
    injected = (
        kb_surf.join(known, "mention", "left_semi")
        .join(
            mention_anchors.select("mention", "entity_id"),
            ["mention", "entity_id"],
            "left_anti",
        )
        .withColumn("cnt", F.lit(1).cast("long"))
    )
    return injected, title_entities


def filter_title_entities(
    title_entities: DataFrame,
    entity_embeddings: DataFrame,
    cfg: DictionaryConfig | None = None,
) -> DataFrame:
    """F5: title_entities must have embeddings — main.py:338-357.

    Also applies the ``max_surface_words`` cap (same bound as anchors): a
    pathological long KB title would otherwise set the tt detection path's
    n-gram width for the whole corpus.
    """
    from xlink_spark.operators.detect import surface_token_count

    cfg = cfg or DictionaryConfig()
    return title_entities.filter(
        surface_token_count("mention") <= cfg.max_surface_words
    ).join(
        entity_embeddings.select(F.col("key").alias("entity_id")), "entity_id", "left_semi"
    )


def decayed_anchor_counts(
    batched_anchors: DataFrame,
    current_batch: int,
    half_life_batches: int = 1,
    max_halvings: int = 40,
) -> DataFrame:
    """Recency-weighted anchor statistics over an incremental lake — the
    drifting-alias answer to A1/A5: a mention's dominant entity five years
    ago should not outvote last month's usage forever.

    Input: (mention, entity_id, cnt, batch) — per-batch anchor counts, the
    shape ``links_with_batch``-style trails commit. Weight is STEP
    exponential decay: a batch of age ``a`` (= current_batch − batch)
    contributes ``cnt · 2^(−a div half_life_batches)``. Restricting decay to
    exact halvings is deliberate: the weighted count is computed as
    ``cnt << (max_halvings − halvings)`` — pure bigint, NO float anywhere —
    so partial aggregation is exact and order-independent (a float 0.5^age
    sum rounds differently per partitioning), and the decayed P(e|m) is a
    ratio of two bigints, the same cross-engine-exact shape as the
    undecayed probability tables. Batches older than ``max_halvings``
    halvings contribute zero (2^-40 of a count is noise by construction).

    Returns (mention, entity_id, w_cnt, w_total, p) where w_cnt/w_total are
    the weighted counts in units of 2^-max_halvings and p = round(w_cnt /
    w_total, 6) is the decayed P(e|m).
    """
    from pyspark.sql import Window

    # halvings = age div half_life in INTEGER division, clamped to
    # [0, max_halvings + 1]. The floor at 0 matters: a batch stamped AFTER
    # current_batch (clock skew, concurrent writer) must weigh like the
    # current batch — a negative k would push the shift count past 40 and
    # the JVM masks shift counts to 6 bits, silently over- or UNDER-
    # weighting future rows by up to 2^24 either way.
    k = F.least(
        F.greatest(
            F.expr(f"({current_batch}L - batch) div {half_life_batches}L"),
            F.lit(0).cast("long"),
        ),
        F.lit(max_halvings + 1).cast("long"),
    )
    # weight in 2^-max_halvings units; ages beyond max_halvings -> 0
    w = F.when(
        k <= max_halvings,
        F.col("cnt").cast("long")
        * F.expr(f"shiftleft(1L, cast({max_halvings} as int) - cast(_k as int))"),
    ).otherwise(F.lit(0).cast("long"))
    rows = (
        batched_anchors.withColumn("_k", k)
        .withColumn("_w", w)
        .groupBy("mention", "entity_id")
        .agg(F.sum("_w").alias("w_cnt"))
    )
    tot = Window.partitionBy("mention")
    return rows.select(
        "mention",
        "entity_id",
        "w_cnt",
        F.sum("w_cnt").over(tot).alias("w_total"),
    ).where(F.col("w_total") > 0).select(
        "mention",
        "entity_id",
        "w_cnt",
        "w_total",
        F.round(F.col("w_cnt") / F.col("w_total"), 6).alias("p"),
    )
