"""End-to-end corpus curation plan: the operators a 100 TB training-data
pipeline chains before any model sees a byte.

Composes the individually oracle-checked operators into one declarative
plan over a documents table:

  1. exact dedup         — keep the min-id copy of byte-identical docs
  2. quality gate        — drop docs below a quality_score threshold
  2b. repetition gate    — drop docs above Gopher-style dup-line /
                           top-bigram fractions (optional)
  3. MinHash-LSH near-dup — drop the larger-id side of each verified pair
  4. decontamination     — drop docs sharing n-grams with a held-out set
  5. PII redaction       — scrub emails/phones from the survivors (optional)

Architecture: every stage contributes to ONE narrow drop-list
``(doc_id, stage)`` — stages run on the survivors of the previous stage, so
each doc appears at most once, labeled by the first stage that dropped it.
The survivor set is a single anti-join of the corpus against that list, and
the audit is a per-stage count over the SAME list — so materializing
(kept, audit) computes each expensive stage (LSH band join, contamination
join) exactly once when the list is checkpointed (it is id+stage only — a few
bytes per dropped doc). Nothing per-group is ever collected: the exact-dup
path is a ``row_number`` window, not a
collect_list, so degenerate hash groups stream through their reducer.

Two structural choices are measurement-driven, not stylistic:

* ONE text pass for all gate facts — content hash, quality score, and the
  Gopher repetition signals are computed in a single narrow ``facts``
  frame, so the corpus text is read for gating exactly once and the
  exact-dup window shuffles (doc_id, hash), never text.
* Lineage TRUNCATION (``localCheckpoint``) at the two product boundaries
  (``after_quality``, ``drops``) instead of more SQL caches. Nesting
  in-memory relations is poison on this chain: each extra nested cache
  level multiplies AQE's per-query re-planning and provenance cost
  (measured: the pyramid under ``kept`` printed a 397 MB executed plan and
  cost ~50 s of DRIVER time on a 15 k-doc corpus; truncated, the same plan
  is 9 KB and kept/audit run in <1 s). The checkpointed frames are tiny
  (id+stage) or mid-chain survivors; durability across job restarts comes
  from the snapshot layer (jobs/run_curation commits drops/kept to
  snapshot tables), not from in-job checkpoint blocks.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from xlink_spark.operators import dedup as DD
from xlink_spark.operators.textstats import quality_score
from xlink_spark.plans.storage import cut, hold


def curation_drops(
    docs: DataFrame,
    eval_docs: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_quality: float = 0.2,
    max_dup_line_frac: float | None = None,
    max_top_bigram_frac: float | None = None,
    neardup_threshold: float = 0.8,
    shingle_n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    contamination_ngram: int = 13,
    contamination_min_hits: int = 1,
) -> tuple[DataFrame, list[str]]:
    """The chained drop-list: ``((doc_id, stage), stage_names)``.

    Each stage sees only the survivors of the previous stages, so a doc
    appears at most once. ``stage_names`` is the ordered list of stages that
    were active (repetition/contamination are optional), for zero-preserving
    audits.
    """
    # 1+2+2b. ONE corpus text pass computes every per-doc gate fact: the
    # content hash (exact dedup), the quality score, and — when a threshold
    # activates the repetition gate — the Gopher repetition signals. The
    # facts frame is NARROW (no text): a few dozen bytes per doc, the only
    # corpus-WIDE thing that may sit in cache. Every gate stage (exact-dup
    # window, quality filter, repetition filter) then derives from facts, so
    # the expensive text expressions run once per curation no matter how
    # many drop branches consume them — at 100 TB the corpus text is read
    # for gating exactly once, and the exact-dup window shuffles only
    # (doc_id, content_hash, quality), never text.
    rep_active = max_dup_line_frac is not None or max_top_bigram_frac is not None
    fact_cols = [
        F.md5(F.col(text_col)).alias("content_hash"),
        quality_score(text_col).alias("quality"),
    ]
    if rep_active:
        from xlink_spark.operators.textstats import (
            repetition_line_cols,
            top_bigram_frame,
        )

        # the per-row repetition signals ride the SAME projection (no extra
        # text read); only the bigram mode — a genuine grouped aggregation —
        # joins in from its own explode scan (left + coalesce: <2-token docs
        # have no bigrams)
        fact_cols += repetition_line_cols(text_col)
    facts = docs.select(F.col(id_col), *fact_cols)
    if rep_active:
        facts = facts.join(
            top_bigram_frame(docs, text_col, id_col), id_col, "left"
        ).withColumn(
            "top_bigram_frac_u", F.coalesce("top_bigram_frac_u", F.lit(0))
        )
    # Served twice: once by the after_quality anti-join legs, once by the
    # drops-union legs. It is a plain SQL cache (not a checkpoint) because
    # nothing nests UNDER it — the pyramid-poison documented in the module
    # docstring needs nested caches; one shallow cache under a truncation
    # boundary is the cheap, safe case.
    facts = hold(facts)

    w = Window.partitionBy("content_hash").orderBy(id_col)
    exact_drops = (
        facts.select(id_col, "content_hash")
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") > 1)
        .select(id_col, F.lit("exact_dup").alias("stage"))
    )
    after_exact = facts.join(exact_drops.select(id_col), id_col, "left_anti")
    low = after_exact.filter(F.col("quality") < min_quality).select(
        id_col, F.lit("low_quality").alias("stage")
    )
    stages = ["exact_dup", "low_quality"]
    parts = [exact_drops, low]

    if rep_active:
        bad = F.lit(False)
        if max_dup_line_frac is not None:
            bad = bad | (F.col("dup_line_frac_u") > int(max_dup_line_frac * 1e6))
        if max_top_bigram_frac is not None:
            bad = bad | (F.col("top_bigram_frac_u") > int(max_top_bigram_frac * 1e6))
        rep_drops = (
            after_exact.filter(F.col("quality") >= min_quality)
            .filter(bad)
            .select(id_col, F.lit("repetitive").alias("stage"))
        )
        stages.append("repetitive")
        parts.append(rep_drops)

    # the text survivors the near-dup/contamination stages chew on: ONE
    # corpus scan anti-joined against the (tiny, facts-derived) gate drops.
    # TRUNCATED, not cached: the shingle scan and the contamination branch
    # both read the stored blocks, and everything downstream plans against
    # a flat scan instead of the facts pyramid (see module docstring).
    gate_dropped = reduce(DataFrame.unionByName, parts).select(id_col)
    after_quality = cut(docs.join(gate_dropped, id_col, "left_anti"), eager=False)

    # 3. near-dup: banded-LSH pairs (cap active), larger id loses
    pairs = DD.minhash_dedup(
        after_quality,
        text_col,
        id_col,
        shingle_n=shingle_n,
        num_hashes=num_hashes,
        bands=bands,
        threshold=neardup_threshold,
    )
    near_drops = (
        pairs.select(F.col("doc_b").alias(id_col))
        .distinct()
        .select(id_col, F.lit("near_dup").alias("stage"))
    )
    if eval_docs is not None:
        # near_drops feeds BOTH the drop-list union and (through after_near)
        # the contamination branch; Spark shares no common subplans across
        # union legs, so without this persist the LSH band join + Jaccard
        # verify — the most expensive shuffles in the chain — would execute
        # twice in the first materialization. The list is id-only (tiny).
        near_drops = hold(near_drops)
    stages.append("near_dup")
    parts.append(near_drops)

    # 4. decontamination vs the held-out set (broadcast eval shingles)
    if eval_docs is not None:
        after_near = after_quality.join(
            near_drops.select(id_col), id_col, "left_anti"
        )
        contaminated = DD.contamination_hits(
            after_near, eval_docs, text_col, id_col,
            ngram=contamination_ngram, min_hits=contamination_min_hits,
        ).select(id_col, F.lit("contaminated").alias("stage"))
        stages.append("contaminated")
        parts.append(contaminated)

    return reduce(DataFrame.unionByName, parts), stages


def curate_corpus(
    docs: DataFrame,
    eval_docs: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_quality: float = 0.2,
    max_dup_line_frac: float | None = None,
    max_top_bigram_frac: float | None = None,
    redact: bool = False,
    neardup_threshold: float = 0.8,
    shingle_n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    contamination_ngram: int = 13,
    contamination_min_hits: int = 1,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Chain dedup → quality → near-dup → decontamination over ``docs``.

    Returns ``(kept, audit, drops)``:

    * ``kept`` — the surviving rows with a ``quality`` column attached (and,
      with ``redact=True``, PII-scrubbed ``text`` plus n_emails/n_phones);
    * ``audit`` — one row per active stage (stage, n_dropped), zero counts
      included;
    * ``drops`` — the (doc_id, stage) list itself, for per-doc accounting.

    ``kept`` and ``audit`` both derive from the single ``drops`` list, so
    the expensive stages (LSH band join, contamination join) run ONCE no
    matter how many of the three outputs are materialized: ``drops`` is
    lineage-truncated (localCheckpoint, id+stage only). The cached and
    checkpointed frames belong to the caller's storage scope
    (``plans/storage``): materialize every output before it is released.
    """
    drops, stages = curation_drops(
        docs,
        eval_docs,
        text_col,
        id_col,
        min_quality=min_quality,
        max_dup_line_frac=max_dup_line_frac,
        max_top_bigram_frac=max_top_bigram_frac,
        neardup_threshold=neardup_threshold,
        shingle_n=shingle_n,
        num_hashes=num_hashes,
        bands=bands,
        contamination_ngram=contamination_ngram,
        contamination_min_hits=contamination_min_hits,
    )
    # the stage-wise union stacks partitions (n_stages × input parts);
    # coalesce the narrow id+stage list back to the session's parallelism —
    # merges map work, no extra shuffle. Then TRUNCATE: kept and audit need
    # the list's VALUES, not its lineage, and a cached (rather than
    # checkpointed) drop list would nest the whole five-stage pyramid into
    # every downstream plan (module docstring).
    par = docs.sparkSession.sparkContext.defaultParallelism
    drops = cut(drops.coalesce(max(par, 1)), eager=False)

    kept = docs.join(drops.select(id_col), id_col, "left_anti").withColumn(
        "quality", quality_score(text_col)
    )

    # 5. PII scrub on the survivors only (no wasted work on dropped docs)
    if redact:
        from xlink_spark.operators.textstats import redact_pii

        pii = redact_pii(kept, text_col, id_col)
        kept = (
            kept.drop(text_col)
            .join(pii, id_col)
            .withColumnRenamed("redacted", text_col)
        )

    audit_parts = [
        drops.filter(F.col("stage") == s)
        .agg(F.count(F.lit(1)).alias("n_dropped"))
        .select(F.lit(s).alias("stage"), "n_dropped")
        for s in stages
    ]
    audit = reduce(DataFrame.unionByName, audit_parts)
    return kept, audit, drops
