"""Entity relatedness (Milne-Witten) + collective coherence reranking.

The reference scores every mention locally — prior × context similarity
(xlink.py:147-176) — and exposes the link graph only as a CLI lookup
(get_in_links.py:5-19). The classic upgrade a record-linkage user asks for
next is *collective* linking: prefer the candidate that is RELATED to what
the rest of the document resolved to. This module adds the two halves as
pure-JVM DataFrame operators:

* ``entity_relatedness`` — the Milne-Witten Wikipedia-Link-based Measure
  over a (doc_id, entity_id) link table::

      sr(a, b) = 1 − (ln max(|A|,|B|) − ln |A∩B|) / (ln N − ln min(|A|,|B|))

  where A, B are the entities' in-link doc sets and N the linking-doc
  universe. Emitted as ``rel_micro = floor(1e6 · max(sr, 0))`` (bigint) —
  ln() is the one float step, made cross-engine portable by the
  floor-to-micro quantization (the PSI-drift / BM25 precedent) and guarded
  by the measured-margin protocol before any oracle ships. Negative sr
  clamps to an EXACT 0.0 on every engine, so the boundary is safe by
  construction.

* ``coherence_rerank`` — one collective iteration: each candidate's local
  score is fused with its mean relatedness to the OTHER mentions' current
  top-1 entities in the same document. With scores carried as micro-unit
  bigints and the pool identical for every candidate of a mention, the
  fused ranking key is the EXACT integer

      score = believe_micro · max(pool_n, 1) + Σ rel_micro(cand, pool)

  (rank-equivalent to believe + mean-coherence at equal weight, scaled by
  the mention-constant pool_n) — no float ever enters the comparison, so
  the rerank is bit-identical across engines and partitionings. Ties break
  on entity_id.

Scale shape (10^12 docs): the relatedness pair generation is a self-join
on doc_id, so its fan-out is Σ_d degree(d)² — bounded by ``max_doc_degree``
(hub documents that link everything carry no discriminative signal; capping
them is standard WLM practice). ``min_cooccur`` prunes the long tail of
one-off pairs before the pair table ever materializes. N rides a one-row
aggregate broadcast (action-free planning). The rerank joins candidates to
a ≤``max_pool``-row per-doc pool (top mentions by local score), then
equi-joins the (a, b)-keyed relatedness table — candidate rows fan out by
at most max_pool, vectors and text never ride any shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from xlink_spark.plans.storage import cut

MICRO = 1_000_000


def entity_relatedness(
    links: DataFrame,
    *,
    min_cooccur: int = 2,
    max_doc_degree: int | None = None,
    materialize: bool = False,
) -> DataFrame:
    """Milne-Witten relatedness over a (doc_id, entity_id) link table.

    Returns (entity_a, entity_b, n_a, n_b, n_ab, rel_micro) with
    entity_a < entity_b, one row per co-linked pair seen in ≥ min_cooccur
    docs. ``max_doc_degree`` drops documents linking more than that many
    entities BEFORE pair generation (the degree² fan-out guard).

    The distinct link table feeds FOUR consumers (the in-link counts, the
    doc universe, and both self-join sides); ``materialize=True``
    eager-checkpoints it so the caller's upstream (typically a detection
    scan + ranking window) runs once instead of four times — the
    vector_blocking_pairs contract. Default False keeps plan construction
    action-free.
    """
    ln = links.select("doc_id", "entity_id").distinct()
    if max_doc_degree is not None:
        deg = Window.partitionBy("doc_id")
        ln = (
            ln.withColumn("_deg", F.count(F.lit(1)).over(deg))
            .filter(F.col("_deg") <= F.lit(int(max_doc_degree)))
            .drop("_deg")
        )
    if materialize:
        ln = cut(ln, eager=True)
    cnt = ln.groupBy("entity_id").agg(F.count(F.lit(1)).alias("n_in"))
    n_docs = ln.agg(F.count_distinct("doc_id").alias("n_docs"))
    a = ln.select("doc_id", F.col("entity_id").alias("entity_a"))
    b = ln.select("doc_id", F.col("entity_id").alias("entity_b"))
    pairs = (
        a.join(b, "doc_id")
        .filter(F.col("entity_a") < F.col("entity_b"))
        .groupBy("entity_a", "entity_b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .filter(F.col("n_ab") >= F.lit(int(min_cooccur)))
    )
    ca = cnt.select(F.col("entity_id").alias("entity_a"), F.col("n_in").alias("n_a"))
    cb = cnt.select(F.col("entity_id").alias("entity_b"), F.col("n_in").alias("n_b"))
    mx = F.greatest("n_a", "n_b")
    mn = F.least("n_a", "n_b")
    sr = F.lit(1.0) - (F.log(mx) - F.log("n_ab")) / (F.log("n_docs") - F.log(mn))
    return (
        pairs.join(ca, "entity_a")
        .join(cb, "entity_b")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "entity_a",
            "entity_b",
            "n_a",
            "n_b",
            "n_ab",
            F.when(
                # degenerate denominator: an entity linked from EVERY doc
                # (ln N − ln min = 0). sr is 1 iff the pair's sets coincide
                # (n_ab = max), else the hub carries no signal → 0.
                F.col("n_docs") == mn,
                F.when(F.col("n_ab") == mx, F.lit(MICRO)).otherwise(F.lit(0)),
            )
            .otherwise(F.floor(F.lit(float(MICRO)) * F.greatest(sr, F.lit(0.0))))
            .cast("long")
            .alias("rel_micro"),
        )
    )


def coherence_rerank(
    candidates: DataFrame,
    relatedness: DataFrame,
    *,
    max_pool: int | None = None,
) -> DataFrame:
    """One collective-linking iteration over local candidate scores.

    ``candidates``: (doc_id, start, end, entity_id, believe_micro) — every
    surviving candidate per mention with its LOCAL score in micro-units.
    ``relatedness``: (entity_a, entity_b, rel_micro) with entity_a <
    entity_b (``entity_relatedness`` output; extra columns ignored).

    Pool = each OTHER mention's local top-1 entity in the same doc (top
    ``max_pool`` mentions by local score when set — the per-doc fan-out
    cap). Returns one row per mention: the candidate maximizing
    believe_micro·max(pool_n,1) + Σ rel_micro against the pool, ties on
    entity_id ascending; pool_n and coherence_sum are kept for audit.
    """
    cand = candidates.select(
        "doc_id", "start", "end", "entity_id", "believe_micro"
    )
    m_win = Window.partitionBy("doc_id", "start", "end").orderBy(
        F.col("believe_micro").desc(), F.col("entity_id").asc()
    )
    winners = cand.withColumn("_rn", F.row_number().over(m_win)).filter(
        F.col("_rn") == 1
    )
    return _rerank_against_pool(cand, winners, relatedness, max_pool)


def _rerank_against_pool(
    cand: DataFrame,
    winners: DataFrame,
    relatedness: DataFrame,
    max_pool: int | None,
) -> DataFrame:
    """Score every candidate against a pool built from ``winners`` (one row
    per mention: doc_id, start, end, entity_id, believe_micro) and pick the
    per-mention argmax. Shared by the single-round rerank (winners = local
    top-1) and the fixed-round iteration (winners = previous round)."""
    pool = winners.select(
        "doc_id",
        F.col("start").alias("p_start"),
        F.col("end").alias("p_end"),
        F.col("entity_id").alias("p_entity"),
        "believe_micro",
    )
    if max_pool is not None:
        d_win = Window.partitionBy("doc_id").orderBy(
            F.col("believe_micro").desc(),
            F.col("p_start").asc(),
            F.col("p_end").asc(),
        )
        pool = (
            pool.withColumn("_dr", F.row_number().over(d_win))
            .filter(F.col("_dr") <= F.lit(int(max_pool)))
            .drop("_dr")
        )
    pool = pool.drop("believe_micro").withColumnRenamed("doc_id", "p_doc_id")
    rel = relatedness.select("entity_a", "entity_b", "rel_micro")
    # Self-exclusion lives INSIDE the left-join condition: a single-mention
    # doc keeps its candidates with a null pool row (pool_n 0) instead of
    # losing the mention to a post-join filter (the coarse-cell row-loss
    # class from the round-4 advice).
    paired = (
        cand.join(
            pool,
            (F.col("doc_id") == F.col("p_doc_id"))
            & (
                (F.col("p_start") != F.col("start"))
                | (F.col("p_end") != F.col("end"))
            ),
            "left",
        )
        .drop("p_doc_id")
        .join(
            rel,
            (F.least("entity_id", "p_entity") == F.col("entity_a"))
            & (F.greatest("entity_id", "p_entity") == F.col("entity_b")),
            "left",
        )
    )
    scored = (
        paired.groupBy("doc_id", "start", "end", "entity_id", "believe_micro")
        .agg(
            F.count("p_entity").alias("pool_n"),
            F.sum(F.coalesce("rel_micro", F.lit(0))).alias("coherence_sum"),
        )
        .withColumn(
            "score",
            F.col("believe_micro") * F.greatest("pool_n", F.lit(1))
            + F.col("coherence_sum"),
        )
    )
    s_win = Window.partitionBy("doc_id", "start", "end").orderBy(
        F.col("score").desc(), F.col("entity_id").asc()
    )
    return (
        scored.withColumn("_rn", F.row_number().over(s_win))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def coherence_iterate(
    candidates: DataFrame,
    relatedness: DataFrame,
    *,
    rounds: int = 2,
    max_pool: int | None = None,
) -> DataFrame:
    """Fixed-round collective linking: round 1 is ``coherence_rerank``
    (pool = local top-1), every later round rebuilds the pool from the
    PREVIOUS round's winners and rescores all candidates against it — the
    classic iterated-conditional-modes refinement over the document's
    entity assignment. Each round is the same all-bigint ranking, so any
    fixed round count is bit-stable across engines and partitionings
    (no convergence test — a float-free, engine-exact stopping rule).
    Returns the final round's winners with pool_n/coherence_sum/score."""
    if rounds < 1:
        raise ValueError("rounds must be >= 1")
    cand = candidates.select(
        "doc_id", "start", "end", "entity_id", "believe_micro"
    )
    won = coherence_rerank(cand, relatedness, max_pool=max_pool)
    for _ in range(int(rounds) - 1):
        winners = won.select(
            "doc_id", "start", "end", "entity_id", "believe_micro"
        )
        won = _rerank_against_pool(cand, winners, relatedness, max_pool)
    return won
