"""Data-driven skew planning for joins and blocking.

A FIXED replication factor over a hand-picked hot-key list does not scale:
at 10^12 documents the hot set and the right split per key are data, not
configuration — a country-name anchor may need 500 salt buckets while a
merely-warm surface needs 3. This module derives such plans from observed
counts:

* ``join_salt_plan`` — per-key estimated join output = n_probe · n_build
  (the actual cost a reducer pays for that key, not either side's count
  alone); keys whose estimate exceeds ``target_rows_per_task`` get
  ``salt_factor = ceil(est / target)``. Two map-side-combinable counts and
  one narrow (key, count) join — never touches the wide rows. The plan is
  a report (the ``skew_salt_plan`` query): the linking joins themselves rely on
  AQE's skew-join splitting (session.py), which needs no plan.

The second half of the module load-balances the COMPARISON space of
key-equality blocking (pair generation within blocks, the quadratic
regime) rather than a probe×build join: ``block_split_plan`` /
``block_split_pairs`` implement BlockSplit (Kolb, Thor & Rahm, ICDE
2012 — the Dedoop load balancer), cutting each block's C(n,2)
comparisons into rank-chunk tasks bounded by a per-task target while
provably preserving the exact pair set.

Reference anchor: the skew this guards against is XLink's mention_anchors
fan-out (high-frequency anchors, e.g. country names — README.md:32-36's
P(e|m) table head); the reference never meets it because it links one
document at a time in Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def join_salt_plan(
    probe: DataFrame,
    build: DataFrame,
    key_col: str = "key",
    target_rows_per_task: int = 1_000_000,
) -> DataFrame:
    """(key, n_probe, n_build, est_rows, salt_factor) for skewed join keys.

    ``est_rows = n_probe · n_build`` is that key's share of the join
    output; ``salt_factor = ceil(est_rows / target_rows_per_task)``,
    emitted only where it is ≥ 2 (cold keys need no entry). Pure integer
    arithmetic — ceil as ``(a + t − 1) div t`` — so an independent engine
    reproduces the plan bit-for-bit. Overflow bound: n_probe · n_build
    < 2⁶³ holds through ~3·10⁹ rows per side per key.
    """
    pc = (
        probe.select(F.col(key_col).alias("key"))
        .groupBy("key")
        .agg(F.count(F.lit(1)).alias("n_probe"))
    )
    bc = (
        build.select(F.col(key_col).alias("key"))
        .groupBy("key")
        .agg(F.count(F.lit(1)).alias("n_build"))
    )
    t = int(target_rows_per_task)
    return (
        pc.join(bc, "key", "inner")
        .withColumn("est_rows", F.expr("n_probe * n_build"))
        .withColumn(
            "salt_factor",
            F.expr(f"(est_rows + {t} - 1) div {t}").cast("long"),
        )
        .filter(F.col("salt_factor") >= 2)
    )


def _chunk_width(max_pairs_per_task: int) -> int:
    """Chunk width s = isqrt(t): the largest width whose cross task
    (s x s comparisons) stays within the target; the self task's
    C(s,2) = s(s-1)/2 <= s*s <= t follows for free."""
    import math

    t = int(max_pairs_per_task)
    if t < 1:
        raise ValueError("max_pairs_per_task must be >= 1")
    return max(1, math.isqrt(t))


def block_split_plan(
    records: DataFrame,
    block_col: str = "block",
    id_col: str = "id",
    *,
    max_pairs_per_task: int = 1_000_000,
) -> DataFrame:
    """BlockSplit comparison-space plan (Kolb, Thor & Rahm, ICDE 2012 —
    Dedoop's load balancer): per blocking key, how the within-block
    quadratic is cut into bounded, evenly-sized reducer tasks.

    Plain key-equality blocking sends block B's full C(n,2) comparison
    space to ONE reducer — at 10^12 records a head block (a country name,
    a common surname) is a straggler that outlives the rest of the stage
    by hours. BlockSplit splits each block's members into k chunks of
    width ``s = isqrt(max_pairs_per_task)`` by rank order and turns the
    quadratic into k self tasks (chunk i vs itself) plus C(k,2) cross
    tasks (chunk i vs chunk j), each bounded by s*s <= t comparisons and
    each landing on its OWN reducer key — the pair set is provably
    unchanged (every unordered pair belongs to exactly one task, the one
    keyed by its two chunk indices).

    Returns one row per block, all exact bigint arithmetic so an
    independent engine reproduces the plan bit-for-bit:
    (block, n, pairs_total, chunk_width, k_chunks, n_tasks,
    max_task_pairs) where ``max_task_pairs`` accounts exactly for the
    ragged last chunk of width r = n - (k-1)s:

    * k = 1: the degenerate single task, C(n,2);
    * k = 2: max(C(s,2), s*r) — one full self task, one cross;
    * k >= 3: s*s — some full-by-full cross task always exists.
    """
    s = _chunk_width(max_pairs_per_task)
    sizes = (
        records.select(F.col(block_col).alias("block"))
        .groupBy("block")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    return (
        sizes.withColumn("pairs_total", F.expr("n * (n - 1) div 2"))
        .withColumn("chunk_width", F.lit(s).cast("long"))
        .withColumn("k_chunks", F.expr(f"(n + {s} - 1) div {s}"))
        .withColumn("n_tasks", F.expr("k_chunks * (k_chunks + 1) div 2"))
        .withColumn(
            "max_task_pairs",
            F.expr(
                f"case when k_chunks = 1 then n * (n - 1) div 2 "
                f"when k_chunks = 2 then greatest("
                f"  {s} * ({s} - 1) div 2, {s} * (n - {s})) "
                f"else {s} * {s} end"
            ).cast("long"),
        )
    )


def block_split_pairs(
    records: DataFrame,
    block_col: str = "block",
    id_col: str = "id",
    *,
    max_pairs_per_task: int = 1_000_000,
    num_partitions: int | None = None,
) -> DataFrame:
    """Within-block candidate pairs via BlockSplit load balancing (Kolb,
    Thor & Rahm, ICDE 2012): the exact pair set of the naive within-block
    self-join, re-keyed so no reducer owns more than
    ``max_pairs_per_task`` comparisons.

    Mechanics (all layout-independent exact integers):

    1. rank rows within each block by ``id_col`` (row_number — ids are
       unique, so ranks are total and deterministic);
    2. chunk c = (rank-1) div s with s = isqrt(t); block B has
       k = ceil(n/s) chunks;
    3. every row replicates to its k tasks — (c,c) plus (c,j) for j>c
       plus (i,c) for i<c — via one sequence explode: for x in 0..k-1
       the task is (least(c,x), greatest(c,x));
    4. the pair join is keyed on (block, task_i, task_j): the A side
       contributes rows whose chunk equals task_i, the B side rows whose
       chunk equals task_j, self tasks additionally require
       rank_a < rank_b. Chunks are rank ranges, so id_a < id_b holds
       everywhere and each unordered pair is emitted exactly once — by
       the single task its two chunk indices name.

    Scale shape: a head block of n rows costs k-fold row replication
    (narrow (block, id, rank) rows only) and spreads its C(n,2)
    comparisons over k(k+1)/2 reducer keys, each <= t — the straggler
    becomes ceil-even parallel work. Cold blocks (n <= s) keep k = 1 and
    degrade to the plain join with zero extra replication.

    Returns (id_a, id_b, block, task_i, task_j).

    The pair join is EXPLICITLY repartitioned on (block, task_i, task_j)
    with ``num_partitions`` (default: the session's
    ``spark.sql.shuffle.partitions``) — load balancing that AQE cannot
    undo. Without it, adaptive coalescing sees a few MB of candidate
    INPUT and merges the exchange down to one partition, oblivious to
    the join's quadratic OUTPUT, and the whole comparison space lands
    back on a single core (measured on a planted 50k-row head block:
    90.3s coalesced vs 5.4s repartitioned vs 37.5s for the one-task
    naive join — the explicit repartition is the difference between
    BlockSplit helping 7x and hurting 2.4x).
    """
    s = _chunk_width(max_pairs_per_task)
    rows = records.select(
        F.col(block_col).alias("block"), F.col(id_col).alias("_id")
    )
    sizes = rows.groupBy("block").agg(F.count(F.lit(1)).alias("_n"))
    ranked = (
        rows.withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy("block").orderBy("_id")
            ),
        )
        .withColumn("_c", F.expr(f"(_rn - 1) div {s}"))
        .join(sizes, "block")
        .withColumn("_k", F.expr(f"(_n + {s} - 1) div {s}"))
    )
    exploded = ranked.select(
        "block",
        "_id",
        "_rn",
        "_c",
        F.explode(F.sequence(F.lit(0), F.col("_k") - 1)).alias("_x"),
    ).select(
        "block",
        "_id",
        "_rn",
        "_c",
        F.least("_c", "_x").alias("task_i"),
        F.greatest("_c", "_x").alias("task_j"),
    )
    if num_partitions is None:
        num_partitions = int(
            records.sparkSession.conf.get("spark.sql.shuffle.partitions")
        )
    a = exploded.filter(F.col("_c") == F.col("task_i")).select(
        "block",
        "task_i",
        "task_j",
        F.col("_id").alias("id_a"),
        F.col("_rn").alias("_rn_a"),
    ).repartition(int(num_partitions), "block", "task_i", "task_j")
    b = exploded.filter(F.col("_c") == F.col("task_j")).select(
        "block",
        "task_i",
        "task_j",
        F.col("_id").alias("id_b"),
        F.col("_rn").alias("_rn_b"),
    ).repartition(int(num_partitions), "block", "task_i", "task_j")
    return (
        a.join(b, ["block", "task_i", "task_j"])
        .filter(
            (F.col("task_i") < F.col("task_j"))
            | (F.col("_rn_a") < F.col("_rn_b"))
        )
        .select("id_a", "id_b", "block", "task_i", "task_j")
    )
