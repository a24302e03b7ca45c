"""CEAF — Constrained Entity-Alignment F-measure (Luo, EMNLP 2005): the
seventh cluster gauge, completing the canonical coreference/ER quartet
(MUC / B³ / CEAF / BLANC) the family already carries alongside pairwise
F1, ARI, and V-measure.

Where MUC counts merge links and B³ averages over items, CEAF first finds
the OPTIMAL one-to-one alignment between gold (key) clusters and predicted
(response) clusters, then scores only aligned mass — so a system cannot
farm credit by letting one response cluster overlap many keys (B³'s known
inflation) or by shattering (MUC's blindness). Two published similarities:

    φ3(K, R) = |K ∩ R|                    → mention-based CEAF_m
    φ4(K, R) = 2|K ∩ R| / (|K| + |R|)     → entity-based CEAF_e

    CEAF_m: P = R = Φ(g*) / n_items (fully-labeled input)
    CEAF_e: P = Φ(g*) / #response clusters, R = Φ(g*) / #key clusters

The alignment g* maximizes Σφ over a one-to-one matching — an assignment
problem. The engine-friendly observation: φ is nonzero ONLY on overlapping
(key, response) pairs, so the optimum decomposes over connected components
of the bipartite cluster-overlap graph, and a good clustering's components
are tiny (a perfect one's are 1×1). Distributed shape:

1. contingency cells (pred, gold, n_pg) with marginal sizes and per-cluster
   cell counts — the closed-form gauges' table (eval/bcubed.py). A cell
   that is the only cell of both its clusters (parts_p = parts_g = 1) is an
   isolated 1×1 component whose optimum is the cell itself (w3 = n_pg,
   w4 = floor(2·n_pg·10⁶ / (n_p + n_g))). ONE driver action returns the
   counts, these trivial sums and the number of ENTANGLED cells (the rest);
   steps 2-3 run over the entangled cells only, and not at all when there
   are none — a perfect clustering costs one aggregation;
2. bipartite connected components over DISTINCT cluster pairs via the
   existing large-star/small-star operator (cluster.connected_components),
   node-encoded 2·pred / 2·gold+1 (labels must be bigints, |label| < 2⁶²);
3. per component, an exact subset-DP over response-cluster bitmasks:
   gold clusters are ranked 0..k−1 (dense_rank per component — skew-safe,
   components are bounded by the guards below), response clusters get bit
   positions, and level i states (component, mask, best3, best4) either
   skip gold cluster i or match it to an unused response cluster. Each
   level is one equi-join + groupBy-max — millions of components proceed
   in parallel, the driver loop runs max-gold-per-component levels (the
   connected-components precedent), lineage truncated via localCheckpoint.
   Both φ totals ride ONE loop: per-(component, mask) max distributes over
   each weight column independently, so two DPs share every shuffle.

The totals are the trivial sums plus the DP optimum of the entangled
components — the optimum decomposes over components, so this equals the
DP over all of them by construction.

Exactness: φ3 is a pure bigint count; φ4 is the documented floor-micro
sum — each edge carries floor(2·n_pg·10⁶ / (n_p + n_g)) and the DP
maximizes the SUM OF FLOORS, bit-identical on any engine (the B³ / MUC /
BLANC convention; the maximum of identical integer path sums is unique
even when the argmax alignment is not). P/R/F are single integer
divisions of the exact totals.

Guards (exact DP, exponential in component width): components wider than
``max_pred_per_component`` response clusters (bitmask bound 62) or taller
than ``max_gold_per_component`` gold clusters raise ValueError — at that
entanglement CEAF's alignment is ill-conditioned anyway; run over a
deterministic hash-sample (operators/sampling.py), the family's documented
fallback. A 1×1 component spans one cluster per side; the entangled
widths share the one tiny driver action the level loop already needs (the
global level count).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from xlink_spark.eval.bcubed import _contingency
from xlink_spark.operators.cluster import connected_components
from xlink_spark.plans.storage import cut

_MICRO = 1_000_000


def ceaf(
    assignments: DataFrame,
    *,
    pred_col: str = "pred",
    gold_col: str = "gold",
    max_pred_per_component: int = 40,
    max_gold_per_component: int = 64,
    checkpoint_every: int = 4,
) -> DataFrame:
    """One-row frame of CEAF_m and CEAF_e over (pred, gold) labeled items.

    Input: one row per item with bigint predicted / gold cluster labels
    (|label| < 2⁶²; callers filter nulls first). Output columns:
    ``n_items n_pred_clusters n_gold_clusters phi3_total phi4_micro_total
    ceafm_p_micro ceafm_r_micro ceafm_f_micro ceafe_p_micro ceafe_r_micro
    ceafe_f_micro`` — micro values floor(x·10⁶) in bigint arithmetic (see
    module docstring). Empty input reports the vacuous 10⁶, the family
    convention. NOTE: unlike the closed-form gauges, plan construction
    runs Spark jobs (one over the cells, plus the component loop when a
    component is entangled — the connected_components precedent).
    """
    if max_pred_per_component > 62:
        raise ValueError("max_pred_per_component exceeds the 62-bit mask bound")
    # LAZY cut: the one action below materializes the cells, the entangled
    # pass rereads them
    cells = cut(
        _contingency(
            assignments.select(
                F.col(pred_col).cast("long").alias("_p"),
                F.col(gold_col).cast("long").alias("_g"),
            ),
            "_p",
            "_g",
        ),
        eager=False,
    )
    # a cell alone in both of its clusters is an isolated 1×1 component:
    # its optimum alignment is the cell itself
    trivial = (F.col("parts_p") == 1) & (F.col("parts_g") == 1)
    w4 = F.expr(f"2 * n_pg * {_MICRO} div (n_p + n_g)").cast("long")
    s = cells.agg(
        F.coalesce(F.sum("n_pg"), F.lit(0)).cast("long").alias("n_items"),
        F.count(F.when(F.col("first_p"), 1)).alias("n_pred_clusters"),
        F.count(F.when(F.col("first_g"), 1)).alias("n_gold_clusters"),
        F.coalesce(F.sum(F.when(trivial, F.col("n_pg"))), F.lit(0)).alias("t3"),
        F.coalesce(F.sum(F.when(trivial, w4)), F.lit(0)).alias("t4"),
        F.count(F.when(trivial, 1)).alias("n_trivial"),
        F.count(F.when(~trivial, 1)).alias("n_entangled"),
    ).collect()[0]

    # a 1×1 component spans one cluster per side
    gold_max = pred_max = min(s["n_trivial"], 1)
    if s["n_entangled"]:
        ranked, kmax, g, p = _entangled_components(
            cells.filter(~trivial).select(
                F.col("p").alias("_p"),
                F.col("g").alias("_g"),
                F.col("n_pg").cast("long").alias("w3"),
                w4.alias("w4"),
            )
        )
        gold_max, pred_max = max(gold_max, g), max(pred_max, p)
    if pred_max > max_pred_per_component:
        raise ValueError(
            f"a component spans {pred_max} response clusters "
            f"(> max_pred_per_component={max_pred_per_component}); "
            "run CEAF over a deterministic hash-sample"
        )
    if gold_max > max_gold_per_component:
        raise ValueError(
            f"a component spans {gold_max} gold clusters "
            f"(> max_gold_per_component={max_gold_per_component}); "
            "run CEAF over a deterministic hash-sample"
        )
    if s["n_entangled"]:
        opt = _subset_dp(ranked, kmax, checkpoint_every)
    else:
        opt = cells.sparkSession.range(1).select(
            F.lit(0).alias("b3"), F.lit(0).alias("b4")
        )

    _MU = F.lit(_MICRO).cast("long")

    def _micro(num: str, den: str) -> F.Column:
        return (
            F.when(F.col(den) > 0, F.expr(f"{num} div {den}"))
            .otherwise(_MU)
            .cast("long")
        )

    def _f1(p: str, r: str) -> F.Column:
        return (
            F.when(
                F.col(p) + F.col(r) > 0,
                F.expr(f"2 * {p} * {r} div ({p} + {r})"),
            )
            .otherwise(F.lit(0))
            .cast("long")
        )

    one = (
        opt.select(
            *(
                F.lit(s[c]).cast("long").alias(c)
                for c in ("n_items", "n_pred_clusters", "n_gold_clusters")
            ),
            (F.lit(s["t3"]) + F.col("b3")).cast("long").alias("phi3_total"),
            (F.lit(s["t4"]) + F.col("b4")).cast("long").alias("phi4_micro_total"),
        )
        .withColumn("_m3", (F.col("phi3_total") * _MU).cast("long"))
        .select(
            "n_items",
            "n_pred_clusters",
            "n_gold_clusters",
            "phi3_total",
            "phi4_micro_total",
            _micro("_m3", "n_items").alias("ceafm_p_micro"),
            _micro("_m3", "n_items").alias("ceafm_r_micro"),
            _micro("phi4_micro_total", "n_pred_clusters").alias("ceafe_p_micro"),
            _micro("phi4_micro_total", "n_gold_clusters").alias("ceafe_r_micro"),
        )
    )
    return one.select(
        "*",
        _f1("ceafm_p_micro", "ceafm_r_micro").alias("ceafm_f_micro"),
        _f1("ceafe_p_micro", "ceafe_r_micro").alias("ceafe_f_micro"),
    )


def _entangled_components(
    wcell: DataFrame,
) -> tuple[DataFrame, int, int, int]:
    """(_p, _g, w3, w4) cells of entangled components → the cut, ranked
    DP input (component, _flip, li, mbit, w3, w4), the oriented level count
    and the widest component's gold and response cluster counts."""
    # bipartite overlap components over DISTINCT cluster pairs — the graph
    # is cluster-grain (≤ one node per cluster), not item-grain
    edges = wcell.select(
        (F.col("_p") * 2).alias("src"), (F.col("_g") * 2 + 1).alias("dst")
    )
    comp = connected_components(edges)
    cc = wcell.join(
        comp.filter(F.expr("node % 2 = 0")).select(
            F.expr("node div 2").cast("long").alias("_p"), "component"
        ),
        "_p",
    )

    # per-component ranks: gold clusters become DP levels, response
    # clusters become mask bits (deterministic: ordered by label).
    # dense_rank over the cell rows assigns every distinct label its
    # position in the per-component label order DIRECTLY — identical
    # values to the old row_number-over-distinct formulation, but the
    # whole ranking is ONE component-keyed exchange (three window sorts
    # over the same partitioning) instead of two distinct aggregations,
    # two windows, and two joins back onto the cells.
    wc = Window.partitionBy("component")
    ranked_pre = cc.select(
        "component",
        "_p",
        "_g",
        "w3",
        "w4",
        (F.dense_rank().over(wc.orderBy("_g")) - 1).alias("gi"),
        (F.dense_rank().over(wc.orderBy("_p")) - 1).alias("pbit"),
    ).select(
        "*",
        (F.max("gi").over(wc) + 1).alias("_kgc"),
        (F.max("pbit").over(wc) + 1).alias("_kpc"),
    )
    # per-component ORIENTATION: the assignment problem is symmetric, so
    # DP levels run over the component's SMALLER dimension and the mask
    # over the larger — a long-thin entanglement (many gold clusters
    # chained through 2-3 response clusters, the shape real ER produces)
    # costs min-side driver rounds, not max-side: at the bench fixture
    # this cuts the loop 15 levels -> 4. The side counts ride the SAME
    # per-component windows that compute the ranks (no extra pass over
    # the overlap graph); flip only under the 62-bit mask bound; the
    # ACCEPTANCE guards stay on the unflipped dimensions, so no input is
    # newly rejected.
    ranked = (
        ranked_pre
        .withColumn(
            "_flip",
            (F.col("_kpc") < F.col("_kgc")) & (F.col("_kgc") <= 62),
        )
        .select(
            "component",
            "_flip",
            F.when(F.col("_flip"), F.col("pbit")).otherwise(F.col("gi"))
            .alias("li"),
            F.when(F.col("_flip"), F.col("gi")).otherwise(F.col("pbit"))
            .alias("mbit"),
            "w3",
            "w4",
        )
    )
    # LAZY checkpoint: the stats aggregation below (the loop's one driver
    # action) materializes the blocks; each DP level then rereads them
    ranked = cut(ranked, eager=False)

    # ONE tiny driver action on the checkpointed frame: the oriented
    # level count plus the widths the guards check (on the UNFLIPPED dims —
    # unchanged acceptance; levels on the oriented ones)
    st = (
        ranked.groupBy("component", "_flip")
        .agg(F.max("li").alias("kl"), F.max("mbit").alias("km"))
        .agg(
            F.max("kl").alias("kl"),
            F.max(
                F.when(F.col("_flip"), F.col("km")).otherwise(F.col("kl"))
            ).alias("kg0"),
            F.max(
                F.when(F.col("_flip"), F.col("kl")).otherwise(F.col("km"))
            ).alias("kp0"),
        )
        .collect()[0]
    )
    return ranked, st["kl"] + 1, st["kg0"] + 1, st["kp0"] + 1


def _subset_dp(ranked: DataFrame, kmax: int, checkpoint_every: int) -> DataFrame:
    """The one-row (b3, b4) optimum of the ranked entangled components:
    the per-component maxima of both φ totals, summed."""
    # subset-DP, both φ totals on one state table: per-(component, mask)
    # max distributes over each weight column independently
    dp = (
        ranked.select("component")
        .distinct()
        .select(
            "component",
            F.lit(0).cast("long").alias("mask"),
            F.lit(0).cast("long").alias("best3"),
            F.lit(0).cast("long").alias("best4"),
        )
    )
    bit = "shiftleft(cast(1 as bigint), mbit)"
    for i in range(kmax):
        lvl = ranked.filter(F.col("li") == i).select(
            "component", "mbit", "w3", "w4"
        )
        matched = (
            dp.join(lvl, "component")
            .filter(F.expr(f"(mask & {bit}) = 0"))
            .select(
                "component",
                F.expr(f"mask | {bit}").alias("mask"),
                (F.col("best3") + F.col("w3")).alias("best3"),
                (F.col("best4") + F.col("w4")).alias("best4"),
            )
        )
        # skip option = the untouched dp rows riding the union
        dp = (
            dp.unionByName(matched)
            .groupBy("component", "mask")
            .agg(F.max("best3").alias("best3"), F.max("best4").alias("best4"))
        )
        if (i + 1) % checkpoint_every == 0:
            # LAZY: truncates the plan for the levels above (planning cost
            # stays O(checkpoint_every) deep) while execution defers to the
            # single final aggregation — the whole subset-DP runs as ONE
            # Spark job instead of one per checkpoint interval
            dp = cut(dp, eager=False)

    per_comp = dp.groupBy("component").agg(
        F.max("best3").alias("b3"), F.max("best4").alias("b4")
    )
    return per_comp.agg(
        F.coalesce(F.sum("b3"), F.lit(0)).alias("b3"),
        F.coalesce(F.sum("b4"), F.lit(0)).alias("b4"),
    )
