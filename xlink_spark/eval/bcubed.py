"""The closed-form cluster gauges: B³, MUC, BLANC, ARI and V-measure.

The reference evaluates mention-level micro F1 only
(MentionParsingEval.py:12-69); an entity-resolution engine whose final
product is transitive CLUSTERS (north rule: blocking → pairwise scoring →
transitive clustering) needs cluster-grain gauges too. B³ (Bagga & Baldwin
1998) is item-averaged: B³-precision(i) = |pred(i) ∩ gold(i)| / |pred(i)|,
B³-recall(i) swaps the denominator, and the reported numbers are the means
over items.

Scale shape — one contingency pass for all five gauges. Every one of them
is a function of the (pred=p, gold=g) contingency cells alone: a cell of
size n_pg knows its pred-cluster size n_p, its gold-cluster size n_g and
the number of cells parts_p / parts_g its two clusters split into, e.g.

    B³P = (1/N) Σ_cells n_pg² / n_p      B³R = (1/N) Σ_cells n_pg² / n_g

``cluster_gauges`` builds the cells with one map-side-combinable groupBy
and one window over each marginal (which also flags one cell per cluster,
so per-cluster terms are summed once), then takes every sum of every gauge
from ONE aggregate over the cells; the item count N rides a broadcast
because each V-measure term divides by it. No pair or item-pair is ever
materialized, so the job is linear in records even when clusters hold 10⁶
members. ``bcubed`` / ``muc`` / ``blanc`` / ``adjusted_rand`` /
``vmeasure`` are projections of that one row, so a caller that wants
several gauges collects ``cluster_gauges`` once.

Exactness: each cell contributes floor(n_pg² · 10⁶ / n_den) in bigint
arithmetic, the contributions are summed, and the mean is one more integer
division — sum-of-floors is the DOCUMENTED semantics, bit-identical on any
engine (no float ever crosses an engine boundary). F1 is the harmonic mean
of the two floored micro values, again in integers. The bigint bound:
n_pg² · 10⁶ < 2⁶³ requires n_pg ≤ ~3·10⁶ items per contingency cell;
beyond that, run over a deterministic hash-sample (operators/sampling.py)
— the metrics are ratios of group-size moments, so they are sample-stable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

_MICRO = 1_000_000


def _contingency(assignments: DataFrame, pred_col: str, gold_col: str) -> DataFrame:
    """The (pred, gold) contingency cells ``(p, g, n_pg)`` of non-null
    labels, each with its marginal sizes ``n_p`` / ``n_g``, the number of
    cells ``parts_p`` / ``parts_g`` of its pred and gold cluster, and
    ``first_p`` / ``first_g``: true on exactly one cell of each cluster
    (the one with the smallest label on the other side)."""
    cells = assignments.groupBy(
        F.col(pred_col).alias("p"), F.col(gold_col).alias("g")
    ).agg(F.count(F.lit(1)).alias("n_pg"))
    wp, wg = Window.partitionBy("p"), Window.partitionBy("g")
    return cells.select(
        "p",
        "g",
        "n_pg",
        F.sum("n_pg").over(wp).alias("n_p"),
        F.count(F.lit(1)).over(wp).alias("parts_p"),
        (F.col("g") == F.min("g").over(wp)).alias("first_p"),
        F.sum("n_pg").over(wg).alias("n_g"),
        F.count(F.lit(1)).over(wg).alias("parts_g"),
        (F.col("p") == F.min("p").over(wg)).alias("first_g"),
    )


def cluster_gauges(
    assignments: DataFrame,
    *,
    pred_col: str = "pred",
    gold_col: str = "gold",
) -> DataFrame:
    """ONE row carrying the output columns of ``bcubed``, ``muc``,
    ``blanc``, ``adjusted_rand`` and ``vmeasure`` over (pred, gold)
    labeled items (non-null labels; callers filter first), every sum taken
    from one aggregate over the contingency cells (module docstring).
    ``n_items`` and ``n`` are both the item count; ARI's ``sum_ij`` /
    ``sum_a`` / ``sum_b`` equal BLANC's ``rc`` / ``links_pred`` /
    ``links_gold``. Empty input reports the per-gauge vacuous values."""
    cells = _contingency(assignments, pred_col, gold_col).crossJoin(
        F.broadcast(assignments.agg(F.count(F.lit(1)).alias("_n")))
    )

    def _sum(c: F.Column) -> F.Column:  # empty input ⇒ 0, not NULL
        return F.coalesce(F.sum(c), F.lit(0)).cast("long")

    def _per_cluster(side: str, c: F.Column) -> F.Column:
        return _sum(F.when(F.col(f"first_{side}"), c))

    def _c2(c: str) -> F.Column:
        return F.expr(f"({c} * ({c} - 1)) div 2")

    def _term(cnt: str, marg: str) -> F.Column:
        # floor((1e6 * cnt * ln(marg / cnt)) / n) — keep this exact
        # operation order in lockstep with the SQL oracle
        return F.floor(
            (
                F.lit(1000000.0)
                * F.col(cnt).cast("double")
                * F.log(F.col(marg).cast("double") / F.col(cnt).cast("double"))
            )
            / F.col("_n").cast("double")
        ).cast("long")

    one = cells.agg(
        _sum(F.col("n_pg")).alias("n_items"),
        F.count(F.when(F.col("first_p"), 1)).alias("n_pred_clusters"),
        F.count(F.when(F.col("first_g"), 1)).alias("n_gold_clusters"),
        _sum(F.expr(f"n_pg * n_pg * {_MICRO} div n_p")).alias("_psum"),
        _sum(F.expr(f"n_pg * n_pg * {_MICRO} div n_g")).alias("_rsum"),
        _per_cluster("g", F.col("n_g") - F.col("parts_g")).alias("muc_r_num"),
        _per_cluster("g", F.col("n_g") - F.lit(1)).alias("muc_r_den"),
        _per_cluster("p", F.col("n_p") - F.col("parts_p")).alias("muc_p_num"),
        _per_cluster("p", F.col("n_p") - F.lit(1)).alias("muc_p_den"),
        _sum(_c2("n_pg")).alias("rc"),
        _per_cluster("p", _c2("n_p")).alias("links_pred"),
        _per_cluster("g", _c2("n_g")).alias("links_gold"),
        _sum(_term("n_pg", "n_p")).alias("h_gold_given_pred_micro"),
        _per_cluster("g", _term("n_g", "_n")).alias("h_gold_micro"),
        _sum(_term("n_pg", "n_g")).alias("h_pred_given_gold_micro"),
        _per_cluster("p", _term("n_p", "_n")).alias("h_pred_micro"),
    ).select(
        "*",
        F.col("n_items").alias("n"),
        F.col("rc").alias("sum_ij"),
        F.col("links_pred").alias("sum_a"),
        F.col("links_gold").alias("sum_b"),
        F.expr("(n_items * (n_items - 1)) div 2").cast("long").alias("c2"),
    )

    _MU = F.lit(_MICRO).cast("long")

    def _micro(num: str, den: str, vacuous: F.Column) -> F.Column:
        return (
            F.when(F.expr(den) > 0, F.expr(f"{num} * {_MICRO} div ({den})"))
            .otherwise(vacuous)
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

    h = F.when(F.col("h_gold_micro") == 0, F.lit(1.0)).otherwise(
        F.lit(1.0)
        - F.col("h_gold_given_pred_micro").cast("double")
        / F.col("h_gold_micro").cast("double")
    )
    c = F.when(F.col("h_pred_micro") == 0, F.lit(1.0)).otherwise(
        F.lit(1.0)
        - F.col("h_pred_given_gold_micro").cast("double")
        / F.col("h_pred_micro").cast("double")
    )
    one = one.select(
        "*",
        F.when(F.col("n_items") > 0, F.expr("_psum div n_items"))
        .otherwise(_MU)
        .cast("long")
        .alias("bcubed_p_micro"),
        F.when(F.col("n_items") > 0, F.expr("_rsum div n_items"))
        .otherwise(_MU)
        .cast("long")
        .alias("bcubed_r_micro"),
        _micro("muc_p_num", "muc_p_den", _MU).alias("muc_p_micro"),
        _micro("muc_r_num", "muc_r_den", _MU).alias("muc_r_micro"),
        (F.lit(2) * (F.col("c2") * F.col("sum_ij") - F.col("sum_a") * F.col("sum_b")))
        .cast("long")
        .alias("ari_num"),
        (
            F.col("c2") * (F.col("sum_a") + F.col("sum_b"))
            - F.lit(2) * F.col("sum_a") * F.col("sum_b")
        )
        .cast("long")
        .alias("ari_den"),
        (F.col("c2") - F.col("links_pred") - F.col("links_gold") + F.col("rc"))
        .cast("long")
        .alias("rn"),
        h.alias("homogeneity"),
        c.alias("completeness"),
    )
    one = one.select(
        "*",
        _f1("bcubed_p_micro", "bcubed_r_micro").alias("bcubed_f_micro"),
        _f1("muc_p_micro", "muc_r_micro").alias("muc_f_micro"),
        F.when(
            F.col("ari_den") != 0,
            F.col("ari_num").cast("double") / F.col("ari_den").cast("double"),
        ).alias("ari"),
        _micro("rc", "links_pred", F.lit(0)).alias("blanc_pc_micro"),
        _micro("rc", "links_gold", F.lit(0)).alias("blanc_rc_micro"),
        # the SQL oracle spells the non-link denominators inline too
        _micro("rn", "c2 - links_pred", F.lit(0)).alias("blanc_pn_micro"),
        _micro("rn", "c2 - links_gold", F.lit(0)).alias("blanc_rn_micro"),
        F.when(
            F.col("homogeneity") + F.col("completeness") == 0, F.lit(0.0)
        )
        .otherwise(
            F.lit(2.0)
            * F.col("homogeneity")
            * F.col("completeness")
            / (F.col("homogeneity") + F.col("completeness"))
        )
        .alias("v_measure"),
    )
    one = one.select(
        "*",
        _f1("blanc_pc_micro", "blanc_rc_micro").alias("blanc_fc_micro"),
        _f1("blanc_pn_micro", "blanc_rn_micro").alias("blanc_fn_micro"),
    )
    return one.drop("_psum", "_rsum").select(
        "*",
        F.when(
            F.col("links_pred") + F.col("links_gold") == 0,
            F.col("blanc_fn_micro"),
        )
        .when(
            (F.col("c2") - F.col("links_pred"))
            + (F.col("c2") - F.col("links_gold"))
            == 0,
            F.col("blanc_fc_micro"),
        )
        .otherwise(F.expr("(blanc_fc_micro + blanc_fn_micro) div 2"))
        .cast("long")
        .alias("blanc_micro"),
    )


def bcubed(
    records: DataFrame,
    pred_col: str = "pred",
    gold_col: str = "gold",
) -> DataFrame:
    """One-row frame of B-cubed metrics over (pred, gold) labeled items.

    Input: one row per item with its predicted cluster id and gold cluster
    id (both non-null; callers filter first). Output columns:
    ``n_items n_pred_clusters n_gold_clusters bcubed_p_micro
    bcubed_r_micro bcubed_f_micro`` — all micro values floor(x·10⁶) via
    integer sum-of-floors (see module docstring). Empty input reports the
    vacuous 10⁶ for all three, mirroring eval/blocking.py's convention.
    """
    return cluster_gauges(records, pred_col=pred_col, gold_col=gold_col).select(
        "n_items",
        "n_pred_clusters",
        "n_gold_clusters",
        "bcubed_p_micro",
        "bcubed_r_micro",
        "bcubed_f_micro",
    )


def adjusted_rand(
    assignments: DataFrame,
    *,
    pred_col: str = "pred",
    gold_col: str = "gold",
) -> DataFrame:
    """Adjusted Rand Index between two clusterings of the same items —
    the chance-corrected pair-counting metric completing the cluster-gauge
    trio next to B³ (this module) and pairwise F1 (operators/linkage):
    pairwise F1 scores only LABELED candidate pairs, B³ is item-averaged;
    ARI scores ALL C(n,2) implicit pairs with agreement-by-chance removed.

    ``assignments``: one row per item with ``pred_col`` / ``gold_col``
    labels (caller resolves singleton conventions first). Returns ONE row:
    n, sum_ij = Σ_cells C(n_ij,2), sum_a / sum_b (same over pred / gold
    marginals), c2 = C(n,2), and the exact-bigint rational

        ari_num = 2 · (c2·sum_ij − sum_a·sum_b)
        ari_den = c2·(sum_a + sum_b) − 2·sum_a·sum_b

    plus ``ari`` = ari_num / ari_den as ONE double division of two exact
    bigints — correctly rounded, hence bit-identical cross-engine (NULL
    when ari_den = 0, i.e. both clusterings are all-singletons or one
    cluster covers everything on both sides — ARI is undefined there).

    Bigint bound: c2·sum_ij < 2⁶³ holds through n ≈ 3·10⁹ items; past
    that, run over a deterministic hash-sample (the metric is a ratio of
    pair-count moments, sample-stable) — the B³ precedent."""
    return cluster_gauges(
        assignments, pred_col=pred_col, gold_col=gold_col
    ).select("n", "sum_ij", "sum_a", "sum_b", "c2", "ari_num", "ari_den", "ari")


def vmeasure(
    assignments: DataFrame,
    *,
    pred_col: str = "pred",
    gold_col: str = "gold",
) -> DataFrame:
    """V-measure (Rosenberg & Hirschberg): the entropy-based cluster gauge
    completing the family — pairwise F1 (labeled pairs), B³ (item-
    averaged), ARI (all pairs, chance-corrected), V (information-
    theoretic: homogeneity × completeness).

    Every entropy is a sum of per-cell bigint micro-floors (the PSI
    precedent): term = floor(1e6 · n_cell · ln(marginal / n_cell) / N),
    written with IDENTICAL operation order in Spark and the SQL oracle —
    each term is one ln + correctly-rounded double arithmetic, so the only
    cross-engine risk is ln's ulp under the floor, margin-measured before
    the oracle ships; the bigint SUM of floors is order-independent, so
    partial aggregation never changes the result. Then

        homogeneity  h = 1 − H(gold|pred)/H(gold)   (1 when H(gold) = 0)
        completeness c = 1 − H(pred|gold)/H(pred)   (1 when H(pred) = 0)
        v            = 2hc / (h + c)                (0 when h + c = 0)

    from the exact bigint micro sums — single correctly-rounded double
    divisions, bit-identical cross-engine. ONE output row carries the four
    exact entropy sums plus the three derived doubles.

    Caveat: the H = 0 branch fires on the MICRO-FLOORED sum, so a
    near-degenerate marginal whose every term floors to zero (e.g. one
    gold class of n−1 plus a singleton at n ≈ 10⁸ — true entropy ≈ 2e-7)
    saturates h (or c) to exactly 1. Cross-engine consistent (the oracle
    floors identically); if sub-µ entropies matter, raise the µ scale."""
    return cluster_gauges(
        assignments, pred_col=pred_col, gold_col=gold_col
    ).select(
        "n",
        "h_gold_given_pred_micro",
        "h_gold_micro",
        "h_pred_given_gold_micro",
        "h_pred_micro",
        "homogeneity",
        "completeness",
        "v_measure",
    )


def muc(
    assignments: DataFrame,
    *,
    pred_col: str = "pred",
    gold_col: str = "gold",
) -> DataFrame:
    """MUC link-based precision / recall / F1 (Vilain et al. 1995) — the
    original coreference/ER cluster metric, completing the gauge family
    next to pairwise F1 (labeled pairs), B³ (item-averaged), ARI (all
    pairs, chance-corrected), and V (entropy): MUC counts the MINIMUM
    spanning links a clustering gets right, so it measures "how many merge
    decisions were correct" and — unlike B³ — is insensitive to cluster
    size imbalance (its known blind spot: it cannot reward correctly
    isolated singletons, which is why the family carries all five gauges).

        recall    = Σ_g (n_g − parts(g)) / Σ_g (n_g − 1)
        precision = Σ_p (n_p − parts(p)) / Σ_p (n_p − 1)

    where parts(g) = number of distinct pred clusters intersecting gold
    cluster g (and symmetrically for precision) — for fully-labeled input
    that is exactly the count of nonzero contingency cells in g's row.

    Exactness: the four sums are pure bigint counts (no floats anywhere);
    micro values are floor(num · 10⁶ / den) single integer divisions, and
    F1 is the harmonic mean of the two micros in integers — bit-identical
    on any engine. A zero denominator (that side is all singletons: no
    links to get right) reports the vacuous 10⁶, the module's convention."""
    return cluster_gauges(
        assignments, pred_col=pred_col, gold_col=gold_col
    ).select(
        "n_items",
        "muc_r_num",
        "muc_r_den",
        "muc_p_num",
        "muc_p_den",
        "muc_p_micro",
        "muc_r_micro",
        "muc_f_micro",
    )


def blanc(
    assignments: DataFrame,
    *,
    pred_col: str = "pred",
    gold_col: str = "gold",
) -> DataFrame:
    """BLANC (Recasens & Hovy 2011) — the bilateral Rand-index adaptation
    for coreference/ER clusters, the sixth gauge of the family (pairwise
    F1 / B³ / ARI / V / MUC / BLANC): where MUC sees only merge links and
    B³ averages over items, BLANC scores the link view BOTH ways — an F1
    over coreference links (same cluster) and an F1 over NON-links
    (different clusters), averaged — so over-merging and over-splitting
    are penalized symmetrically even when singletons dominate (MUC's
    blind spot) or one giant cluster dominates (where raw Rand saturates).

    All four pair classes come from the same contingency moments ARI
    uses (no pair is materialized; linear in items):

        rc = Σ_cells C(n_ij,2)          right coreference links
        wc = sum_a − rc                 pred links the gold splits
        wn = sum_b − rc                 gold links the pred splits
        rn = C(n,2) − sum_a − sum_b + rc   right non-links (incl./excl.)

    P_c = rc/sum_a, R_c = rc/sum_b; P_n = rn/(C(n,2)−sum_a),
    R_n = rn/(C(n,2)−sum_b); BLANC = (F_c + F_n)/2, with the paper's
    boundary conventions: when BOTH sides have no coreference links
    (all-singleton pred AND gold) BLANC = F_n alone; when both have no
    non-links (one cluster covers everything on both sides) BLANC = F_c
    alone; a one-sided zero denominator scores that component 0 (Luo et
    al. 2014 reference-implementation convention).

    Exactness: micro values are floor(num · 10⁶ / den) single bigint
    divisions, F1s harmonic in integers, BLANC one more integer mean —
    bit-identical cross-engine, no floats anywhere. Bigint bound: the
    non-link counts scale with C(n,2), so rn · 10⁶ < 2⁶³ requires
    n ≤ ~4·10⁶ items; beyond that run over a deterministic hash-sample
    (the B³/ARI precedent — every term is a ratio of pair-count moments,
    sample-stable)."""
    return cluster_gauges(
        assignments, pred_col=pred_col, gold_col=gold_col
    ).select(
        "n",
        "rc",
        "links_pred",
        "links_gold",
        "c2",
        "rn",
        "blanc_pc_micro",
        "blanc_rc_micro",
        "blanc_pn_micro",
        "blanc_rn_micro",
        "blanc_fc_micro",
        "blanc_fn_micro",
        "blanc_micro",
    )


def correlation_objective(
    assignments: DataFrame,
    edges: DataFrame,
    *,
    id_col: str = "id",
    cluster_col: str = "cluster",
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Correlation-clustering disagreement objective (Bansal, Blum &
    Chawla 2004) — the optimization-view complement of the label-view
    metrics above: given the match-edge graph, a clustering pays 1 for
    every CUT positive edge (endpoints split across clusters) and 1 for
    every MISSING negative pair (co-clustered pair with no edge). This is
    the objective pivot/KwikCluster 3-approximates and the number that
    makes the cover family comparable on equal terms: transitive CC has
    cut = 0 BY CONSTRUCTION (connected endpoints always co-cluster), so
    its whole cost is the over-merge term, while star/center/pivot trade
    cut > 0 for fewer missing pairs — the chain-merge dilemma as one
    exact integer.

    ``assignments``: (id, cluster) — total over the items of interest;
    edge endpoints absent from it are dropped from the gauge (documented,
    not silent: n_edges counts surviving edges). Self-loops and duplicate
    orientations are canonicalized away.

    Returns ONE row: (n_items, n_clusters, n_edges, intra_edges,
    intra_pairs, cut_edges, missing_edges, disagreements). Scale shape:
    intra_pairs is Σ C(n_c, 2) from cluster SIZES (map-combinable, no
    pair materialized); intra_edges is one narrow two-key join of the
    edge list against the assignment table; everything else is integer
    arithmetic on a one-row frame."""
    asg = assignments.select(
        F.col(id_col).alias("_id"), F.col(cluster_col).alias("_cl")
    )
    e = (
        edges.select(
            F.least(F.col(src_col), F.col(dst_col)).alias("_a"),
            F.greatest(F.col(src_col), F.col(dst_col)).alias("_b"),
        )
        .where(F.col("_a") != F.col("_b"))
        .distinct()
    )
    ej = (
        e.join(
            asg.select(
                F.col("_id").alias("_a"), F.col("_cl").alias("_cla")
            ),
            "_a",
        )
        .join(
            asg.select(
                F.col("_id").alias("_b"), F.col("_cl").alias("_clb")
            ),
            "_b",
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_edges"),
            F.coalesce(
                F.sum(
                    F.when(F.col("_cla") == F.col("_clb"), 1).otherwise(0)
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("intra_edges"),
        )
    )
    pm = (
        asg.groupBy("_cl")
        .agg(F.count(F.lit(1)).alias("_n"))
        .agg(
            F.coalesce(F.sum(F.expr("(_n * (_n - 1)) div 2")), F.lit(0))
            .cast("long")
            .alias("intra_pairs"),
            F.count(F.lit(1)).cast("long").alias("n_clusters"),
            F.coalesce(F.sum("_n"), F.lit(0)).cast("long").alias("n_items"),
        )
    )
    return (
        ej.crossJoin(F.broadcast(pm))
        .withColumn("cut_edges", F.col("n_edges") - F.col("intra_edges"))
        .withColumn(
            "missing_edges", F.col("intra_pairs") - F.col("intra_edges")
        )
        .withColumn(
            "disagreements", F.col("cut_edges") + F.col("missing_edges")
        )
        .select(
            "n_items",
            "n_clusters",
            "n_edges",
            "intra_edges",
            "intra_pairs",
            "cut_edges",
            "missing_edges",
            "disagreements",
        )
    )
