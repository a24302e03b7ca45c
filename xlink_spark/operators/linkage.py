"""Classic record-linkage operators: sorted-neighborhood blocking and
Fellegi-Sunter match weighting.

The reference links mentions to a KB with exact dictionary probes
(MentionParser.py:53-68) and a fixed fusion formula (xlink.py:147-176).
A record-linkage deployment of the same engine needs the two textbook
components the reference never had:

* ``sorted_neighborhood_pairs`` — Hernandez & Stolfo's sorted-neighborhood
  method: records sorted by a blocking key, candidate pairs = records
  within a sliding window of ``window`` positions. The global rank is
  computed WITHOUT a global window: per-key counts (map-combinable)
  → cumulative offsets at KEY grain (the bounded-cardinality sort key —
  normalized name/zip/phone-prefix — is the method's own assumption)
  → broadcast back → within-key row_number. Pair generation is then a
  banded equi-join on ``rank div (window-1)`` (each left row probes its
  own and the next band), so no rank-adjacency ever becomes a cross join
  and only narrow (id, rank) rows ride the shuffle.

* ``match_weights`` — Fellegi-Sunter m/u estimation from labeled
  comparison vectors: m_k = P(field k agrees | match), u_k = P(agrees |
  non-match), as EXACT bigint count ratios with Laplace smoothing.
  Agreement/disagreement weights are ln of a ratio of two exact bigint
  products, floored to micro-units — the single float step, margin-
  measured before any oracle ships (the PSI/BM25/relatedness precedent).

* ``fs_score`` — per-pair linkage score Σ_k (agree_k ? w_agree_k :
  w_disagree_k) in exact bigint micro-units: the comparison vectors melt
  to narrow (pair, field, agree) rows, join the broadcast per-field
  weight table, and sum — order-independent, bit-stable across engines
  and partitionings.

Scale shape (10^12 records): ranking offers two exact-identical paths —
KEY-grain offsets (bounded-cardinality keys) or range-partitioned
per-partition offsets (no cardinality assumption, balanced regardless of
key skew); the banded self-join fans out at most ``window`` rows per
record; FS weights are a constant-size broadcast and the melt is
n_fields× of a narrow id+bool row. Text never rides any of these
shuffles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from xlink_spark.plans.storage import cut, hold

MICRO = 1_000_000


def global_sort_ranks(
    records: DataFrame,
    key_col: str,
    order_cols: list[str],
    id_col: str,
    *,
    strategy: str = "keys",
    num_partitions: int | None = None,
) -> DataFrame:
    """1-based global rank over (key, *order_cols, id) without a global
    window. The id column must be unique so the order is total and the
    rank exact — both strategies produce IDENTICAL ranks (pinned by test);
    they differ only in how the work distributes:

    * ``keys`` — cumulative per-key offsets (KEY-grain single-partition
      window over the small distinct-key table, broadcast back) +
      within-key row_number. Right when the sort key has bounded
      cardinality AND each key group fits one task (normalized
      name/zip/prefix blocking keys).

    * ``range`` — ``repartitionByRange`` on the full sort order (balanced
      by sampling regardless of key skew), per-PARTITION counts →
      cumulative offsets at partition grain → per-partition row_number.
      No cardinality assumption: near-unique keys and head-heavy keys
      both split across tasks, so this is the 10¹²-record shape. The
      range exchange feeds both the count pass and the rank pass —
      persist the (narrow) input projection if the upstream is expensive.
    """
    order = [F.col(key_col).asc()] + [F.col(c).asc() for c in order_cols] + [
        F.col(id_col).asc()
    ]
    if strategy == "keys":
        cnt = records.groupBy(key_col).agg(F.count(F.lit(1)).alias("_n"))
        kw = (
            Window.orderBy(key_col)
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        offs = cnt.select(
            key_col, F.coalesce(F.sum("_n").over(kw), F.lit(0)).alias("_off")
        )
        iw = Window.partitionBy(key_col).orderBy(*order[1:])
        offs = offs.withColumnRenamed(key_col, "_offkey")
        return (
            # null-safe equality: a NULL blocking key must rank (nulls
            # first, matching the range strategy's NULLS FIRST sort), not
            # silently vanish through an inner equi-join.
            records.join(
                F.broadcast(offs),
                F.col(key_col).eqNullSafe(F.col("_offkey")),
            )
            .withColumn(
                "rank", (F.col("_off") + F.row_number().over(iw)).cast("long")
            )
            .drop("_off", "_offkey")
        )
    if strategy != "range":
        raise ValueError(f"unknown strategy {strategy!r} (use 'keys' or 'range')")
    n_parts = num_partitions or records.sparkSession.sparkContext.defaultParallelism
    # The count pass and the rank pass below both consume the range
    # exchange, and Spark instantiates the two subtrees SEPARATELY (no
    # ReusedExchange here — verified in the plan), so each would re-sample
    # RangePartitioner boundaries independently and the _pid-keyed offsets
    # could misalign with the rank pass's partitions. localCheckpoint
    # materializes the partitioning once (an eager job at construction —
    # the price of boundary consistency) and both consumers read it.
    part = cut(records.repartitionByRange(n_parts, *order), eager=True).withColumn(
        "_pid", F.spark_partition_id()
    )
    pcnt = part.groupBy("_pid").agg(F.count(F.lit(1)).alias("_n"))
    pw = (
        Window.orderBy("_pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offs = pcnt.select(
        "_pid", F.coalesce(F.sum("_n").over(pw), F.lit(0)).alias("_off")
    )
    iw = Window.partitionBy("_pid").orderBy(*order)
    return (
        part.join(F.broadcast(offs), "_pid")
        .withColumn(
            "rank", (F.col("_off") + F.row_number().over(iw)).cast("long")
        )
        .drop("_off", "_pid")
    )


def sorted_neighborhood_pairs(
    records: DataFrame,
    key_col: str,
    order_cols: list[str],
    id_col: str,
    *,
    window: int = 5,
    strategy: str = "keys",
    num_partitions: int | None = None,
) -> DataFrame:
    """Candidate pairs within ``window`` positions of the global sort order
    (max rank distance = window - 1). Returns (id_a, id_b, rank_a, rank_b,
    dist) with rank_a < rank_b; each qualifying pair emitted exactly once
    (the left row probes its own band and the next — a right row's band
    matches exactly one probe)."""
    if window < 2:
        raise ValueError("window must be >= 2 (a window of 1 yields no pairs)")
    w = int(window) - 1
    ranked = global_sort_ranks(
        records,
        key_col,
        order_cols,
        id_col,
        strategy=strategy,
        num_partitions=num_partitions,
    ).select(F.col(id_col).alias("_id"), "rank")
    band = F.expr(f"rank div {w}")  # integer div: exact at any rank
    left = ranked.select(
        F.col("_id").alias("id_a"),
        F.col("rank").alias("rank_a"),
        F.explode(F.array(band, band + 1)).alias("_band"),
    )
    right = ranked.select(
        F.col("_id").alias("id_b"),
        F.col("rank").alias("rank_b"),
        band.alias("_band"),
    )
    return (
        left.join(right, "_band")
        .filter(
            (F.col("rank_b") > F.col("rank_a"))
            & (F.col("rank_b") - F.col("rank_a") <= F.lit(w))
        )
        .select(
            "id_a",
            "id_b",
            "rank_a",
            "rank_b",
            (F.col("rank_b") - F.col("rank_a")).alias("dist"),
        )
    )


def match_weights(
    vectors: DataFrame,
    field_cols: list[str],
    label_col: str,
    *,
    smoothing: int = 1,
) -> DataFrame:
    """Fellegi-Sunter per-field weights from labeled comparison vectors.

    ``vectors``: one row per labeled pair with boolean ``field_cols``
    (field agrees?) and boolean ``label_col`` (true match?). Returns one
    row per field: exact bigint numerators/denominators of the smoothed
    m_k and u_k (m_num = Σ(agree ∧ match) + s, m_den = Σ(match) + 2s,
    likewise u over non-matches) plus

        w_agree_micro    = floor(1e6 · ln((m_num·u_den) / (u_num·m_den)))
        w_disagree_micro = floor(1e6 · ln(((m_den−m_num)·u_den)
                                          / ((u_den−u_num)·m_den)))

    — each ln takes ONE double division of two exact bigint products, so
    cross-engine divergence is bounded by ln()'s ulp and the floor margins
    are measurable per dataset. ``smoothing`` must be ≥ 1 so no count is
    ever zero and both logs stay finite."""
    if smoothing < 1:
        raise ValueError("smoothing must be >= 1 (keeps m/u strictly inside (0,1))")
    if not field_cols:
        raise ValueError("field_cols must be non-empty")
    s = int(smoothing)
    lbl = F.col(label_col).cast("boolean")

    def _cnt(cond):
        # coalesce: an EMPTY vectors frame yields zero counts, so the
        # smoothed m = u = 1/2 and every weight is exactly 0 — finite and
        # sane instead of all-NULL weights poisoning downstream sums
        return F.coalesce(
            F.sum(F.when(cond, 1).otherwise(0)), F.lit(0)
        ).cast("long")

    aggs = [
        _cnt(lbl).alias("_n_match"),
        _cnt(~lbl).alias("_n_non"),
    ]
    for f in field_cols:
        ag = F.col(f).cast("boolean")
        aggs.append(_cnt(lbl & ag).alias(f"_ma_{f}"))
        aggs.append(_cnt((~lbl) & ag).alias(f"_ua_{f}"))
    one = vectors.agg(*aggs)
    stack_args = ", ".join(
        f"'{f}', _ma_{f}, _ua_{f}" for f in field_cols
    )
    long = one.selectExpr(
        "_n_match",
        "_n_non",
        f"stack({len(field_cols)}, {stack_args}) as (field, _ma, _ua)",
    )
    m_num = F.col("_ma") + F.lit(s)
    m_den = F.col("_n_match") + F.lit(2 * s)
    u_num = F.col("_ua") + F.lit(s)
    u_den = F.col("_n_non") + F.lit(2 * s)

    def _w(num_l, num_r, den_l, den_r):
        # cast each factor to double BEFORE multiplying: bigint products
        # overflow int64 near ~3e9 labeled pairs (ANSI Spark throws, the
        # oracle throws, non-ANSI silently wraps); double products round
        # identically on every engine and are exact below 2^53
        ratio = (num_l.cast("double") * num_r.cast("double")) / (
            den_l.cast("double") * den_r.cast("double")
        )
        return F.floor(F.lit(float(MICRO)) * F.log(ratio)).cast("long")

    return long.select(
        "field",
        m_num.cast("long").alias("m_num"),
        m_den.cast("long").alias("m_den"),
        u_num.cast("long").alias("u_num"),
        u_den.cast("long").alias("u_den"),
        _w(m_num, u_den, u_num, m_den).alias("w_agree_micro"),
        _w(m_den - m_num, u_den, u_den - u_num, m_den).alias(
            "w_disagree_micro"
        ),
    )


def fs_score(
    vectors: DataFrame,
    weights: DataFrame,
    field_cols: list[str],
    id_cols: list[str],
) -> DataFrame:
    """Per-pair Fellegi-Sunter score: Σ over fields of the agreement or
    disagreement weight — exact bigint micro-units. ``vectors`` carries the
    pair ids and boolean ``field_cols``; ``weights`` is ``match_weights``
    output (broadcast — constant-size)."""
    melt_args = ", ".join(
        f"'{f}', cast({f} as boolean)" for f in field_cols
    )
    long = vectors.selectExpr(
        *id_cols,
        f"stack({len(field_cols)}, {melt_args}) as (field, _agree)",
    )
    w = weights.select("field", "w_agree_micro", "w_disagree_micro")
    return (
        long.join(F.broadcast(w), "field")
        .groupBy(*id_cols)
        .agg(
            F.sum(
                F.when(F.col("_agree"), F.col("w_agree_micro")).otherwise(
                    F.col("w_disagree_micro")
                )
            )
            .cast("long")
            .alias("score_micro")
        )
    )


# --------------------------------------------------------------- EM (Winkler)
def _fold(terms: list[str], op: str) -> str:
    """Left-associative fold with explicit parens — the canonical
    evaluation order shared by the Python evaluator and the SQL oracle."""
    t = terms[0]
    for x in terms[1:]:
        t = f"({t} {op} {x})"
    return t


def em_expression_texts(n_fields: int) -> dict:
    """The EM update formulas as arithmetic TEXT, valid verbatim in Python
    ``eval`` and in SQL (names, parens, + - * /, e-notation literals only —
    e-notation so DuckDB parses doubles, never DECIMAL). One generator
    feeds both engines, so every intermediate double is bit-identical by
    construction; only the final ln() weight floors can diverge and those
    are margin-measured per dataset.

    Returns {"g": {pattern: text}, "pi": text, "m": [text]*k, "u":
    [text]*k} where pattern bit j set ⇔ field j agrees; g texts reference
    pi/m_j/u_j/n_p, update texts reference n_p and g_p."""
    k = n_fields
    pats = list(range(2**k))

    def bit(p: int, j: int) -> bool:
        return bool((p >> j) & 1)

    g = {}
    for p in pats:
        prodm = _fold(
            [f"m_{j}" if bit(p, j) else f"(1e0 - m_{j})" for j in range(k)], "*"
        )
        produ = _fold(
            [f"u_{j}" if bit(p, j) else f"(1e0 - u_{j})" for j in range(k)], "*"
        )
        a = f"(pi * {prodm})"
        b = f"((1e0 - pi) * {produ})"
        g[p] = f"({a} / ({a} + {b}))"
    n_total = _fold([f"n_{p}" for p in pats], "+")
    den_m = _fold([f"(n_{p} * g_{p})" for p in pats], "+")
    den_u = _fold([f"(n_{p} * (1e0 - g_{p}))" for p in pats], "+")
    out = {
        "g": g,
        "pi": f"({den_m} / {n_total})",
        "m": [],
        "u": [],
    }
    for j in range(k):
        on = [p for p in pats if bit(p, j)]
        num_m = _fold([f"(n_{p} * g_{p})" for p in on], "+")
        num_u = _fold([f"(n_{p} * (1e0 - g_{p}))" for p in on], "+")
        out["m"].append(f"({num_m} / {den_m})")
        out["u"].append(f"({num_u} / {den_u})")
    return out


EM_INIT = {"pi": 0.1, "m": 0.9, "u": 0.1}
EM_INIT_SQL = {"pi": "1e-1", "m": "9e-1", "u": "1e-1"}

# Parameter clamp: a constant field drives its m/u to EXACTLY 0 or 1 in one
# M-step, making every unobserved pattern's responsibility 0/0 (Python
# raises, SQL yields NaN that poisons the sums). The standard EM guard is
# clamping parameters strictly inside (0,1); min/max are EXACT (no
# rounding), so applying the same clamp in both engines preserves
# bit-identity. A clamped constant field ends at m = u -> weight exactly 0.
# EM_EPS_SQL is the canonical literal; EM_EPS parses it so the Python clamp
# and every generated oracle use the SAME value by construction.
EM_EPS_SQL = "1e-9"
EM_EPS = float(EM_EPS_SQL)


def fs_em_weights(
    vectors: DataFrame,
    field_cols: list[str],
    *,
    iterations: int = 5,
) -> DataFrame:
    """Unsupervised Fellegi-Sunter parameter estimation (Winkler's EM over
    agreement patterns) — no labels needed.

    The DISTRIBUTED step is one map-combinable aggregation: counts of the
    2^k boolean agreement patterns (k = len(field_cols), bit j of the
    pattern ⇔ field j agrees). EM then runs on those 2^k numbers on the
    driver — the same division of labor as the coarse-quantizer Lloyd pass
    (similarity.py): iterative scalar math over an aggregate whose size is
    independent of the corpus. Every float op evaluates the canonical
    expression text from ``em_expression_texts`` (shared verbatim with the
    SQL oracle), so the trajectory is engine-exact; weights are
    floor(1e6·ln(m/u)) / floor(1e6·ln((1−m)/(1−u))) — margin-measure them
    on your data before relying on cross-engine floor equality.

    Returns one row per field: (field, m_micro, u_micro, w_agree_micro,
    w_disagree_micro, pi_micro), all bigint micro-floors of the final
    parameters. Raises on empty input (EM needs at least one pair)."""
    import math

    k = len(field_cols)
    if k == 0:
        raise ValueError("field_cols must be non-empty")
    if k > 12:
        raise ValueError("2^k pattern table would exceed driver scale")
    pats = list(range(2**k))
    aggs = []
    for p in pats:
        cond = None
        for j, f in enumerate(field_cols):
            c = F.col(f).cast("boolean")
            c = c if (p >> j) & 1 else ~c
            cond = c if cond is None else (cond & c)
        aggs.append(
            F.sum(F.when(cond, 1).otherwise(0)).cast("long").alias(f"n_{p}")
        )
    [row] = vectors.agg(*aggs).collect()
    counts = [row[f"n_{p}"] for p in pats]
    if counts[0] is None:
        raise ValueError("fs_em_weights needs a non-empty vectors frame")
    env = {f"n_{p}": float(counts[p]) for p in pats}
    env["pi"] = EM_INIT["pi"]
    for j in range(k):
        env[f"m_{j}"] = EM_INIT["m"]
        env[f"u_{j}"] = EM_INIT["u"]
    texts = em_expression_texts(k)
    no_builtins = {"__builtins__": {}}
    hi = 1.0 - EM_EPS
    for _ in range(int(iterations)):
        for p in pats:
            env[f"g_{p}"] = eval(texts["g"][p], no_builtins, env)  # noqa: S307
        new = {"pi": eval(texts["pi"], no_builtins, env)}  # noqa: S307
        for j in range(k):
            new[f"m_{j}"] = eval(texts["m"][j], no_builtins, env)  # noqa: S307
            new[f"u_{j}"] = eval(texts["u"][j], no_builtins, env)  # noqa: S307
        env.update({a: min(max(v, EM_EPS), hi) for a, v in new.items()})
    out = []
    for j, f in enumerate(field_cols):
        m, u = env[f"m_{j}"], env[f"u_{j}"]
        out.append(
            (
                f,
                math.floor(MICRO * m),
                math.floor(MICRO * u),
                math.floor(MICRO * math.log(m / u)),
                math.floor(MICRO * math.log((1.0 - m) / (1.0 - u))),
                math.floor(MICRO * env["pi"]),
            )
        )
    spark = vectors.sparkSession
    return spark.createDataFrame(
        out,
        "field string, m_micro long, u_micro long, w_agree_micro long,"
        " w_disagree_micro long, pi_micro long",
    )


def em_oracle_sql(
    vec_cte: str,
    field_cols: list[str],
    *,
    iterations: int = 5,
) -> str:
    """The DuckDB twin of ``fs_em_weights``: materialized one-row CTE per
    EM half-step evaluating the SAME expression texts. ``vec_cte`` must be
    the name of an in-scope CTE with boolean ``field_cols``."""
    k = len(field_cols)
    pats = list(range(2**k))
    texts = em_expression_texts(k)
    conds = []
    for p in pats:
        cond = " and ".join(
            f if (p >> j) & 1 else f"not {f}" for j, f in enumerate(field_cols)
        )
        conds.append(
            f"sum(case when {cond} then 1 else 0 end)::double as n_{p}"
        )
    ncols = ", ".join(f"n_{p}" for p in pats)
    init = ", ".join(
        [f"{EM_INIT_SQL['pi']} as pi"]
        + [f"{EM_INIT_SQL['m']} as m_{j}" for j in range(k)]
        + [f"{EM_INIT_SQL['u']} as u_{j}" for j in range(k)]
    )
    def _clamp(expr: str) -> str:
        return (
            f"least(greatest({expr}, {EM_EPS_SQL}),"
            f" (1e0 - {EM_EPS_SQL}))"
        )

    parts = [
        f"emc as materialized (select {', '.join(conds)} from {vec_cte})",
        f"em0 as materialized (select {ncols}, {init} from emc)",
    ]
    prev = "em0"
    carry = ", ".join(
        ["pi"]
        + [f"m_{j}" for j in range(k)]
        + [f"u_{j}" for j in range(k)]
    )
    for t in range(1, int(iterations) + 1):
        gcols = ", ".join(f"{texts['g'][p]} as g_{p}" for p in pats)
        parts.append(
            f"gs{t} as materialized (select {ncols}, {carry}, {gcols} from {prev})"
        )
        ucols = ", ".join(
            [f"{_clamp(texts['pi'])} as pi"]
            + [f"{_clamp(texts['m'][j])} as m_{j}" for j in range(k)]
            + [f"{_clamp(texts['u'][j])} as u_{j}" for j in range(k)]
        )
        parts.append(
            f"em{t} as materialized (select {ncols}, {ucols} from gs{t})"
        )
        prev = f"em{t}"
    finals = " union all ".join(
        f"select '{f}' as field,"
        f" floor(1e6 * m_{j})::bigint as m_micro,"
        f" floor(1e6 * u_{j})::bigint as u_micro,"
        f" floor(1e6 * ln(m_{j} / u_{j}))::bigint as w_agree_micro,"
        f" floor(1e6 * ln((1e0 - m_{j}) / (1e0 - u_{j})))::bigint"
        f" as w_disagree_micro,"
        f" floor(1e6 * pi)::bigint as pi_micro from {prev}"
        for j, f in enumerate(field_cols)
    )
    return ", ".join(parts) + " " + finals


# ------------------------------------------------------------- survivorship
GOLDEN_RULES = ("mode", "longest", "min", "max")


def golden_records(
    records: DataFrame,
    assignments: DataFrame,
    id_col: str,
    rules: dict[str, str],
) -> DataFrame:
    """Survivorship: one canonical (golden) record per entity cluster —
    the step a master-data deployment runs after transitive clustering.

    ``records``: one row per source record with ``id_col`` and the rule
    columns. ``assignments``: (node, component) cluster labels (CC
    output); records absent from it are singletons and keep their own id
    as the cluster. ``rules`` maps column → survivorship rule:

    * ``mode``    — most frequent value, ties to the smallest value
    * ``longest`` — longest string, ties to the smallest value
    * ``min`` / ``max`` — plain extremes

    Every rule is a deterministic total order (nulls rank last), so the
    golden record is bit-stable across engines and partitionings.
    Returns (cluster, n_records, *rule columns). Scale shape: one
    cluster-keyed aggregation per rule column over narrow (cluster,
    value) projections — text/values never fan out, and each pick table
    re-joins at CLUSTER grain."""
    for col, rule in rules.items():
        if rule not in GOLDEN_RULES:
            raise ValueError(f"unknown rule {rule!r} for {col!r}")
    asg = assignments.select(
        F.col("node").alias(id_col), F.col("component").alias("_cl")
    )
    base = (
        records.join(asg, id_col, "left")
        .withColumn("cluster", F.coalesce(F.col("_cl"), F.col(id_col)))
        .drop("_cl")
    )
    out = base.groupBy("cluster").agg(
        F.count(F.lit(1)).cast("long").alias("n_records")
    )
    for col, rule in rules.items():
        nv = base.select("cluster", col)
        if rule == "min":
            pick = nv.groupBy("cluster").agg(F.min(col).alias(col))
        elif rule == "max":
            pick = nv.groupBy("cluster").agg(F.max(col).alias(col))
        else:
            if rule == "mode":
                grp = nv.groupBy("cluster", col).agg(
                    F.count(F.lit(1)).alias("_c")
                )
                order = [
                    F.col("_c").desc(),
                    F.col(col).asc_nulls_last(),
                ]
                ranked = grp
            else:  # longest
                order = [
                    F.length(F.col(col)).desc_nulls_last(),
                    F.col(col).asc_nulls_last(),
                ]
                ranked = nv
            win = Window.partitionBy("cluster").orderBy(*order)
            pick = (
                ranked.withColumn("_rn", F.row_number().over(win))
                .filter(F.col("_rn") == 1)
                .select("cluster", col)
            )
        out = out.join(pick, "cluster")
    return out


def threshold_sweep(
    scores: DataFrame,
    score_col: str,
    label_col: str,
) -> DataFrame:
    """Precision/recall at every distinct score threshold — the curve a
    deployment reads to pick the FS decision cut.

    One row per distinct score value s: counts and exact integer-ppm
    metrics for the rule "link iff score ≥ s". Aggregates to SCORE grain
    first (FS scores take at most 2^k distinct values — one per agreement
    pattern — so the cumulative window runs over a constant-size frame,
    never over pairs), then cumulative sums ordered by score descending.
    precision/recall/f1 are bigint micro-unit floors of exact count
    ratios — engine-portable with no float anywhere. With ZERO positive
    labels the recall/f1 divisions are explicitly guarded to NULL (ANSI
    Spark would otherwise throw where DuckDB yields NULL) — the
    errors-are-DATA contract, identical on both engines and pinned by
    test."""
    lbl = F.col(label_col).cast("boolean")
    grain = (
        scores.groupBy(F.col(score_col).alias("score"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.coalesce(F.sum(F.when(lbl, 1).otherwise(0)), F.lit(0))
            .cast("long")
            .alias("n_match"),
        )
    )
    w = Window.orderBy(F.col("score").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    total = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    out = grain.select(
        "score",
        F.sum("n_match").over(w).alias("tp"),
        (F.sum("n_pairs").over(w) - F.sum("n_match").over(w)).alias("fp"),
        F.sum("n_match").over(total).alias("pos"),
    )
    # guard the positive-count divisors explicitly: ANSI Spark throws on
    # div-by-zero while DuckDB's // yields NULL — the when() makes both
    # engines emit NULL when there are no positive labels
    prec = F.expr("(tp * 1000000) div (tp + fp)")
    rec = F.when(F.col("pos") > 0, F.expr("(tp * 1000000) div pos"))
    f1 = F.when(
        F.expr("2 * tp + fp + (pos - tp)") > 0,
        F.expr("(2 * tp * 1000000) div (2 * tp + fp + (pos - tp))"),
    )
    return out.select(
        "score",
        F.col("tp").cast("long"),
        F.col("fp").cast("long"),
        prec.cast("long").alias("precision_micro"),
        rec.cast("long").alias("recall_micro"),
        f1.cast("long").alias("f1_micro"),
    )


def u_from_frequencies(
    records: DataFrame,
    field_cols: list[str],
) -> DataFrame:
    """u-probabilities from value frequencies — the classic label-free
    estimate: for a RANDOM record pair, P(field agrees) is the value
    collision probability Σ_v n_v·(n_v−1) / (N·(N−1)). Fellegi-Sunter
    deployments pair this with EM-estimated (or assumed) m when no labeled
    pairs exist and the candidate pairs are too biased to estimate u from.

    Exact bigint arithmetic: returns one row per field with u_num =
    Σ n_v(n_v−1), u_den = N(N−1), and u_ppm = (u_num·10⁶) div u_den.
    NULL values form their own frequency class (two NULLs "agree", the
    null-safe-equality convention of the comparison vectors). One
    map-combinable count per field at VALUE grain; nothing else."""
    if not field_cols:
        raise ValueError("field_cols must be non-empty")
    n = records.count()
    if n < 2:
        raise ValueError(
            f"u_from_frequencies needs >= 2 records (got {n}): "
            "the random-pair denominator N(N-1) would be zero"
        )
    den = n * (n - 1)
    out = None
    for f in field_cols:
        per = (
            records.groupBy(F.col(f).alias("_v"))
            .agg(F.count(F.lit(1)).alias("_c"))
            .agg(
                F.coalesce(F.sum(F.col("_c") * (F.col("_c") - 1)), F.lit(0))
                .cast("long")
                .alias("u_num")
            )
            .select(
                F.lit(f).alias("field"),
                "u_num",
                F.lit(den).cast("long").alias("u_den"),
                F.expr(f"(u_num * 1000000) div {den}")
                .cast("long")
                .alias("u_ppm"),
            )
        )
        out = per if out is None else out.unionByName(per)
    return out

def multipass_pairs(
    records: DataFrame,
    passes: list[tuple[str, list[str]]],
    id_col: str,
    *,
    window: int = 5,
    strategy: str = "keys",
    num_partitions: int | None = None,
) -> DataFrame:
    """Multi-pass sorted-neighborhood blocking — Hernandez & Stolfo's FULL
    method: one SNM pass per independent sort key, candidate sets unioned.
    A single pass misses every true pair whose corruption hits the sort
    key itself (a typo in the name prefix teleports the record across the
    sort order); additional passes keyed on other fields recover them,
    which is why the original paper ships the multi-pass variant as the
    real algorithm.

    ``passes``: list of ``(key_col, order_cols)``. Each pass runs
    :func:`sorted_neighborhood_pairs` with the same ``window`` /
    ``strategy``. Because rank order differs per pass, the same unordered
    pair can surface as (x, y) in one pass and (y, x) in another — pairs
    are canonicalized to ``id_a = least, id_b = greatest`` BEFORE the
    merge (pinned by test; skipping this double-counts swapped pairs).

    Returns one row per distinct unordered pair: (id_a, id_b,
    n_passes, min_dist) where n_passes counts the passes that proposed
    the pair and min_dist is the smallest rank distance across passes —
    both exact bigints, useful as cheap match-prior features.

    Scale shape: each pass is an independent SNM (narrow (id, rank) rows
    only); the merge is ONE pair-keyed aggregation over at most
    Σ_passes (window−1)·N rows. Text never rides any shuffle.
    """
    if not passes:
        raise ValueError("passes must be non-empty")
    merged = None
    for key_col, order_cols in passes:
        p = sorted_neighborhood_pairs(
            records,
            key_col,
            order_cols,
            id_col,
            window=window,
            strategy=strategy,
            num_partitions=num_partitions,
        ).select(
            F.least(F.col("id_a"), F.col("id_b")).alias("id_a"),
            F.greatest(F.col("id_a"), F.col("id_b")).alias("id_b"),
            "dist",
        )
        merged = p if merged is None else merged.unionByName(p)
    return merged.groupBy("id_a", "id_b").agg(
        F.count(F.lit(1)).cast("long").alias("n_passes"),
        F.min("dist").cast("long").alias("min_dist"),
    )


def fs_decide(
    scores: DataFrame,
    *,
    upper_micro: int,
    lower_micro: int,
    score_col: str = "score_micro",
    decision_col: str = "decision",
) -> DataFrame:
    """The Fellegi-Sunter TWO-threshold decision rule — the part of the
    1969 paper single-threshold demos skip: score ≥ upper ⇒ ``match``,
    score < lower ⇒ ``non_match``, and the band in between ⇒ ``possible``
    (the clerical-review queue). The two thresholds are chosen to bound
    the false-match rate (upper) and the false-non-match rate (lower);
    the ``possible`` band is exactly the mass a deployment routes to
    human review.

    Thresholds and scores are exact bigint micro-units, so the band
    boundaries can never flip cross-engine — no margins to measure.
    A NULL score lands in ``possible`` (review, never auto-decide) — the
    errors-are-DATA convention. Pure scan-speed CASE: no shuffle.
    """
    if lower_micro > upper_micro:
        raise ValueError(
            f"lower_micro ({lower_micro}) must be <= upper_micro ({upper_micro})"
        )
    s = F.col(score_col)
    return scores.withColumn(
        decision_col,
        F.when(s >= F.lit(int(upper_micro)), F.lit("match"))
        .when(s < F.lit(int(lower_micro)), F.lit("non_match"))
        .otherwise(F.lit("possible")),
    )


def pairwise_f1(
    assignments: DataFrame,
    pairs: DataFrame,
    *,
    id_col: str = "id",
    cluster_col: str = "cluster",
    id_a: str = "id_a",
    id_b: str = "id_b",
    label_col: str = "is_match",
) -> DataFrame:
    """Pairwise cluster precision/recall/F1 over labeled pairs — the
    ER acceptance metric: "does the clustering link the labeled pairs
    (and only them)?" evaluated on pairs that share a blocking key, since
    those are the only pairs any blocking-based pipeline can ever link.

    ``assignments``: (id, cluster). ``pairs``: labeled candidate pairs
    (id_a, id_b, is_match). A pair is PREDICTED linked iff both sides land
    in the same cluster; records absent from ``assignments`` count as
    their own singleton (``coalesce(cluster, id)`` — the same convention
    ``golden_records`` uses, so cluster ids and record ids must share a
    comparable type). tp/fp/fn are exact bigint counts and every metric is
    an exact integer floor of a count ratio — float-free end to end, so
    the result is bit-identical on any engine/partitioning:

        precision_micro = (tp·10⁶) div (tp+fp)
        recall_micro    = (tp·10⁶) div (tp+fn)
        f1_micro        = (2·tp·10⁶) div (2·tp+fp+fn)

    Zero denominators yield NULL explicitly (ANSI Spark throws on
    div-by-zero where DuckDB yields NULL — the guard makes both engines
    agree). A NULL label contributes to n_pairs only. Scale shape: two
    narrow id-keyed joins (assignment rows are (id, cluster) only) + one
    map-combinable global aggregate; no text, no pair blow-up beyond the
    input candidate set.
    """
    asg = assignments.select(F.col(id_col).alias("_pfid"), F.col(cluster_col).alias("_pfc"))
    a = asg.select(F.col("_pfid").alias(id_a), F.col("_pfc").alias("_ca"))
    b = asg.select(F.col("_pfid").alias(id_b), F.col("_pfc").alias("_cb"))
    lbl = F.col(label_col).cast("boolean")
    j = (
        pairs.select(id_a, id_b, lbl.alias("_m"))
        .join(a, id_a, "left")
        .join(b, id_b, "left")
        .select(
            "_m",
            (
                F.coalesce(F.col("_ca"), F.col(id_a))
                == F.coalesce(F.col("_cb"), F.col(id_b))
            ).alias("_same"),
        )
    )

    def _cnt(cond):
        return (
            F.coalesce(F.sum(F.when(cond, 1).otherwise(0)), F.lit(0))
            .cast("long")
        )

    agg = j.agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        _cnt(F.col("_same") & F.col("_m")).alias("tp"),
        _cnt(F.col("_same") & ~F.col("_m")).alias("fp"),
        _cnt(~F.col("_same") & F.col("_m")).alias("fn"),
    )
    prec = F.when(
        F.expr("tp + fp") > 0, F.expr("(tp * 1000000) div (tp + fp)")
    )
    rec = F.when(
        F.expr("tp + fn") > 0, F.expr("(tp * 1000000) div (tp + fn)")
    )
    f1 = F.when(
        F.expr("2 * tp + fp + fn") > 0,
        F.expr("(2 * tp * 1000000) div (2 * tp + fp + fn)"),
    )
    return agg.select(
        "n_pairs",
        "tp",
        "fp",
        "fn",
        prec.cast("long").alias("precision_micro"),
        rec.cast("long").alias("recall_micro"),
        f1.cast("long").alias("f1_micro"),
    )


def meta_blocking_pairs(
    memberships: DataFrame,
    *,
    id_col: str = "id",
    block_col: str = "block",
    max_block_size: int | None = None,
    prune: str = "wep",
) -> DataFrame:
    """Meta-blocking (Papadakis et al.): turn a redundant multi-scheme
    blocking collection into a pruned candidate-pair graph. Records that
    co-occur in MANY blocks are likelier matches than records sharing one
    giant block — the pair weight here is CBS (common-blocks count), and
    WEP (weight-edge pruning) keeps only edges strictly heavier than the
    mean edge weight.

    ``memberships``: one row per (record, block) assignment — the union of
    every blocking scheme's keys, with block ids disjoint across schemes
    (prefix them). Steps, all exact integers end to end:

    1. block purging: drop blocks with more than ``max_block_size`` members
       (the classic guard — a head block like segment='AUTOMOBILE' carries
       ~zero signal and quadratic cost);
    2. pair generation: within-block self-join on id_a < id_b over narrow
       (block, id) rows;
    3. CBS weighting: one pair-keyed count;
    4. pruning: ``prune='wep'`` (weight-edge pruning) keeps
       cbs · n_edges > Σ cbs — the strict-mean test as one bigint
       cross-multiplication against a broadcast one-row aggregate;
       ``prune='wnp'`` (weighted node pruning — the paper's node-centric
       scheme) keeps an edge strictly above the mean weight of EITHER
       endpoint's adjacency: cbs · n_x > Σ_x cbs for x ∈ {a, b}, the
       per-node aggregates built by unioning both edge orientations
       (map-combinable) and joined back as two narrow (node, count, sum)
       rows — local heads survive even when a hub's global mean would
       drown them, the recall-friendlier trade; ``prune='none'`` keeps
       all edges.

    Returns (id_a, id_b, cbs). Scale shape: after purging, every block
    fans out at most C(max_block_size, 2) pairs; the weight, the global
    mean, and the per-node means are map-combinable aggregations; no
    record payload ever rides the shuffles — ids only."""
    if prune not in ("wep", "wnp", "none"):
        raise ValueError(
            f"unknown prune {prune!r} (use 'wep', 'wnp' or 'none')"
        )
    mem = memberships.select(
        F.col(block_col).alias("_b"), F.col(id_col).alias("_id")
    )
    if max_block_size is not None:
        if max_block_size < 2:
            raise ValueError("max_block_size must be >= 2 (blocks of 1 pair nothing)")
        sizes = mem.groupBy("_b").agg(F.count(F.lit(1)).alias("_sz"))
        mem = mem.join(
            sizes.filter(F.col("_sz") <= max_block_size).select("_b"), "_b"
        )
    a = mem.select("_b", F.col("_id").alias("id_a"))
    b = mem.select("_b", F.col("_id").alias("id_b"))
    cbs = (
        a.join(b, "_b")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("long").alias("cbs"))
    )
    if prune == "none":
        return cbs
    if prune == "wnp":
        nodes = cbs.select(F.col("id_a").alias("_n"), "cbs").unionByName(
            cbs.select(F.col("id_b").alias("_n"), "cbs")
        )
        stats = nodes.groupBy("_n").agg(
            F.count(F.lit(1)).cast("long").alias("_ne"),
            F.sum("cbs").cast("long").alias("_sw"),
        )
        sa = stats.select(
            F.col("_n").alias("id_a"),
            F.col("_ne").alias("_nea"),
            F.col("_sw").alias("_swa"),
        )
        sb = stats.select(
            F.col("_n").alias("id_b"),
            F.col("_ne").alias("_neb"),
            F.col("_sw").alias("_swb"),
        )
        return (
            cbs.join(sa, "id_a")
            .join(sb, "id_b")
            .filter(
                (F.col("cbs") * F.col("_nea") > F.col("_swa"))
                | (F.col("cbs") * F.col("_neb") > F.col("_swb"))
            )
            .select("id_a", "id_b", "cbs")
        )
    tot = cbs.agg(
        F.count(F.lit(1)).cast("long").alias("_ne"),
        F.coalesce(F.sum("cbs"), F.lit(0)).cast("long").alias("_sw"),
    )
    return (
        cbs.crossJoin(F.broadcast(tot))
        .filter(F.col("cbs") * F.col("_ne") > F.col("_sw"))
        .select("id_a", "id_b", "cbs")
    )


def phonetic_candidate_pairs(
    records: DataFrame,
    name_cols: str | list[str],
    id_col: str,
    *,
    max_block_size: int | None = None,
    scheme: str = "soundex",
) -> DataFrame:
    """Phonetic blocking: candidate pairs sharing a phonetic key.

    The classic complement to exact/SNM blocking — typos that change a
    letter WITHIN its phonetic class ('Ashcraft'/'Ashcroft') still collide.
    ``scheme`` picks the key function: ``"soundex"`` (default — 4-char
    consonant classes), ``"nysiis"`` (Taft 1970 — keeps collapsed vowel
    positions, so it separates name shapes Soundex folds together; the
    literature's standard second scheme, Christen 2006), or
    ``"caverphone"`` (Hood 2004 — 10-char keys with dedicated
    gh/ough/wh cluster handling; Christen's third benchmark scheme,
    the finest of the trio). Passing several
    ``name_cols`` concatenates their per-column codes into one compound
    key (the standard way to re-sharpen a too-coarse single-field
    phonetic key). Shape at 10^12 records: keys are short strings, so
    real name corpora are head-heavy — ``max_block_size`` purges
    oversized blocks before the self-join (the meta-blocking purge,
    Papadakis et al.), keeping the within-block quadratic bounded; only
    narrow (id, key) rows ride the equi-join shuffle.

    Returns (id_a, id_b, pkey) with id_a < id_b.
    """
    from xlink_spark.operators.fuzzy import (
        caverphone_key,
        nysiis_key,
        soundex_key,
    )

    key_fn = {
        "soundex": soundex_key,
        "nysiis": nysiis_key,
        "caverphone": caverphone_key,
    }.get(scheme)
    if key_fn is None:
        raise ValueError(f"unknown phonetic scheme: {scheme!r}")
    cols = [name_cols] if isinstance(name_cols, str) else list(name_cols)
    if not cols:
        raise ValueError("name_cols must be non-empty")
    keyed = records.select(
        F.col(id_col).alias("_id"),
        F.concat(*[key_fn(c) for c in cols]).alias("pkey"),
    )
    if max_block_size is not None:
        # broadcast the OVERSIZED keys (the purged head — few by
        # definition) and anti-join, never the kept list (≈ all distinct
        # keys, which no driver can hold at corpus scale)
        oversized = keyed.groupBy("pkey").agg(
            F.count(F.lit(1)).alias("_n")
        ).filter(F.col("_n") > int(max_block_size)).select("pkey")
        keyed = keyed.join(F.broadcast(oversized), "pkey", "left_anti")
    a = keyed.select(F.col("_id").alias("id_a"), "pkey")
    b = keyed.select(F.col("_id").alias("id_b"), "pkey")
    return a.join(b, "pkey").filter(F.col("id_a") < F.col("id_b")).select(
        "id_a", "id_b", "pkey"
    )


def mutual_best_matches(
    scores: DataFrame,
    left_col: str,
    right_col: str,
    score_col: str,
) -> DataFrame:
    """One-to-one matching for clean-clean ER: keep a pair iff it is BOTH
    its left record's best right candidate and its right record's best
    left candidate (mutual best, a.k.a. symmetric best match) — the
    standard greedy-optimal bipartite decision when each source is
    internally duplicate-free.

    The input is first aggregated to PAIR grain (max score per (left,
    right)) — duplicate candidate rows for the same pair (e.g. a union of
    blocking schemes) would otherwise take arbitrary, window-inconsistent
    row_numbers and could nondeterministically drop a genuinely-mutual
    pair. Ties then break deterministically on the partner id ascending,
    so with exact bigint scores the output is engine-reproducible.
    Two windows on the two pair-id keys = two shuffles of narrow pair
    rows; nothing wider ever moves. Output: (left_col, right_col,
    score_col).
    """
    pairs = scores.groupBy(left_col, right_col).agg(
        F.max(score_col).alias(score_col)
    )
    wa = Window.partitionBy(left_col).orderBy(
        F.col(score_col).desc(), F.col(right_col).asc()
    )
    wb = Window.partitionBy(right_col).orderBy(
        F.col(score_col).desc(), F.col(left_col).asc()
    )
    return (
        pairs.withColumn("_rn_a", F.row_number().over(wa))
        .withColumn("_rn_b", F.row_number().over(wb))
        .filter((F.col("_rn_a") == 1) & (F.col("_rn_b") == 1))
        .drop("_rn_a", "_rn_b")
    )


def constraint_audit(
    assignments: DataFrame,
    constraints: DataFrame,
    *,
    id_col: str = "id",
    cluster_col: str = "cluster",
) -> DataFrame:
    """Audit must-link / cannot-link constraints against a clustering.

    ``assignments``: (id, cluster) — every record, one row each.
    ``constraints``: (kind ∈ {'must','cannot'}, id_a, id_b).

    A 'must' constraint is satisfied iff both ids landed in the SAME
    cluster; a 'cannot' iff they landed in different ones. Ids absent from
    ``assignments`` keep NULL clusters and count as separate (left joins —
    a constraint never disappears through the audit). Two narrow
    broadcast-friendly joins; the constraint table is usually tiny next to
    the corpus, so Spark broadcasts it and the corpus-side assignment scan
    stays shuffle-free.

    Returns (kind, id_a, id_b, cluster_a, cluster_b, satisfied).
    """
    ca = assignments.select(
        F.col(id_col).alias("id_a"), F.col(cluster_col).alias("cluster_a")
    )
    cb = assignments.select(
        F.col(id_col).alias("id_b"), F.col(cluster_col).alias("cluster_b")
    )
    same = F.col("cluster_a").isNotNull() & (
        F.col("cluster_a") == F.col("cluster_b")
    )
    return (
        constraints.join(ca, "id_a", "left")
        .join(cb, "id_b", "left")
        .select(
            "kind",
            "id_a",
            "id_b",
            "cluster_a",
            "cluster_b",
            # coalesce BOTH branches: an unassigned id makes `same` NULL,
            # and a NULL satisfied would let a violated must-link slip
            # through filter(~satisfied) — unassigned counts as separate,
            # so must → False, cannot → True, never NULL
            F.when(F.col("kind") == "must", F.coalesce(same, F.lit(False)))
            .otherwise(~F.coalesce(same, F.lit(False)))
            .alias("satisfied"),
        )
    )


def suffix_blocking_pairs(
    records: DataFrame,
    key_col: str,
    id_col: str,
    *,
    min_len: int = 4,
    max_block_size: int | None = None,
) -> DataFrame:
    """Suffix blocking (Aizawa & Oyama): candidate pairs sharing any
    suffix of the blocking key of length ≥ ``min_len`` — robust to
    corruption near the key's HEAD (for tail corruption, pass the key
    reversed). Suffix rows are built with ``transform`` over ``sequence``
    (whole-stage codegen, linear in total key characters — the
    deletion-variant shape from operators/fuzzy); keys shorter than
    ``min_len`` contribute no suffixes and silently don't block.
    Short/common suffixes are the head-heavy ones, so ``max_block_size``
    purges oversized suffix blocks before the self-join; only narrow
    (id, suffix) rows ride the equi-join shuffle, and the pair-grain
    count that follows is map-side combinable.

    Returns (id_a, id_b, n_shared) with id_a < id_b — n_shared (how many
    qualifying suffixes the pair shares, exact bigint) is the natural
    match-prior weight, CBS-style.
    """
    if min_len < 1:
        raise ValueError("min_len must be >= 1")
    s = F.col(key_col)
    sufs = F.when(
        F.length(s) >= min_len,
        F.transform(
            F.sequence(F.lit(1), F.length(s) - F.lit(min_len) + 1),
            lambda i: s.substr(i, F.length(s)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    rows = records.select(
        F.col(id_col).alias("_id"), F.explode(sufs).alias("sfx")
    )
    if max_block_size is not None:
        # anti-join the OVERSIZED suffixes (the purged head — few by
        # definition), never broadcast the kept list, which is ≈ every
        # distinct suffix (linear in corpus characters)
        oversized = (
            rows.groupBy("sfx")
            .agg(F.count(F.lit(1)).alias("_n"))
            .filter(F.col("_n") > int(max_block_size))
            .select("sfx")
        )
        rows = rows.join(F.broadcast(oversized), "sfx", "left_anti")
    a = rows.select(F.col("_id").alias("id_a"), "sfx")
    b = rows.select(F.col("_id").alias("id_b"), "sfx")
    return (
        a.join(b, "sfx")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
    )


def constrained_components(
    edges: DataFrame,
    must: DataFrame | None = None,
    cannot: DataFrame | None = None,
) -> DataFrame:
    """Semi-supervised transitive clustering: connected components over the
    match graph with domain constraints enforced structurally — must-link
    pairs UNION into the edge set (they cluster by construction), cannot-
    link pairs are REMOVED from it (canonicalized to (least, greatest), so
    orientation never matters). A cannot pair that is also a must pair is
    contradictory; removal runs last, so cannot wins — the conservative
    choice for an auto-merge pipeline.

    Direct cannot violations are impossible afterwards; TRANSITIVE ones (a
    path around the removed edge) can survive — run ``constraint_audit``
    on the result to surface them rather than trusting silence.

    ``edges``/``must``/``cannot`` all carry two node columns (first two
    columns are used). Only narrow node-pair rows shuffle; the iterative
    CC downstream is the usual large/small-star job.
    """
    from xlink_spark.operators.cluster import connected_components

    def _canon(df: DataFrame) -> DataFrame:
        a, b = (F.col(c) for c in df.columns[:2])
        return df.select(
            F.least(a, b).alias("lo"), F.greatest(a, b).alias("hi")
        )

    eg = _canon(edges)
    if must is not None:
        eg = eg.unionByName(_canon(must))
    if cannot is not None:
        eg = eg.join(_canon(cannot), ["lo", "hi"], "left_anti")
    return connected_components(
        eg.select(F.col("lo").alias("src"), F.col("hi").alias("dst"))
    )


# ------------------------------------------------- multi-level gammas (Winkler)
def match_weights_levels(
    vectors: DataFrame,
    field_levels: dict[str, int],
    label_col: str,
    *,
    smoothing: int = 1,
) -> DataFrame:
    """Fellegi-Sunter weights for MULTI-LEVEL agreement patterns (Winkler's
    gamma generalization; the comparison-level design production linkers
    like Splink expose). Binary agree/disagree loses information on string
    fields — "exact equal", "close but not equal" (edit distance / JW
    band), and "different" have very different m/u likelihood ratios.

    ``vectors``: one row per labeled pair with integer level columns (one
    per key of ``field_levels``; values MUST lie in ``[0, L_f)`` — an
    out-of-range level inflates the denominators but never a numerator,
    so validate upstream) and boolean ``label_col``. For each (field,
    level):

        m_num = Σ(level = l ∧ match) + s,      m_den = Σ(match) + L_f·s
        u_num = Σ(level = l ∧ ¬match) + s,     u_den = Σ(¬match) + L_f·s
        w_micro = floor(1e6 · ln((m_num·u_den) / (u_num·m_den)))

    — per-level Laplace smoothing (s ≥ 1 per CELL, so every level keeps
    finite mass and both logs stay finite), exact bigint counts, and the
    single float step is one double division of two exact bigint products
    (the `match_weights` protocol; margins measurable per dataset).

    Returns one row per (field, level). With ``L_f = 2`` for every field
    this degrades EXACTLY to ``match_weights`` (level 1 ≡ agree, level 0
    ≡ disagree; same denominators since L·s = 2s) — pinned by test.

    Scale shape: one map-combinable aggregation over the labeled pairs
    producing a constant-size (Σ L_f)-row table; nothing wide shuffles.
    """
    if smoothing < 1:
        raise ValueError("smoothing must be >= 1 (keeps m/u strictly inside (0,1))")
    if not field_levels:
        raise ValueError("field_levels must be non-empty")
    for f, nl in field_levels.items():
        if nl < 2:
            raise ValueError(f"field {f!r} needs >= 2 levels, got {nl}")
    s = int(smoothing)
    lbl = F.col(label_col).cast("boolean")

    def _cnt(cond):
        return F.coalesce(
            F.sum(F.when(cond, 1).otherwise(0)), F.lit(0)
        ).cast("long")

    aggs = [_cnt(lbl).alias("_n_match"), _cnt(~lbl).alias("_n_non")]
    for f, nl in field_levels.items():
        lv = F.col(f).cast("long")
        for l in range(nl):
            aggs.append(_cnt(lbl & (lv == l)).alias(f"_ma_{f}_{l}"))
            aggs.append(_cnt((~lbl) & (lv == l)).alias(f"_ua_{f}_{l}"))
    one = vectors.agg(*aggs)
    stack_args = ", ".join(
        f"'{f}', {l}L, {nl}L, _ma_{f}_{l}, _ua_{f}_{l}"
        for f, nl in field_levels.items()
        for l in range(nl)
    )
    n_rows = sum(field_levels.values())
    long = one.selectExpr(
        "_n_match",
        "_n_non",
        f"stack({n_rows}, {stack_args}) as (field, level, _nl, _ma, _ua)",
    )
    m_num = F.col("_ma") + F.lit(s)
    m_den = F.col("_n_match") + F.col("_nl") * F.lit(s)
    u_num = F.col("_ua") + F.lit(s)
    u_den = F.col("_n_non") + F.col("_nl") * F.lit(s)
    ratio = (m_num.cast("double") * u_den.cast("double")) / (
        u_num.cast("double") * m_den.cast("double")
    )
    return long.select(
        "field",
        F.col("level").cast("long").alias("level"),
        m_num.cast("long").alias("m_num"),
        m_den.cast("long").alias("m_den"),
        u_num.cast("long").alias("u_num"),
        u_den.cast("long").alias("u_den"),
        F.floor(F.lit(float(MICRO)) * F.log(ratio)).cast("long").alias("w_micro"),
    )


def fs_score_levels(
    vectors: DataFrame,
    weights: DataFrame,
    field_cols: list[str],
    id_cols: list[str],
) -> DataFrame:
    """Per-pair Fellegi-Sunter score under multi-level gammas: Σ over
    fields of the weight AT THE OBSERVED LEVEL — exact bigint micro-units.
    ``vectors`` carries the pair ids and integer level ``field_cols``;
    ``weights`` is ``match_weights_levels`` output (broadcast — its size
    is Σ L_f, a constant). A level absent from the weight table drops the
    pair's term via the inner join — levels must be in-range upstream
    (same contract as ``match_weights_levels``)."""
    melt_args = ", ".join(f"'{f}', cast({f} as long)" for f in field_cols)
    long = vectors.selectExpr(
        *id_cols,
        f"stack({len(field_cols)}, {melt_args}) as (field, level)",
    )
    w = weights.select("field", "level", "w_micro")
    return (
        long.join(F.broadcast(w), ["field", "level"])
        .groupBy(*id_cols)
        .agg(F.sum("w_micro").cast("long").alias("score_micro"))
    )


# ------------------------------------------- term-frequency adjustment (Winkler)
def tf_value_weights(
    records: DataFrame,
    value_col: str,
    weights: DataFrame,
    field: str,
) -> DataFrame:
    """Per-VALUE agreement weight for ``field`` — Winkler's term-frequency
    adjustment (the ``tf_adjustment`` production linkers expose). The
    global u_k treats agreement on 'John Smith' and on a unique name as
    equally predictive; the value-specific collision probability is the
    value's term-frequency share, so the adjusted agreement weight is

        w_tf(v) = ln(m_k / (tf_v / n)) → micro-floored as
        floor(1e6 · ln((m_num · n) / (m_den · tf_v)))

    — m from the fitted ``weights`` row for ``field`` (exact bigint
    m_num/m_den), tf_v / n exact bigint counts over ``records``. Rare
    values gain weight, head values (the 'John Smith' problem) lose it;
    no clamp is applied — callers wanting Splink-style caps filter on
    the returned exact components.

    Returns (value, tf_cnt, n_total, w_tf_micro). Scale shape: one
    map-combinable value count + a 1-row cross join; the output is as
    wide as the distinct-value set and is meant for an equi-join on
    value, NOT a broadcast."""
    wrow = weights.filter(F.col("field") == field).select("m_num", "m_den")
    counts = records.groupBy(F.col(value_col).alias("value")).agg(
        F.count(F.lit(1)).cast("long").alias("tf_cnt")
    )
    total = records.agg(F.count(F.lit(1)).cast("long").alias("n_total"))
    ratio = (F.col("m_num").cast("double") * F.col("n_total").cast("double")) / (
        F.col("m_den").cast("double") * F.col("tf_cnt").cast("double")
    )
    return (
        counts.crossJoin(F.broadcast(total))
        .crossJoin(F.broadcast(wrow))
        .select(
            "value",
            "tf_cnt",
            "n_total",
            F.floor(F.lit(float(MICRO)) * F.log(ratio))
            .cast("long")
            .alias("w_tf_micro"),
        )
    )


def tf_adjust_scores(
    scores: DataFrame,
    agreeing_values: DataFrame,
    tf_weights: DataFrame,
    weights: DataFrame,
    field: str,
    id_cols: list[str],
) -> DataFrame:
    """Swap the GLOBAL agreement weight for the VALUE-specific one on pairs
    that agree on ``field``: score_tf = score − w_agree_k + w_tf(v).
    ``scores`` is ``fs_score`` output; ``agreeing_values`` carries
    (id_cols..., value) ONLY for pairs whose ``field`` agrees (the shared
    value); ``tf_weights`` is ``tf_value_weights`` output. Non-agreeing
    pairs keep their base score (the adjustment is defined on agreement
    only — disagreement already used the field's disagreement weight).

    All-bigint arithmetic once the two micro-floors exist, so the result
    is engine-exact. Scale: the delta join is id-keyed, the value join is
    an equi-join on value (skew = head values — exactly what AQE's skew
    split handles), and the global-weight row is a broadcast constant."""
    gw = weights.filter(F.col("field") == field).select(
        F.col("w_agree_micro").alias("_w_agree")
    )
    delta = (
        agreeing_values.join(tf_weights.select("value", "w_tf_micro"), "value")
        .crossJoin(F.broadcast(gw))
        .select(
            *id_cols,
            (F.col("w_tf_micro") - F.col("_w_agree")).alias("_delta"),
            F.col("w_tf_micro"),
        )
    )
    out = scores.join(delta, id_cols, "left")
    return out.select(
        *id_cols,
        F.col("score_micro"),
        (
            F.col("score_micro") + F.coalesce(F.col("_delta"), F.lit(0))
        ).cast("long").alias("score_tf_micro"),
        F.col("w_tf_micro"),
    )


# ------------------------------------------------------------- q-gram blocking
def qgram_blocking_pairs(
    records: DataFrame,
    key_col: str,
    id_col: str,
    *,
    q: int = 2,
    min_shared: int = 1,
    threshold_ppt: int | None = None,
    max_block_size: int | None = None,
) -> DataFrame:
    """Q-gram blocking (Baxter, Christen & Churches): candidate pairs
    sharing character q-grams of the blocking key — robust to a typo
    ANYWHERE in the key (a single substitution corrupts at most q grams),
    where exact/phonetic/suffix blocking each have a blind position.

    Per record: the DISTINCT q-grams of ``key_col`` via ``transform`` over
    ``sequence`` (whole-stage codegen, linear in key characters; keys
    shorter than ``q`` contribute nothing and silently don't block).
    ``max_block_size`` purges stop-grams — the handful of grams shared by
    more than that many records — via an anti-join on the SMALL oversized
    list (never broadcasting the kept set). Per-record gram counts are
    taken over the KEPT grams, so the threshold measures overlap among
    discriminative grams only. Pairs then come from the gram equi-join
    with a map-combinable shared count, kept when

        n_shared ≥ min_shared  and  (if threshold_ppt)
        n_shared · 1000 ≥ threshold_ppt · greatest(n_a, n_b)

    — all-integer arithmetic (ppt = parts per thousand), engine-exact.

    Returns (id_a, id_b, n_shared, n_a, n_b) with id_a < id_b. Scale
    shape: only narrow (id, gram) rows ride the self-join shuffle, the
    purge bounds every block, and the containment filter runs after a
    map-side-combinable count — the same candidate-generation discipline
    as suffix blocking."""
    if q < 1:
        raise ValueError("q must be >= 1")
    if min_shared < 1:
        raise ValueError("min_shared must be >= 1")
    if threshold_ppt is not None and not (0 < threshold_ppt <= 1000):
        raise ValueError("threshold_ppt must be in (0, 1000]")
    s = F.col(key_col)
    grams = F.when(
        F.length(s) >= q,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.length(s) - F.lit(q) + 1),
                lambda i: s.substr(i, F.lit(q)),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))
    rows = records.select(
        F.col(id_col).alias("_id"), F.explode(grams).alias("gram")
    )
    if max_block_size is not None:
        oversized = (
            rows.groupBy("gram")
            .agg(F.count(F.lit(1)).alias("_n"))
            .filter(F.col("_n") > int(max_block_size))
            .select("gram")
        )
        rows = rows.join(F.broadcast(oversized), "gram", "left_anti")
    per_id = rows.groupBy("_id").agg(
        F.count(F.lit(1)).cast("long").alias("_n_grams")
    )
    a = rows.select(F.col("_id").alias("id_a"), "gram")
    b = rows.select(F.col("_id").alias("id_b"), "gram")
    pairs = (
        a.join(b, "gram")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
        .filter(F.col("n_shared") >= int(min_shared))
        .join(
            per_id.select(F.col("_id").alias("id_a"), F.col("_n_grams").alias("n_a")),
            "id_a",
        )
        .join(
            per_id.select(F.col("_id").alias("id_b"), F.col("_n_grams").alias("n_b")),
            "id_b",
        )
    )
    if threshold_ppt is not None:
        pairs = pairs.filter(
            F.col("n_shared") * F.lit(1000)
            >= F.lit(int(threshold_ppt)) * F.greatest(F.col("n_a"), F.col("n_b"))
        )
    return pairs.select("id_a", "id_b", "n_shared", "n_a", "n_b")


# --------------------------------------------------- posterior probabilities
def match_posteriors(
    scores: DataFrame,
    prior,
) -> DataFrame:
    """Posterior match probability per pair — the user-facing surface
    production linkers put on top of the FS score. ``prior`` is either an
    exact bigint pair ``(prior_num, prior_den)`` with λ = num/den strictly
    inside (0,1) — derive it from the labeled counts with the same
    Laplace smoothing as the weights — or a ONE-row DataFrame carrying
    ``prior_num``/``prior_den`` columns (broadcast cross join, so plan
    construction stays action-free). With prior odds λ/(1−λ) and Bayes
    factor BF = e^(score) · prior-odds:

        posterior_ppm = floor(1e6 · BF / (1 + BF))

    The float chain is one double division of the exact bigint prior
    (num / (den − num)), exp, one multiply, one divide — IEEE doubles
    rounding identically on both engines up to exp()'s ulp; the floor
    margins are measured per dataset before any oracle ships (same
    protocol as the ln() weights). Adds one narrow column; no shuffle."""
    score = F.col("score_micro").cast("double") / F.lit(float(MICRO))
    if isinstance(prior, DataFrame):
        src = scores.crossJoin(F.broadcast(prior.select("prior_num", "prior_den")))
        odds = F.col("prior_num").cast("double") / (
            F.col("prior_den") - F.col("prior_num")
        ).cast("double")
        drop = ["prior_num", "prior_den"]
    else:
        prior_num, prior_den = (int(prior[0]), int(prior[1]))
        if not (0 < prior_num < prior_den):
            raise ValueError("prior must satisfy 0 < prior_num < prior_den")
        src = scores
        odds = F.lit(float(prior_num) / float(prior_den - prior_num))
        drop = []
    bf = F.exp(score) * odds
    return src.withColumn(
        "posterior_ppm",
        F.floor(F.lit(float(MICRO)) * bf / (F.lit(1.0) + bf)).cast("long"),
    ).drop(*drop)


# ------------------------------------------------- chain-merge repair
def repair_chain_merges(
    scores: DataFrame,
    strong_scores: DataFrame,
    *,
    threshold_micro: int = 0,
    strong_threshold_micro: int = 0,
    id_a: str = "id_a",
    id_b: str = "id_b",
    score_col: str = "score_micro",
    strong_score_col: str = "score_micro",
) -> DataFrame:
    """Escalation repair of transitively chain-merged clusters — the fix
    for the pathology ``cluster_cohesion`` diagnoses: connected
    components link anything joined by a PATH of accepted edges, so a
    cluster can contain pairs the scorer itself rejected (score <
    threshold). The repair re-adjudicates exactly those clusters with a
    STRONGER comparator and re-clusters them on the edges that survive:

    1. base graph: ``scores`` pairs with ``score_col`` ≥
       ``threshold_micro`` → connected components (comp₀);
    2. a component is FLAGGED iff any scored pair interior to it fell
       below ``threshold_micro`` (the cohesion criterion — a rejected
       pair glued in by transitivity);
    3. edges inside flagged components survive only if their
       ``strong_scores`` row has ``strong_score_col`` ≥
       ``strong_threshold_micro``; a flagged-interior edge with NO
       strong row is pruned (conservative — unjudged evidence does not
       merge). Edges in unflagged components pass through untouched;
    4. connected components over the surviving flagged-interior edges
       (comp₁) — unflagged components keep comp₀'s labels outright, so
       the re-cluster job's input scales with the flagged subgraph, not
       the corpus.

    Returns (node, component, was_flagged) for every node of the BASE
    graph: component = min node id of the repaired component (own id if
    repair isolated the node), was_flagged = node sat in a flagged
    base component. Unflagged components keep their edge sets, hence
    their membership AND labels, bit-identically; repaired components
    are always refinements of their base component (repair only removes
    edges — pinned by test).

    Both score frames canonicalize pairs to (least, greatest) before any
    join, so orientation never matters; pass the same candidate
    population to both (the strong frame is consulted ONLY for edges
    interior to flagged components, so callers may lazily restrict the
    expensive comparator to that subset — at 10^12 records the flagged
    interiors are the audit-grain fraction of the corpus, which is the
    point of escalating instead of re-scoring everything).

    Scale shape: two iterative large/small-star CC jobs — the second over
    ONLY the flagged components' surviving edges (audit-grain input; the
    unflagged corpus never enters it) — one distinct over the SMALL
    flagged component list, narrow (node, component) rows on every
    shuffle; record payloads never ride any of it. The narrow
    intermediates (canonical scores, comp₀, flags, surviving edges) are
    eagerly locally checkpointed so each upstream plan — including the
    caller's pairwise comparators — executes exactly once.
    """
    from xlink_spark.operators.cluster import connected_components

    def _canon(df: DataFrame, a: str, b: str, s: str, out: str) -> DataFrame:
        return df.select(
            F.least(F.col(a), F.col(b)).alias("_lo"),
            F.greatest(F.col(a), F.col(b)).alias("_hi"),
            F.col(s).cast("long").alias(out),
        )

    # the narrow canonical score rows feed FOUR downstream consumers
    # (comp0's CC + its roots pass, the flag scan, the edge filter); an
    # eager localCheckpoint evaluates the caller's scoring plan exactly
    # once instead of once per consumer — at corpus scale the upstream
    # plan is a pairs-wide comparator, the single most expensive thing
    # to accidentally recompute (measured 2x wall on a 12M-record run)
    # LAZY: materialized by the first CC's eager canonical checkpoint —
    # still evaluated exactly once for all four consumers
    sc = cut(_canon(scores, id_a, id_b, score_col, "_s"), eager=False)
    strong = _canon(
        strong_scores, id_a, id_b, strong_score_col, "_t"
    ).groupBy("_lo", "_hi").agg(F.min("_t").alias("_t"))

    edges0 = sc.filter(F.col("_s") >= F.lit(int(threshold_micro)))
    # read by flagged, edges1, nodes0 — lazy, materialized by the
    # downstream eager CC checkpoint
    comp0 = cut(
        connected_components(
            edges0.select(F.col("_lo").alias("src"), F.col("_hi").alias("dst"))
        ),
        eager=False,
    )
    ca = comp0.select(F.col("node").alias("_lo"), F.col("component").alias("_c0"))
    cb = comp0.select(F.col("node").alias("_hi"), F.col("component").alias("_c1"))
    flagged = cut(
        sc.filter(F.col("_s") < F.lit(int(threshold_micro)))
        .join(ca, "_lo")
        .join(cb, "_hi")
        .filter(F.col("_c0") == F.col("_c1"))
        .select(F.col("_c0").alias("_flag"))
        .distinct(),
        eager=False,  # tiny; read by edges1 and nodes0
    )
    # re-cluster ONLY the flagged components: unflagged components keep
    # their full edge set, so their repaired assignment is comp0's by
    # construction — running the second CC over their edges would just
    # recompute the same labels. Restricting the input to flagged-interior
    # survivors makes the re-cluster cost scale with the FLAGGED subgraph
    # (the audit-grain fraction of the corpus), not with the corpus.
    edges1 = cut(
        edges0.join(ca, "_lo")
        .join(flagged, F.col("_c0") == F.col("_flag"))
        .join(strong, ["_lo", "_hi"], "left")
        .filter(F.col("_t") >= F.lit(int(strong_threshold_micro)))
        # CC evaluates its edge input twice (iteration seed + the roots
        # pass); checkpointing keeps the strong-comparator join chain —
        # the expensive-field consultation — to a single execution (lazy:
        # CC's own eager canonical checkpoint materializes it)
        .select("_lo", "_hi"),
        eager=False,
    )
    comp1 = connected_components(
        edges1.select(F.col("_lo").alias("src"), F.col("_hi").alias("dst"))
    )
    nodes0 = comp0.join(flagged, comp0.component == F.col("_flag"), "left").select(
        "node", "component", F.col("_flag").isNotNull().alias("was_flagged")
    )
    return (
        nodes0.join(comp1.withColumnRenamed("component", "_rc"), "node", "left")
        .select(
            "node",
            # unflagged: the base label; flagged: the re-clustered label,
            # own id if every interior edge was pruned
            F.when(~F.col("was_flagged"), F.col("component"))
            .otherwise(F.coalesce(F.col("_rc"), F.col("node")))
            .alias("component"),
            "was_flagged",
        )
    )


# ------------------------------------------- all-pairs set-similarity join
def allpairs_jaccard_pairs(
    records: DataFrame,
    tokens_col: str,
    id_col: str,
    *,
    threshold_ppt: int,
    max_block_size: int | None = None,
    measure: str = "jaccard",
) -> DataFrame:
    """Exact all-pairs set-similarity self-join with prefix filtering —
    the scalable token-set blocking of the similarity-join literature
    (Bayardo, Ma & Srikant 2007; Vernica, Carey & Li 2010 is the
    map-reduce formulation this follows): every pair of records whose
    DISTINCT-token similarity is ≥ threshold_ppt/1000, found WITHOUT the
    all-token self-join q-gram blocking pays. This is the RECORD-BLOCKING
    front-end of the prefix-filter principle — multi-measure, purge knob,
    (id_a, id_b, n_shared, n_a, n_b) output that FS scoring composes with.
    It and the document-shingle path ``operators/setsim.jaccard_join_exact``
    (ppm thresholds) share one kernel, ``_ppjoin``; here its scale is 1000.
    ``measure`` picks the similarity (the PPJoin family's standard trio,
    each with its own sound prefix and length bound):

        jaccard  |∩| / |∪|               prefix ⌈t·n⌉      length t·max ≤ min·1
        cosine   |∩| / √(n_a·n_b)        prefix ⌈t²·n⌉     length t²·max ≤ min
        dice     2|∩| / (n_a+n_b)        prefix ⌈t/(2−t)·n⌉ length t·max ≤ (2−t)·min

    The prefix filter: order every record's tokens by ascending global
    document frequency (rarest first; ties by token text — one total
    order shared by all records), and keep only the first

        p = n − α(n) + 1        (α the measure's prefix column above)

    tokens as join keys. Any qualifying pair's overlap meets the
    measure's bound, so it cannot avoid both prefixes (for cosine/dice
    the corresponding length condition holds AUTOMATICALLY for true
    pairs, since overlap ≤ min(n_a,n_b)) — candidate generation is
    exact-recall while joining only on each record's RAREST few tokens.
    Candidate rows additionally pass PPJoin's positional filter (Xiao et
    al. 2008): the matched token's positions bound the pair's possible
    overlap, and the bound must itself satisfy the measure's inequality
    — sound (a qualifying pair's first shared prefix token always
    passes), so recall stays exact while late-position collisions on
    frequent tokens never reach the verify/dedup stages
    (at jaccard t=0.8, one fifth of them, and the frequent head tokens
    that create mega-blocks never become join keys at all). Candidates
    then pass the measure's length filter and exact verification:
    overlap o via ``array_intersect`` of the full sorted token arrays,
    kept when (all-integer arithmetic, engine-exact, no floats)

        jaccard  1000·o ≥ t·(n_a + n_b − o)
        cosine   10⁶·o² ≥ t²·n_a·n_b
        dice     2000·o ≥ t·(n_a + n_b)

    No global token ranking is materialized: each record sorts its OWN
    (freq, token) structs with ``sort_array``, so the only vocabulary-wide
    step is the map-combinable frequency count joined back at token grain
    (at 10^12 records the vocabulary table is the small side; Spark
    broadcasts or shuffles it by token hash — no single-partition window
    anywhere). ``max_block_size`` additionally purges prefix-token blocks
    larger than the cap before pairing — with the standard caveat that a
    purge (unlike the prefix filter) CAN drop true pairs whose only shared
    prefix token is purged; it is the recall/cost knob, not part of the
    exact algorithm.

    Returns (id_a, id_b, n_shared, n_a, n_b) with id_a < id_b — the
    q-gram blocking contract, so downstream FS scoring composes unchanged.
    Records with empty token sets never pair (Jaccard undefined), and
    NULL tokens are ignored consistently: they drop at the frequency join
    and verification runs over the same null-free sorted arrays, so sizes
    and overlaps always count non-null distinct tokens.
    """
    if not (0 < threshold_ppt <= 1000):
        raise ValueError("threshold_ppt must be in (0, 1000]")
    if measure not in ("jaccard", "cosine", "dice"):
        raise ValueError(f"unknown measure: {measure!r}")
    return _ppjoin(
        records,
        tokens_col,
        id_col,
        t=int(threshold_ppt),
        scale=1000,
        measure=measure,
        max_block_size=max_block_size,
    )


def _ppjoin_candidates(
    records: DataFrame,
    tokens_col: str,
    id_col: str,
    *,
    t: int,
    scale: int,
    measure: str,
    max_block_size: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """The PPJoin kernel's candidate stage at threshold ``t / scale``:
    ``(sorted_toks, cands)`` — each record's rarest-first token list
    (``_id``, ``_sorted``, ``_n``; eagerly checkpointed) and the prefix,
    length and positional-filtered (id_a, id_b) rows, one per shared
    prefix token (not deduplicated). ``allpairs_jaccard_pairs`` documents
    the filters; ``scale`` is 1000 there and 10⁶ for
    ``setsim.jaccard_join_exact``."""
    base = records.select(
        F.col(id_col).alias("_id"),
        F.array_distinct(F.col(tokens_col)).alias("_toks"),
    ).filter(F.size("_toks") > 0)
    tok_rows = base.select("_id", F.explode("_toks").alias("tok"))
    freq = tok_rows.groupBy("tok").agg(F.count(F.lit(1)).alias("_df"))
    # per-record token list sorted by (global df, token): struct sort_array
    # keeps everything at record grain — no global rank table, no window.
    # The sorted lists feed FIVE consumers (both prefix join sides, the
    # purge scan, and both verification joins); an eager localCheckpoint
    # materializes the scan + frequency join + per-record sort exactly once
    # — the Vernica et al. formulation materializes precisely this table
    # between its ordering and joining stages (measured ~2x wall on the
    # dense-vocabulary bench corpus when recomputed per consumer).
    # The record-grain exchange is EXPLICITLY sized (REPARTITION_BY_NUM is
    # exempt from AQE coalescing): the struct-sort aggregation is CPU-dense
    # on tiny bytes, and AQE's size-based coalescing was measured collapsing
    # it to ONE task (a 5.8s serial job carrying ~60% of the bench query);
    # the aggregation reuses the pinned hash partitioning, so this adds no
    # exchange — it sizes the one that was already there.
    num_partitions = int(
        records.sparkSession.conf.get("spark.sql.shuffle.partitions")
    )
    # _n is a bigint so that n·t stays exact at scale 10⁶
    sorted_toks = cut(
        tok_rows.join(freq, "tok")
        .repartition(num_partitions, "_id")
        .groupBy("_id")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("_df", "tok"))),
                lambda s: s["tok"],
            ).alias("_sorted")
        )
        .select("_id", "_sorted", F.size("_sorted").cast("long").alias("_n")),
        eager=True,
    )
    # p = n - alpha(n) + 1, all integer: ceil(a/b) = (a + b - 1) div b
    if measure == "jaccard":
        alpha = (F.col("_n") * F.lit(t) + F.lit(scale - 1)) / F.lit(scale)
    elif measure == "cosine":
        alpha = (F.col("_n") * F.lit(t * t) + F.lit(scale**2 - 1)) / F.lit(scale**2)
    else:  # dice: ceil(t*n / (2*scale - t))
        alpha = (F.col("_n") * F.lit(t) + F.lit(2 * scale - t - 1)) / F.lit(
            2 * scale - t
        )
    prefix_len = F.col("_n") - alpha.cast("long") + F.lit(1)
    prefix = sorted_toks.select(
        "_id",
        "_n",
        F.posexplode(F.slice("_sorted", F.lit(1), prefix_len)).alias(
            "_pos", "tok"
        ),
    )
    if max_block_size is not None:
        oversized = (
            prefix.groupBy("tok")
            .agg(F.count(F.lit(1)).alias("_nb"))
            .filter(F.col("_nb") > int(max_block_size))
            .select("tok")
        )
        prefix = prefix.join(F.broadcast(oversized), "tok", "left_anti")
    a = prefix.select(
        F.col("_id").alias("id_a"),
        F.col("_n").alias("n_a"),
        F.col("_pos").alias("_pa"),
        "tok",
    )
    b = prefix.select(
        F.col("_id").alias("id_b"),
        F.col("_n").alias("n_b"),
        F.col("_pos").alias("_pb"),
        "tok",
    )
    # length filter before the distinct: a qualifying pair's sizes are
    # within the measure's factor of each other (holds automatically for
    # true pairs, so filtering candidates never costs recall)
    if measure == "jaccard":
        len_ok = F.lit(scale) * F.least("n_a", "n_b") >= F.lit(t) * F.greatest(
            "n_a", "n_b"
        )
    elif measure == "cosine":
        len_ok = F.lit(scale**2) * F.least("n_a", "n_b") >= F.lit(
            t * t
        ) * F.greatest("n_a", "n_b")
    else:  # dice
        len_ok = F.lit(2 * scale - t) * F.least("n_a", "n_b") >= F.lit(
            t
        ) * F.greatest("n_a", "n_b")
    # positional filter (PPJoin, Xiao et al. 2008): a candidate row whose
    # matched token sits at (0-based) positions (_pa, _pb) of the shared
    # global order bounds the pair's possible overlap by
    #     r = 1 + min(n_a − _pa − 1, n_b − _pb − 1)
    # (every other shared token sorts strictly later in BOTH lists — were
    # one earlier, it would itself be a shared prefix token before this
    # one). Exact recall is preserved because a qualifying pair's FIRST
    # shared prefix token always passes: its r ≥ true overlap. The check
    # is the measure's own verification inequality evaluated at r — pure
    # integers, no new constants, no oracle impact (it only drops rows
    # verification would reject).
    rem = F.lit(1) + F.least(
        F.col("n_a") - F.col("_pa") - F.lit(1),
        F.col("n_b") - F.col("_pb") - F.lit(1),
    )
    if measure == "jaccard":
        pos_ok = F.lit(scale) * rem >= F.lit(t) * (
            F.col("n_a") + F.col("n_b") - rem
        )
    elif measure == "cosine":
        pos_ok = F.lit(scale**2) * rem * rem >= F.lit(t * t) * F.col(
            "n_a"
        ) * F.col("n_b")
    else:  # dice
        pos_ok = F.lit(2 * scale) * rem >= F.lit(t) * (F.col("n_a") + F.col("n_b"))
    # candidates go to verification WITHOUT a pre-distinct: a qualifying
    # pair is generated once per shared prefix token (bounded by the prefix
    # length), so deduping first pays a full candidate-set hash aggregation
    # (measured 8.9M rows / ~9s at sf0.1 on the name-blocks corpus) to save
    # only a few percent of verification work. The explicit pair-grain
    # repartition keeps what the distinct's exchange provided — balanced
    # verify tasks immune to hot prefix-token buckets and a task count
    # pinned against AQE coalescing — and the dedup runs on the verified
    # RESULT rows (246k here), reusing the same partitioning. Identical
    # output: n_shared/n_a/n_b are functions of the pair.
    cands = (
        a.join(b, "tok")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(len_ok)
        .filter(pos_ok)
        .select("id_a", "id_b")
        .repartition(num_partitions, "id_a", "id_b")
    )
    return sorted_toks, cands


def _ppjoin(
    records: DataFrame,
    tokens_col: str,
    id_col: str,
    *,
    t: int,
    scale: int,
    measure: str,
    max_block_size: int | None = None,
) -> DataFrame:
    """The one PPJoin kernel: ``_ppjoin_candidates`` plus exact
    verification at threshold ``t / scale`` (``t`` an integer in
    (0, scale]). Returns distinct (id_a, id_b, n_shared, n_a, n_b)."""
    sorted_toks, cands = _ppjoin_candidates(
        records,
        tokens_col,
        id_col,
        t=t,
        scale=scale,
        measure=measure,
        max_block_size=max_block_size,
    )
    full = sorted_toks.select("_id", "_sorted")
    verified = (
        cands.join(full.withColumnRenamed("_id", "id_a"), "id_a")
        .withColumnRenamed("_sorted", "_ta")
        .join(full.withColumnRenamed("_id", "id_b"), "id_b")
        .withColumnRenamed("_sorted", "_tb")
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("_ta", "_tb")).cast("long").alias("n_shared"),
            F.size("_ta").cast("long").alias("n_a"),
            F.size("_tb").cast("long").alias("n_b"),
        )
        .filter(
            (
                F.lit(scale) * F.col("n_shared")
                >= F.lit(t) * (F.col("n_a") + F.col("n_b") - F.col("n_shared"))
            )
            if measure == "jaccard"
            else (
                F.lit(scale**2) * F.col("n_shared") * F.col("n_shared")
                >= F.lit(t * t) * F.col("n_a") * F.col("n_b")
            )
            if measure == "cosine"
            else (
                F.lit(2 * scale) * F.col("n_shared")
                >= F.lit(t) * (F.col("n_a") + F.col("n_b"))
            )
        )
    )
    return verified.select(
        "id_a", "id_b", "n_shared", "n_a", "n_b"
    ).dropDuplicates()


# ------------------------------------------------------------ group linkage
def group_linkage_scores(
    pair_scores: DataFrame,
    groups: DataFrame,
    *,
    id_a: str = "id_a",
    id_b: str = "id_b",
    sim_col: str = "sim_ppt",
    group_id: str = "id",
    group_col: str = "group",
    min_ges_ppt: int | None = None,
) -> DataFrame:
    """Group linkage (On, Koudas, Lee & Srivastava, ICDE 2007): lift
    record-pair similarities to GROUP-pair decisions — the
    household/citation-group problem where the entity is a SET of records
    (a household of people, a paper's author list) and two groups match
    when their members align well, even though no single record pair is
    decisive.

    Per group pair, members are aligned one-to-one and the group
    similarity is the paper's normalized measure

        GES(A, B) = Σ_matched sim / (|A| + |B| − |M|)

    — a Jaccard-style normalization where unmatched members dilute the
    score (|A|, |B| count ALL members from ``groups``, including records
    that produced no candidate pair at all). The paper's one-to-one
    alignment is maximum-weight bipartite matching; distributed here as
    MUTUAL-BEST within each group pair (a pair survives iff it is both
    members' best partner inside that group pair) — the standard
    greedy-optimal approximation, exact whenever the true matching is
    unambiguous, and engine-reproducible: pair-grain max first, then two
    row_number windows over exact bigint sims with partner-id tie-breaks.

    Inputs: ``pair_scores`` at record-pair grain with a non-negative
    bigint ppt similarity; ``groups`` maps record id → group id. Pairs
    whose records share a group are dropped (within-group affinity is
    not cross-group evidence). Group pairs canonicalize to
    group_a < group_b; record orientation follows the group swap so the
    matching stays bipartite. Output one row per group pair:
    (group_a, group_b, n_matched, sum_sim_ppt, n_a, n_b, ges_ppt) with
    ges_ppt = sum_sim_ppt div (n_a + n_b − n_matched) — sum-of-bigints
    plus ONE integer division, exact on any engine. ``min_ges_ppt``
    filters the output (the decision threshold).

    Scale shape: two narrow joins attach group ids to pair rows, the
    matching is windows over (group_a, group_b, member) keys — pair-grain
    rows only, nothing wider shuffles; group sizes come from one
    map-combinable count. Skewed mega-groups cost what their candidate
    pairs cost — bound THOSE with the blocking purge upstream.
    """
    g = groups.select(
        F.col(group_id).alias("_gid"), F.col(group_col).alias("_g")
    )
    p = (
        pair_scores.select(
            F.col(id_a).alias("_ra"),
            F.col(id_b).alias("_rb"),
            F.col(sim_col).cast("long").alias("_sim"),
        )
        .join(g.withColumnRenamed("_gid", "_ra").withColumnRenamed("_g", "_ga"), "_ra")
        .join(g.withColumnRenamed("_gid", "_rb").withColumnRenamed("_g", "_gb"), "_rb")
        .filter(F.col("_ga") != F.col("_gb"))
    )
    swap = F.col("_ga") > F.col("_gb")
    oriented = p.select(
        F.when(swap, F.col("_gb")).otherwise(F.col("_ga")).alias("group_a"),
        F.when(swap, F.col("_ga")).otherwise(F.col("_gb")).alias("group_b"),
        F.when(swap, F.col("_rb")).otherwise(F.col("_ra")).alias("_ma"),
        F.when(swap, F.col("_ra")).otherwise(F.col("_rb")).alias("_mb"),
        "_sim",
    )
    # pair-grain max: duplicate candidate rows must not take
    # window-inconsistent row_numbers (the mutual_best_matches rule)
    pairs = oriented.groupBy("group_a", "group_b", "_ma", "_mb").agg(
        F.max("_sim").alias("_sim")
    )
    wa = Window.partitionBy("group_a", "group_b", "_ma").orderBy(
        F.col("_sim").desc(), F.col("_mb").asc()
    )
    wb = Window.partitionBy("group_a", "group_b", "_mb").orderBy(
        F.col("_sim").desc(), F.col("_ma").asc()
    )
    matched = (
        pairs.withColumn("_rn_a", F.row_number().over(wa))
        .withColumn("_rn_b", F.row_number().over(wb))
        .filter((F.col("_rn_a") == 1) & (F.col("_rn_b") == 1))
    )
    gm = matched.groupBy("group_a", "group_b").agg(
        F.count(F.lit(1)).cast("long").alias("n_matched"),
        F.sum("_sim").cast("long").alias("sum_sim_ppt"),
    )
    sizes = g.groupBy("_g").agg(F.count(F.lit(1)).cast("long").alias("_gn"))
    out = (
        gm.join(
            sizes.select(F.col("_g").alias("group_a"), F.col("_gn").alias("n_a")),
            "group_a",
        )
        .join(
            sizes.select(F.col("_g").alias("group_b"), F.col("_gn").alias("n_b")),
            "group_b",
        )
        .select(
            "group_a",
            "group_b",
            "n_matched",
            "sum_sim_ppt",
            "n_a",
            "n_b",
            F.expr("sum_sim_ppt div (n_a + n_b - n_matched)")
            .cast("long")
            .alias("ges_ppt"),
        )
    )
    if min_ges_ppt is not None:
        out = out.filter(F.col("ges_ppt") >= int(min_ges_ppt))
    return out


def soft_tfidf_scores(
    pairs: DataFrame,
    tokens: DataFrame,
    theta_micro: int = 900_000,
) -> DataFrame:
    """Soft-TFIDF hybrid comparator (Cohen, Ravikumar & Fienberg,
    IIWeb 2003): TFIDF cosine where tokens need not match exactly —
    each left-side token is paired with its BEST Jaro-Winkler partner on
    the right (if jw ≥ theta), and the pair contributes the product of
    the two TFIDF unit-vector weights scaled by that similarity. The
    hallmark ER comparator for multi-token names where typos break exact
    token overlap but JW still sees the tokens ("Customer 00042x" vs
    "Customer 000429").

    ``pairs``: (id_a, id_b) blocked candidate pairs. ``tokens``:
    (id, tok) DISTINCT record tokens (caller tokenizes). Returns one row
    per pair: ``id_a id_b n_close soft_tfidf_micro`` — pairs whose token
    sets share no θ-close token score 0, never vanish.

    Exact cross-engine arithmetic (the fs/vmeasure micro conventions):
    idf weights are milli-floored bigints w = floor(10³·ln(1 + N/df));
    record norms are EXACT bigint sums of w² (the 10³ cancels in the
    normalized vector, so no float ever rides a Spark/DuckDB SUM); the
    best-partner argmax ranks by the bit-exact integer jw_micro
    (fuzzy.jaro_winkler_micro ≡ DuckDB jaro_winkler_similarity, fuzz-
    pinned) with ties broken by token string; each close pair then
    contributes floor(w_a·w_b·jw_micro / (sqrt(norm_a²)·sqrt(norm_b²)))
    — a single double division with identical operation order on both
    engines (numerator ≤ 4·10¹⁴, exactly representable) — and the final
    score is the order-independent bigint sum of those floors.

    Scale shape: one df groupBy over the token table, one narrow
    norm-groupBy per record, then the comparator runs ONLY on blocked
    pairs (tokens-per-record is small, so the in-pair token join is a
    bounded fan-out, never a cross product); the argmax is a window by
    (pair, left token) — skew-bounded by the blocking that produced the
    pairs.
    """
    n_recs = tokens.select("id").distinct().count()
    df_t = tokens.groupBy("tok").agg(
        F.countDistinct("id").cast("long").alias("df")
    )
    w = (
        tokens.join(df_t, "tok")
        .select(
            "id",
            "tok",
            F.expr(
                f"cast(floor(1000.0 * ln(1.0 + cast({n_recs} as double)"
                " / cast(df as double))) as bigint)"
            ).alias("w_milli"),
        )
    )
    norm2 = w.groupBy("id").agg(
        F.sum(F.expr("w_milli * w_milli")).cast("long").alias("norm2")
    )
    ta = w.select(
        F.col("id").alias("id_a"),
        F.col("tok").alias("tok_a"),
        F.col("w_milli").alias("wa"),
    )
    tb = w.select(
        F.col("id").alias("id_b"),
        F.col("tok").alias("tok_b"),
        F.col("w_milli").alias("wb"),
    )
    from xlink_spark.operators.fuzzy import jaro_winkler_micro

    cand = (
        pairs.join(ta, "id_a")
        .join(tb, "id_b")
        .withColumn(
            "jw_micro", jaro_winkler_micro(F.col("tok_a"), F.col("tok_b"))
        )
        .filter(F.col("jw_micro") >= F.lit(int(theta_micro)))
    )
    best = cand.withColumn(
        "_rn",
        F.row_number().over(
            Window.partitionBy("id_a", "id_b", "tok_a").orderBy(
                F.col("jw_micro").desc(), F.col("tok_b").asc()
            )
        ),
    ).filter(F.col("_rn") == 1)
    terms = (
        best.join(norm2.select(F.col("id").alias("id_a"), F.col("norm2").alias("na2")), "id_a")
        .join(norm2.select(F.col("id").alias("id_b"), F.col("norm2").alias("nb2")), "id_b")
        .select(
            "id_a",
            "id_b",
            F.expr(
                "cast(floor(cast(wa * wb * jw_micro as double)"
                " / (sqrt(cast(na2 as double)) * sqrt(cast(nb2 as double))))"
                " as bigint)"
            ).alias("term_micro"),
        )
    )
    scored = terms.groupBy("id_a", "id_b").agg(
        F.count(F.lit(1)).cast("long").alias("n_close"),
        F.sum("term_micro").cast("long").alias("soft_tfidf_micro"),
    )
    return (
        pairs.join(scored, ["id_a", "id_b"], "left")
        .select(
            "id_a",
            "id_b",
            F.coalesce("n_close", F.lit(0)).cast("long").alias("n_close"),
            F.coalesce("soft_tfidf_micro", F.lit(0))
            .cast("long")
            .alias("soft_tfidf_micro"),
        )
    )


def truth_discovery(
    claims: DataFrame,
    obj_col: str,
    src_col: str,
    val_col: str,
    iterations: int = 2,
    init_trust_ppt: int = 500,
    method: str = "sums",
) -> DataFrame:
    """Truth discovery over conflicting claims — the data-fusion stage a
    linkage deployment runs AFTER clustering, when the records merged
    into one entity assert different attribute values and majority
    voting is not enough because sources differ in reliability.

    The fixed-point is the "Sums"-style mutual reinforcement of
    Pasternack & Roth (COLING 2010; TruthFinder's voting core without
    its sigmoid): claim confidence grows with the trust of the sources
    asserting it, source trust grows with the confidence of its claims.

    ``claims``: one row per (obj, src, val) assertion (deduped here).
    Engine-exact integer semantics, unrollable on any SQL engine: every
    source starts at ``init_trust_ppt``; iteration i computes

    * conf_i(o,v)  = (1000 · Σ trust of sources asserting (o,v))
                     div (Σ trust of sources asserting ANY value of o)
    * trust_i(s)   = (Σ conf_i of s's claims) div n_claims(s)

    with bigint floor division throughout — no float ever crosses an
    aggregation, so K iterations hash identically on Spark and DuckDB.
    Returns claim-value grain: (obj, val, conf_ppt, n_sources) after the
    last iteration. ``source_trust`` exposes the companion trust table.

    ``method='avg_log'`` switches the trust update to Pasternack & Roth's
    Average-Log: trust_i(s) = (Σ conf_i · ⌊10⁶·ln(n_claims)⌋) div
    (n_claims · 10⁶) — the same average confidence DISCOUNTED by claim
    volume, so a source asserting two facts can no longer outrank the
    encyclopedia asserting ten thousand just by keeping its tiny claim
    set clean (Sums' known pathology). The single float op is the
    ⌊10⁶·ln(n)⌋ micro-floor of a bigint count, the repo's standard
    shared-expression pattern (both engines evaluate the identical
    double chain; the hash-oracle pins it); everything else stays
    bigint. A one-claim source gets ln(1) = 0 — zero trust, the
    documented Average-Log behavior.

    Scale shape: each iteration is two claim-grain groupBys plus two
    narrow equi-joins (all map-side combinable; no windows); the
    object-denominator join keys on obj, the trust join on src —
    both the natural partitionings of a claims lake.
    """
    if method not in ("sums", "avg_log"):
        raise ValueError(f"method must be sums or avg_log, got {method!r}")
    c = (
        claims.select(
            F.col(obj_col).alias("obj"),
            F.col(src_col).alias("src"),
            F.col(val_col).alias("val"),
        )
        .distinct()
    )
    trust = c.select("src").distinct().select(
        "src", F.lit(int(init_trust_ppt)).cast("long").alias("trust_ppt")
    )
    conf = None
    for _ in range(int(iterations)):
        ct = c.join(trust, "src")
        conf_num = ct.groupBy("obj", "val").agg(
            F.sum("trust_ppt").cast("long").alias("num"),
            F.count(F.lit(1)).cast("long").alias("n_sources"),
        )
        conf_den = ct.groupBy("obj").agg(
            F.sum("trust_ppt").cast("long").alias("den")
        )
        conf = conf_num.join(conf_den, "obj").select(
            "obj",
            "val",
            # den = 0 is reachable under avg_log (a one-claim source has
            # ln(1) = 0 trust; an object claimed ONLY by zero-trust
            # sources has no evidence) — such values get conf 0 instead
            # of a divide-by-zero; Sums keeps every trust positive and
            # never takes this branch
            F.expr("case when den = 0 then 0 else (1000 * num) div den end")
            .cast("long")
            .alias("conf_ppt"),
            "n_sources",
        )
        trust_expr = (
            "(sum(conf_ppt) * cast(floor(1000000 * ln(cast(count(*) as"
            " double))) as bigint)) div (count(*) * 1000000)"
            if method == "avg_log"
            else "sum(conf_ppt) div count(*)"
        )
        trust = (
            c.join(conf.select("obj", "val", "conf_ppt"), ["obj", "val"])
            .groupBy("src")
            .agg(F.expr(trust_expr).cast("long").alias("trust_ppt"))
        )
    return conf


def source_trust(
    claims: DataFrame,
    obj_col: str,
    src_col: str,
    val_col: str,
    iterations: int = 2,
    init_trust_ppt: int = 500,
    method: str = "sums",
) -> DataFrame:
    """Companion to ``truth_discovery``: the per-source trust table
    (src, trust_ppt, n_claims) after the SAME K engine-exact iterations
    — the reliability ranking a fusion deployment audits and feeds back
    into survivorship. Recomputes the identical fixed-point chain (the
    frames are tiny relative to the claims scan; sharing would force a
    persist the caller may not want)."""
    c = (
        claims.select(
            F.col(obj_col).alias("obj"),
            F.col(src_col).alias("src"),
            F.col(val_col).alias("val"),
        )
        .distinct()
    )
    conf = truth_discovery(
        claims, obj_col, src_col, val_col,
        iterations=iterations, init_trust_ppt=init_trust_ppt,
        method=method,
    )
    trust_expr = (
        "(sum(conf_ppt) * cast(floor(1000000 * ln(cast(count(*) as"
        " double))) as bigint)) div (count(*) * 1000000)"
        if method == "avg_log"
        else "sum(conf_ppt) div count(*)"
    )
    return (
        c.join(conf.select("obj", "val", "conf_ppt"), ["obj", "val"])
        .groupBy("src")
        .agg(
            F.expr(trust_expr).cast("long").alias("trust_ppt"),
            F.count(F.lit(1)).cast("long").alias("n_claims"),
        )
    )


def fused_values(conf: DataFrame) -> DataFrame:
    """Winner extraction over ``truth_discovery`` output: the value with
    the highest confidence per object, ties to the smallest value string
    — one narrow min-struct aggregation (no window), the cross-engine
    argmax convention used throughout this module. Returns
    (obj, val, conf_ppt, n_sources)."""
    pick = conf.groupBy("obj").agg(
        F.min(
            F.struct(
                (-F.col("conf_ppt")).alias("nc"),
                F.col("val").alias("val"),
            )
        ).alias("p")
    )
    return (
        pick.select("obj", F.col("p.val").alias("val"))
        .join(conf, ["obj", "val"])
        .select("obj", "val", "conf_ppt", "n_sources")
    )


def one_to_one_matches(
    scores: DataFrame,
    left_col: str,
    right_col: str,
    score_col: str,
    rounds: int = 3,
) -> DataFrame:
    """Iterated one-to-one assignment for clean-clean ER: K rounds of
    mutual-best-then-remove — the locally-dominant-edge matching of
    Preis (1999) / Manne & Bisseling (2007), the standard distributed
    ½-approximation of maximum-weight bipartite matching.

    ``mutual_best_matches`` decides in ONE shot: a pair survives only if
    it is simultaneously its left's best right and its right's best
    left. That leaves money on the table — when record L's best right R
    prefers a different left, L goes UNMATCHED even though its
    second-best right is free. Iterating fixes it: each round accepts
    every mutual-best (locally dominant) pair among the REMAINING
    candidates, removes both matched sides, and re-runs on what is left.
    With a strict total order on (score desc, right asc, left asc) —
    ties broken deterministically, so the order is total even with
    duplicate scores — the fixed point equals the SEQUENTIAL best-first
    greedy matching (scan pairs by descending score, accept when both
    sides are free): a greedy-accepted pair is dominant the moment its
    blockers are consumed, and rounds consume blockers in exactly that
    order.

    After ``rounds`` rounds, still-unmatched pairs are simply absent
    (exact-K semantics, oracle-unrollable); each output row carries the
    round it was accepted in. Scale shape: per round two narrow windows
    on the two pair-id keys + two anti-joins over a candidate list that
    shrinks geometrically (each round matches every locally-dominant
    edge, ≥ half the remaining weight in the classic analysis); lineage
    truncated per round via localCheckpoint.

    Output: (left_col, right_col, score_col, round).
    """
    pairs = scores.groupBy(left_col, right_col).agg(
        F.max(score_col).alias(score_col)
    )
    wa = Window.partitionBy(left_col).orderBy(
        F.col(score_col).desc(), F.col(right_col).asc()
    )
    wb = Window.partitionBy(right_col).orderBy(
        F.col(score_col).desc(), F.col(left_col).asc()
    )
    cur = cut(pairs, eager=True)
    accepted = []
    for rnd in range(1, rounds + 1):
        m = cut(
            cur.withColumn("_rn_a", F.row_number().over(wa))
            .withColumn("_rn_b", F.row_number().over(wb))
            .filter((F.col("_rn_a") == 1) & (F.col("_rn_b") == 1))
            .drop("_rn_a", "_rn_b")
            .withColumn("round", F.lit(rnd).cast("int")),
            # LAZY: cur's eager checkpoint below consumes m on both
            # anti-join legs, so one job per round materializes both
            eager=False,
        )
        accepted.append(m)
        cur = cut(
            cur.join(m.select(left_col), left_col, "anti")
            .join(m.select(right_col), right_col, "anti"),
            eager=True,
        )
        if cur.isEmpty():
            break
    out = accepted[0]
    for f in accepted[1:]:
        out = out.unionByName(f)
    return out


def canopy_candidate_pairs(
    records: DataFrame,
    key_col: str,
    id_col: str,
    q: int = 4,
    loose: int = 1,
    tight: int = 2,
    rounds: int = 3,
    max_block_size: int | None = 50,
) -> DataFrame:
    """Canopy blocking as a candidate generator (McCallum, Nigam & Ungar
    KDD 2000) — the composition `er_blocking_compare`'s canopy gauge
    measures, packaged for the ER job: distinct character q-grams of the
    blocking key, stop-grams purged above ``max_block_size`` (the
    inverted index's hot-postings cap), pairwise shared-gram counts as
    the CHEAP similarity, deterministic id-order canopies at
    (``loose``, ``tight``), and finally the DISTINCT pairs sharing >= 1
    canopy — the only pairs the expensive comparator downstream will
    ever score. Records with no (kept) gram at all become singleton
    canopies and simply produce no pairs, never an error.

    Returns (id_a, id_b, n_canopies) with id_a < id_b; ``n_canopies``
    counts how many canopies the pair co-occurs in — a cheap match
    prior, the multipass n_passes precedent. Scale shape: one gram
    explode + purge anti-join, a bounded postings self-join, the
    canopy rounds (narrow, shrinking), and one membership self-join
    keyed on canopy id.
    """
    from xlink_spark.operators.cluster import canopy_clusters

    if q < 1:
        raise ValueError(f"q must be >= 1, got {q}")
    ids = records.select(F.col(id_col).cast("long").alias("a"))
    grams = records.select(
        F.col(id_col).cast("long").alias("id"),
        F.explode(
            F.when(
                F.length(key_col) >= q,
                F.array_distinct(
                    F.transform(
                        F.sequence(F.lit(1), F.length(key_col) - F.lit(q - 1)),
                        lambda i: F.col(key_col).substr(i, F.lit(q)),
                    )
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("g"),
    )
    if max_block_size is not None:
        over = (
            grams.groupBy("g")
            .agg(F.count(F.lit(1)).alias("_n"))
            .filter(F.col("_n") > int(max_block_size))
            .select("g")
        )
        grams = grams.join(F.broadcast(over), "g", "left_anti")
    sims = (
        grams.alias("x")
        .join(
            grams.alias("y"),
            (F.col("y.g") == F.col("x.g")) & (F.col("x.id") < F.col("y.id")),
        )
        .groupBy(F.col("x.id").alias("a"), F.col("y.id").alias("b"))
        .agg(F.count(F.lit(1)).cast("long").alias("sim"))
    )
    mem = canopy_clusters(
        sims, "sim", loose=loose, tight=tight, rounds=rounds, nodes=ids
    ).select("node", "canopy").distinct()
    return (
        mem.alias("m1")
        .join(
            mem.alias("m2"),
            (F.col("m2.canopy") == F.col("m1.canopy"))
            & (F.col("m1.node") < F.col("m2.node")),
        )
        .groupBy(
            F.col("m1.node").alias("id_a"), F.col("m2.node").alias("id_b")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_canopies"))
    )


def progressive_snm_curve(
    records: DataFrame,
    key_col: str,
    order_cols: list[str],
    id_col: str,
    *,
    max_window: int = 8,
    entity_col: str = "entity",
) -> DataFrame:
    """Progressive / pay-as-you-go ER gauge (Whang, Marmaros &
    Garcia-Molina, ICDE 2013): SNM's quality-vs-budget frontier as the
    window widens, one row per window 2..``max_window``.

    Progressive resolution asks "which comparisons FIRST?" — for sorted
    neighborhoods the answer is rank distance: dist-1 pairs are the
    best-yield slice, each +1 of window buys the next slice at strictly
    worse marginal yield. This gauge measures that frontier exactly:
    per window w, the NEW pairs at rank distance w-1, the new true
    matches among them (``entity_col`` equality), cumulative pairs /
    matches, and cumulative recall against ALL true pairs (the pairwise
    denominator Σ_e C(n_e, 2), computed from entity group sizes — no
    true pair is ever materialized). A deployment reads the curve to
    pick the window where marginal recall per comparison stops paying
    for itself — at 10^12 records, moving w from 8 to 4 halves the
    candidate volume, and this table says what that costs in recall.

    All counts exact bigints; ``recall_micro`` is the one floor-division
    (cum_matches · 10⁶ div true_pairs). Scale shape: one SNM pair pass at
    the WIDEST window (each narrower curve point is a filter of it, not
    a re-run), one groupBy(dist), a W-row cumulative window, and a
    map-combinable entity-size aggregation — the curve costs the same as
    the single widest run.

    Returns (window, new_pairs, new_matches, cum_pairs, cum_matches,
    true_pairs, recall_micro) ordered by window.
    """
    if max_window < 2:
        raise ValueError("max_window must be >= 2")
    lbl = records.select(
        F.col(id_col).alias("_id"), F.col(entity_col).alias("_ent")
    )
    pairs = sorted_neighborhood_pairs(
        records, key_col, order_cols, id_col, window=max_window
    )
    la = lbl.select(F.col("_id").alias("id_a"), F.col("_ent").alias("_ea"))
    lb = lbl.select(F.col("_id").alias("id_b"), F.col("_ent").alias("_eb"))
    per_dist = (
        pairs.join(la, "id_a")
        .join(lb, "id_b")
        .groupBy("dist")
        .agg(
            F.count(F.lit(1)).cast("long").alias("new_pairs"),
            F.sum(
                F.when(F.col("_ea") == F.col("_eb"), 1).otherwise(0)
            ).cast("long").alias("new_matches"),
        )
    )
    # every window point exists even when a distance slice is empty
    frame = records.sparkSession.range(1, int(max_window)).select(
        F.col("id").alias("dist")
    )
    # partitionBy(lit) on the W-row frame: same semantics, and the plan
    # never claims a global single-partition sort over real data
    w = (
        Window.partitionBy(F.lit(0))
        .orderBy("dist")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    truth = lbl.groupBy("_ent").agg(F.count(F.lit(1)).alias("_n")).agg(
        F.coalesce(F.sum(F.expr("_n * (_n - 1) div 2")), F.lit(0))
        .cast("long")
        .alias("true_pairs")
    )
    return (
        frame.join(per_dist, "dist", "left")
        .select(
            "dist",
            F.coalesce("new_pairs", F.lit(0)).cast("long").alias("new_pairs"),
            F.coalesce("new_matches", F.lit(0))
            .cast("long")
            .alias("new_matches"),
        )
        .withColumn("cum_pairs", F.sum("new_pairs").over(w).cast("long"))
        .withColumn("cum_matches", F.sum("new_matches").over(w).cast("long"))
        .crossJoin(F.broadcast(truth))
        .select(
            (F.col("dist") + 1).cast("long").alias("window"),
            "new_pairs",
            "new_matches",
            "cum_pairs",
            "cum_matches",
            "true_pairs",
            F.expr(
                "case when true_pairs > 0"
                " then cum_matches * 1000000 div true_pairs"
                " else 1000000 end"
            ).cast("long").alias("recall_micro"),
        )
    )


def _vb_sign_expr(p: int, seed: str) -> str:
    """±1 plane component for (plane p, dim column d): the parity of the
    first md5 hex nibble of 'seed:p:d' — the same expression renders on
    Spark and DuckDB, so both engines hold the identical plane matrix
    without shipping literals."""
    return (
        f"case when pmod(cast(conv(substring(md5(concat('{seed}:', "
        f"cast({p} as string), ':', cast(d as string))), 1, 1), 16, 10) "
        f"as int), 2) = 0 then 1 else -1 end"
    )


def hashed_ngram_vectors(
    records: DataFrame,
    text_col: str,
    id_col: str,
    *,
    q: int = 3,
    dim: int = 64,
) -> DataFrame:
    """Long-form hashed q-gram count vectors: (id, d, v) with
    d = md5(gram) mod ``dim`` and v the gram count — the feature-hashing
    trick (Weinberger et al. 2009) rendered as portable md5 arithmetic.
    Texts shorter than ``q`` produce no rows (a zero vector). Scan-speed
    exprs only; the long form is the join-friendly shape for exact
    integer dot products downstream."""
    if q < 1:
        raise ValueError("q must be >= 1")
    if dim < 2:
        raise ValueError("dim must be >= 2")
    t = records.select(
        F.col(id_col).alias("id"), F.lower(F.col(text_col)).alias("_t")
    )
    grams = t.select(
        "id",
        F.explode(
            F.when(
                F.length("_t") >= q,
                F.expr(
                    f"transform(sequence(1, length(_t) - {q - 1}),"
                    f" i -> substring(_t, i, {q}))"
                ),
            ).otherwise(F.expr("array()"))
        ).alias("g"),
    )
    return (
        grams.withColumn(
            "d",
            F.expr(
                f"pmod(cast(conv(substring(md5(g), 1, 8), 16, 10)"
                f" as bigint), {dim})"
            ),
        )
        .groupBy("id", "d")
        .agg(F.count(F.lit(1)).cast("long").alias("v"))
    )


def vector_blocking_pairs(
    records: DataFrame,
    text_col: str,
    id_col: str,
    *,
    q: int = 3,
    dim: int = 64,
    planes: int = 48,
    band_rows: int = 8,
    threshold_ppt: int = 750,
    seed: str = "vb",
    verify: bool = True,
    materialize: bool = False,
) -> DataFrame:
    """LSH / vector-based blocking for record linkage (the family Steorts,
    Ventura, Sadinle & Fienberg 2014 benchmark as "LSH blocking"; the
    modern survey name is vector/deep blocking): candidate pairs whose
    hashed q-gram COUNT vectors land in the same sign-random-projection
    band bucket, verified by an EXACT integer cosine test.

    Pipeline, no floats anywhere:

    1. feature hashing — ``hashed_ngram_vectors`` (id, d, v) counts;
    2. SRP signature — ``planes`` md5-derived ±1 hyperplanes (a dim-row
       broadcast sign table, never a literal matrix); plane sums are
       exact integer Σ v·sign, bit = (sum > 0);
    3. banding — ``planes/band_rows`` bands of ``band_rows`` bits each;
       one (band, code) equi-join generates candidates (the
       simhash_near_pairs shape: collision probability per bit is
       1 − θ/π, per band p^rows, so band count × width trade recall
       against fan-out);
    4. verification — exact integer cosine: accept iff dot > 0 and
       dot²·10⁶ ≥ threshold_ppt²·|a|²·|b|² (squares both sides instead
       of rooting: every quantity stays a bigint; with gram counts ≤
       ~10³ per dim the products stay far inside int64).

    Returns (id_a, id_b, dot, norm_a, norm_b, cos2_ppm) where cos2_ppm =
    dot²·10⁶ div (norm_a·norm_b) — the floor of the SQUARED cosine in
    ppm, monotone in the true cosine for accepted (dot > 0) pairs.

    Scale shape at 10^12 records: signatures are one groupBy over narrow
    (id, d, v) rows with ``planes`` map-combinable sums; candidates ride
    a (band, code) equi-join of (id, band, code) triples; verification
    joins the long-form vectors pair-locally (≤ dim rows per pair). The
    recall/fan-out dial is (planes, band_rows) exactly as in the LSH
    literature — more bands buy recall linearly in signature cost, wider
    bands cut fan-out exponentially. ``materialize=True`` eager-
    checkpoints the shared (id, d, v) frame so its four consumers read
    it once instead of re-running the gram scan — the at-scale mode;
    the default keeps plan construction action-free.
    """
    if planes < 1 or band_rows < 1 or planes % band_rows != 0:
        raise ValueError("planes must be a positive multiple of band_rows")
    if not 0 < threshold_ppt <= 1000:
        raise ValueError("threshold_ppt must be in (0, 1000]")
    n_bands = planes // band_rows
    vec = hashed_ngram_vectors(
        records, text_col, id_col, q=q, dim=dim
    )
    if materialize:
        # the (id, d, v) frame feeds four consumers (plane sums, norms,
        # and both verification sides); at corpus scale recomputing the
        # gram scan 4x dominates — eager-checkpoint it once (the Vernica
        # materialization-point precedent in allpairs_jaccard_pairs).
        # Default False keeps plan construction action-free.
        vec = cut(vec, eager=True)
    spark = records.sparkSession
    # the plane-sum exchange is CPU-dense on tiny bytes (``planes``
    # multiply-accumulates per vector row) — size it explicitly
    # (REPARTITION_BY_NUM is exempt from AQE coalescing, which was measured
    # collapsing it to ONE task; the downstream aggregation reuses the
    # pinned hash partitioning, so no exchange is added). The verify
    # exchange below is not pinned and stays subject to AQE coalescing.
    num_partitions = int(spark.conf.get("spark.sql.shuffle.partitions"))
    signs = spark.range(dim).select(
        F.col("id").alias("d"),
        *[
            F.expr(_vb_sign_expr(p, seed)).cast("long").alias(f"_s{p}")
            for p in range(planes)
        ],
    )
    sums = (
        vec.join(F.broadcast(signs), "d")
        .repartition(num_partitions, "id")
        .groupBy("id")
        .agg(
            *[
                F.sum(F.col("v") * F.col(f"_s{p}")).alias(f"_p{p}")
                for p in range(planes)
            ]
        )
    )
    code_exprs = []
    for b in range(n_bands):
        bits = " + ".join(
            f"(case when _p{b * band_rows + r} > 0 then {1 << r} else 0 end)"
            for r in range(band_rows)
        )
        code_exprs.append(f"{b}, ({bits})")
    coded = sums.select(
        "id",
        F.expr(
            f"stack({n_bands}, "
            + ", ".join(code_exprs)
            + ") as (band, code)"
        ),
    )
    cand = (
        coded.alias("x")
        .join(
            coded.alias("y"),
            (F.col("y.band") == F.col("x.band"))
            & (F.col("y.code") == F.col("x.code"))
            & (F.col("x.id") < F.col("y.id")),
        )
        .select(
            F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b")
        )
        .distinct()
    )
    if not verify:
        # candidate-generation gauge mode: the distinct band-collision
        # pairs the verifier WOULD compare (er_blocking_compare's comps
        # definition for filter-verify schemes)
        return cand
    norms = vec.groupBy("id").agg(
        F.sum(F.expr("v * v")).cast("long").alias("norm")
    )
    va = vec.select(F.col("id").alias("id_a"), "d", F.col("v").alias("_va"))
    vb = vec.select(F.col("id").alias("id_b"), "d", F.col("v").alias("_vb"))
    dots = (
        cand.join(va, "id_a")
        .join(vb, ["id_b", "d"])
        .groupBy("id_a", "id_b")
        .agg(F.sum(F.expr("_va * _vb")).cast("long").alias("dot"))
    )
    t2 = int(threshold_ppt) * int(threshold_ppt)
    return (
        dots.join(norms.withColumnRenamed("id", "id_a").withColumnRenamed("norm", "norm_a"), "id_a")
        .join(norms.withColumnRenamed("id", "id_b").withColumnRenamed("norm", "norm_b"), "id_b")
        .filter(
            (F.col("dot") > 0)
            & (
                F.col("dot") * F.col("dot") * F.lit(1000000)
                >= F.lit(t2) * F.col("norm_a") * F.col("norm_b")
            )
        )
        .select(
            "id_a",
            "id_b",
            "dot",
            "norm_a",
            "norm_b",
            F.expr("dot * dot * 1000000 div (norm_a * norm_b)")
            .cast("long")
            .alias("cos2_ppm"),
        )
    )


def iterative_merge_er(
    values: DataFrame,
    fields: list[str],
    *,
    id_col: str = "id",
    field_col: str = "fld",
    value_col: str = "val",
    block_field: str | None = None,
    max_rounds: int = 5,
) -> DataFrame:
    """Iterative merge-based ER — the Swoosh family (Benjelloun, Garcia-
    Molina et al., VLDB J. 2009) with union merge: match → merge →
    RE-MATCH THE MERGED PROFILES until fixpoint. Union-merged profiles
    carry evidence no single source record holds (a name from record a
    plus a key from record b), so rounds after the first find matches
    that one-shot pairwise matching + transitive closure provably cannot
    — the reason the Swoosh papers put merge INSIDE the loop.

    Input is long-form evidence: one row per (record, field, value) in
    ``values`` (``id_col``/``field_col``/``value_col``); ``fields`` is
    the match rule — two profiles match iff their value sets overlap on
    EVERY listed field (rows with other field names are ignored). Union
    merge in long form is just entity-id relabeling, which is what keeps
    every step relational:

    per round — 1. candidates: profiles sharing any ``block_field``
    value (default fields[0]; sound AND complete for the all-fields
    rule, which requires that overlap anyway); 2. match: one join per
    candidate pair on (field, value) counting distinct overlapping
    fields = len(fields); 3. merge: match edges feed the iterative
    large/small-star ``connected_components`` job and the component map
    relabels profile ids (distinct) — no arrays, no flattening, no
    collect. The loop stops when a round finds no match edge or at
    ``max_rounds``.

    Returns the member map (entity_id, member_id, rounds_used,
    converged): entity_id is the min original record id of the merged
    profile (the CC convention), rounds_used counts merge rounds that
    found edges, converged is false only when max_rounds cut the loop
    while edges were still appearing. Final per-entity value sets are
    one relabel away: join ``values`` on member_id.

    Scale shape at 10^12 records: profiles and evidence stay narrow
    (eid, field, value) rows; candidates ride one equi-join per round on
    the block field's values (purge-able upstream like any blocking
    key); the overlap count is an equi-join + groupBy; each round's CC
    runs on the match edges only. Lineage is truncated every round
    (localCheckpoint) — the incremental-CC precedent. Rounds needed in
    practice: the paper's fixtures and ours converge in 2-3.

    Reference anchor: the reference links each mention once and never
    revisits (xlink.py:107-176 is one-shot) — iterative merge is the
    capability a KB-construction deployment adds on top.
    """
    if not fields:
        raise ValueError("fields must be non-empty")
    if max_rounds < 1:
        raise ValueError("max_rounds must be >= 1")
    bf = block_field if block_field is not None else fields[0]
    if bf not in fields:
        raise ValueError("block_field must be one of fields")
    from xlink_spark.operators.cluster import connected_components

    nf = len(set(fields))
    vals = (
        values.select(
            F.col(id_col).cast("long").alias("eid"),
            F.col(field_col).alias("fld"),
            F.col(value_col).alias("val"),
        )
        .filter(F.col("fld").isin(list(set(fields))))
        .distinct()
    )
    members = vals.select(
        "eid", F.col("eid").alias("member_id")
    ).distinct()
    rounds_used = 0
    converged = True
    for _ in range(int(max_rounds)):
        blk = vals.filter(F.col("fld") == bf).select("eid", "val")
        cand = (
            blk.alias("x")
            .join(
                blk.alias("y"),
                (F.col("y.val") == F.col("x.val"))
                & (F.col("x.eid") < F.col("y.eid")),
            )
            .select(F.col("x.eid").alias("ea"), F.col("y.eid").alias("eb"))
            .distinct()
        )
        va = vals.select(F.col("eid").alias("ea"), "fld", "val")
        vb = vals.select(F.col("eid").alias("eb"), "fld", "val")
        edges = cut(
            cand.join(va, "ea")
            .join(vb, ["eb", "fld", "val"])
            .groupBy("ea", "eb")
            .agg(F.count_distinct("fld").alias("_nf"))
            .filter(F.col("_nf") == nf)
            .select(F.col("ea").alias("src"), F.col("eb").alias("dst")),
            eager=True,
        )
        if edges.isEmpty():
            break
        rounds_used += 1
        comp = connected_components(edges).select(
            F.col("node").alias("eid"), F.col("component")
        )
        relabel = lambda df: cut(  # noqa: E731 — round-local helper
            df.join(comp, "eid", "left")
            .withColumn("eid", F.coalesce("component", "eid"))
            .drop("component")
            .distinct(),
            # LAZY: the next round's eager edge checkpoint (or the final
            # members projection) materializes the relabeled state —
            # lineage truncates identically with one fewer job per round
            eager=False,
        )
        vals = relabel(vals)
        members = relabel(members)
    else:
        # max_rounds exhausted with the last round still finding edges:
        # one more candidate pass would be needed to certify fixpoint
        converged = False
    return members.select(
        F.col("eid").alias("entity_id"),
        "member_id",
        F.lit(rounds_used).cast("long").alias("rounds_used"),
        F.lit(converged).alias("converged"),
    )


def collective_er(
    pairs: DataFrame,
    relations: DataFrame,
    nodes: DataFrame,
    *,
    attr_col: str = "attr_micro",
    boost_micro: int = 1_000_000,
    threshold_micro: int = 1_000_000,
    rounds: int = 3,
) -> DataFrame:
    """Collective relational ER (Bhattacharya & Getoor, TKDD 2007): pair
    evidence = attribute similarity + relational similarity, where the
    relational part reads the CURRENT cluster assignment of each
    record's neighbors — so early confident merges propagate: once two
    records' co-occurring neighbors collapse into one cluster, the
    records share a neighbor cluster and ambiguous pairs (a common name
    with weak attributes) cross the threshold in a LATER round. The
    capability one-shot attribute scoring cannot express.

    Inputs: ``pairs`` (id_a, id_b, ``attr_col``) — candidate pairs with
    an exact-integer attribute score (e.g. an FS score in micro units);
    ``relations`` (id, nbr) — co-occurrence edges to other records in
    the same universe; ``nodes`` (id) — the record universe (so isolated
    records surface as singletons).

    Per round, all exact integers: 1. neighbor clusters — relations
    mapped through the current assignment, distinct per record;
    2. relational score — per candidate pair, count of DISTINCT shared
    neighbor clusters × ``boost_micro``; 3. accept — attr +
    relational ≥ ``threshold_micro``; accepted edges ACCUMULATE across
    rounds (monotone, so the fixed point exists even though merging
    neighbors can lower a later shared-cluster count); 4. re-cluster —
    the large/small-star CC job over the accumulated edges re-labels the
    assignment. The loop stops when a round accepts no new edge or at
    ``rounds``.

    Returns (node, cluster, rounds_used, converged) — the B&G greedy's
    deterministic dataframe rendering: rounds_used counts rounds that
    grew the edge set; converged is false only if the last allowed round
    was still growing it.

    Scale shape at 10^12 records: the assignment and the neighbor map
    are narrow id pairs; the shared-cluster count is one equi-join per
    pair side + a groupBy on the candidate-pair key; accumulated edges
    are checkpointed per round (lineage truncation); each round's CC
    runs on match edges only. ``rounds`` needed in practice: 2-3 (the
    paper's propagation depth).
    """
    if rounds < 1:
        raise ValueError("rounds must be >= 1")
    from xlink_spark.operators.cluster import connected_components

    cand = pairs.select(
        F.col("id_a").cast("long"),
        F.col("id_b").cast("long"),
        F.col(attr_col).cast("long").alias("_attr"),
    )
    rel = relations.select(
        F.col("id").cast("long"), F.col("nbr").cast("long")
    ).distinct()
    uni = nodes.select(F.col("id").cast("long").alias("node")).distinct()
    asg = uni.select("node", F.col("node").alias("cluster"))
    spark = pairs.sparkSession
    all_edges = spark.createDataFrame([], "src long, dst long")
    n_edges = 0
    rounds_used = 0
    converged = True
    for _ in range(int(rounds)):
        nbc = (
            rel.join(
                asg.select(
                    F.col("node").alias("nbr"), F.col("cluster").alias("ncl")
                ),
                "nbr",
            )
            .select("id", "ncl")
            .distinct()
        )
        sa = nbc.select(F.col("id").alias("id_a"), "ncl")
        sb = nbc.select(F.col("id").alias("id_b"), "ncl")
        shared = (
            cand.select("id_a", "id_b")
            .join(sa, "id_a")
            .join(sb, ["id_b", "ncl"])
            .groupBy("id_a", "id_b")
            .agg(F.count_distinct("ncl").cast("long").alias("_ns"))
        )
        accepted = (
            cand.join(shared, ["id_a", "id_b"], "left")
            .withColumn("_ns", F.coalesce("_ns", F.lit(0)))
            .filter(
                F.col("_attr") + F.lit(int(boost_micro)) * F.col("_ns")
                >= F.lit(int(threshold_micro))
            )
            .select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        )
        all_edges = cut(all_edges.unionByName(accepted).distinct(), eager=True)
        grown = all_edges.count()
        if grown == n_edges:
            break
        n_edges = grown
        rounds_used += 1
        comp = connected_components(all_edges).select(
            F.col("node"), F.col("component")
        )
        asg = cut(
            uni.join(comp, "node", "left")
            .select(
                "node",
                F.coalesce("component", "node").cast("long").alias("cluster"),
            ),
            eager=True,
        )
    else:
        converged = False
    return asg.select(
        "node",
        "cluster",
        F.lit(rounds_used).cast("long").alias("rounds_used"),
        F.lit(converged).alias("converged"),
    )


def edit_distance_join(
    records: DataFrame,
    key_col: str,
    id_col: str,
    *,
    k: int = 1,
    q: int = 2,
    method: str = "prefix",
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact bounded edit-distance self-join via q-gram prefix filtering
    (the Ed-Join family — Gravano et al. VLDB 2001 count/length filters,
    Xiao, Wang & Lin VLDB 2008 frequency-ordered prefixes): every pair of
    records whose ``key_col`` strings are within Levenshtein distance
    ``k``, no randomness, no misses.

    The reference probes its mention dictionary with EXACT surface keys
    (MentionParser.py:53-68); deletion-variant indexing
    (fuzzy.fuzzy_surface_candidates) handles k=1 against a dictionary.
    This operator is the symmetric SELF-join complement — the classic
    "find every typo twin in the corpus" primitive — at thresholds the
    deletion index can't reach without exploding (its variant count is
    C(len, k) per key; prefix filtering stays linear in key length).

    Filter chain, every step completeness-preserving:

    1. distinct q-grams per key (``transform`` over ``sequence`` —
       whole-stage codegen). One edit rewrites at most ``q`` distinct
       grams, so ed(s,t) <= k forces |G(s) \\ G(t)| <= k*q — a pair must
       share all but k*q of the larger side's grams;
    2. global frequency order (document frequency asc, then gram): by the
       prefix-filtering pigeonhole, the ``k*q + 1`` RAREST grams of each
       side must intersect for any qualifying pair — the equi-join
       touches only those prefix rows, so head grams shared by the whole
       corpus (e.g. a constant field prefix) never form a join bucket;
    3. length filter ``abs(len_a - len_b) <= k`` on the candidates;
    4. exact verification ``levenshtein(key_a, key_b) <= k`` — JVM
       built-in on Spark, identical semantics in DuckDB, so the whole
       operator is oracle-portable with zero float margins.

    Degenerate keys — fewer than ``k*q + 1`` distinct grams (shorter than
    ``q*(k+1) + q - 1`` chars) — can satisfy ed <= k while sharing ZERO
    grams, so the prefix lemma is vacuous for pairs where BOTH sides are
    degenerate. Those records take a separate exact path: a length-band
    equi-join (each short key probes lengths ``len-k .. len+k``), bounded
    because the bucket is (short length, ±k) and short keys are the tail
    of any real corpus. Short×long pairs are already complete via the
    long side's count bound.

    Returns (id_a, id_b, ed, len_a, len_b) with id_a < id_b and ed the
    exact distance. Scale shape at 10^12 rows: the gram-frequency agg is
    map-combinable; only narrow (id, gram) prefix rows — k*q + 1 per
    record — ride the candidate shuffle; verification joins the keys back
    by id twice (narrow hash joins) and runs one codegen'd levenshtein
    per CANDIDATE, never per pair of the quadratic space.

    The candidate join is EXPLICITLY repartitioned to ``num_partitions``
    (default: the session's shuffle partitions) — the
    BlockSplit lesson (skew.block_split_pairs): the prefix rows are a few MB, so
    AQE's input-size coalescing would merge the exchange to ONE task,
    blind to the join's output explosion and to the per-candidate
    levenshtein verification that pipelines behind it in the SAME stage
    (measured on this corpus at sf0.1: 387s coalesced vs seconds pinned).
    Candidates are never shuffled at pair grain — the only pair-keyed
    exchange is the final dedup over the verified RESULT rows. Pick ``q`` for the key
    alphabet: on dense numeric identifiers bigrams have ~100 possible
    values and every bucket is huge — q=4 (10^4+ gram types) restores the
    rare-gram tail the prefix filter needs.

    ``method='delete'`` (k <= 2) is the FastSS / SymSpell deletion
    neighborhood (Bocek et al. 2007) in symmetric self-join form:
    ed(s,t) <= k implies a common string is reachable from both sides by
    <= k single-char deletions (substitution = one deletion each at the
    same spot, insertion = one deletion on the longer side), so joining
    on the deletion-variant set is complete. Variant buckets contain
    only keys within ed 2k of each other BY CONSTRUCTION — immune to
    dense alphabets AND constant affixes, at the cost of L+1 variants
    per key (k=1; +C(L,2) at k=2; refuses k>2). The regime map,
    measured on the 192k replicated-ID corpus at local[32]: prefix q=2
    killed after 25 min single-task crawl, q=4 straggler-stuck — delete
    finishes in 15.2s (7.49M exact pairs, 96000/96000 planted twins). On
    natural text both agree (brute-parity-pinned); prefix is the
    cheapest there.

    Both methods return the SAME exact result set (cross-method equality
    is hash-checked by the driver oracle), so the choice is purely a
    performance call: prefix for natural text and k > 2, delete for
    identifiers and constant-affix corpora at small k."""
    if k < 1:
        raise ValueError("k must be >= 1 (use exact dedup for k = 0)")
    if q < 1:
        raise ValueError("q must be >= 1")
    if method not in ("prefix", "delete"):
        raise ValueError(f"unknown method {method!r} (use 'prefix' or 'delete')")
    if method == "delete" and k > 2:
        raise ValueError(
            "method='delete' supports k <= 2 (the deletion neighborhood is "
            "C(len, k) variants per key — use 'prefix' beyond)"
        )
    recs = records.select(
        F.col(id_col).alias("_id"),
        F.col(key_col).alias("_key"),
        F.length(key_col).cast("long").alias("_len"),
    )
    if num_partitions is None:
        num_partitions = int(
            records.sparkSession.conf.get("spark.sql.shuffle.partitions")
        )
    if method == "prefix":
        plen = k * q + 1
        grams = recs.where(F.length("_key") >= q).select(
            "_id",
            F.explode(
                F.array_distinct(
                    F.transform(
                        F.sequence(F.lit(1), F.length("_key") - F.lit(q) + 1),
                        lambda i: F.col("_key").substr(i, F.lit(q)),
                    )
                )
            ).alias("gram"),
        )
        df_ = grams.groupBy("gram").agg(
            F.count(F.lit(1)).cast("long").alias("_df")
        )
        ranked = grams.join(df_, "gram").withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy("_id").orderBy("_df", "gram")
            ),
        )
        # degenerate = every record whose distinct-gram count can't feed
        # the pigeonhole (n_d <= k*q), incl. gram-less keys shorter than q.
        # _rn is a row_number (unique per _id), so "max(_rn) >= plen" is
        # exactly "a row with _rn == plen exists" — the filter form skips
        # the per-id aggregation and anti-joins only the qualifying ids
        degen = recs.join(
            ranked.where(F.col("_rn") == plen).select("_id"),
            "_id",
            "left_anti",
        ).select("_id", "_len")
        prefix = (
            ranked.where(F.col("_rn") <= plen)
            .select("_id", "gram")
            .repartition(int(num_partitions), "gram")
        )
        a, b = prefix.alias("a"), prefix.alias("b")
        cand_main = (
            a.join(
                b,
                (F.col("a.gram") == F.col("b.gram"))
                & (F.col("a._id") < F.col("b._id")),
            )
            .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        )
    else:
        # FastSS / SymSpell deletion neighborhood (Bocek et al. 2007),
        # symmetric self-join form: ed(s,t) <= k implies some string is
        # reachable from BOTH by deleting <= k chars (a substitution is
        # one deletion on each side at the same spot; an insertion one
        # deletion on the inserted side), so variant-set intersection is
        # a complete candidate generator. Buckets contain only keys
        # within ed 2k of each other BY CONSTRUCTION — immune to shared
        # constant affixes and dense alphabets, the regimes that defeat
        # gram prefixes (the scale story in the docstring).
        # Cost: L+1 variants per key at k=1, +C(L,2) at k=2.
        d1 = (
            "transform(sequence(1, cast(_len as int)),"
            " i -> concat(substring(_key, 1, i - 1),"
            " substring(_key, i + 1, cast(_len as int))))"
        )
        if k == 1:
            var_expr = f"array_distinct(concat(array(_key), {d1}))"
        else:
            d2 = (
                "flatten(transform(sequence(1, cast(_len as int) - 1),"
                " i -> transform(sequence(i + 1, cast(_len as int)),"
                " j -> concat(substring(_key, 1, i - 1),"
                " substring(_key, i + 1, j - i - 1),"
                " substring(_key, j + 1, cast(_len as int))))))"
            )
            var_expr = (
                f"array_distinct(concat(array(_key), {d1},"
                f" case when _len >= 2 then {d2}"
                " else array() end))"
            )
        variants = (
            recs.select(
                F.col("_id"),
                F.explode(
                    F.expr(
                        f"case when _len >= 1 then {var_expr}"
                        " else array(_key) end"
                    )
                ).alias("sig"),
            )
            .repartition(int(num_partitions), "sig")
        )
        va, vb = variants.alias("va"), variants.alias("vb")
        cand_main = (
            va.join(
                vb,
                (F.col("va.sig") == F.col("vb.sig"))
                & (F.col("va._id") < F.col("vb._id")),
            )
            .select(
                F.col("va._id").alias("id_a"), F.col("vb._id").alias("id_b")
            )
        )
        # the neighborhood covers EVERY length (the empty key's variant
        # set is itself and deletions reach it from length <= k) — no
        # degenerate fallback needed
        degen = recs.where(F.lit(False)).select("_id", "_len")
    # short×short exact path: probe each degenerate key's length band
    da = degen.select(
        F.col("_id").alias("id_a"),
        F.explode(
            F.sequence(F.col("_len") - F.lit(k), F.col("_len") + F.lit(k))
        ).alias("_lb"),
    )
    db = degen.select(F.col("_id").alias("id_b"), F.col("_len").alias("_lb"))
    cand_short = da.join(db, "_lb").where(F.col("id_a") < F.col("id_b")).select(
        "id_a", "id_b"
    )
    # explicit pair-grain repartition BEFORE the verify joins: candidate
    # generation explodes unevenly per signature bucket (a verify that
    # pipelines inside the signature-partitioned join stage straggles on
    # the hot buckets — measured 2.4x slower at sf0.1), so the hash
    # redistribution on the pair key both balances the levenshtein work
    # and pins the verify task count against AQE coalescing (the 387s
    # lesson). Dedup runs AFTER verification, not before it: a pair is
    # generated at most once per shared signature, so deduping first runs
    # a SECOND full-candidate exchange (measured 40.2M rows / 8.4s at
    # sf0.1 on the prefix path) to save only duplicate levenshtein calls —
    # verifying duplicates costs ~6% more codegen'd levenshtein while the
    # dedup exchange shrinks from the candidate set to the RESULT set
    # (1.03M rows here), and the post-verify dropDuplicates reuses the
    # pair-key hash partitioning (no extra exchange). Result identical:
    # ed/len are functions of the pair, duplicates are exact duplicates.
    cand = cand_main.unionByName(cand_short).repartition(
        int(num_partitions), "id_a", "id_b"
    )
    ka = recs.select(
        F.col("_id").alias("id_a"),
        F.col("_key").alias("_key_a"),
        F.col("_len").alias("len_a"),
    )
    kb = recs.select(
        F.col("_id").alias("id_b"),
        F.col("_key").alias("_key_b"),
        F.col("_len").alias("len_b"),
    )
    return (
        cand.join(ka, "id_a")
        .join(kb, "id_b")
        .where(F.abs(F.col("len_a") - F.col("len_b")) <= k)
        .withColumn("ed", F.levenshtein("_key_a", "_key_b").cast("long"))
        .where(F.col("ed") <= k)
        .select("id_a", "id_b", "ed", "len_a", "len_b")
        .dropDuplicates()
    )


def learn_blocking_scheme(
    memberships: DataFrame,
    positives: DataFrame,
    *,
    rounds: int = 3,
    pair_penalty_micro: int = 0,
    pred_col: str = "pred",
    block_col: str = "block",
    id_col: str = "id",
) -> DataFrame:
    """Adaptive blocking — learn a DISJUNCTION of blocking predicates from
    labeled matches (Bilenko, Kamath & Mooney ICDM 2006; Michelson & Knoblock
    AAAI 2006): greedy red-blue set cover where each candidate predicate
    "covers" the labeled match pairs it blocks together and "costs" the
    total candidate pairs it would generate. ``er_blocking_compare``
    MEASURES a fixed scheme frontier; this operator SELECTS one — the
    piece that turns the gauge into a decision.

    ``memberships``: (pred, block, id) — the union of every candidate
    predicate's block assignments, block ids scoped per predicate.
    ``positives``: labeled duplicate pairs (id_a, id_b).

    Per round, over the positives NOT yet covered by the chosen
    disjunction: covered_new(p) = remaining pairs co-blocked by predicate
    p, score = covered_new * 1e6 - pair_penalty_micro * pairs_total(p)
    (exact bigint; pairs_total from per-block sizes, never materialized
    pairs), pick argmax with (score desc, pred asc) tiebreak, fold its
    covered pairs into the cover, stop early when the best predicate
    covers nothing new. All counts are distributed aggregations; the
    driver collects exactly ONE winner row per round (bounded by
    ``rounds``), the same loop discipline as iterative CC.

    Returns one row per chosen round: (round, pred, covered_new,
    covered_total, pairs_total, score_micro) with covered_total the
    running union size (== cumulative sum, since each round counts only
    previously-uncovered pairs). Scale shape: cov is |positives| ×
    |preds| at most — labeled sets are small, so it broadcasts; the cost
    agg is map-combinable over (pred, block) sizes; nothing quadratic is
    ever built."""
    if rounds < 1:
        raise ValueError("rounds must be >= 1")
    if pair_penalty_micro < 0:
        raise ValueError("pair_penalty_micro must be >= 0")
    mem = memberships.select(
        F.col(pred_col).alias("_p"),
        F.col(block_col).alias("_b"),
        F.col(id_col).alias("_id"),
    )
    pos = positives.select("id_a", "id_b")
    cost = (
        mem.groupBy("_p", "_b")
        .agg(F.count(F.lit(1)).cast("long").alias("_n"))
        .groupBy("_p")
        .agg(
            F.sum(F.expr("(_n * (_n - 1)) div 2"))
            .cast("long")
            .alias("pairs_total")
        )
    )
    a = mem.select(
        F.col("_p"), F.col("_b"), F.col("_id").alias("id_a")
    )
    b = mem.select(
        F.col("_p"), F.col("_b"), F.col("_id").alias("id_b")
    )
    cov = hold(
        F.broadcast(pos)
        .join(a, "id_a")
        .join(b, ["_p", "_b", "id_b"])
        .select("_p", "id_a", "id_b")
        .distinct(),
    )
    spark = memberships.sparkSession
    chosen: list[tuple] = []
    remaining = pos
    covered_total = 0
    try:
        for rnd in range(1, rounds + 1):
            percov = (
                cov.join(
                    F.broadcast(remaining.select("id_a", "id_b")),
                    ["id_a", "id_b"],
                    "left_semi",
                )
                .groupBy("_p")
                .agg(F.count(F.lit(1)).cast("long").alias("covered_new"))
            )
            best = (
                percov.join(cost, "_p")
                .select(
                    "_p",
                    "covered_new",
                    "pairs_total",
                    (
                        F.col("covered_new") * F.lit(MICRO)
                        - F.lit(pair_penalty_micro) * F.col("pairs_total")
                    )
                    .cast("long")
                    .alias("score_micro"),
                )
                .orderBy(F.col("score_micro").desc(), F.col("_p"))
                .limit(1)
                .collect()
            )
            if not best or best[0]["covered_new"] == 0:
                break
            row = best[0]
            covered_total += row["covered_new"]
            chosen.append(
                (
                    rnd,
                    row["_p"],
                    row["covered_new"],
                    covered_total,
                    row["pairs_total"],
                    row["score_micro"],
                )
            )
            picked = cov.where(F.col("_p") == row["_p"]).select(
                "id_a", "id_b"
            )
            remaining = cut(
                remaining.join(picked, ["id_a", "id_b"], "left_anti"), eager=True
            )
    finally:
        cov.unpersist()
    return spark.createDataFrame(
        chosen,
        "round long, pred string, covered_new long, covered_total long,"
        " pairs_total long, score_micro long",
    )


def uncertainty_sample(
    posteriors: DataFrame,
    n: int,
    *,
    id_cols: tuple[str, str] = ("id_a", "id_b"),
    posterior_col: str = "posterior_ppm",
) -> DataFrame:
    """Uncertainty sampling for active labeling (the ALIAS loop —
    Sarawagi & Bhamidipaty KDD 2002; Settles' survey 2009): of all scored
    candidate pairs, pick the ``n`` whose match posterior sits closest to
    the 0.5 decision boundary — the pairs where one human label buys the
    most model improvement, and the batch a deployment sends to clerical
    review each round. Together with ``learn_blocking_scheme`` (which
    predicates to block on) and ``fs_em_weights`` (unsupervised start),
    this closes the supervised-ER loop: block → score → label the most
    uncertain → re-estimate.

    uncertainty_ppm = |posterior - 500000| in exact integer ppm; the
    batch is the global top-n under (uncertainty asc, id_a, id_b) — a
    deterministic total order, so the same batch ships from any engine.
    Returns (id_a, id_b, posterior_ppm, uncertainty_ppm, rank).

    Scale shape: top-n over a total order is TakeOrderedAndProject —
    per-partition heads then a single driver merge of n·P rows, no
    global sort ever materializes; the rank window runs on the already-
    bounded n-row result."""
    if n < 1:
        raise ValueError("n must be >= 1")
    ia, ib = id_cols
    ranked = posteriors.select(
        F.col(ia).alias("id_a"),
        F.col(ib).alias("id_b"),
        F.col(posterior_col).cast("long").alias("posterior_ppm"),
        F.abs(F.col(posterior_col).cast("long") - F.lit(500000)).alias(
            "uncertainty_ppm"
        ),
    ).orderBy("uncertainty_ppm", "id_a", "id_b").limit(int(n))
    # literal partition key: the frame is already bounded to n rows by the
    # limit, but an unpartitioned window makes WindowExec warn globally —
    # same trick as progressive_snm_curve's cumulative window
    w = Window.partitionBy(F.lit(0)).orderBy(
        "uncertainty_ppm", "id_a", "id_b"
    )
    return ranked.withColumn(
        "rank", F.row_number().over(w).cast("long")
    )
