"""Exact set-similarity join via prefix filtering (PPJoin-family).

MinHash-LSH (operators/dedup.minhash_dedup) is the probabilistic near-dup
path: cheap at any scale, but banding can MISS true pairs near the
threshold. This module is the exact complement — every pair with set-Jaccard
>= t is found, no randomness — using the prefix-filtering principle
(Chaudhuri et al. SSJoin / Xiao et al. PPJoin):

order every document's shingles by one global total order (document
frequency ascending, then shingle — rarest first); if J(x, y) >= t, then the
(|x| - ceil(t*|x|) + 1)-prefixes of x and y MUST share a shingle, so an
equi-join on prefix shingles alone generates a complete candidate set. Proof
sketch: let c be the first shared shingle in the global order; if c sits
after x's prefix, every shared shingle does, so |x∩y| <= |x| - L_x =
ceil(t*|x|) - 1 < t*|x| <= t*|x∪y| <= |x∩y| — contradiction (symmetric
in y).

Why this shape at 100 TB: the candidate join touches only prefix rows —
the RAREST shingles of each doc, by construction — so join buckets stay
small even when the corpus shares a huge head vocabulary (the frequent
shingles that would explode a naive shingle self-join are exactly the ones
prefixes exclude). Thresholds are integer ppm and every comparison is exact
bigint cross-multiplication — no float boundary ambiguity, engine-portable.
The verify step carries each doc's shingle-set array across only the
candidate pairs.

The record-linkage counterpart of this principle — multi-measure
(jaccard/cosine/dice), oversize-prefix-block purge, ppt thresholds, and the
(id_a, id_b, n_shared, n_a, n_b) contract FS scoring composes with — is
``operators/linkage.allpairs_jaccard_pairs`` (the ER job's ``--blocking
allpairs``); this module stays the document-shingle dedup path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

PPM = 1_000_000


def prefix_candidates(
    doc_shingles: DataFrame, threshold_ppm: int, id_col: str = "doc_id"
) -> DataFrame:
    """Complete candidate pairs (doc_a < doc_b) for Jaccard >= t.

    ``doc_shingles``: distinct (id_col, shingle) rows. Prefix length per doc
    is n - ceil(t*n) + 1 with ceil computed in exact integer arithmetic.
    """
    sh = doc_shingles.select(F.col(id_col).alias("_id"), "shingle")
    df_ = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("_df"))
    ranked = (
        sh.join(df_, "shingle")
        .withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy("_id").orderBy("_df", "shingle")
            ),
        )
        .withColumn("_n", F.count(F.lit(1)).over(Window.partitionBy("_id")))
    )
    # L = n - ceil(t*n) + 1 ; ceil(t*n) = (t_ppm*n + PPM-1) div PPM, exact
    prefix = ranked.where(
        F.col("_rn")
        <= F.col("_n")
        - F.expr(f"({threshold_ppm}L * _n + {PPM - 1}) div {PPM}")
        + F.lit(1)
    ).select("_id", "shingle", "_rn", "_n")
    x, y = prefix.alias("x"), prefix.alias("y")
    # PPJoin filters on top of the prefix match — both exact-integer, both
    # completeness-preserving (the first shared shingle in the global order
    # always passes them for a true pair):
    #   length: J >= t forces t*|x| <= |y| (symmetric)
    #   positional: overlap <= 1 + min(remaining after this shingle), and a
    #   true pair needs overlap >= ceil(t/(1+t)*(nx+ny))
    alpha_req = F.expr(
        f"({threshold_ppm}L * (x._n + y._n) + {PPM + threshold_ppm - 1})"
        f" div {PPM + threshold_ppm}"
    )
    return (
        x.join(y, "shingle")
        .where(
            (F.col("x._id") < F.col("y._id"))
            & (F.col("y._n") * PPM >= F.lit(threshold_ppm) * F.col("x._n"))
            & (F.col("x._n") * PPM >= F.lit(threshold_ppm) * F.col("y._n"))
            & (
                F.lit(1)
                + F.least(
                    F.col("x._n") - F.col("x._rn"), F.col("y._n") - F.col("y._rn")
                )
                >= alpha_req
            )
        )
        .select(F.col("x._id").alias("doc_a"), F.col("y._id").alias("doc_b"))
        .distinct()
    )


def jaccard_join_exact(
    doc_shingles: DataFrame,
    threshold_ppm: int = 500_000,
    id_col: str = "doc_id",
    assume_distinct: bool = False,
) -> DataFrame:
    """All unordered doc pairs with exact set-Jaccard >= threshold_ppm/1e6.

    Returns (doc_a, doc_b, inter, uni, jac_ppm) — all exact bigints,
    jac_ppm = floor(inter * 1e6 / uni). The threshold test is the
    cross-multiplication ``inter * 1e6 >= t_ppm * uni`` so a pair exactly at
    the threshold is decided identically on every engine.

    Correctness REQUIRES one row per (doc, shingle): duplicate rows inflate
    the per-doc counts while the intersection stays set-valued, silently
    undercounting Jaccard and dropping true pairs. Deduped here by default;
    pass ``assume_distinct=True`` to skip the extra exchange when the input
    is already distinct (e.g. ``dedup.shingles`` output).

    ``doc_shingles`` feeds THREE consumers (the shingle-frequency table,
    the ranked prefixes, and the verify sets), so Spark recomputes its
    upstream once per consumer; a caller whose upstream is an expensive
    scan passes a held frame (``plans/storage.hold``).
    """
    if not assume_distinct:
        doc_shingles = doc_shingles.select(id_col, "shingle").distinct()
    cands = prefix_candidates(doc_shingles, threshold_ppm, id_col)
    sets = doc_shingles.groupBy(F.col(id_col).alias("_id")).agg(
        F.collect_set("shingle").alias("_set"),
        F.count(F.lit(1)).alias("_n"),
    )
    j = (
        cands.join(
            sets.select(
                F.col("_id").alias("doc_a"),
                F.col("_set").alias("_sa"),
                F.col("_n").alias("_na"),
            ),
            "doc_a",
        )
        .join(
            sets.select(
                F.col("_id").alias("doc_b"),
                F.col("_set").alias("_sb"),
                F.col("_n").alias("_nb"),
            ),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("_sa", "_sb")).cast("long").alias("inter"),
            "_na",
            "_nb",
        )
        .select(
            "doc_a",
            "doc_b",
            "inter",
            (F.col("_na") + F.col("_nb") - F.col("inter")).cast("long").alias("uni"),
        )
    )
    return j.where(F.col("inter") * PPM >= F.lit(threshold_ppm) * F.col("uni")).select(
        "doc_a",
        "doc_b",
        "inter",
        "uni",
        F.expr(f"(inter * {PPM}L) div uni").alias("jac_ppm"),
    )


def idf_weights(
    doc_tokens: DataFrame,
    *,
    id_col: str = "doc_id",
    token_col: str = "token",
    max_df: int | None = None,
    max_df_ppm: int | None = None,
    milli: int = 1000,
) -> DataFrame:
    """Per-token IDF weights as exact bigints: idf_milli = floor(milli ·
    ln(N / df)) over distinct (doc, token) rows, where N is the number of
    distinct docs and df the token's document frequency.

    The floor of ln() is the ONLY cross-engine float boundary in the whole
    TF-IDF cosine path (the same single-ln-then-floor discipline as the FS
    weights and PSI); measure the boundary margins on your vocabulary
    before relying on cross-engine floor equality — there are at most
    |distinct df values| ≤ N distinct ratios to check.

    ``max_df`` purges head tokens (df > max_df): the scale guard that keeps
    every posting list — and therefore every bucket of the inverted-index
    pair join downstream — bounded, exactly like LSH's degenerate-bucket
    cap. Plan construction is action-free: N comes from a broadcast
    one-row aggregate, never a driver count."""
    toks = doc_tokens.select(
        F.col(id_col).alias("_id"), F.col(token_col).alias("token")
    )
    n_docs = toks.select("_id").distinct().agg(
        F.count(F.lit(1)).cast("long").alias("_n")
    )
    df_ = toks.groupBy("token").agg(F.count(F.lit(1)).cast("long").alias("df"))
    if max_df is not None:
        df_ = df_.filter(F.col("df") <= max_df)
    out = df_.crossJoin(F.broadcast(n_docs))
    if max_df_ppm is not None:
        out = out.filter(
            F.col("df") * F.lit(1_000_000) <= F.lit(int(max_df_ppm)) * F.col("_n")
        )
    return out.select(
        "token",
        "df",
        F.floor(
            F.lit(float(milli))
            * F.log(F.col("_n").cast("double") / F.col("df").cast("double"))
        )
        .cast("long")
        .alias("idf_milli"),
    )


def tfidf_cosine_pairs(
    doc_tokens: DataFrame,
    *,
    threshold_micro: int,
    id_col: str = "doc_id",
    token_col: str = "token",
    max_df: int | None = None,
    max_df_ppm: int | None = None,
    milli: int = 1000,
) -> DataFrame:
    """IDF-weighted cosine similarity self-join over token SETS (binary tf)
    — the string-grouper workhorse for near-duplicate record text, sitting
    between exact Jaccard (every token equal weight) and embedding cosine
    (no lexical signal): rare shared tokens dominate, head tokens barely
    count.

    ``doc_tokens``: DISTINCT (id, token) rows. Returns (doc_a, doc_b, dot,
    cos_micro) for pairs with cos_micro >= threshold_micro, doc_a < doc_b.

    Exactness: token weights are the exact-bigint ``idf_weights`` floors,
    so dot = Σ_{t∈A∩B} idf_t² and the norms Σ idf_t² are exact bigint
    sums — order-independent. The final cosine is dot / sqrt(na2 · nb2)
    evaluated in doubles built from those bigints: cast, multiply, sqrt,
    divide are each correctly rounded IEEE-754 ops, so the double — and
    floor(1e6 · cos) — is bit-identical on every engine given identical
    bigint inputs. The only margin to measure is the idf ln-floor
    (idf_weights docstring).

    Scale shape (10^12 docs): candidate generation is ONE equi-join on
    token over posting lists that ``max_df`` bounds, weights ride as one
    bigint per token row, and the norms join back at doc grain — text
    never rides a shuffle, and pairs sharing only purged head tokens are
    never generated (they could not reach a meaningful cosine anyway)."""
    toks = doc_tokens.select(
        F.col(id_col).alias("_id"), F.col(token_col).alias("token")
    )
    w = toks.join(
        idf_weights(
            doc_tokens,
            id_col=id_col,
            token_col=token_col,
            max_df=max_df,
            max_df_ppm=max_df_ppm,
            milli=milli,
        ).select("token", "idf_milli"),
        "token",
    )
    norms = w.groupBy("_id").agg(
        F.sum(F.col("idf_milli") * F.col("idf_milli"))
        .cast("long")
        .alias("_n2")
    )
    x = w.select(F.col("_id").alias("doc_a"), "token", "idf_milli")
    y = w.select(F.col("_id").alias("doc_b"), "token")
    dot = (
        x.join(y, "token")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(
            F.sum(F.col("idf_milli") * F.col("idf_milli"))
            .cast("long")
            .alias("dot")
        )
    )
    na = norms.select(F.col("_id").alias("doc_a"), F.col("_n2").alias("_na2"))
    nb = norms.select(F.col("_id").alias("doc_b"), F.col("_n2").alias("_nb2"))
    return (
        dot.join(na, "doc_a")
        .join(nb, "doc_b")
        .withColumn(
            "cos_micro",
            F.when(
                (F.col("_na2") > 0) & (F.col("_nb2") > 0),
                F.floor(
                    F.lit(1_000_000.0)
                    * (
                        F.col("dot").cast("double")
                        / F.sqrt(
                            F.col("_na2").cast("double")
                            * F.col("_nb2").cast("double")
                        )
                    )
                ),
            ).cast("long"),
        )
        .filter(F.col("cos_micro") >= F.lit(int(threshold_micro)))
        .select("doc_a", "doc_b", "dot", "cos_micro")
    )
