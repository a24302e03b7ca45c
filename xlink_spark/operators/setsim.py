"""Exact set-similarity join (PPJoin-family) over document shingles.

MinHash-LSH (operators/dedup.minhash_dedup) is the probabilistic near-dup
path: cheap at any scale, but banding can MISS true pairs near the
threshold. ``jaccard_join_exact`` is the exact complement — every pair with
set-Jaccard >= t is found, no randomness. It adapts the one prefix-filter
kernel, ``operators/linkage._ppjoin`` (the ER job's ``--blocking allpairs``
runs the same kernel through ``allpairs_jaccard_pairs``), to integer ppm
thresholds and the (doc_a, doc_b, inter, uni, jac_ppm) contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from xlink_spark.operators.linkage import _ppjoin

PPM = 1_000_000


def jaccard_join_exact(
    doc_shingles: DataFrame,
    threshold_ppm: int = 500_000,
    id_col: str = "doc_id",
) -> DataFrame:
    """All unordered doc pairs with exact set-Jaccard >= threshold_ppm/1e6.

    Returns (doc_a, doc_b, inter, uni, jac_ppm) — all exact bigints,
    jac_ppm = floor(inter * 1e6 / uni). The threshold test is the
    cross-multiplication ``inter * 1e6 >= t_ppm * uni`` so a pair exactly at
    the threshold is decided identically on every engine.

    ``doc_shingles``: (id_col, shingle) rows; duplicate rows are harmless,
    because each doc's shingles are reduced to a ``collect_set`` before the
    kernel runs. The kernel eagerly checkpoints the per-doc rarest-first
    shingle lists (``plans/storage.cut``), so building this frame already
    runs Spark jobs.
    """
    if not (0 < threshold_ppm <= PPM):
        raise ValueError(f"threshold_ppm must be in (0, {PPM}]")
    sets = doc_shingles.groupBy(id_col).agg(F.collect_set("shingle").alias("_set"))
    pairs = _ppjoin(
        sets, "_set", id_col, t=int(threshold_ppm), scale=PPM, measure="jaccard"
    )
    return pairs.select(
        F.col("id_a").alias("doc_a"),
        F.col("id_b").alias("doc_b"),
        F.col("n_shared").alias("inter"),
        (F.col("n_a") + F.col("n_b") - F.col("n_shared")).alias("uni"),
    ).select(
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
