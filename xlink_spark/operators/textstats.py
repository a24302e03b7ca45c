"""Text analytics for corpus curation: language-ID, quality scoring, token
counting, fingerprinting.

All pure column expressions (whole-stage codegen), engine-portable so every
operator has a DuckDB oracle. The language-ID heuristic is stopword-profile
n-gram scoring (à la textcat) restricted to deterministic SQL primitives.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from xlink_spark.functions.text import tokens_lower

# Tiny per-language stopword profiles (public, common function words).
STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "with", "for", "as"],
    "de": ["der", "die", "das", "und", "nicht", "ist", "ich", "ein", "mit", "zu"],
    "fr": ["le", "la", "les", "et", "est", "une", "dans", "que", "pour", "des"],
    "es": ["el", "la", "los", "las", "es", "una", "en", "que", "por", "con"],
    "zh": ["的", "是", "了", "在", "和", "有", "我", "不", "这", "也"],
}


def token_count(text: Column | str) -> Column:
    """Whitespace token count."""
    return F.size(tokens_lower(text))


def punct_ratio_raw(text: Column | str) -> Column:
    c = F.col(text) if isinstance(text, str) else text
    n_punct = F.length(c) - F.length(F.regexp_replace(c, r"[^\w\s]", ""))
    return F.when(F.length(c) > 0, n_punct / F.length(c)).otherwise(F.lit(0.0))


def stopword_ratio_raw(text: Column | str, lang: str = "en") -> Column:
    toks = tokens_lower(text)
    sw = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    hits = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
    return F.when(F.size(toks) > 0, hits / F.size(toks)).otherwise(F.lit(0.0))


def quality_score(text: Column | str) -> Column:
    """Composite curation score in [0,1]: length, punct sanity, stopwords.

    score = 0.4·min(len/1000,1) + 0.3·(1 − min(punct_ratio·5,1))
          + 0.3·min(stopword_ratio·5,1)
    The exact mix is a convention (documented here, pinned by oracle) — the
    point is the plumbing: pure-expression scoring at scan speed. Built from
    UNROUNDED ratios (combining pre-rounded 6dp components puts sums exactly
    on rounding midpoints, where engines' round() implementations diverge).
    """
    return F.round(quality_score_raw(text), 6)


def quality_score_raw(text: Column | str) -> Column:
    c = F.col(text) if isinstance(text, str) else text
    len_term = F.least(F.length(c) / 1000.0, F.lit(1.0))
    punct_term = 1.0 - F.least(punct_ratio_raw(c) * 5.0, F.lit(1.0))
    sw_term = F.least(stopword_ratio_raw(c, "en") * 5.0, F.lit(1.0))
    # empty text scores 0 outright — otherwise it banks the full
    # punctuation-sanity credit (0.3) for containing nothing and slips
    # through curation quality gates
    return F.when(
        F.length(c) > 0, 0.4 * len_term + 0.3 * punct_term + 0.3 * sw_term
    ).otherwise(F.lit(0.0))


def language_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Pick the language with the most stopword hits; 'und' when all zero.

    Ties break on language-code order (deterministic). zh additionally
    counts per-character hits since zh text has no spaces.
    """
    c = F.col(text_col)
    scores = {}
    for lang, words in STOPWORDS.items():
        if lang == "zh":
            hits = sum(
                (F.length(c) - F.length(F.regexp_replace(c, w, ""))) / F.length(F.lit(w))
                for w in words
            )
        else:
            toks = tokens_lower(c)
            sw = F.array(*[F.lit(w) for w in words])
            hits = F.size(F.filter(toks, lambda t: F.array_contains(sw, t))).cast("double")
        scores[lang] = hits
    langs = sorted(scores)
    best = None
    for lang in langs:
        cond = (scores[lang] > 0) & F.lit(True)
        for other in langs:
            if other < lang:
                cond = cond & (scores[lang] > scores[other])
            elif other > lang:
                cond = cond & (scores[lang] >= scores[other])
        best = F.when(cond, F.lit(lang)) if best is None else best.when(cond, F.lit(lang))
    return df.withColumn("pred_lang", F.coalesce(best, F.lit("und")))


def fingerprint(text: Column | str, k: int = 8) -> Column:
    """Deterministic document fingerprint: md5 over the first k tokens.

    A locality-stable prefix fingerprint (header/boilerplate detector) —
    engine-portable, used to group near-identical-opening documents.
    """
    toks = tokens_lower(text)
    head = F.concat_ws(" ", F.slice(toks, 1, k))
    return F.md5(head)


def repetition_stats(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher-style repetition signals (Rae et al. '21 quality rules).

    Per document:
      * ``n_lines`` / ``dup_line_frac`` — fraction of non-empty lines that
        are duplicates of an earlier line (boilerplate/navigation detector);
      * ``top_bigram_frac`` — occurrences of the most frequent word bigram
        over all bigram occurrences (degenerate-repetition detector).

    Fractions are emitted as micro-units (floor(x·1e6), bigint) — the
    engine-portable convention quality_scores uses. Shapes: line stats are
    pure array expressions at scan speed; the bigram mode needs one
    (doc, bigram) count + one per-doc max — two map-side-combinable
    aggregations, nothing quadratic.
    """
    base = docs.select(F.col(id_col), *repetition_line_cols(text_col))
    top = top_bigram_frame(docs, text_col, id_col)
    return base.join(top, id_col, "left").select(
        id_col,
        "n_lines",
        "dup_line_frac_u",
        F.coalesce("top_bigram_frac_u", F.lit(0)).alias("top_bigram_frac_u"),
    )


def repetition_line_cols(text_col: str) -> list:
    """The per-row half of repetition_stats: scan-speed array expressions
    callers can fold into an existing projection of the same scan (the
    curation facts frame does) instead of paying a separate text read."""
    # filter on x != "" (not trim): Java trim strips all chars <= U+0020 while
    # SQL trim strips only spaces — the bare-emptiness test is the portable one
    lines = F.filter(F.split(F.col(text_col), "\n"), lambda x: x != F.lit(""))
    return [
        F.size(lines).alias("n_lines"),
        F.when(
            F.size(lines) > 0,
            F.floor(
                (1.0 - F.size(F.array_distinct(lines)) / F.size(lines)) * 1e6
            ).cast("long"),
        )
        .otherwise(F.lit(0).cast("long"))
        .alias("dup_line_frac_u"),
    ]


def top_bigram_frame(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """The aggregated half of repetition_stats: (id, top_bigram_frac_u).

    Docs whose token count is < 2 have no bigrams and emit NO row — join it
    left and coalesce to 0. Two map-side-combinable aggregations; the
    explode never materializes per-doc bigram arrays on the driver.
    """
    toks = docs.select(F.col(id_col), tokens_lower(text_col).alias("t"))
    grams = toks.select(
        id_col,
        F.explode(
            F.when(
                F.size("t") >= 2,
                F.transform(
                    F.sequence(F.lit(1), F.size("t") - 1),
                    lambda i: F.concat_ws(" ", F.slice("t", i, 2)),
                ),
            ).otherwise(F.array())
        ).alias("gram"),
    )
    per_gram = grams.groupBy(id_col, "gram").agg(F.count(F.lit(1)).alias("c"))
    return per_gram.groupBy(id_col).agg(
        F.floor(F.max("c") / F.sum("c") * 1e6).cast("long").alias("top_bigram_frac_u")
    )


def top_ngrams(
    docs: DataFrame, n: int = 3, k: int = 100, text_col: str = "text"
) -> DataFrame:
    """Global top-k word n-grams by corpus frequency → (ngram, n_occurrences).

    The corpus-analysis staple (tokenizer-training prep, contamination
    screens, boilerplate discovery): expand each doc's n-grams, count
    globally, keep the k most frequent under the TOTAL deterministic order
    (count desc, ngram asc) — the tiebreak makes the boundary selection
    identical on every engine and rerun.

    Scale shape: the n-gram expansion is a scan-side array transform (docs
    shorter than n contribute nothing); the count is one map-side-combinable
    aggregation on the n-gram key; the top-k compiles to
    TakeOrderedAndProject (per-partition heap of k, driver merges P·k rows)
    — never a global sort of the n-gram table.
    """
    if n < 1 or k < 1:
        raise ValueError(f"n and k must be >= 1: n={n}, k={k}")
    toks = docs.select(tokens_lower(text_col).alias("t"))
    grams = toks.select(
        F.explode(
            F.when(
                F.size("t") >= n,
                F.transform(
                    F.sequence(F.lit(1), F.size("t") - (n - 1)),
                    lambda i: F.concat_ws(" ", F.slice("t", i, n)),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("ngram")
    )
    counts = grams.groupBy("ngram").agg(
        F.count(F.lit(1)).alias("n_occurrences")
    )
    return counts.orderBy(F.col("n_occurrences").desc(), "ngram").limit(k)


# Simple, dialect-portable patterns: identical semantics in Java regex
# (Spark) and RE2 (DuckDB) — no backrefs, no lookaround, ASCII classes.
PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
# Phone spans must look LIKE PHONES, not merely like digits: a bare
# "digits/spaces/hyphens >= 8 chars" rule redacts year lists, scores, ISBNs
# and ids corpus-wide. Three phone-shaped alternatives instead:
#   1. international: leading + (strong signal), then a bounded 7-18-char
#      separator/digit run — "+86 10 1234 5678", "+1 (555) 010-7788";
#   2. parenthesized area code: "(212) 555 0188";
#   3. hyphen/dot-grouped with a FOUR-digit final group: "555-010-9944",
#      "0171-555-0123" — the {4} tail is what keeps dates (2026-08-17),
#      ISBNs and version strings out.
# Precision over recall by design: an unseparated local number ("5550199")
# is indistinguishable from an id and is deliberately not matched.
PII_PHONE_RE = (
    r"\+[0-9][0-9()\-. ]{5,16}[0-9]"
    r"|\([0-9]{3,4}\)[-. ]?[0-9]{3,4}[-. ]?[0-9]{2,4}"
    r"|[0-9]{2,4}(?:[-.][0-9]{3,4}){1,2}[-.][0-9]{4}"
)


def redact_pii(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Scrub emails/phone-shaped spans from a corpus before training.

    Output: (doc_id, redacted, n_emails, n_phones). Emails are replaced
    first (their local parts contain digits that would otherwise feed the
    phone pattern), then phone-shaped digit runs. Counts come from
    regexp_count on the SAME intermediate strings the replacements see, so
    counts and replacements can never disagree. Pure scan-speed expressions;
    patterns are deliberately dialect-portable (oracle-checked vs DuckDB's
    RE2).
    """
    no_email = F.regexp_replace(F.col(text_col), PII_EMAIL_RE, "<EMAIL>")
    return docs.select(
        F.col(id_col),
        F.regexp_replace(no_email, PII_PHONE_RE, "<PHONE>").alias("redacted"),
        F.regexp_count(F.col(text_col), F.lit(PII_EMAIL_RE)).alias("n_emails"),
        F.regexp_count(no_email, F.lit(PII_PHONE_RE)).alias("n_phones"),
    )


def histogram_quantiles(
    df: DataFrame,
    col: str,
    probs_micro: list[int],
    resolution: int = 1_000_000,
) -> DataFrame:
    """Exact-to-resolution quantiles without a global sort — the scale path
    for picking curation thresholds off a score distribution.

    Sorting 10^12 scores to find p50/p90 is a full-corpus exchange; instead
    the scores fold into an integer histogram (``bucket = floor(value ·
    resolution)``, one map-side-combinable count whose output grain is
    bounded by the RESOLUTION, not the corpus), and quantile p is the lower
    edge of the first bucket whose cumulative count reaches ``ceil(p · n)``.
    Everything is bigint arithmetic — ``probs_micro`` are probabilities in
    integer micro-units (250000 = p25) and the ceil is ``(p·n + 10^6 − 1)
    div 10^6`` (positive operands, so truncating and flooring division
    agree) — the reported edges are bit-identical across engines and runs.

    The cumulative window is unpartitioned BY DESIGN: it runs over the
    bucket-grain histogram (≤ resolution+1 rows however large the corpus),
    never over rows. NULL scores are excluded from n. Returns one row per
    requested probability: (p_micro, rank, bucket, q) where q = bucket /
    resolution rounded to 6 dp.
    """
    from pyspark.sql import Window

    spark = df.sparkSession
    vals = df.select(F.col(col).alias("v")).filter(F.col("v").isNotNull())
    hist = vals.select(
        F.floor(F.col("v") * F.lit(resolution)).cast("long").alias("bucket")
    ).groupBy("bucket").agg(F.count(F.lit(1)).alias("cnt"))
    cum = hist.withColumn(
        "cum",
        F.sum("cnt").over(
            Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    totals = cum.agg(F.max("cum").alias("n"))
    probs = spark.createDataFrame(
        [(int(p),) for p in probs_micro], "p_micro long"
    )
    ranked = probs.crossJoin(F.broadcast(totals)).withColumn(
        "rank", F.expr("(p_micro * n + 999999) div 1000000")
    )
    hit = ranked.join(F.broadcast(cum), F.col("cum") >= F.col("rank"), "inner")
    return (
        hit.groupBy("p_micro", "rank")
        .agg(F.min("bucket").alias("bucket"))
        .select(
            "p_micro",
            "rank",
            "bucket",
            F.round(F.col("bucket") / F.lit(float(resolution)), 6).alias("q"),
        )
    )


def histogram_drift(
    prev: DataFrame,
    cur: DataFrame,
    bucket_col: str = "bucket",
    floor_ppm: int = 100,
) -> DataFrame:
    """Per-bucket population-stability (PSI) drift between two snapshots.

    Inputs are PRE-BUCKETED integer columns — the caller owns quantization
    (integer µ-unit division, same as every gate in this repo), because
    ``floor(v/1e6*100)`` style re-quantization of an already-quantized
    value double-rounds and can land one bucket off. Each side folds into
    a bucket-grain histogram (one map-side-combinable count, output bounded
    by the bucket space, never the snapshot size); the full-outer join and
    the PSI arithmetic run at bucket grain.

    Rates are integer ppm (``cnt·10⁶ div n``), zero/missing buckets clamp
    to ``floor_ppm`` (the standard PSI epsilon, made explicit and integer).
    The contribution is ``psi_micro = floor((rc − rp) · ln(rc/rp))`` — a
    bigint, so the total PSI (Σ psi_micro / 10⁶) is an ORDER-INDEPENDENT
    exact integer sum; the only float op is one ln per bucket, floored
    immediately. Identical distributions give psi_micro = 0 on every row.

    Rule of thumb downstream: total PSI < 0.1 stable, 0.1–0.25 drifting,
    > 0.25 shifted — the gauge a 100 TB ingest pipeline checks before
    letting a new snapshot's distribution retrain thresholds.
    """
    def hist(df: DataFrame, out: str) -> DataFrame:
        return df.select(F.col(bucket_col).cast("long").alias("bucket")).where(
            F.col("bucket").isNotNull()
        ).groupBy("bucket").agg(F.count(F.lit(1)).alias(out))

    hp, hc = hist(prev, "prev_n"), hist(cur, "cur_n")
    np_, nc_ = "sum(prev_n) over ()", "sum(cur_n) over ()"
    joined = (
        hp.join(hc, "bucket", "full_outer")
        .select(
            "bucket",
            F.coalesce("prev_n", F.lit(0)).cast("long").alias("prev_n"),
            F.coalesce("cur_n", F.lit(0)).cast("long").alias("cur_n"),
        )
        # totals via unpartitioned windows over the BUCKET-GRAIN frame
        # (bounded by the bucket space, not the data) — no driver round-trip
        .withColumn("_tp", F.expr(np_))
        .withColumn("_tc", F.expr(nc_))
    )
    rate = lambda n, t: F.greatest(
        F.expr(f"({n} * 1000000L) div {t}"), F.lit(floor_ppm).cast("long")
    )
    rated = joined.select(
        "bucket",
        "prev_n",
        "cur_n",
        rate("prev_n", "_tp").alias("prev_ppm"),
        rate("cur_n", "_tc").alias("cur_ppm"),
    )
    return rated.withColumn(
        "psi_micro",
        F.floor(
            (F.col("cur_ppm") - F.col("prev_ppm"))
            * F.log(F.col("cur_ppm") / F.col("prev_ppm"))
        ).cast("long"),
    )
