"""Deduplication operators for large-scale corpus curation.

Not in the reference (XLink never dedups its corpus) — these are the
standard operators a 100 TB training-data pipeline needs, built Spark-first:

* exact: content-hash groupBy (one shuffle on the hash, map-side combined)
* minhash_lsh: shingle → minhash signature → banded LSH buckets →
  within-bucket candidate pairs → exact Jaccard verify. The classic
  MinHashLSH construction (Broder '97 / MMDS ch.3); hash family is
  md5(seed ⊕ token) and the minimum is taken LEXICOGRAPHICALLY over the hex
  strings — deterministic across engines (used by the DuckDB oracle) and
  just as uniform as integer minima.
* simhash_near_pairs: Hamming-≤k pairs over SimHash fingerprints via
  banded Hamming LSH (the fingerprints are the caller's)
* ngram_jaccard: blocked pairwise n-gram Jaccard (block = cheap prefix key
  so the self-join never goes quadratic in the corpus)
* embedding near-dup: cosine ≥ τ pairs over an embedding column, LSH-style
  bucketing by sign-random-projection available in similarity.py

Scale notes: every self-join here is blocked/bucketed — the pair space is
quadratic ONLY within a bucket; bucket width is the tuning knob. All
hashing is content-derived (no Python round-trips).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from xlink_spark.functions.text import tokens_lower
from xlink_spark.plans.storage import hold


def exact_duplicates(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Groups of byte-identical documents: (content_hash, n_docs, doc_ids, keeper).

    keeper = min(doc_id) — the deterministic survivor. REPORT/AUDIT view
    only: ``doc_ids`` materializes a whole hash group into one array on one
    reducer, and at corpus scale the degenerate groups (billions of empty or
    boilerplate docs sharing one hash) are exactly the ones that exist — the
    drop path is the ``row_number`` window of ``plans.curation``, never this.
    """
    return (
        docs.select(id_col, F.md5(F.col(text_col)).alias("content_hash"))
        .groupBy("content_hash")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sort_array(F.collect_list(id_col)).alias("doc_ids"),
            F.min(id_col).alias("keeper"),
        )
    )


def shingles(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3) -> DataFrame:
    """Distinct word n-gram shingles per doc: (doc_id, shingle)."""
    toks = docs.select(id_col, tokens_lower(text_col).alias("toks"))
    gram = F.when(
        F.size("toks") >= n,
        F.transform(
            F.sequence(F.lit(1), F.size("toks") - n + 1),
            lambda i: F.concat_ws(" ", F.slice("toks", i, n)),
        ),
    ).otherwise(F.array(F.concat_ws(" ", F.col("toks"))))
    return toks.select(id_col, F.explode_outer(F.array_distinct(gram)).alias("shingle")).where(
        F.col("shingle").isNotNull() & (F.col("shingle") != "")
    )


def minhash_signatures(
    doc_shingles: DataFrame, id_col: str = "doc_id", num_hashes: int = 16
) -> DataFrame:
    """(doc_id, sig: array<string>) — lexicographic-min md5 per seeded hash.

    min(md5(seed || shingle)) is a permutation-min over a uniform hash
    family; string minima keep the construction engine-portable.
    """
    mins = [
        F.min(F.md5(F.concat(F.lit(f"s{k}:"), F.col("shingle")))).alias(f"h{k}")
        for k in range(num_hashes)
    ]
    agg = doc_shingles.groupBy(id_col).agg(*mins)
    return agg.select(id_col, F.array(*[f"h{k}" for k in range(num_hashes)]).alias("sig"))


def lsh_candidate_pairs(
    signatures: DataFrame,
    id_col: str = "doc_id",
    bands: int = 4,
    max_bucket: int | None = None,
    num_hashes: int | None = None,
) -> DataFrame:
    """Banded LSH: docs agreeing on any full band become a candidate pair.

    (doc_a, doc_b) with doc_a < doc_b, distinct. The band join is an
    equi-join on (band_id, band_key). ``max_bucket`` caps bucket width: a
    bucket of b docs yields b² join rows, so one degenerate bucket
    (boilerplate, empty docs) can dominate the whole job at corpus scale —
    buckets wider than the cap are dropped (their members are usually
    caught in another band; exact-dup buckets belong to exact_duplicates
    anyway).

    ``num_hashes`` is the signature width the caller built (minhash_dedup
    always has it). Pass it: plan construction is then action-free. The
    ``first()`` fallback exists only for ad-hoc use on foreign signature
    tables — it runs the signature-producing plan once EXTRA just to read
    one array length.
    """
    n = (
        num_hashes
        if num_hashes is not None
        else signatures.select(F.size("sig")).first()[0]
    )
    rows_per_band = max(n // bands, 1)
    banded = signatures.select(
        id_col,
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    F.concat_ws(
                        "|", F.slice("sig", b * rows_per_band + 1, rows_per_band)
                    ).alias("key"),
                ),
            )
        ).alias("bk"),
    ).select(id_col, F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    if max_bucket is not None:
        # width as a COUNT window over (band, key): widths and filtering
        # happen inside the exchange the join needs anyway, replacing the
        # old aggregate + semi-join that shuffled the banded table through
        # two EXTRA exchanges (measured: lsh bench query 7.8s -> 6.2s cold)
        wspec = Window.partitionBy("band", "key")
        banded = (
            banded.withColumn("_w", F.count(F.lit(1)).over(wspec))
            .filter(F.col("_w") <= max_bucket)
            .drop("_w")
        )
    a = banded.select(F.col(id_col).alias("doc_a"), "band", "key")
    b = banded.select(F.col(id_col).alias("doc_b"), "band", "key")
    return (
        a.join(b, ["band", "key"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def jaccard_verify(
    pairs: DataFrame, doc_shingles: DataFrame, id_col: str = "doc_id", threshold: float = 0.8
) -> DataFrame:
    """Exact Jaccard over shingle sets for candidate pairs; keeps ≥ threshold.

    |A∩B| via join on shingle, |A∪B| = |A|+|B|−|A∩B|. Set sizes are
    broadcast-joined back (two small aggregates), intersection is one
    shuffle keyed by shingle — never materializes the pair×shingle blowup
    beyond the candidate set.
    """
    sizes = doc_shingles.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))
    inter = (
        pairs.join(doc_shingles.withColumnRenamed(id_col, "doc_a"), "doc_a")
        .join(
            doc_shingles.withColumnRenamed(id_col, "doc_b"),
            ["doc_b", "shingle"],
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    out = (
        inter.join(sizes.withColumnRenamed(id_col, "doc_a").withColumnRenamed("sz", "sz_a"), "doc_a")
        .join(sizes.withColumnRenamed(id_col, "doc_b").withColumnRenamed("sz", "sz_b"), "doc_b")
        .withColumn(
            "jaccard", F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter"))
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))
    )
    return out


def minhash_dedup(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.8,
    max_bucket: int | None = 1000,
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline → verified duplicate pairs.

    ``max_bucket`` is ON by default: one degenerate LSH bucket (empty or
    boilerplate docs sharing a band key) is O(b²) join rows and can own the
    whole job at corpus scale. Pass ``max_bucket=None`` to disable (exact
    small-corpus parity runs).

    The shingle table feeds FOUR consumers (signatures, both sides of the
    intersection join, set sizes); persisting it beats re-exploding the
    corpus per consumer — measured 2x on the bench corpus. The cache
    belongs to the caller's storage scope (``plans/storage``).
    """
    sh = hold(shingles(docs, text_col, id_col, shingle_n))
    sig = minhash_signatures(sh, id_col, num_hashes)
    cand = lsh_candidate_pairs(
        sig, id_col, bands, max_bucket=max_bucket, num_hashes=num_hashes
    )
    return jaccard_verify(cand, sh, id_col, threshold)


def simhash_near_pairs(
    fingerprints: DataFrame,
    k: int = 3,
    bands: int = 4,
    id_col: str = "doc_id",
    sim_col: str = "simhash",
    bits: int = 64,
    max_bucket: int | None = 1000,
) -> DataFrame:
    """Hamming-≤k near-dup pairs over ``bits``-wide SimHash fingerprints.

    Banded Hamming LSH: the fingerprint splits into ``bands`` equal bit
    slices; by pigeonhole, any pair within Hamming distance < ``bands``
    agrees EXACTLY on at least one slice — so with the default 4 bands,
    candidate generation via equi-join on (band, slice) has perfect recall
    for k ≤ 3, and each candidate is verified with one bit_count(xor).
    The join is blocked on band keys; ``max_bucket`` (ON by default, same
    policy as ``lsh_candidate_pairs``) drops degenerate band buckets —
    empty/boilerplate corpora collapse to one fingerprint whose bucket
    would be O(b²) join rows; pass ``None`` for exact-parity runs. Exact
    twins belong to ``exact_duplicates`` anyway.

    Output: (doc_a, doc_b, hamming), doc_a < doc_b, hamming ≤ k.
    """
    width = bits // bands
    mask = (1 << width) - 1
    banded = fingerprints.select(
        id_col,
        sim_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright(sim_col, b * width)
                        .bitwiseAND(F.lit(mask))
                        .alias("key"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bk"),
    ).select(id_col, sim_col, F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    if max_bucket is not None:
        wspec = Window.partitionBy("band", "key")
        banded = (
            banded.withColumn("_w", F.count(F.lit(1)).over(wspec))
            .filter(F.col("_w") <= max_bucket)
            .drop("_w")
        )
    a = banded.select(
        F.col(id_col).alias("doc_a"), F.col(sim_col).alias("sim_a"), "band", "key"
    )
    b = banded.select(
        F.col(id_col).alias("doc_b"), F.col(sim_col).alias("sim_b"), "band", "key"
    )
    return (
        a.join(b, ["band", "key"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= k)
        .distinct()
    )


def embedding_near_duplicates(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    block_col: str | None = None,
) -> DataFrame:
    """Cosine ≥ threshold pairs over an embedding column.

    Brute-force within blocks (``block_col``; default one global block —
    fine at test scale, quadratic otherwise). The at-scale path buckets by
    sign-random-projection first (similarity.srp_buckets) and feeds the
    bucket id as ``block_col``. Vectors are unit-normalized ONCE per row so
    each candidate pair costs a single dot product (the similarity.py
    measurement: 2-3× on in-block scoring).
    """
    from xlink_spark.operators.similarity import _unit, _unit_cos

    a = emb.select(
        F.col(id_col).alias("id_a"), _unit(vec_col).alias("vec_a"),
        *( [F.col(block_col).alias("blk")] if block_col else [F.lit(0).alias("blk")] ),
    )
    b = emb.select(
        F.col(id_col).alias("id_b"), _unit(vec_col).alias("vec_b"),
        *( [F.col(block_col).alias("blk")] if block_col else [F.lit(0).alias("blk")] ),
    )
    # threshold the ROUNDED cosine: the 6-dp round absorbs FP association-
    # order drift between engines (normalize-then-dot here vs dot/(‖a‖‖b‖)
    # in a SQL oracle), so a pair sitting exactly at the threshold decides
    # identically everywhere — the same convention the top-k queries use
    return (
        a.join(b, "blk")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cos", F.round(_unit_cos("vec_a", "vec_b"), 6))
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", "cos")
    )


def contamination_hits(
    docs: DataFrame,
    eval_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram: int = 13,
    min_hits: int = 1,
) -> DataFrame:
    """Train/test decontamination: docs sharing n-grams with a held-out set.

    The standard LLM-curation rule (GPT-3 appendix C / PaLM style): a
    training document is contaminated if it shares at least ``min_hits``
    distinct word ``ngram``-grams with any document of the evaluation
    corpus. Output: (doc_id, hits) for contaminated docs — anti-join it
    against the corpus to get the clean view.

    100-TB shape: the eval side is benchmark-sized (thousands of docs) — its
    distinct shingle set broadcasts, so the check is a map-side semi of the
    corpus shingle scan plus one count aggregate keyed by doc; the corpus is
    touched exactly once and nothing quadratic exists anywhere.
    """
    corpus_sh = shingles(docs, text_col, id_col, ngram)
    eval_sh = shingles(eval_docs, text_col, id_col, ngram).select("shingle").distinct()
    return (
        corpus_sh.join(F.broadcast(eval_sh), "shingle")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("hits"))  # shingles are distinct per doc
        .filter(F.col("hits") >= min_hits)
    )


def semantic_dedup(
    emb: DataFrame,
    centroids: list[tuple[int, list[float]]],
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    literal_centroid_max: int | None = None,
) -> DataFrame:
    """SemDeDup-style pruning (Abbas et al. '23): per-cluster cosine dedup.

    Every vector is assigned to its nearest centroid
    (similarity.assign_probe_clusters: scan-speed literal expression for
    small quantizers, broadcast-join ranking above ``literal_centroid_max``
    — SemDeDup's production regime is ~10⁵ clusters); within each cluster, a
    vector is dropped iff ANY smaller-id vector of the same cluster sits at
    cosine ≥ ``threshold``. Survivors are therefore exactly the id-local
    minima of the in-cluster ≥threshold similarity graph — deterministic and
    order-free (one blocked join, no sequential sweep), sitting between the
    paper's greedy scan (which compares only against already-KEPT items) and
    full connected-component collapse; for twin/star neighborhoods, where
    every duplicate is near the same original, all three coincide. Output:
    (vec_id, cluster, kept).

    100-TB shape: the only pair product is within clusters (the quantizer's
    balance is the knob, same as IVF search); the drop test is one blocked
    self-join + semi-join back — no global quadratic anywhere.
    """
    from xlink_spark.operators.similarity import (
        LITERAL_CENTROID_MAX,
        assign_probe_clusters,
    )

    if literal_centroid_max is None:
        literal_centroid_max = LITERAL_CENTROID_MAX
    assigned = assign_probe_clusters(
        emb, centroids, nprobe=1, id_col=id_col, vec_col=vec_col,
        literal_centroid_max=literal_centroid_max,
    ).select(
        F.col(id_col),
        F.col(vec_col),
        F.element_at("_probes", 1).alias("cluster"),
    )
    pairs = embedding_near_duplicates(
        assigned, id_col=id_col, vec_col=vec_col, threshold=threshold,
        block_col="cluster",
    )
    # id_a < id_b by construction: b loses, min-id survivor stays
    dropped = pairs.select(F.col("id_b").alias(id_col)).distinct().withColumn(
        "_dropped", F.lit(1)
    )
    return assigned.join(dropped, id_col, "left").select(
        id_col, "cluster", F.col("_dropped").isNull().alias("kept")
    )


# ---------------------------------------------------------------------------
# Winnowing fingerprints (Schleimer/Wilkerson/Aiken '03, the MOSS algorithm)
# ---------------------------------------------------------------------------

WINNOW_MOD = 1_000_000_007  # hash modulus: < 2^31 so acc*base stays in int64
WINNOW_BASE = 1_000_003     # polynomial rolling-hash base (prime, < modulus)


def _winnow_fp_expr(text_col: str, k: int, w: int):
    """array<long> of winnowing fingerprints for one document, as a PURE
    JVM-side expression chain (no Python in the hot path):

    1. lower-cased whitespace tokens;
    2. per-token 60-bit md5 value reduced mod ``WINNOW_MOD`` (md5 rather
       than xxhash64 so a DuckDB oracle computes the identical value —
       ``('0x' || substr(md5(t),1,15))::bigint % M``);
    3. polynomial hash of every ``k``-token gram:
       ``h = ((t1·B + t2)·B + ...) mod M`` — the classic Rabin-Karp
       rolling-hash value (computed per-gram with a fold here: O(n·k)
       instead of O(n), identical values, and the fold stays inside
       whole-stage codegen where a stateful rolling scan would not);
    4. winnowing: the minimum hash of every window of ``w`` consecutive
       gram hashes, distinct — the guarantee is that any shared token run
       of length ≥ k + w − 1 contributes at least one SHARED fingerprint.

    Documents shorter than ``k`` tokens hash their whole token array
    (the same degenerate-doc convention as :func:`shingles`).
    """
    toks = tokens_lower(text_col)
    tokh = F.transform(
        toks,
        lambda t: F.pmod(
            F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("long"),
            F.lit(WINNOW_MOD),
        ),
    )
    poly = lambda arr: F.aggregate(  # noqa: E731
        arr,
        F.lit(0).cast("long"),
        lambda acc, x: F.pmod(acc * F.lit(WINNOW_BASE) + x, F.lit(WINNOW_MOD)),
    )
    grams = F.when(
        F.size(toks) >= k,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - k + 1),
            lambda i: poly(F.slice(tokh, i, k)),
        ),
    ).otherwise(F.array(poly(tokh)))
    fps = F.when(
        F.size(grams) >= w,
        F.transform(
            F.sequence(F.lit(1), F.size(grams) - w + 1),
            lambda j: F.array_min(F.slice(grams, j, w)),
        ),
    ).otherwise(F.array(F.array_min(grams)))
    return F.array_distinct(fps)


def winnow_fingerprints(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    w: int = 4,
) -> DataFrame:
    """(doc_id, fp) — the winnowing fingerprint set of each document.

    Winnowing selects ~2/(w+1) of the k-gram hashes, position-independently:
    two documents sharing any k + w − 1 consecutive tokens are GUARANTEED to
    share a fingerprint, so fingerprint equality is a recall-guaranteed
    blocking key for copied-passage detection (the dedup family's
    "document fingerprinting" entry; the MOSS construction).

    100-TB shape: selection is a per-row expression (scan speed, no
    shuffle); the output is a narrow (id, long) relation whose size is
    ~2·n_tokens/(w+1) rows per doc.
    """
    return docs.select(
        F.col(id_col),
        F.explode(_winnow_fp_expr(text_col, k, w)).alias("fp"),
    )


def winnow_overlap_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    w: int = 4,
    min_shared: int = 2,
    max_bucket: int | None = None,
) -> DataFrame:
    """(doc_a, doc_b, n_shared) — doc pairs sharing ≥ min_shared winnowing
    fingerprints; the copied-passage / boilerplate detector.

    Same candidate-generation shape as banded LSH: an equi-join on the
    fingerprint value, so the pair space is quadratic only within one
    fingerprint bucket. ``max_bucket`` drops degenerate buckets (a
    fingerprint shared by half the corpus is boilerplate, not plagiarism)
    BEFORE the join — the same windowed-count cap the LSH path uses.
    """
    fps = winnow_fingerprints(docs, text_col, id_col, k, w)
    if max_bucket is not None:
        cnt = Window.partitionBy("fp")
        fps = (
            fps.withColumn("_n", F.count(F.lit(1)).over(cnt))
            .filter(F.col("_n") <= max_bucket)
            .drop("_n")
        )
    a = fps.select(F.col(id_col).alias("doc_a"), "fp")
    b = fps.select(F.col(id_col).alias("doc_b"), "fp")
    return (
        a.join(b, "fp")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))  # fps distinct per doc
        .filter(F.col("n_shared") >= min_shared)
    )


def boilerplate_lines(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str = "source",
    min_docs: int = 2,
    min_frac_u: int = 500_000,
) -> DataFrame:
    """Line-level boilerplate within a group: (group, line, n_docs_line,
    n_docs_group).

    The RefinedWeb/CCNet-style observation: navigation bars, cookie
    banners, and license footers repeat VERBATIM across most documents of
    the same source — so a non-empty line contained in ≥ ``min_docs`` docs
    AND ≥ ``min_frac_u`` micro-units (ppm) of the group's docs is
    boilerplate, however fluent it reads. Frequency is per-DOCUMENT
    (``array_distinct`` before the explode), so a line repeated inside one
    doc counts once; the threshold compares integer micro-units
    (``n_docs_line·1e6 div n_docs_group``) — engine-portable, no float.

    Scale shape: one explode → one (group, line) map-combinable count —
    line strings shuffle once, grouped by content, so a 100 TB corpus costs
    one aggregation over its distinct (group, line) pairs; the group-size
    side is a tiny broadcastable aggregate.
    """
    lines = docs.select(
        group_col,
        F.explode(
            F.array_distinct(
                F.filter(
                    F.split(F.col(text_col), "\n"), lambda x: x != F.lit("")
                )
            )
        ).alias("line"),
    )
    per_line = lines.groupBy(group_col, "line").agg(
        F.count(F.lit(1)).alias("n_docs_line")
    )
    sizes = docs.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_docs_group")
    )
    return (
        per_line.join(F.broadcast(sizes), group_col)
        .filter(
            (F.col("n_docs_line") >= min_docs)
            & (
                F.expr(f"n_docs_line * {1_000_000} div n_docs_group")
                >= min_frac_u
            )
        )
        .select(group_col, "line", "n_docs_line", "n_docs_group")
    )


def strip_boilerplate(
    docs: DataFrame,
    bp: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str = "source",
) -> DataFrame:
    """(id, text) with the group's boilerplate lines removed, order kept.

    Every document survives — one whose lines are ALL boilerplate comes
    back with empty text (the caller's quality gate decides its fate; a
    cleaning operator must never silently delete rows). Empty lines are
    never boilerplate (the detector skips them), so paragraph structure is
    preserved.

    Scale shape: posexplode (position-tagged) → one equi-join against the
    (group, line) boilerplate table → per-doc ordered reassembly. The
    reassembly groups by doc id and sorts each doc's OWN lines (bounded by
    per-document length, no cross-doc state); the join key is (group,
    line), the same content-grouped shuffle the detector used. The marker
    join is a left join + null-filtered collect, not an anti-join, exactly
    so all-boilerplate docs keep their output row.
    """
    # coalesce: split(NULL) is NULL and posexplode(NULL) emits ZERO rows, so
    # a NULL-text doc would silently vanish — it must survive as empty text
    pos_lines = docs.select(
        F.col(id_col),
        F.col(group_col),
        F.posexplode(
            F.split(F.coalesce(F.col(text_col), F.lit("")), "\n")
        ).alias("pos", "line"),
    )
    marked = pos_lines.join(
        bp.select(group_col, "line", F.lit(1).alias("_bp")),
        [group_col, "line"],
        "left",
    )
    return marked.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("_bp").isNull(), F.struct("pos", "line")
                        )
                    )
                ),
                lambda s: s["line"],
            ),
            "\n",
        ).alias(text_col)
    )


def neardup_clusters(
    pairs: DataFrame, id_a: str = "doc_a", id_b: str = "doc_b"
) -> DataFrame:
    """Transitive near-dup clustering: verified pairs → (doc_id, cluster_id,
    keep).

    The MassiveText/RefinedWeb dedup shape: pair-grain near-dup evidence
    (from ``minhash_dedup``, ``simhash_near_pairs``, or
    ``embedding_near_duplicates``) is closed transitively — if A~B and B~C,
    all three are one duplicate cluster even when A~C was never sampled by
    LSH — and exactly ONE canonical doc per cluster survives
    (``keep = cluster_id = min doc_id``, a deterministic engine-portable
    survivor rule). Pair-grain dropping (always drop ``doc_b``) over-drops:
    in a chain A~B, B~C it deletes both B and C even though C may only
    resemble the already-deleted B.

    Scale shape: doc ids ride the iterative CC job as xxhash64 longs (the
    star rounds shuffle narrow (long, long) edges only); the string ids
    rejoin once at (doc, component) grain and the survivor rule is one
    map-combinable min per component. Hash collisions would merge unrelated
    clusters — at 10^12 docs the birthday bound over 2^64 is ~3% for ONE
    collision corpus-wide, an over-drop of O(1) docs, which is the right
    trade for keeping strings off the iterative shuffle.
    """
    from xlink_spark.operators.cluster import connected_components

    members = (
        pairs.select(F.col(id_a).alias("doc_id"))
        .unionByName(pairs.select(F.col(id_b).alias("doc_id")))
        .distinct()
        .withColumn("node", F.xxhash64("doc_id"))
    )
    edges = pairs.select(
        F.xxhash64(id_a).alias("src"), F.xxhash64(id_b).alias("dst")
    )
    comp = connected_components(edges)
    assigned = members.join(comp, "node", "inner")
    reps = assigned.groupBy("component").agg(F.min("doc_id").alias("cluster_id"))
    return assigned.join(reps, "component").select(
        "doc_id",
        "cluster_id",
        (F.col("doc_id") == F.col("cluster_id")).alias("keep"),
    )


def paragraph_dedup(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = "\n\n",
    min_chars: int = 1,
) -> DataFrame:
    """(id, text) with every repeated paragraph removed except its FIRST
    corpus-wide occurrence (CCNet-style paragraph dedup — the step the
    reference has no analogue for; CCNet dedups paragraph hashes across
    shards before anything else sees the text).

    "First" is the (id, position) minimum — a total order, so the survivor
    set is a pure function of the corpus, independent of partitioning. A
    paragraph repeated INSIDE one document keeps only its earliest copy.
    Paragraphs shorter than ``min_chars`` (and empty ones) are never
    deduplicated — they stay where they are, preserving document structure.
    Every document survives; one that was ALL repeats comes back empty, and
    NULL text survives as empty (split/posexplode would silently drop it).

    Scale shape: the content-grouped shuffle carries ONLY (md5, id, pos) —
    paragraph text never rides it; drop positions come back per-doc as an
    int array (row_number window over the hash, rn>1), and the rebuild is a
    pure array expression over the document's own split — so text moves on
    exactly one doc-keyed join shuffle, nothing else.
    """
    paras = docs.select(
        F.col(id_col),
        F.posexplode(F.split(F.coalesce(F.col(text_col), F.lit("")), sep)).alias(
            "pos", "para"
        ),
    )
    occ = paras.filter(F.length("para") >= min_chars).select(
        F.md5("para").alias("h"), id_col, "pos"
    )
    w = Window.partitionBy("h").orderBy(id_col, "pos")
    drops = (
        occ.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") > 1)
        .groupBy(id_col)
        .agg(F.collect_list("pos").alias("_drop_pos"))
    )
    rebuilt = (
        docs.join(drops, id_col, "left")
        .withColumn(
            "_drop_pos", F.coalesce("_drop_pos", F.array().cast("array<int>"))
        )
        .withColumn(
            text_col,
            F.array_join(
                F.filter(
                    F.split(F.coalesce(F.col(text_col), F.lit("")), sep),
                    lambda x, i: ~F.array_contains(F.col("_drop_pos"), i),
                ),
                sep,
            ),
        )
    )
    return rebuilt.select(id_col, text_col)
