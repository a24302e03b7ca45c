"""Pairwise (mention, candidate-entity) scoring (SURVEY §2.2 F6-F8,
§2.4 A7/A8, §2.5 W3-W5, §2.8 C8-C11).

Reference lifecycle: xlink.py:107-354. Set-oriented redesign — every stage
is a DataFrame transform over the exploded (mention × candidate) table,
and BOTH passes (has-prob 'ma', no-prob 'tt') share it:

  mentions ─┬─ attach_context ── context_word_vector (A7)
            ├─ seeds: 'ma' = unambiguous surfaces (seed_pool_from_dictionary,
            │         xlink.py:115-145); 'tt' = seed_argmax (W5)
            │        └─ per-doc seed pool → context_entity_vector (A8, U3)
            └─ candidate_table: ⋈ dictionary ⋈ entity_embeddings → ctx_word_sim
                     └─ believe fusion (C9/C10) → gates (F6-F8) → top-1 (W4)

The dictionary is ONE table keyed (mention, entity_id): ``e_given_m`` for
the has-prob pass (it carries the prior ``p``), ``title_entities`` for the
no-prob pass. Cosines are JVM-side column expressions: both context vectors
and the broadcast entity vectors are unit-normalized once, so each
candidate's cosine is one functions.vectors.dot — the whole scoring stage
is one shuffle-free projection after the joins. candidate_table scores
``ctx_word_sim`` and drops every vector; the scoring functions read only
similarity columns.

Semantic pins (tests hold these):
  * empty context words ⇒ word_sim = 0            (xlink.py:319)
  * empty context entities ⇒ ent_sim = 1 on BOTH passes — the shared
    cal_candidate_context_entities_sim (xlink.py:329-334); the GM
    predictor's 0-convention (Predictor.py:210) belongs to a predictor
    this rebuild does not implement
  * has-prob pool = ALL unambiguous seeds, own seed INCLUDED
    (xlink.py:157-161); no-prob pool: seeded mentions drop seeds whose
    entity matches any of their candidates (xlink.py:241-254)
  * the no-prob word-sim threshold gates the MENTION, not candidates
    (xlink.py:199-211); argmax runs over all candidates (xlink.py:257-263)
  * W5's intended semantics is argmax by word_sim (the reference's
    `max_sim`-never-updated bug, Predictor.py:140-144, is NOT reproduced)
  * W3's intended semantics keeps prob-mentions per overlap group (the
    reference's always-true `len(...) is not None`, xlink.py:299/310, is
    NOT reproduced)
  * ties everywhere break on ascending entity_id for determinism (the
    reference relies on Python sort stability).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from xlink_spark.config import PredictorConfig
from xlink_spark.functions.text import tokens_lower
from xlink_spark.functions.vectors import dot, norm as vnorm


def _unit_entity_emb(entity_emb: DataFrame) -> DataFrame:
    """(entity_id, entity_unit) — normalized ONCE on the small (broadcast)
    side via HOFs (row count is KB-bounded), so the per-candidate cosine is
    a single compact dot product."""
    e = entity_emb.select(
        F.col("key").alias("entity_id"),
        F.col("vec"),
        vnorm("vec").alias("_nrm"),
    )
    return e.select(
        "entity_id",
        F.when(
            F.col("_nrm") > 0,
            F.transform("vec", lambda x: x.cast("double") / F.col("_nrm")),
        ).alias("entity_unit"),
    )

MENTION_KEY = ["doc_id", "start", "end"]


def attach_context(
    mentions: DataFrame,
    docs_plain: DataFrame,
    cfg: PredictorConfig | None = None,
    window: int | None = None,
) -> DataFrame:
    """C13: ±window-char context strings around each mention (xlink.py:120-127).

    ``window`` overrides the config — the no-prob pass has its own window
    size (no_prob_context_words_window, xlink.py:185-187; both default 50).
    """
    cfg = cfg or PredictorConfig()
    w = window if window is not None else cfg.context_window
    joined = mentions.join(docs_plain.select("doc_id", "text"), "doc_id", "inner")
    prev_start = F.greatest(F.col("start") - w, F.lit(0))
    return joined.select(
        *mentions.columns,
        F.substring(F.col("text"), prev_start + 1, F.col("start") - prev_start).alias(
            "ctx_prev"
        ),
        F.substring(F.col("text"), F.col("end") + 1, w).alias("ctx_after"),
    )


def context_word_vector(
    mentions_ctx: DataFrame, word_emb: DataFrame, tokenizer: str = "ws"
) -> DataFrame:
    """A7: mean-pool of in-vocabulary context-word vectors per mention.

    ``tokenizer``: "ws" = whitespace tokens (en path, WordParser.py:81-83);
    "cjk" = CJK chars as single tokens + non-CJK runs (the zh fallback —
    the reference segments zh context with jieba, WordParser.py:76-79; the
    char-unigram degradation keeps the path JVM-side and matches C7's
    jieba-less behavior).

    Explode tokens (OUTER — empty-context mentions keep one null-word row)
    → broadcast LEFT-join the word table (acts as the vocab filter,
    xlink.py:124-127) → mean pool. Null ``ctx_vec`` means empty context.

    Single-pass shape: the mention's other columns ride THROUGH the
    aggregation (first() per group) instead of being joined back — the
    naive pool-then-join-back formulation consumes ``mentions_ctx`` twice,
    recomputing the whole upstream mention derivation (detection, conflict
    windows) once per branch, and adds a mention-keyed shuffle join.
    Measured on the flagship: 7.3s → 3.4s for this stage at sf0.1.

    The pool is computed as ``dim`` per-dimension SUM aggregates (one hash
    aggregate, fully whole-stage-codegen) rather than collect_list + a
    higher-order fold — the interpreted lambda over millions of boxed
    doubles was the pipeline's hottest CPU path.
    """
    from xlink_spark.functions.text import tokens_lower_cjk

    tok_fn = tokens_lower_cjk if tokenizer == "cjk" else tokens_lower
    dim_row = word_emb.select(F.size("vec").alias("d")).first()
    dim = dim_row["d"] if dim_row else 0
    carry = [c for c in mentions_ctx.columns if c not in (*MENTION_KEY, "ctx_prev", "ctx_after")]
    if not dim:
        # empty vocabulary — no mention gets a context vector
        return mentions_ctx.select(
            *MENTION_KEY, *carry, F.lit(None).cast("array<double>").alias("ctx_vec")
        )
    toks = mentions_ctx.select(
        *MENTION_KEY,
        *carry,
        F.explode_outer(
            F.concat(
                tok_fn("ctx_prev"),
                tok_fn("ctx_after"),
            )
        ).alias("word"),
    )
    vecs = toks.join(
        F.broadcast(word_emb.withColumnRenamed("key", "word")), "word", "left"
    )
    sums = [
        F.sum(F.element_at("vec", d + 1).cast("double")).alias(f"_s{d}")
        for d in range(dim)
    ]
    pooled = vecs.groupBy(*MENTION_KEY).agg(
        *[F.first(c).alias(c) for c in carry],
        *sums,
    )
    # UNIT-normalized context vector (the /n mean cancels in the norm):
    # downstream cosine collapses to a single dot product per candidate.
    # The norm is materialized as its own column FIRST — inlining a
    # 64-term norm into each of 64 array elements builds a >64KB codegen
    # method that silently falls back to interpreted evaluation.
    # Empty-context mentions have all-null sums ⇒ null norm ⇒ null
    # ctx_vec, the same contract the join-back produced.
    pooled = pooled.withColumn(
        "_nrm",
        F.sqrt(sum(F.col(f"_s{d}") * F.col(f"_s{d}") for d in range(dim))),
    )
    return pooled.select(
        *MENTION_KEY,
        *carry,
        "_nrm",
        F.array(*[F.col(f"_s{d}") for d in range(dim)]).alias("_arr"),
    ).select(
        *MENTION_KEY,
        *carry,
        F.when(
            F.col("_nrm") > 0,
            F.transform("_arr", lambda x: x / F.col("_nrm")),
        ).alias("ctx_vec"),
    )


def candidate_table(
    mentions: DataFrame,
    dictionary: DataFrame,
    entity_emb: DataFrame,
    broadcast_dict: bool = True,
) -> DataFrame:
    """Explode mention × candidate and score the context-word cosine.

    ``dictionary``: (mention, entity_id[, p]) — ``e_given_m`` for the
    has-prob pass, ``title_entities`` for the no-prob pass; its other
    columns ride along. Joined once on ``lower(surface)``. F6/F4 at predict
    time: candidates without an embedding are dropped (inner join,
    xlink.py:196-206, Predictor.py:117-126).

    ``mentions`` is context_word_vector's output: each candidate's
    ``ctx_word_sim`` is scored here from its ``ctx_vec`` and every vector
    is dropped. A null context or a zero-norm entity vector scores 0
    (xlink.py:319).

    Scale shape: the entity side is broadcast (bounded by the KB), so the
    exploded candidate rows never shuffle vectors — the only wide column
    that moves in a shuffle is one ctx_vec per MENTION, never per
    candidate. Context strings (ctx_prev/ctx_after) are dropped here; they
    have served their purpose upstream.
    """
    narrow = mentions.drop("ctx_prev", "ctx_after")
    # Dictionary tables are KB-bounded: broadcast them so the candidate
    # explosion never shuffles detected mentions by surface — the surface
    # key is Zipf-skewed (few distinct heads carry most rows) and a
    # sort-merge join on it collapses to a handful of hot reducers. Beyond
    # broadcast size (broadcast_dict=False) the join shuffles and relies on
    # AQE's skew-join splitting (session.py) for the hot surfaces.
    maybe_b = F.broadcast if broadcast_dict else (lambda df: df)
    cands = narrow.withColumn("mention", F.lower("surface")).join(
        maybe_b(dictionary), "mention", "inner"
    )
    # ONE inner join with the unit-normalized entity side: it is the
    # embedding filter and the vector source at once. ctx_vec arrives
    # unit-normalized from context_word_vector → ONE dot per candidate
    # (a dot unrolled into one expression per dimension exceeds the JIT's
    # huge-method limit and drops to the bytecode interpreter — measured
    # 2.7x slower)
    cands = cands.join(F.broadcast(_unit_entity_emb(entity_emb)), "entity_id", "inner")
    sim = F.when(
        F.col("ctx_vec").isNull() | F.col("entity_unit").isNull(),
        F.lit(0.0),
    ).otherwise(dot("entity_unit", "ctx_vec"))
    return cands.withColumn("ctx_word_sim", sim).drop("ctx_vec", "entity_unit")


def _drop_arrays(df: DataFrame) -> DataFrame:
    """Drop array-typed columns so window sorts/shuffles stay narrow."""
    from pyspark.sql.types import ArrayType

    arr = [f.name for f in df.schema.fields if isinstance(f.dataType, ArrayType)]
    return df.drop(*arr) if arr else df


def seed_vectors(seeds: DataFrame, entity_emb: DataFrame) -> DataFrame:
    """(doc_id, start, end, seed_eid, seed_vec): each seed's entity vector,
    broadcast-joined from ``entity_emb`` (seeds without one are dropped)."""
    return seeds.join(
        F.broadcast(
            entity_emb.select(
                F.col("key").alias("seed_eid"), F.col("vec").alias("seed_vec")
            )
        ),
        "seed_eid",
        "inner",
    ).select(*MENTION_KEY, "seed_eid", "seed_vec")


def seed_pool_from_dictionary(
    mentions: DataFrame,
    dictionary: DataFrame,
    entity_emb: DataFrame,
    broadcast_dict: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """seed_pool computed at SURFACE grain — no pass over exploded candidates.

    A mention's candidate set is a function of its surface alone (the
    dictionary joins are all surface/entity-keyed), so unambiguity is a
    DICTIONARY property: count surviving candidates per surface once on the
    KB-bounded side, broadcast the single-candidate surfaces, and join the
    detected mentions. Equivalent to ``seed_pool(candidate_table(...))`` —
    pinned by test — but the expensive input never shuffles, and the caller
    no longer needs to persist the candidate table just to derive seeds
    (the plan becomes a single linear chain).

    ``mentions``: detected mentions with ``surface``; ``dictionary``: the
    same (mention, entity_id) table candidate_table joins. Returns the same
    (seeds, doc_agg) pair as ``seed_pool``.
    """
    surf = dictionary.select("mention", "entity_id").join(
        entity_emb.select(F.col("key").alias("entity_id")),
        "entity_id",
        "left_semi",
    )
    surf1 = (
        surf.groupBy("mention")
        .agg(F.count(F.lit(1)).alias("_n"), F.first("entity_id").alias("seed_eid"))
        .filter(F.col("_n") == 1)
        .select("mention", "seed_eid")
    )
    maybe_b = F.broadcast if broadcast_dict else (lambda df: df)
    seeds = seed_vectors(
        mentions.select(*MENTION_KEY, F.lower("surface").alias("mention")).join(
            maybe_b(surf1), "mention", "inner"
        ),
        entity_emb,
    )
    return seeds, doc_agg_from_seeds(seeds)


def seed_pool(candidates: DataFrame, entity_emb: DataFrame) -> DataFrame:
    """Unambiguous-mention seeds (xlink.py:115-145).

    A mention with exactly one surviving candidate contributes that entity's
    vector to its document's context pool. Returns (seeds, doc_agg):
    seeds = (doc_id, start, end, seed_eid, seed_vec); doc_agg = per-doc
    ELEMENTWISE SUM + count (doc_id, doc_sum, doc_seed_cnt) — the per-doc
    seed list is reduced immediately so nothing wide outlives this
    aggregation.

    The candidate shuffle carries only ids — the seed vector is
    broadcast-joined from ``entity_emb`` after the uniqueness aggregation.
    """
    counts = candidates.groupBy(*MENTION_KEY).agg(F.count(F.lit(1)).alias("n"))
    unambig = counts.filter(F.col("n") == 1).select(*MENTION_KEY)
    seeds = seed_vectors(
        candidates.select(*MENTION_KEY, F.col("entity_id").alias("seed_eid")).join(
            unambig, MENTION_KEY, "left_semi"
        ),
        entity_emb,
    )
    return seeds, doc_agg_from_seeds(seeds)


def doc_agg_from_seeds(seeds: DataFrame) -> DataFrame:
    """(doc_id, doc_sum, doc_seed_cnt) — elementwise seed-vector sums."""
    return (
        seeds.groupBy("doc_id")
        .agg(
            F.collect_list("seed_vec").alias("vs"),
            F.count(F.lit(1)).alias("doc_seed_cnt"),
        )
        .select(
            "doc_id",
            F.aggregate(
                "vs",
                F.transform(F.element_at("vs", 1), lambda x: x.cast("double") * 0),
                lambda acc, v: F.zip_with(acc, v, lambda a, b: a + b.cast("double")),
            ).alias("doc_sum"),
            "doc_seed_cnt",
        )
    )


def context_entity_vector(
    candidates: DataFrame,
    doc_agg: DataFrame,
    entity_emb: DataFrame,
    exclude_seeds: DataFrame | None = None,
) -> DataFrame:
    """A8 + U3: per-candidate context-entity similarity.

    ``exclude_seeds`` selects the reference pass's pool semantics:

    * ``None`` — has-prob pass (xlink.py:157-161): the pool is ALL
      unambiguous seeds of the doc, INCLUDING the mention's own seed
      (the reference applies no exclusion there).
    * a seed frame (MENTION_KEY, ``seed_eid``, ``seed_vec``) — no-prob pass
      (xlink.py:241-254): a SEEDED mention's pool drops every seed whose
      entity_id matches any of the mention's candidates; unseeded mentions
      keep the full pool.

    The pool vector is materialized per MENTION (not per candidate) and
    joined to the exploded candidates last — at 10^12 docs the wide columns
    move once per mention, and the candidates shuffle NARROW (no vectors).
    The pool vector is UNIT-normalized once per mention (the /cnt mean
    cancels), the entity side once per entity (broadcast from
    ``entity_emb``), so the per-candidate cosine is a single compact dot
    product. A candidate whose entity vector is all zero scores 0. An empty
    pool scores 1 on BOTH passes — the reference's shared
    cal_candidate_context_entities_sim (xlink.py:329-334).
    """
    if exclude_seeds is None:
        # the pool is a PER-DOC quantity here (no per-mention exclusion):
        # skip the mention-grain distinct + mention-keyed join entirely and
        # attach the doc pool by doc_id — doc_agg is orders of magnitude
        # smaller than the mention set
        pool_key = ["doc_id"]
        mp = doc_agg.withColumn(
            "_ex_vec", F.lit(None).cast("array<double>")
        ).withColumn("_ex_cnt", F.lit(0))
    else:
        pool_key = list(MENTION_KEY)
        mention_keys = candidates.select(*MENTION_KEY).distinct()
        mp = mention_keys.join(doc_agg, "doc_id", "left")
        seeded = (
            exclude_seeds.select(*MENTION_KEY).distinct().withColumn("_seeded", F.lit(1))
        )
        doc_seeds = exclude_seeds.select(
            "doc_id", F.col("seed_eid").alias("entity_id"), "seed_vec"
        )
        # per-mention sum of doc seeds sharing an entity with ANY of the
        # mention's candidates — narrow equi-join on (doc_id, entity_id);
        # matches are rare, so carrying seed_vec through it is cheap
        excl = (
            candidates.select(*MENTION_KEY, "entity_id")
            .join(doc_seeds, ["doc_id", "entity_id"], "inner")
            .groupBy(*MENTION_KEY)
            .agg(
                F.collect_list("seed_vec").alias("_vs"),
                F.count(F.lit(1)).alias("_exn"),
            )
            .select(
                *MENTION_KEY,
                F.aggregate(
                    "_vs",
                    F.transform(F.element_at("_vs", 1), lambda x: x.cast("double") * 0),
                    lambda acc, v: F.zip_with(acc, v, lambda a, b: a + b.cast("double")),
                ).alias("_ex_all"),
                "_exn",
            )
        )
        mp = (
            mp.join(seeded, MENTION_KEY, "left")
            .join(excl, MENTION_KEY, "left")
            .withColumn(
                "_ex_cnt",
                F.when(
                    F.col("_seeded") == 1, F.coalesce(F.col("_exn"), F.lit(0))
                ).otherwise(F.lit(0)),
            )
            .withColumn("_ex_vec", F.when(F.col("_seeded") == 1, F.col("_ex_all")))
            .drop("_seeded", "_ex_all", "_exn")
        )
    zero = F.transform(F.col("doc_sum"), lambda x: x * 0)
    pool_cnt = F.coalesce(F.col("doc_seed_cnt"), F.lit(0)) - F.col("_ex_cnt")
    pool_raw = F.when(
        (F.col("doc_sum").isNotNull()) & (pool_cnt > 0),
        F.zip_with(
            "doc_sum",
            F.coalesce(F.col("_ex_vec").cast("array<double>"), zero),
            lambda a, b: a - b.cast("double"),
        ),
    )
    mp = mp.select(*pool_key, pool_raw.alias("_praw"))
    mp = mp.withColumn("_nrm", vnorm("_praw")).select(
        *pool_key,
        F.when(
            F.col("_praw").isNotNull() & (F.col("_nrm") > 0),
            F.transform("_praw", lambda x: x / F.col("_nrm")),
        ).alias("pool_vec"),
    )
    c = candidates.join(mp, pool_key, "left")
    c = c.join(F.broadcast(_unit_entity_emb(entity_emb)), "entity_id", "left")
    sim = F.when(F.col("entity_unit").isNull(), F.lit(0.0)).otherwise(
        dot("entity_unit", "pool_vec")
    )
    c = c.withColumn(
        "ctx_ent_sim",
        F.when(F.col("pool_vec").isNull(), F.lit(1.0)).otherwise(sim),
    )
    return c.drop("pool_vec", "entity_unit")


def score_has_prob(
    candidates: DataFrame,
    link_prob: DataFrame,
    cfg: PredictorConfig | None = None,
) -> DataFrame:
    """The has-prob scoring path (xlink.py:147-176, 347-354).

    Expects candidates with ``ctx_word_sim`` (candidate_table),
    ``ctx_ent_sim`` (context_entity_vector) and ``p`` (=P(e|m)). Produces
    per-mention winners with believe scores:

      cand_believe = P(e|m)^α · word_sim · ent_sim       (believe_score_v2)
      mention_believe = (best_cand_believe + link_prob)/2 (xlink.py:172-173)
      gates: link_prob > link_prob_th AND believe > believe_th

    This is the reference's believe_score_v2 (xlink.py:347, what predict
    calls at xlink.py:161); its v1 fusion over P(e) (xlink.py:338-345) is
    dead code there and is not built.
    """
    cfg = cfg or PredictorConfig()
    scored = candidates.withColumn(
        "cand_believe",
        F.pow("p", F.lit(cfg.prior_power))
        * F.col("ctx_word_sim")
        * F.col("ctx_ent_sim"),
    )
    scored = _drop_arrays(scored)  # narrow rows through the top-1 sort
    top = Window.partitionBy(*MENTION_KEY).orderBy(
        F.col("cand_believe").desc(), F.col("entity_id").asc()
    )
    best = scored.withColumn("rn", F.row_number().over(top)).filter(F.col("rn") == 1)
    gated = (
        best.join(F.broadcast(link_prob.select("mention", "link_prob")), "mention", "inner")
        .withColumn("believe", (F.col("cand_believe") + F.col("link_prob")) / 2)
        .filter(
            (F.col("link_prob") > cfg.link_prob_th) & (F.col("believe") > cfg.believe_th)
        )
    )
    return gated.select(
        *MENTION_KEY,
        "surface",
        "entity_id",
        "believe",
        F.lit("ma").alias("parse_from"),
    )


def score_no_prob(
    candidates: DataFrame, cfg: PredictorConfig | None = None
) -> DataFrame:
    """The no-prob (title-dict) path — xlink.py:179-270.

    Expects candidates with ``ctx_word_sim`` (candidate_table) and
    ``ctx_ent_sim`` (context_entity_vector; empty pool ⇒ 1).
    believe = w·word_sim + (1−w)·ent_sim.

    Gate semantics pinned to the reference: the word-sim threshold gates
    the MENTION, not the candidates — a mention survives iff ANY candidate
    has word_sim > np_ctx_word_sim_th (xlink.py:199-211, valid_candidates
    only decide survival; ``mention.candidates`` is never replaced), and
    the final argmax by believe runs over ALL candidates, including ones
    below the word-sim threshold (xlink.py:257-263). Mention gate: best
    believe > np_believe_th.
    """
    cfg = cfg or PredictorConfig()
    scored = candidates.withColumn(
        "believe",
        cfg.np_words_weight * F.col("ctx_word_sim")
        + (1 - cfg.np_words_weight) * F.col("ctx_ent_sim"),
    )
    scored = _drop_arrays(scored)
    # one shuffle: max() and row_number() share the mention partitioning
    w_m = Window.partitionBy(*MENTION_KEY)
    top = w_m.orderBy(F.col("believe").desc(), F.col("entity_id").asc())
    best = (
        scored.withColumn("_max_ws", F.max("ctx_word_sim").over(w_m))
        .withColumn("rn", F.row_number().over(top))
        .filter(
            (F.col("_max_ws") > cfg.np_ctx_word_sim_th)
            & (F.col("rn") == 1)
            & (F.col("believe") > cfg.np_believe_th)
        )
    )
    return best.select(
        *MENTION_KEY,
        "surface",
        "entity_id",
        "believe",
        F.lit("tt").alias("parse_from"),
    )


def seed_argmax(
    candidates: DataFrame,
    cfg: PredictorConfig | None = None,
    strict_reference_bugs: bool = False,
) -> DataFrame:
    """W5: per-mention argmax by word_sim, kept iff sim > seed threshold.

    Expects candidates with ``ctx_word_sim`` (candidate_table); returns
    (doc_id, start, end, entity_id, ctx_word_sim) per kept mention.

    Default = intended semantics of xlink.py:213-225. The reference's bug
    (xlink.py:218-222): ``max_sim = -1`` is never updated, so
    ``candidate.context_words_sim > max_sim`` is always true and
    ``max_cand`` ends up the LAST candidate in insertion order; the seed
    gate then tests that last candidate's sim.
    ``strict_reference_bugs=True`` reproduces this for parity testing
    against reference outputs (insertion order ≙ ascending entity_id here).
    """
    cfg = cfg or PredictorConfig()
    scored = _drop_arrays(candidates)
    if strict_reference_bugs:
        pick = Window.partitionBy(*MENTION_KEY).orderBy(F.col("entity_id").desc())
        return (
            scored.withColumn("rn", F.row_number().over(pick))
            .filter((F.col("rn") == 1) & (F.col("ctx_word_sim") > cfg.np_seed_th))
            .select(*MENTION_KEY, "entity_id", "ctx_word_sim")
        )
    return (
        scored.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy(*MENTION_KEY).orderBy(
                    F.col("ctx_word_sim").desc(), F.col("entity_id").asc()
                )
            ),
        )
        .filter((F.col("rn") == 1) & (F.col("ctx_word_sim") > cfg.np_seed_th))
        .select(*MENTION_KEY, "entity_id", "ctx_word_sim")
    )


def merge_results(
    prob_links: DataFrame,
    no_prob_links: DataFrame,
    strict_reference_bugs: bool = False,
) -> DataFrame:
    """W3: merge the two passes — prob wins overlap groups (xlink.py:272-316).

    Same overlap-group window as resolve_conflicts; within a group keep all
    'ma' rows if any exist, else the 'tt' rows — the INTENDED semantics.
    The reference's bug (xlink.py:299/310): ``if len(mentions_has_prob) is
    not None`` is always true, so the no-prob branch never executes and
    every no-prob mention is silently dropped.
    ``strict_reference_bugs=True`` reproduces that: the merge returns the
    prob-side links only.
    """
    if strict_reference_bugs:
        return prob_links
    both = prob_links.unionByName(no_prob_links)
    w_scan = (
        Window.partitionBy("doc_id")
        .orderBy("start", "end")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    grouped = both.withColumn(
        "new_group",
        (F.col("start") >= F.coalesce(F.max("end").over(w_scan), F.lit(-1))).cast("int"),
    ).withColumn(
        "grp",
        F.sum("new_group").over(
            Window.partitionBy("doc_id")
            .orderBy("start", "end")
            .rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    w_grp = Window.partitionBy("doc_id", "grp")
    return (
        grouped.withColumn(
            "grp_has_ma", F.max((F.col("parse_from") == "ma").cast("int")).over(w_grp)
        )
        .filter((F.col("parse_from") == "ma") | (F.col("grp_has_ma") == 0))
        .drop("new_group", "grp", "grp_has_ma")
    )
