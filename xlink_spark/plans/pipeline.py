"""End-to-end pipeline assembly (SURVEY §3.1/§3.2 redesigned set-oriented).

Two halves, mirroring the reference:

* ``build_dictionary`` — the offline data-update pipeline (main.py:405-481,
  nine steps) as one DAG of snapshot-committed stages. A re-run resumes at
  the first missing snapshot.
* ``link_corpus`` — the online predictor (xlink.py:107-354) as one batch
  DAG over the whole corpus: detection → candidates → scoring (both the
  has-prob and no-prob passes) → merge → transitive clustering.
  ``link_has_prob`` is the has-prob pass on its own, shared with the
  flagship and the seeded ascii registry query.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from xlink_spark.config import DEFAULT, EngineConfig, PredictorConfig
from xlink_spark.operators import anchors as AN
from xlink_spark.operators import detect as DT
from xlink_spark.operators import probs as PR
from xlink_spark.operators import scoring as SC
from xlink_spark.operators.cluster import cluster_links
from xlink_spark.operators.spans import plain_text
from xlink_spark.plans.snapshots import SnapshotStore
from xlink_spark.plans.storage import hold


@dataclass
class Dictionary:
    """The offline build's output tables (the predictor's inputs)."""

    mention_anchors: DataFrame
    title_entities: DataFrame
    e_given_m: DataFrame
    entity_prior: DataFrame
    m_given_e: DataFrame
    link_prob: DataFrame


def build_dictionary(
    docs: DataFrame,
    kb_entities: DataFrame,
    entity_emb: DataFrame,
    store: SnapshotStore,
    cfg: EngineConfig = DEFAULT,
) -> Dictionary:
    """Steps 1-8 of the reference pipeline as snapshot-committed stages.

    Every stage is committed to ``store`` (or read back from it), so the
    returned tables are snapshot reads: each linking run consumes them
    without re-deriving the dictionary from the corpus.
    """
    spark = docs.sparkSession

    def stage(name: str, compute):
        return store.get_or_compute(spark, name, compute)

    plain = docs.select("doc_id", plain_text("spans").alias("text"))
    ma_raw = stage("mention_anchors_raw", lambda: AN.extract_mention_anchors(docs, cfg.dictionary))
    self_links = stage("self_links", lambda: AN.extract_self_links(docs))
    freq = stage(
        "freq_m", lambda: AN.freq_m_from_plain(plain, ma_raw.select("mention"))
    )
    ma_refined = stage(
        "mention_anchors_refined",
        lambda: AN.filter_mention_anchors(
            AN.refine_by_freq(ma_raw, freq), freq, self_links, cfg.dictionary
        ),
    )

    def _expanded():
        injected, _ = AN.expand_title_entities(kb_entities, ma_refined)
        return AN.merge_anchor_counts(ma_refined, injected)

    def _titles():
        _, tt = AN.expand_title_entities(kb_entities, ma_refined)
        return AN.filter_title_entities(tt, entity_emb, cfg.dictionary)

    ma_full = stage("mention_anchors", lambda: AN.filter_by_entity_embedding(_expanded(), entity_emb))
    title_entities = stage("title_entities", _titles)

    probs = PR.four_probs(ma_full)
    e_given_m = stage("e_given_m", lambda: probs["e_given_m"])
    entity_prior = stage("entity_prior", lambda: probs["entity_prior"])
    m_given_e = stage("m_given_e", lambda: probs["m_given_e"])
    lp = stage("link_prob", lambda: PR.link_prob(probs["link_m"], freq))
    return Dictionary(ma_full, title_entities, e_given_m, entity_prior, m_given_e, lp)


def link_has_prob(
    mentions: DataFrame,
    docs_plain: DataFrame,
    e_given_m: DataFrame,
    link_prob: DataFrame,
    word_emb: DataFrame,
    entity_emb: DataFrame,
    pcfg: PredictorConfig,
    broadcast_dict: bool = True,
) -> DataFrame:
    """The has-prob ('ma') pass over resolved mentions (xlink.py:107-176):
    context words → unambiguous-seed pool → candidates ⋈ ``e_given_m`` →
    context-entity similarity → believe fusion, gates and top-1.

    Output: (doc_id, start, end, surface, entity_id, believe,
    parse_from='ma').
    """
    # fan-out point (ctx branch + seed branch): persist the NARROW mention
    # rows eagerly so concurrent branches don't race the same uncached plan
    # (the alternative, persisting the 20x-exploded candidate table, costs
    # 20x the memory)
    mentions = hold(mentions, eager=True)
    ctx = SC.context_word_vector(
        SC.attach_context(mentions, docs_plain, pcfg), word_emb,
        tokenizer=pcfg.context_tokenizer,
    )
    # seeds derive from the dictionary + mentions at SURFACE grain — the
    # exploded candidate table is consumed exactly once (a linear chain, no
    # 20x-exploded persist)
    _, doc_agg = SC.seed_pool_from_dictionary(
        mentions, e_given_m, entity_emb, broadcast_dict=broadcast_dict
    )
    cands = SC.candidate_table(ctx, e_given_m, entity_emb, broadcast_dict=broadcast_dict)
    # has-prob pool: ALL unambiguous seeds, own seed included; empty ⇒ 1
    # (xlink.py:157-161, 329-334)
    cands = SC.context_entity_vector(cands, doc_agg, entity_emb=entity_emb)
    return SC.score_has_prob(cands, link_prob, pcfg)


def link_corpus(
    docs_plain: DataFrame,
    d: Dictionary,
    word_emb: DataFrame,
    entity_emb: DataFrame,
    cfg: EngineConfig = DEFAULT,
) -> DataFrame:
    """The full linking query: plain docs → final (mention, entity) links.

    Output: (doc_id, start, end, surface, entity_id, believe, parse_from).
    Two detection passes (the reference's 'ma' and 'tt' automata,
    xlink.py:111/181) — two map-only scans, no extra shuffle. Both passes
    build their candidates with the same candidate_table.
    """
    pcfg = cfg.predictor

    # ---- has-prob pass -----------------------------------------------------
    # dictionary tables broadcast while KB-sized; beyond the threshold BOTH
    # detection (dictionary-as-table n-gram equi-join) and the candidate
    # explosion (shuffle join, hot surfaces split by AQE's skew join) stay
    # fully distributed — nothing is ever collected to the driver in the
    # big-dictionary regime
    bcast = d.mention_anchors.count() <= cfg.broadcast_dict_max_rows
    if bcast:
        ma_dict = DT.build_surface_dict(d.mention_anchors)
        ma_detected = DT.detect_mentions(docs_plain, ma_dict)
    else:
        ma_detected = DT.detect_mentions_join(
            docs_plain,
            d.mention_anchors.select("mention").withColumn(
                "parse_from", F.lit("ma")
            ),
        )
    prob_links = link_has_prob(
        DT.resolve_conflicts(ma_detected), docs_plain, d.e_given_m, d.link_prob,
        word_emb, entity_emb, pcfg, broadcast_dict=bcast,
    )

    # ---- no-prob pass (title dict) ------------------------------------------
    n_tt = d.title_entities.count()
    if n_tt == 0:
        return prob_links
    tt_bcast = n_tt <= cfg.broadcast_dict_max_rows
    if tt_bcast:
        # build_surface_dict marks its first arg 'ma'; relabel for tt
        tt_dict = DT.build_surface_dict(d.title_entities, None)
        tt_dict = {s: (nw, "tt") for s, (nw, _) in tt_dict.items()}
        tt_detected = DT.detect_mentions(docs_plain, tt_dict)
    else:
        tt_detected = DT.detect_mentions_join(
            docs_plain,
            d.title_entities.select("mention").withColumn("parse_from", F.lit("tt")),
        )
    tt_ctx = SC.context_word_vector(
        SC.attach_context(
            DT.resolve_conflicts(tt_detected), docs_plain, pcfg,
            window=pcfg.np_context_window,
        ),
        word_emb,
        tokenizer=pcfg.context_tokenizer,
    )
    tt_cands = SC.candidate_table(
        tt_ctx, d.title_entities, entity_emb, broadcast_dict=tt_bcast
    )
    tt_seeds = SC.seed_vectors(
        SC.seed_argmax(
            tt_cands, pcfg, strict_reference_bugs=pcfg.strict_reference_bugs
        ).select(*SC.MENTION_KEY, F.col("entity_id").alias("seed_eid")),
        entity_emb,
    )
    # no-prob pool: seeded mentions drop entity-overlapping seeds
    # (xlink.py:241-254); empty pool ⇒ 1, SAME as the has-prob pass — the
    # shared cal_candidate_context_entities_sim (xlink.py:329-334)
    tt_cands = SC.context_entity_vector(
        tt_cands, SC.doc_agg_from_seeds(tt_seeds), entity_emb=entity_emb,
        exclude_seeds=tt_seeds,
    )
    return SC.merge_results(
        prob_links, SC.score_no_prob(tt_cands, pcfg),
        strict_reference_bugs=pcfg.strict_reference_bugs,
    )


def link_and_cluster(
    docs_plain: DataFrame,
    d: Dictionary,
    word_emb: DataFrame,
    entity_emb: DataFrame,
    cfg: EngineConfig = DEFAULT,
) -> tuple[DataFrame, DataFrame]:
    """links + transitive entity clusters (the north-star output pair)."""
    links = link_corpus(docs_plain, d, word_emb, entity_emb, cfg)
    clusters = cluster_links(links, threshold=cfg.cluster.match_threshold)
    return links, clusters
