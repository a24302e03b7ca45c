"""End-to-end evaluation on an AIDA-CoNLL dataset (S10 → predictor → A11/A12).

Reference flow: evaluation/main.py builds docs+annotations via
AIDAYAGO2Formatter (AnnotationFormatter.py:27-86), runs the predictor over
the docs, then scores mention parsing + linking with the two-pointer walk
(MentionParsingEval.py:12-69). Spark formulation: the CoNLL source yields
(docs, gold) DataFrames; linking is the standard ``link_corpus`` batch DAG;
scoring is the existing full-outer-join F1 harness — one job end to end,
no per-doc driver loop.

NIL handling follows the reference's evaluation convention: gold mentions
whose entity is NIL (``--NME--`` or a URI-index miss) are excluded from the
linking score (the predictor is not expected to produce them) but still
count for mention-parsing P/R.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from xlink_spark.config import DEFAULT, EngineConfig
from xlink_spark.eval.f1 import linking_prf, mention_prf
from xlink_spark.plans.pipeline import Dictionary, link_corpus
from xlink_spark.plans.storage import hold, scope
from xlink_spark.sources.conll import conll_stats, read_aida_conll


@scope()
def eval_on_conll(
    spark: SparkSession,
    conll_path: str,
    d: Dictionary,
    word_emb: DataFrame,
    entity_emb: DataFrame,
    kb_uris: DataFrame | None = None,
    cfg: EngineConfig = DEFAULT,
) -> dict:
    """Parse a CoNLL dataset, link its docs, and report the metric block.

    Returns {'dataset': conll_stats row, 'mention': P/R/F1 on spans,
    'linking': pairwise linking P/R/F1 + blocked accuracy (the gate
    metric)}. Runs in its own storage scope: an F1 sweep calling eval
    repeatedly must not accumulate cached blocks.
    """
    docs, gold = read_aida_conll(spark, conll_path, kb_uris)
    # three scoring actions consume these — cache so the parse runs once
    # and the expensive linking DAG runs once, not per metric
    docs = hold(docs)
    gold = hold(gold)
    links = hold(link_corpus(docs, d, word_emb, entity_emb, cfg))
    gold_linked = gold.filter(F.col("entity_id") != "NIL")
    # NIL convention: gold-NIL mentions are excluded from the linking score
    # ENTIRELY — a prediction at a NIL gold span must not count as a false
    # positive either (the span IS a real mention; its entity is just
    # unresolvable), so those spans are removed from the prediction side too
    nil_spans = gold.filter(F.col("entity_id") == "NIL").select(
        "doc_id", "start", "end"
    )
    links_for_linking = links.join(nil_spans, ["doc_id", "start", "end"], "left_anti")
    return {
        "dataset": conll_stats(gold).collect()[0].asDict(),
        "mention": mention_prf(gold, links),
        "linking": linking_prf(gold_linked, links_for_linking),
    }
