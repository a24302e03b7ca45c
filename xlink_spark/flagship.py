"""The flagship query: full linking pipeline over the driver's testdata.

Self-supervised projection of the XLink data model onto the flat-text
corpus at /root/testdata:

  * documents(doc_id, text, lang, source) → span docs (one text span each)
  * dictionary: mention := token (len>1), entity := token '@' source — an
    ambiguous dictionary (up to 20 candidates per mention, Zipf-headed)
  * entity embeddings: entity → embeddings.embedding at
    row pmod(xxhash64(entity), |embeddings|) (deterministic pseudo-vectors)
  * word embeddings: same construction over tokens

Then the pipeline's has-prob pass (plans.pipeline.link_has_prob) runs
end-to-end: broadcast-dict detection → conflict windows → seed pool +
candidate join → prior + context-cosine fusion → gates → top-1. Rows-only
correctness (no SQL oracle here — the registry's linking_seeded_ascii
oracles the same pass on the ascii corpus).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from xlink_spark.config import DEFAULT
from xlink_spark.operators import detect as DT
from xlink_spark.operators import probs as PR
from xlink_spark.plans.pipeline import link_has_prob
from xlink_spark.plans.storage import hold


def _tokens(plain: DataFrame) -> DataFrame:
    """Tokens from the (already lower-cased, repartitioned, cached) plain
    table — every downstream groupBy inherits its full parallelism."""
    t = plain.select(
        "doc_id",
        "source",
        F.explode(F.split("text", r"\s+")).alias("tok"),
    )
    return t.filter((F.col("tok") != "") & (F.length("tok") > 1))


def _hash_embeddings(
    keys: DataFrame, key_col: str, emb: DataFrame, n: int | None = None
) -> DataFrame:
    """key → embeddings row at pmod(xxhash64(key), n). Deterministic."""
    n = n if n is not None else emb.count()
    keyed = keys.select(F.col(key_col).alias("key")).distinct().withColumn(
        "vec_id", F.pmod(F.xxhash64("key"), F.lit(n))
    )
    return keyed.join(F.broadcast(emb.select("vec_id", "embedding")), "vec_id").select(
        "key", F.col("embedding").alias("vec")
    )


def linking_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end links over the testdata corpus.

    Output: (doc_id, start, end, surface, entity_id, believe, parse_from).
    """
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    # the corpus parquet may be few small files → 1-2 input splits; spread
    # docs across all cores BEFORE the Python detection scan (at 100 TB the
    # scan has thousands of natural splits and this repartition is a no-op
    # cost — here it is the difference between 1-way and N-way detection)
    par = spark.sparkContext.defaultParallelism * 2
    plain = hold(
        docs.select(
            F.col("doc_id").cast("string").alias("doc_id"),
            "source",
            F.lower("text").alias("text"),
        ).repartition(par, "doc_id")
    )

    toks = _tokens(plain)
    ma = hold(
        toks.select(
            F.col("tok").alias("mention"),
            F.concat_ws("@", "tok", "source").alias("entity_id"),
        )
        .groupBy("mention", "entity_id")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )

    probs = PR.four_probs(ma)
    freq = toks.groupBy(F.col("tok").alias("mention")).agg(F.count(F.lit(1)).alias("freq"))
    lp = PR.link_prob(probs["link_m"], freq)

    n_emb = emb.count()
    # both tables are consumed by several broadcast builds — cache so each
    # derivation chain runs once
    entity_emb = hold(_hash_embeddings(ma.select("entity_id"), "entity_id", emb, n_emb))
    word_emb = hold(_hash_embeddings(toks.select("tok"), "tok", emb, n_emb))

    surface_dict = DT.build_surface_dict(ma)
    mentions = DT.resolve_conflicts(DT.detect_mentions(plain, surface_dict))
    return link_has_prob(
        mentions, plain, probs["e_given_m"], lp, word_emb, entity_emb,
        DEFAULT.predictor,
    )
