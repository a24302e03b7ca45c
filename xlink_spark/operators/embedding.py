"""Embedding derivation & training (SURVEY §2.4 A9, §2.11 G3).

* ``entity_abstract_embedding`` — A9: entity vector := mean of word vectors
  of (title + abstract head), reference calculate_entity_embedding.py:49-123
  (jieba-tokenized there; tokenization is pluggable here).
* ``train_word2vec`` — G3: the reference trains word+entity embeddings with
  a patched C word2vec over text + KG + anchor corpora (align.c, subprocess,
  24 pthreads). The cluster-native equivalent is Spark MLlib's Word2Vec
  (skip-gram, negative sampling); hyperparameters default to the
  reference's (300-dim, window 10, minCount 5 — xlink-align.sh:24). Joint
  word+entity training falls out of the reference's corpus construction
  (entity ids injected as tokens into the training text,
  extract_embedding_train.py), which ``anchor_train_sentences`` reproduces.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from xlink_spark.functions.text import strip_punct, tokens_lower


def entity_abstract_embedding(
    kb_entities: DataFrame,
    abstracts: DataFrame,
    word_emb: DataFrame,
    head_chars: int = 200,
) -> DataFrame:
    """A9: (entity_id, vec) — mean word vector of title + abstract head.

    ``abstracts``: (doc_id=entity_id, text). Tokens missing from the word
    table are skipped (vocab filter); entities with zero in-vocab tokens get
    no row (the reference leaves them out of the embedding file too).
    """
    text = kb_entities.select(
        "entity_id",
        F.concat_ws(" ", "title", F.lit("")).alias("t"),
    ).join(
        abstracts.select(F.col("doc_id").alias("entity_id"),
                         F.substring("text", 1, head_chars).alias("head")),
        "entity_id",
        "left",
    )
    toks = text.select(
        "entity_id",
        F.explode(tokens_lower(strip_punct(F.concat_ws(" ", "t", F.coalesce("head", F.lit("")))))).alias("word"),
    )
    vecs = toks.join(F.broadcast(word_emb.withColumnRenamed("key", "word")), "word")
    dim_row = word_emb.select(F.size("vec").alias("d")).first()
    dim = dim_row["d"] if dim_row else 0
    if not dim:
        return vecs.select("entity_id").distinct().withColumn("vec", F.lit(None))
    sums = [F.sum(F.element_at("vec", d + 1).cast("double")).alias(f"_s{d}") for d in range(dim)]
    agg = vecs.groupBy("entity_id").agg(F.count(F.lit(1)).alias("_n"), *sums)
    return agg.select(
        F.col("entity_id").alias("key"),
        F.array(*[(F.col(f"_s{d}") / F.col("_n")).cast("float") for d in range(dim)]).alias("vec"),
    )


def anchor_train_sentences(docs: DataFrame) -> DataFrame:
    """Training corpus with entity ids injected at anchor positions.

    Reference: extract_embedding_train.py:12-87 — anchors contribute BOTH
    the surface words and the entity id as a pseudo-token, which is what
    makes word and entity vectors land in one space. Output: (sentence:
    array<string>).
    """
    sent = F.flatten(
        F.transform(
            "spans",
            lambda s: F.when(
                s["kind"] == "anchor",
                F.concat(
                    F.split(F.lower(F.coalesce(s["text"], F.lit(""))), r"\s+"),
                    F.array(F.concat(F.lit("ENTITY/"), s["media_ref"])),
                ),
            )
            .when(
                s["kind"] == "text",
                F.filter(
                    F.split(F.lower(F.coalesce(s["text"], F.lit(""))), r"\s+"),
                    lambda t: t != F.lit(""),
                ),
            )
            .otherwise(F.array().cast("array<string>")),
        )
    )
    return docs.select(F.filter(sent, lambda t: t != F.lit("")).alias("sentence"))


def train_word2vec(
    sentences: DataFrame,
    dim: int = 300,
    window: int = 10,
    min_count: int = 5,
    max_iter: int = 10,
    seed: int = 42,
) -> DataFrame:
    """G3 via Spark MLlib Word2Vec → (key, vec) DataFrame.

    Defaults mirror the reference trainer (300-dim, window 10, min-count 5,
    iter 10 — TrainJointModel/src/xlink-align.sh:24). MLlib uses hierarchical
    softmax skip-gram; the reference uses negative sampling — embeddings
    differ numerically but serve the same cosine-similarity role.
    """
    from pyspark.ml.feature import Word2Vec

    model = Word2Vec(
        vectorSize=dim,
        windowSize=window,
        minCount=min_count,
        maxIter=max_iter,
        seed=seed,
        inputCol="sentence",
        outputCol="_w2v",
    ).fit(sentences)
    from pyspark.ml.functions import vector_to_array

    vecs = model.getVectors()  # (word, vector: VectorUDT)
    return vecs.select(
        F.col("word").alias("key"),
        vector_to_array("vector", dtype="float32").alias("vec"),
    )
