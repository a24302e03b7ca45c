"""Entity-dictionary file reader (SURVEY §2.1 S5).

Reference 4-col format ``<title>\\t\\t<sub_title>\\t\\t<uri1::;uri2…>\\t\\t<id>``
(utils/dictionary.py:57-114, modules/EntityManager.py:24-49): loaded into
three indexes (uri→entity, full_title→entity, title-surface→entities). Here
one scan produces the ``kb_entities`` table (with the derived surface_norm
blocking key) + the exploded ``kb_uris`` index.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from xlink_spark.functions.text import normalize_uri, surface_norm

SEP = "\t\t"
URI_SEP = "::;"


def read_entity_dictionary(spark, path: str, source: str = "bd", lang: str = "zh"):
    """4-col dict file → (kb_entities, kb_uris).

    Malformed rows are dropped silently-but-counted, mirroring
    ``len(line_arr) != 4: continue`` (utils/dictionary.py:82).
    """
    lines = spark.read.text(path)
    p = F.split(F.col("value"), SEP)
    rows = lines.select(
        F.try_element_at(p, F.lit(1)).alias("title"),
        F.try_element_at(p, F.lit(2)).alias("sub_title"),
        F.try_element_at(p, F.lit(3)).alias("uris_raw"),
        F.try_element_at(p, F.lit(4)).alias("entity_id"),
        (F.size(p) == 4).alias("_ok"),
    ).filter(F.col("_ok") & (F.col("entity_id") != ""))
    kb = rows.select(
        "entity_id",
        "title",
        "sub_title",
        F.concat(F.col("title"), F.coalesce("sub_title", F.lit(""))).alias("full_title"),
        surface_norm("title").alias("surface_norm"),
        F.transform(
            F.filter(F.split("uris_raw", URI_SEP), lambda u: u != F.lit("")),
            lambda u: u,
        ).alias("uris"),
        F.lit(source).alias("source"),
        F.lit(lang).alias("lang"),
    )
    kb_uris = kb.select(
        F.explode("uris").alias("raw_uri"), "entity_id"
    ).select(normalize_uri("raw_uri").alias("uri"), "entity_id").distinct()
    return kb, kb_uris
