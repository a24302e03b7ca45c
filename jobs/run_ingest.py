"""spark-submit entrypoint: convert XLink's reference input files into the
parquet tables that jobs/run_pipeline.py reads.

Usage (cluster or local), ingest then link:

    zip -r xlink_spark.zip xlink_spark
    spark-submit --py-files xlink_spark.zip jobs/run_ingest.py \\
        --raw-corpus /raw/corpus.txt --entity-dict /raw/entity_dict.txt \\
        --word-vec /raw/word.bin --entity-vec /raw/entity.bin \\
        --output /lake/in --snapshots /lake/snapshots
    spark-submit --py-files xlink_spark.zip jobs/run_pipeline.py \\
        --documents /lake/in/documents --kb /lake/in/kb \\
        --word-emb /lake/in/word_emb --entity-emb /lake/in/entity_emb \\
        --output /lake/out --snapshots /lake/snapshots

Inputs, in the reference's formats:

* ``--raw-corpus``: ``title\\t\\tsub_title\\t\\turl\\t\\tcontent`` lines whose
  anchors are already ``[[entity_id|mention]]`` (SURVEY S1): every
  ``[[a|b]]`` is read as entity id ``a``, mention ``b``. The reference's
  ``[[mention|url]]`` anchors are not rewritten; convert them first. Each
  line is resolved to its entity by URI, parent URI or full title against
  the dictionary; rows of bad shape, unresolved entity or invalid markup
  are quarantined.
* ``--entity-dict``: ``title\\t\\tsub_title\\t\\turi1::;uri2\\t\\tentity_id``
  lines (S5).
* ``--word-vec`` / ``--entity-vec``: word2vec binaries (S6).

Outputs under ``--output``: documents/ (schemas.DOCUMENTS), kb/
(schemas.KB_ENTITIES), word_emb/ and entity_emb/ as (key, vec). The
standardized corpus and its quarantine commit through the SnapshotStore at
``--snapshots``; the manifest of ``standard_corpus`` carries the per-reason
reject counts. One JSON metrics line on stdout.
"""

from __future__ import annotations

import argparse
import json
import time


def run_ingest_job(spark, args) -> dict:
    """The job body, importable for in-session testing."""
    from xlink_spark.plans.snapshots import SnapshotStore
    from xlink_spark.sources.corpus import standardize_corpus
    from xlink_spark.sources.dictionary import read_entity_dictionary
    from xlink_spark.sources.embeddings import read_word2vec_binary

    out = args.output
    kb, kb_uris = read_entity_dictionary(spark, args.entity_dict)
    kb.write.mode("overwrite").parquet(f"{out}/kb")
    store = SnapshotStore(args.snapshots)
    docs, _quarantined = standardize_corpus(spark, args.raw_corpus, kb_uris, kb, store)
    docs.write.mode("overwrite").parquet(f"{out}/documents")
    for name, path in (("word_emb", args.word_vec), ("entity_emb", args.entity_vec)):
        read_word2vec_binary(spark, path).write.mode("overwrite").parquet(f"{out}/{name}")

    manifest = store.manifest("standard_corpus")
    return {
        "n_docs": manifest["rows"],
        "quarantine": manifest["metrics"]["quarantine"],
        "n_entities": spark.read.parquet(f"{out}/kb").count(),
        "n_word_vecs": spark.read.parquet(f"{out}/word_emb").count(),
        "n_entity_vecs": spark.read.parquet(f"{out}/entity_emb").count(),
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--raw-corpus", required=True)
    ap.add_argument("--entity-dict", required=True)
    ap.add_argument("--word-vec", required=True)
    ap.add_argument("--entity-vec", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--snapshots", required=True)
    ap.add_argument("--master", default=None)
    args = ap.parse_args()

    from xlink_spark.session import get_spark

    spark = get_spark(app_name="xlink_ingest", master=args.master)
    t0 = time.time()
    metrics = run_ingest_job(spark, args)
    metrics["wall_sec"] = round(time.time() - t0, 2)
    print(json.dumps(metrics))
    spark.stop()


if __name__ == "__main__":
    main()
