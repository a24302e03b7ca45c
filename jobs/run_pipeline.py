"""spark-submit entrypoint: offline dictionary build + corpus linking.

Usage (cluster or local):

    zip -r xlink_spark.zip xlink_spark
    spark-submit --py-files xlink_spark.zip jobs/run_pipeline.py \\
        --documents /lake/documents  --kb /lake/kb_entities \\
        --word-emb /lake/word_embeddings --entity-emb /lake/entity_embeddings \\
        --output /lake/out --snapshots /lake/snapshots

Inputs are parquet: documents in the interleaved-span shape
(doc_id, spans array<struct<kind,text,media_ref,offset>>), kb_entities per
xlink_spark.schemas.KB_ENTITIES, embeddings as (key, vec). Outputs:
links/ and clusters/ parquet + a metrics line on stdout. Every stage
snapshots under --snapshots; re-running resumes at the first missing
snapshot (kill-safe).
"""

from __future__ import annotations

import argparse
import json
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--documents", required=True)
    ap.add_argument("--kb", required=True)
    ap.add_argument("--word-emb", required=True)
    ap.add_argument("--entity-emb", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--snapshots", required=True)
    ap.add_argument("--gold", help="optional gold_mentions parquet for F1 report")
    ap.add_argument("--master", default=None)
    args = ap.parse_args()

    from xlink_spark.operators.spans import plain_text
    from xlink_spark.plans.pipeline import build_dictionary, link_and_cluster
    from xlink_spark.plans.snapshots import SnapshotStore
    from xlink_spark.plans.storage import scope
    from xlink_spark.session import get_spark

    spark = get_spark(app_name="xlink_pipeline", master=args.master)
    t0 = time.time()
    docs = spark.read.parquet(args.documents)
    kb = spark.read.parquet(args.kb)
    wemb = spark.read.parquet(args.word_emb)
    eemb = spark.read.parquet(args.entity_emb)
    store = SnapshotStore(args.snapshots)

    with scope():
        d = build_dictionary(docs, kb, eemb, store=store)
        plain = docs.select("doc_id", plain_text("spans").alias("text"))
        links, clusters = link_and_cluster(plain, d, wemb, eemb)
        links.write.mode("overwrite").parquet(f"{args.output}/links")
        clusters.write.mode("overwrite").parquet(f"{args.output}/clusters")

    n_docs = docs.count()
    n_links = spark.read.parquet(f"{args.output}/links").count()
    wall = time.time() - t0
    metrics = {
        "n_docs": n_docs,
        "n_links": n_links,
        "wall_sec": round(wall, 2),
        "docs_per_sec": round(n_docs / wall, 2),
    }
    if args.gold:
        from xlink_spark.eval.f1 import linking_prf

        gold = spark.read.parquet(args.gold)
        metrics["linking"] = linking_prf(gold, spark.read.parquet(f"{args.output}/links"))
    print(json.dumps(metrics))
    spark.stop()


if __name__ == "__main__":
    main()
