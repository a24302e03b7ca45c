"""spark-submit entrypoint: end-to-end training-corpus curation.

Usage (cluster or local):

    zip -r xlink_spark.zip xlink_spark
    spark-submit --py-files xlink_spark.zip jobs/run_curation.py \\
        --documents /lake/raw_corpus --output /lake/curated \\
        [--format jsonl] [--eval-docs /lake/benchmarks] \\
        [--min-quality 0.2] [--max-dup-line-frac 0.3] \\
        [--max-top-bigram-frac 0.18] [--neardup-threshold 0.8] \\
        [--contamination-ngram 13] [--redact] [--snapshots /lake/snap]

Input: a (doc_id, text, ...) corpus as parquet, or JSONL with --format
jsonl (malformed lines land in <output>/quarantine with typed reasons).
Output under --output: kept/ (surviving docs, quality column attached,
PII-scrubbed with --redact), drops/ (doc_id, stage — per-doc fate of every
dropped doc), audit/ (stage, n_dropped). With --snapshots, kept and drops
commit through the SnapshotStore (manifest-last, crash-safe, audit counts
recorded in the manifest) so a downstream training job can resume from a
committed snapshot. One JSON metrics line on stdout.

The chain is plans/curation.curate_corpus: exact dedup (windowed drops) →
quality gate → Gopher repetition gate → MinHash-LSH near-dup →
decontamination vs --eval-docs → optional PII redaction; every expensive
stage runs exactly once per job (the id-only drop-list is checkpointed
and both outputs derive from it).
"""

from __future__ import annotations

import argparse
import json
import time

from xlink_spark.plans.storage import scope


@scope()
def run_curation_job(spark, args) -> dict:
    """The job body, importable for in-session testing. It runs in its own
    storage scope: every frame it caches or checkpoints is freed on return."""
    from xlink_spark.plans.curation import curate_corpus

    quarantined = 0
    if args.format == "jsonl":
        from xlink_spark.sources.jsonl import read_jsonl_corpus

        docs, quar = read_jsonl_corpus(spark, args.documents)
        quar.write.mode("overwrite").parquet(f"{args.output}/quarantine")
        quarantined = spark.read.parquet(f"{args.output}/quarantine").count()
    else:
        docs = spark.read.parquet(args.documents)
    eval_docs = spark.read.parquet(args.eval_docs) if args.eval_docs else None

    kept, audit, drops = curate_corpus(
        docs,
        eval_docs,
        min_quality=args.min_quality,
        max_dup_line_frac=args.max_dup_line_frac,
        max_top_bigram_frac=args.max_top_bigram_frac,
        redact=args.redact,
        neardup_threshold=args.neardup_threshold,
        contamination_ngram=args.contamination_ngram,
    )
    if args.snapshots:
        from xlink_spark.plans.snapshots import SnapshotStore

        store = SnapshotStore(args.snapshots)
        drops_manifest = store.commit_table("curation_drops", drops)
        audit_counts = {r["stage"]: r["n_dropped"] for r in audit.collect()}
        kept_manifest = store.commit_table("curated_docs", kept, metrics=audit_counts)
        # counts come from the committed manifests (parquet footers read
        # driver-side at commit) — no recount jobs over the written data
        n_kept = kept_manifest["rows"]
        n_dropped = drops_manifest["rows"]
    else:
        import os

        from xlink_spark.plans.snapshots import parquet_dir_rows

        drops.write.mode("overwrite").parquet(f"{args.output}/drops")
        kept.write.mode("overwrite").parquet(f"{args.output}/kept")
        audit_counts = {r["stage"]: r["n_dropped"] for r in audit.collect()}
        # counts from the written files' parquet footers (driver-side
        # metadata) — no recount job over data this job just wrote; the
        # footer walk only sees the LOCAL filesystem, so a remote output
        # URI (s3a://, hdfs://) falls back to a Spark count instead of
        # silently reporting 0
        kept_dir = f"{args.output}/kept"
        if os.path.isdir(kept_dir):
            n_kept = parquet_dir_rows(kept_dir)
        else:
            n_kept = spark.read.parquet(kept_dir).count()
        n_dropped = sum(audit_counts.values())
    audit.write.mode("overwrite").parquet(f"{args.output}/audit")
    return {
        "n_in": n_kept + n_dropped + quarantined,
        "n_kept": n_kept,
        "n_dropped": n_dropped,
        "n_quarantined": quarantined,
        "drops_by_stage": audit_counts,
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--documents", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--format", choices=["parquet", "jsonl"], default="parquet")
    ap.add_argument("--eval-docs", help="held-out set parquet for decontamination")
    ap.add_argument("--min-quality", type=float, default=0.2)
    ap.add_argument("--max-dup-line-frac", type=float, default=None)
    ap.add_argument("--max-top-bigram-frac", type=float, default=None)
    ap.add_argument("--neardup-threshold", type=float, default=0.8)
    ap.add_argument("--contamination-ngram", type=int, default=13)
    ap.add_argument("--redact", action="store_true")
    ap.add_argument("--snapshots", help="commit kept/drops via the SnapshotStore")
    ap.add_argument("--master", default=None)
    args = ap.parse_args()

    from xlink_spark.session import get_spark

    spark = get_spark(app_name="xlink_curation", master=args.master)
    t0 = time.time()
    metrics = run_curation_job(spark, args)
    wall = time.time() - t0
    metrics["wall_sec"] = round(wall, 2)
    metrics["docs_per_sec"] = round(metrics["n_in"] / wall, 2) if wall else None
    print(json.dumps(metrics))
    spark.stop()


if __name__ == "__main__":
    main()
