"""spark-submit entrypoint: iterative merge-based ER (Swoosh, union merge).

Usage (cluster or local):

    zip -r xlink_spark.zip xlink_spark
    spark-submit --py-files xlink_spark.zip jobs/run_merge_er.py \\
        --values /lake/evidence --output /lake/merge_er \\
        --fields names,keys \\
        [--id-col id] [--field-col fld] [--value-col val] \\
        [--block-field names] [--max-rounds 5]

``--values`` is the long-form evidence lake: one row per (record, field,
value). The job runs ``linkage.iterative_merge_er`` — match → union-merge
→ RE-MATCH rounds where merging is pure entity-id relabeling (the Swoosh
family, Benjelloun et al. VLDB J. 2009); two profiles match when their
value sets overlap on EVERY field in ``--fields``.

Outputs under --output:
  members/  (entity_id, member_id, rounds_used, converged)
  values/   (entity_id, fld, val) — the merged per-entity value sets,
            one relabel join over the input.
One JSON metrics line on stdout (counts come from the written parquet,
no recount scan).
"""

from __future__ import annotations

import argparse
import json
import time

from xlink_spark.plans.storage import scope


@scope()
def run_merge_er_job(spark, args) -> dict:
    """The job body, importable for in-session testing. It runs in its own
    storage scope: every frame it caches or checkpoints is freed on return."""
    from pyspark.sql import functions as F

    from xlink_spark.operators.linkage import iterative_merge_er

    fields = [f.strip() for f in args.fields.split(",") if f.strip()]
    vals = spark.read.parquet(args.values)
    members = iterative_merge_er(
        vals,
        fields,
        id_col=args.id_col,
        field_col=args.field_col,
        value_col=args.value_col,
        block_field=getattr(args, "block_field", None),
        max_rounds=args.max_rounds,
    )
    members.write.mode("overwrite").parquet(f"{args.output}/members")
    members_w = spark.read.parquet(f"{args.output}/members")
    merged_vals = (
        vals.select(
            F.col(args.id_col).cast("long").alias("member_id"),
            F.col(args.field_col).alias("fld"),
            F.col(args.value_col).alias("val"),
        )
        .filter(F.col("fld").isin(fields))
        .join(members_w.select("entity_id", "member_id"), "member_id")
        .select("entity_id", "fld", "val")
        .distinct()
    )
    merged_vals.write.mode("overwrite").parquet(f"{args.output}/values")
    head = members_w.select("rounds_used", "converged").first()
    n_members = members_w.count()
    n_entities = members_w.select("entity_id").distinct().count()
    return {
        "job": "merge_er",
        "fields": fields,
        "n_members": n_members,
        "n_entities": n_entities,
        "rounds_used": head["rounds_used"] if head else 0,
        "converged": bool(head["converged"]) if head else True,
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--values", required=True, help="long-form evidence parquet")
    ap.add_argument("--output", required=True)
    ap.add_argument("--fields", required=True, help="csv: ALL must overlap to match")
    ap.add_argument("--id-col", default="id")
    ap.add_argument("--field-col", default="fld")
    ap.add_argument("--value-col", default="val")
    ap.add_argument(
        "--block-field",
        help="candidate blocking field (default: first of --fields)",
    )
    ap.add_argument("--max-rounds", type=int, default=5)
    ap.add_argument("--master", default=None)
    args = ap.parse_args()

    from xlink_spark.session import get_spark

    spark = get_spark(app_name="xlink_merge_er", master=args.master)
    t0 = time.time()
    metrics = run_merge_er_job(spark, args)
    wall = time.time() - t0
    metrics["wall_sec"] = round(wall, 2)
    print(json.dumps(metrics))
    spark.stop()


if __name__ == "__main__":
    main()
