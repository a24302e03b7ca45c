"""Record-ER scaling + escalation-overhead bench (north-rule evidence).

Scales the labeled linkage fixture by a replica multiplier — sf0.01
customers x M replicas, each clean record paired with a deterministic
typo twin (same corruption recipe as driver_queries._linkage_records:
last name char bumped, segment 'xx'-prefixed for an md5-chosen third,
nation +1 for an md5-chosen half; an untouched near-unique ident column
rides along for the escalation comparator) — then runs the full
jobs/run_er.py pipeline at two parallelism levels on the SAME input and
reports throughput at both plus the N-vs-4N scaling efficiency. With
--repair both (default) each level also runs with --repair-fields ident,
so the output quantifies what the escalation stage costs end to end
(its strong comparator scores only accepted edges, so the overhead must
stay at audit grain however large the corpus).

Usage:
    python tools/er_scale_bench.py [--multiplier 512] [--levels 8,32] \
        [--repair both|on|off] [--sf-dir /root/testdata/sf0.01] [--reps 1]

Prints ONE JSON line:
    {"metric": "er_scaling_with_repair", "multiplier": ..., "n_records":
     ..., "runs": {"local[8]/repair": {...}, ...}, "scaling_efficiency":
     ..., "repair_overhead_pct": ..., ...}
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)
sys.path.insert(0, os.path.join(_REPO, "jobs"))


def build_records(spark, sf_dir: str, multiplier: int, out: str) -> int:
    """Deterministic scaled corpus: clean ∪ twin per (customer, replica).

    Names embed the replica so every replica block sorts contiguously and
    twins stay 1-3 ranks from their clean record — the same neighborhood
    geometry as the sf fixture, M times over. ids are (replica*C + k)*2
    for clean and +1 for the twin, so the label is `id_a DIV 2 = id_b
    DIV 2` and ident (= replica*C + k, shared by the pair, never
    corrupted) is the escalation field.
    """
    from pyspark.sql import functions as F

    cust = spark.read.parquet(os.path.join(sf_dir, "customer.parquet")).select(
        F.col("c_custkey").cast("long").alias("k"),
        F.col("c_mktsegment").alias("seg"),
        F.col("c_nationkey").cast("long").alias("nation"),
    )
    n_base = cust.count()
    reps = spark.range(multiplier).select(F.col("id").alias("r"))
    base = cust.crossJoin(reps).select(
        (F.col("r") * n_base + F.col("k")).alias("rid"),
        F.concat(
            F.lit("Customer#"),
            F.lpad(F.col("r").cast("string"), 4, "0"),
            F.lpad(F.col("k").cast("string"), 9, "0"),
        ).alias("name"),
        "seg",
        "nation",
    )
    clean = base.select(
        (F.col("rid") * 2).alias("id"),
        "name",
        "seg",
        "nation",
        F.col("rid").alias("ident"),
    )
    dirty = base.select(
        (F.col("rid") * 2 + 1).alias("id"),
        F.expr(
            "concat(substring(name, 1, length(name) - 1),"
            " char(ascii(substring(name, length(name), 1)) + 1))"
        ).alias("name"),
        F.expr(
            "case when pmod(cast(conv(substring(md5(name), 31, 2), 16, 10)"
            " as bigint), 3) = 0 then concat('xx', seg) else seg end"
        ).alias("seg"),
        (
            F.col("nation")
            + F.expr(
                "pmod(cast(conv(substring(md5(name), 16, 15), 16, 10)"
                " as bigint), 2)"
            )
        ).alias("nation"),
        F.col("rid").alias("ident"),
    )
    clean.unionByName(dirty).repartition(64, "id").write.mode(
        "overwrite"
    ).parquet(out)
    return 2 * n_base * multiplier


def run_once(level: int, records: str, outdir: str, repair: bool,
             blocking: str = "snm", edjoin_q: int = 4,
             edjoin_method: str = "prefix") -> dict:
    from run_er import run_er_job

    from xlink_spark.session import get_spark

    spark = get_spark(
        app_name=f"er_scale_{level}",
        master=f"local[{level}]",
        shuffle_partitions=max(32, level * 4),
    )
    args = argparse.Namespace(
        records=records,
        output=outdir,
        id_col="id",
        # replica prefix + leading k digits: bounded sort blocks, twins
        # inside their block — the fixture's geometry at every M
        key_expr="substring(name, 10, 8)",
        order_cols="name",
        fields="name,seg,nation",
        jw_fields=None,
        label_expr="id_a DIV 2 = id_b DIV 2",
        window=4,
        threshold_micro=0,
        em_iterations=5,
        rules="name:min",
        rank_strategy="range",
        snapshots=None,
        blocking=blocking,
        edjoin_max_edits=1,
        qgram_q=edjoin_q,
        edjoin_method=edjoin_method,
        repair_fields="ident" if repair else None,
    )
    load0 = os.getloadavg()[0]
    t0 = time.time()
    metrics = run_er_job(spark, args)
    wall = time.time() - t0
    spark.stop()
    return {
        "wall_sec": round(wall, 1),
        "records_per_sec": round(metrics["n_records"] / wall, 1),
        "n_records": metrics["n_records"],
        "n_candidate_pairs": metrics["n_candidate_pairs"],
        "n_match_edges": metrics["n_match_edges"],
        "n_clusters": metrics["n_clusters"],
        "n_flagged_records": metrics.get("n_flagged_records"),
        "load_before": round(load0, 1),
        "load_after": round(os.getloadavg()[0], 1),
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--multiplier", type=int, default=512)
    ap.add_argument("--levels", default="8,32")
    ap.add_argument("--repair", choices=["both", "on", "off"], default="both")
    ap.add_argument(
        "--blocking",
        choices=["snm", "edjoin"],
        default="snm",
        help="candidate generation under test: SNM (default) or the "
        "exact ed<=1 Ed-Join (--edjoin-max-edits pinned to 1)",
    )
    ap.add_argument(
        "--edjoin-q",
        type=int,
        default=4,
        help="edjoin gram width. The operator docstring alphabet "
        "rule, measured: these names are dense digit strings (~100 "
        "possible bigrams), so q=2 prefix buckets grow quadratically "
        "with the corpus and the M=64 local[8] arm crawled (killed "
        "at 25 min); q=4 (10^4+ gram types) restores the rare-gram "
        "tail on the same input",
    )
    ap.add_argument(
        "--edjoin-method",
        choices=["prefix", "delete"],
        default="prefix",
        help="edjoin candidate generation. The measured regime map on "
        "THIS corpus (constant 'Customer#' prefix + dense digits): "
        "prefix q=2 killed at 25 min (rarest grams in ~8k prefixes), "
        "q=4 straggler-stuck; delete (FastSS neighborhood) finishes "
        "the 192k x64 corpus in 15s — use delete here",
    )
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--workdir", default="/tmp/er_scale_bench")
    ap.add_argument(
        "--settle",
        type=int,
        default=45,
        help="seconds to idle before each measured run (load drain)",
    )
    args = ap.parse_args()

    # the driver JVM is created once per process and reused across the
    # per-level sessions — size it for the multi-million-row arms up front
    # (same figure the spark-submit scaling runs used via --driver-memory)
    os.environ.setdefault("XLINK_DRIVER_MEM", "48g")

    levels = [int(x) for x in args.levels.split(",")]
    records = os.path.join(args.workdir, f"records_x{args.multiplier}")

    from xlink_spark.session import get_spark

    spark = get_spark(
        app_name="er_scale_gen", master="local[32]", shuffle_partitions=64
    )
    n = build_records(spark, args.sf_dir, args.multiplier, records)
    spark.stop()

    variants = {"both": [False, True], "on": [True], "off": [False]}[
        args.repair
    ]
    runs: dict[str, dict] = {}
    for level in sorted(levels):
        for rep in variants:
            # let the previous arm's load drain so each measurement starts
            # on a comparable box (1-min load decays slowly after stop())
            if runs or args.settle:
                time.sleep(args.settle)
            tag = f"local[{level}]/{'repair' if rep else 'base'}"
            outdir = os.path.join(
                args.workdir, f"out_{level}_{'r' if rep else 'b'}"
            )
            runs[tag] = run_once(
                level, records, outdir, rep, blocking=args.blocking,
                edjoin_q=args.edjoin_q,
                edjoin_method=args.edjoin_method,
            )

    result: dict = {
        "metric": "er_scaling_with_repair",
        "blocking": args.blocking,
        "edjoin_q": args.edjoin_q if args.blocking == "edjoin" else None,
        "edjoin_method": args.edjoin_method if args.blocking == "edjoin" else None,
        "multiplier": args.multiplier,
        "n_records": n,
        "runs": runs,
    }
    lo, hi = min(levels), max(levels)
    for rep in variants:
        kind = "repair" if rep else "base"
        a, b = runs.get(f"local[{lo}]/{kind}"), runs.get(f"local[{hi}]/{kind}")
        if a and b and lo != hi:
            result[f"scaling_efficiency_{kind}"] = round(
                b["records_per_sec"] / a["records_per_sec"] / (hi / lo), 3
            )
    if len(variants) == 2:
        for level in levels:
            b = runs[f"local[{level}]/base"]
            r = runs[f"local[{level}]/repair"]
            result[f"repair_overhead_pct_local{level}"] = round(
                100.0 * (r["wall_sec"] - b["wall_sec"]) / b["wall_sec"], 1
            )
        r32 = runs[f"local[{max(levels)}]/repair"]
        if r32["n_flagged_records"] is not None:
            result["flagged_fraction_pct"] = round(
                100.0 * r32["n_flagged_records"] / r32["n_records"], 2
            )
    print(json.dumps(result))


if __name__ == "__main__":
    main()
