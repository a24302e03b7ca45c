"""spark-submit entrypoint: end-to-end record entity resolution.

Usage (cluster or local):

    zip -r xlink_spark.zip xlink_spark
    spark-submit --py-files xlink_spark.zip jobs/run_er.py \\
        --records /lake/customers --id-col id \\
        --key-expr "substring(name, 1, 4)" --order-cols name \\
        --fields name,segment,nation --output /lake/er \\
        [--jw-fields "name:880000"] \\
        [--label-expr "id_a % 1000000 = id_b % 1000000"] \\
        [--window 5] [--threshold-micro 0] \\
        [--rules "name:longest,segment:mode,nation:min"] \\
        [--rank-strategy keys|range] [--snapshots /lake/snap] \\
        [--blocking snm|multipass|phonetic|suffix|qgram|allpairs|canopy|blocksplit|vector|edjoin] \\
        [--max-block-size N] \\
        [--suffix-min-len 4] [--qgram-q 4] [--qgram-threshold-ppt P] \\
        [--allpairs-threshold-ppt 600] \\
        [--canopy-loose 1] [--canopy-tight 2] [--canopy-rounds 3] \\
        [--split-target-pairs 1000000] \\
        [--vector-planes 48] [--vector-band-rows 8] [--vector-threshold-ppt 750] \\
        [--pass-exprs "substring(name, 1, 6)|name;seg|name,nation"] \\
        [--review-lower-micro -2000000] [--tf-adjust-fields name] \\
        [--level-fields "name:2"] \\
        [--repair-fields ident] [--repair-threshold-micro 0]

The pipeline is the north-star shape on records: candidate blocking —
sorted-neighborhood by default, or ``--blocking phonetic`` (Soundex or,
with --phonetic-scheme nysiis/caverphone, NYSIIS or Caverphone 2.0 of
--key-expr) / ``--blocking suffix`` (shared-suffix blocking of --key-expr) /
``--blocking allpairs`` (prefix-filtered exact-recall Jaccard over the
whitespace tokens of --key-expr at --allpairs-threshold-ppt) /
``--blocking canopy`` (overlapping cheap-metric canopies over --key-expr
q-grams, McCallum 2000 — candidates are the distinct pairs sharing a
canopy; all with an oversize-block purge via --max-block-size) /
``--blocking blocksplit`` (key-equality blocking on --key-expr,
load-balanced by BlockSplit so no reducer task exceeds
--split-target-pairs comparisons — Kolb, Thor & Rahm, ICDE 2012) →
per-field comparison
vectors (null-safe equality; fields named in --jw-fields instead compare
by Jaro-Winkler ≥ threshold_micro — the fuzzy comparator production FS
deployments use for names) → Fellegi-Sunter weights — supervised from
--label-expr when given, otherwise UNSUPERVISED via Winkler's pattern EM
(linkage.fs_em_weights) → pairwise scores → match edges at
--threshold-micro → iterative large/small-star connected components →
survivorship golden records (--rules). With --repair-fields, chain-merged
clusters (components holding a scorer-rejected interior pair) are
re-adjudicated by a stronger FS comparator over --fields plus the repair
columns and re-clustered on the surviving edges (escalation repair:
linkage.repair_chain_merges); the strong comparator estimates its weights
on the full candidate population but scores only accepted edges — the
expensive-field lookups never run over the whole corpus. Outputs under --output:
clusters/ (id, cluster), golden/ (one canonical row per cluster),
weights/ (the estimated per-field weight table), scores/ (pair scores);
with --group-col, group_links/ (group-pair GES via mutual-best member
alignment — linkage.group_linkage_scores).
With --snapshots, clusters and golden commit through the SnapshotStore
(manifest-last, crash-safe). One JSON metrics line on stdout.
"""

from __future__ import annotations

import argparse
import json
import time

from pyspark.sql import functions as F

from xlink_spark.plans.storage import hold, scope


def _opt(args, name: str, default):
    """The option's parsed value, or ``default`` when it was not given. An
    explicit 0 is kept, so the operator's own range check rejects it."""
    value = getattr(args, name, None)
    return default if value is None else value


@scope()
def run_er_job(spark, args) -> dict:
    """The job body, importable for in-session testing. It runs in its own
    storage scope: every frame it caches or checkpoints is freed on return."""
    from xlink_spark.operators.cluster import connected_components
    from xlink_spark.operators.linkage import (
        fs_em_weights,
        fs_score,
        golden_records,
        match_weights,
        sorted_neighborhood_pairs,
    )

    fields = [f.strip() for f in args.fields.split(",") if f.strip()]
    jw_fields = {}
    for part in (getattr(args, "jw_fields", None) or "").split(","):
        part = part.strip()
        if not part:
            continue
        if ":" not in part:
            raise ValueError(
                f"--jw-fields entry {part!r} is not col:threshold_micro"
            )
        col, th = part.split(":", 1)
        jw_fields[col.strip()] = int(th)
    unknown = set(jw_fields) - set(fields)
    if unknown:
        raise ValueError(f"--jw-fields columns not in --fields: {sorted(unknown)}")
    order_cols = [
        c.strip()
        for c in (getattr(args, "order_cols", None) or "").split(",")
        if c.strip()
    ]
    rules = {}
    for part in (args.rules or "").split(","):
        part = part.strip()
        if not part:
            continue
        if ":" not in part:
            raise ValueError(
                f"--rules entry {part!r} is not col:rule (mode|longest|min|max)"
            )
        col, rule = part.split(":", 1)
        rules[col.strip()] = rule.strip()
    if not rules:
        rules = {f: "mode" for f in fields}

    recs = spark.read.parquet(args.records).withColumn(
        "_key", F.expr(args.key_expr)
    )
    idc = args.id_col
    blocking = getattr(args, "blocking", None) or "snm"
    max_block = getattr(args, "max_block_size", None)
    if blocking == "snm":
        if not order_cols:
            raise ValueError("--order-cols is required for --blocking snm")
        pairs = sorted_neighborhood_pairs(
            recs,
            "_key",
            order_cols,
            idc,
            window=args.window,
            strategy=args.rank_strategy,
        )
    elif blocking == "phonetic":
        from xlink_spark.operators.linkage import phonetic_candidate_pairs

        # phonetic key of the --key-expr value (--phonetic-scheme picks
        # soundex or nysiis); pass several exprs by concat-ing upstream
        # or use SNM for positional blocking
        pairs = phonetic_candidate_pairs(
            recs,
            "_key",
            idc,
            max_block_size=max_block,
            scheme=getattr(args, "phonetic_scheme", None) or "soundex",
        )
    elif blocking == "suffix":
        from xlink_spark.operators.linkage import suffix_blocking_pairs

        pairs = suffix_blocking_pairs(
            recs,
            "_key",
            idc,
            min_len=int(_opt(args, "suffix_min_len", 4)),
            max_block_size=max_block,
        )
    elif blocking == "qgram":
        from xlink_spark.operators.linkage import qgram_blocking_pairs

        pairs = qgram_blocking_pairs(
            recs,
            "_key",
            idc,
            q=int(_opt(args, "qgram_q", 4)),
            max_block_size=max_block,
            threshold_ppt=getattr(args, "qgram_threshold_ppt", None),
        )
    elif blocking == "allpairs":
        from xlink_spark.operators.linkage import allpairs_jaccard_pairs

        # whitespace-tokenized --key-expr; exact distinct-token Jaccard
        # with prefix-filter candidate generation (exact recall; the
        # optional --max-block-size purge is the recall/cost knob)
        pairs = allpairs_jaccard_pairs(
            recs.withColumn("_toks", F.split(F.col("_key"), "\\s+")),
            "_toks",
            idc,
            threshold_ppt=int(_opt(args, "allpairs_threshold_ppt", 600)),
            max_block_size=max_block,
            measure=getattr(args, "allpairs_measure", None) or "jaccard",
        )
    elif blocking == "canopy":
        from xlink_spark.operators.linkage import canopy_candidate_pairs

        # overlapping cheap-metric canopies over --key-expr q-grams
        # (McCallum 2000); candidates = distinct pairs sharing a canopy
        pairs = canopy_candidate_pairs(
            recs,
            "_key",
            idc,
            q=int(_opt(args, "qgram_q", 4)),
            loose=int(_opt(args, "canopy_loose", 1)),
            tight=int(_opt(args, "canopy_tight", 2)),
            rounds=int(_opt(args, "canopy_rounds", 3)),
            max_block_size=50 if max_block is None else max_block,
        )
    elif blocking == "blocksplit":
        from xlink_spark.operators.skew import block_split_pairs

        # key-equality blocking on --key-expr with BlockSplit load
        # balancing (Kolb, Thor & Rahm, ICDE 2012): the exact within-
        # block pair set, re-keyed over rank-chunk tasks so no reducer
        # owns more than --split-target-pairs comparisons — the head
        # block of an equality key stops being a straggler
        pairs = block_split_pairs(
            recs,
            "_key",
            idc,
            max_pairs_per_task=int(
                _opt(args, "split_target_pairs", 1_000_000)
            ),
        ).select("id_a", "id_b")
    elif blocking == "vector":
        from xlink_spark.operators.linkage import vector_blocking_pairs

        # LSH / vector-based blocking over hashed q-gram count vectors
        # of --key-expr (Steorts et al. 2014's LSH-blocking family):
        # SRP band collisions verified by the exact integer cosine gate
        # at --vector-threshold-ppt. Probabilistic recall by design —
        # run er_blocking_compare/vector_blocks-style gauges to pick
        # (planes, band_rows) for the corpus before deploying
        pairs = vector_blocking_pairs(
            recs,
            "_key",
            idc,
            q=int(_opt(args, "qgram_q", 3)),
            planes=int(_opt(args, "vector_planes", 48)),
            band_rows=int(_opt(args, "vector_band_rows", 8)),
            threshold_ppt=int(_opt(args, "vector_threshold_ppt", 750)),
        ).select("id_a", "id_b")
    elif blocking == "edjoin":
        from xlink_spark.operators.linkage import edit_distance_join

        # exact bounded edit-distance self-join on --key-expr (Ed-Join
        # prefix filtering + levenshtein verify): candidates = every
        # record pair within --edjoin-max-edits; recall is exact by
        # construction, so the FS scorer downstream sees every
        # typo-class twin no matter where the edit landed
        pairs = edit_distance_join(
            recs,
            "_key",
            idc,
            k=int(_opt(args, "edjoin_max_edits", 1)),
            q=int(_opt(args, "qgram_q", 2)),
            method=getattr(args, "edjoin_method", None) or "prefix",
        ).select("id_a", "id_b")
    elif blocking == "multipass":
        from xlink_spark.operators.linkage import multipass_pairs

        spec = getattr(args, "pass_exprs", None)
        if not spec:
            raise ValueError(
                "--pass-exprs is required for --blocking multipass"
            )
        passes = []
        pass_cols = []
        for i, part in enumerate(
            p.strip() for p in spec.split(";") if p.strip()
        ):
            if "|" not in part:
                raise ValueError(
                    f"--pass-exprs entry {part!r} is not key_expr|order_csv"
                )
            # rsplit: the key_expr may itself contain '|' (string
            # literals); the order csv — bare column names — never does
            kexpr, ocsv = part.rsplit("|", 1)
            col = f"_mpkey{i}"
            recs = recs.withColumn(col, F.expr(kexpr.strip()))
            pass_cols.append(col)
            passes.append(
                (col, [c.strip() for c in ocsv.split(",") if c.strip()])
            )
        pairs = multipass_pairs(
            recs, passes, idc, window=args.window,
            strategy=args.rank_strategy,
        )
        recs = recs.drop(*pass_cols)
    else:
        raise ValueError(
            f"unknown --blocking {blocking!r}"
            " (use snm|multipass|phonetic|suffix|qgram|allpairs|canopy|blocksplit|vector)"
        )
    ra = recs.select(
        F.col(idc).alias("id_a"), *[F.col(f).alias(f"_a_{f}") for f in fields]
    )
    rb = recs.select(
        F.col(idc).alias("id_b"), *[F.col(f).alias(f"_b_{f}") for f in fields]
    )
    agree_cols = [f"agree_{f}" for f in fields]

    def _agree(f):
        a, b = F.col(f"_a_{f}"), F.col(f"_b_{f}")
        if f not in jw_fields:
            return a.eqNullSafe(b).alias(f"agree_{f}")
        from xlink_spark.operators.fuzzy import jaro_winkler_micro

        # fuzzy comparator: agree iff JW >= threshold; NULL semantics match
        # the null-safe-equality convention (both null agree, one null no)
        return (
            F.when(a.isNull() & b.isNull(), F.lit(True))
            .when(a.isNull() | b.isNull(), F.lit(False))
            .otherwise(
                jaro_winkler_micro(a, b) >= F.lit(int(jw_fields[f]))
            )
            .alias(f"agree_{f}")
        )

    level_fields = {}
    for part in (getattr(args, "level_fields", None) or "").split(","):
        part = part.strip()
        if not part:
            continue
        if ":" not in part:
            raise ValueError(
                f"--level-fields entry {part!r} is not col:edit_max"
            )
        col, t = part.split(":", 1)
        level_fields[col.strip()] = int(t)
    bad_lvl = [f for f in level_fields if f not in fields or f in jw_fields]
    if bad_lvl:
        raise ValueError(
            "--level-fields must name equality-compared --fields "
            f"(not jw): {sorted(bad_lvl)}"
        )
    if level_fields and not args.label_expr:
        raise ValueError(
            "--level-fields requires --label-expr (per-level m/u needs "
            "labels; the EM estimator is binary-pattern based)"
        )

    def _level(f):
        # 3-level gamma for --level-fields columns: 2 = exact (null-safe),
        # 1 = within the edit band (classic levenshtein, exact integers),
        # 0 = different / one side null. Other fields (incl. jw ones)
        # ride along as 2-level gammas of their agree boolean.
        col = f"lvl_{f}"
        if f not in level_fields:
            return _agree(f).cast("long").alias(col)
        a, b = F.col(f"_a_{f}"), F.col(f"_b_{f}")
        return (
            F.when(a.eqNullSafe(b), 2)
            .when(a.isNull() | b.isNull(), 0)
            .when(F.levenshtein(a, b) <= F.lit(level_fields[f]), 1)
            .otherwise(0)
            .cast("long")
            .alias(col)
        )

    if level_fields:
        vec = pairs.join(ra, "id_a").join(rb, "id_b").select(
            "id_a", "id_b", *[_level(f) for f in fields]
        )
    else:
        vec = pairs.join(ra, "id_a").join(rb, "id_b").select(
            "id_a", "id_b", *[_agree(f) for f in fields]
        )
    if args.label_expr:
        vec = vec.withColumn("_is_match", F.expr(args.label_expr))
    # vec fans out (weights + scoring); persist the narrow boolean rows
    vec = hold(vec)
    weights_repair = None
    repair_fields = []
    if level_fields:
        from xlink_spark.operators.linkage import (
            fs_score_levels,
            match_weights_levels,
        )

        fl = {
            f"lvl_{f}": (3 if f in level_fields else 2) for f in fields
        }
        weights = match_weights_levels(vec, fl, "_is_match")
        mode = "supervised_levels"
        scores = fs_score_levels(vec, weights, list(fl), ["id_a", "id_b"])
    elif args.label_expr:
        weights = match_weights(vec, agree_cols, "_is_match")
        mode = "supervised"
        scores = fs_score(vec, weights, agree_cols, ["id_a", "id_b"])
    else:
        weights = fs_em_weights(vec, agree_cols, iterations=args.em_iterations)
        mode = "em"
        scores = fs_score(vec, weights, agree_cols, ["id_a", "id_b"])
    tf_fields = [
        c.strip()
        for c in (getattr(args, "tf_adjust_fields", None) or "").split(",")
        if c.strip()
    ]
    bad_tf = [f for f in tf_fields if f not in fields or f in jw_fields]
    if bad_tf:
        raise ValueError(
            "--tf-adjust-fields must name equality-compared --fields "
            f"(not jw): {sorted(bad_tf)}"
        )
    if tf_fields and level_fields:
        raise ValueError(
            "--tf-adjust-fields cannot combine with --level-fields "
            "(the tf swap is defined on the binary agreement weight)"
        )
    if tf_fields:
        # Winkler term-frequency adjustment: pairs agreeing on a field
        # swap the global agreement weight for the value-specific one.
        # Both-NULL agreements (null-safe equality) have no shared
        # value to look up, so they keep the global weight.
        from xlink_spark.operators.linkage import (
            tf_adjust_scores,
            tf_value_weights,
        )

        for f in tf_fields:
            tfw = tf_value_weights(recs, f, weights, f"agree_{f}")
            agreeing = (
                vec.filter(F.col(f"agree_{f}"))
                .join(
                    recs.select(
                        F.col(idc).alias("id_a"), F.col(f).alias("value")
                    ),
                    "id_a",
                )
                .select("id_a", "id_b", "value")
            )
            scores = tf_adjust_scores(
                scores, agreeing, tfw, weights, f"agree_{f}",
                ["id_a", "id_b"],
            ).select(
                "id_a",
                "id_b",
                F.col("score_tf_micro").alias("score_micro"),
            )
    if getattr(args, "posteriors", False):
        # P(match | evidence): Bayes posterior from the FS score and
        # the Laplace-smoothed prior odds. Supervised mode derives the
        # prior from the labels; EM mode has none — require labels.
        if not args.label_expr:
            raise ValueError("--posteriors requires --label-expr")
        from xlink_spark.operators.linkage import match_posteriors

        prior = vec.agg(
            (
                F.sum(F.when(F.col("_is_match"), 1).otherwise(0))
                + F.lit(1)
            ).cast("long").alias("prior_num"),
            (F.count(F.lit(1)) + F.lit(2)).cast("long").alias("prior_den"),
        )
        scores = match_posteriors(scores, prior)
    review_lower = getattr(args, "review_lower_micro", None)
    n_review = None
    if review_lower is not None:
        # FS two-threshold mode: [lower, upper) is the clerical-review
        # band, written under output/review; only >= upper auto-links
        from xlink_spark.operators.linkage import fs_decide

        decided = fs_decide(
            scores,
            upper_micro=int(args.threshold_micro),
            lower_micro=int(review_lower),
        )
        review = decided.filter(F.col("decision") == "possible")
        review.write.mode("overwrite").parquet(f"{args.output}/review")
        n_review = (
            spark.read.parquet(f"{args.output}/review").count()
        )
    edges = scores.filter(
        F.col("score_micro") >= F.lit(int(args.threshold_micro))
    ).select(
        F.col("id_a").cast("long").alias("src"),
        F.col("id_b").cast("long").alias("dst"),
        "score_micro",
    )
    repair_fields = [
        c.strip()
        for c in (getattr(args, "repair_fields", None) or "").split(",")
        if c.strip()
    ]
    cluster_algo = getattr(args, "cluster_algo", None) or "cc"
    if cluster_algo not in (
        "cc", "star", "center", "merge_center", "pivot", "one_to_one"
    ):
        raise ValueError(
            "--cluster-algo must be cc, star, center, merge_center, "
            f"pivot or one_to_one, got {cluster_algo!r}"
        )
    if repair_fields and cluster_algo in (
        "star", "center", "pivot", "one_to_one"
    ):
        raise ValueError(
            "--repair-fields repairs transitive chain merges; "
            f"{cluster_algo} clusters cannot chain-merge — drop one "
            "of the two flags"
        )
    if repair_fields:
        # Escalation repair (linkage.repair_chain_merges): chain-merged
        # clusters — components glued together by transitivity around a
        # pair the scorer itself rejected — are re-adjudicated by a
        # STRONGER comparator that adds the --repair-fields columns
        # (the expensive fields a deployment consults only on demand).
        dup = [f for f in repair_fields if f in fields]
        if dup:
            raise ValueError(
                f"--repair-fields already in --fields: {sorted(dup)}"
            )
        missing = [f for f in repair_fields if f not in recs.columns]
        if missing:
            raise ValueError(
                f"--repair-fields not in the records: {sorted(missing)}"
            )
        from xlink_spark.operators.linkage import repair_chain_merges

        strong_fields = fields + repair_fields
        # base-field agreements are already sitting in the persisted
        # vec (including _is_match) — join ONLY the repair columns
        # against the pairs instead of re-running every comparator
        ra_r = recs.select(
            F.col(idc).alias("id_a"),
            *[F.col(f).alias(f"_a_{f}") for f in repair_fields],
        )
        rb_r = recs.select(
            F.col(idc).alias("id_b"),
            *[F.col(f).alias(f"_b_{f}") for f in repair_fields],
        )
        vec_extra = pairs.join(ra_r, "id_a").join(rb_r, "id_b").select(
            "id_a", "id_b", *[_agree(f) for f in repair_fields]
        )
        if level_fields:
            # reconstruct the binary agreements the strong comparator
            # needs from the level gammas: exact equality is level 2
            # for 3-level fields and level 1 for the 2-level ride-alongs
            base_agrees = [
                (F.col(f"lvl_{f}") == (2 if f in level_fields else 1))
                .alias(f"agree_{f}")
                for f in fields
            ]
        else:
            base_agrees = [F.col(f"agree_{f}") for f in fields]
        keep = ["id_a", "id_b"] + (
            ["_is_match"] if args.label_expr else []
        )
        vec_s = vec.select(*keep, *base_agrees).join(
            vec_extra, ["id_a", "id_b"]
        )
        agree_s = [f"agree_{f}" for f in strong_fields]
        # weights need the full candidate population (u-probabilities
        # come from the non-matches); scoring below is restricted
        vec_s = hold(vec_s)
        try:
            if args.label_expr:
                weights_repair = match_weights(vec_s, agree_s, "_is_match")
            else:
                weights_repair = fs_em_weights(
                    vec_s, agree_s, iterations=args.em_iterations
                )
            # the repair consults strong scores ONLY for accepted edges
            # (they are the only rows its edge-filter left-join reads),
            # so score just that subset — at scale the expensive-field
            # comparator never runs over the full candidate population
            vec_edges = vec_s.join(
                edges.select(
                    F.col("src").alias("id_a"),
                    F.col("dst").alias("id_b"),
                ),
                ["id_a", "id_b"],
                "left_semi",
            )
            strong_scores = fs_score(
                vec_edges, weights_repair, agree_s, ["id_a", "id_b"]
            )
            rep = repair_chain_merges(
                scores,
                strong_scores,
                threshold_micro=int(args.threshold_micro),
                strong_threshold_micro=int(
                    _opt(args, "repair_threshold_micro", 0)
                ),
            )
            # materialize before unpersisting the vectors it reads
            rep = hold(rep)
            n_flagged = rep.filter(F.col("was_flagged")).count()
        finally:
            vec_s.unpersist()
        comp = rep.select("node", "component")
    elif cluster_algo == "star":
        # Star cover instead of transitive closure: every satellite is
        # one hop from its center (diameter <= 2), so a single wrong
        # edge contaminates one star instead of chain-welding two
        # entities — the structural alternative to --repair-fields.
        from xlink_spark.operators.cluster import star_clusters

        comp = star_clusters(
            edges, rounds=int(_opt(args, "star_rounds", 3))
        ).select("node", F.col("center").alias("component"))
    elif cluster_algo == "center":
        # Similarity-ordered stars (Hassanzadeh-Miller CENTER): the
        # strongest edges elect centers first; like star, a wrong
        # edge contaminates one star instead of welding two entities
        from xlink_spark.operators.cluster import center_clusters

        comp = center_clusters(
            edges, rounds=int(_opt(args, "star_rounds", 3))
        ).select("node", F.col("center").alias("component"))
    elif cluster_algo == "pivot":
        # KwikCluster pivots (LFMIS of the match graph): the
        # permutation-ordered star sibling — sequential-greedy-exact,
        # diameter <= 2, the correlation-clustering 3-approximation
        from xlink_spark.operators.cluster import pivot_clusters

        comp = pivot_clusters(
            edges, rounds=int(_opt(args, "star_rounds", 3))
        ).select("node", F.col("cluster").alias("component"))
    elif cluster_algo == "one_to_one":
        # clean-clean linkage (the Splink link_only shape): each of
        # the two internally-duplicate-free sources matches AT MOST
        # once; K rounds of locally-dominant mutual-best equal the
        # sequential best-first greedy matching
        from xlink_spark.operators.linkage import one_to_one_matches

        sexpr = getattr(args, "source_expr", None)
        if not sexpr:
            raise ValueError(
                "--source-expr (a boolean expression naming the left "
                "source) is required for --cluster-algo one_to_one"
            )
        side = recs.select(
            F.col(idc).cast("long").alias("_sid"),
            F.expr(sexpr).cast("boolean").alias("_side"),
        )
        e2 = (
            edges.join(
                side.select(
                    F.col("_sid").alias("src"),
                    F.col("_side").alias("_side_a"),
                ),
                "src",
            )
            .join(
                side.select(
                    F.col("_sid").alias("dst"),
                    F.col("_side").alias("_side_b"),
                ),
                "dst",
            )
            .filter(F.col("_side_a") != F.col("_side_b"))
            .select(
                F.when(F.col("_side_a"), F.col("src"))
                .otherwise(F.col("dst"))
                .alias("_left"),
                F.when(F.col("_side_a"), F.col("dst"))
                .otherwise(F.col("src"))
                .alias("_right"),
                "score_micro",
            )
        )
        m = one_to_one_matches(
            e2,
            "_left",
            "_right",
            "score_micro",
            rounds=int(_opt(args, "star_rounds", 3)),
        )
        comp = m.select(
            F.col("_left").alias("node"),
            F.least("_left", "_right").alias("component"),
        ).unionByName(
            m.select(
                F.col("_right").alias("node"),
                F.least("_left", "_right").alias("component"),
            )
        )
    elif cluster_algo == "merge_center":
        # CENTER plus cluster merges on record->foreign-center
        # evidence — the middle ground before transitive closure
        from xlink_spark.operators.cluster import merge_center_clusters

        comp = merge_center_clusters(
            edges, rounds=int(_opt(args, "star_rounds", 3))
        ).select("node", F.col("cluster").alias("component"))
    else:
        comp = connected_components(edges)
    golden = golden_records(recs.drop("_key"), comp, idc, rules)

    weights.write.mode("overwrite").parquet(f"{args.output}/weights")
    scores.write.mode("overwrite").parquet(f"{args.output}/scores")
    if weights_repair is not None:
        weights_repair.write.mode("overwrite").parquet(
            f"{args.output}/weights_repair"
        )
    asg = (
        recs.select(F.col(idc).cast("long").alias("id"))
        .join(
            comp.select(
                F.col("node").alias("id"), F.col("component")
            ),
            "id",
            "left",
        )
        .select(
            "id", F.coalesce("component", F.col("id")).alias("cluster")
        )
    )
    if args.snapshots:
        from xlink_spark.plans.snapshots import SnapshotStore

        store = SnapshotStore(args.snapshots)
        m_cl = store.commit_table("er_clusters", asg)
        m_go = store.commit_table("er_golden", golden)
        n_records, n_golden = m_cl["rows"], m_go["rows"]
    else:
        asg.write.mode("overwrite").parquet(f"{args.output}/clusters")
        golden.write.mode("overwrite").parquet(f"{args.output}/golden")
        n_records = spark.read.parquet(f"{args.output}/clusters").count()
        n_golden = spark.read.parquet(f"{args.output}/golden").count()
    n_pairs = vec.count()
    n_edges = edges.count()
    group_col = getattr(args, "group_col", None)
    n_group_links = None
    if group_col:
        from xlink_spark.operators.linkage import group_linkage_scores

        # graded member evidence when --posteriors computed it,
        # else binary match edges at sim 1000 (GES degenerates to
        # the member-Jaccard of matched pairs)
        if "posterior_ppm" in scores.columns:
            sims = scores.filter(
                F.col("score_micro") >= F.lit(int(args.threshold_micro))
            ).select(
                F.col("id_a").cast("long").alias("id_a"),
                F.col("id_b").cast("long").alias("id_b"),
                F.expr("posterior_ppm div 1000").cast("long").alias(
                    "sim_ppt"
                ),
            )
        else:
            sims = edges.select(
                F.col("src").alias("id_a"),
                F.col("dst").alias("id_b"),
                F.lit(1000).cast("long").alias("sim_ppt"),
            )
        grp = recs.select(
            F.col(idc).cast("long").alias("id"),
            F.col(group_col).cast("string").alias("group"),
        )
        glinks = group_linkage_scores(
            sims,
            grp,
            min_ges_ppt=getattr(args, "group_min_ges_ppt", None),
        )
        glinks.write.mode("overwrite").parquet(
            f"{args.output}/group_links"
        )
        n_group_links = spark.read.parquet(
            f"{args.output}/group_links"
        ).count()
    gold_expr = getattr(args, "gold_expr", None)
    eval_metrics = None
    if gold_expr:
        # Labeled-subset evaluation (--gold-expr): score the final
        # clusters with the full gauge family over every record whose
        # gold label is non-null, plus the CoNLL-2012 official average
        # (mean of MUC / B³ / CEAF_e) — all exact bigint micro values.
        from xlink_spark.eval.bcubed import cluster_gauges
        from xlink_spark.eval.ceaf import ceaf

        glab = recs.select(
            F.col(idc).cast("long").alias("id"),
            F.expr(gold_expr).cast("long").alias("gold"),
        ).filter(F.col("gold").isNotNull())
        lab = hold(asg.join(glab, "id").select(F.col("cluster").alias("pred"), "gold"))
        try:
            g = cluster_gauges(lab).collect()[0]
            eval_metrics = {
                "n_labeled": g["n_items"],
                "bcubed_f_micro": g["bcubed_f_micro"],
                "muc_f_micro": g["muc_f_micro"],
                "blanc_micro": g["blanc_micro"],
                "ari_micro": (
                    (g["ari_num"] * 1000000) // g["ari_den"]
                    if g["ari_den"]
                    else 1000000
                ),
                "v_measure": round(g["v_measure"], 6),
            }
            try:
                ce = ceaf(lab).collect()[0]
            except ValueError as exc:
                # width guard: entangled components — CEAF's documented
                # hash-sample fallback is the caller's call, not ours
                eval_metrics["ceaf_err"] = str(exc)
            else:
                eval_metrics["ceafm_f_micro"] = ce["ceafm_f_micro"]
                eval_metrics["ceafe_f_micro"] = ce["ceafe_f_micro"]
                eval_metrics["conll_f_micro"] = (
                    g["bcubed_f_micro"]
                    + g["muc_f_micro"]
                    + ce["ceafe_f_micro"]
                ) // 3
        finally:
            lab.unpersist()
    if level_fields:
        w_rows = {
            f"{r['field']}/L{r['level']}": r["w_micro"]
            for r in weights.collect()
        }
    else:
        w_rows = {
            r["field"]: (r["w_agree_micro"], r["w_disagree_micro"])
            for r in weights.collect()
        }
    out = {
        "mode": mode,
        "blocking": blocking,
        "cluster_algo": cluster_algo if not repair_fields else "cc+repair",
        "n_records": n_records,
        "n_candidate_pairs": n_pairs,
        "n_match_edges": n_edges,
        "n_clusters": n_golden,
        "weights_micro": w_rows,
    }
    if n_review is not None:
        out["n_review_pairs"] = n_review
    if eval_metrics is not None:
        out["eval"] = eval_metrics
    if n_group_links is not None:
        out["n_group_links"] = n_group_links
    if tf_fields:
        out["tf_adjust_fields"] = tf_fields
    if repair_fields:
        out["repair_fields"] = repair_fields
        out["n_flagged_records"] = n_flagged
    return out


def build_parser() -> argparse.ArgumentParser:
    ap = argparse.ArgumentParser()
    ap.add_argument("--records", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--id-col", required=True, help="unique numeric record id")
    ap.add_argument("--key-expr", required=True, help="SQL expr: the SNM blocking/sort key")
    ap.add_argument("--order-cols", default="", help="csv: within-key sort columns (required for --blocking snm; unused by phonetic/suffix)")
    ap.add_argument("--fields", required=True, help="csv: comparison columns (null-safe equality)")
    ap.add_argument("--jw-fields", help="csv col:threshold_micro — compare these fields by Jaro-Winkler >= threshold instead of equality")
    ap.add_argument("--tf-adjust-fields", help="csv: equality-compared fields whose agreement weight is term-frequency adjusted per shared value (Winkler tf adjustment)")
    ap.add_argument("--level-fields", help="csv col:edit_max — score these fields as 3-level gammas (exact / levenshtein <= edit_max / different) with per-level weights; requires --label-expr")
    ap.add_argument("--posteriors", action="store_true", help="attach posterior_ppm (Bayes P(match) from the labeled prior) to output/scores; requires --label-expr")
    ap.add_argument("--label-expr", help="SQL boolean over id_a/id_b: true-match label; omit for unsupervised EM")
    ap.add_argument("--window", type=int, default=5)
    ap.add_argument(
        "--blocking",
        choices=["snm", "multipass", "phonetic", "suffix", "qgram",
                 "allpairs", "canopy", "blocksplit", "vector", "edjoin"],
        default="snm",
        help="candidate generation: sorted-neighborhood (default), "
        "multi-pass SNM (--pass-exprs), Soundex of --key-expr, suffix "
        "blocking of --key-expr, q-gram blocking of --key-expr, or "
        "prefix-filtered all-pairs Jaccard over whitespace tokens of "
        "--key-expr (exact recall at --allpairs-threshold-ppt), or "
        "key-equality blocking load-balanced by BlockSplit "
        "(--split-target-pairs comparisons per task), or the exact "
        "bounded edit-distance self-join on --key-expr (every pair "
        "within --edjoin-max-edits Levenshtein edits, Ed-Join prefix "
        "filtering — exact recall for typo-class corruption)",
    )
    ap.add_argument(
        "--edjoin-max-edits",
        type=int,
        help="edjoin blocking: maximum Levenshtein distance (default 1); "
        "gram width rides --qgram-q (default 2 here)",
    )
    ap.add_argument(
        "--edjoin-method",
        choices=["prefix", "delete"],
        help="edjoin candidate generation (default prefix): gram prefixes "
        "for natural text, FastSS deletion neighborhood (k <= 2) for dense identifiers "
        "and constant-affix corpora — see the operator docstring's "
        "measured regime map",
    )
    ap.add_argument(
        "--pass-exprs",
        help="multipass: ';'-separated passes, each 'key_expr|order_csv' "
        "(e.g. \"substring(name, 1, 6)|name;seg|name,nation\")",
    )
    ap.add_argument(
        "--max-block-size",
        type=int,
        help="phonetic/suffix/qgram: purge blocks above this size before pairing",
    )
    ap.add_argument(
        "--phonetic-scheme",
        choices=["soundex", "nysiis", "caverphone"],
        default="soundex",
        help="phonetic: key function (soundex keeps 4-char consonant "
        "classes; nysiis keeps collapsed vowel positions; caverphone "
        "keeps 10-char keys with gh/ough/wh cluster handling — finest)",
    )
    ap.add_argument(
        "--suffix-min-len",
        type=int,
        default=4,
        help="suffix blocking: minimum qualifying suffix length",
    )
    ap.add_argument(
        "--qgram-q",
        type=int,
        help="gram width of qgram and canopy blocking (default 4), vector "
        "blocking (default 3) and edjoin (default 2)",
    )
    ap.add_argument(
        "--allpairs-threshold-ppt",
        type=int,
        default=600,
        help="allpairs blocking: exact distinct-token Jaccard threshold "
        "in parts per thousand (candidate generation stays exact-recall "
        "at this threshold unless --max-block-size purges)",
    )
    ap.add_argument(
        "--group-col",
        help="records column holding a group id (household, author list): "
        "also emit output/group_links — group-pair GES scores via "
        "mutual-best member alignment (On et al. 2007); member evidence "
        "is posterior_ppm when --posteriors is on, else binary match "
        "edges",
    )
    ap.add_argument(
        "--group-min-ges-ppt",
        type=int,
        help="group linkage: keep group pairs with GES >= this (ppt)",
    )
    ap.add_argument(
        "--cluster-algo",
        choices=["cc", "star", "center", "merge_center", "pivot",
                 "one_to_one"],
        default="cc",
        help="cluster extraction over the match edges: cc = transitive "
        "connected components (default); star = Aslam-2004 star cover "
        "(degree-ordered, diameter <= 2, structurally immune to chain "
        "merges; incompatible with --repair-fields); center = "
        "Hassanzadeh-Miller 2009 similarity-ordered stars (same "
        "immunity); merge_center = center plus cluster merges on "
        "record->foreign-center evidence (middle ground before cc); "
        "pivot = KwikCluster LFMIS pivots (permutation-ordered stars, "
        "sequential-greedy-exact, same immunity); one_to_one = "
        "clean-clean iterated mutual-best assignment between the two "
        "sources named by --source-expr (each side matches at most once)",
    )
    ap.add_argument(
        "--star-rounds",
        type=int,
        default=3,
        help="star/center/merge_center: parallel greedy rounds before "
        "leftovers become flagged singletons",
    )
    ap.add_argument(
        "--gold-expr",
        help="SQL expr over the record columns yielding a bigint gold "
        "cluster label (NULL = unlabeled); when given, the metrics line "
        "gains an 'eval' block scoring the final clusters on the labeled "
        "subset with B-cubed, MUC, BLANC, ARI, V-measure, CEAF_m/CEAF_e "
        "and the CoNLL-2012 average (mean of MUC/B-cubed/CEAF_e), all "
        "exact bigint micro values",
    )
    ap.add_argument(
        "--allpairs-measure",
        choices=["jaccard", "cosine", "dice"],
        default="jaccard",
        help="allpairs blocking: the set-similarity measure (each with "
        "its own sound prefix and length bound)",
    )
    ap.add_argument(
        "--qgram-threshold-ppt",
        type=int,
        help="qgram blocking: keep pairs with shared*1000 >= "
        "this * greatest(n_a, n_b) over KEPT grams",
    )
    ap.add_argument("--threshold-micro", type=int, default=0)
    ap.add_argument(
        "--repair-fields",
        help="csv: extra record columns for the escalation comparator — "
        "clusters holding a scorer-rejected interior pair (chain merges) "
        "are re-clustered on edges a stronger FS over --fields + these "
        "columns confirms; scored only for accepted edges",
    )
    ap.add_argument(
        "--repair-threshold-micro",
        type=int,
        default=0,
        help="escalation: strong-score acceptance threshold inside "
        "flagged clusters",
    )
    ap.add_argument(
        "--review-lower-micro",
        type=int,
        help="FS two-threshold mode: scores in [this, --threshold-micro) "
        "become the clerical-review queue (output/review); only scores "
        ">= --threshold-micro auto-link",
    )
    ap.add_argument(
        "--split-target-pairs",
        type=int,
        help="--blocking blocksplit: max comparisons per reducer task"
        " (default 1000000)",
    )
    ap.add_argument(
        "--vector-planes",
        type=int,
        help="--blocking vector: SRP plane count (default 48)",
    )
    ap.add_argument(
        "--vector-band-rows",
        type=int,
        help="--blocking vector: bits per band (default 8)",
    )
    ap.add_argument(
        "--vector-threshold-ppt",
        type=int,
        help="--blocking vector: exact-cosine verification threshold"
        " in ppt (default 750)",
    )
    ap.add_argument("--em-iterations", type=int, default=5)
    ap.add_argument("--rules", help="csv col:rule survivorship rules (mode|longest|min|max)")
    ap.add_argument("--rank-strategy", choices=["keys", "range"], default="keys")
    ap.add_argument(
        "--source-expr",
        help="one_to_one: boolean expression over the record columns "
        "naming the LEFT source (clean-clean linkage between two "
        "internally-duplicate-free sources)",
    )
    ap.add_argument(
        "--canopy-loose",
        type=int,
        help="canopy blocking: loose shared-gram threshold (default 1)",
    )
    ap.add_argument(
        "--canopy-tight",
        type=int,
        help="canopy blocking: tight (pool-removal) threshold (default 2)",
    )
    ap.add_argument(
        "--canopy-rounds",
        type=int,
        help="canopy blocking: deterministic id-order rounds (default 3)",
    )
    ap.add_argument("--snapshots", help="commit clusters/golden via the SnapshotStore")
    ap.add_argument("--master", default=None)
    return ap


def main() -> None:
    args = build_parser().parse_args()

    from xlink_spark.session import get_spark

    spark = get_spark(app_name="xlink_er", master=args.master)
    t0 = time.time()
    metrics = run_er_job(spark, args)
    wall = time.time() - t0
    metrics["wall_sec"] = round(wall, 2)
    metrics["records_per_sec"] = (
        round(metrics["n_records"] / wall, 2) if wall else None
    )
    print(json.dumps(metrics))
    spark.stop()


if __name__ == "__main__":
    main()
