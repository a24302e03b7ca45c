"""Physical-plan assertions: pushdown, column pruning, join strategy.

These pin the *optimizer-facing* properties of the engine: filters reach the
parquet scan, projections prune columns at the source, dictionary joins
broadcast, and the scoring stage stays inside whole-stage codegen.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from bench import SF_DIR

# the t1 smoke tables (TESTDATA.md): the sf0.001 sibling of the bench data
SF0001 = os.path.join(os.path.dirname(SF_DIR), "sf0.001")


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().toString()


def test_filter_pushdown_reaches_scan(spark, tmp_path):
    p = str(tmp_path / "li")
    spark.range(1000).select(
        F.col("id").alias("k"),
        (F.col("id") % 7).alias("flag"),
        F.lit("payload").alias("wide1"),
        F.lit("payload").alias("wide2"),
    ).write.mode("overwrite").parquet(p)
    df = spark.read.parquet(p).filter(F.col("flag") == 3).select("k")
    plan = _plan(df)
    assert "PushedFilters: [" in plan and "flag" in plan.split("PushedFilters")[1][:80]
    # column pruning: the scan reads only k and flag, not the wide payloads
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "wide1" not in read_schema and "wide2" not in read_schema


def test_candidate_join_is_broadcast(spark):
    from xlink_spark.operators import scoring as SC

    mentions = spark.createDataFrame(
        [("d1", 0, 5, "china", "ma", [1.0, 0.0])],
        "doc_id string, start int, end int, surface string, parse_from string,"
        "ctx_vec array<double>",
    )
    egm = spark.createDataFrame([("china", "e1", 1.0)], "mention string, entity_id string, p double")
    emb = spark.createDataFrame([("e1", [1.0, 0.0])], "key string, vec array<float>")
    cands = SC.candidate_table(mentions, egm, emb)
    plan = _plan(cands)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan  # dictionary explosion must not SMJ


def test_scoring_has_no_python_in_hot_path(spark):
    """The believe/gate/top-1 stage is pure JVM: no Python eval nodes."""
    from xlink_spark.operators import scoring as SC

    cands = spark.createDataFrame(
        [("d", 0, 2, "mm", "ma", "mm", "e1", 0.9, 0.8)],
        "doc_id string, start int, end int, surface string, parse_from string,"
        "mention string, entity_id string, p double, ctx_word_sim double",
    ).withColumn("ctx_ent_sim", F.lit(1.0))
    lp = spark.createDataFrame([("mm", 0.5)], "mention string, link_prob double")
    scored = SC.score_has_prob(cands, lp)
    plan = _plan(scored)
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert marker not in plan
    # top-1 rank is pushed down map-side (partial WindowGroupLimit before
    # the exchange) and the link_prob gate rides the broadcast join
    assert "WindowGroupLimit" in plan
    assert "BroadcastHashJoin" in plan


def test_flagship_reads_only_needed_columns(spark):
    """documents has 5 columns; the flagship projection must prune to the 3
    it uses (doc_id, source, text) at the parquet scan."""
    from xlink_spark.flagship import linking_pipeline

    links = linking_pipeline(spark, "/root/testdata/sf0.001")
    plan = _plan(links)
    scans = [seg.splitlines()[0] for seg in plan.split("ReadSchema:")[1:]]
    doc_scans = [s for s in scans if "text" in s]
    assert doc_scans, "expected a documents scan"
    for s in doc_scans:
        assert "n_chars" not in s and "lang" not in s


def test_join_path_detection_plan_shape(spark):
    """detect_mentions_join: the dictionary join is an equi-join (hash or
    sort-merge; NEVER a nested-loop/cartesian product) and the n-gram scan
    is a single Arrow-batched crossing."""
    from xlink_spark.operators import detect as DT

    docs = spark.createDataFrame(
        [("d1", "a b c"), ("d2", "b c d")], "doc_id string, text string"
    )
    dict_df = spark.createDataFrame(
        [("a b", "ma"), ("c", "ma")], "mention string, parse_from string"
    )
    plan = _plan(DT.detect_mentions_join(docs, dict_df, max_words=2))
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan
    assert plan.count("MapInPandas") == 1


def test_multiprobe_bucketed_topk_plan_shape(spark):
    """Multi-probe ANN stays an equi-join on bucket — the probe explode must
    not degrade the join to a nested loop, and no Python touches the path."""
    from xlink_spark.operators import similarity as SIM

    emb = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.9, 0.1]), (3, [0.0, 1.0])],
        "vec_id int, embedding array<double>",
    )
    plan = _plan(SIM.bucketed_topk(emb, dim=2, k=2, bits=3, probes=3))
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert marker not in plan


def test_linking_priors_plan_is_jvm_with_group_limit(spark):
    """The oracle-checked flagship core: pure JVM after the token explode,
    map-side WindowGroupLimit for the top-1, broadcast gates."""
    from xlink_spark.driver_queries import q_linking_priors

    plan = _plan(q_linking_priors(spark, "/root/testdata/sf0.001"))
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert marker not in plan
    assert "WindowGroupLimit" in plan
    assert "BroadcastHashJoin" in plan


def test_ivf_topk_plan_shape(spark):
    """IVF ANN: probe assignment is a pure scan expression (centroids ride as
    literals — NO join of any kind for assignment) and the neighbor search is
    an equi-join on cluster; no Python anywhere."""
    from xlink_spark.operators import similarity as SIM

    emb = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(10)], "vec_id int, embedding array<double>"
    )
    plan = _plan(SIM.ivf_topk(emb, k=2, n_clusters=2, nprobe=1))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert marker not in plan


def test_ivf_driver_query_plan_shape(spark):
    """The oracle-checked IVF entry point (frozen data-derived centroids)
    keeps the same shape: no cross join, no Python eval nodes."""
    from xlink_spark.driver_queries import q_ann_topk_ivf

    plan = _plan(q_ann_topk_ivf(spark, "/root/testdata/sf0.001"))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert marker not in plan


def test_ivf_c256_driver_query_uses_join_quantizer(spark):
    """The large-quantizer IVF entry: assignment runs as the INTENDED
    broadcast nested-loop fanout over the tiny centroid table (not a
    codegen-busting literal projection, not a cartesian shuffle product),
    and nothing else in the plan is Python or cartesian."""
    from xlink_spark.driver_queries import q_ann_topk_ivf_c256

    plan = _plan(q_ann_topk_ivf_c256(spark, "/root/testdata/sf0.001"))
    assert "BroadcastNestedLoopJoin" in plan  # the centroid fanout
    assert "CartesianProduct" not in plan
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert marker not in plan


def test_detected_mentions_query_plan_shape(spark):
    """The oracled join-path detection query: exactly ONE Arrow crossing
    (the n-gram span scan — dictionary derivation is pure SQL), dictionary
    matched by equi-join, never a nested loop / cartesian product, and no
    row-at-a-time Python anywhere."""
    from xlink_spark.driver_queries import q_detected_mentions

    plan = _plan(q_detected_mentions(spark, "/root/testdata/sf0.001"))
    assert plan.count("MapInPandas") == 1
    assert "BatchEvalPython" not in plan
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan


def test_curation_plan_query_is_pure_jvm(spark):
    """The composed curation chain (exact dedup → quality → repetition →
    LSH → decontamination → redaction): every stage is declarative — no
    Python eval nodes of any kind, no cartesian products; the only pair
    generation is the banded equi-join."""
    from xlink_spark.driver_queries import q_curation_plan

    plan = _plan(q_curation_plan(spark, "/root/testdata/sf0.001"))
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert marker not in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_curation_gate_cache_is_narrow(spark):
    """The persisted gate branch caches (doc_id, quality) ONLY — a cache
    whose footprint scales with corpus TEXT width would be ~a corpus copy
    in MEMORY_AND_DISK at 100 TB. Text must flow once through the kept
    chain; only after_quality (whose text feeds two real branches) and the
    id-narrow lists may persist, and NO registered frame except
    after_quality carries the text column."""
    from xlink_spark.plans.curation import curate_corpus
    from xlink_spark.plans.storage import scope

    rows = [(f"d{i}", f"document number {i} with plain ordinary filler words "
            + ("pad " * (i % 5))) for i in range(20)]
    rows.append(("dup", rows[0][1]))
    docs = spark.createDataFrame(rows, "doc_id string, text string")
    with scope() as s:
        kept, audit, drops = curate_corpus(docs, None)
        held = s.frames
        text_carrying = [h for h in held if "text" in h.columns]
        # exactly one full-width persist: the post-gate survivor table
        assert len(text_carrying) == 1
        gate = [h for h in held if "quality" in h.columns and "text" not in h.columns]
        assert len(gate) == 1 and set(gate[0].columns) == {
            "doc_id", "content_hash", "quality",
        }
        # counts unchanged by the narrowing
        counts = {r["stage"]: r["n_dropped"] for r in audit.collect()}
        assert counts["exact_dup"] == 1
        assert kept.count() + sum(counts.values()) == 21


def _rdd_ids(spark) -> set:
    return {i.id() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()}


def _sql_cache_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_curation_held_release_frees_all_storage(spark):
    """A storage scope must release EVERYTHING — including the
    lineage-truncated (localCheckpoint) frames, whose blocks live as RDD
    storage that ``DataFrame.unpersist`` alone would never touch. A leak
    here accumulates a drop-list + survivor copy per curation call until
    the storage pool fills (the observed evictBlocksToFreeSpace livelock).
    Pin: once the scope closes, the context reports zero cached RDDs and
    the SQL cache is empty."""
    from xlink_spark.plans.curation import curate_corpus
    from xlink_spark.plans.storage import scope

    spark.catalog.clearCache()
    baseline = _rdd_ids(spark)  # other suites may leave internal (e.g. MLlib) blocks
    rows = [(f"d{i}", f"document number {i} with plain ordinary filler words "
            + ("pad " * (i % 5))) for i in range(20)]
    docs = spark.createDataFrame(rows, "doc_id string, text string")
    with scope():
        kept, audit, drops = curate_corpus(docs, None)
        audit.collect()
        kept.count()
        # the checkpointed frames materialized real blocks
        assert _rdd_ids(spark) - baseline
    assert _rdd_ids(spark) - baseline == set()
    assert _sql_cache_empty(spark)


def test_linking_pipeline_ascii_python_is_one_arrow_scan(spark):
    """The fully-oracled ASCII flagship (detect → resolve → context →
    tokenize → mean-pool cosine → fuse → gate → top-1): the ONLY Python in
    the plan is the single Arrow-batched n-gram span scan of join-path
    detection — every scoring/pooling/gating stage is JVM-side — and the
    dictionary/embedding joins broadcast (the candidate explosion must
    never sort-merge on the Zipf-skewed surface key)."""
    from xlink_spark.driver_queries import q_linking_pipeline_ascii

    plan = _plan(q_linking_pipeline_ascii(spark, "/root/testdata/sf0.001"))
    assert plan.count("MapInPandas") == 1  # the detection span scan, only
    for marker in ("BatchEvalPython", "ArrowEvalPython"):
        assert marker not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_linking_seeded_ascii_python_is_one_arrow_scan(spark):
    """The seeded flagship variant (adds the unambiguous-seed doc pool and
    ctx_ent_sim to the ascii DAG): mentions fan out to the context AND seed
    branches, so the query persists them eagerly — BOTH branches must read
    the cache (two InMemoryTableScans; the Arrow detection scan executed
    once, at persist time — plan TEXT shows it once per printed
    InMemoryRelation, so count cache scans, not MapInPandas strings). No
    other Python, no cartesian product, broadcast dictionary joins."""
    from xlink_spark.driver_queries import q_linking_seeded_ascii
    from xlink_spark.plans.storage import scope

    with scope():
        plan = _plan(q_linking_seeded_ascii(spark, SF0001))
    assert plan.count("InMemoryTableScan") == 2
    for marker in ("BatchEvalPython", "ArrowEvalPython"):
        assert marker not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_round5_session2_queries_are_pure_jvm(spark):
    """The fuzzy / exact-setsim / stable-id driver queries stay inside
    whole-stage codegen end to end: no Python eval nodes, no cartesian."""
    from xlink_spark.driver_queries import (
        q_cluster_stable_ids,
        q_fuzzy_candidate_priors,
        q_fuzzy_detected_mentions,
        q_fuzzy_surface_match,
        q_jaccard_pairs_exact,
    )

    sf = "/root/testdata/sf0.001"
    for q in (
        q_fuzzy_surface_match,
        q_fuzzy_candidate_priors,
        q_fuzzy_detected_mentions,
        q_jaccard_pairs_exact,
        q_cluster_stable_ids,
    ):
        plan = _plan(q(spark, sf))
        markers = [
            "BatchEvalPython",
            "ArrowEvalPython",
            "CartesianProduct",
            "BroadcastNestedLoopJoin",
        ]
        if q is not q_fuzzy_detected_mentions:
            # the detection query's ONE sanctioned Python boundary is the
            # Arrow-batched ngram_spans scan (same as detected_mentions)
            markers.append("MapInPandas")
        for marker in markers:
            assert marker not in plan, (q.__name__, marker)


def test_bm25_driver_query_plan_no_explode_no_python(spark):
    """BM25 search: term frequencies are HOF projections — the plan has NO
    Generate (explode) node, no Python eval, and the only top-level sort is
    the TakeOrderedAndProject heap."""
    from xlink_spark.driver_queries import q_bm25_topk

    plan = _plan(q_bm25_topk(spark, "/root/testdata/sf0.001"))
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas", "Generate"):
        assert marker not in plan
    assert "TakeOrderedAndProject" in plan


def test_entity_pagerank_plan_is_pure_jvm(spark):
    """Integer PageRank: three unrolled join+agg rounds, no Python eval, no
    cartesian blowup."""
    from xlink_spark.driver_queries import q_entity_pagerank

    plan = _plan(q_entity_pagerank(spark, "/root/testdata/sf0.001"))
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert marker not in plan
    assert "CartesianProduct" not in plan


def test_coherence_rerank_query_plan_shape(spark):
    """The collective-rerank driver query: the candidate table is persisted
    once and the rerank's fan-out consumers (pool, paired) read the cache —
    the detection scan's MapInPandas appears in the printed plan only under
    InMemoryRelation provenance, so count cache scans, not Python markers.
    The relatedness build's four link-table consumers read the operator's
    eager localCheckpoint instead (entity_relatedness materialize=True —
    round-6 change #11), which prints as Scan ExistingRDD. The anchor
    dictionary rides a broadcast; the only joins are equi-joins."""
    from xlink_spark.driver_queries import q_coherence_rerank

    plan = _plan(q_coherence_rerank(spark, "/root/testdata/sf0.001"))
    assert plan.count("InMemoryTableScan") >= 2  # pool/paired fan-out
    assert "ExistingRDD" in plan  # the materialized distinct link table
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_entity_relatedness_query_plan_shape(spark):
    """Relatedness over resolved in-links: pair generation is a doc_id
    equi-join (never cartesian), the one-row doc-universe aggregate rides a
    broadcast, and detection's span scan is the only Python boundary."""
    from xlink_spark.driver_queries import q_entity_relatedness

    plan = _plan(q_entity_relatedness(spark, "/root/testdata/sf0.001"))
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    assert "BroadcastExchange" in plan or "BroadcastQueryStage" in plan


def test_fs_pair_scores_query_plan_shape(spark):
    """The FS chain is pure JVM: no Python eval nodes anywhere, the weight
    table rides a broadcast, and no join degenerates to a cartesian."""
    from xlink_spark.driver_queries import q_fs_pair_scores

    plan = _plan(q_fs_pair_scores(spark, "/root/testdata/sf0.001"))
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert marker not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastExchange" in plan or "BroadcastQueryStage" in plan


def test_jw_pair_scores_query_plan_shape(spark):
    """Jaro-Winkler is the ONE sanctioned Arrow boundary in this query —
    exactly one vectorized Python eval over the blocked pairs, everything
    else JVM."""
    from xlink_spark.driver_queries import q_jw_pair_scores

    plan = _plan(q_jw_pair_scores(spark, "/root/testdata/sf0.001"))
    assert plan.count("ArrowEvalPython") == 1
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan
    assert "CartesianProduct" not in plan


def test_fs_threshold_sweep_query_plan_shape(spark):
    from xlink_spark.driver_queries import q_fs_threshold_sweep

    plan = _plan(q_fs_threshold_sweep(spark, "/root/testdata/sf0.001"))
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert marker not in plan
    assert "CartesianProduct" not in plan


# ---- storage lifetime (plans/storage) -------------------------------------


def _stored(df) -> bool:
    """True while a frame's SQL cache entry or checkpoint blocks exist."""
    plan = df._jdf.queryExecution().analyzed()
    if plan.nodeName() == "LogicalRDD":
        return plan.rdd().getStorageLevel().isValid()
    return df._jdf.storageLevel().isValid()


def test_storage_nested_scope_frees_only_its_own_frames(spark):
    from xlink_spark.plans.storage import cut, hold, scope

    with scope() as outer:
        a = hold(spark.range(10), eager=True)
        with scope() as inner:
            b = hold(spark.range(20), eager=True)
            c = cut(spark.range(30), eager=True)
            assert [id(f) for f in inner.frames] == [id(b), id(c)]
            assert _stored(b) and _stored(c)
        assert inner.frames == [] and not _stored(b) and not _stored(c)
        assert [id(f) for f in outer.frames] == [id(a)] and _stored(a)
        # a lazy cut registers too; its blocks appear on first use
        d = cut(spark.range(40), eager=False)
        assert d.count() == 40 and _stored(d)
    assert not _stored(a) and not _stored(d)


def test_storage_scope_frees_frames_on_exception(spark):
    """A failed commit must not leak cached blocks into the retry."""
    from xlink_spark.plans.storage import cut, hold, scope

    frames = []
    with pytest.raises(RuntimeError, match="commit failed"):
        with scope():
            frames += [hold(spark.range(5), eager=True), cut(spark.range(6), eager=True)]
            raise RuntimeError("commit failed")
    assert frames and not any(_stored(f) for f in frames)


def test_storage_outside_scope_registers_nothing(spark):
    """Outside any scope hold/cut are plain persist/localCheckpoint: the
    frame stays stored and no scope keeps a reference to it."""
    from xlink_spark.plans import storage

    before = list(storage.query_scope.frames)
    a = storage.hold(spark.range(7), eager=True)
    c = storage.cut(spark.range(8), eager=True)
    assert storage._open == [] and storage.query_scope.frames == before
    assert _stored(a) and _stored(c)
    # the caller owns them: free through a scope of its own
    s = storage.Scope()
    s.frames += [a, c]
    s.release()
    assert not _stored(a) and not _stored(c)
    # a frame released twice (an early unpersist, then its scope) is fine
    s.frames += [a, c]
    s.release()


def test_storage_release_after_session_stop_does_not_raise(tmp_path):
    """A registry query's frames may outlive their session (two sessions in
    one process): releasing them after ``stop()`` is a no-op."""
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = f"""
import sys
sys.path.insert(0, {root!r})
from xlink_spark.plans.storage import Scope, cut, hold
from xlink_spark.session import get_spark

spark = get_spark(app_name="stopped_release", master="local[1]", shuffle_partitions=1)
s = Scope()
with s.open():
    hold(spark.range(5), eager=True)
    cut(spark.range(6), eager=True)
assert len(s.frames) == 2
spark.stop()
s.release()
assert s.frames == []
print("released")
"""
    out = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, capture_output=True,
        text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert "released" in out.stdout


def test_registry_queries_leave_no_storage(spark):
    """Every bench HEADLINE query, built and counted through the registry:
    once its scope is released, no RDD storage beyond the starting baseline
    is left and the SQL cache is empty — including the localCheckpoint
    blocks of the iterative operators. ``curation_plan`` (cached, eager-
    and lazy-checkpointed frames) also runs the way bench.py times it, cold
    then warm: building it again frees the cold build's frames."""
    import __spark_entry__ as entrymod
    from bench import HEADLINE
    from xlink_spark.plans.storage import query_scope

    spark.catalog.clearCache()
    baseline = _rdd_ids(spark)
    qs = entrymod.queries()
    for name in HEADLINE:
        qs[name](spark, SF0001).count()
        if name == "curation_plan":
            cold = list(query_scope.frames)
            qs[name](spark, SF0001).count()
            warm = {id(f) for f in query_scope.frames}
            assert cold and warm.isdisjoint(id(f) for f in cold)
        query_scope.release()
        assert _rdd_ids(spark) - baseline == set(), name
        assert _sql_cache_empty(spark), name


def test_storage_calls_live_in_storage_module():
    """The lifetime decision lives in plans/storage.py only: no other module
    of the library or the jobs persists, caches or checkpoints directly, and
    the retired hand-off lists are gone."""
    import ast
    import re

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    own = os.path.join(root, "xlink_spark", "plans", "storage.py")
    # the retired names, spelled so that this file does not contain them
    retired = re.compile(r"persisted_[o]ut|_HELD\b")
    offenders = []
    for top in ("xlink_spark", "jobs"):
        for dirpath, _dirs, files in os.walk(os.path.join(root, top)):
            for fn in files:
                path = os.path.join(dirpath, fn)
                if not fn.endswith(".py") or path == own:
                    continue
                with open(path) as f:
                    src = f.read()
                rel = os.path.relpath(path, root)
                for node in ast.walk(ast.parse(src)):
                    if (
                        isinstance(node, ast.Call)
                        and isinstance(node.func, ast.Attribute)
                        and node.func.attr in ("persist", "cache", "localCheckpoint")
                    ):
                        offenders.append(f"{rel}:{node.lineno} .{node.func.attr}(")
                for i, line in enumerate(src.splitlines(), 1):
                    if retired.search(line):
                        offenders.append(f"{rel}:{i} {line.strip()}")
    assert offenders == []


def test_has_prob_pass_lives_in_pipeline_module():
    """The has-prob pass is written once, in plans/pipeline.py
    (link_has_prob): no other module of the library calls the seed-pool or
    context-entity stages directly."""
    import ast

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    own = os.path.join(root, "xlink_spark", "plans", "pipeline.py")
    guarded = ("seed_pool_from_dictionary", "context_entity_vector")
    offenders = []
    for dirpath, _dirs, files in os.walk(os.path.join(root, "xlink_spark")):
        for fn in files:
            path = os.path.join(dirpath, fn)
            if not fn.endswith(".py") or path == own:
                continue
            with open(path) as f:
                tree = ast.parse(f.read())
            rel = os.path.relpath(path, root)
            for node in ast.walk(tree):
                if not isinstance(node, ast.Call):
                    continue
                f = node.func
                name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
                if name in guarded:
                    offenders.append(f"{rel}:{node.lineno} {name}(")
    assert offenders == []
