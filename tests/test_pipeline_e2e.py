"""End-to-end: dictionary build → link → cluster on the synthetic corpus.

Gates (BASELINE.md §B):
  * pairwise linking F1 ≥ 0.99 on labeled pairs sharing the blocking key
  * span-sequence (kind, text, media_ref, order) preserved exactly
  * pipeline resumes from committed snapshots
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from xlink_spark.config import DEFAULT
from xlink_spark.eval.f1 import linking_prf, mention_prf
from xlink_spark.operators.spans import plain_text, span_sequence_key
from xlink_spark.plans.pipeline import build_dictionary, link_corpus
from xlink_spark.plans.snapshots import SnapshotStore


@pytest.fixture(scope="module")
def built(sdfs, tmp_path_factory):
    docs, kb, wemb, eemb, gold = sdfs
    store = SnapshotStore(str(tmp_path_factory.mktemp("built") / "snap"))
    d = build_dictionary(docs, kb, eemb, store=store)
    plain = docs.select("doc_id", plain_text("spans").alias("text")).cache()
    links = link_corpus(plain, d, wemb, eemb).cache()
    links.count()
    return d, plain, links


def test_dictionary_nonempty(built):
    d, _, _ = built
    assert d.mention_anchors.count() > 0
    assert d.e_given_m.count() >= d.mention_anchors.select("mention").distinct().count()
    assert d.link_prob.filter(F.col("link_prob") <= 0).count() == 0


def test_linking_f1_gate(built, sdfs):
    _, _, links = built
    *_, gold = sdfs
    m = linking_prf(gold, links)
    # the acceptance gate: ≥0.99 on pairs sharing the blocking key
    assert m["f1_blocked"] >= 0.99, m
    # overall recall should also be strong on this corpus (most surfaces
    # survive the dictionary thresholds)
    assert m["recall"] >= 0.9, m


def test_mention_detection_prf(built, sdfs):
    _, _, links = built
    *_, gold = sdfs
    m = mention_prf(gold, links)
    assert m["precision"] >= 0.95 and m["recall"] >= 0.9, m


def test_span_sequence_invariant(sdfs):
    """Engine I/O must not perturb the span sequence: write → read → equal."""
    docs, *_ = sdfs
    keyed = docs.select("doc_id", span_sequence_key("spans").alias("k"))
    import tempfile

    with tempfile.TemporaryDirectory() as tmp:
        docs.write.mode("overwrite").parquet(tmp + "/docs")
        back = docs.sparkSession.read.parquet(tmp + "/docs")
        keyed2 = back.select("doc_id", span_sequence_key("spans").alias("k2"))
        diff = keyed.join(keyed2, "doc_id").filter(F.col("k") != F.col("k2"))
        assert diff.count() == 0


def test_clusters_group_ambiguous_entities_apart(built, sdfs):
    _, plain, links = built
    docs, kb, wemb, eemb, gold = sdfs
    from xlink_spark.operators.cluster import cluster_links

    clusters = cluster_links(links, threshold=DEFAULT.cluster.match_threshold)
    assert clusters.count() > 0
    # every linked entity gets exactly one cluster id
    assert (
        clusters.groupBy("entity_id").count().filter(F.col("count") > 1).count() == 0
    )


def test_dictionary_build_resumes(sdfs, tmp_path):
    docs, kb, wemb, eemb, gold = sdfs
    store = SnapshotStore(str(tmp_path / "snap"))
    d1 = build_dictionary(docs, kb, eemb, store=store)
    n1 = d1.mention_anchors.count()
    # second run must reuse snapshots (no stage recomputation): poison the
    # input — if any stage recomputed, counts would change
    empty = docs.filter(F.lit(False))
    d2 = build_dictionary(empty, kb, eemb, store=store)
    assert d2.mention_anchors.count() == n1


def test_title_dictionary_pass_emits_tt_link(spark, tmp_path):
    """The no-prob pass end to end: a KB title that is never an anchor but
    occurs in the text is detected from the title dictionary, scored by
    its context-word similarity, and emitted as a 'tt' link."""
    from xlink_spark.operators.spans import parse_markup_to_spans

    raw = spark.createDataFrame(
        [
            ("t1", "[[e_paris|paris]] is big and paris is old"),
            ("t2", "we saw [[e_paris|paris]] again in paris"),
            ("t3", "rhone lyon rhone"),
        ],
        "doc_id string, text string",
    )
    docs = parse_markup_to_spans(raw)
    kb = spark.createDataFrame(
        [("e_paris", "paris"), ("e_lyon", "lyon"), ("e_lyon_fc", "lyon")],
        "entity_id string, surface_norm string",
    )
    # non-unit vectors: the word-sim must normalize both sides
    eemb = spark.createDataFrame(
        [("e_paris", [1.0, 0.0, 0.0]), ("e_lyon", [0.0, 0.0, 2.0]),
         ("e_lyon_fc", [0.0, 1.0, 0.0])],
        "key string, vec array<double>",
    )
    wemb = spark.createDataFrame(
        [("paris", [1.0, 0.0, 0.0]), ("rhone", [0.0, 0.0, 3.0])],
        "key string, vec array<double>",
    )
    d = build_dictionary(docs, kb, eemb, store=SnapshotStore(str(tmp_path / "s")))
    plain = docs.select("doc_id", plain_text("spans").alias("text"))
    links = link_corpus(plain, d, wemb, eemb)
    tt = [
        (r["doc_id"], r["start"], r["entity_id"])
        for r in links.filter(F.col("parse_from") == "tt").collect()
    ]
    # word-sim: e_lyon 1.0 (seed, > 0.45), e_lyon_fc 0.0; the seeded
    # mention's pool drops the overlapping seed ⇒ empty ⇒ ent_sim 1;
    # believe 0.5·1 + 0.5·1 = 1.0 beats e_lyon_fc's 0.5
    assert tt == [("t3", 6, "e_lyon")]


def test_join_path_pipeline_equals_broadcast_pipeline(built, sdfs):
    """Forcing the big-dictionary regime (broadcast_dict_max_rows=0) must
    reproduce the broadcast pipeline's links exactly: detection through the
    dictionary-as-table join and a shuffled (non-broadcast) candidate join."""
    import dataclasses

    _, plain, links = built
    d = built[0]
    docs, kb, wemb, eemb, gold = sdfs
    cfg = dataclasses.replace(DEFAULT, broadcast_dict_max_rows=0)
    joined = link_corpus(plain, d, wemb, eemb, cfg)
    key = lambda df: sorted(
        (r["doc_id"], r["start"], r["end"], r["surface"], r["entity_id"], r["parse_from"])
        for r in df.collect()
    )
    assert key(joined) == key(links)


def test_blocking_quality_hand_values(spark):
    """PC/RR from group sizes, pinned against a hand-computed case:
    blocks b1=[e1,e1,e2] b2=[e1,e2,e2] → cand=6, true=6, co-blocked=2,
    all-pairs=15 → pc=2/6, rr=1−6/15 (floor µ-units)."""
    from xlink_spark.eval.blocking import blocking_quality

    rows = [("b1", "e1"), ("b1", "e1"), ("b1", "e2"),
            ("b2", "e1"), ("b2", "e2"), ("b2", "e2")]
    df = spark.createDataFrame(rows, "block string, entity_id string")
    r = blocking_quality(df).collect()[0].asDict()
    assert r == {
        "n_records": 6, "n_blocks": 2, "n_entities": 2,
        "cand_pairs": 6, "true_pairs": 6, "co_blocked_pairs": 2,
        "pc_micro": 333333, "rr_micro": 600000,
    }


def test_blocking_quality_perfect_and_degenerate(spark):
    """block == label ⇒ PC=1; a single global block ⇒ RR=0; one record ⇒
    both default to 1e6 (no pairs to lose, nothing to reduce)."""
    from xlink_spark.eval.blocking import blocking_quality

    same = spark.createDataFrame(
        [("x", "x"), ("x", "x"), ("y", "y")], "block string, entity_id string"
    )
    r = blocking_quality(same).collect()[0]
    assert r["pc_micro"] == 1_000_000 and r["co_blocked_pairs"] == r["true_pairs"]

    one_block = spark.createDataFrame(
        [("g", "e1"), ("g", "e2"), ("g", "e3")], "block string, entity_id string"
    )
    assert blocking_quality(one_block).collect()[0]["rr_micro"] == 0

    single = spark.createDataFrame([("b", "e")], "block string, entity_id string")
    r = blocking_quality(single).collect()[0]
    assert (r["pc_micro"], r["rr_micro"]) == (1_000_000, 1_000_000)

    empty = spark.createDataFrame([], "block string, entity_id string")
    r = blocking_quality(empty).collect()[0].asDict()
    assert r == {
        "n_records": 0, "n_blocks": 0, "n_entities": 0,
        "cand_pairs": 0, "true_pairs": 0, "co_blocked_pairs": 0,
        "pc_micro": 1_000_000, "rr_micro": 1_000_000,
    }


def test_blocking_quality_of_pipeline_key(sdfs):
    """The pipeline's real blocking key (normalized surface form) gauged by
    PC/RR over gold mentions: pair completeness must clear the F1 gate's
    ceiling (a pair the blocking drops can never be linked), and the key
    must eliminate most of the quadratic space on this corpus."""
    from xlink_spark.eval.blocking import blocking_quality
    from xlink_spark.functions.text import surface_norm

    *_, gold = sdfs
    recs = gold.select(
        surface_norm(F.col("surface")).alias("block"),
        F.col("entity_id").alias("entity_id"),
    ).filter(F.col("block").isNotNull() & F.col("entity_id").isNotNull())
    r = blocking_quality(recs).collect()[0]
    # gate ordering: blocked-pair F1 ≥ 0.99 is only achievable if the key
    # keeps ≥ that fraction of true pairs together
    assert r["pc_micro"] >= 990_000, r.asDict()
    assert r["rr_micro"] >= 500_000, r.asDict()
