"""Dictionary-build operators (A1-A6, F1-F5, J3) on hand-computable fixtures.

The micro-fixture pins cal_4_prob_from_mention_anchors semantics
(/root/reference/datatool/pipeline/generate_prob_files.py:84-153).
"""

from __future__ import annotations

import pytest

from xlink_spark.config import DictionaryConfig
from xlink_spark.operators import anchors as AN
from xlink_spark.operators import probs as PR

MICRO = [
    # mention, entity, cnt  — A(*,*) = 20
    ("china", "e1", 8),
    ("china", "e2", 2),
    ("paris", "e3", 4),
    ("paris", "e4", 4),
    ("mu", "e1", 2),
]


@pytest.fixture(scope="module")
def ma(spark):
    return spark.createDataFrame(MICRO, "mention string, entity_id string, cnt long").cache()


def test_four_probs_hand_values(ma):
    t = PR.four_probs(ma)
    prior = {r["entity_id"]: r["prior"] for r in t["entity_prior"].collect()}
    assert prior == {"e1": 0.5, "e2": 0.1, "e3": 0.2, "e4": 0.2}
    egm = {(r["mention"], r["entity_id"]): r["p"] for r in t["e_given_m"].collect()}
    assert egm[("china", "e1")] == 0.8
    assert egm[("paris", "e3")] == 0.5
    mge = {(r["entity_id"], r["mention"]): r["p"] for r in t["m_given_e"].collect()}
    assert mge[("e1", "china")] == 0.8
    assert mge[("e1", "mu")] == 0.2
    link = {r["mention"]: r["link"] for r in t["link_m"].collect()}
    assert link == {"china": 10, "paris": 8, "mu": 2}


def test_link_prob_division(spark, ma):
    freq = spark.createDataFrame(
        [("china", 100), ("paris", 16), ("mu", 2)], "mention string, freq long"
    )
    lp = PR.link_prob(PR.four_probs(ma)["link_m"], freq)
    got = {r["mention"]: (r["link_m"], r["freq_m"], r["link_prob"]) for r in lp.collect()}
    assert got["china"] == (10, 100, 0.1)
    assert got["paris"] == (8, 16, 0.5)
    assert got["mu"] == (2, 2, 1.0)


def test_extract_mention_anchors_counts(sdfs, corpus):
    docs, *_ = sdfs
    ma = AN.extract_mention_anchors(docs)
    got = {(r["mention"], r["entity_id"]): r["cnt"] for r in ma.collect()}
    # recompute from the generator's gold (surfaces are already lowercase)
    import collections

    want = collections.Counter(
        (r.surface.lower(), r.entity_id) for _, r in corpus.gold_mentions.iterrows()
    )
    assert got == dict(want)



def test_filter_mention_anchors_thresholds(spark):
    ma = spark.createDataFrame(
        [("a", "e1", 5), ("b", "e2", 1), ("c", "e3", 3), ("c", "e4", 1)],
        "mention string, entity_id string, cnt long",
    )
    freq = spark.createDataFrame(
        [("a", 10), ("b", 10), ("c", 100_000)], "mention string, freq long"
    )
    self_l = spark.createDataFrame([("a", 4)], "mention string, cnt long")
    cfg = DictionaryConfig(min_link_count=2, min_link_prob=1e-4)
    # a: link 5 − self 4 = 1 < 2 → dropped; b: link 1 < 2 → dropped
    # c: link 4, link/freq = 4e-5 < 1e-4 → dropped
    out = AN.filter_mention_anchors(ma, freq, self_l, cfg)
    assert out.count() == 0
    # without self_links, a survives (5 >= 2, 0.5 >= 1e-4)
    out2 = AN.filter_mention_anchors(ma, freq, None, cfg)
    assert {r["mention"] for r in out2.collect()} == {"a"}


def test_merge_anchor_counts(spark):
    t1 = spark.createDataFrame([("m", "e", 2)], "mention string, entity_id string, cnt long")
    t2 = spark.createDataFrame(
        [("m", "e", 3), ("n", "e", 1)], "mention string, entity_id string, cnt long"
    )
    got = {(r["mention"], r["entity_id"]): r["cnt"] for r in AN.merge_anchor_counts(t1, t2).collect()}
    assert got == {("m", "e"): 5, ("n", "e"): 1}


def test_expand_title_entities(spark):
    kb = spark.createDataFrame(
        [("e1", "known surface"), ("e2", "known surface"), ("e9", "fresh title")],
        "entity_id string, surface_norm string",
    )
    ma = spark.createDataFrame(
        [("known surface", "e1", 7)], "mention string, entity_id string, cnt long"
    )
    injected, tt = AN.expand_title_entities(kb, ma)
    # e2 shares a known surface but lacks the (m,e) pair → injected cnt=1
    assert [(r["mention"], r["entity_id"], r["cnt"]) for r in injected.collect()] == [
        ("known surface", "e2", 1)
    ]
    assert [(r["mention"], r["entity_id"]) for r in tt.collect()] == [("fresh title", "e9")]


def test_embedding_filters(spark):
    ma = spark.createDataFrame(
        [("m", "e1", 2), ("m", "e2", 2)], "mention string, entity_id string, cnt long"
    )
    emb = spark.createDataFrame([("e1", [0.1, 0.2])], "key string, vec array<float>")
    out = AN.filter_by_entity_embedding(ma, emb)
    assert [(r["mention"], r["entity_id"]) for r in out.collect()] == [("m", "e1")]


def test_decayed_anchor_counts_exact_halvings(spark):
    """Recency weighting: a batch of age a contributes cnt * 2^-(a div h);
    the decayed P(e|m) flips to the recent entity while the lifetime count
    still favors the old one — and everything is exact bigint (weights are
    shifts, never float powers)."""
    from xlink_spark.operators.anchors import decayed_anchor_counts

    # mention m: e_old dominated batches 0-1 (60+40), e_new won batch 3 (30)
    rows = [
        ("m", "e_old", 60, 0), ("m", "e_old", 40, 1),
        ("m", "e_new", 30, 3),
        ("q", "e_q", 8, 3),
    ]
    df = spark.createDataFrame(rows, "mention string, entity_id string, cnt long, batch long")
    out = {
        (r["mention"], r["entity_id"]): r
        for r in decayed_anchor_counts(df, current_batch=3).collect()
    }
    K = 40
    # weights: age 3 -> 2^-3, age 2 -> 2^-2, age 0 -> 1 (units of 2^-K)
    w_old = 60 * (1 << (K - 3)) + 40 * (1 << (K - 2))
    w_new = 30 * (1 << K)
    assert out[("m", "e_old")]["w_cnt"] == w_old
    assert out[("m", "e_new")]["w_cnt"] == w_new
    assert out[("m", "e_new")]["w_total"] == w_old + w_new
    # lifetime counts favor e_old 100:30, decayed favors e_new
    assert out[("m", "e_new")]["p"] > 0.5 > out[("m", "e_old")]["p"]
    assert out[("q", "e_q")]["p"] == 1.0

    # half_life=2: ages 0-1 undecayed, 2-3 halved once
    out2 = {
        (r["mention"], r["entity_id"]): r["w_cnt"]
        for r in decayed_anchor_counts(df, current_batch=3, half_life_batches=2).collect()
    }
    assert out2[("m", "e_old")] == 60 * (1 << (K - 1)) + 40 * (1 << (K - 1))

    # ancient batches (beyond max_halvings) contribute exactly zero
    ancient = spark.createDataFrame(
        [("m", "e_old", 1000, 0), ("m", "e_new", 1, 100)],
        "mention string, entity_id string, cnt long, batch long",
    )
    out3 = {
        (r["mention"], r["entity_id"]): r
        for r in decayed_anchor_counts(ancient, current_batch=100).collect()
    }
    assert out3[("m", "e_old")]["w_cnt"] == 0 and out3[("m", "e_new")]["p"] == 1.0

    # a batch stamped AFTER current_batch (clock skew / concurrent writer)
    # weighs like the current batch — negative ages must NOT push the shift
    # count past 40 (the JVM masks shifts to 6 bits: 2x overweight at
    # age -1, 2^-40 underweight at age -24)
    skew = spark.createDataFrame(
        [("m", "e_now", 10, 3), ("m", "e_future", 10, 4), ("m", "e_far", 10, 27)],
        "mention string, entity_id string, cnt long, batch long",
    )
    out4 = {
        (r["mention"], r["entity_id"]): r["w_cnt"]
        for r in decayed_anchor_counts(skew, current_batch=3).collect()
    }
    assert out4[("m", "e_now")] == out4[("m", "e_future")] == out4[("m", "e_far")]
