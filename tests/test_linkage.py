"""Sorted-neighborhood blocking + Fellegi-Sunter weights/scoring."""

from __future__ import annotations

import math
import random

import pytest

from xlink_spark.operators.linkage import (
    MICRO,
    fs_score,
    global_sort_ranks,
    match_weights,
    sorted_neighborhood_pairs,
)

# (id, key, name) — keys repeat (the SNM bounded-cardinality assumption)
RECS = [
    (1, "k1", "alice"),
    (2, "k1", "alicia"),
    (3, "k1", "bob"),
    (4, "k2", "carol"),
    (5, "k2", "carole"),
    (6, "k3", "dave"),
    (7, "k3", "dave"),  # duplicate sort value -> id tiebreak
]
SCHEMA = "id long, key string, name string"


def _py_ranks(recs):
    order = sorted(recs, key=lambda r: (r[1], r[2], r[0]))
    return {r[0]: i + 1 for i, r in enumerate(order)}


def _py_pairs(recs, window):
    ranks = _py_ranks(recs)
    inv = {v: k for k, v in ranks.items()}
    out = set()
    for ra in ranks.values():
        for rb in range(ra + 1, min(ra + window, len(ranks) + 1)):
            out.add((inv[ra], inv[rb], ra, rb, rb - ra))
    return out


def test_global_sort_ranks_exact_and_total(spark):
    df = spark.createDataFrame(RECS, SCHEMA)
    got = {
        r["id"]: r["rank"]
        for r in global_sort_ranks(df, "key", ["name"], "id").collect()
    }
    assert got == _py_ranks(RECS)


def test_snm_pairs_match_python_replica(spark):
    df = spark.createDataFrame(RECS, SCHEMA)
    for window in (2, 3, 5, 10):
        got = {
            (r["id_a"], r["id_b"], r["rank_a"], r["rank_b"], r["dist"])
            for r in sorted_neighborhood_pairs(
                df, "key", ["name"], "id", window=window
            ).collect()
        }
        assert got == _py_pairs(RECS, window), window


def test_snm_pairs_emitted_exactly_once(spark):
    df = spark.createDataFrame(RECS, SCHEMA)
    rows = sorted_neighborhood_pairs(df, "key", ["name"], "id", window=4).collect()
    keys = [(r["id_a"], r["id_b"]) for r in rows]
    assert len(keys) == len(set(keys))


def test_snm_window_lower_bound(spark):
    df = spark.createDataFrame(RECS, SCHEMA)
    with pytest.raises(ValueError):
        sorted_neighborhood_pairs(df, "key", ["name"], "id", window=1)


VECS = [
    # (id_a, id_b, agree_name, agree_phone, is_match)
    (1, 2, True, True, True),
    (3, 4, True, False, True),
    (5, 6, False, True, True),
    (7, 8, True, False, False),
    (9, 10, False, False, False),
    (11, 12, False, False, False),
    (13, 14, False, True, False),
]
VSCHEMA = (
    "id_a long, id_b long, agree_name boolean, agree_phone boolean, "
    "is_match boolean"
)


def _py_weights(vecs, fields, s=1):
    matches = [v for v in vecs if v[4]]
    nons = [v for v in vecs if not v[4]]
    out = {}
    for i, f in enumerate(fields):
        ma = sum(1 for v in matches if v[2 + i]) + s
        md = len(matches) + 2 * s
        ua = sum(1 for v in nons if v[2 + i]) + s
        ud = len(nons) + 2 * s
        wa = math.floor(MICRO * math.log((ma * ud) / (ua * md)))
        wd = math.floor(MICRO * math.log(((md - ma) * ud) / ((ud - ua) * md)))
        out[f] = (ma, md, ua, ud, wa, wd)
    return out


def test_match_weights_exact_counts_and_floors(spark):
    df = spark.createDataFrame(VECS, VSCHEMA)
    got = {
        r["field"]: (
            r["m_num"], r["m_den"], r["u_num"], r["u_den"],
            r["w_agree_micro"], r["w_disagree_micro"],
        )
        for r in match_weights(
            df, ["agree_name", "agree_phone"], "is_match"
        ).collect()
    }
    assert got == _py_weights(VECS, ["agree_name", "agree_phone"])
    # a field that agrees more on matches than non-matches must reward
    # agreement and punish disagreement
    wa, wd = got["agree_name"][4], got["agree_name"][5]
    assert wa > 0 > wd


def test_match_weights_all_match_labels_stay_finite(spark):
    rows = [(1, 2, True, True, True), (3, 4, False, True, True)]
    df = spark.createDataFrame(rows, VSCHEMA)
    got = match_weights(df, ["agree_name"], "is_match").collect()
    assert len(got) == 1 and got[0]["u_den"] == 2  # 0 non-matches + 2s
    assert got[0]["w_agree_micro"] is not None


def test_match_weights_smoothing_validation(spark):
    df = spark.createDataFrame(VECS, VSCHEMA)
    with pytest.raises(ValueError):
        match_weights(df, ["agree_name"], "is_match", smoothing=0)


def test_fs_score_sums_per_field_weights(spark):
    vec = spark.createDataFrame(VECS, VSCHEMA)
    w = match_weights(vec, ["agree_name", "agree_phone"], "is_match")
    pw = _py_weights(VECS, ["agree_name", "agree_phone"])
    got = {
        (r["id_a"], r["id_b"]): r["score_micro"]
        for r in fs_score(
            vec, w, ["agree_name", "agree_phone"], ["id_a", "id_b"]
        ).collect()
    }
    for v in VECS:
        exp = (pw["agree_name"][4] if v[2] else pw["agree_name"][5]) + (
            pw["agree_phone"][4] if v[3] else pw["agree_phone"][5]
        )
        assert got[(v[0], v[1])] == exp
    # full-agreement pair outranks full-disagreement pair
    assert got[(1, 2)] > got[(9, 10)]


def test_linkage_plans_are_pure_jvm(spark):
    recs = spark.createDataFrame(RECS, SCHEMA)
    vec = spark.createDataFrame(VECS, VSCHEMA)
    pairs = sorted_neighborhood_pairs(recs, "key", ["name"], "id", window=3)
    w = match_weights(vec, ["agree_name", "agree_phone"], "is_match")
    sc = fs_score(vec, w, ["agree_name", "agree_phone"], ["id_a", "id_b"])
    for df in (pairs, w, sc):
        plan = df._jdf.queryExecution().executedPlan().toString()
        for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
            assert marker not in plan
        assert "CartesianProduct" not in plan


def test_fs_em_weights_python_duckdb_bit_parity(spark):
    """The EM trajectory must be BIT-identical between the Python evaluator
    and the DuckDB oracle: both evaluate the same generated expression
    texts, so every micro-floor (including the ln-free m/u/pi floors)
    matches exactly."""
    import duckdb

    from xlink_spark.operators.linkage import em_oracle_sql, fs_em_weights

    rows = [
        (i, i + 1, i % 3 == 0, i % 4 < 2, (i * 7) % 5 < 2)
        for i in range(0, 400, 2)
    ]
    schema = "id_a long, id_b long, f0 boolean, f1 boolean, f2 boolean"
    vec = spark.createDataFrame(rows, schema)
    got = {
        r["field"]: (
            r["m_micro"], r["u_micro"], r["w_agree_micro"],
            r["w_disagree_micro"], r["pi_micro"],
        )
        for r in fs_em_weights(vec, ["f0", "f1", "f2"], iterations=4).collect()
    }
    con = duckdb.connect()
    con.execute(
        "create table vec as select * from (values "
        + ", ".join(
            f"({a}, {b}, {str(f0).lower()}, {str(f1).lower()}, {str(f2).lower()})"
            for a, b, f0, f1, f2 in rows
        )
        + ") t(id_a, id_b, f0, f1, f2)"
    )
    sql = "with " + em_oracle_sql("vec", ["f0", "f1", "f2"], iterations=4)
    exp = {
        r[0]: tuple(r[1:])
        for r in con.execute(sql).fetchall()
    }
    assert got == exp


def test_fs_em_separates_planted_classes(spark):
    """Two latent classes: matches agree on f0 90% of the time, non-matches
    10% — EM (never shown the labels) must recover m >> u and a positive
    agreement weight."""
    from xlink_spark.operators.linkage import fs_em_weights

    rows = []
    for i in range(100):  # matches
        rows.append((i, i, i % 10 != 0))
    for i in range(300):  # non-matches
        rows.append((1000 + i, 1000 + i, i % 10 == 0))
    vec = spark.createDataFrame(rows, "id_a long, id_b long, f0 boolean")
    [r] = fs_em_weights(vec, ["f0"], iterations=10).collect()
    assert r["m_micro"] > 700_000 and r["u_micro"] < 300_000
    assert r["w_agree_micro"] > 0 > r["w_disagree_micro"]
    assert 100_000 < r["pi_micro"] < 500_000  # ~25% prevalence


def test_fs_em_empty_and_bad_args(spark):
    from xlink_spark.operators.linkage import fs_em_weights

    empty = spark.createDataFrame([], "id_a long, f0 boolean")
    with pytest.raises(ValueError):
        fs_em_weights(empty, ["f0"])
    some = spark.createDataFrame([(1, True)], "id_a long, f0 boolean")
    with pytest.raises(ValueError):
        fs_em_weights(some, [])


def test_fs_em_constant_field_clamped_to_zero_weight(spark):
    """A field that always agrees carries no signal: the clamp keeps EM
    finite and its weights land at exactly 0 (m = u after clamping)."""
    from xlink_spark.operators.linkage import fs_em_weights

    rows = [(i, i + 1, True, i % 3 == 0) for i in range(60)]
    vec = spark.createDataFrame(rows, "id_a long, id_b long, f0 boolean, f1 boolean")
    got = {r["field"]: r for r in fs_em_weights(vec, ["f0", "f1"], iterations=5).collect()}
    assert got["f0"]["w_agree_micro"] == 0
    assert got["f0"]["w_disagree_micro"] == 0
    assert got["f1"]["m_micro"] is not None


def test_global_sort_ranks_range_strategy_identical(spark):
    """The range-partitioned rank path (the 10^12-record shape, no key-
    cardinality assumption) must produce EXACTLY the ranks of the key-
    offset path — on repeated keys, near-unique keys, and tiny inputs
    smaller than the partition count."""
    from xlink_spark.operators.linkage import global_sort_ranks

    df = spark.createDataFrame(RECS, SCHEMA)
    base = {r["id"]: r["rank"] for r in global_sort_ranks(df, "key", ["name"], "id").collect()}
    for np in (1, 2, 8, 64):
        got = {
            r["id"]: r["rank"]
            for r in global_sort_ranks(
                df, "key", ["name"], "id", strategy="range", num_partitions=np
            ).collect()
        }
        assert got == base, np
    # near-unique keys (every record its own key): the keys strategy's
    # assumption breaks down gracefully, range doesn't care — both exact
    uniq = [(i, f"k{i:04d}", f"n{i%7}") for i in range(200)]
    u = spark.createDataFrame(uniq, SCHEMA)
    a = {r["id"]: r["rank"] for r in global_sort_ranks(u, "key", ["name"], "id").collect()}
    b = {
        r["id"]: r["rank"]
        for r in global_sort_ranks(u, "key", ["name"], "id", strategy="range", num_partitions=16).collect()
    }
    assert a == b and sorted(a.values()) == list(range(1, 201))
    with pytest.raises(ValueError):
        global_sort_ranks(u, "key", ["name"], "id", strategy="bogus")


def test_snm_pairs_range_strategy_identical(spark):
    from xlink_spark.operators.linkage import sorted_neighborhood_pairs

    df = spark.createDataFrame(RECS, SCHEMA)
    a = {
        (r["id_a"], r["id_b"], r["dist"])
        for r in sorted_neighborhood_pairs(df, "key", ["name"], "id", window=3).collect()
    }
    b = {
        (r["id_a"], r["id_b"], r["dist"])
        for r in sorted_neighborhood_pairs(
            df, "key", ["name"], "id", window=3, strategy="range"
        ).collect()
    }
    assert a == b


def test_golden_records_rules_and_singletons(spark):
    from xlink_spark.operators.linkage import golden_records

    recs = spark.createDataFrame(
        [
            (1, "ann", "gold", 5),
            (2, "annabel", "gold", 3),
            (3, "ann", "silver", 9),
            (4, "solo", "bronze", 7),   # singleton: not in assignments
            (5, "zz", "gold", 1),
            (6, "zz", "gold", 2),
        ],
        "id long, name string, seg string, nation long",
    )
    asg = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (5, 5), (6, 5)], "node long, component long"
    )
    got = {
        r["cluster"]: (r["n_records"], r["name"], r["seg"], r["nation"])
        for r in golden_records(
            recs, asg, "id",
            {"name": "longest", "seg": "mode", "nation": "min"},
        ).collect()
    }
    # cluster 1: longest name annabel; seg mode gold (2 vs 1); min nation 3
    assert got[1] == (3, "annabel", "gold", 3)
    # singleton keeps its own id as cluster and its own values
    assert got[4] == (1, "solo", "bronze", 7)
    assert got[5] == (2, "zz", "gold", 1)
    assert len(got) == 3


def test_golden_records_mode_tie_breaks_to_smallest(spark):
    from xlink_spark.operators.linkage import golden_records

    recs = spark.createDataFrame(
        [(1, "b"), (2, "a"), (3, "b"), (4, "a")], "id long, seg string"
    )
    asg = spark.createDataFrame([(1, 1), (2, 1), (3, 1), (4, 1)], "node long, component long")
    [r] = golden_records(recs, asg, "id", {"seg": "mode"}).collect()
    assert r["seg"] == "a" and r["n_records"] == 4


def test_golden_records_longest_tie_breaks_to_smallest(spark):
    from xlink_spark.operators.linkage import golden_records

    recs = spark.createDataFrame(
        [(1, "bb"), (2, "aa"), (3, "c")], "id long, name string"
    )
    asg = spark.createDataFrame([(1, 1), (2, 1), (3, 1)], "node long, component long")
    [r] = golden_records(recs, asg, "id", {"name": "longest"}).collect()
    assert r["name"] == "aa"


def test_golden_records_bad_rule(spark):
    from xlink_spark.operators.linkage import golden_records

    recs = spark.createDataFrame([(1, "x")], "id long, name string")
    asg = spark.createDataFrame([], "node long, component long")
    with pytest.raises(ValueError):
        golden_records(recs, asg, "id", {"name": "newest"})


def test_global_sort_ranks_null_keys_survive_both_strategies(spark):
    """A NULL blocking key must rank (nulls first, like the range sort),
    not vanish through the offsets equi-join."""
    from xlink_spark.operators.linkage import global_sort_ranks

    rows = [(1, None, "b"), (2, "k", "a"), (3, None, "a"), (4, "k", "b")]
    df = spark.createDataFrame(rows, SCHEMA)
    a = {r["id"]: r["rank"] for r in global_sort_ranks(df, "key", ["name"], "id").collect()}
    b = {
        r["id"]: r["rank"]
        for r in global_sort_ranks(df, "key", ["name"], "id", strategy="range", num_partitions=3).collect()
    }
    assert a == b == {3: 1, 1: 2, 2: 3, 4: 4}


def test_match_weights_empty_input_and_empty_fields(spark):
    from xlink_spark.operators.linkage import match_weights

    empty = spark.createDataFrame([], VSCHEMA)
    got = match_weights(empty, ["agree_name"], "is_match").collect()
    # zero counts -> smoothed m = u = 1/2 -> weights exactly 0, never NULL
    assert len(got) == 1
    assert got[0]["w_agree_micro"] == 0 and got[0]["w_disagree_micro"] == 0
    with pytest.raises(ValueError):
        match_weights(empty, [], "is_match")


def test_threshold_sweep_exact_counts(spark):
    from xlink_spark.operators.linkage import threshold_sweep

    rows = [
        (10, True), (10, False), (5, True), (5, True), (0, False),
        (0, False), (-3, True),
    ]
    df = spark.createDataFrame(rows, "score long, is_match boolean")
    got = {
        r["score"]: (
            r["tp"], r["fp"], r["precision_micro"], r["recall_micro"],
            r["f1_micro"],
        )
        for r in threshold_sweep(df, "score", "is_match").collect()
    }
    # threshold 10: tp=1 fp=1; total pos=4
    assert got[10] == (1, 1, 500_000, 250_000, 333_333)
    # threshold 5: tp=3 fp=1
    assert got[5] == (3, 1, 750_000, 750_000, 750_000)
    # threshold 0: tp=3 fp=3
    assert got[0] == (3, 3, 500_000, 750_000, 600_000)
    # threshold -3: everything linked
    assert got[-3] == (4, 3, 571_428, 1_000_000, 727_272)
    assert len(got) == 4


def test_u_from_frequencies_exact(spark):
    from xlink_spark.operators.linkage import u_from_frequencies

    rows = [(1, "a", None), (2, "a", None), (3, "b", "x"), (4, "a", "x")]
    df = spark.createDataFrame(rows, "id long, f1 string, f2 string")
    got = {
        r["field"]: (r["u_num"], r["u_den"], r["u_ppm"])
        for r in u_from_frequencies(df, ["f1", "f2"]).collect()
    }
    # f1: a×3 -> 3·2=6, b×1 -> 0; den = 4·3 = 12
    assert got["f1"] == (6, 12, 500_000)
    # f2: NULL×2 agree with each other (null-safe convention), x×2 -> 2+2
    assert got["f2"] == (4, 12, 333_333)
    with pytest.raises(ValueError):
        u_from_frequencies(df, [])


def test_threshold_sweep_zero_positives_yields_null_metrics(spark):
    """No positive labels -> recall/f1 denominators are 0 and both columns
    are NULL on every row (the errors-are-DATA contract, identical on both
    engines); precision stays defined."""
    from xlink_spark.operators.linkage import threshold_sweep

    rows = [(10, False), (5, False)]
    df = spark.createDataFrame(rows, "score long, is_match boolean")
    got = threshold_sweep(df, "score", "is_match").collect()
    # recall is undefined (NULL); f1 = 0/(fp) = 0 — defined and zero on
    # both engines; precision 0
    assert all(r["recall_micro"] is None for r in got)
    assert {r["f1_micro"] for r in got} == {0}
    assert {r["precision_micro"] for r in got} == {0}


def test_multipass_pairs_merges_and_canonicalizes(spark):
    """The same unordered pair surfaces with OPPOSITE orientation in two
    passes (the sort orders reverse ids 3 and 5); without least/greatest
    canonicalization before the merge it would double-count as two rows.
    Pass-2-only pairs pin the recovery property multi-pass SNM exists for."""
    from xlink_spark.operators.linkage import multipass_pairs

    recs = spark.createDataFrame(
        [(5, "a", "b", "x"), (3, "b", "a", "x"), (9, "c", "c", "x")],
        "id long, key string, key2 string, name string",
    )
    got = {
        (r["id_a"], r["id_b"]): (r["n_passes"], r["min_dist"])
        for r in multipass_pairs(
            recs, [("key", ["name"]), ("key2", ["name"])], "id", window=2
        ).collect()
    }
    # pass1 order (key): 5,3,9 -> (5,3),(3,9); pass2 (key2): 3,5,9 ->
    # (3,5),(5,9). Canonical merge:
    assert got == {(3, 5): (2, 1), (3, 9): (1, 1), (5, 9): (1, 1)}


def test_multipass_pairs_empty_passes_raises(spark):
    from xlink_spark.operators.linkage import multipass_pairs

    recs = spark.createDataFrame([(1, "a", "x")], "id long, key string, name string")
    with pytest.raises(ValueError):
        multipass_pairs(recs, [], "id")


def test_fs_decide_band_boundaries_and_null(spark):
    """score >= upper -> match (inclusive), < lower -> non_match
    (exclusive), between -> possible; NULL scores land in possible (review,
    never auto-decide)."""
    from xlink_spark.operators.linkage import fs_decide

    rows = [
        (1, 2_000_000),
        (2, 1_500_000),
        (3, 1_499_999),
        (4, 0),
        (5, -1),
        (6, None),
    ]
    df = spark.createDataFrame(rows, "id long, score_micro long")
    got = {
        r["id"]: r["decision"]
        for r in fs_decide(df, upper_micro=1_500_000, lower_micro=0).collect()
    }
    assert got == {
        1: "match",
        2: "match",
        3: "possible",
        4: "possible",
        5: "non_match",
        6: "possible",
    }


def test_fs_decide_threshold_order_validated(spark):
    from xlink_spark.operators.linkage import fs_decide

    df = spark.createDataFrame([(1, 0)], "id long, score_micro long")
    with pytest.raises(ValueError):
        fs_decide(df, upper_micro=0, lower_micro=1)


def test_pairwise_f1_exact_counts_and_singletons(spark):
    """Hand-counted tp/fp/fn including a record ABSENT from assignments
    (id 4 -> its own singleton via coalesce); metrics are exact integer
    floors."""
    from xlink_spark.operators.linkage import pairwise_f1

    asg = spark.createDataFrame(
        [(1, 100), (2, 100), (3, 300), (5, 100)], "id long, cluster long"
    )
    pairs = spark.createDataFrame(
        [
            (1, 2, True),   # same cluster, match    -> tp
            (1, 3, True),   # diff cluster, match    -> fn
            (1, 4, True),   # 4 is singleton, match  -> fn
            (1, 5, False),  # same cluster, nonmatch -> fp
            (2, 3, False),  # diff cluster, nonmatch -> tn (uncounted)
        ],
        "id_a long, id_b long, is_match boolean",
    )
    [r] = pairwise_f1(asg, pairs).collect()
    assert (r["n_pairs"], r["tp"], r["fp"], r["fn"]) == (5, 1, 1, 2)
    assert r["precision_micro"] == 1_000_000 // 2
    assert r["recall_micro"] == 1_000_000 // 3
    assert r["f1_micro"] == 2_000_000 // 5


def test_pairwise_f1_zero_denominators_yield_null(spark):
    """tp+fp == 0 etc. -> NULL metrics, not a div-by-zero throw (ANSI Spark
    throws where DuckDB yields NULL; the guard makes both agree)."""
    from xlink_spark.operators.linkage import pairwise_f1

    asg = spark.createDataFrame([], "id long, cluster long")
    pairs = spark.createDataFrame(
        [(1, 2, False)], "id_a long, id_b long, is_match boolean"
    )
    [r] = pairwise_f1(asg, pairs).collect()
    assert (r["n_pairs"], r["tp"], r["fp"], r["fn"]) == (1, 0, 0, 0)
    assert r["precision_micro"] is None
    assert r["recall_micro"] is None
    assert r["f1_micro"] is None


def test_meta_blocking_matches_brute_force(spark):
    """Purge → within-block pairs → CBS → WEP strict-mean pruning == the
    brute recomputation, exact integers end to end."""
    import itertools
    from collections import Counter

    from xlink_spark.operators.linkage import meta_blocking_pairs

    rng = random.Random(13)
    mem = list({(rng.randint(1, 40), f"b{rng.randint(1, 12)}") for _ in range(160)})
    mem += [(i, "huge") for i in range(1, 30)]  # purged at cap 8
    mdf = spark.createDataFrame(mem, "id long, block string")

    blocks: dict[str, list[int]] = {}
    for i, b in mem:
        blocks.setdefault(b, []).append(i)
    w: Counter = Counter()
    for b, ids in blocks.items():
        if len(ids) > 8:
            continue
        for x, y in itertools.combinations(sorted(set(ids)), 2):
            w[(x, y)] += 1
    ne, sw = len(w), sum(w.values())
    exp_wep = sorted((x, y, c) for (x, y), c in w.items() if c * ne > sw)
    exp_all = sorted((x, y, c) for (x, y), c in w.items())

    got_wep = sorted(
        (r["id_a"], r["id_b"], r["cbs"])
        for r in meta_blocking_pairs(mdf, max_block_size=8).collect()
    )
    got_all = sorted(
        (r["id_a"], r["id_b"], r["cbs"])
        for r in meta_blocking_pairs(mdf, max_block_size=8, prune="none").collect()
    )
    assert got_wep == exp_wep
    assert got_all == exp_all
    assert len(got_wep) < len(got_all)  # WEP actually pruned something


def test_meta_blocking_validation_and_purity(spark):
    import pytest as _pytest

    from xlink_spark.operators.linkage import meta_blocking_pairs

    mdf = spark.createDataFrame([(1, "a"), (2, "a")], "id long, block string")
    with _pytest.raises(ValueError):
        meta_blocking_pairs(mdf, prune="bogus")
    with _pytest.raises(ValueError):
        meta_blocking_pairs(mdf, max_block_size=1)
    out = meta_blocking_pairs(mdf, max_block_size=16)
    plan = out._jdf.queryExecution().executedPlan().toString()
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert marker not in plan
    assert "CartesianProduct" not in plan  # the mean gate is a broadcast join


def test_soundex_key_classic_vectors(spark):
    """The published classic-Soundex vectors, incl. the H/W rule and the
    first-letter-code adjacency cases, on BOTH engines (the oracle renders
    the same pipeline via soundex_sql)."""
    import duckdb

    from xlink_spark.operators.fuzzy import soundex_key, soundex_sql

    vectors = {
        "Robert": "R163",
        "Rupert": "R163",
        "Ashcraft": "A261",   # H/W rule: s-h-c codes as one 2
        "Ashcroft": "A261",
        "Tymczak": "T522",    # adjacent equal codes collapse
        "Pfister": "P236",    # first-letter code adjacency: F drops
        "Honeyman": "H555",
        "Jackson": "J250",
        "Washington": "W252",
        "Wu": "W000",         # padding
        "a1b": "A100",        # non-alpha stripped
        "": "000",            # degenerate input stays deterministic
    }
    df = spark.createDataFrame([(n,) for n in vectors], ["n"])
    got = {
        r["n"]: r["k"]
        for r in df.select("n", soundex_key("n").alias("k")).collect()
    }
    con = duckdb.connect()
    for name, want in vectors.items():
        assert got[name] == want, name
        sql = con.execute(
            "select " + soundex_sql(f"'{name}'")
        ).fetchone()[0]
        assert sql == want, name


def test_phonetic_candidate_pairs_blocks_and_purge(spark):
    from xlink_spark.operators.linkage import phonetic_candidate_pairs

    rows = [
        (1, "Ashcraft", "x"),
        (2, "Ashcroft", "x"),   # same key as 1 → pair
        (3, "Robert", "x"),
        (4, "Rupert", "x"),     # same key as 3 → pair
        (5, "Robert", "y"),     # same first name, other second → NO pair
    ] + [(100 + i, "Smith", "x") for i in range(6)]  # purged block (cap 5)
    df = spark.createDataFrame(rows, "id long, first string, last string")
    got = sorted(
        (r["id_a"], r["id_b"])
        for r in phonetic_candidate_pairs(
            df, ["first", "last"], "id", max_block_size=5
        ).collect()
    )
    assert got == [(1, 2), (3, 4)]
    # single-column key, no purge: the Smith block pairs all 6
    single = phonetic_candidate_pairs(df, "first", "id").collect()
    smiths = [r for r in single if r["id_a"] >= 100]
    assert len(smiths) == 15
    # Robert/Rupert share R163 regardless of the second field now
    assert (3, 5) in {(r["id_a"], r["id_b"]) for r in single}


def test_mutual_best_matches_one_to_one(spark):
    from xlink_spark.operators.linkage import mutual_best_matches

    scores = spark.createDataFrame(
        [
            # a1's best is b1 (9) and b1's best is a1 → kept
            (1, 10, 9),
            (1, 11, 7),
            (2, 10, 8),   # b=10's best is a1, so (2,10) dies even though
            (2, 11, 6),   # it is a2's best... and (2,11) dies because 11
            (3, 11, 8),   # prefers a3 → (3,11) kept
            # tie on score: partner-id ascending breaks it deterministically
            (4, 20, 5),
            (4, 21, 5),   # a4's best is b20 (lower id); b20 agrees
        ],
        "id_a long, id_b long, s long",
    )
    got = sorted(
        (r["id_a"], r["id_b"])
        for r in mutual_best_matches(scores, "id_a", "id_b", "s").collect()
    )
    assert got == [(1, 10), (3, 11), (4, 20)]
    # one-to-one: no id repeats on either side
    a = [x for x, _ in got]
    b = [y for _, y in got]
    assert len(set(a)) == len(a) and len(set(b)) == len(b)


def test_constraint_audit_semantics(spark):
    from xlink_spark.operators.linkage import constraint_audit

    asg = spark.createDataFrame(
        [(1, 100), (2, 100), (3, 200), (4, 300)], "id long, cluster long"
    )
    cons = spark.createDataFrame(
        [
            ("must", 1, 2),     # same cluster → satisfied
            ("must", 1, 3),     # split → violated
            ("cannot", 1, 3),   # split → satisfied
            ("cannot", 1, 2),   # merged → violated
            ("cannot", 1, 99),  # 99 unassigned → separate → satisfied
        ],
        "kind string, id_a long, id_b long",
    )
    got = {
        (r["kind"], r["id_a"], r["id_b"]): r["satisfied"]
        for r in constraint_audit(asg, cons).collect()
    }
    assert got[("must", 1, 2)] is True
    assert got[("must", 1, 3)] is False
    assert got[("cannot", 1, 3)] is True
    assert got[("cannot", 1, 2)] is False
    assert got[("cannot", 1, 99)] is True


def test_suffix_blocking_pairs(spark):
    from xlink_spark.operators.linkage import suffix_blocking_pairs

    rows = [
        (1, "abcdef"),
        (2, "xbcdef"),   # shares suffixes bcdef, cdef (>= min_len 4) with 1
        (3, "abcdxx"),   # no qualifying shared suffix with 1 or 2
        (4, "abc"),      # shorter than min_len → never blocks
        (5, "zzcdef"),   # shares cdef with 1 and 2
    ]
    df = spark.createDataFrame(rows, "id long, k string")
    got = {
        (r["id_a"], r["id_b"]): r["n_shared"]
        for r in suffix_blocking_pairs(df, "k", "id", min_len=4).collect()
    }
    assert got == {(1, 2): 2, (1, 5): 1, (2, 5): 1}
    # purge: cap 2 kills the 3-member 'cdef' block, keeps 'bcdef'
    purged = {
        (r["id_a"], r["id_b"]): r["n_shared"]
        for r in suffix_blocking_pairs(
            df, "k", "id", min_len=4, max_block_size=2
        ).collect()
    }
    assert purged == {(1, 2): 1}
    # min_len guard
    import pytest as _pytest

    with _pytest.raises(ValueError):
        suffix_blocking_pairs(df, "k", "id", min_len=0)


def test_soundex_matches_independent_procedural_reference(spark):
    """The expression-pipeline Soundex vs a procedurally-coded classic
    Soundex (transparent H/W, vowel code-reset, first-letter adjacency) —
    independent formulations converging pins the pipeline's semantics far
    beyond the published vectors. 300 seeded random strings incl. H/W/Y
    runs and degenerate shapes, checked on Spark AND DuckDB."""
    import random

    import duckdb

    from xlink_spark.operators.fuzzy import soundex_key, soundex_sql

    m = {}
    for chars, d in (("BFPV", "1"), ("CGJKQSXZ", "2"), ("DT", "3"),
                     ("L", "4"), ("MN", "5"), ("R", "6")):
        for c in chars:
            m[c] = d

    def ref(name: str) -> str:
        s = [c for c in name.upper() if c.isalpha()]
        if not s:
            return "000"
        first = s[0]
        out: list[str] = []
        last = m.get(first)
        for c in s[1:]:
            if c in "HW":
                continue  # transparent: the last code carries across
            d = m.get(c)
            if d is None:  # vowel (incl. Y): resets the last code
                last = None
                continue
            if d != last:
                out.append(d)
            last = d
        return first + ("".join(out) + "000")[:3]

    rng = random.Random(20260818)
    alpha = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
    weighted = alpha + "HWY" * 4 + "AEIOU" * 2  # force the tricky runs
    names = ["", "H", "W", "HW", "AAA", "PPPP", "WHW"]
    names += [
        "".join(rng.choice(weighted) for _ in range(rng.randint(1, 12)))
        for _ in range(300)
    ]
    df = spark.createDataFrame([(n,) for n in set(names)], ["n"])
    got = {
        r["n"]: r["k"]
        for r in df.select("n", soundex_key("n").alias("k")).collect()
    }
    con = duckdb.connect()
    for n in set(names):
        want = ref(n)
        assert got[n] == want, (n, got[n], want)
        d = con.execute("select " + soundex_sql(f"'{n}'")).fetchone()[0]
        assert d == want, (n, d, want)


def test_suffix_blocking_brute_parity(spark):
    """Seeded random corpus: operator output (no purge) must equal the
    brute-force shared-suffix count over all pairs."""
    import itertools
    import random

    rng = random.Random(13)
    rows = [
        (i, "".join(rng.choice("abc") for _ in range(rng.randint(0, 8))))
        for i in range(1, 61)
    ]
    min_len = 3

    def sufs(s):
        return {s[i:] for i in range(len(s) - min_len + 1)} if len(s) >= min_len else set()

    want = {}
    for (ia, ka), (ib, kb) in itertools.combinations(rows, 2):
        n = len(sufs(ka) & sufs(kb))
        if n:
            want[(min(ia, ib), max(ia, ib))] = n

    from xlink_spark.operators.linkage import suffix_blocking_pairs

    df = spark.createDataFrame(rows, "id long, k string")
    got = {
        (r["id_a"], r["id_b"]): r["n_shared"]
        for r in suffix_blocking_pairs(df, "k", "id", min_len=min_len).collect()
    }
    assert got == want


def test_mutual_best_brute_parity_with_ties(spark):
    """Seeded random bipartite scores with deliberate ties: operator output
    must equal the brute mutual-best under (score desc, partner id asc)."""
    import random

    rng = random.Random(7)
    pairs = list({(rng.randint(1, 15), rng.randint(100, 112)) for _ in range(80)})
    scored = [(a, b, rng.randint(0, 5)) for a, b in pairs]  # few levels → ties

    def best(items):  # (partner, score) list → chosen partner
        return min(items, key=lambda t: (-t[1], t[0]))[0]

    by_a: dict = {}
    by_b: dict = {}
    for a, b, s in scored:
        by_a.setdefault(a, []).append((b, s))
        by_b.setdefault(b, []).append((a, s))
    want = {
        (a, b)
        for a, b, s in scored
        if best(by_a[a]) == b and best(by_b[b]) == a
    }

    from xlink_spark.operators.linkage import mutual_best_matches

    df = spark.createDataFrame(scored, "id_a long, id_b long, s long")
    got = {
        (r["id_a"], r["id_b"])
        for r in mutual_best_matches(df, "id_a", "id_b", "s").collect()
    }
    assert got == want


def test_new_blocking_plans_are_scale_safe(spark):
    """Plan shapes: phonetic/suffix purge joins broadcast the kept-key
    list, pair generation is an equi-join (never a cartesian product)."""
    from xlink_spark.operators.linkage import (
        phonetic_candidate_pairs,
        suffix_blocking_pairs,
    )

    df = spark.createDataFrame(
        [(i, f"name{i}", "x") for i in range(40)], "id long, a string, b string"
    )
    for out in (
        phonetic_candidate_pairs(df, ["a", "b"], "id", max_block_size=10),
        suffix_blocking_pairs(df, "a", "id", min_len=3, max_block_size=10),
    ):
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan, plan
        assert "BroadcastHashJoin" in plan, plan


def test_constrained_components_semantics(spark):
    from xlink_spark.operators.linkage import (
        constraint_audit,
        constrained_components,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21)], "a long, b long"
    )

    def comps(must=None, cannot=None):
        out = constrained_components(edges, must=must, cannot=cannot)
        return {r["node"]: r["component"] for r in out.collect()}

    # must-link merges nodes no edge connects (orientation-free)
    must = spark.createDataFrame([(11, 1)], "a long, b long")
    c = comps(must=must)
    assert c[10] == c[11] == c[1] == c[2] == c[3]

    # cannot-link removes the direct edge → split
    cannot = spark.createDataFrame([(21, 20)], "a long, b long")
    c = comps(cannot=cannot)
    assert 20 not in c and 21 not in c  # isolated: no edges left

    # transitive violation SURVIVES direct-edge removal (1-3 via 2) —
    # and constraint_audit surfaces it
    cannot13 = spark.createDataFrame([(1, 3)], "a long, b long")
    c = comps(cannot=cannot13)
    assert c[1] == c[3]
    asg = spark.createDataFrame(
        [(int(n), int(x)) for n, x in c.items()], "id long, cluster long"
    )
    aud = constraint_audit(
        asg,
        spark.createDataFrame(
            [("cannot", 1, 3)], "kind string, id_a long, id_b long"
        ),
    ).collect()
    assert aud[0]["satisfied"] is False

    # contradictory must+cannot on the same pair: cannot wins
    both = spark.createDataFrame([(20, 21)], "a long, b long")
    c = comps(must=both, cannot=both)
    assert 20 not in c and 21 not in c


def test_constraint_audit_unassigned_must_is_false_not_null(spark):
    """A must-link with an UNASSIGNED id on either side must be a False
    (violated) row, never NULL — NULL would slip through filter(~satisfied)
    and silently vanish a violated constraint (review finding)."""
    from xlink_spark.operators.linkage import constraint_audit

    asg = spark.createDataFrame([(1, 100)], "id long, cluster long")
    cons = spark.createDataFrame(
        [("must", 1, 99), ("must", 99, 1), ("must", 98, 99)],
        "kind string, id_a long, id_b long",
    )
    rows = constraint_audit(asg, cons).collect()
    assert all(r["satisfied"] is False for r in rows), rows


def test_mutual_best_is_deterministic_under_duplicate_rows(spark):
    """Byte-identical duplicate candidate rows (a union of blocking
    schemes) must not nondeterministically drop a mutual-best pair: the
    operator aggregates to pair grain (max score) first (review finding)."""
    from xlink_spark.operators.linkage import mutual_best_matches

    dup = spark.createDataFrame(
        [(1, 10, 9)] * 4 + [(1, 11, 7), (2, 10, 8), (1, 10, 5)],
        "id_a long, id_b long, s long",
    )
    for _ in range(3):
        got = sorted(
            (r["id_a"], r["id_b"], r["s"])
            for r in mutual_best_matches(dup, "id_a", "id_b", "s").collect()
        )
        assert got == [(1, 10, 9)], got


def test_er_blocking_compare_frontier(spark):
    """The blocking-frontier gauge on real testdata: every scheme catches
    100% of planted twins here, and the reduction-ratio ordering exposes
    the degenerate blocker — Soundex on ID-like names collapses to one
    block (rr exactly 0) while SNM and suffix stay >0.99."""
    import __spark_entry__ as entrymod

    rows = {
        r["scheme"]: r
        for r in entrymod.queries()["er_blocking_compare"](
            spark, "/root/testdata/sf0.001"
        ).collect()
    }
    assert set(rows) == {
        "snm_w4", "phonetic_soundex", "suffix_rev12_cap50", "qgram4_cap50",
        "phonetic_nysiis", "phonetic_caverphone", "allpairs_qgram4_t600",
        "vector_srp48x8", "edjoin_k1_q2",
    }
    # the ninth scheme: exact recall for ANY single-edit corruption with
    # real reduction — comps = the verified ed<=1 pairs (5130 at this sf:
    # twins + digit-neighbor structure), on the frontier's exact corner
    ej = rows["edjoin_k1_q2"]
    assert ej["recall_ppm"] == 1000000
    assert ej["comps"] == 5130
    assert ej["rr_ppm"] > 850000
    for name in ("snm_w4", "phonetic_soundex", "suffix_rev12_cap50",
                 "phonetic_nysiis", "phonetic_caverphone",
                 "allpairs_qgram4_t600"):
        r = rows[name]
        assert r["recall_ppm"] == 1000000
        assert r["twins_covered"] == r["twins_total"] == 150
    n = 300
    assert rows["phonetic_soundex"]["comps"] == n * (n - 1) // 2
    assert rows["phonetic_soundex"]["rr_ppm"] == 0
    # NYSIIS and Caverphone strip digits like Soundex does — the same
    # degenerate corner on ID-like names for the WHOLE phonetic family
    assert rows["phonetic_nysiis"]["comps"] == n * (n - 1) // 2
    assert rows["phonetic_nysiis"]["rr_ppm"] == 0
    assert rows["phonetic_caverphone"]["comps"] == n * (n - 1) // 2
    assert rows["phonetic_caverphone"]["rr_ppm"] == 0
    # exact-recall set-similarity at t=0.6 must keep every pair whose TRUE
    # gram-Jaccard clears t — on dense identifiers that is ALL pairs (the
    # long constant prefix dominates): rr exactly 0, the honest lesson
    # that set-similarity blocking is the wrong scheme for ID-like keys
    assert rows["allpairs_qgram4_t600"]["comps"] == n * (n - 1) // 2
    assert rows["allpairs_qgram4_t600"]["rr_ppm"] == 0
    assert rows["snm_w4"]["rr_ppm"] > 950000
    assert rows["suffix_rev12_cap50"]["rr_ppm"] > 900000
    # qgram on tail-corrupted ID-names: partial recall (the informative
    # grams cluster around the corrupted character — 130/150 measured),
    # good reduction: strictly between Soundex's corner and suffix's 100%
    qg = rows["qgram4_cap50"]
    assert qg["twins_covered"] == 130 and qg["twins_total"] == 150
    assert 0 < qg["recall_ppm"] < 1000000
    assert qg["rr_ppm"] > 900000
    # vector (LSH) blocking on ID-like names: the gram COUNT vectors of
    # any two records share the constant-prefix mass, so band collisions
    # are near-universal — high recall but WEAK reduction (the converse
    # of its word-token showing in vector_blocks): the "corpus-shaped
    # blocker" lesson in one row
    vb = rows["vector_srp48x8"]
    assert vb["recall_ppm"] > 900000
    assert vb["rr_ppm"] < 500000


def test_constrained_components_union_find_parity(spark):
    """Seeded random graphs + random constraints: the constrained CC must
    equal a Python union-find over the same (edges ∪ must) − cannot edge
    set — pins the canonicalization, the union, and the anti-join against
    an independent formulation."""
    import random

    from xlink_spark.operators.linkage import constrained_components

    rng = random.Random(42)
    for _ in range(4):
        nodes = list(range(1, 41))
        edges = list({
            tuple(sorted(rng.sample(nodes, 2))) for _ in range(50)
        })
        must = list({tuple(sorted(rng.sample(nodes, 2))) for _ in range(6)})
        cannot = list({tuple(sorted(rng.sample(nodes, 2))) for _ in range(8)})

        kept = {e for e in {*edges, *must}} - set(cannot)
        parent = {n: n for n in nodes}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in kept:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        want = {
            n: find(n)
            for n in nodes
            if any(n in e for e in kept)  # CC emits only edge-touched nodes
        }
        # min-label convention: relabel each class by its minimum member
        classes: dict = {}
        for n, r in want.items():
            classes.setdefault(r, []).append(n)
        want = {
            n: min(members)
            for members in classes.values()
            for n in members
        }

        got = {
            r["node"]: r["component"]
            for r in constrained_components(
                spark.createDataFrame(edges, "a long, b long"),
                must=spark.createDataFrame(must, "a long, b long"),
                cannot=spark.createDataFrame(cannot, "a long, b long"),
            ).collect()
        }
        assert got == want


# --------------------------------------------------------- chain-merge repair
def _repair_frames(spark, score_rows, strong_rows):
    sc = spark.createDataFrame(
        score_rows, "id_a long, id_b long, score_micro long"
    )
    st = spark.createDataFrame(
        strong_rows, "id_a long, id_b long, score_micro long"
    )
    return sc, st


def _asg(df):
    return {r["node"]: (r["component"], r["was_flagged"]) for r in df.collect()}


def test_repair_splits_chain_on_strong_rejection(spark):
    """A-B-C chain glued by transitivity with A-C rejected: the strong
    comparator keeps A-B and rejects B-C, so the repair splits the
    cluster into {A,B} and {C}."""
    from xlink_spark.operators.linkage import repair_chain_merges

    sc, st = _repair_frames(
        spark,
        [(1, 2, 5), (2, 3, 4), (1, 3, -7)],
        [(1, 2, 9), (2, 3, -9), (1, 3, -9)],
    )
    out = _asg(repair_chain_merges(sc, st))
    assert out == {1: (1, True), 2: (1, True), 3: (3, True)}


def test_repair_untouched_cluster_is_bit_identical(spark):
    """A cluster with no interior rejected pair keeps membership, label,
    and was_flagged=False even when the strong comparator would have
    rejected its edges (it is never consulted)."""
    from xlink_spark.operators.cluster import connected_components
    from xlink_spark.operators.linkage import repair_chain_merges

    import pyspark.sql.functions as F

    sc, st = _repair_frames(
        spark,
        [(10, 11, 3), (11, 12, 3), (1, 2, 5), (2, 3, 4), (1, 3, -7)],
        [(1, 2, 9)],  # no strong rows for the clean cluster or for 2-3
    )
    out = _asg(repair_chain_merges(sc, st))
    assert out[10] == (10, False)
    assert out[11] == (10, False)
    assert out[12] == (10, False)
    # flagged cluster: only 1-2 survives (2-3 has no strong row -> pruned)
    assert out[1] == (1, True) and out[2] == (1, True) and out[3] == (3, True)
    # unflagged labels equal plain CC labels over the base edges
    base = connected_components(
        sc.filter("score_micro >= 0").select(
            F.col("id_a").alias("src"), F.col("id_b").alias("dst")
        )
    )
    base_map = {r["node"]: r["component"] for r in base.collect()}
    for n in (10, 11, 12):
        assert out[n][0] == base_map[n]


def test_repair_no_flagged_clusters_is_identity(spark):
    from xlink_spark.operators.linkage import repair_chain_merges

    sc, st = _repair_frames(
        spark, [(1, 2, 5), (2, 3, 4)], [(1, 2, -9), (2, 3, -9)]
    )
    out = _asg(repair_chain_merges(sc, st))
    assert out == {1: (1, False), 2: (1, False), 3: (1, False)}


def test_repair_orientation_and_duplicate_strong_rows(spark):
    """Pairs arrive in either orientation; duplicate strong rows take the
    conservative (min) verdict."""
    from xlink_spark.operators.linkage import repair_chain_merges

    sc, st = _repair_frames(
        spark,
        [(2, 1, 5), (3, 2, 4), (3, 1, -7)],
        [(1, 2, 9), (2, 1, 9), (2, 3, 9), (3, 2, -9)],
    )
    out = _asg(repair_chain_merges(sc, st))
    # 2-3 has strong rows {9, -9} -> min -9 -> pruned
    assert out == {1: (1, True), 2: (1, True), 3: (3, True)}


def test_repair_is_always_a_refinement(spark):
    """Random graphs: every repaired component is a subset of a base
    component (repair only removes edges), and unflagged components are
    untouched."""
    import random

    from pyspark.sql import functions as F

    from xlink_spark.operators.cluster import connected_components
    from xlink_spark.operators.linkage import repair_chain_merges

    rng = random.Random(7)
    n = 40
    rows = []
    seen = set()
    for _ in range(120):
        a, b = rng.randrange(n), rng.randrange(n)
        if a == b:
            continue
        lo, hi = min(a, b), max(a, b)
        if (lo, hi) in seen:
            continue
        seen.add((lo, hi))
        rows.append((lo, hi, rng.randrange(-10, 11)))
    strong = [(a, b, rng.randrange(-10, 11)) for (a, b, _) in rows]
    sc, st = _repair_frames(spark, rows, strong)
    out = _asg(repair_chain_merges(sc, st))
    base = connected_components(
        sc.filter("score_micro >= 0").select(
            F.col("id_a").alias("src"), F.col("id_b").alias("dst")
        )
    )
    base_map = {r["node"]: r["component"] for r in base.collect()}
    assert set(out) == set(base_map)
    # refinement: co-clustered after => co-clustered before
    nodes = sorted(out)
    for i, x in enumerate(nodes):
        for y in nodes[i + 1 :]:
            if out[x][0] == out[y][0]:
                assert base_map[x] == base_map[y]
    # unflagged => identical label
    for node, (comp, flagged) in out.items():
        if not flagged:
            assert comp == base_map[node]


def test_nysiis_key_classic_vectors(spark):
    """The standard NYSIIS vectors (head/tail rules, vowel collapse, the
    contextual H/W rules incl. the first-char boundary, run dedupe, tail
    cleanup) on BOTH engines — the oracle renders the same global-rewrite
    chain via nysiis_sql."""
    import duckdb

    from xlink_spark.operators.fuzzy import nysiis_key, nysiis_sql

    vectors = {
        "MACINTOSH": "MCANT",   # ^MAC → MCC
        "KNUTH": "NAT",         # ^KN → NN, tail DT-family, vowel → A
        "KOEHN": "CAN",         # ^K → C
        "PHILLIPSON": "FALAPS", # ^PH → FF, truncate 6
        "PFEISTER": "FASTAR",   # ^PF → FF
        "SCHOENHOEFT": "SANAFT",# ^SCH → SSS, H between non-vowels
        "MCKEE": "MCY",         # tail EE → Y, body K → C
        "MACKIE": "MCY",        # tail IE → Y — collides with MCKEE
        "HEITSCHMIDT": "HATSNA",
        "BART": "BAD",          # tail RT → D
        "HURD": "HAD",          # tail RD → D
        "HUNT": "HAD",          # tail NT → D — collides with HURD
        "WESTERLUND": "WASTAR",
        "CASSTEVENS": "CASTAF", # EV → AF, SS run collapses
        "VASQUEZ": "VASG",      # Q → G, Z → S, trailing S dropped
        "FRAZIER": "FRASAR",
        "BOWMAN": "BANAN",      # AW → AA, M → N
        "MCDONALD": "MCDANA",
        "WHITTEMORE": "WATANA", # H after first-char consonant (boundary)
        "EATON": "EATAN",       # vowel first char is NOT collapsed
        "OWENS": "OAN",         # W after vowel first char (boundary)
        "LLOYD": "LAYD",        # leading run dedupes across the boundary
        "AARON": "ARAN",
        "EVANS": "EVAN",        # EV applies in the BODY only
        "K2n-u+th9": "NAT",     # non-alpha stripped before everything
        "": "",                 # degenerate input stays deterministic
    }
    df = spark.createDataFrame([(n,) for n in vectors], ["n"])
    got = {
        r["n"]: r["k"]
        for r in df.select("n", nysiis_key("n").alias("k")).collect()
    }
    con = duckdb.connect()
    for name, want in vectors.items():
        assert got[name] == want, (name, got[name], want)
        sql = con.execute("select " + nysiis_sql(f"'{name}'")).fetchone()[0]
        assert sql == want, (name, sql, want)


def test_nysiis_matches_independent_procedural_reference(spark):
    """Cross-engine NYSIIS parity beyond the pinned vectors: a procedural
    per-step reference (explicit first/body split, scan-prefix H/W rules,
    explicit boundary dedupe and guarded tail rules — structured like the
    textbook scan, NOT like the expression chain) against nysiis_key on
    Spark AND nysiis_sql on DuckDB, over seeded random words weighted
    toward the tricky H/W/vowel shapes."""
    import random
    import re
    import string

    import duckdb

    from xlink_spark.operators.fuzzy import nysiis_key, nysiis_sql

    def ref(name: str, truncate: int = 6) -> str:
        u = re.sub("[^A-Za-z]", "", name).upper()
        if not u:
            return ""
        for p, r in [("^MAC", "MCC"), ("^KN", "NN"), ("^K", "C"),
                     ("^PH", "FF"), ("^PF", "FF"), ("^SCH", "SSS")]:
            u = re.sub(p, r, u)
        u = re.sub("(EE|IE)$", "Y", u)
        u = re.sub("(DT|RT|RD|NT|ND)$", "D", u)
        first, body = u[0], u[1:]
        body = body.replace("EV", "AF")
        body = body.translate(str.maketrans("EIOU", "AAAA"))
        body = body.translate(str.maketrans("QZM", "GSN"))
        body = body.replace("KN", "N").replace("K", "C")
        body = body.replace("SCH", "SSS").replace("PH", "FF")
        fnorm = "A" if first in "AEIOU" else first
        scan = fnorm + body
        scan = re.sub("([^A])H", r"\1\1", scan)
        scan = re.sub("([A-Z])H([^A])", r"\1\1\2", scan)
        scan = scan.replace("AW", "AA")
        body = scan[1:]
        for c in string.ascii_uppercase:
            body = re.sub(c + "+", c, body)
        if body and body[0] == first:
            body = body[1:]
        key = first + body
        if len(key) > 1:
            key = re.sub("S$", "", key)
        key = re.sub("AY$", "Y", key)
        k2 = re.sub("A+$", "", key)
        key = k2 if k2 else key[0]
        return key[:truncate] if truncate else key

    rng = random.Random(20260819)
    weighted = string.ascii_uppercase + "HW" * 4 + "AEIOU" * 3
    names = ["", "H", "W", "K", "S", "AAA", "BSS", "BAY", "QH", "ZH", "MH"]
    names += [
        "".join(rng.choice(weighted) for _ in range(rng.randint(1, 14)))
        for _ in range(300)
    ]
    df = spark.createDataFrame([(n,) for n in set(names)], ["n"])
    got = {
        r["n"]: r["k"]
        for r in df.select("n", nysiis_key("n").alias("k")).collect()
    }
    con = duckdb.connect()
    for n in set(names):
        want = ref(n)
        assert got[n] == want, (n, got[n], want)
        d = con.execute("select " + nysiis_sql(f"'{n}'")).fetchone()[0]
        assert d == want, (n, d, want)


def test_caverphone_key_published_vectors(spark):
    """Caverphone 2.0 (Hood 2004) on BOTH engines against the published
    vectors — including the spec's designed Stevenson/Stephenson
    collision — plus degenerate inputs. The oracle renders the same
    replacement chain via caverphone_sql."""
    import duckdb

    from xlink_spark.operators.fuzzy import caverphone_key, caverphone_sql

    vectors = {
        "Peter": "PTA1111111",        # the paper's worked example
        "Stevenson": "STFNSN1111",    # the paper's worked example
        "Stephenson": "STFNSN1111",   # designed collision with Stevenson
        "Thompson": "TMPSN11111",
        "Lee": "LA11111111",          # final-e drop, trailing vowel → A
        "Knight": "KNT1111111",       # gh → 22 → dropped
        "Wright": "RT11111111",       # initial w before consonant → 2
        "Whitney": "WTNA111111",      # wh3 keeps the W
        "Cough": "KF11111111",        # ^cough head rule
        "Enough": "ANF1111111",       # ^enough head rule, initial vowel
        "Lamb": "LM11111111",         # mb$ tail rule
        "": "1111111111",             # degenerate input: all-pad key
        "42!": "1111111111",          # non-alpha stripped first
    }
    df = spark.createDataFrame([(n,) for n in vectors], ["n"])
    got = {
        r["n"]: r["k"]
        for r in df.select("n", caverphone_key("n").alias("k")).collect()
    }
    con = duckdb.connect()
    for name, want in vectors.items():
        assert got[name] == want, (name, got[name], want)
        sql = con.execute("select " + caverphone_sql(f"'{name}'")).fetchone()[0]
        assert sql == want, (name, sql, want)


def test_caverphone_matches_independent_procedural_reference(spark):
    """Cross-engine Caverphone 2.0 parity beyond the pinned vectors: a
    procedural reference coded straight from the spec with plain str
    operations (startswith/endswith slicing, str.replace, explicit run
    collapses — NO regex, NO shared rule table) against caverphone_key on
    Spark AND caverphone_sql on DuckDB, over seeded random words weighted
    toward the gh/ough/wh/mb/tch cluster shapes the scheme special-cases.
    str.replace and global regex replacement share left-to-right
    non-overlapping semantics, so agreement here pins the chain's
    confluence, not just easy inputs."""
    import random
    import string

    import duckdb

    from xlink_spark.operators.fuzzy import caverphone_key, caverphone_sql

    def ref(name: str) -> str:
        t = "".join(ch for ch in name.lower() if "a" <= ch <= "z")
        if t.endswith("e"):
            t = t[:-1]
        for head in ("cough", "rough", "tough", "enough", "trough"):
            if t.startswith(head):
                t = head[:-2] + "2f" + t[len(head):]
        if t.startswith("gn"):
            t = "2n" + t[2:]
        if t.endswith("mb"):
            t = t[:-1] + "2"
        for a, b in (("cq", "2q"), ("ci", "si"), ("ce", "se"),
                     ("cy", "sy"), ("tch", "2ch"), ("c", "k"), ("q", "k"),
                     ("x", "k"), ("v", "f"), ("dg", "2g"), ("tio", "sio"),
                     ("tia", "sia"), ("d", "t"), ("ph", "fh"), ("b", "p"),
                     ("sh", "s2"), ("z", "s")):
            t = t.replace(a, b)
        if t[:1] in ("a", "e", "i", "o", "u"):
            t = "A" + t[1:]
        t = "".join("3" if ch in "aeiou" else ch for ch in t)
        t = t.replace("j", "y")
        if t.startswith("y3"):
            t = "Y3" + t[2:]
        if t.startswith("y"):
            t = "A" + t[1:]
        t = t.replace("y", "3")
        t = t.replace("3gh3", "3kh3").replace("gh", "22").replace("g", "k")
        for ch in "stpkfmn":
            out, i = [], 0
            while i < len(t):
                if t[i] == ch:
                    while i < len(t) and t[i] == ch:
                        i += 1
                    out.append(ch.upper())
                else:
                    out.append(t[i])
                    i += 1
            t = "".join(out)
        t = t.replace("w3", "W3").replace("wh3", "Wh3")
        if t.endswith("w"):
            t = t[:-1] + "3"
        t = t.replace("w", "2")
        if t.startswith("h"):
            t = "A" + t[1:]
        t = t.replace("h", "2")
        t = t.replace("r3", "R3")
        if t.endswith("r"):
            t = t[:-1] + "3"
        t = t.replace("r", "2")
        t = t.replace("l3", "L3")
        if t.endswith("l"):
            t = t[:-1] + "3"
        t = t.replace("l", "2")
        t = t.replace("2", "")
        if t.endswith("3"):
            t = t[:-1] + "A"
        t = t.replace("3", "")
        return (t + "1" * 10)[:10]

    rng = random.Random(20260819)
    weighted = string.ascii_lowercase + "gh" * 6 + "wmbtc" * 3 + "aeiou" * 4
    names = ["", "h", "w", "y", "gn", "mb", "enought", "troughs",
             "coughing", "yay", "wha", "awe", "chghch", "3gh3"]
    names += [
        "".join(rng.choice(weighted) for _ in range(rng.randint(1, 14)))
        for _ in range(300)
    ]
    df = spark.createDataFrame([(n,) for n in set(names)], ["n"])
    got = {
        r["n"]: r["k"]
        for r in df.select("n", caverphone_key("n").alias("k")).collect()
    }
    con = duckdb.connect()
    for n in set(names):
        want = ref(n)
        assert got[n] == want, (n, got[n], want)
        d = con.execute("select " + caverphone_sql(f"'{n}'")).fetchone()[0]
        assert d == want, (n, d, want)


def test_phonetic_candidate_pairs_caverphone_scheme(spark):
    """scheme='caverphone' blocks on Caverphone 2.0 keys: the designed
    Stevenson/Stephenson fold collides, while the 10-char width keeps
    longer tails apart that Soundex's 4-char truncation folds."""
    from xlink_spark.operators.linkage import phonetic_candidate_pairs

    rows = [
        (1, "Stevenson"),   # CV STFNSN1111, Soundex S315
        (2, "Stephenson"),  # CV STFNSN1111 (collides), Soundex S315
        (3, "Stevensonia"), # CV STFNSNA111 (splits), Soundex S315 (folds)
    ]
    df = spark.createDataFrame(rows, ["id", "name"])
    sdx = {
        (r["id_a"], r["id_b"])
        for r in phonetic_candidate_pairs(df, "name", "id").collect()
    }
    cav = {
        (r["id_a"], r["id_b"])
        for r in phonetic_candidate_pairs(
            df, "name", "id", scheme="caverphone"
        ).collect()
    }
    assert sdx == {(1, 2), (1, 3), (2, 3)}  # 4-char Soundex folds all
    assert cav == {(1, 2)}                  # the designed collision only


def test_phonetic_candidate_pairs_nysiis_scheme(spark):
    """scheme='nysiis' blocks on NYSIIS keys (finer than Soundex where the
    vowel shape differs), and an unknown scheme fails fast."""
    import pytest

    from xlink_spark.operators.linkage import phonetic_candidate_pairs

    rows = [
        (1, "Diane"),    # Soundex D500, NYSIIS DAN
        (2, "Dwayne"),   # Soundex D500 (collides), NYSIIS DWAYN (splits)
        (3, "Dian"),     # NYSIIS DAN — pairs with 1 under both schemes
    ]
    df = spark.createDataFrame(rows, ["id", "name"])
    sdx = {
        (r["id_a"], r["id_b"])
        for r in phonetic_candidate_pairs(df, "name", "id").collect()
    }
    nys = {
        (r["id_a"], r["id_b"])
        for r in phonetic_candidate_pairs(
            df, "name", "id", scheme="nysiis"
        ).collect()
    }
    assert (1, 3) in sdx and (1, 2) in sdx  # Soundex folds the vowel shape
    assert nys == {(1, 3)}                  # NYSIIS keeps it apart
    with pytest.raises(ValueError, match="unknown phonetic scheme"):
        phonetic_candidate_pairs(df, "name", "id", scheme="metaphone")


def test_allpairs_jaccard_matches_brute_force(spark):
    """Exact-recall property of the prefix filter for ALL THREE measures:
    on seeded random token sets, allpairs_jaccard_pairs equals the
    brute-force similarity join at every threshold — the prefix (and the
    per-measure length filter) is candidate PRUNING only."""
    import random

    from xlink_spark.operators.linkage import allpairs_jaccard_pairs

    rng = random.Random(20260819)
    vocab = [f"t{i}" for i in range(30)]
    rows = [(i, rng.sample(vocab, rng.randint(0, 7))) for i in range(100)]
    df = spark.createDataFrame(rows, ["id", "toks"])

    def qualifies(measure, t, o, na, nb):
        if measure == "jaccard":
            return 1000 * o >= t * (na + nb - o)
        if measure == "cosine":
            return 10**6 * o * o >= t * t * na * nb
        return 2000 * o >= t * (na + nb)

    for measure in ("jaccard", "cosine", "dice"):
        for t in (250, 500, 750, 1000):
            got = {
                (r["id_a"], r["id_b"]): (r["n_shared"], r["n_a"], r["n_b"])
                for r in allpairs_jaccard_pairs(
                    df, "toks", "id", threshold_ppt=t, measure=measure
                ).collect()
            }
            brute = {}
            for i, ta in rows:
                for j, tb in rows:
                    if i >= j:
                        continue
                    sa, sb = set(ta), set(tb)
                    if not sa or not sb:
                        continue
                    inter = len(sa & sb)
                    if inter and qualifies(measure, t, inter, len(sa), len(sb)):
                        brute[(i, j)] = (inter, len(sa), len(sb))
            assert got == brute, (measure, t, set(brute) ^ set(got))


def test_allpairs_jaccard_duplicates_empty_and_validation(spark):
    """Token multiplicity is ignored (DISTINCT-token Jaccard), empty sets
    never pair, and an out-of-range threshold fails fast."""
    import pytest

    from xlink_spark.operators.linkage import allpairs_jaccard_pairs

    rows = [
        (1, ["a", "a", "b", "b"]),  # distinct {a,b}
        (2, ["a", "b"]),            # identical set -> J=1
        (3, []),                    # never pairs
        (4, ["a"]),                 # J with 1,2 = 1/2
    ]
    df = spark.createDataFrame(rows, ["id", "toks"])
    got = {
        (r["id_a"], r["id_b"]): r["n_shared"]
        for r in allpairs_jaccard_pairs(df, "toks", "id", threshold_ppt=500).collect()
    }
    assert got == {(1, 2): 2, (1, 4): 1, (2, 4): 1}
    for bad in (0, 1001, -5):
        with pytest.raises(ValueError, match="threshold_ppt"):
            allpairs_jaccard_pairs(df, "toks", "id", threshold_ppt=bad)
    with pytest.raises(ValueError, match="unknown measure"):
        allpairs_jaccard_pairs(
            df, "toks", "id", threshold_ppt=500, measure="overlap"
        )


def test_allpairs_prefix_purge_is_a_recall_knob(spark):
    """max_block_size purges oversized prefix-token blocks: pairs whose
    ONLY shared prefix token is purged are lost (the documented caveat),
    pairs reachable through a surviving rare token stay."""
    from xlink_spark.operators.linkage import allpairs_jaccard_pairs

    # 12 records all sharing hot 'h'; two also share rare 'r'. At t=333
    # every cross pair qualifies ({h,x} vs {h,y}: J = 1/3), and a 2-token
    # set's prefix is the whole set (p = 2 - 1 + 1 = 2).
    rows = [(i, ["h", f"u{i}"]) for i in range(10)]
    rows += [(100, ["h", "r"]), (101, ["h", "r"])]
    df = spark.createDataFrame(rows, ["id", "toks"])
    full = {
        (r["id_a"], r["id_b"])
        for r in allpairs_jaccard_pairs(df, "toks", "id", threshold_ppt=333).collect()
    }
    assert (100, 101) in full and len(full) == 66  # all C(12,2) qualify
    purged = {
        (r["id_a"], r["id_b"])
        for r in allpairs_jaccard_pairs(
            df, "toks", "id", threshold_ppt=333, max_block_size=4
        ).collect()
    }
    assert purged == {(100, 101)}  # only the rare-token pair survives


def test_allpairs_jaccard_plan_has_no_python_udf(spark):
    """The whole operator is JVM-side: no BatchEvalPython/ArrowEvalPython
    nodes in the physical plan."""
    from xlink_spark.operators.linkage import allpairs_jaccard_pairs

    df = spark.createDataFrame([(1, ["a", "b"]), (2, ["b", "c"])], ["id", "toks"])
    plan = (
        allpairs_jaccard_pairs(df, "toks", "id", threshold_ppt=500)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_group_linkage_textbook(spark):
    """The On et al. GES semantics on a worked example: mutual-best
    alignment inside each group pair, unmatched members dilute the
    normalized score, within-group pairs contribute nothing, and record
    orientation does not matter."""
    from xlink_spark.operators.linkage import group_linkage_scores

    groups = spark.createDataFrame(
        [(1, "A"), (2, "A"), (3, "A"), (11, "B"), (12, "B"), (13, "B"),
         (21, "C")],
        ["id", "group"],
    )
    pairs = spark.createDataFrame(
        [(1, 11, 900), (2, 12, 850), (3, 13, 400), (1, 12, 700),
         (1, 21, 950), (2, 3, 999)],
        ["id_a", "id_b", "sim_ppt"],
    )
    out = {
        (r["group_a"], r["group_b"]): r.asDict()
        for r in group_linkage_scores(pairs, groups).collect()
    }
    assert set(out) == {("A", "B"), ("A", "C")}  # 2-3 is within-group
    ab = out[("A", "B")]
    assert ab["n_matched"] == 3 and ab["sum_sim_ppt"] == 2150
    assert ab["ges_ppt"] == 2150 // 3  # |A|+|B|-|M| = 3
    ac = out[("A", "C")]
    assert ac["n_matched"] == 1 and ac["ges_ppt"] == 950 // 3  # diluted
    rev = pairs.selectExpr("id_b as id_a", "id_a as id_b", "sim_ppt")
    out2 = {
        (r["group_a"], r["group_b"]): (r["n_matched"], r["sum_sim_ppt"])
        for r in group_linkage_scores(rev, groups).collect()
    }
    assert out2 == {
        k: (v["n_matched"], v["sum_sim_ppt"]) for k, v in out.items()
    }
    kept = group_linkage_scores(pairs, groups, min_ges_ppt=500).collect()
    assert {(r["group_a"], r["group_b"]) for r in kept} == {("A", "B")}


def test_group_linkage_matches_procedural_reference(spark):
    """Seeded random group structures + sims against a per-group-pair
    procedural replica of pair-grain max → mutual-best → GES."""
    import random
    from collections import defaultdict

    from xlink_spark.operators.linkage import group_linkage_scores

    rng = random.Random(20260819)
    gids = {i: f"g{rng.randint(0, 11)}" for i in range(60)}
    raw = [
        (rng.randint(0, 59), rng.randint(0, 59), rng.randint(1, 1000))
        for _ in range(400)
    ]
    raw = [(a, b, s) for a, b, s in raw if a != b]
    groups = spark.createDataFrame(sorted(gids.items()), ["id", "group"])
    pairs = spark.createDataFrame(raw, ["id_a", "id_b", "sim_ppt"])

    # replica
    best = {}
    for a, b, s in raw:
        ga, gb = gids[a], gids[b]
        if ga == gb:
            continue
        if ga > gb:
            ga, gb, a, b = gb, ga, b, a
        k = (ga, gb, a, b)
        best[k] = max(best.get(k, 0), s)
    per_gp = defaultdict(list)
    for (ga, gb, a, b), s in best.items():
        per_gp[(ga, gb)].append((a, b, s))
    sizes = defaultdict(int)
    for _, g in gids.items():
        sizes[g] += 1
    want = {}
    for gp, rows in per_gp.items():
        best_a, best_b = {}, {}
        for a, b, s in rows:
            ka, kb = (-s, b), (-s, a)
            if a not in best_a or ka < best_a[a][0]:
                best_a[a] = (ka, b)
            if b not in best_b or kb < best_b[b][0]:
                best_b[b] = (kb, a)
        matched = [
            (a, b, s)
            for a, b, s in rows
            if best_a[a][1] == b and best_b[b][1] == a
        ]
        if matched:
            tot = sum(s for _, _, s in matched)
            m = len(matched)
            ga, gb = gp
            want[gp] = (
                m, tot,
                tot // (sizes[ga] + sizes[gb] - m),
            )
    got = {
        (r["group_a"], r["group_b"]): (
            r["n_matched"], r["sum_sim_ppt"], r["ges_ppt"]
        )
        for r in group_linkage_scores(pairs, groups).collect()
    }
    assert got == want


def test_group_linkage_ges_fixture_story(spark):
    """The driver fixture's planted structure holds: every twin record
    pair survives the t=0.6 join (J = 3/5 exactly), twin GROUPS score
    GES 600 (all five members matched at sim 600), and the GES ranking
    is twin-groups-first."""
    import __spark_entry__ as entrymod

    pairs = entrymod.queries()["allpairs_name_blocks"](
        spark, "/root/testdata/sf0.001"
    )
    n_clean = pairs.sparkSession.read.parquet(
        "/root/testdata/sf0.001/part.parquet"
    ).filter("p_partkey % 3 = 0").count()
    twins = pairs.filter("is_twin").collect()
    assert len(twins) == n_clean  # every planted twin survives
    assert all(r["n_shared"] == 3 and r["n_a"] == 4 for r in twins)

    ges = entrymod.queries()["group_linkage_ges"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    twin_groups = [r for r in ges if r["is_twin_group"]]
    other = [r for r in ges if not r["is_twin_group"]]
    assert twin_groups and all(r["ges_ppt"] == 600 for r in twin_groups)
    assert max((r["ges_ppt"] for r in other), default=0) < 600


def test_soft_tfidf_hand_computed_and_typo_tolerance(spark):
    """Soft-TFIDF (Cohen et al. 2003) against hand-computed floor-micro
    arithmetic: milli-floored ln idf weights, exact bigint norms, the
    best-JW partner per left token, one floored division per term. The
    typo token ('acme' vs 'acmee') keeps ~96% of its contribution where
    exact-token TFIDF cosine would drop it entirely; pairs with no
    θ-close token survive as explicit zero rows."""
    import math

    from pyspark.sql import functions as F

    from xlink_spark.operators.fuzzy import jaro_winkler_micro
    from xlink_spark.operators.linkage import soft_tfidf_scores

    toks = spark.createDataFrame(
        [
            (1, "customer"), (1, "acme"), (1, "north"),
            (2, "customer"), (2, "acmee"), (2, "north"),
            (3, "customer"), (3, "zeta"),
            (4, "supplier"), (4, "omega"),
        ],
        ["id", "tok"],
    )
    pairs = spark.createDataFrame([(1, 2), (1, 3), (1, 4)], ["id_a", "id_b"])
    out = {
        (r["id_a"], r["id_b"]): (r["n_close"], r["soft_tfidf_micro"])
        for r in soft_tfidf_scores(pairs, toks).collect()
    }

    jw = (
        spark.range(1)
        .select(jaro_winkler_micro(F.lit("acme"), F.lit("acmee")).alias("j"))
        .collect()[0]["j"]
    )
    N = 4

    def wmil(df):
        return math.floor(1000.0 * math.log(1.0 + N / df))

    w_cust, w_rare, w_north = wmil(3), wmil(1), wmil(2)
    n2 = w_cust**2 + w_rare**2 + w_north**2  # both sides identical here
    terms = [
        math.floor(w_cust * w_cust * 1000000 / (math.sqrt(n2) * math.sqrt(n2))),
        math.floor(w_rare * w_rare * jw / (math.sqrt(n2) * math.sqrt(n2))),
        math.floor(w_north * w_north * 1000000 / (math.sqrt(n2) * math.sqrt(n2))),
    ]
    assert out[(1, 2)] == (3, sum(terms))
    assert out[(1, 2)][1] > 950_000  # typo twin stays a near-match
    assert out[(1, 4)] == (0, 0)  # zero-overlap pair survives as 0
    assert out[(1, 3)][0] == 1  # only 'customer' is θ-close


def test_bloom_encode_matches_independent_reference(spark):
    """PPRL Bloom encodings (pprl.bloom_encode, Schnell et al. 2009)
    against an independently-coded pure-python CLK: padded bigrams, k=4
    double-hashed md5 positions, 256-bit filter — bit-for-bit identical
    words (two's-complement signed longs), exact popcounts; Dice ranks
    the typo twin above the stranger and identical strings at 1000."""
    import hashlib

    from xlink_spark.operators.pprl import bloom_dice_scores, bloom_encode

    recs = spark.createDataFrame(
        [(1, "Smith"), (2, "Smyth"), (3, "Johnson"), (4, "Smith")],
        ["id", "text"],
    )
    enc = bloom_encode(recs, "id", "text")
    rows = {r["id"]: r for r in enc.collect()}

    def ref_bits(s, m=256, k=4):
        s = "_" + s.lower() + "_"
        grams = {s[i : i + 2] for i in range(len(s) - 1)}
        bits = set()
        for g in grams:
            h = hashlib.md5(g.encode()).hexdigest()
            h1, h2 = int(h[:8], 16), int(h[8:16], 16)
            for i in range(k):
                bits.add((h1 + i * h2) % m)
        return bits

    for i, s in [(1, "Smith"), (2, "Smyth"), (3, "Johnson"), (4, "Smith")]:
        bits = ref_bits(s)
        words = [0, 0, 0, 0]
        for b in bits:
            words[b // 64] |= 1 << (b % 64)
        signed = [w - (1 << 64) if w >= (1 << 63) else w for w in words]
        assert [rows[i][f"w{j}"] for j in range(4)] == signed, (i, s)
        assert rows[i]["nbits"] == len(bits)

    pairs = spark.createDataFrame([(1, 2), (1, 3), (1, 4)], ["id_a", "id_b"])
    d = {
        (r["id_a"], r["id_b"]): r["dice_ppt"]
        for r in bloom_dice_scores(pairs, enc).collect()
    }
    assert d[(1, 4)] == 1000
    assert d[(1, 2)] > d[(1, 3)]

    import pytest as _pytest

    with _pytest.raises(ValueError, match="multiple of 64"):
        bloom_encode(recs, "id", "text", m_bits=100)
    with _pytest.raises(ValueError, match="k must"):
        bloom_encode(recs, "id", "text", k=0)


def test_hlsh_candidate_pairs_blocks_on_encodings_only(spark):
    """Hamming-LSH blocking (pprl.hlsh_candidate_pairs, Durham et al.):
    identical CLKs agree on EVERY band so exact duplicates can never be
    missed; the Smith/Smyth typo twins collide on the fixed md5-sampled
    positions (deterministic, so pinned exactly); and the blocking plan
    reads only the encoding words — the cleartext column never enters
    the candidate join, which is the privacy contract."""
    from xlink_spark.operators.pprl import (
        bloom_encode,
        hlsh_candidate_pairs,
        hlsh_positions,
    )

    recs = spark.createDataFrame(
        [(1, "Smith"), (2, "Smyth"), (3, "Johnson"), (4, "Smith")],
        ["id", "text"],
    )
    enc = bloom_encode(recs, "id", "text")
    pairs = {
        (r["id_a"], r["id_b"])
        for r in hlsh_candidate_pairs(enc).collect()
    }
    assert (1, 4) in pairs  # identical CLK -> collides in all 6 bands
    assert (1, 2) in pairs and (2, 4) in pairs  # typo twin recalled
    # Independent recomputation of band buckets from the reference CLK
    # bits: a pair is a candidate iff some band's sampled bits all agree.
    import hashlib

    def ref_bits(s, m=256, k=4):
        s = "_" + s.lower() + "_"
        grams = {s[i : i + 2] for i in range(len(s) - 1)}
        bits = set()
        for g in grams:
            h = hashlib.md5(g.encode()).hexdigest()
            h1, h2 = int(h[:8], 16), int(h[8:16], 16)
            for i in range(k):
                bits.add((h1 + i * h2) % m)
        return bits

    texts = {1: "Smith", 2: "Smyth", 3: "Johnson", 4: "Smith"}
    bands = hlsh_positions()
    expected = set()
    for a in texts:
        for b in texts:
            if a < b:
                ba, bb = ref_bits(texts[a]), ref_bits(texts[b])
                if any(
                    all((p in ba) == (p in bb) for p in plist)
                    for plist in bands
                ):
                    expected.add((a, b))
    assert pairs == expected
    # Privacy contract: blocking is a pure function of the ENCODINGS —
    # a linkage unit holding only (id, w0..w3, nbits) rows (what the
    # data owners actually transmit) produces the identical candidate
    # set, and its plan contains no cleartext column at all.
    enc_only = spark.createDataFrame(
        enc.collect(), schema=enc.schema
    )
    pairs2 = {
        (r["id_a"], r["id_b"])
        for r in hlsh_candidate_pairs(enc_only).collect()
    }
    assert pairs2 == pairs
    plan = (
        hlsh_candidate_pairs(enc_only)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert "text" not in plan


def test_truth_discovery_trust_flips_tie(spark):
    """Sums-style truth discovery (linkage.truth_discovery): sources A
    and C corroborate each other on o1/o2 while B dissents alone, so
    after one iteration trust(A)=610 > trust(B)=388 (hand-computed
    bigint floor arithmetic) — and the 1-vs-1 conflict on o3, a dead
    tie at iteration 1 that tie-breaks to the alphabetically smaller
    WRONG value, flips to A's value at iteration 2 purely on earned
    trust. source_trust exposes exactly the hand-computed table."""
    from xlink_spark.operators.linkage import (
        fused_values,
        source_trust,
        truth_discovery,
    )

    rows = [
        ("o1", "A", "r1"), ("o1", "C", "r1"), ("o1", "B", "w1"),
        ("o2", "A", "r2"), ("o2", "C", "r2"), ("o2", "B", "w2"),
        ("o3", "A", "z_right"), ("o3", "B", "a_wrong"),
    ]
    claims = spark.createDataFrame(rows, "obj string, src string, val string")

    f1 = {r["obj"]: r["val"] for r in fused_values(
        truth_discovery(claims, "obj", "src", "val", iterations=1)
    ).collect()}
    assert f1["o3"] == "a_wrong"  # iteration-1 dead tie -> min value

    conf = truth_discovery(claims, "obj", "src", "val", iterations=2)
    f2 = {r["obj"]: (r["val"], r["conf_ppt"]) for r in fused_values(conf).collect()}
    assert f2["o1"][0] == "r1" and f2["o2"][0] == "r2"
    assert f2["o3"] == ("z_right", 611)  # 610*1000 div 998

    t = {r["src"]: (r["trust_ppt"], r["n_claims"]) for r in source_trust(
        claims, "obj", "src", "val", iterations=1
    ).collect()}
    assert t == {"A": (610, 3), "B": (388, 3), "C": (666, 2)}

    # duplicate assertions dedupe; a single-source object scores 1000
    dup = spark.createDataFrame(
        rows + [("o1", "A", "r1"), ("o4", "B", "solo")],
        "obj string, src string, val string",
    )
    fd = {r["obj"]: (r["val"], r["conf_ppt"], r["n_sources"]) for r in fused_values(
        truth_discovery(dup, "obj", "src", "val", iterations=2)
    ).collect()}
    assert fd["o1"][2] == 2  # A's duplicate claim counted once
    assert fd["o4"] == ("solo", 1000, 1)


def test_one_to_one_matches_recovers_second_best(spark):
    """Iterated assignment beats single-shot mutual-best: L2's best
    right R1 prefers L1, so one-shot mutual-best leaves L2 unmatched;
    round 2 re-runs on the remainder and matches L2 to its free
    second choice R2. Rounds are recorded; rounds=1 reproduces
    mutual_best_matches exactly."""
    from xlink_spark.operators.linkage import (
        mutual_best_matches,
        one_to_one_matches,
    )

    p = spark.createDataFrame(
        [("L1", "R1", 10), ("L2", "R1", 9), ("L2", "R2", 8)],
        "l string, r string, s long",
    )
    got = {
        (x["l"], x["r"]): (x["s"], x["round"])
        for x in one_to_one_matches(p, "l", "r", "s", rounds=3).collect()
    }
    assert got == {("L1", "R1"): (10, 1), ("L2", "R2"): (8, 2)}

    one = one_to_one_matches(p, "l", "r", "s", rounds=1)
    mb = mutual_best_matches(p, "l", "r", "s")
    assert sorted((x["l"], x["r"]) for x in one.collect()) == sorted(
        (x["l"], x["r"]) for x in mb.collect()
    )


def test_one_to_one_matches_equals_sequential_greedy(spark):
    """On random bipartite score tables, the K-round locally-dominant
    fixed point must equal the SEQUENTIAL best-first greedy matching
    under the same total order (score desc, right asc, left asc) —
    the Preis/Manne-Bisseling equivalence the docstring claims.
    Duplicate scores are included deliberately to exercise the
    tie-break order."""
    import random

    from xlink_spark.operators.linkage import one_to_one_matches

    rng = random.Random(92)
    for trial in range(3):
        rows = sorted(
            {
                (f"L{rng.randrange(12)}", f"R{rng.randrange(12)}")
                for _ in range(40)
            }
        )
        scored = [(l, r, rng.randrange(8)) for l, r in rows]
        seq = {}
        used_l, used_r = set(), set()
        for l, r, s in sorted(scored, key=lambda x: (-x[2], x[1], x[0])):
            if l not in used_l and r not in used_r:
                seq[(l, r)] = s
                used_l.add(l)
                used_r.add(r)
        df = spark.createDataFrame(scored, "l string, r string, s long")
        got = {
            (x["l"], x["r"]): x["s"]
            for x in one_to_one_matches(df, "l", "r", "s", rounds=24).collect()
        }
        assert got == seq, f"trial {trial}"


def test_truth_discovery_avg_log_discounts_low_volume(spark):
    """Average-Log (Pasternack-Roth 2010) vs Sums on the canonical
    pathology: source C asserts ONE uncontested fact (conf 1000 — no
    one disputes it), so Sums hands C the TOP trust in the table;
    Average-Log multiplies by floor-micro ln(n_claims), so C's single
    claim earns ln(1) = 0 trust while the high-volume sources keep
    theirs. Confidences still normalize per object, and an unknown
    method raises."""
    import math

    import pytest as _pytest

    from xlink_spark.operators.linkage import source_trust, truth_discovery

    rows = [
        ("o1", "A", "x1"), ("o2", "A", "x2"), ("o3", "A", "x3"), ("o4", "A", "x4"),
        ("o1", "B", "bad"), ("o2", "B", "x2"), ("o3", "B", "x3"), ("o4", "B", "x4"),
        ("o1", "D", "x1"), ("o2", "D", "x2"), ("o3", "D", "x3"), ("o4", "D", "x4"),
        ("o5", "C", "x5"),
    ]
    df = spark.createDataFrame(rows, "obj string, src string, val string")
    ts = {x["src"]: x["trust_ppt"] for x in source_trust(df, "obj", "src", "val").collect()}
    ta = {x["src"]: x["trust_ppt"] for x in source_trust(
        df, "obj", "src", "val", method="avg_log"
    ).collect()}
    assert ts["C"] >= ts["A"] > ts["B"]  # Sums: the lone uncontested
    assert ts["C"] == 1000  # claim earns C the table's top trust
    assert ta["C"] == 0  # Average-Log: ln(1) = 0 kills it
    assert ta["A"] > ta["B"] > ta["C"]

    # the ln micro-floor matches an independent python replica for the
    # round-1 trust of A (4 claims): (sum_conf * floor(1e6 ln 4)) //
    # (4 * 1e6) — conf comes out of the same sums-style normalization
    conf1 = {
        (x["obj"], x["val"]): x["conf_ppt"]
        for x in truth_discovery(
            df, "obj", "src", "val", iterations=1, method="avg_log"
        ).collect()
    }
    sum_a = sum(conf1[(f"o{i}", f"x{i}")] for i in range(1, 5))
    want_a = (sum_a * math.floor(1e6 * math.log(4))) // (4 * 10**6)
    ta1 = {
        x["src"]: x["trust_ppt"]
        for x in source_trust(
            df, "obj", "src", "val", iterations=1, method="avg_log"
        ).collect()
    }
    assert ta1["A"] == want_a

    with _pytest.raises(ValueError, match="method"):
        truth_discovery(df, "obj", "src", "val", method="votes")


def test_progressive_snm_curve_exact_frontier(spark):
    """Known rank geometry: 6 records sorted a..f, twins planted at rank
    distances 1 (a,b) and 3 (c,f); the curve's new/cumulative counts and
    recall follow exactly, and windows with an empty slice still emit."""
    from pyspark.sql import functions as F

    from xlink_spark.operators.linkage import progressive_snm_curve

    rows = [
        (1, "a", "e1"), (2, "b", "e1"),          # dist-1 twin pair
        (3, "c", "e2"), (6, "f", "e2"),          # dist-3 twin pair
        (4, "d", "e3"), (5, "e", "e4"),          # non-matches between
    ]
    recs = spark.createDataFrame(rows, ["id", "name", "entity"]).withColumn(
        "key", F.lit("k")
    )
    got = {
        r["window"]: r.asDict()
        for r in progressive_snm_curve(
            recs, "key", ["name"], "id", max_window=5, entity_col="entity"
        ).collect()
    }
    assert set(got) == {2, 3, 4, 5}
    # n=6 sorted rows: 5 pairs at dist 1, 4 at dist 2, 3 at dist 3, 2 at 4
    assert [got[w]["new_pairs"] for w in (2, 3, 4, 5)] == [5, 4, 3, 2]
    assert [got[w]["new_matches"] for w in (2, 3, 4, 5)] == [1, 0, 1, 0]
    assert got[5]["cum_pairs"] == 14 and got[5]["cum_matches"] == 2
    # truth: two 2-member entities -> 2 true pairs; recall 50% then 100%
    assert all(got[w]["true_pairs"] == 2 for w in got)
    assert [got[w]["recall_micro"] for w in (2, 3, 4, 5)] == [
        500000, 500000, 1000000, 1000000,
    ]

    import pytest

    with pytest.raises(ValueError):
        progressive_snm_curve(recs, "key", ["name"], "id", max_window=1)


def test_vector_blocking_pairs_exact_semantics(spark):
    """LSH blocking over hashed q-gram count vectors: identical texts
    always collide (every plane sum equal) and verify at cos²=1e6 exactly;
    1-char-bump twins verify above 750 ppt; disjoint texts never verify;
    sub-q texts vanish as zero vectors; layout independence."""
    from pyspark.sql import functions as F

    from xlink_spark.operators.linkage import (
        hashed_ngram_vectors,
        vector_blocking_pairs,
    )

    rows = [
        (1, "goldenrod lavender spring chocolate lace"),
        (2, "goldenrod lavender spring chocolate lace"),   # identical
        (3, "goldenrod lavender spring chocolate lacf"),   # bumped twin
        (4, "midnight crimson steel ivory plum"),
        (5, "xx"),                                         # < q: zero vec
    ]
    df = spark.createDataFrame(rows, ["id", "name"])
    out = {
        (r["id_a"], r["id_b"]): r.asDict()
        for r in vector_blocking_pairs(
            df, "name", "id", q=3, dim=64, planes=48, band_rows=8,
            threshold_ppt=750,
        ).collect()
    }
    assert (1, 2) in out and out[(1, 2)]["cos2_ppm"] == 1000000
    assert out[(1, 2)]["dot"] == out[(1, 2)]["norm_a"] == out[(1, 2)]["norm_b"]
    assert (1, 3) in out and (2, 3) in out
    assert out[(1, 3)]["cos2_ppm"] >= 562500  # (750 ppt)²
    assert not any(4 in p or 5 in p for p in out)
    # zero-vector record produces no vector rows at all
    ids = {
        r["id"]
        for r in hashed_ngram_vectors(df, "name", "id", q=3, dim=64)
        .select("id").distinct().collect()
    }
    assert 5 not in ids and ids == {1, 2, 3, 4}
    # layout independence: identical output on a shuffled/repartitioned input
    again = {
        (r["id_a"], r["id_b"]): r["cos2_ppm"]
        for r in vector_blocking_pairs(
            df.orderBy(F.rand(3)).repartition(7), "name", "id",
            q=3, dim=64, planes=48, band_rows=8, threshold_ppt=750,
        ).collect()
    }
    assert again == {k: v["cos2_ppm"] for k, v in out.items()}

    import pytest

    with pytest.raises(ValueError):
        vector_blocking_pairs(df, "name", "id", planes=10, band_rows=4)
    with pytest.raises(ValueError):
        vector_blocking_pairs(df, "name", "id", threshold_ppt=0)
    with pytest.raises(ValueError):
        hashed_ngram_vectors(df, "name", "id", dim=1)


def test_iterative_merge_er_beats_one_shot(spark):
    """The Swoosh capability pin: C matches NO original record pairwise
    (name overlaps A only, key overlaps B only), so one-shot match + CC
    leaves C out — but after A+B union-merge, the merged profile holds
    both, and round 2 absorbs C. Also pins: noise record sharing only a
    name stays singleton; converged flag semantics under max_rounds."""
    from xlink_spark.operators.linkage import iterative_merge_er

    rows = [
        (1, "names", "bob"), (1, "names", "rb"), (1, "keys", "k1"),
        (2, "names", "rb"), (2, "keys", "k1"), (2, "keys", "k2"),
        (3, "names", "bob"), (3, "keys", "k2"),
        (9, "names", "bob"), (9, "keys", "zz"),
    ]
    df = spark.createDataFrame(rows, ["id", "fld", "val"])
    out = iterative_merge_er(df, ["names", "keys"], max_rounds=4)
    got = {(r["entity_id"], r["member_id"]): r.asDict() for r in out.collect()}
    assert set(got) == {(1, 1), (1, 2), (1, 3), (9, 9)}
    assert all(v["rounds_used"] == 2 and v["converged"] for v in got.values())

    # the one-shot contrast: pairwise all-fields matching on the ORIGINAL
    # records yields only the A-B edge, so CC never reaches C
    from pyspark.sql import functions as F

    from xlink_spark.operators.cluster import connected_components

    va = df.select(F.col("id").alias("ea"), "fld", "val")
    vb = df.select(F.col("id").alias("eb"), "fld", "val")
    one_shot = (
        va.join(vb, ["fld", "val"])
        .filter(F.col("ea") < F.col("eb"))
        .groupBy("ea", "eb")
        .agg(F.count_distinct("fld").alias("nf"))
        .filter(F.col("nf") == 2)
        .select(F.col("ea").alias("src"), F.col("eb").alias("dst"))
    )
    comp = {
        r["node"]: r["component"]
        for r in connected_components(one_shot).collect()
    }
    assert comp == {1: 1, 2: 1}  # C (3) and noise (9) never linked

    # max_rounds=1 cuts the loop while edges still appear: converged False
    cut = iterative_merge_er(df, ["names", "keys"], max_rounds=1)
    r0 = cut.first()
    assert r0["rounds_used"] == 1 and not r0["converged"]
    got1 = {(r["entity_id"], r["member_id"]) for r in cut.collect()}
    assert got1 == {(1, 1), (1, 2), (3, 3), (9, 9)}

    import pytest

    with pytest.raises(ValueError):
        iterative_merge_er(df, [], max_rounds=2)
    with pytest.raises(ValueError):
        iterative_merge_er(df, ["names"], block_field="keys")


def test_vector_blocking_materialize_identical_and_action_free(spark):
    """materialize=True checkpoints the shared gram-vector frame (plan
    shows zero parquet-free recomputes of the gram scan: the checkpoint
    RDD feeds all four consumers) and the output is bit-identical; the
    default stays action-free at plan-construction time."""
    from pyspark.sql import functions as F

    from xlink_spark.operators.linkage import vector_blocking_pairs

    rows = [
        (1, "goldenrod lavender spring chocolate lace"),
        (2, "goldenrod lavender spring chocolate lacf"),
        (3, "midnight crimson steel ivory plum"),
        (4, "midnight crimson steel ivory plun"),
    ]
    df = spark.createDataFrame(rows, ["id", "name"])
    kw = dict(q=3, dim=64, planes=48, band_rows=8, threshold_ppt=750)

    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup() or [])
    lazy = vector_blocking_pairs(df, "name", "id", **kw)
    assert len(tracker.getJobIdsForGroup() or []) == before  # no job ran

    eager = vector_blocking_pairs(df, "name", "id", materialize=True, **kw)
    a = sorted(map(tuple, lazy.collect()))
    b = sorted(map(tuple, eager.collect()))
    assert a == b and len(a) == 2
    plan = eager._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" in plan or "Scan ExistingRDD" in plan


def test_collective_er_relational_propagation(spark):
    """The B&G capability pin: the ambiguous pair (attr below threshold)
    links ONLY after round 1 merges its members' neighbors into one
    cluster; a same-attr pair without shared neighbors never links; the
    boost counts DISTINCT shared neighbor clusters; accumulated edges
    are monotone; converged/rounds_used semantics under the rounds cap."""
    from xlink_spark.operators.linkage import collective_er

    pairs = spark.createDataFrame(
        [(0, 1, 1_000_000),   # distinctive: links round 1
         (2, 3, 400_000),     # ambiguous: needs the relational boost
         (2, 5, 400_000)],    # same attr, no shared neighbors: never
        ["id_a", "id_b", "attr_micro"])
    rel = spark.createDataFrame(
        [(2, 0), (3, 1), (5, 9)], ["id", "nbr"])
    nodes = spark.createDataFrame([(i,) for i in (0, 1, 2, 3, 5, 9)], ["id"])
    out = collective_er(
        pairs, rel, nodes,
        boost_micro=700_000, threshold_micro=1_000_000, rounds=4,
    )
    got = {r["node"]: r.asDict() for r in out.collect()}
    assert got[0]["cluster"] == got[1]["cluster"]
    assert got[2]["cluster"] == got[3]["cluster"]          # via propagation
    assert got[5]["cluster"] == 5 and got[9]["cluster"] == 9
    assert got[2]["cluster"] != got[5]["cluster"]
    assert all(v["rounds_used"] == 2 and v["converged"] for v in got.values())

    # rounds=1 cap: only the distinctive pair links, converged False
    cut = {
        r["node"]: r.asDict()
        for r in collective_er(
            pairs, rel, nodes,
            boost_micro=700_000, threshold_micro=1_000_000, rounds=1,
        ).collect()
    }
    assert cut[0]["cluster"] == cut[1]["cluster"]
    assert cut[2]["cluster"] == 2 and cut[3]["cluster"] == 3
    assert cut[2]["rounds_used"] == 1 and not cut[2]["converged"]

    # distinct-cluster counting: (6, 7) needs ns >= 2 (boost 5e5 each,
    # attr 0); both neighbor sets are {0, 1}, two clusters in round 1 —
    # links immediately; had the count been per co-occurrence ROW it
    # would be the same here, but after 0-1 merge ns drops to 1 and the
    # edge PERSISTS: monotone accumulation, pinned by the final cluster
    pairs2 = spark.createDataFrame(
        [(0, 1, 1_000_000), (6, 7, 0)], ["id_a", "id_b", "attr_micro"])
    rel2 = spark.createDataFrame(
        [(6, 0), (6, 1), (7, 0), (7, 1)], ["id", "nbr"])
    nodes2 = spark.createDataFrame([(i,) for i in (0, 1, 6, 7)], ["id"])
    got2 = {
        r["node"]: r.asDict()
        for r in collective_er(
            pairs2, rel2, nodes2,
            boost_micro=500_000, threshold_micro=1_000_000, rounds=3,
        ).collect()
    }
    assert got2[6]["cluster"] == got2[7]["cluster"]
    # with ns capped at 1 (same fixture, boost must reach 1e6 alone but
    # only 1 distinct cluster remains after the merge) the pair would
    # need 2 clusters: prove ns counted DISTINCT clusters by lowering
    # boost so 2 x boost < threshold -> never links
    got3 = {
        r["node"]: r.asDict()
        for r in collective_er(
            pairs2, rel2, nodes2,
            boost_micro=400_000, threshold_micro=1_000_000, rounds=3,
        ).collect()
    }
    assert got3[6]["cluster"] == 6 and got3[7]["cluster"] == 7

    import pytest

    with pytest.raises(ValueError):
        collective_er(pairs, rel, nodes, rounds=0)


def test_incremental_er_equals_full_recompute(spark):
    """The nightly-delta composition on the driver fixture at sf0.001:
    the incremental path (phase-1 world CC + frozen-weight batch fold
    via incremental_components) is ROW-IDENTICAL to the full recompute
    over all records with the same weights — the exactness theorem on
    real data; and every batch twin lands in its clean record's
    cluster."""
    from pyspark.sql import functions as F

    from xlink_spark.driver_queries import QUERIES, _linkage_records
    from xlink_spark.operators.cluster import connected_components
    from xlink_spark.operators.linkage import fs_score, match_weights

    sf = "/root/testdata/sf0.001"
    out = QUERIES["incremental_er"](spark, sf)
    got = {r["node"]: r.asDict() for r in out.collect()}

    # full recompute, Spark-side: same key-equality pairs, weights
    # frozen on the base slice, CC over ALL accepted edges
    recs = _linkage_records(spark, sf).withColumn(
        "is_batch",
        (F.col("id") >= 10000000)
        & (F.pmod(F.col("id") - 10000000, F.lit(4)) == 0),
    )
    a = recs.select(
        F.col("id").alias("id_a"), "key", F.col("name").alias("_na"),
        F.col("seg").alias("_sa"), F.col("nation").alias("_ta"),
        F.col("is_batch").alias("_ba"),
    )
    b = recs.select(
        F.col("id").alias("id_b"), "key", F.col("name").alias("_nb"),
        F.col("seg").alias("_sb"), F.col("nation").alias("_tb"),
        F.col("is_batch").alias("_bb"),
    )
    vec = (
        a.join(b, "key").filter(F.col("id_a") < F.col("id_b")).select(
            "id_a", "id_b",
            (F.col("_na") == F.col("_nb")).alias("agree_name"),
            (F.col("_sa") == F.col("_sb")).alias("agree_seg"),
            (F.col("_ta") == F.col("_tb")).alias("agree_nation"),
            F.expr("pmod(id_a, 10000000) = pmod(id_b, 10000000)").alias(
                "is_match"
            ),
            (F.col("_ba") | F.col("_bb")).alias("anyb"),
        )
    )
    w = match_weights(
        vec.filter(~F.col("anyb")),
        ["agree_name", "agree_seg", "agree_nation"], "is_match",
    )
    edges = fs_score(
        vec, w, ["agree_name", "agree_seg", "agree_nation"],
        ["id_a", "id_b"],
    ).filter(F.col("score_micro") >= 0).select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    )
    comp = {
        r["node"]: r["component"]
        for r in connected_components(edges).collect()
    }
    for node, row in got.items():
        assert row["component"] == comp.get(node, node), node

    # every batch twin merged into its clean record's standing cluster
    batch = [n for n, r in got.items() if r["is_batch"]]
    assert batch, "fixture must produce a non-empty batch"
    linked = sum(
        1 for n in batch if got[n]["component"] == got[n - 10000000]["component"]
    )
    assert linked == len(batch)


# ---------------------------------------------------------------- ed-join


def test_edit_distance_join_exact_vs_brute(spark):
    """Prefix-filtered ed-join == brute-force levenshtein cross join on a
    mixed corpus: long keys (prefix path), short/degenerate keys (length-
    band path), and cross short-long pairs."""
    from xlink_spark.operators.linkage import edit_distance_join

    names = [
        "johnathan smith", "jonathan smith", "johnathan smyth",  # ed 1,1,2
        "maria garcia", "maria garcias", "mario garcia",
        "li", "lo", "liu", "l",  # degenerate: < 3 distinct bigrams
        "abc", "abd", "acb", "xyz",
        "cat", "cart", "card",
    ]
    recs = spark.createDataFrame(
        [(i, n) for i, n in enumerate(names)], "id long, key string"
    )
    for k, q in [(1, 2), (2, 2), (1, 3)]:
        got = {
            (r.id_a, r.id_b, r.ed)
            for r in edit_distance_join(recs, "key", "id", k=k, q=q).collect()
        }
        import itertools

        def lev(a, b):
            m, n = len(a), len(b)
            d = list(range(n + 1))
            for i in range(1, m + 1):
                prev, d[0] = d[0], i
                for j in range(1, n + 1):
                    prev, d[j] = d[j], min(
                        d[j] + 1, d[j - 1] + 1, prev + (a[i - 1] != b[j - 1])
                    )
            return d[n]

        want = {
            (i, j, lev(a, b))
            for (i, a), (j, b) in itertools.combinations(enumerate(names), 2)
            if lev(a, b) <= k
        }
        assert got == want, (k, q)


def test_edit_distance_join_args(spark):
    import pytest as _pt

    from xlink_spark.operators.linkage import edit_distance_join

    recs = spark.createDataFrame([(1, "ab")], "id long, key string")
    with _pt.raises(ValueError):
        edit_distance_join(recs, "key", "id", k=0)
    with _pt.raises(ValueError):
        edit_distance_join(recs, "key", "id", q=0)


def test_edit_distance_join_plan_is_jvm(spark):
    """No Python eval anywhere: gram explode, prefix window, candidate
    join, and levenshtein verify are all JVM-side."""
    from xlink_spark.operators.linkage import edit_distance_join

    recs = spark.createDataFrame(
        [(i, f"record number {i:06d}") for i in range(20)],
        "id long, key string",
    )
    plan = edit_distance_join(recs, "key", "id")._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


# -------------------------------------------------- adaptive blocking


def _greedy_replay(mem_rows, pos, rounds, penalty):
    """Sequential replay of the greedy red-blue cover for parity checks."""
    from collections import defaultdict

    blocks = defaultdict(set)
    for p, b, i in mem_rows:
        blocks[(p, b)].add(i)
    preds = sorted({p for p, _, _ in mem_rows})
    cost = {
        p: sum(
            len(m) * (len(m) - 1) // 2
            for (pp, _), m in blocks.items()
            if pp == p
        )
        for p in preds
    }
    cov = {
        p: {
            (a, b)
            for (a, b) in pos
            if any(
                a in m and b in m
                for (pp, _), m in blocks.items()
                if pp == p
            )
        }
        for p in preds
    }
    remaining, out, total = set(pos), [], 0
    for rnd in range(1, rounds + 1):
        scored = sorted(
            (
                (
                    -(len(cov[p] & remaining) * 1_000_000 - penalty * cost[p]),
                    p,
                )
                for p in preds
                if len(cov[p] & remaining) > 0
            ),
        )
        if not scored:
            break
        neg_score, p = scored[0]
        new = len(cov[p] & remaining)
        total += new
        out.append((rnd, p, new, total, cost[p], -neg_score))
        remaining -= cov[p]
    return out


def test_learn_blocking_scheme_matches_replay(spark):
    from xlink_spark.operators.linkage import learn_blocking_scheme

    # 3-round corpus: pZip covers {1,2}, pCity covers {3}, pName covers
    # {1, 4}; greedy must pick pZip (2 new), then tie-break between the
    # 1-new preds on score then name.
    mem_rows = [
        ("pZip", "z1", 1), ("pZip", "z1", 101),
        ("pZip", "z2", 2), ("pZip", "z2", 102),
        ("pZip", "z3", 3), ("pZip", "z4", 103),
        ("pCity", "c1", 3), ("pCity", "c1", 103),
        ("pCity", "c2", 1), ("pCity", "c3", 101),
        ("pName", "n1", 1), ("pName", "n1", 101),
        ("pName", "n2", 4), ("pName", "n2", 104),
        ("pNever", "x1", 1), ("pNever", "x2", 101),
    ]
    pos = [(1, 101), (2, 102), (3, 103), (4, 104)]
    for penalty in (0, 7, 1_000_000):
        got = [
            tuple(r)
            for r in learn_blocking_scheme(
                spark.createDataFrame(
                    mem_rows, "pred string, block string, id long"
                ),
                spark.createDataFrame(pos, "id_a long, id_b long"),
                rounds=4,
                pair_penalty_micro=penalty,
            )
            .orderBy("round")
            .collect()
        ]
        want = _greedy_replay(mem_rows, pos, 4, penalty)
        assert got == want, (penalty, got, want)
    # at penalty 0, pZip and pName tie at 2-coverage and the pred-name
    # tiebreak picks pName; full cover is reached before the rounds
    # budget -> early stop after 3 picks (pNever covers nothing, never
    # chosen). At penalty 1e6 every score ties at 0 and the name rules.
    assert [r[1] for r in _greedy_replay(mem_rows, pos, 4, 0)] == [
        "pName", "pCity", "pZip"
    ]
    assert [r[1] for r in want] == ["pCity", "pName", "pZip"]


def test_learn_blocking_scheme_random_replay(spark):
    """Parity with the sequential replay on a seeded random instance."""
    import random

    from xlink_spark.operators.linkage import learn_blocking_scheme

    rng = random.Random(13)
    mem_rows = [
        (f"p{p}", f"b{p}_{rng.randrange(6)}", i)
        for p in range(5)
        for i in range(60)
        if rng.random() < 0.8
    ]
    pos = [(i, i + 30) for i in range(0, 25)]
    got = [
        tuple(r)
        for r in learn_blocking_scheme(
            spark.createDataFrame(
                mem_rows, "pred string, block string, id long"
            ),
            spark.createDataFrame(pos, "id_a long, id_b long"),
            rounds=5,
            pair_penalty_micro=3,
        )
        .orderBy("round")
        .collect()
    ]
    assert got == _greedy_replay(mem_rows, pos, 5, 3)
    assert got, "seeded instance must pick at least one predicate"


def test_learn_blocking_scheme_args(spark):
    import pytest as _pt

    from xlink_spark.operators.linkage import learn_blocking_scheme

    mem = spark.createDataFrame(
        [("p", "b", 1)], "pred string, block string, id long"
    )
    pos = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    with _pt.raises(ValueError):
        learn_blocking_scheme(mem, pos, rounds=0)
    with _pt.raises(ValueError):
        learn_blocking_scheme(mem, pos, pair_penalty_micro=-1)
    # nothing coverable -> empty result with the contract schema
    out = learn_blocking_scheme(mem, pos)
    assert out.count() == 0
    assert out.columns == [
        "round", "pred", "covered_new", "covered_total",
        "pairs_total", "score_micro",
    ]


# ------------------------------------------------- uncertainty sampling


def test_uncertainty_sample_order_and_ties(spark):
    from xlink_spark.operators.linkage import uncertainty_sample

    rows = [
        (1, 2, 500000),  # uncertainty 0 -> rank 1
        (1, 3, 499000),  # 1000
        (2, 3, 501000),  # 1000 tie -> id order decides
        (4, 5, 900000),  # 400000
        (5, 6, 100000),  # 400000 tie
        (7, 8, 0),       # 500000 (most certain non-match)
    ]
    df = spark.createDataFrame(
        rows, "id_a long, id_b long, posterior_ppm long"
    )
    got = [
        (r.id_a, r.id_b, r.uncertainty_ppm, r.rank)
        for r in uncertainty_sample(df, 4).orderBy("rank").collect()
    ]
    assert got == [
        (1, 2, 0, 1),
        (1, 3, 1000, 2),
        (2, 3, 1000, 3),
        (4, 5, 400000, 4),
    ]
    # n larger than input -> whole input, ranked
    assert uncertainty_sample(df, 100).count() == 6
    import pytest as _pt

    with _pt.raises(ValueError):
        uncertainty_sample(df, 0)


def test_uncertainty_sample_plan_shape(spark):
    """The batch pick must be TakeOrderedAndProject (per-partition heads
    + driver merge), never a global Sort before the limit."""
    from xlink_spark.operators.linkage import uncertainty_sample

    df = spark.createDataFrame(
        [(i, i + 1, (i * 37) % 1000000) for i in range(1000)],
        "id_a long, id_b long, posterior_ppm long",
    )
    plan = (
        uncertainty_sample(df, 10)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "TakeOrderedAndProject" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_meta_blocking_wnp_matches_brute_force(spark):
    """WNP node-centric pruning == the brute recomputation: an edge
    survives iff it strictly beats the mean CBS of either endpoint's
    adjacency; on a hub-plus-local-pair fixture WNP keeps a local head
    that WEP's global mean drops."""
    import itertools
    from collections import Counter

    from xlink_spark.operators.linkage import meta_blocking_pairs

    rng = random.Random(7)
    mem = list({(rng.randint(1, 40), f"b{rng.randint(1, 12)}") for _ in range(160)})
    mdf = spark.createDataFrame(mem, "id long, block string")

    blocks: dict[str, list[int]] = {}
    for i, b in mem:
        blocks.setdefault(b, []).append(i)
    w: Counter = Counter()
    for b, ids in blocks.items():
        for x, y in itertools.combinations(sorted(set(ids)), 2):
            w[(x, y)] += 1
    ne_n: Counter = Counter()
    sw_n: Counter = Counter()
    for (x, y), c in w.items():
        for n in (x, y):
            ne_n[n] += 1
            sw_n[n] += c
    exp = sorted(
        (x, y, c)
        for (x, y), c in w.items()
        if c * ne_n[x] > sw_n[x] or c * ne_n[y] > sw_n[y]
    )
    got = sorted(
        (r["id_a"], r["id_b"], r["cbs"])
        for r in meta_blocking_pairs(mdf, prune="wnp").collect()
    )
    assert got == exp
    assert 0 < len(got) < len(w)  # pruned something, kept something

    # local-head survival: hub node 1 shares many weight-1 blocks; nodes
    # 100/101 share THREE blocks (their mutual mean == 3 — not strictly
    # beaten) but each also has a weight-1 spoke dragging its mean below
    # 3, so WNP keeps the (100, 101) head
    mem2 = [(1, f"h{k}") for k in range(1, 7)]
    mem2 += [(k + 1, f"h{k}") for k in range(1, 7)]
    mem2 += [(100, b) for b in ("x", "y", "z", "s1")]
    mem2 += [(101, b) for b in ("x", "y", "z", "s2")]
    mem2 += [(7, "s1"), (7, "s2")]
    got2 = {
        (r["id_a"], r["id_b"])
        for r in meta_blocking_pairs(
            spark.createDataFrame(mem2, "id long, block string"),
            prune="wnp",
        ).collect()
    }
    assert (100, 101) in got2

    # single-edge nodes: an only edge never strictly beats its own mean,
    # so WNP drops the isolated (200, 201) pair that WEP (global mean
    # dragged below 2 by the weight-1 hub spokes) keeps
    mem3 = [(200, "p"), (201, "p"), (200, "q"), (201, "q")]
    mem3 += [(1, f"h{k}") for k in range(1, 7)]
    mem3 += [(k + 1, f"h{k}") for k in range(1, 7)]
    m3 = spark.createDataFrame(mem3, "id long, block string")
    wnp3 = {
        (r["id_a"], r["id_b"])
        for r in meta_blocking_pairs(m3, prune="wnp").collect()
    }
    wep3 = {
        (r["id_a"], r["id_b"])
        for r in meta_blocking_pairs(m3, prune="wep").collect()
    }
    assert (200, 201) in wep3 and (200, 201) not in wnp3
    import pytest as _pt

    with _pt.raises(ValueError):
        meta_blocking_pairs(mdf, prune="bogus")


def test_learned_blocking_pairs_consistency(spark):
    """The learn->deploy composition is internally consistent on real
    testdata: per-pred rows are exactly the learner's picks, the
    disjunction's twin coverage equals the learner's final
    covered_total (each round counts only new pairs), and the union is
    genuinely smaller than the per-pred sum (overlap) but at least the
    max (superset of each)."""
    from xlink_spark.driver_queries import (
        q_learned_blocking,
        q_learned_blocking_pairs,
    )

    sf = "/root/testdata/sf0.001"
    picks = q_learned_blocking(spark, sf).orderBy("round").collect()
    rows = {
        r["scope"]: r for r in q_learned_blocking_pairs(spark, sf).collect()
    }
    assert set(rows) == {p["pred"] for p in picks} | {"disjunction"}
    dis = rows["disjunction"]
    assert dis["twins_covered"] == picks[-1]["covered_total"]
    per = [rows[p["pred"]] for p in picks]
    assert max(p["n_pairs"] for p in per) <= dis["n_pairs"] <= sum(
        p["n_pairs"] for p in per
    )
    for p in picks:  # learner cost column == deployed per-pred pair count
        assert rows[p["pred"]]["n_pairs"] == p["pairs_total"]


def test_edit_distance_join_methods_agree(spark):
    """Both candidate-generation methods are EXACT: delete (FastSS) equals
    the prefix path and the brute force on a mixed corpus with
    short/empty/unicode keys and a shared prefix."""
    import itertools

    from xlink_spark.operators.linkage import edit_distance_join

    names = [
        "ID#0001", "ID#0002", "ID#0011", "ID#9001",
        "johnathan smith", "jonathan smith",
        "li", "lo", "l", "", "a",
        "000111222", "000111223", "00111222",
        "Müller", "Muller",
    ]
    recs = spark.createDataFrame(
        list(enumerate(names)), "id long, key string"
    )

    def lev(a, b):
        m, n = len(a), len(b)
        d = list(range(n + 1))
        for i in range(1, m + 1):
            prev, d[0] = d[0], i
            for j in range(1, n + 1):
                prev, d[j] = d[j], min(
                    d[j] + 1, d[j - 1] + 1, prev + (a[i - 1] != b[j - 1])
                )
        return d[n]

    for k in (1, 2):
        want = {
            (i, j, lev(a, b))
            for (i, a), (j, b) in itertools.combinations(enumerate(names), 2)
            if lev(a, b) <= k
        }
        for method in ("prefix", "delete"):
            got = {
                (r.id_a, r.id_b, r.ed)
                for r in edit_distance_join(
                    recs, "key", "id", k=k, method=method
                ).collect()
            }
            assert got == want, (k, method)


def test_edit_distance_join_method_validation(spark):
    import pytest as _pt

    from xlink_spark.operators.linkage import edit_distance_join

    recs = spark.createDataFrame([(1, "ab")], "id long, key string")
    for method in ("bogus", "chunk"):
        with _pt.raises(ValueError):
            edit_distance_join(recs, "key", "id", method=method)
    with _pt.raises(ValueError):
        edit_distance_join(recs, "key", "id", k=3, method="delete")
    # delete stays pure-JVM like the prefix path
    plan = (
        edit_distance_join(
            spark.createDataFrame(
                [(i, f"key number {i:04d}") for i in range(12)],
                "id long, key string",
            ),
            "key",
            "id",
            method="delete",
        )
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
