"""Multi-level gamma FS, term-frequency adjustment, and q-gram blocking.

The three round-5 additions to the record-linkage toolbox: Winkler's
comparison-level generalization of the binary agree/disagree gammas
(reference analogue: the fixed fusion ladder in xlink.py:147-176 has no
learned per-level likelihoods at all), Winkler's term-frequency
adjustment of agreement weights, and Baxter/Christen q-gram blocking.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from xlink_spark.operators.linkage import (
    fs_score_levels,
    match_weights,
    match_weights_levels,
    qgram_blocking_pairs,
    tf_adjust_scores,
    tf_value_weights,
)

MICRO = 1_000_000

LSCHEMA = StructType(
    [
        StructField("id_a", LongType()),
        StructField("id_b", LongType()),
        StructField("lvl_name", LongType()),
        StructField("lvl_city", LongType()),
        StructField("is_match", BooleanType()),
    ]
)

# 6 labeled pairs: name has 3 levels, city 2
LVECS = [
    (1, 2, 2, 1, True),
    (1, 3, 1, 1, True),
    (2, 3, 1, 0, True),
    (4, 5, 0, 0, False),
    (4, 6, 1, 0, False),
    (5, 6, 2, 1, False),
]


def _weights_replica(vecs, field_levels, s=1):
    """Driver-side float-free replica of match_weights_levels."""
    nm = sum(1 for v in vecs if v[-1])
    nn = len(vecs) - nm
    cols = {"lvl_name": 2, "lvl_city": 3}
    out = {}
    for f, nl in field_levels.items():
        ci = cols[f]
        for l in range(nl):
            ma = sum(1 for v in vecs if v[-1] and v[ci] == l)
            ua = sum(1 for v in vecs if not v[-1] and v[ci] == l)
            m_num, m_den = ma + s, nm + nl * s
            u_num, u_den = ua + s, nn + nl * s
            w = math.floor(
                MICRO * math.log((m_num * u_den) / (u_num * m_den))
            )
            out[(f, l)] = (m_num, m_den, u_num, u_den, w)
    return out


def test_match_weights_levels_exact_counts(spark):
    vec = spark.createDataFrame(LVECS, LSCHEMA)
    fl = {"lvl_name": 3, "lvl_city": 2}
    got = {
        (r.field, r.level): (r.m_num, r.m_den, r.u_num, r.u_den, r.w_micro)
        for r in match_weights_levels(vec, fl, "is_match").collect()
    }
    assert got == _weights_replica(LVECS, fl)


def test_match_weights_levels_validation(spark):
    vec = spark.createDataFrame(LVECS, LSCHEMA)
    with pytest.raises(ValueError, match="smoothing"):
        match_weights_levels(vec, {"lvl_name": 3}, "is_match", smoothing=0)
    with pytest.raises(ValueError, match="non-empty"):
        match_weights_levels(vec, {}, "is_match")
    with pytest.raises(ValueError, match=">= 2 levels"):
        match_weights_levels(vec, {"lvl_name": 1}, "is_match")


def test_match_weights_levels_empty_input_finite(spark):
    vec = spark.createDataFrame([], LSCHEMA)
    rows = match_weights_levels(
        vec, {"lvl_name": 3, "lvl_city": 2}, "is_match"
    ).collect()
    assert len(rows) == 5
    # all-zero counts: m = u = 1/L per level, every weight exactly 0
    assert all(r.w_micro == 0 for r in rows)


def test_match_weights_levels_binary_degenerates_to_match_weights(spark):
    """With L=2 everywhere the level weights ARE the binary FS weights:
    level 1 ≡ agreement, level 0 ≡ disagreement, same denominators
    (L·s = 2s) — bit-exact, not approximately."""
    vschema = StructType(
        [
            StructField("id_a", LongType()),
            StructField("id_b", LongType()),
            StructField("agree_x", BooleanType()),
            StructField("is_match", BooleanType()),
        ]
    )
    vecs = [
        (1, 2, True, True),
        (1, 3, False, True),
        (2, 3, True, False),
        (4, 5, False, False),
        (4, 6, True, False),
    ]
    vec = spark.createDataFrame(vecs, vschema)
    wb = {
        r.field: r for r in match_weights(vec, ["agree_x"], "is_match").collect()
    }["agree_x"]
    lv = vec.withColumn("lvl_x", F.col("agree_x").cast("long"))
    wl = {
        r.level: r
        for r in match_weights_levels(lv, {"lvl_x": 2}, "is_match").collect()
    }
    assert (wl[1].m_num, wl[1].m_den, wl[1].u_num, wl[1].u_den) == (
        wb.m_num,
        wb.m_den,
        wb.u_num,
        wb.u_den,
    )
    assert wl[1].w_micro == wb.w_agree_micro
    assert wl[0].w_micro == wb.w_disagree_micro
    assert (wl[0].m_num, wl[0].u_num) == (
        wb.m_den - wb.m_num,
        wb.u_den - wb.u_num,
    )


def test_fs_score_levels_sums_observed_level(spark):
    vec = spark.createDataFrame(LVECS, LSCHEMA)
    fl = {"lvl_name": 3, "lvl_city": 2}
    w = match_weights_levels(vec, fl, "is_match")
    wmap = {(r.field, r.level): r.w_micro for r in w.collect()}
    got = {
        (r.id_a, r.id_b): r.score_micro
        for r in fs_score_levels(vec, w, list(fl), ["id_a", "id_b"]).collect()
    }
    for ia, ib, ln, lc, _ in LVECS:
        assert got[(ia, ib)] == wmap[("lvl_name", ln)] + wmap[("lvl_city", lc)]


def test_tf_value_weights_exact_and_monotone(spark):
    recs = spark.createDataFrame(
        [(i, "smith" if i < 6 else f"name{i}") for i in range(10)],
        StructType(
            [StructField("id", LongType()), StructField("name", StringType())]
        ),
    )
    # one weights row for the field: m_num/m_den = 3/4
    w = spark.createDataFrame(
        [("agree_name", 3, 4, 1, 9, 0, 0)],
        "field string, m_num long, m_den long, u_num long, u_den long,"
        " w_agree_micro long, w_disagree_micro long",
    )
    got = {
        r.value: (r.tf_cnt, r.n_total, r.w_tf_micro)
        for r in tf_value_weights(recs, "name", w, "agree_name").collect()
    }
    assert got["smith"][0] == 6 and got["smith"][1] == 10
    for v, (cnt, n, wtf) in got.items():
        assert wtf == math.floor(MICRO * math.log((3 * n) / (4 * cnt)))
    # the head value is worth strictly less than any unique value
    uniq = [wtf for v, (c, _, wtf) in got.items() if c == 1]
    assert got["smith"][2] < min(uniq)


def test_tf_adjust_scores_delta_semantics(spark):
    scores = spark.createDataFrame(
        [(1, 2, 100), (3, 4, 200), (5, 6, -50)],
        "id_a long, id_b long, score_micro long",
    )
    w = spark.createDataFrame(
        [("agree_name", 3, 4, 1, 9, 70, -30)],
        "field string, m_num long, m_den long, u_num long, u_den long,"
        " w_agree_micro long, w_disagree_micro long",
    )
    tfw = spark.createDataFrame(
        [("smith", 6, 10, 120), ("rare", 1, 10, 500)],
        "value string, tf_cnt long, n_total long, w_tf_micro long",
    )
    agreeing = spark.createDataFrame(
        [(1, 2, "smith"), (3, 4, "rare")], "id_a long, id_b long, value string"
    )
    got = {
        (r.id_a, r.id_b): (r.score_tf_micro, r.w_tf_micro)
        for r in tf_adjust_scores(
            scores, agreeing, tfw, w, "agree_name", ["id_a", "id_b"]
        ).collect()
    }
    assert got[(1, 2)] == (100 - 70 + 120, 120)
    assert got[(3, 4)] == (200 - 70 + 500, 500)
    # non-agreeing pair: base score unchanged, no tf weight
    assert got[(5, 6)] == (-50, None)


def _qgram_replica(recs, q, purge, min_shared=1, ppt=None):
    grams = {
        i: {s[k : k + q] for k in range(len(s) - q + 1)} for i, s in recs
    }
    if purge is not None:
        freq = {}
        for gs in grams.values():
            for g in gs:
                freq[g] = freq.get(g, 0) + 1
        grams = {
            i: {g for g in gs if freq[g] <= purge} for i, gs in grams.items()
        }
    ids = sorted(grams)
    out = {}
    for x in range(len(ids)):
        for y in range(x + 1, len(ids)):
            a, b = ids[x], ids[y]
            sh = len(grams[a] & grams[b])
            if sh >= min_shared and (
                ppt is None or sh * 1000 >= ppt * max(len(grams[a]), len(grams[b]))
            ):
                out[(a, b)] = (sh, len(grams[a]), len(grams[b]))
    return out


QG_RECS = [
    (1, "jonathan smith"),
    (2, "jonathon smith"),  # mid-string substitution
    (3, "jonathan smyth"),
    (4, "maria garcia"),
    (5, "mario garcia"),
    (6, "zz"),  # shorter than q=4: contributes nothing
]


def test_qgram_blocking_brute_parity(spark):
    recs = spark.createDataFrame(
        QG_RECS,
        StructType(
            [StructField("id", LongType()), StructField("name", StringType())]
        ),
    )
    for kwargs in (
        dict(q=4, max_block_size=None),
        dict(q=4, max_block_size=3),
        dict(q=2, max_block_size=None, threshold_ppt=700),
        dict(q=4, max_block_size=3, min_shared=3),
    ):
        got = {
            (r.id_a, r.id_b): (r.n_shared, r.n_a, r.n_b)
            for r in qgram_blocking_pairs(recs, "name", "id", **kwargs).collect()
        }
        want = _qgram_replica(
            QG_RECS,
            kwargs["q"],
            kwargs.get("max_block_size"),
            kwargs.get("min_shared", 1),
            kwargs.get("threshold_ppt"),
        )
        assert got == want, kwargs


def test_qgram_catches_substitution_anywhere(spark):
    """The property q-grams buy over exact/phonetic/suffix blocking: a
    substitution ANYWHERE in the key corrupts at most q grams, so the
    pair still shares every other gram."""
    recs = spark.createDataFrame(
        QG_RECS[:5],
        StructType(
            [StructField("id", LongType()), StructField("name", StringType())]
        ),
    )
    pairs = {
        (r.id_a, r.id_b): r.n_shared
        for r in qgram_blocking_pairs(recs, "name", "id", q=4).collect()
    }
    # mid-string typo (jonathan/jonathon) and tail typo (smith/smyth)
    assert pairs[(1, 2)] == 7 and pairs[(1, 3)] == 8
    assert pairs[(4, 5)] == 5  # head typo (maria/mario)


def test_qgram_blocking_validation(spark):
    recs = spark.createDataFrame(
        QG_RECS[:2],
        StructType(
            [StructField("id", LongType()), StructField("name", StringType())]
        ),
    )
    with pytest.raises(ValueError, match="q must"):
        qgram_blocking_pairs(recs, "name", "id", q=0)
    with pytest.raises(ValueError, match="min_shared"):
        qgram_blocking_pairs(recs, "name", "id", min_shared=0)
    with pytest.raises(ValueError, match="threshold_ppt"):
        qgram_blocking_pairs(recs, "name", "id", threshold_ppt=1001)


def test_level_tf_qgram_plans_pure_jvm(spark):
    """No Python eval node and no cartesian product anywhere in the three
    new operators' plans (the broadcast 1-row cross joins in the tf path
    plan as BroadcastNestedLoopJoin, which is constant-side by
    construction)."""
    vec = spark.createDataFrame(LVECS, LSCHEMA)
    fl = {"lvl_name": 3, "lvl_city": 2}
    w = match_weights_levels(vec, fl, "is_match")
    sc = fs_score_levels(vec, w, list(fl), ["id_a", "id_b"])
    recs = spark.createDataFrame(
        QG_RECS,
        StructType(
            [StructField("id", LongType()), StructField("name", StringType())]
        ),
    )
    wb = spark.createDataFrame(
        [("agree_name", 3, 4, 1, 9, 70, -30)],
        "field string, m_num long, m_den long, u_num long, u_den long,"
        " w_agree_micro long, w_disagree_micro long",
    )
    tfw = tf_value_weights(recs, "name", wb, "agree_name")
    qp = qgram_blocking_pairs(
        recs, "name", "id", q=4, max_block_size=3, threshold_ppt=500
    )
    for df in (w, sc, tfw, qp):
        plan = df._jdf.queryExecution().executedPlan().toString()
        for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
            assert marker not in plan
        assert "CartesianProduct" not in plan


def test_level_and_tf_floor_margins_at_oracle_sfs():
    """Oracle-robustness protocol for the new floor(1e6·ln(·)) boundaries:
    at both oracle scale factors, every (field, level) weight ratio and
    every per-value tf ratio sits far from its floor boundary (measured
    0.11 / 0.29 µ for level weights and 0.77 / 0.55 µ for tf weights at
    sf0.001 / sf0.01 — ~10⁹ × the ulp-level ln() divergence between
    engines), so a float rounding difference can never flip a hash."""
    import duckdb

    from xlink_spark.driver_queries import (
        SQL_FS_LEVEL_WEIGHTS,
        _SQL_LINKAGE_VEC,
    )

    con = duckdb.connect()
    for sf, floor_margin in [("sf0.001", 0.05), ("sf0.01", 0.05)]:
        con.sql(
            f"create or replace view customer as select * from"
            f" read_parquet('/root/testdata/{sf}/customer.parquet')"
        )
        for _f, _l, m_num, m_den, u_num, u_den, _w in con.sql(
            SQL_FS_LEVEL_WEIGHTS
        ).fetchall():
            v = MICRO * math.log((m_num * u_den) / (u_num * m_den))
            assert v - math.floor(v) > floor_margin, (
                sf, m_num, m_den, u_num, u_den, v,
            )
        rows = con.sql(
            f"with {_SQL_LINKAGE_VEC}, "
            "tf as (select name as value, count(*)::bigint as tf_cnt"
            "  from recs group by 1), "
            "ntot as (select count(*)::bigint as n_total from recs), "
            "wn as (select m_num, m_den from w where field = 'agree_name') "
            "select distinct m_num, m_den, tf_cnt, n_total from tf, ntot, wn"
        ).fetchall()
        assert rows
        for m_num, m_den, tf_cnt, n_total in rows:
            v = MICRO * math.log((m_num * n_total) / (m_den * tf_cnt))
            assert v - math.floor(v) > floor_margin, (sf, tf_cnt, v)


def test_qgram_gauge_recall_on_testdata(spark):
    """The measured frontier claim in q_qgram_blocks' docstring: q-gram
    blocking catches most planted twins on the tail-corrupted ID-name
    fixture, below suffix blocking's 100% (the informative grams cluster
    around the corrupted character) — and recall RISES with key width."""
    from xlink_spark.driver_queries import q_qgram_blocks

    rows = q_qgram_blocks(spark, "/root/testdata/sf0.001")
    twins = rows.filter("is_twin").count()
    assert 120 <= twins <= 150  # 130 measured; 150 planted


def test_match_posteriors_exact_replica_and_monotone(spark):
    """posterior_ppm matches the floor(1e6·BF/(1+BF)) replica exactly for
    both prior forms (int pair and one-row frame), is monotone in the
    score, and hits the saturation ends correctly."""
    scores = spark.createDataFrame(
        [(1, 2, -5_000_000), (3, 4, 0), (5, 6, 1_500_000), (7, 8, 40_000_000)],
        "id_a long, id_b long, score_micro long",
    )
    from xlink_spark.operators.linkage import match_posteriors

    def replica(s, pn, pd):
        bf = math.exp(s / 1e6) * (pn / (pd - pn))
        return math.floor((1e6 * bf) / (1 + bf))

    got_int = {
        (r.id_a, r.id_b): r.posterior_ppm
        for r in match_posteriors(scores, (1, 5)).collect()
    }
    prior = spark.createDataFrame([(1, 5)], "prior_num long, prior_den long")
    got_df = {
        (r.id_a, r.id_b): r.posterior_ppm
        for r in match_posteriors(scores, prior).collect()
    }
    want = {
        (1, 2): replica(-5.0e6, 1, 5),
        (3, 4): replica(0, 1, 5),
        (5, 6): replica(1.5e6, 1, 5),
        (7, 8): replica(4.0e7, 1, 5),
    }
    assert got_int == want == got_df
    # monotone in score; score 0 with odds 1/4 sits at 1/5; huge score → 1
    ordered = [want[(1, 2)], want[(3, 4)], want[(5, 6)], want[(7, 8)]]
    assert ordered == sorted(ordered)
    assert want[(3, 4)] in (199999, 200000)
    assert want[(7, 8)] in (999999, 1000000)


def test_match_posteriors_validation_and_pure_jvm(spark):
    from xlink_spark.operators.linkage import match_posteriors

    scores = spark.createDataFrame(
        [(1, 2, 0)], "id_a long, id_b long, score_micro long"
    )
    with pytest.raises(ValueError, match="prior must"):
        match_posteriors(scores, (0, 5))
    with pytest.raises(ValueError, match="prior must"):
        match_posteriors(scores, (5, 5))
    prior = spark.createDataFrame([(1, 5)], "prior_num long, prior_den long")
    df = match_posteriors(scores, prior)
    plan = df._jdf.queryExecution().executedPlan().toString()
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert marker not in plan


def test_posterior_floor_margins_at_oracle_sfs():
    """Margins for the ONE exp-based floor: every distinct FS score's raw
    1e6·BF/(1+BF) sits ≥0.05 ppm-units from its floor at both oracle sf —
    ~10⁸ × the worst-case cross-engine exp() ulp divergence."""
    import duckdb

    from xlink_spark.driver_queries import (
        _SQL_FS_SCORE_CORE,
        _SQL_LINKAGE_VEC,
    )

    con = duckdb.connect()
    for sf in ("sf0.001", "sf0.01"):
        con.sql(
            f"create or replace view customer as select * from"
            f" read_parquet('/root/testdata/{sf}/customer.parquet')"
        )
        rows = con.sql(
            f"with {_SQL_LINKAGE_VEC}, {_SQL_FS_SCORE_CORE}, "
            "pr as (select (sum(case when is_match then 1 else 0 end) + 1)"
            "::bigint as prior_num, (count(*) + 2)::bigint as prior_den"
            " from vec) "
            "select distinct s.score_micro, prior_num, prior_den from sc s, pr"
        ).fetchall()
        assert rows
        for s, pn, pd in rows:
            bf = math.exp(s / 1e6) * (pn / (pd - pn))
            v = (1e6 * bf) / (1 + bf)
            assert v - math.floor(v) > 0.05, (sf, s, v)
