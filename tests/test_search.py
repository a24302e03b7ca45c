"""BM25 integer scoring: python-replica exactness, invariances, plan purity."""

from __future__ import annotations

import math

import pytest

from xlink_spark.operators.search import bm25_topk, corpus_search_stats

DOCS = [
    ("d1", "apple banana apple cherry"),
    ("d2", "banana banana banana"),
    ("d3", "cherry pie with apple"),
    ("d4", "nothing relevant here at all"),
    ("d5", "apple apple apple apple apple apple"),
]


def _py_bm25(docs, terms, tf_cap=1000):
    M = 1_000_000
    terms = sorted({t.lower() for t in terms})
    toks = {d: [t for t in txt.lower().split() if t] for d, txt in docs}
    n = len(docs)
    total = sum(len(v) for v in toks.values())
    avgdl_u = (total // n) * M + ((total % n) * M) // n
    out = {}
    for d, ts in toks.items():
        dl = len(ts)
        rho_u = (dl * M * M) // avgdl_u
        s = 0
        for t in terms:
            tf = min(ts.count(t), tf_cap)
            df = sum(1 for v in toks.values() if t in v)
            if tf == 0 or df == 0:
                continue
            idf_u = max(math.floor(math.log((2 * n - 2 * df + 1) / (2 * df + 1)) * M), 0)
            num = idf_u * 22 * tf * M
            den = 10 * tf * M + 3 * M + 9 * rho_u
            s += num // den
        if s > 0:
            out[d] = s
    return out


def test_bm25_matches_python_replica_exactly(spark):
    df = spark.createDataFrame(DOCS, "doc_id string, text string")
    got = {
        r["doc_id"]: r["score_micro"]
        for r in bm25_topk(df, ["apple", "cherry"], k=10).collect()
    }
    assert got == _py_bm25(DOCS, ["apple", "cherry"])
    # ranking sanity: the apple-only spam doc must not beat the doc that
    # matches both query terms
    ranked = [r["doc_id"] for r in bm25_topk(df, ["apple", "cherry"], k=10).collect()]
    assert ranked.index("d3") < ranked.index("d2") if "d2" in ranked else True
    assert "d4" not in got  # zero-score docs dropped


def test_bm25_partitioning_invariance_and_stats_path(spark):
    df = spark.createDataFrame(DOCS * 8, "doc_id string, text string")
    a = sorted(map(tuple, bm25_topk(df, ["banana"], k=50).collect()))
    b = sorted(map(tuple, bm25_topk(df.repartition(7), ["banana"], k=50).collect()))
    assert a == b
    st = corpus_search_stats(df, ["banana"])
    c = sorted(map(tuple, bm25_topk(df, ["banana"], k=50, stats=st).collect()))
    assert a == c  # maintained-statistics path is the same query


def test_bm25_tf_cap_saturates(spark):
    # filler keeps df("apple") below N/2 — Robertson idf clamps to zero for
    # majority terms, which would empty the result and hide the cap.
    # dA and dB have IDENTICAL length (so length normalization cancels) and
    # tf 10 vs 500: with tf_cap=10 both saturate to the same score.
    filler = [(f"f{i}", "unrelated filler words only") for i in range(10)]
    dA = ("dA", "apple " * 10 + "pad " * 490)
    dB = ("dB", "apple " * 500)
    df = spark.createDataFrame(
        DOCS + filler + [dA, dB], "doc_id string, text string"
    )
    capped = {
        r["doc_id"]: r["score_micro"]
        for r in bm25_topk(df, ["apple"], k=20, tf_cap=10).collect()
    }
    assert capped["dA"] == capped["dB"]
    uncapped = {
        r["doc_id"]: r["score_micro"]
        for r in bm25_topk(df, ["apple"], k=20, tf_cap=1000).collect()
    }
    assert uncapped["dB"] > uncapped["dA"]  # cap off, higher tf wins again


def test_bm25_unknown_term_and_empty_query(spark):
    df = spark.createDataFrame(DOCS, "doc_id string, text string")
    with_u = {
        r["doc_id"]: r["score_micro"]
        for r in bm25_topk(df, ["apple", "zzzunknown"], k=10).collect()
    }
    base = {
        r["doc_id"]: r["score_micro"] for r in bm25_topk(df, ["apple"], k=10).collect()
    }
    assert with_u == base  # absent term contributes nothing
    with pytest.raises(ValueError):
        bm25_topk(df, [])


def test_bm25_plan_is_pure_jvm_single_scan_path(spark):
    df = spark.createDataFrame(DOCS, "doc_id string, text string")
    plan = bm25_topk(df, ["apple", "cherry"], k=5)._jdf.queryExecution().executedPlan().toString()
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert marker not in plan
