"""Exact prefix-filtered set-similarity join (operators/setsim)."""

from __future__ import annotations

import itertools
import random

import pytest
from pyspark.sql import functions as F

from xlink_spark.operators import setsim as SS


def _mk_shingles(spark, docs: dict[str, set[str]]):
    rows = [(d, s) for d, ss in docs.items() for s in ss]
    return spark.createDataFrame(rows, "doc_id string, shingle string")


def _brute(docs: dict[str, set[str]], t_ppm: int):
    out = []
    for a, b in itertools.combinations(sorted(docs), 2):
        inter = len(docs[a] & docs[b])
        uni = len(docs[a] | docs[b])
        if inter * SS.PPM >= t_ppm * uni:
            out.append((a, b, inter, uni, inter * SS.PPM // uni))
    return sorted(out)


def test_exact_join_matches_brute_force_random(spark):
    """Randomized completeness+exactness: prefix filtering must find EVERY
    pair >= t (the whole point vs LSH), with exact integer counts."""
    rng = random.Random(20260818)
    vocab = [f"s{i}" for i in range(40)]
    docs = {
        f"d{k:02d}": {rng.choice(vocab) for _ in range(rng.randint(3, 25))}
        for k in range(40)
    }
    for t_ppm in (300_000, 500_000, 800_000):
        got = sorted(
            (r["doc_a"], r["doc_b"], r["inter"], r["uni"], r["jac_ppm"])
            for r in SS.jaccard_join_exact(
                _mk_shingles(spark, docs), threshold_ppm=t_ppm
            ).collect()
        )
        assert got == _brute(docs, t_ppm), t_ppm
    assert len(_brute(docs, 300_000)) > 0


def test_threshold_boundary_pair_is_decided_exactly(spark):
    # inter=1, uni=2 -> jaccard exactly 0.5
    docs = {"a": {"x", "y"}, "b": {"x"}}
    sh = _mk_shingles(spark, docs)
    assert SS.jaccard_join_exact(sh, threshold_ppm=500_000).count() == 1
    assert SS.jaccard_join_exact(sh, threshold_ppm=500_001).count() == 0


def test_threshold_ppm_outside_unit_interval_raises(spark):
    sh = _mk_shingles(spark, {"a": {"x"}, "b": {"x"}})
    for bad in (0, -1, SS.PPM + 1):
        with pytest.raises(ValueError):
            SS.jaccard_join_exact(sh, threshold_ppm=bad)


def test_ppjoin_candidates_complete_and_pruning(spark):
    """The kernel's candidate stage at the adapter's ppm scale: candidates ⊇
    all true pairs, and the prefix join PRUNES: docs sharing only the
    corpus-wide head shingle never become candidates at high t."""
    from xlink_spark.operators.linkage import _ppjoin_candidates

    # every doc contains the head shingle "common"; only d0/d1 are near-dups
    docs = {
        "d0": {"common", "a", "b", "c"},
        "d1": {"common", "a", "b", "d"},
        "d2": {"common", "e", "f", "g", "h", "i"},
        "d3": {"common", "j", "k", "l", "m", "n"},
    }
    sets = _mk_shingles(spark, docs).groupBy("doc_id").agg(
        F.collect_set("shingle").alias("_set")
    )
    _sorted, cand_rows = _ppjoin_candidates(
        sets, "_set", "doc_id", t=500_000, scale=SS.PPM, measure="jaccard"
    )
    cands = {(r["id_a"], r["id_b"]) for r in cand_rows.collect()}
    true_pairs = {(a, b) for a, b, *_ in _brute(docs, 500_000)}
    assert true_pairs <= cands
    assert ("d2", "d3") not in cands  # head-shingle-only overlap pruned
    n_all = len(docs) * (len(docs) - 1) // 2
    assert len(cands) < n_all


def test_exact_join_is_superset_of_lsh_at_same_threshold(spark):
    """On the same corpus, the exact join must find every pair the
    probabilistic LSH path verified (LSH ⊆ exact — the recall relationship
    that motivates having both)."""
    from xlink_spark.operators import dedup as DD

    rng = random.Random(7)
    base = [f"w{i}" for i in range(30)]
    rows = []
    for k in range(20):
        toks = [rng.choice(base) for _ in range(30)]
        rows.append((f"d{k:02d}", " ".join(toks)))
        if k % 3 == 0:  # truncated near-dup
            rows.append((f"d{k:02d}x", " ".join(toks[: int(len(toks) * 0.8)])))
    docs = spark.createDataFrame(rows, "doc_id string, text string")
    sh = DD.shingles(docs, n=3)
    lsh = {
        tuple(sorted((r["doc_a"], r["doc_b"])))
        for r in DD.minhash_dedup(
            docs, shingle_n=3, num_hashes=8, bands=4, threshold=0.5
        ).collect()
    }
    exact = {
        (r["doc_a"], r["doc_b"])
        for r in SS.jaccard_join_exact(sh, threshold_ppm=500_000).collect()
    }
    assert lsh <= exact and len(exact) > 0


def test_duplicate_shingle_rows_are_deduped_by_default(spark):
    """Duplicate (doc, shingle) rows inflate counts and silently DROP true
    pairs unless deduped — the join must protect against them."""
    docs = {"a": {"x", "y"}, "b": {"x", "y"}}
    clean = _mk_shingles(spark, docs)
    dup = clean.union(clean.where(F.col("doc_id") == "a"))  # doc a doubled
    key = lambda df: sorted(
        (r["doc_a"], r["doc_b"], r["inter"], r["uni"]) for r in df.collect()
    )
    assert key(SS.jaccard_join_exact(dup)) == key(SS.jaccard_join_exact(clean))


def test_plan_has_no_cartesian(spark):
    sh = _mk_shingles(spark, {"a": {"x", "y"}, "b": {"x", "z"}})
    plan = (
        SS.jaccard_join_exact(sh)._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def _tfidf_brute(docs: dict[int, set[str]], milli=1000, max_df_ppm=None):
    import math

    n = len(docs)
    dfc: dict[str, int] = {}
    for s in docs.values():
        for t in s:
            dfc[t] = dfc.get(t, 0) + 1
    idf = {
        t: math.floor(milli * math.log(n / c))
        for t, c in dfc.items()
        if max_df_ppm is None or c * 1_000_000 <= max_df_ppm * n
    }

    def n2(s):
        return sum(idf[t] ** 2 for t in s if t in idf)

    out = []
    for a, b in itertools.combinations(sorted(docs), 2):
        shared = [t for t in docs[a] & docs[b] if t in idf]
        if not shared:
            continue
        dot = sum(idf[t] ** 2 for t in shared)
        na, nb = n2(docs[a]), n2(docs[b])
        if na == 0 or nb == 0:
            continue
        cm = math.floor(1e6 * (float(dot) / math.sqrt(float(na) * float(nb))))
        out.append((a, b, dot, cm))
    return out


def test_tfidf_cosine_matches_brute_force(spark):
    """IDF-weighted trigram cosine == the brute bigint-weights + one
    double sqrt/div recomputation, including the relative df purge."""
    rng = random.Random(99)
    vocab = [f"t{i}" for i in range(30)] + ["head"]
    docs = {
        i: {rng.choice(vocab) for _ in range(rng.randint(2, 8))} | {"head"}
        for i in range(40)
    }
    rows = [(d, t) for d, ts in docs.items() for t in ts]
    tdf = spark.createDataFrame(rows, "doc_id long, token string")
    for ppm in (None, 500_000):
        exp = sorted(
            e for e in _tfidf_brute(docs, max_df_ppm=ppm) if e[3] >= 100_000
        )
        got = sorted(
            (r["doc_a"], r["doc_b"], r["dot"], r["cos_micro"])
            for r in SS.tfidf_cosine_pairs(
                tdf, threshold_micro=100_000, max_df_ppm=ppm
            ).collect()
        )
        assert got == exp, ppm
    # the relative cap purged the universal token: with it, 'head'-only
    # pairs vanish
    assert ("head" in {t for s in docs.values() for t in s})


def test_idf_weights_caps_and_purity(spark):
    rows = [(1, "a"), (2, "a"), (3, "a"), (1, "b"), (2, "c")]
    tdf = spark.createDataFrame(rows, "doc_id long, token string")
    w_all = {r["token"]: r for r in SS.idf_weights(tdf).collect()}
    assert set(w_all) == {"a", "b", "c"}
    assert w_all["a"]["idf_milli"] == 0  # df == N -> ln(1) -> 0
    w_abs = {r["token"] for r in SS.idf_weights(tdf, max_df=2).collect()}
    assert w_abs == {"b", "c"}
    # relative: df*1e6 <= ppm*N with N=3 -> ppm=400000 keeps df=1 only
    w_rel = {r["token"] for r in SS.idf_weights(tdf, max_df_ppm=400_000).collect()}
    assert w_rel == {"b", "c"}
    out = SS.tfidf_cosine_pairs(tdf, threshold_micro=0)
    plan = out._jdf.queryExecution().executedPlan().toString()
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert marker not in plan
    assert "CartesianProduct" not in plan


def test_tfidf_idf_floor_margins_at_oracle_sfs():
    """The oracle-robustness protocol for the ONE float boundary in the
    TF-IDF path: at both oracle scale factors, every surviving trigram's
    1000·ln(N/df) sits far from its floor boundary (measured 0.073 / 0.26
    milli-units — ~10¹⁰ × the ulp-level ln() divergence between engines)."""
    import math

    import duckdb

    con = duckdb.connect()
    for sf, floor_margin in [("sf0.001", 0.2), ("sf0.01", 0.05)]:
        con.sql(
            f"create or replace view customer as select * from"
            f" read_parquet('/root/testdata/{sf}/customer.parquet')"
        )
        rows = con.sql(
            """
            with cust as (select c_custkey::bigint as id, c_name as name from customer),
            dirty as (select id + 10000000 as id,
              substr(name, 1, length(name) - 1)
                || chr(ascii(substr(name, length(name), 1)) + 1) as name from cust),
            recs as (select id, name from cust union all select id, name from dirty),
            grams as (select distinct id, substr(name, g, 3) as token
                      from recs, unnest(generate_series(1, length(name) - 2)) as t(g)),
            nn as (select count(distinct id)::bigint as n from grams),
            dfc as (select token, count(*)::bigint as df from grams group by 1)
            select distinct df, (select n from nn) as n from dfc, nn
            where df * 1000000 <= 100000 * n
            """
        ).fetchall()
        assert rows
        for df, n in rows:
            v = 1000 * math.log(n / df)
            assert v - math.floor(v) > floor_margin, (sf, df, n, v)
