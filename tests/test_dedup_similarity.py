"""Dedup family + similarity search + textstats."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from xlink_spark.operators import dedup as DD
from xlink_spark.operators import similarity as SIM
from xlink_spark.operators import textstats as TS


@pytest.fixture(scope="module")
def toy_docs(spark):
    rows = [
        ("a", "the quick brown fox jumps over the lazy dog"),
        ("b", "the quick brown fox jumps over the lazy dog"),          # exact dup of a
        ("c", "the quick brown fox jumps over the lazy cat"),          # near dup
        ("d", "completely different content about spark engines"),
        ("e", "short"),
    ]
    return spark.createDataFrame(rows, "doc_id string, text string").cache()


def test_exact_duplicates(toy_docs):
    groups = {tuple(r["doc_ids"]): r["keeper"] for r in DD.exact_duplicates(toy_docs).collect()}
    assert groups[("a", "b")] == "a"
    assert sum(len(k) for k in groups) == 5


def test_minhash_dedup_finds_near_dup(toy_docs):
    pairs = DD.minhash_dedup(toy_docs, threshold=0.5, num_hashes=24, bands=8)
    got = {(r["doc_a"], r["doc_b"]) for r in pairs.collect()}
    assert ("a", "b") in got          # identical
    assert ("a", "c") in got or ("b", "c") in got  # near dup shares most shingles
    assert all("d" not in p and "e" not in p for p in got)


def test_lsh_bucket_cap_drops_degenerate_bucket(spark):
    """A boilerplate bucket wider than max_bucket is dropped from the
    candidate join, and the composed pipeline applies the same cap."""
    boiler = [(f"b{i}", "same boilerplate text everywhere") for i in range(6)]
    pair = [("x1", "a genuine near duplicate document body"),
            ("x2", "a genuine near duplicate document body")]
    docs = spark.createDataFrame(boiler + pair, "doc_id string, text string")
    sh = DD.shingles(docs, n=3)
    sig = DD.minhash_signatures(sh, num_hashes=8)
    # uncapped: the 6-doc boilerplate bucket yields 15 pairs + the x pair
    uncapped = DD.lsh_candidate_pairs(sig, bands=4)
    assert uncapped.count() == 15 + 1
    # capped at 4: the boilerplate bucket is dropped, x pair survives
    capped = DD.lsh_candidate_pairs(sig, bands=4, max_bucket=4)
    got = {(r["doc_a"], r["doc_b"]) for r in capped.collect()}
    assert got == {("x1", "x2")}
    # and the composed pipeline applies the cap end-to-end
    full = DD.minhash_dedup(docs, num_hashes=8, bands=4, threshold=0.5, max_bucket=4)
    assert {(r["doc_a"], r["doc_b"]) for r in full.collect()} == {("x1", "x2")}


def test_jaccard_values_exact(spark):
    sh = spark.createDataFrame(
        [("x", "s1"), ("x", "s2"), ("x", "s3"), ("y", "s2"), ("y", "s3"), ("y", "s4")],
        "doc_id string, shingle string",
    )
    pairs = spark.createDataFrame([("x", "y")], "doc_a string, doc_b string")
    got = DD.jaccard_verify(pairs, sh, threshold=0.0).collect()[0]
    assert got["jaccard"] == pytest.approx(2 / 4)


def test_embedding_near_duplicates(spark):
    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.999, 0.01, 0.0]),   # near dup of 1
        (3, [0.0, 1.0, 0.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id int, embedding array<float>")
    got = {(r["id_a"], r["id_b"]) for r in DD.embedding_near_duplicates(emb, threshold=0.99).collect()}
    assert got == {(1, 2)}


def test_brute_force_topk(spark):
    rows = [
        (1, [1.0, 0.0]),
        (2, [0.9, 0.1]),
        (3, [0.0, 1.0]),
        (4, [-1.0, 0.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id int, embedding array<float>")
    topk = SIM.brute_force_topk(emb.filter("vec_id = 1"), emb, k=2)
    got = [(r["neighbor_id"], r["rank"]) for r in topk.collect()]
    assert got == [(2, 1), (3, 2)]


def test_bucketed_topk_matches_brute_force_for_close_pairs(spark):
    import numpy as np

    rng = np.random.RandomState(0)
    base = rng.normal(size=(20, 8))
    rows = []
    for i, v in enumerate(base):
        v = v / np.linalg.norm(v)
        rows.append((i, v.tolist()))
        rows.append((100 + i, (v + rng.normal(scale=0.01, size=8)).tolist()))  # twin
    emb = spark.createDataFrame(rows, "vec_id int, embedding array<float>")
    approx = SIM.bucketed_topk(emb, dim=8, k=1, bits=4)
    got = {r["query_id"]: r["neighbor_id"] for r in approx.collect()}
    # twins are nearly identical ⇒ same SRP bucket ⇒ found as top-1
    hits = sum(1 for i in range(20) if got.get(i) == 100 + i or got.get(100 + i) == i)
    assert hits >= 15  # high recall for near-identical pairs


def test_knn_label_vote(spark):
    topk = spark.createDataFrame(
        [(1, 10, 0.9, 1), (1, 11, 0.8, 2), (1, 12, 0.7, 3)],
        "query_id int, neighbor_id int, cos double, rank int",
    )
    labels = spark.createDataFrame(
        [(10, 7), (11, 7), (12, 3)], "vec_id int, label int"
    )
    got = SIM.knn_label_vote(topk, labels).collect()[0]
    assert (got["pred_label"], got["votes"]) == (7, 2)


def test_language_id(spark):
    rows = [
        ("e1", "the cat is in the house and it is warm"),
        ("d1", "der hund ist nicht in der schule und ich bin da"),
        ("f1", "le chat est dans la maison et il est pour les"),
        ("s1", "el perro es una mascota en la casa que es grande por"),
        ("z1", "这是一个测试文档我们在这里写了一些中文的句子"),
        ("u1", "xyzzy plugh qwerty"),
    ]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    got = {r["doc_id"]: r["pred_lang"] for r in TS.language_id(df).collect()}
    assert got == {"e1": "en", "d1": "de", "f1": "fr", "s1": "es", "z1": "zh", "u1": "und"}


def test_simhash_near_pairs_matches_brute_force(spark):
    """Banded Hamming LSH over 64-bit SimHash: for k < bands the pigeonhole
    guarantee makes the blocked join EXACTLY equal to brute-force Hamming
    search; identical fingerprints pair at hamming 0."""
    import random

    from xlink_spark.operators import dedup as DD

    rng = random.Random(7)
    rows = []
    for i in range(9):
        base = rng.getrandbits(64)
        twin = base
        for bit in rng.sample(range(64), i % 6):  # 0-5 flips: some beyond k
            twin ^= 1 << bit
        rows += [(f"d{i:02d}a", base), (f"d{i:02d}b", twin)]
    same = rng.getrandbits(64)
    rows += [("twin_a", same), ("twin_b", same)]
    fp = spark.createDataFrame(
        [(d, v - (1 << 64) if v >= 1 << 63 else v) for d, v in rows],  # signed
        "doc_id string, simhash long",
    )
    got = {
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in DD.simhash_near_pairs(fp, k=3, bands=4).collect()
    }
    a = fp.select(F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sa"))
    b = fp.select(F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sb"))
    brute = {
        (r["doc_a"], r["doc_b"], r["h"])
        for r in a.crossJoin(b)
        .filter(F.col("doc_a") < F.col("doc_b"))
        .withColumn("h", F.bit_count(F.col("sa").bitwiseXOR(F.col("sb"))))
        .filter(F.col("h") <= 3)
        .collect()
    }
    assert got == brute
    assert ("twin_a", "twin_b", 0) in got


def test_contamination_hits(spark):
    """Decontamination: a doc sharing ≥min_hits distinct n-grams with the
    eval set is flagged with the exact overlap count; others are not."""
    from xlink_spark.operators import dedup as DD

    corpus = spark.createDataFrame(
        [
            ("c1", "the quick brown fox jumps over the lazy dog today"),
            ("c2", "entirely different words with no benchmark overlap here"),
            ("c3", "quick brown fox appears once"),  # 2 shared 3-grams
        ],
        "doc_id string, text string",
    )
    eval_docs = spark.createDataFrame(
        [("e1", "the quick brown fox jumps")], "doc_id string, text string"
    )
    got = {
        r["doc_id"]: r["hits"]
        for r in DD.contamination_hits(corpus, eval_docs, ngram=3, min_hits=2).collect()
    }
    # eval 3-grams: {the quick brown, quick brown fox, brown fox jumps};
    # c1 contains all 3; c3 shares only 'quick brown fox' (1 < min_hits)
    assert got == {"c1": 3}
    got1 = {
        r["doc_id"]: r["hits"]
        for r in DD.contamination_hits(corpus, eval_docs, ngram=3, min_hits=1).collect()
    }
    assert got1 == {"c1": 3, "c3": 1}


def test_semantic_dedup(spark):
    """SemDeDup: twins in the same cluster collapse to the min-id survivor;
    distinct-cluster vectors survive untouched."""
    from xlink_spark.operators import dedup as DD

    cents = [(0, [1.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0])]
    rows = [
        (10, [0.9, 0.1, 0.0]),   # cluster 0
        (11, [0.9, 0.1, 0.0]),   # exact twin of 10 → dropped
        (12, [0.95, 0.05, 0.0]), # cluster 0, but cos(10,12) < 0.999? close...
        (20, [0.1, 0.9, 0.0]),   # cluster 1
        (21, [0.1, 0.9, 0.0]),   # twin of 20 → dropped
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {
        r["vec_id"]: (r["cluster"], r["kept"])
        for r in DD.semantic_dedup(emb, cents, threshold=0.9999).collect()
    }
    assert got[10] == (0, True) and got[11] == (0, False)
    assert got[20] == (1, True) and got[21] == (1, False)
    assert got[12][0] == 0 and got[12][1]  # near but below threshold: kept


def test_bucketed_topk_multiprobe_improves_recall(spark):
    """Multi-probe searches Hamming-1 buckets: recall@1 vs brute force is
    monotone in probes, and full 1-bit probing recovers boundary-split
    neighbors that single-bucket search misses."""
    import numpy as np

    rng = np.random.RandomState(3)
    base = rng.normal(size=(60, 16))
    rows = []
    for i, v in enumerate(base):
        v = v / np.linalg.norm(v)
        rows.append((i, v.tolist()))
        # twin with enough noise that SOME twins cross one hyperplane —
        # exactly the boundary case multi-probe exists for
        rows.append((1000 + i, (v + rng.normal(scale=0.1, size=16)).tolist()))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def twin_recall(probes):
        got = {
            r["query_id"]: r["neighbor_id"]
            for r in SIM.bucketed_topk(emb, dim=16, k=1, bits=6, probes=probes)
            .filter(F.col("rank") == 1)
            .collect()
        }
        return sum(1 for i in range(60) if got.get(i) == 1000 + i) / 60

    r0, r6 = twin_recall(0), twin_recall(6)
    assert r6 > r0  # strictly better: this seed has boundary-split twins
    assert r6 >= 0.8  # 1-bit probing recovers the boundary-split twins
    # probing must never invent pairs outside Hamming<=1 buckets: top-1 from
    # probes=0 is always still reachable at probes=6 (superset property)
    pairs0 = {
        (r["query_id"], r["neighbor_id"])
        for r in SIM.bucketed_topk(emb, dim=16, k=3, bits=6, probes=0).collect()
    }
    got6 = SIM.bucketed_topk(emb, dim=16, k=200, bits=6, probes=6)
    pairs6 = {(r["query_id"], r["neighbor_id"]) for r in got6.collect()}
    assert pairs0 <= pairs6


def test_ivf_topk_recall_and_probe_monotonicity(spark):
    """IVF ANN (k-means coarse quantizer): planted twins are recovered at
    high recall, more probes never lose pairs, and nprobe=n_clusters equals
    brute force exactly."""
    import numpy as np

    rng = np.random.RandomState(7)
    base = rng.normal(size=(50, 12))
    rows = []
    for i, v in enumerate(base):
        v = v / np.linalg.norm(v)
        rows.append((i, v.tolist()))
        rows.append((1000 + i, (v + rng.normal(scale=0.05, size=12)).tolist()))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def twin_recall(nprobe):
        got = {
            r["query_id"]: r["neighbor_id"]
            for r in SIM.ivf_topk(emb, k=1, n_clusters=8, nprobe=nprobe)
            .filter(F.col("rank") == 1)
            .collect()
        }
        return sum(1 for i in range(50) if got.get(i) == 1000 + i) / 50

    r1, r2 = twin_recall(1), twin_recall(2)
    assert r2 >= r1 >= 0.9  # tight twins share a cluster almost always
    # probing ALL clusters reproduces brute force exactly
    brute = {
        (r["query_id"], r["neighbor_id"], r["rank"])
        for r in SIM.brute_force_topk(emb, emb, k=3).collect()
    }
    full = {
        (r["query_id"], r["neighbor_id"], r["rank"])
        for r in SIM.ivf_topk(emb, k=3, n_clusters=8, nprobe=8).collect()
    }
    assert full == brute


@pytest.fixture(scope="module")
def quantizer_emb(spark):
    """60 vectors + a 24-centroid quantizer derived from the first rows."""
    import numpy as np

    rng = np.random.RandomState(11)
    rows = [
        (i, (v / np.linalg.norm(v)).tolist())
        for i, v in enumerate(rng.normal(size=(60, 10)))
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>").cache()
    cents = [(i, rows[i][1]) for i in range(24)]
    return emb, cents


def test_quantizer_assignment_literal_equals_join(spark, quantizer_emb):
    """The broadcast-join assignment path produces BIT-IDENTICAL probe
    lists to the literal-expression path on the same quantizer (same d²
    arithmetic, same tie-break), for nprobe 1 and 3."""
    emb, cents = quantizer_emb
    for nprobe in (1, 3):
        lit = {
            r["vec_id"]: list(r["_probes"])
            for r in SIM.assign_probe_clusters(
                emb, cents, nprobe, literal_centroid_max=100
            ).collect()
        }
        join = {
            r["vec_id"]: list(r["_probes"])
            for r in SIM.assign_probe_clusters(
                emb, cents, nprobe, literal_centroid_max=1
            ).collect()
        }
        assert lit == join
        assert all(len(p) == nprobe for p in lit.values())


def test_quantizer_assignment_plan_shapes(spark, quantizer_emb):
    """Above literal_centroid_max the assignment plan is a broadcast
    nested-loop fanout + narrow window — NOT a C-struct literal projection;
    below it there is no join at all. The join path must project vectors
    away before the ranking exchange (no array column rides the shuffle)."""
    emb, cents = quantizer_emb
    lit_plan = SIM.assign_probe_clusters(
        emb, cents, 2, literal_centroid_max=100
    )._jdf.queryExecution().optimizedPlan().toString()
    join_plan = SIM.assign_probe_clusters(
        emb, cents, 2, literal_centroid_max=1
    )._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in lit_plan  # pure per-row expression
    assert "BroadcastNestedLoopJoin" in join_plan
    assert "row_number" in join_plan
    # the exchange feeding the ranking window carries (id, cluster, d2) only
    import re as _re

    m = _re.search(r"Exchange hashpartitioning\(vec_id[^\n]*\n[^\n]*", join_plan)
    assert m and "cvec" not in m.group(0) and "embedding" not in m.group(0)


def test_ivf_and_semantic_dedup_identical_through_join_quantizer(spark, quantizer_emb):
    """ivf_topk and semantic_dedup give the same answers whichever
    assignment path the quantizer size selects."""
    emb, cents = quantizer_emb
    a = sorted(
        map(tuple, SIM.ivf_topk(emb, k=3, nprobe=2, centroids=cents,
                                literal_centroid_max=100).collect())
    )
    b = sorted(
        map(tuple, SIM.ivf_topk(emb, k=3, nprobe=2, centroids=cents,
                                literal_centroid_max=1).collect())
    )
    assert a == b and len(a) > 0
    sa = sorted(
        map(tuple, DD.semantic_dedup(emb, cents, threshold=0.9,
                                     literal_centroid_max=100).collect())
    )
    sb = sorted(
        map(tuple, DD.semantic_dedup(emb, cents, threshold=0.9,
                                     literal_centroid_max=1).collect())
    )
    assert sa == sb and len(sa) == 60


def test_curate_corpus_end_to_end(spark):
    """The full curation plan: exact dup, junk, near-dup, and contaminated
    docs each fall to their stage; the audit counts every drop."""
    from xlink_spark.plans.curation import curate_corpus
    from xlink_spark.plans.storage import scope

    base = "the quick brown fox jumps over the lazy dog and it is very happy today in the sun"
    rows = [
        ("d1", base),                      # kept
        ("d2", base),                      # exact dup of d1 -> dropped
        ("d3", base + " extra"),           # near-dup of d1 (J=15/16) -> dropped
        ("d4", "!!! ??? ,,, !!! ???"),     # junk -> low_quality
        ("d5", "alpha beta gamma delta epsilon zeta eta theta"),  # contaminated
        ("d6", "some other completely different sentence with the usual and common words in it"),  # kept
    ]
    docs = spark.createDataFrame(rows, "doc_id string, text string")
    eval_docs = spark.createDataFrame(
        [("e1", "report contains alpha beta gamma delta verbatim")],
        "doc_id string, text string",
    )
    # close the scope only after every output is consumed: the
    # drops/survivor frames are lineage-truncated, so a released frame is
    # gone for good (unlike a persist, which would silently recompute)
    with scope():
        kept, audit, drops = curate_corpus(
            docs, eval_docs, contamination_ngram=3
        )
        kept_rows = kept.collect()
        kept_ids = sorted(r["doc_id"] for r in kept_rows)
        counts = {r["stage"]: r["n_dropped"] for r in audit.collect()}
        fates = {r["doc_id"]: r["stage"] for r in drops.collect()}
    assert kept_ids == ["d1", "d6"]
    assert counts == {
        "exact_dup": 1, "low_quality": 1, "near_dup": 1, "contaminated": 1
    }
    assert fates == {
        "d2": "exact_dup", "d4": "low_quality", "d3": "near_dup",
        "d5": "contaminated",
    }
    # kept rows carry the quality column
    assert all(r["quality"] >= 0.2 for r in kept_rows)


def test_curate_corpus_audit_reads_cached_drops(spark):
    """kept materializes the (checkpointed) drop list once and the audit
    plan READS THE STORED BLOCKS — the LSH band join and contamination join
    never execute a second time. Pinned on the audit's executed plan: it
    scans the checkpointed relation and contains none of the drop-chain's
    signature hashing."""
    from xlink_spark.plans.curation import curate_corpus
    from xlink_spark.plans.storage import scope

    rows = [(f"d{i}", f"document number {i} with some shared filler words "
            + ("x " * (i % 7))) for i in range(30)]
    rows += [("dup1", rows[0][1]), ("dup2", rows[0][1])]
    docs = spark.createDataFrame(rows, "doc_id string, text string")
    sc = spark.sparkContext

    def stages_run(action):
        st = sc.statusTracker()
        before = set(st.getJobIdsForGroup(None))
        action()
        new = [j for j in st.getJobIdsForGroup(None) if j not in before]
        return sum(len(st.getJobInfo(j).stageIds) for j in new)

    with scope():
        kept, audit, drops = curate_corpus(docs, None)
        kept.count()  # materializes the chain; drops is now stored
        audit.collect()
        cached_stages = stages_run(lambda: audit.collect())
        plan = audit._jdf.queryExecution().executedPlan().toString()
    # drops is lineage-TRUNCATED (localCheckpoint): the audit legs scan the
    # stored blocks through a flat ExistingRDD — none of the drop chain's
    # operators (window, LSH hashing, quality scan) appear in its plan,
    # which is also how the nested-cache planning blowup is kept out
    assert "ExistingRDD" in plan
    for marker in ("row_number", "md5", "Window"):
        assert marker not in plan
    # ...and the executed work proves it: an audit over the checkpointed
    # drop list runs only tiny block-scan + single-partition-agg stages per
    # leg, while recomputing the drop chain per leg runs the exact-dup
    # window / LSH / quality scan again (measured ~30)
    assert cached_stages <= 18  # ~5 AQE stages per leg over stored blocks


def test_lsh_plan_construction_runs_no_job(spark):
    """lsh_candidate_pairs with num_hashes given must not trigger a Spark
    job during PLAN CONSTRUCTION (the old first() width probe re-ran the
    whole signature aggregation once per call)."""
    sc = spark.sparkContext
    docs = spark.createDataFrame(
        [("a", "one two three four five"), ("b", "one two three four six")],
        "doc_id string, text string",
    )
    sig = DD.minhash_signatures(DD.shingles(docs), num_hashes=8)
    before = len(sc.statusTracker().getJobIdsForGroup(None))
    cand = DD.lsh_candidate_pairs(sig, num_hashes=8, bands=4, max_bucket=10)
    after = len(sc.statusTracker().getJobIdsForGroup(None))
    assert after == before  # plan construction is action-free
    # and the built plans still compute the same candidates as the probe path
    probe = DD.lsh_candidate_pairs(sig, bands=4, max_bucket=10)
    assert sorted(map(tuple, cand.collect())) == sorted(map(tuple, probe.collect()))


def test_repetition_stats(spark):
    """Gopher repetition signals: duplicate lines and degenerate bigrams."""
    rows = [
        ("r1", "nav bar\ncontent one\nnav bar\ncontent two\nnav bar"),  # 5 lines, 3 distinct
        ("r2", "spam spam spam spam spam"),                             # one bigram 4/4
        ("r3", "each line here\nis quite different\nno repeats at all"),
        ("r4", ""),
    ]
    docs = spark.createDataFrame(rows, "doc_id string, text string")
    got = {r["doc_id"]: r for r in TS.repetition_stats(docs).collect()}
    assert got["r1"]["n_lines"] == 5
    assert got["r1"]["dup_line_frac_u"] == 400000      # 1 - 3/5
    assert got["r2"]["top_bigram_frac_u"] == 1000000   # 'spam spam' is all bigrams
    assert got["r3"]["dup_line_frac_u"] == 0
    assert got["r4"]["n_lines"] == 0 and got["r4"]["top_bigram_frac_u"] == 0


def test_redact_pii(spark):
    """Emails and phone-shaped runs are replaced with typed tags; counts
    agree with the replacements; clean text is untouched."""
    rows = [
        ("p1", "write to alice.smith+x@mail.example.org or bob@ex.co today"),
        ("p2", "call +1 (555) 010-7788 or 555-010-9944 now"),
        ("p3", "no pii in this perfectly ordinary sentence"),
    ]
    docs = spark.createDataFrame(rows, "doc_id string, text string")
    got = {r["doc_id"]: r for r in TS.redact_pii(docs).collect()}
    assert got["p1"]["n_emails"] == 2 and got["p1"]["n_phones"] == 0
    assert got["p1"]["redacted"] == "write to <EMAIL> or <EMAIL> today"
    assert got["p2"]["n_phones"] == 2
    assert got["p2"]["redacted"] == "call <PHONE> or <PHONE> now"
    assert got["p3"]["redacted"] == rows[2][1]
    assert got["p3"]["n_emails"] == 0 and got["p3"]["n_phones"] == 0


def test_redact_pii_leaves_numeric_prose_alone(spark):
    """Benign numeric text — year lists, scores, ISBNs, dates, version
    strings, id lists — must NOT be redacted as phones; phone-shaped spans
    (international +, parenthesized area code, hyphen groups ending in four
    digits) still are."""
    neg = [
        ("n1", "in 2020 2021 2022 the scores were 10 20 30 and 40 50 60"),
        ("n2", "ISBN 978-3-16-148410-0 was printed on 2026-08-17"),
        ("n3", "versions 1.2.3 and 10.20.30 shipped on 17.08.2026"),
        ("n4", "a list 1234 5678 9012 3456 of account ids"),
    ]
    pos = [
        ("y1", "reach us at +86 10 1234 5678 during office hours"),
        ("y2", "or (212) 555 0188 in new york"),
        ("y3", "fax 0171-555-0123 still works"),
    ]
    docs = spark.createDataFrame(neg + pos, "doc_id string, text string")
    got = {r["doc_id"]: r for r in TS.redact_pii(docs).collect()}
    for d, text in neg:
        assert got[d]["n_phones"] == 0, (d, got[d]["redacted"])
        assert got[d]["redacted"] == text
    for d, _ in pos:
        assert got[d]["n_phones"] == 1, (d, got[d]["redacted"])
        assert "<PHONE>" in got[d]["redacted"]


def test_curate_corpus_repetition_and_pii(spark):
    """Optional curation stages: Gopher repetition gate drops boilerplate,
    redact=True scrubs survivors' PII in place."""
    from xlink_spark.plans.curation import curate_corpus

    rows = [
        ("d1", "the cat is in the house and it is warm write bob@x.org today"),
        ("d2", "nav\nreal content line with the usual words here\nnav\nnav\nnav\nnav"),
    ]
    docs = spark.createDataFrame(rows, "doc_id string, text string")
    kept, audit, _drops = curate_corpus(
        docs, None, min_quality=0.0, max_dup_line_frac=0.5, redact=True
    )
    rows_kept = {r["doc_id"]: r for r in kept.collect()}
    counts = {r["stage"]: r["n_dropped"] for r in audit.collect()}
    assert set(rows_kept) == {"d1"}
    assert counts["repetitive"] == 1
    assert "<EMAIL>" in rows_kept["d1"]["text"]
    assert rows_kept["d1"]["n_emails"] == 1


def test_jsonl_corpus_roundtrip_and_quarantine(spark, tmp_path):
    """JSONL source: good rows parse against the declared contract, broken
    lines/contract violations land on the quarantine side with reasons."""
    from xlink_spark.sources.jsonl import read_jsonl_corpus

    p = tmp_path / "corpus.jsonl"
    p.write_text(
        '{"doc_id": "a", "text": "hello world", "source": "web", "lang": "en"}\n'
        '{"doc_id": "b", "text": "zweite zeile", "meta": {"crawl": "2026-01"}}\n'
        'this is not json at all\n'
        '{"text": "orphan text without id"}\n'
        '{"doc_id": "c"}\n'
    )
    docs, quar = read_jsonl_corpus(spark, str(p))
    got = {r["doc_id"]: r for r in docs.collect()}
    assert set(got) == {"a", "b"}
    assert got["a"]["lang"] == "en"
    assert "crawl" in (got["b"]["meta"] or "")  # nested object kept as raw JSON
    reasons = sorted(r["reason"] for r in quar.collect())
    assert reasons == ["missing_id", "missing_text", "not_json"]
    # round-trip: write back out and re-read
    out = tmp_path / "out"
    docs.write.mode("overwrite").json(str(out))
    docs2, quar2 = read_jsonl_corpus(spark, str(out))
    assert docs2.count() == 2 and quar2.count() == 0


def test_ivf_default_training_is_bounded_sample(spark):
    """The convenience KMeans training path samples by DEFAULT once the
    input exceeds the row cap (no accidental full-corpus iterative ML job),
    trains full only when the input is under the cap, and an explicit
    sample_fraction=1.0 opts back into the full fit."""
    import numpy as np

    rng = np.random.RandomState(2)
    emb = spark.createDataFrame(
        [(i, rng.normal(size=8).tolist()) for i in range(300)],
        "vec_id long, embedding array<double>",
    )

    def plan(df):
        return df._jdf.queryExecution().optimizedPlan().toString()

    capped = SIM.quantizer_training_frame(emb, train_row_cap=50)
    assert "Sample" in plan(capped)
    under = SIM.quantizer_training_frame(emb, train_row_cap=1000)
    assert "Sample" not in plan(under)
    full = SIM.quantizer_training_frame(emb, sample_fraction=1.0)
    assert "Sample" not in plan(full)
    # sampled training still yields a working quantizer end-to-end, and the
    # frozen-centroid path (all oracles) is unaffected by the default change
    got = SIM.ivf_topk(emb, k=2, n_clusters=4, nprobe=2, train_row_cap=50)
    assert got.count() > 0


def test_winnow_fingerprint_guarantee_and_discrimination(spark):
    """Winnowing's contract: any shared run of k+w-1 tokens yields a shared
    fingerprint; disjoint-vocabulary docs share none; identical docs share
    all. k=5, w=4 ⇒ guaranteed detection of ≥8-token shared passages."""
    shared = "alpha beta gamma delta epsilon zeta eta theta"  # 8 tokens
    rows = [
        ("a", f"one two three four five six {shared} seven eight nine ten"),
        ("b", f"uno dos tres cuatro cinco seis {shared} siete ocho nueve"),
        ("c", "red orange yellow green blue indigo violet magenta cyan teal"),
        ("d", f"one two three four five six {shared} seven eight nine ten"),
    ]
    docs = spark.createDataFrame(rows, "doc_id string, text string")
    fps = DD.winnow_fingerprints(docs, k=5, w=4)
    by_doc = {
        r["doc_id"]: set(r["f"])
        for r in fps.groupBy("doc_id").agg(F.collect_set("fp").alias("f")).collect()
    }
    assert by_doc["a"] & by_doc["b"], "shared 8-token passage must share a fingerprint"
    assert by_doc["a"] == by_doc["d"], "identical docs share the whole set"
    assert not (by_doc["a"] & by_doc["c"]) and not (by_doc["b"] & by_doc["c"])

    pairs = {
        (r["doc_a"], r["doc_b"]): r["n_shared"]
        for r in DD.winnow_overlap_pairs(docs, k=5, w=4, min_shared=1).collect()
    }
    assert ("a", "d") in pairs and pairs[("a", "d")] == len(by_doc["a"])
    assert ("a", "b") in pairs
    assert not any("c" in p for p in pairs)


def test_winnow_short_doc_and_bucket_cap(spark):
    """Docs shorter than k tokens fingerprint their whole token array (so
    byte-identical short docs still collide), and max_bucket drops a
    fingerprint shared by more docs than the cap BEFORE pair generation."""
    rows = [("s1", "tiny doc"), ("s2", "tiny doc"), ("s3", "other text")]
    docs = spark.createDataFrame(rows, "doc_id string, text string")
    pairs = {
        (r["doc_a"], r["doc_b"])
        for r in DD.winnow_overlap_pairs(docs, k=5, w=4, min_shared=1).collect()
    }
    assert pairs == {("s1", "s2")}

    # 5 identical docs → one 5-wide fingerprint bucket; cap at 4 kills it
    wide = spark.createDataFrame(
        [(f"w{i}", "alpha beta gamma delta epsilon zeta") for i in range(5)],
        "doc_id string, text string",
    )
    capped = DD.winnow_overlap_pairs(wide, k=5, w=4, min_shared=1, max_bucket=4)
    assert capped.count() == 0
    uncapped = DD.winnow_overlap_pairs(wide, k=5, w=4, min_shared=1)
    assert uncapped.count() == 10  # C(5,2)


def test_boilerplate_lines_thresholds(spark):
    """Footer on 4/4 docs and promo on 2/4 (exactly the 50% threshold) are
    boilerplate; a note on 1/4 and ANY line of a single-doc source are not
    (min_docs=2 guards tiny groups); empty lines never count."""
    rows = [
        ("a", 1, "alpha body one\nFOOTER A\npromo line"),
        ("a", 2, "alpha body two\nFOOTER A\npromo line"),
        ("a", 3, "alpha body three\n\nFOOTER A\nrare note"),
        ("a", 4, "alpha body four\nFOOTER A"),
        ("b", 5, "solo doc\nFOOTER B"),
    ]
    docs = spark.createDataFrame(rows, "source string, doc_id long, text string")
    bp = {(r["source"], r["line"]): r["n_docs_line"] for r in
          DD.boilerplate_lines(docs, min_docs=2, min_frac_u=500_000).collect()}
    assert bp == {("a", "FOOTER A"): 4, ("a", "promo line"): 2}


def test_boilerplate_counts_once_per_doc(spark):
    """A line repeated INSIDE one doc counts once: 'echo' appears 3x in one
    doc and 1x in another of 4 docs — 2/4 = 50%, boilerplate; without the
    per-doc distinct it would be overcounted but with it a 1-doc spam line
    ('selfspam', 5x in one doc) stays below min_docs."""
    rows = [
        ("a", 1, "echo\necho\necho\nselfspam\nselfspam\nselfspam\nselfspam\nselfspam\nu1"),
        ("a", 2, "echo\nu2"),
        ("a", 3, "u3"),
        ("a", 4, "u4"),
    ]
    docs = spark.createDataFrame(rows, "source string, doc_id long, text string")
    bp = {r["line"]: r["n_docs_line"] for r in
          DD.boilerplate_lines(docs, min_docs=2, min_frac_u=500_000).collect()}
    assert bp == {"echo": 2}


def test_strip_boilerplate_order_survival_and_structure(spark):
    """Stripping keeps line order and empty lines, and a doc whose every
    line is boilerplate survives with empty text instead of vanishing."""
    rows = [
        ("a", 1, "first\nFOOTER\nmiddle\n\nlast"),
        ("a", 2, "FOOTER"),
        ("a", 3, "other\nFOOTER"),
    ]
    docs = spark.createDataFrame(rows, "source string, doc_id long, text string")
    bp = DD.boilerplate_lines(docs, min_docs=2, min_frac_u=500_000)
    out = {r["doc_id"]: r["text"]
           for r in DD.strip_boilerplate(docs, bp).collect()}
    assert out == {1: "first\nmiddle\n\nlast", 2: "", 3: "other"}


def test_strip_boilerplate_null_text_survives(spark):
    """split(NULL) is NULL and posexplode(NULL) emits zero rows — without
    the coalesce a NULL-text doc would vanish, violating the 'every
    document survives' contract. It must come back as empty text."""
    rows = [("a", 1, "keep\nFOOTER"), ("a", 2, None), ("a", 3, "FOOTER")]
    docs = spark.createDataFrame(
        rows, "source string, doc_id long, text string"
    )
    bp = DD.boilerplate_lines(docs, min_docs=2, min_frac_u=500_000)
    out = {r["doc_id"]: r["text"]
           for r in DD.strip_boilerplate(docs, bp).collect()}
    assert set(out) == {1, 2, 3} and out[2] == ""


def test_strip_boilerplate_is_group_scoped(spark):
    """The same line is boilerplate in one source and content in another —
    decisions must not leak across groups."""
    rows = [
        ("a", 1, "shared line\nx1"),
        ("a", 2, "shared line\nx2"),
        ("b", 3, "shared line\ny1"),
        ("b", 4, "unrelated\ny2"),
    ]
    docs = spark.createDataFrame(rows, "source string, doc_id long, text string")
    bp = DD.boilerplate_lines(docs, min_docs=2, min_frac_u=500_000)
    out = {r["doc_id"]: r["text"]
           for r in DD.strip_boilerplate(docs, bp).collect()}
    assert out[1] == "x1" and out[2] == "x2"
    assert out[3] == "shared line\ny1" and out[4] == "unrelated\ny2"


def test_top_ngrams_counts_and_tiebreak(spark):
    """Known corpus: exact counts, (count desc, ngram asc) total order at
    the k boundary, short docs contribute nothing, n=1 degenerates to
    token counts."""
    docs = spark.createDataFrame(
        [
            (1, "a b c a b c a b"),   # "a b c"x2, "b c a"x2, "c a b"x2
            (2, "a b c d"),           # +1 "a b c", "b c d"
            (3, "x y"),               # too short for trigrams
        ],
        "doc_id long, text string",
    )
    top = TS.top_ngrams(docs, n=3, k=3).collect()
    assert [(r["ngram"], r["n_occurrences"]) for r in top] == [
        ("a b c", 3),
        ("b c a", 2),
        ("c a b", 2),  # ties with "b c a"; ngram asc decides — and "b c d"
    ]                  # (count 1) falls outside k deterministically
    uni = {r["ngram"]: r["n_occurrences"]
           for r in TS.top_ngrams(docs, n=1, k=10).collect()}
    assert uni["a"] == 4 and uni["b"] == 4 and uni["x"] == 1
    plan = TS.top_ngrams(docs, n=3, k=3)._jdf.queryExecution(
    ).executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_chunk_documents_hand_values(spark):
    """Window arithmetic pinned: 10 tokens, max 4, stride 3 → 3 chunks with
    exact texts and char offsets; short docs → one chunk; empty → none."""
    from xlink_spark.operators.packing import chunk_documents

    df = spark.createDataFrame(
        [("d1", "a bb ccc dd e ff g hh i jj"), ("d2", "one two"), ("d3", "")],
        "doc_id string, text string",
    )
    got = sorted(
        (r["doc_id"], r["chunk_id"], r["char_start"], r["chunk_text"])
        for r in chunk_documents(df, max_tokens=4, stride=3).collect()
    )
    assert got == [
        ("d1", 0, 0, "a bb ccc dd"),
        ("d1", 1, 9, "dd e ff g"),
        ("d1", 2, 17, "g hh i jj"),
        ("d2", 0, 0, "one two"),
    ]
    # char offsets index into the original text
    text = "a bb ccc dd e ff g hh i jj"
    for _, _, start, chunk in got[:3]:
        assert text[start : start + len(chunk)] == chunk

    import pytest as _pt

    with _pt.raises(ValueError):
        chunk_documents(df, max_tokens=0, stride=3)


def test_chunk_documents_plan_is_pure_jvm_no_shuffle(spark):
    """Chunking is one projection: no Python eval nodes, no exchange."""
    from xlink_spark.operators.packing import chunk_documents

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = (
        chunk_documents(docs, 40, 30)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas", "Exchange"):
        assert marker not in plan


def test_neardup_clusters_chain_closure_and_survivor(spark):
    """A~B, B~C closes to ONE cluster (A~C never observed); min-id
    survivor keeps exactly one doc per cluster; disjoint pairs stay
    separate clusters; pair order (doc_a > doc_b) doesn't matter."""
    from xlink_spark.operators.dedup import neardup_clusters

    pairs = spark.createDataFrame(
        [("b", "a"), ("b", "c"), ("x", "y")], ["doc_a", "doc_b"]
    )
    out = sorted(map(tuple, neardup_clusters(pairs).collect()))
    assert out == [
        ("a", "a", True),
        ("b", "a", False),
        ("c", "a", False),
        ("x", "x", True),
        ("y", "x", False),
    ]
    # exactly one survivor per cluster
    kept = [d for d, _, k in out if k]
    assert kept == ["a", "x"]


def test_histogram_quantiles_hand_values(spark):
    """Quantile p = lower bucket edge of the first cumulative bucket
    reaching ceil(p·n); NULLs excluded from n; duplicates counted."""
    from xlink_spark.operators.textstats import histogram_quantiles

    rows = [(v,) for v in [0.0, 0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]]
    rows.append((None,))
    df = spark.createDataFrame(rows, "v double")
    out = {
        r["p_micro"]: (r["rank"], r["bucket"], r["q"])
        for r in histogram_quantiles(df, "v", [500000, 900000, 1000000]).collect()
    }
    # n = 10 (NULL excluded): p50 → rank 5 → 5th sorted value 0.4;
    # p90 → rank 9 → 0.8; p100 → rank 10 → 0.9
    assert out[500000] == (5, 400000, 0.4)
    assert out[900000] == (9, 800000, 0.8)
    assert out[1000000] == (10, 900000, 0.9)

    # duplicate mass: 7×0.2 and 3×0.8 → p50 lands inside the 0.2 bucket
    dup = spark.createDataFrame([(0.2,)] * 7 + [(0.8,)] * 3, "v double")
    d = {
        r["p_micro"]: r["q"]
        for r in histogram_quantiles(dup, "v", [500000, 800000]).collect()
    }
    assert d[500000] == 0.2 and d[800000] == 0.8


def test_paragraph_dedup_hand_values(spark):
    """Keep-first paragraph dedup: cross-doc repeats keep the min
    (doc_id, pos) copy, within-doc repeats keep the earliest, all-repeat
    docs and NULL-text docs SURVIVE as empty text, empty paragraphs are
    structural (never deduped), and reassembly preserves order."""
    from xlink_spark.operators.dedup import paragraph_dedup

    docs = spark.createDataFrame(
        [
            (1, "alpha\n\nshared one\n\nbeta"),
            (2, "shared one\n\ngamma\n\nshared one"),
            (3, "shared one"),
            (4, "delta\n\n\n\nepsilon"),
            (5, None),
            (6, "zeta\n\nzeta"),
        ],
        "doc_id int, text string",
    )
    out = {r["doc_id"]: r["text"] for r in paragraph_dedup(docs).collect()}
    assert out == {
        1: "alpha\n\nshared one\n\nbeta",
        2: "gamma",
        3: "",
        4: "delta\n\n\n\nepsilon",
        5: "",
        6: "zeta",
    }


def test_paragraph_dedup_min_chars_floor(spark):
    """Paragraphs under min_chars are structural — repeated short headers
    stay in every doc; longer repeats still dedup."""
    from xlink_spark.operators.dedup import paragraph_dedup

    docs = spark.createDataFrame(
        [(1, "hi\n\nlong shared paragraph"), (2, "hi\n\nlong shared paragraph")],
        "doc_id int, text string",
    )
    out = {
        r["doc_id"]: r["text"]
        for r in paragraph_dedup(docs, min_chars=5).collect()
    }
    assert out == {1: "hi\n\nlong shared paragraph", 2: "hi"}


def test_histogram_drift_hand_values_and_invariants(spark):
    """PSI drift on hand-checkable histograms: identical snapshots give
    zero everywhere; a moved bucket yields the textbook (rc-rp)*ln(rc/rp)
    contribution in floored micro-units; missing buckets clamp to the
    integer epsilon instead of ln(0)."""
    import math

    from xlink_spark.operators.textstats import histogram_drift

    mk = lambda buckets: spark.createDataFrame([(b,) for b in buckets], "bucket long")

    # identical distributions -> psi_micro == 0 on every row
    same = [1] * 60 + [2] * 40
    out = histogram_drift(mk(same), mk(same)).collect()
    assert all(r["psi_micro"] == 0 for r in out)

    # 60/40 -> 50/50: per-bucket contribution floor((rc-rp)*ln(rc/rp))
    prev, cur = mk([1] * 60 + [2] * 40), mk([1] * 50 + [2] * 50)
    rows = {r["bucket"]: r for r in histogram_drift(prev, cur).collect()}
    assert rows[1]["prev_ppm"] == 600000 and rows[1]["cur_ppm"] == 500000
    exp1 = math.floor((500000 - 600000) * math.log(500000 / 600000))
    assert rows[1]["psi_micro"] == exp1 and exp1 > 0
    exp2 = math.floor((500000 - 400000) * math.log(500000 / 400000))
    assert rows[2]["psi_micro"] == exp2
    # total PSI for a 10-point two-bucket swing ~ 0.0405*1e6 of micro units
    total = sum(r["psi_micro"] for r in rows.values()) / 1e6
    assert 0.03 < total < 0.05

    # bucket present only on one side: the other side clamps to floor_ppm,
    # never ln(0)/division-by-zero
    rows2 = {
        r["bucket"]: r
        for r in histogram_drift(mk([1] * 10), mk([1] * 9 + [9])).collect()
    }
    assert rows2[9]["prev_ppm"] == 100  # clamped epsilon
    assert rows2[9]["psi_micro"] > 0
