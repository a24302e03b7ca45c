"""Hand-computed pins for the cluster-grain eval metrics (eval/bcubed)."""

from __future__ import annotations

from xlink_spark.eval.bcubed import bcubed

MICRO = 1_000_000


def _row(df):
    rows = df.collect()
    assert len(rows) == 1
    return rows[0].asDict()


def test_bcubed_textbook_example(spark):
    # The classic 7-item example (Amigó et al. 2009 variants):
    # gold clusters: {1,2,3,4,5} (A), {6,7} (B)
    # pred clusters: {1,2,3} (x), {4,5,6,7} (y)
    # Per-item P: items 1-3 → 3/3; 4,5 → 2/4; 6,7 → 2/4
    #   B³P = (3·1 + 4·0.5) / 7 = 5/7
    # Per-item R: 1-3 → 3/5; 4,5 → 2/5; 6,7 → 2/2
    #   B³R = (3·(3/5) + 2·(2/5) + 2·1) / 7 = (9/5 + 4/5 + 2) / 7 = 23/35
    items = [
        (1, "x", "A"), (2, "x", "A"), (3, "x", "A"),
        (4, "y", "A"), (5, "y", "A"), (6, "y", "B"), (7, "y", "B"),
    ]
    df = spark.createDataFrame(items, ["id", "pred", "gold"]).select("pred", "gold")
    r = _row(bcubed(df))
    assert r["n_items"] == 7
    assert r["n_pred_clusters"] == 2
    assert r["n_gold_clusters"] == 2
    # sum-of-floors semantics: per-cell floor(n_pg²·1e6 / n_den), then // N
    psum = (9 * MICRO // 3) + (4 * MICRO // 4) + (4 * MICRO // 4)
    rsum = (9 * MICRO // 5) + (4 * MICRO // 5) + (4 * MICRO // 2)
    assert r["bcubed_p_micro"] == psum // 7  # == 714285 (5/7)
    assert r["bcubed_r_micro"] == rsum // 7  # == 657142 (23/35)
    f = 2 * r["bcubed_p_micro"] * r["bcubed_r_micro"] // (
        r["bcubed_p_micro"] + r["bcubed_r_micro"]
    )
    assert r["bcubed_f_micro"] == f


def test_bcubed_perfect_and_degenerate(spark):
    # Perfect clustering → all three metrics 1.0
    perfect = spark.createDataFrame(
        [("a", "A"), ("a", "A"), ("b", "B")], ["pred", "gold"]
    )
    r = _row(bcubed(perfect))
    assert (
        r["bcubed_p_micro"] == r["bcubed_r_micro"] == r["bcubed_f_micro"] == MICRO
    )

    # All-in-one pred over 2 golds of size 2+2: P = 0.5, R = 1.0
    lump = spark.createDataFrame(
        [("z", "A"), ("z", "A"), ("z", "B"), ("z", "B")], ["pred", "gold"]
    )
    r = _row(bcubed(lump))
    assert r["bcubed_p_micro"] == MICRO // 2
    assert r["bcubed_r_micro"] == MICRO
    assert r["bcubed_f_micro"] == 2 * (MICRO // 2) * MICRO // (MICRO // 2 + MICRO)

    # Singletons pred over one gold of size 3: P = 1.0, R = 1/3
    split = spark.createDataFrame(
        [("p1", "A"), ("p2", "A"), ("p3", "A")], ["pred", "gold"]
    )
    r = _row(bcubed(split))
    assert r["bcubed_p_micro"] == MICRO
    assert r["bcubed_r_micro"] == MICRO // 3


def test_bcubed_empty_input_is_vacuous(spark):
    empty = spark.createDataFrame([], "pred string, gold string")
    r = _row(bcubed(empty))
    assert r["n_items"] == 0
    assert r["bcubed_p_micro"] == MICRO
    assert r["bcubed_r_micro"] == MICRO
    assert r["bcubed_f_micro"] == MICRO


def test_blocking_compare_frontier_direction(spark):
    """COARSENING a key can only raise pair completeness and lower
    reduction. Both prefix4 and md5bucket64 are coarsenings of `surface`
    (same token ⇒ same prefix, same bucket), so each must dominate surface
    on PC and fall at-or-below it on RR; prefix4 vs md5bucket64 are NOT
    comparable in general (different partitions) and deliberately not
    asserted against each other."""
    from xlink_spark.driver_queries import q_blocking_compare

    rows = {
        r["key_name"]: r
        for r in q_blocking_compare(spark, "/root/testdata/sf0.001").collect()
    }
    assert set(rows) == {"surface", "prefix4", "md5bucket64"}
    for coarse in ("prefix4", "md5bucket64"):
        assert rows[coarse]["pc_micro"] >= rows["surface"]["pc_micro"], coarse
        assert rows[coarse]["rr_micro"] <= rows["surface"]["rr_micro"], coarse
    # every key blocks the same record set
    ns = {r["n_records"] for r in rows.values()}
    assert len(ns) == 1


def test_adjusted_rand_identity_and_brute(spark):
    """ARI pins: identical clusterings ⇒ exactly 1.0; random labelings ==
    the brute pair-counting formula; the bigint rational matches the
    emitted double exactly (one correctly-rounded division)."""
    import itertools
    import random

    from xlink_spark.eval.bcubed import adjusted_rand

    # identity: ARI = 1 exactly
    rows = [(i, f"c{i % 3}", f"g{i % 3}") for i in range(12)]
    r = _row(
        adjusted_rand(
            spark.createDataFrame(rows, "id long, pred string, gold string")
        )
    )
    assert r["ari"] == 1.0 and r["ari_num"] == r["ari_den"] != 0

    rng = random.Random(4)
    items = [(i, f"p{rng.randint(0, 4)}", f"g{rng.randint(0, 3)}") for i in range(60)]
    r = _row(
        adjusted_rand(
            spark.createDataFrame(items, "id long, pred string, gold string")
        )
    )
    a = c = d = 0
    for (_i, p1, g1), (_j, p2, g2) in [
        (items[i], items[j]) for i, j in itertools.combinations(range(len(items)), 2)
    ]:
        if p1 == p2 and g1 == g2:
            a += 1
        elif p1 == p2:
            c += 1
        elif g1 == g2:
            d += 1
    n = len(items)
    c2 = n * (n - 1) // 2
    sum_ij, sum_a, sum_b = a, a + c, a + d
    num = 2 * (c2 * sum_ij - sum_a * sum_b)
    den = c2 * (sum_a + sum_b) - 2 * sum_a * sum_b
    assert (r["n"], r["sum_ij"], r["sum_a"], r["sum_b"], r["c2"]) == (
        n, sum_ij, sum_a, sum_b, c2,
    )
    assert (r["ari_num"], r["ari_den"]) == (num, den)
    assert r["ari"] == num / den


def test_adjusted_rand_degenerate_is_null(spark):
    """All-singletons on both sides: ARI undefined ⇒ NULL (den = 0), never
    a div-by-zero — the errors-are-DATA convention."""
    from xlink_spark.eval.bcubed import adjusted_rand

    rows = [(i, f"p{i}", f"g{i}") for i in range(5)]
    r = _row(
        adjusted_rand(
            spark.createDataFrame(rows, "id long, pred string, gold string")
        )
    )
    assert r["ari_den"] == 0 and r["ari"] is None


def test_vmeasure_textbook_and_replica(spark):
    """V-measure against an independent Python float replica of the
    micro-floor formulas, plus the boundary identities: perfect match →
    h=c=v=1; all-singleton pred → h=1, c<1; one-blob pred → c=1, h<1."""
    import math

    from xlink_spark.eval.bcubed import vmeasure

    def replica(pairs):
        n = len(pairs)
        from collections import Counter

        cells = Counter(pairs)
        pk = Counter(p for p, _ in pairs)
        gk = Counter(g for _, g in pairs)

        def term(cnt, marg):
            return math.floor((1000000.0 * cnt * math.log(marg / cnt)) / n)

        hgp = sum(term(c, pk[p]) for (p, g), c in cells.items())
        hpg = sum(term(c, gk[g]) for (p, g), c in cells.items())
        hg = sum(term(c, n) for c in gk.values())
        hp = sum(term(c, n) for c in pk.values())
        h = 1.0 if hg == 0 else 1.0 - hgp / hg
        c_ = 1.0 if hp == 0 else 1.0 - hpg / hp
        v = 0.0 if h + c_ == 0 else 2.0 * h * c_ / (h + c_)
        return hgp, hg, hpg, hp, h, c_, v

    cases = [
        [(0, 0), (0, 0), (1, 1), (1, 1)],              # perfect
        [(0, 0), (1, 0), (2, 1), (3, 1)],              # singletons: h=1
        [(0, 0), (0, 0), (0, 1), (0, 1)],              # one blob: c=1
        [(0, 0), (0, 0), (1, 0), (1, 1), (2, 2), (2, 2), (2, 1)],  # mixed
    ]
    for pairs in cases:
        df = spark.createDataFrame(pairs, "pred long, gold long")
        r = vmeasure(df).collect()[0]
        hgp, hg, hpg, hp, h, c_, v = replica(pairs)
        assert r["h_gold_given_pred_micro"] == hgp, pairs
        assert r["h_gold_micro"] == hg, pairs
        assert r["h_pred_given_gold_micro"] == hpg, pairs
        assert r["h_pred_micro"] == hp, pairs
        assert abs(r["homogeneity"] - h) < 1e-12
        assert abs(r["completeness"] - c_) < 1e-12
        assert abs(r["v_measure"] - v) < 1e-12
    # boundary identities
    perfect = vmeasure(
        spark.createDataFrame(cases[0], "pred long, gold long")
    ).collect()[0]
    assert perfect["homogeneity"] == perfect["completeness"] == 1.0
    assert perfect["v_measure"] == 1.0
    singles = vmeasure(
        spark.createDataFrame(cases[1], "pred long, gold long")
    ).collect()[0]
    assert singles["homogeneity"] == 1.0 and singles["completeness"] < 1.0
    blob = vmeasure(
        spark.createDataFrame(cases[2], "pred long, gold long")
    ).collect()[0]
    assert blob["completeness"] == 1.0 and blob["homogeneity"] < 1.0


def test_muc_textbook_examples(spark):
    """The Vilain et al. (1995) worked examples: a gold chain split in two
    scores R=2/3 P=1; the mirror scores R=1 P=2/3; perfect = 1/1."""
    from xlink_spark.eval.bcubed import muc

    split = [("a", "p1", "g1"), ("b", "p1", "g1"), ("c", "p2", "g1"), ("d", "p2", "g1")]
    m = muc(spark.createDataFrame(split, ["id", "pred", "gold"])).collect()[0]
    assert (m["muc_r_num"], m["muc_r_den"]) == (2, 3)
    assert (m["muc_p_num"], m["muc_p_den"]) == (2, 2)
    assert m["muc_r_micro"] == 666666 and m["muc_p_micro"] == 1000000
    mirror = [(i, g, p) for i, p, g in split]
    m2 = muc(spark.createDataFrame(mirror, ["id", "pred", "gold"])).collect()[0]
    assert m2["muc_p_micro"] == 666666 and m2["muc_r_micro"] == 1000000
    perfect = [("a", "x", "y"), ("b", "x", "y"), ("c", "z", "w")]
    m3 = muc(spark.createDataFrame(perfect, ["id", "pred", "gold"])).collect()[0]
    assert m3["muc_f_micro"] == 1000000


def test_muc_vacuous_and_singleton_blindness(spark):
    """All-singletons on a side reports the vacuous 10^6, and MUC's known
    blind spot is pinned: correctly isolated singletons add nothing (the
    same numerators as without them)."""
    from xlink_spark.eval.bcubed import muc

    single = [("a", "p1", "g1"), ("b", "p2", "g2")]
    m = muc(spark.createDataFrame(single, ["id", "pred", "gold"])).collect()[0]
    assert m["muc_p_micro"] == m["muc_r_micro"] == 1000000

    base = [("a", "p1", "g1"), ("b", "p1", "g1")]
    extra = base + [("c", "p9", "g9"), ("d", "p8", "g8")]
    mb = muc(spark.createDataFrame(base, ["id", "pred", "gold"])).collect()[0]
    me = muc(spark.createDataFrame(extra, ["id", "pred", "gold"])).collect()[0]
    assert (mb["muc_r_num"], mb["muc_p_num"]) == (me["muc_r_num"], me["muc_p_num"])


def test_muc_matches_procedural_reference(spark):
    """Seeded random clusterings against a per-cluster procedural replica
    of the Vilain counts."""
    import random

    from xlink_spark.eval.bcubed import muc

    rng = random.Random(13)
    rows = [(i, f"p{rng.randint(0, 9)}", f"g{rng.randint(0, 7)}") for i in range(500)]

    def side(items, key, other):
        num = den = 0
        clusters = {}
        for _, p, g in items:
            clusters.setdefault((p if key == "p" else g), []).append(
                g if key == "p" else p
            )
        for members in clusters.values():
            num += len(members) - len(set(members))
            den += len(members) - 1
        return num, den

    r_num, r_den = side(rows, "g", "p")
    p_num, p_den = side(rows, "p", "g")
    m = muc(spark.createDataFrame(rows, ["id", "pred", "gold"])).collect()[0]
    assert (m["muc_r_num"], m["muc_r_den"]) == (r_num, r_den)
    assert (m["muc_p_num"], m["muc_p_den"]) == (p_num, p_den)
    assert m["muc_p_micro"] == p_num * 1000000 // p_den


def test_blanc_worked_example_and_boundaries(spark):
    """BLANC (Recasens & Hovy 2011) on a hand-derived example — gold
    {a,b},{c},{d} vs pred {a,b,c},{d}: F_c = 1/2, F_n = 3/4, BLANC =
    5/8 (floor-micro 624999/499999/750000) — plus the paper's boundary
    conventions: all-singletons both sides reduces to F_n, one-cluster
    both sides reduces to F_c."""
    from xlink_spark.eval.bcubed import blanc

    rows = [("A", "x"), ("A", "x"), ("A", "y"), ("B", "z")]
    b = blanc(spark.createDataFrame(rows, ["pred", "gold"])).collect()[0]
    assert (b["rc"], b["links_pred"], b["links_gold"], b["rn"]) == (1, 3, 1, 3)
    assert b["blanc_pc_micro"] == 333333 and b["blanc_rc_micro"] == 1000000
    assert b["blanc_pn_micro"] == 1000000 and b["blanc_rn_micro"] == 600000
    assert b["blanc_fc_micro"] == 499999 and b["blanc_fn_micro"] == 750000
    assert b["blanc_micro"] == 624999

    singles = [(str(i), str(i)) for i in range(4)]
    s = blanc(spark.createDataFrame(singles, ["pred", "gold"])).collect()[0]
    assert s["blanc_fc_micro"] == 0 and s["blanc_micro"] == 1000000

    ones = [("A", "z")] * 4
    o = blanc(spark.createDataFrame(ones, ["pred", "gold"])).collect()[0]
    assert o["blanc_fn_micro"] == 0 and o["blanc_micro"] == 1000000


def test_blanc_matches_procedural_reference(spark):
    """Seeded random clusterings against an all-pairs procedural replica
    that literally enumerates the four pair classes — the O(n²) semantics
    the contingency-moment formulation must reproduce without ever
    materializing a pair."""
    import random
    from itertools import combinations

    from xlink_spark.eval.bcubed import blanc

    rng = random.Random(13)
    rows = [(i, f"p{rng.randint(0, 9)}", f"g{rng.randint(0, 7)}") for i in range(300)]
    rc = wc = wn = rn = 0
    for (_, p1, g1), (_, p2, g2) in combinations(rows, 2):
        cp, cg = p1 == p2, g1 == g2
        rc += cp and cg
        wc += cp and not cg
        wn += cg and not cp
        rn += (not cp) and (not cg)
    b = blanc(
        spark.createDataFrame(rows, ["id", "pred", "gold"]).select("pred", "gold")
    ).collect()[0]
    assert b["rc"] == rc and b["rn"] == rn
    assert b["links_pred"] == rc + wc and b["links_gold"] == rc + wn
    M = 1000000
    pc, rcm = rc * M // (rc + wc), rc * M // (rc + wn)
    pn, rnm = rn * M // (rn + wn), rn * M // (rn + wc)
    fc = 2 * pc * rcm // (pc + rcm) if pc + rcm else 0
    fn = 2 * pn * rnm // (pn + rnm) if pn + rnm else 0
    assert b["blanc_fc_micro"] == fc and b["blanc_fn_micro"] == fn
    assert b["blanc_micro"] == (fc + fn) // 2


def test_blanc_symmetry_between_merge_and_split(spark):
    """The bilateral property MUC lacks: over-merging (one big pred
    cluster) and over-splitting (all pred singletons) against the same
    two-cluster gold score with swapped link/non-link F1s — BLANC treats
    the two failure directions symmetrically when the gold is balanced."""
    from xlink_spark.eval.bcubed import blanc

    gold = [str(i % 2) for i in range(8)]
    merged = blanc(
        spark.createDataFrame([("A", g) for g in gold], ["pred", "gold"])
    ).collect()[0]
    split = blanc(
        spark.createDataFrame(
            [(str(i), g) for i, g in enumerate(gold)], ["pred", "gold"]
        )
    ).collect()[0]
    # merged: every gold link found (R_c=1) but no non-link survives;
    # split: every gold non-link found (R_n=1) but no link survives
    assert merged["blanc_rc_micro"] == 1000000 and merged["blanc_rn_micro"] == 0
    assert split["blanc_fc_micro"] == 0 and split["blanc_rn_micro"] == 1000000


def test_ceaf_luo_worked_example(spark):
    """CEAF (Luo 2005) on the paper's own running example — keys
    {1..5},{6,7},{8..12} vs responses {1..5},{6..12}: the optimal φ3
    alignment scores 10/12 mentions; the optimal φ4 alignment pairs K3
    (not K2) with R2, totalling 1 + 5/6 → CEAF_e P = 11/12, R = 11/18
    (floor-micro 916666 / 611111)."""
    from xlink_spark.eval.ceaf import ceaf

    data = (
        [(1, 10)] * 5  # R1 ∩ K1 = 5
        + [(2, 20)] * 2  # R2 ∩ K2 = 2
        + [(2, 30)] * 5  # R2 ∩ K3 = 5
    )
    r = ceaf(spark.createDataFrame(data, ["pred", "gold"])).collect()[0]
    assert (r["n_items"], r["n_pred_clusters"], r["n_gold_clusters"]) == (12, 2, 3)
    assert r["phi3_total"] == 10 and r["phi4_micro_total"] == 1833333
    assert r["ceafm_p_micro"] == r["ceafm_r_micro"] == 833333
    assert r["ceafe_p_micro"] == 916666 and r["ceafe_r_micro"] == 611111
    assert r["ceafe_f_micro"] == 733333

    perf = spark.createDataFrame([(i % 3, i % 3) for i in range(9)], ["pred", "gold"])
    p = ceaf(perf).collect()[0]
    assert p["ceafm_f_micro"] == 1000000 and p["ceafe_f_micro"] == 1000000

    e = ceaf(spark.createDataFrame([], "pred long, gold long")).collect()[0]
    assert e["ceafm_f_micro"] == 1000000 and e["ceafe_f_micro"] == 1000000


def test_ceaf_matches_bruteforce_optimal_alignment(spark):
    """Seeded random clusterings against a brute-force enumeration of ALL
    injective key→response alignments (itertools.permutations over the
    full similarity matrix, zeros included) — the exponential semantics
    the per-component subset-DP must reproduce, including the documented
    sum-of-floors φ4 arithmetic."""
    import random
    from itertools import permutations

    from xlink_spark.eval.ceaf import ceaf

    M = 1000000
    labelings = []
    for seed in (13, 29):
        rng = random.Random(seed)
        labelings.append([(rng.randint(0, 4), rng.randint(0, 3)) for _ in range(60)])
    # entangled components next to isolated 1×1 ones (pred 10+k ↔ gold 10+k)
    rng = random.Random(7)
    labelings.append(
        [(rng.randint(0, 3), rng.randint(0, 2)) for _ in range(30)]
        + [(10 + k, 10 + k) for k in range(3) for _ in range(k + 1)]
    )
    for seed, rows in enumerate(labelings):
        cells: dict[tuple[int, int], int] = {}
        np_, ng_ = {}, {}
        for p, g in rows:
            cells[(p, g)] = cells.get((p, g), 0) + 1
            np_[p] = np_.get(p, 0) + 1
            ng_[g] = ng_.get(g, 0) + 1
        preds, golds = sorted(np_), sorted(ng_)

        def w3(p, g):
            return cells.get((p, g), 0)

        def w4(p, g):
            return 2 * cells.get((p, g), 0) * M // (np_[p] + ng_[g])

        best3 = best4 = 0
        for perm in permutations(preds, len(golds)):
            best3 = max(best3, sum(w3(p, g) for p, g in zip(perm, golds)))
            best4 = max(best4, sum(w4(p, g) for p, g in zip(perm, golds)))
        r = ceaf(spark.createDataFrame(rows, ["pred", "gold"])).collect()[0]
        assert r["phi3_total"] == best3, seed
        assert r["phi4_micro_total"] == best4, seed
        assert r["ceafm_p_micro"] == best3 * M // len(rows)
        assert r["ceafe_p_micro"] == best4 // len(preds)
        assert r["ceafe_r_micro"] == best4 // len(golds)


def test_ceaf_penalizes_bcubed_blind_spots(spark):
    """The property CEAF was introduced for: one giant response cluster
    overlapping every key earns φ credit for ONE alignment only, so
    CEAF_e recall collapses where B³ precision only sags (Luo's §1
    motivation) — and the exact-DP width guards raise with the documented
    hash-sample advice instead of silently truncating."""
    import pytest as _pytest

    from xlink_spark.eval.ceaf import ceaf

    rows = [(0, g) for g in range(8) for _ in range(2)]  # 1 pred, 8 golds
    r = ceaf(spark.createDataFrame(rows, ["pred", "gold"])).collect()[0]
    # only one key can align: φ3 = 2 of 16 mentions
    assert r["phi3_total"] == 2 and r["ceafm_p_micro"] == 125000
    assert r["ceafe_p_micro"] < 250000 and r["ceafe_r_micro"] < 31250

    wide = [(p, 0) for p in range(41)]
    with _pytest.raises(ValueError, match="response clusters"):
        ceaf(spark.createDataFrame(wide, ["pred", "gold"]))
    tall = [(0, g) for g in range(9)]
    with _pytest.raises(ValueError, match="gold clusters"):
        ceaf(
            spark.createDataFrame(tall, ["pred", "gold"]),
            max_gold_per_component=8,
        )
    with _pytest.raises(ValueError, match="62-bit"):
        ceaf(
            spark.createDataFrame(wide, ["pred", "gold"]),
            max_pred_per_component=63,
        )


def test_ceaf_runs_components_only_over_entangled_cells(spark, monkeypatch):
    """A perfect clustering is all isolated 1×1 components: CEAF scores it
    without the connected-components loop. On a mixed labeling the loop
    sees exactly the entangled cells."""
    import pytest as _pytest

    import xlink_spark.eval.ceaf as ceaf_mod

    def _no_cc(edges, *a, **kw):
        raise AssertionError("connected_components called")

    monkeypatch.setattr(ceaf_mod, "connected_components", _no_cc)
    perf = spark.createDataFrame([(i % 5, 50 + i % 5) for i in range(20)], ["pred", "gold"])
    r = ceaf_mod.ceaf(perf).collect()[0]
    assert (r["phi3_total"], r["phi4_micro_total"]) == (20, 5 * MICRO)
    assert r["ceafm_f_micro"] == r["ceafe_f_micro"] == MICRO
    # a width guard still applies to a 1×1 component
    with _pytest.raises(ValueError, match="gold clusters"):
        ceaf_mod.ceaf(perf, max_gold_per_component=0)

    from xlink_spark.operators.cluster import connected_components

    seen = []

    def _spy(edges, *a, **kw):
        seen.append(sorted(tuple(e) for e in edges.collect()))
        return connected_components(edges, *a, **kw)

    monkeypatch.setattr(ceaf_mod, "connected_components", _spy)
    # entangled: pred 1 over gold 1, 2 and pred 2 over gold 2; plus 1×1s
    rows = [(1, 1), (1, 1), (1, 2), (2, 2), (3, 3), (4, 4), (4, 4)]
    r = ceaf_mod.ceaf(spark.createDataFrame(rows, ["pred", "gold"])).collect()[0]
    assert seen == [[(2, 3), (2, 5), (4, 5)]]  # nodes 2·pred / 2·gold+1
    # 1×1s: φ3 1 + 2, φ4 10⁶ each; entangled optimum p1↔g1, p2↔g2
    assert r["phi3_total"] == 3 + 2 + 1
    assert r["phi4_micro_total"] == 2 * MICRO + 2 * 2 * MICRO // 5 + 2 * MICRO // 3


def _gauge_replica(rows):
    """Integer sums of every closed-form gauge, counted per cluster in
    Python from (pred, gold) rows."""
    from collections import Counter

    cells, np_, ng_ = Counter(rows), Counter(p for p, _ in rows), Counter(g for _, g in rows)
    n = len(rows)

    def c2(k):
        return k * (k - 1) // 2

    def parts(side):
        return Counter(pg[side] for pg in cells)

    pp, pg = parts(0), parts(1)
    return {
        "n_items": n,
        "n": n,
        "n_pred_clusters": len(np_),
        "n_gold_clusters": len(ng_),
        "bcubed_p_micro": (
            sum(c * c * MICRO // np_[p] for (p, _), c in cells.items()) // n if n else MICRO
        ),
        "bcubed_r_micro": (
            sum(c * c * MICRO // ng_[g] for (_, g), c in cells.items()) // n if n else MICRO
        ),
        "muc_p_num": sum(k - pp[p] for p, k in np_.items()),
        "muc_p_den": sum(k - 1 for k in np_.values()),
        "muc_r_num": sum(k - pg[g] for g, k in ng_.items()),
        "muc_r_den": sum(k - 1 for k in ng_.values()),
        "sum_ij": sum(c2(c) for c in cells.values()),
        "rc": sum(c2(c) for c in cells.values()),
        "sum_a": sum(c2(k) for k in np_.values()),
        "links_pred": sum(c2(k) for k in np_.values()),
        "sum_b": sum(c2(k) for k in ng_.values()),
        "links_gold": sum(c2(k) for k in ng_.values()),
        "c2": c2(n),
    }


def test_cluster_gauges_equal_each_gauge(spark):
    """cluster_gauges is one row carrying every column of the five
    closed-form gauges: equal column for column to each public gauge on a
    seeded random labeling, and its per-cluster sums equal a Python count
    there and on empty input, all singletons and one cluster over
    everything (the last two with ari_den = 0)."""
    import random

    from xlink_spark.eval.bcubed import (
        adjusted_rand,
        bcubed,
        blanc,
        cluster_gauges,
        muc,
        vmeasure,
    )

    rng = random.Random(11)
    cases = {
        "random": [(rng.randint(0, 6), rng.randint(0, 4)) for _ in range(70)],
        "empty": [],
        "singletons": [(i, 100 + i) for i in range(5)],
        "one_cluster": [(3, 8)] * 6,
    }
    got = {}
    for name, rows in cases.items():
        got[name] = _row(cluster_gauges(spark.createDataFrame(rows, "pred long, gold long")))
        for k, v in _gauge_replica(rows).items():
            assert got[name][k] == v, (name, k)
    df = spark.createDataFrame(cases["random"], "pred long, gold long")
    for fn in (bcubed, muc, blanc, adjusted_rand, vmeasure):
        for k, v in _row(fn(df)).items():
            assert got["random"][k] == v, (fn.__name__, k)
    empty = got["empty"]
    assert (empty["ari_num"], empty["ari_den"], empty["ari"]) == (0, 0, None)
    assert empty["bcubed_f_micro"] == empty["muc_f_micro"] == MICRO
    assert empty["v_measure"] == 1.0
    for name in ("singletons", "one_cluster"):
        assert got[name]["ari_den"] == 0 and got[name]["ari"] is None, name
