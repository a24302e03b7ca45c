"""Property-based tests (hypothesis): invariants that must hold for ALL
inputs, not just the curated examples.

Pure-Python properties (regex behavior shared verbatim with the Spark and
DuckDB sides) run at full example counts; Spark-backed properties run a
handful of examples each (a SparkSession action per example is ~1s, and the
invariants are data-shape-independent — a few adversarial draws suffice on
top of the deterministic unit suites).
"""

from __future__ import annotations

import re

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from xlink_spark.operators.textstats import PII_EMAIL_RE, PII_PHONE_RE

_PHONE = re.compile(PII_PHONE_RE)
_EMAIL = re.compile(PII_EMAIL_RE)


@given(st.lists(st.integers(0, 9999), min_size=1, max_size=12))
def test_phone_regex_never_matches_space_separated_numbers(groups):
    """Numeric prose — space-separated digit groups (years, scores, ids) —
    must NEVER be redacted as a phone: no +, no parens, no separator
    structure means no match, for every combination of group values."""
    text = " ".join(str(g) for g in groups)
    assert _PHONE.search(text) is None, text


@given(
    st.integers(10, 9999),
    st.integers(100, 9999),
    st.integers(1000, 9999),
    st.sampled_from(["-", "."]),
)
def test_phone_regex_always_matches_grouped_numbers(a, b, c, sep):
    """Hyphen/dot-grouped digit runs ending in a four-digit group — the
    structural phone shape (first group 2-4 digits; a 1-digit head is
    ISBN-like and deliberately excluded) — always match, for every digit
    combination."""
    assert _PHONE.search(f"call {a}{sep}{b:03d}{sep}{c} now") is not None


@given(
    st.text(alphabet="abcdefghijklmnopqrstuvwxyz0123456789._", min_size=1, max_size=20),
    st.text(alphabet="abcdefghijklmnopqrstuvwxyz0123456789", min_size=1, max_size=15),
    st.sampled_from(["com", "org", "de", "co", "io"]),
)
def test_email_regex_matches_generated_addresses(local, dom, tld):
    assert _EMAIL.search(f"mail {local}@{dom}.{tld} please") is not None


@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.tuples(st.integers(0, 80), st.integers(1, 15)), min_size=1, max_size=25
    )
)
def test_resolve_conflicts_winners_never_overlap(spark, spans):
    """For ANY span set: conflict-resolution winners are pairwise
    non-overlapping within a doc, every winner is an input span, and the
    result is deterministic across re-runs."""
    from xlink_spark.operators.detect import resolve_conflicts

    rows = [
        ("doc", s, s + ln, f"m{i}", "ma") for i, (s, ln) in enumerate(spans)
    ]
    df = spark.createDataFrame(
        rows, "doc_id string, start int, end int, surface string, parse_from string"
    )
    won = sorted(
        (r["start"], r["end"], r["surface"]) for r in resolve_conflicts(df).collect()
    )
    inputs = {(s, e, m) for _, s, e, m, _ in rows}
    assert all((s, e, m) in inputs for s, e, m in won)
    for (s1, e1, _), (s2, e2, _) in zip(won, won[1:]):
        assert s2 >= e1, won  # winners sorted by start never overlap
    again = sorted(
        (r["start"], r["end"], r["surface"]) for r in resolve_conflicts(df).collect()
    )
    assert won == again


@settings(max_examples=3, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.data())
def test_simhash_banded_recall_is_perfect_below_band_count(spark, data):
    """Pigeonhole guarantee: with 4 bands over 64 bits, EVERY pair within
    Hamming distance ≤ 3 must be found (uncapped). Planted twins at random
    base fingerprints with ≤3 random bit flips are always recovered."""
    from xlink_spark.operators.dedup import simhash_near_pairs

    n = data.draw(st.integers(3, 8))
    bases = data.draw(
        st.lists(
            st.integers(-(2**63), 2**63 - 1), min_size=n, max_size=n, unique=True
        )
    )
    rows, expected = [], set()
    for i, b in enumerate(bases):
        rows.append((f"a{i}", b))
        flips = data.draw(st.lists(st.integers(0, 63), min_size=0, max_size=3))
        twin = b
        for f in flips:
            twin ^= 1 << f
        # normalize to signed 64-bit: Python's arbitrary-precision XOR can
        # leave the value above 2^63-1 (positive base, bit 63 set) OR below
        # -2^63 (negative base XOR 1<<63 underflows in two's complement)
        twin = ((twin + 2**63) % 2**64) - 2**63
        rows.append((f"b{i}", twin))
        if bin((b ^ twin) & (2**64 - 1)).count("1") <= 3:
            expected.add((f"a{i}", f"b{i}"))
    fp = spark.createDataFrame(rows, "doc_id string, simhash long")
    got = {
        (r["doc_a"], r["doc_b"])
        for r in simhash_near_pairs(fp, k=3, bands=4, max_bucket=None).collect()
    }
    assert expected <= got  # pigeonhole: no planted twin is ever missed


@settings(max_examples=4, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.text(alphabet="abcx", min_size=2, max_size=5), min_size=1, max_size=25
    ),
    st.lists(
        st.text(alphabet="abcx", min_size=2, max_size=5), min_size=1, max_size=25
    ),
)
def test_fuzzy_matching_equals_brute_levenshtein_for_any_surfaces(spark, qs, ds):
    """For ANY two surface sets over a collision-heavy alphabet, the
    deletion-neighborhood join + verify returns exactly the brute-force
    edit-distance<=1 pairs — completeness of the variant blocking AND
    precision of the verify, for every draw."""
    from xlink_spark.operators.fuzzy import fuzzy_surface_candidates

    def lev(a, b):
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    q = spark.createDataFrame([(s,) for s in set(qs)], "mention string")
    d = spark.createDataFrame([(s,) for s in set(ds)], "surface string")
    got = sorted(
        (r["mention"], r["surface"], r["dist"])
        for r in fuzzy_surface_candidates(q, d).collect()
    )
    want = sorted(
        (a, b, lev(a, b)) for a in set(qs) for b in set(ds) if lev(a, b) <= 1
    )
    assert got == want


@settings(max_examples=4, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.sets(st.integers(0, 30), min_size=1, max_size=15),
        min_size=2,
        max_size=15,
    ),
    st.integers(200_000, 900_000),
)
def test_exact_jaccard_join_complete_for_any_sets_and_threshold(spark, sets, t_ppm):
    """For ANY document sets and ANY threshold, the prefix+length+positional
    filtered join finds exactly the brute-force Jaccard>=t pairs — no filter
    may lose a true pair at any threshold."""
    from xlink_spark.operators.setsim import PPM, jaccard_join_exact

    docs = {f"d{i:02d}": {f"s{v}" for v in ss} for i, ss in enumerate(sets)}
    sh = spark.createDataFrame(
        [(d, s) for d, ss in docs.items() for s in ss], "doc_id string, shingle string"
    )
    got = sorted(
        (r["doc_a"], r["doc_b"], r["inter"], r["uni"])
        for r in jaccard_join_exact(sh, threshold_ppm=t_ppm).collect()
    )
    want = []
    names = sorted(docs)
    for i, a in enumerate(names):
        for b in names[i + 1:]:
            inter = len(docs[a] & docs[b])
            uni = len(docs[a] | docs[b])
            if inter * PPM >= t_ppm * uni:
                want.append((a, b, inter, uni))
    assert got == sorted(want)


@settings(max_examples=4, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(st.integers(0, 5), min_size=1, max_size=30),
    st.lists(st.integers(0, 5), min_size=1, max_size=30),
)
def test_reconcile_cluster_ids_invariants_for_any_assignments(spark, prev_cl, cur_cl):
    """For ANY pair of clusterings over overlapping node sets: exactly one
    output row per current component, carried stable_ids are previous
    component ids and pairwise UNIQUE, new rows keep their own id, and
    overlap counts are exact."""
    from xlink_spark.operators.cluster import reconcile_cluster_ids

    prev = spark.createDataFrame(
        [(i, 100 + c) for i, c in enumerate(prev_cl)], "node long, component long"
    )
    cur = spark.createDataFrame(
        [(i, 200 + c) for i, c in enumerate(cur_cl)], "node long, component long"
    )
    rows = reconcile_cluster_ids(prev, cur).collect()
    comps = [r["component"] for r in rows]
    assert sorted(comps) == sorted({200 + c for c in cur_cl})  # one row each
    carried = [r for r in rows if r["origin"] == "carried"]
    prev_ids = {100 + c for c in prev_cl}
    assert all(r["stable_id"] in prev_ids for r in carried)
    sids = [r["stable_id"] for r in carried]
    assert len(sids) == len(set(sids))  # carried ids unique
    for r in rows:
        if r["origin"] == "new":
            assert r["stable_id"] == r["component"] and r["overlap"] == 0
        else:
            want = sum(
                1
                for i, c in enumerate(cur_cl)
                if 200 + c == r["component"]
                and i < len(prev_cl)
                and 100 + prev_cl[i] == r["stable_id"]
            )
            assert r["overlap"] == want


@settings(max_examples=4, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(st.integers(0, 8), min_size=1, max_size=40),
    st.lists(st.integers(0, 8), min_size=1, max_size=40),
)
def test_histogram_drift_psi_nonnegative_and_zero_on_identity(spark, prev_b, cur_b):
    """For ANY two bucket multisets: every per-bucket psi_micro >= 0
    ((rc-rp) and ln(rc/rp) always share sign), and drift(x, x) is zero on
    every row — the invariants any drift gate silently relies on."""
    from xlink_spark.operators.textstats import histogram_drift

    mk = lambda bs: spark.createDataFrame([(b,) for b in bs], "bucket long")
    rows = histogram_drift(mk(prev_b), mk(cur_b)).collect()
    assert all(r["psi_micro"] >= 0 for r in rows)
    same = histogram_drift(mk(prev_b), mk(prev_b)).collect()
    assert all(r["psi_micro"] == 0 for r in same)


@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.tuples(st.integers(0, 5), st.integers(0, 400)),
        min_size=1, max_size=120, unique_by=lambda t: t[1],
    ),
    st.integers(1, 60),
)
def test_block_split_pairs_equal_plain_for_any_blocks(spark, rows, target):
    """BlockSplit invariants for ANY block layout and target: the pair
    set equals the naive within-block quadratic, no task exceeds the
    target, and no pair is emitted twice."""
    from pyspark.sql import functions as F

    from xlink_spark.operators.skew import block_split_pairs

    df = spark.createDataFrame(
        [(f"b{b}", i) for b, i in rows], ["block", "id"]
    )
    pairs = block_split_pairs(
        df, "block", "id", max_pairs_per_task=target
    ).collect()
    got = sorted((r["id_a"], r["id_b"]) for r in pairs)
    assert len(got) == len(set(got))
    by_block = {}
    for b, i in rows:
        by_block.setdefault(b, []).append(i)
    exp = sorted(
        (a, c)
        for mem in by_block.values()
        for a in mem
        for c in mem
        if a < c
    )
    assert got == exp
    from collections import Counter

    per_task = Counter(
        (r["block"], r["task_i"], r["task_j"]) for r in pairs
    )
    assert all(v <= target for v in per_task.values())


def _swoosh_reference(values, fields):
    """Sequential R-Swoosh reference (union merge): repeatedly pick any
    matching profile pair (all fields overlap), merge, restart — the
    ICAR properties make the fixed point order-independent, so a simple
    worklist loop is a valid oracle."""
    profs = {}
    for rid, fld, val in values:
        if fld in fields:
            profs.setdefault(rid, {"members": {rid}})
            profs[rid].setdefault(fld, set()).add(val)
    changed = True
    while changed:
        changed = False
        ids = sorted(profs)
        for i, x in enumerate(ids):
            for y in ids[i + 1:]:
                a, b = profs[x], profs[y]
                if all(
                    a.get(f, set()) & b.get(f, set()) for f in fields
                ):
                    for f in fields:
                        a.setdefault(f, set()).update(b.get(f, set()))
                    a["members"].update(b["members"])
                    del profs[y]
                    changed = True
                    break
            if changed:
                break
    out = set()
    for p in profs.values():
        eid = min(p["members"])
        for m in p["members"]:
            out.add((eid, m))
    return out


@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.tuples(
            st.integers(1, 12),
            st.sampled_from(["names", "keys"]),
            st.sampled_from(["a", "b", "c", "d", "e", "f"]),
        ),
        min_size=2, max_size=40,
    )
)
def test_iterative_merge_er_matches_sequential_swoosh(spark, values):
    """For ANY random evidence table, the parallel rounds converge to the
    same partition as sequential worklist R-Swoosh (the ICAR fixed point
    is unique), with the same min-member entity ids."""
    from xlink_spark.operators.linkage import iterative_merge_er

    df = spark.createDataFrame(values, ["id", "fld", "val"])
    out = iterative_merge_er(
        df, ["names", "keys"], max_rounds=12
    ).collect()
    assert all(r["converged"] for r in out)
    got = {(r["entity_id"], r["member_id"]) for r in out}
    assert got == _swoosh_reference(values, ["names", "keys"])


@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.tuples(
            st.integers(0, 6), st.integers(100, 106), st.integers(0, 50)
        ),
        min_size=1, max_size=30, unique_by=lambda t: (t[0], t[1]),
    )
)
def test_one_to_one_matching_is_stable(spark, pairs):
    """Stability (Gale-Shapley's defining property) for ANY random
    bipartite score table: the converged greedy/locally-dominant
    matching admits NO blocking pair — no unmatched candidate edge where
    BOTH endpoints would strictly prefer it (under the operator's total
    order: score desc, right asc, left asc) to their current assignment.
    With symmetric preferences derived from one edge weight, greedy IS
    the unique stable matching, so this pins one_to_one_matches as the
    stable-marriage solution without a separate Gale-Shapley operator."""
    from xlink_spark.operators.linkage import one_to_one_matches

    df = spark.createDataFrame(pairs, ["l", "r", "s"])
    out = one_to_one_matches(df, "l", "r", "s", rounds=12).collect()
    ml = {row["l"]: row for row in out}
    mr = {row["r"]: row for row in out}

    def key(s, r, l):
        return (-s, r, l)  # the operator's strict total order

    for (l, r, s) in pairs:
        if l in ml and ml[l]["r"] == r:
            continue  # matched edge cannot block
        l_better = l not in ml or key(s, r, l) < key(
            ml[l]["s"], ml[l]["r"], ml[l]["l"]
        )
        r_better = r not in mr or key(s, r, l) < key(
            mr[r]["s"], mr[r]["r"], mr[r]["l"]
        )
        assert not (l_better and r_better), (l, r, s)


def _collective_reference(pairs, rels, nodes, boost, th, rounds):
    """Python replay of collective_er's deterministic semantics: shared
    neighbor CLUSTERS under the current assignment, monotone edge
    accumulation, min-label connected components per round."""
    rel = {}
    for i, n in rels:
        rel.setdefault(i, set()).add(n)
    asg = {n: n for n in nodes}
    edges = set()
    rounds_used, converged = 0, True
    for _ in range(rounds):
        new = set(edges)
        for (a, b, attr) in pairs:
            na = {asg[x] for x in rel.get(a, set()) if x in asg}
            nb = {asg[x] for x in rel.get(b, set()) if x in asg}
            if attr + boost * len(na & nb) >= th:
                new.add((a, b))
        if new == edges:
            break
        edges = new
        rounds_used += 1
        # min-label CC over accumulated edges
        parent = {n: n for n in nodes}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for (a, b) in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        asg = {n: find(n) for n in nodes}
    else:
        converged = False
    return asg, rounds_used, converged


@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.tuples(
            st.integers(0, 9), st.integers(10, 19),
            st.sampled_from([0, 300_000, 600_000, 1_000_000]),
        ),
        min_size=1, max_size=25, unique_by=lambda t: (t[0], t[1]),
    ),
    st.lists(
        st.tuples(st.integers(0, 19), st.integers(0, 19)),
        max_size=25, unique_by=lambda t: t,
    ),
)
def test_collective_er_matches_python_replay(spark, pairs, rels):
    """For ANY random pair/relation tables, the distributed rounds equal
    a sequential Python replay of the same semantics — pins the
    neighbor-cluster map, the distinct-shared count, monotone edge
    accumulation, min-label CC, and the rounds/convergence accounting."""
    from xlink_spark.operators.linkage import collective_er

    nodes = sorted(
        {x for p in pairs for x in p[:2]} | {x for r in rels for x in r}
    )
    exp_asg, exp_ru, exp_cv = _collective_reference(
        pairs, rels, nodes, 500_000, 1_000_000, 3
    )
    pdf = spark.createDataFrame(pairs, ["id_a", "id_b", "attr_micro"])
    rdf = (
        spark.createDataFrame(rels, ["id", "nbr"])
        if rels
        else spark.createDataFrame([], "id long, nbr long")
    )
    ndf = spark.createDataFrame([(n,) for n in nodes], ["id"])
    out = collective_er(
        pdf, rdf, ndf,
        boost_micro=500_000, threshold_micro=1_000_000, rounds=3,
    ).collect()
    got = {r["node"]: r["cluster"] for r in out}
    assert got == exp_asg
    assert all(
        r["rounds_used"] == exp_ru and r["converged"] == exp_cv for r in out
    )
