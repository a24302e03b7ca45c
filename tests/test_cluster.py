"""Connected components: known graphs, skew, resume-from-snapshot."""

from __future__ import annotations

from pyspark.sql import functions as F

from xlink_spark.operators.cluster import connected_components
from xlink_spark.plans.snapshots import SnapshotStore


def _cc(spark, edges, **kw):
    df = spark.createDataFrame(edges, "src long, dst long")
    rows = connected_components(df, **kw).collect()
    comp: dict[int, set[int]] = {}
    for r in rows:
        comp.setdefault(r["component"], set()).add(r["node"])
    return {frozenset(s) for s in comp.values()}


def test_cc_two_components(spark):
    got = _cc(spark, [(1, 2), (2, 3), (10, 11), (12, 11)])
    assert got == {frozenset({1, 2, 3}), frozenset({10, 11, 12})}


def test_cc_chain_and_selfloop(spark):
    # long chain forces multiple star rounds; self-loops are dropped
    chain = [(i, i + 1) for i in range(30)] + [(5, 5)]
    got = _cc(spark, chain)
    assert got == {frozenset(range(31))}


def test_cc_star_skew(spark):
    # one hub connected to 200 leaves (power-law head) + separate pair
    edges = [(0, i) for i in range(1, 201)] + [(500, 501)]
    got = _cc(spark, edges)
    assert got == {frozenset(range(201)), frozenset({500, 501})}


def test_cc_resume_from_snapshot(spark, tmp_path):
    edges = spark.createDataFrame([(i, i + 1) for i in range(20)], "src long, dst long")
    store = SnapshotStore(str(tmp_path / "cc"))
    full = connected_components(edges, store=store, stage="cc").collect()
    last = store.last_iteration("cc")
    assert last is not None and last[0] >= 1  # several rounds committed
    # simulate a fresh run resuming from the committed snapshots: it must
    # produce the identical assignment without recomputing earlier rounds
    resumed = connected_components(edges, store=store, stage="cc").collect()
    assert sorted(map(tuple, full)) == sorted(map(tuple, resumed))
    m = store.manifest("cc", last[0])
    assert "edges" in m["metrics"] and m["rows"] >= 0


def test_snapshot_store_atomicity(spark, tmp_path):
    store = SnapshotStore(str(tmp_path / "s"))
    df = spark.range(5)
    store.commit_table("t", df)
    assert store.has_table("t")
    # a dir without MANIFEST is not a committed snapshot
    import os

    os.makedirs(tmp_path / "s" / "half" / "data", exist_ok=True)
    assert not store.has_table("half")
    got = store.read_table(spark, "t").count()
    assert got == 5


def test_get_or_compute_skips_recompute(spark, tmp_path):
    store = SnapshotStore(str(tmp_path / "memo"))
    calls = []

    def compute():
        calls.append(1)
        return spark.range(3)

    a = store.get_or_compute(spark, "stage1", compute)
    b = store.get_or_compute(spark, "stage1", compute)
    assert a.count() == b.count() == 3
    assert len(calls) == 1


def test_manifest_per_partition_lineage(spark, tmp_path):
    """Snapshot manifests record per-partition row counts from the written
    parquet footers (per-partition lineage + counters, no recompute)."""
    from xlink_spark.plans.snapshots import SnapshotStore

    store = SnapshotStore(str(tmp_path / "s"))
    df = spark.range(100).repartition(4)
    m = store.commit_table("t", df)
    assert m["rows"] == 100
    assert m["partitions"] == len(m["partition_rows"]) >= 1
    assert sum(m["partition_rows"].values()) == 100
    assert all(f.endswith(".parquet") for f in m["partition_rows"])


def test_cluster_size_histogram_and_largest(spark):
    """Hand-pinned size distribution."""
    from xlink_spark.operators.cluster import (
        cluster_size_histogram,
        connected_components,
    )

    # components: {1,2,3,4} (chain), {10,11}, {20,21}
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21)],
        ["src", "dst"],
    )
    cc = connected_components(edges)
    hist = {r["size"]: r.asDict() for r in cluster_size_histogram(cc).collect()}
    assert hist[4]["n_clusters"] == 1 and hist[4]["n_nodes"] == 4
    assert hist[2]["n_clusters"] == 2 and hist[2]["n_nodes"] == 4
    assert sorted(hist) == [2, 4]


def test_reconcile_cluster_ids_merge_split_new_deleted(spark):
    """Stable-id semantics across a snapshot boundary: merge takes the
    bigger previous id's label, a split's larger part carries the id while
    the smaller part goes fresh, untouched clusters keep ids, brand-new
    clusters are origin='new', and deleted nodes don't block carrying."""
    from xlink_spark.operators.cluster import reconcile_cluster_ids

    # previous snapshot: P1={1,2,3}, P2={10,11}, P3={20,21,22,23}, P4={40,41}
    prev = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (10, 10), (11, 10),
         (20, 20), (21, 20), (22, 20), (23, 20), (40, 40), (41, 40)],
        "node long, component long",
    )
    # current run:
    #  C1={1,2,3,10,11}  (P1 merged with P2: overlap 3 vs 2 -> carries 1)
    #  C20={20,21} and C22={22,23}: P3 split evenly -> tie on overlap 2,
    #       smaller current id (20) carries 20, the other goes 'new'
    #  C40={41}          (node 40 deleted; still carries 40)
    #  C90={90,91}       (brand new)
    cur = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (10, 1), (11, 1),
         (20, 20), (21, 20), (22, 22), (23, 22),
         (41, 41), (90, 90), (91, 90)],
        "node long, component long",
    )
    out = {
        r["component"]: (r["stable_id"], r["overlap"], r["origin"])
        for r in reconcile_cluster_ids(prev, cur).collect()
    }
    assert out[1] == (1, 3, "carried")       # merge: P1 overlap 3 beats P2's 2
    assert out[20] == (20, 2, "carried")     # split: tie -> smaller cur id wins
    assert out[22] == (22, 0, "new")         # split loser goes fresh
    assert out[41] == (40, 1, "carried")     # survives node deletion
    assert out[90] == (90, 0, "new")
    # carried stable ids stay unique
    carried = [v[0] for v in out.values() if v[2] == "carried"]
    assert len(carried) == len(set(carried))


def test_reconcile_split_loser_collision_needs_mint(spark):
    """The split-loser trap: B keeps the previous minimum node, so B's own
    CC label IS the id the winner carried — adopting it would fuse two
    clusters. reconcile must flag it needs_mint (NULL id) and
    mint_stable_ids must assign a fresh id above everything reserved."""
    from xlink_spark.operators.cluster import mint_stable_ids, reconcile_cluster_ids

    prev = spark.createDataFrame(
        [(n, 1) for n in (1, 2, 3, 4, 5)], "node long, component long"
    )
    # split: A={2,3,4} (labeled 2, overlap 3 -> carries 1), B={1,5}
    # (labeled 1 because it kept node 1, overlap 2 -> loses)
    cur = spark.createDataFrame(
        [(2, 2), (3, 2), (4, 2), (1, 1), (5, 1)], "node long, component long"
    )
    rec = {r["component"]: r for r in reconcile_cluster_ids(prev, cur).collect()}
    assert rec[2]["stable_id"] == 1 and rec[2]["origin"] == "carried"
    assert rec[1]["stable_id"] is None and rec[1]["origin"] == "needs_mint"

    reserved = prev.select("component").distinct()
    minted = {
        r["component"]: r
        for r in mint_stable_ids(
            reconcile_cluster_ids(prev, cur), reserved
        ).collect()
    }
    assert minted[2]["stable_id"] == 1
    assert minted[1]["origin"] == "minted"
    assert minted[1]["stable_id"] > 1  # above every reserved/carried id
    ids = [r["stable_id"] for r in minted.values()]
    assert len(ids) == len(set(ids))  # injective after minting


# ------------------------------------------------------- incremental CC
def _full_vs_incremental(spark, old_edges, new_edges):
    from xlink_spark.operators.cluster import incremental_components

    old = spark.createDataFrame(old_edges, "src long, dst long")
    new = spark.createDataFrame(new_edges, "src long, dst long")
    prev = connected_components(old)
    inc = incremental_components(prev, new).collect()
    full = connected_components(old.unionByName(new)).collect()
    return sorted(map(tuple, inc)), sorted(map(tuple, full))


def test_incremental_cc_equals_full_exact_labels(spark):
    # one batch exercising every delta shape at once: a merge of two prev
    # components (3-10), a new node attaching to an old component (11->2),
    # a brand-new component (20,21), and a no-op internal edge (1-2)
    old = [(1, 2), (2, 3), (10, 11), (12, 11)]
    new = [(3, 10), (11, 2), (20, 21), (1, 2)]
    inc, full = _full_vs_incremental(spark, old, new)
    assert inc == full  # row-identical, labels included


def test_incremental_cc_transitive_merge_chain(spark):
    # new edges forming a path that merges THREE prev components at once;
    # the merged label must be the global minimum (here 0)
    old = [(0, 1), (10, 11), (20, 21)]
    new = [(1, 10), (11, 20)]
    inc, full = _full_vs_incremental(spark, old, new)
    assert inc == full
    comps = {c for _, c in inc}
    assert comps == {0}


def test_incremental_cc_randomized_equivalence(spark):
    import random

    rng = random.Random(7)
    for _ in range(3):
        edges = [
            (rng.randrange(16), rng.randrange(16)) for _ in range(24)
        ]
        cut = rng.randrange(1, 23)
        inc, full = _full_vs_incremental(spark, edges[:cut], edges[cut:])
        assert inc == full


# ------------------------------------------------------------- pagerank
def _py_pagerank(edges, iterations=3, num=17, den=20):
    nodes = sorted({n for e in edges for n in e})
    out = {}
    for s, _ in edges:
        out[s] = out.get(s, 0) + 1
    r = {n: 1_000_000 for n in nodes}
    tele = (den - num) * 1_000_000 // den
    for _ in range(iterations):
        s = {n: 0 for n in nodes}
        for u, v in edges:
            s[v] += r[u] // out[u]
        r = {n: tele + num * s[n] // den for n in nodes}
    return r


def test_pagerank_integer_matches_reference_arithmetic(spark):
    from xlink_spark.operators.cluster import pagerank_integer

    edges = [(1, 2), (2, 3), (3, 1), (1, 3), (4, 3)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["rank_micro"] for r in pagerank_integer(df).collect()}
    assert got == _py_pagerank(edges)
    # the sink-heavy node outranks the source-only node
    assert got[3] > got[4]


def test_pagerank_partitioning_invariance(spark):
    from xlink_spark.operators.cluster import pagerank_integer

    import random

    rng = random.Random(3)
    edges = [(rng.randrange(30), rng.randrange(30)) for _ in range(120)]
    edges = [e for e in edges if e[0] != e[1]]
    df = spark.createDataFrame(edges, "src long, dst long")
    a = sorted(map(tuple, pagerank_integer(df).collect()))
    b = sorted(map(tuple, pagerank_integer(df.repartition(7)).collect()))
    assert a == b  # bigint arithmetic: layout cannot move a single micro-unit


def test_pagerank_string_nodes(spark):
    from xlink_spark.operators.cluster import pagerank_integer

    df = spark.createDataFrame(
        [("m:paris", "e:Paris"), ("e:Paris", "m:paris"), ("m:paris", "e:Paris_TX")],
        "src string, dst string",
    )
    got = {r["node"]: r["rank_micro"] for r in pagerank_integer(df).collect()}
    assert set(got) == {"m:paris", "e:Paris", "e:Paris_TX"}
    assert got["e:Paris"] >= got["e:Paris_TX"]


def test_star_clusters_never_chain_and_bound_diameter(spark):
    """Parallel-greedy star cover (Aslam et al. 2004): on the path
    1-2-3-4-5 connected components chains everything into ONE cluster,
    but stars split at the degree maxima — {1,2,3} around 2 and {4,5}
    around 4 — every satellite exactly one hop from its center. Triangle
    ties break to the min id; a center is never also a satellite."""
    from xlink_spark.operators.cluster import star_clusters

    e = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5)], "src long, dst long"
    )
    r = {x["node"]: (x["center"], x["round"]) for x in star_clusters(e).collect()}
    assert r == {1: (2, 1), 2: (2, 1), 3: (2, 1), 4: (4, 2), 5: (4, 2)}

    t = spark.createDataFrame([(1, 2), (2, 3), (1, 3)], "src long, dst long")
    rt = {x["node"]: (x["center"], x["round"]) for x in star_clusters(t).collect()}
    assert rt == {1: (1, 1), 2: (1, 1), 3: (1, 1)}

    # satellites are one hop from their center: center of every node is
    # itself or an adjacent node (diameter <= 2 by construction)
    adj = {(1, 2), (2, 3), (3, 4), (4, 5)}
    adj |= {(b, a) for a, b in adj}
    for n, (c, _) in r.items():
        assert c == n or (n, c) in adj


def test_star_clusters_round_exhaustion_and_exact_rounds(spark):
    """rounds=1 on the 7-path: only node 2 is a round-1 local key maximum
    (static full-graph degrees), its neighbors 1 and 3 attach, and ALL
    remaining nodes fall out as singleton centers at round = rounds+1 —
    the documented exact-K semantics — while rounds=3 assigns everyone a
    real star. Node ids at 0 (key_base boundary) survive the key
    encode/decode round-trip."""
    from xlink_spark.operators.cluster import star_clusters

    p = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 7)], "src long, dst long"
    )
    r1 = {x["node"]: (x["center"], x["round"]) for x in star_clusters(p, rounds=1).collect()}
    assert r1[1] == (2, 1) and r1[2] == (2, 1) and r1[3] == (2, 1)
    assert all(r1[n] == (n, 2) for n in (4, 5, 6, 7))

    r3 = {x["node"]: x["round"] for x in star_clusters(p, rounds=3).collect()}
    assert max(r3.values()) <= 3  # no leftovers with enough rounds

    z = spark.createDataFrame([(0, 1), (1, 2)], "src long, dst long")
    rz = {x["node"]: x["center"] for x in star_clusters(z).collect()}
    assert rz == {0: 1, 1: 1, 2: 1}


def test_center_clusters_similarity_order_and_absorption(spark):
    """CENTER (Hassanzadeh & Miller 2009) on the scored path
    1-2(50)-3(90)-4(40): the strongest edge (2,3) is mutual-best and
    fires first — center 2, satellite 3 — exactly as the sequential
    descending-similarity scan; node 1 attaches to the now-existing
    center 2 in round TWO (centers persist and absorb), and node 4,
    whose only edge leads to the consumed satellite 3, falls out as a
    flagged singleton — the same outcome as the sequential skip rule."""
    from xlink_spark.operators.cluster import center_clusters

    e = spark.createDataFrame(
        [(1, 2, 50), (2, 3, 90), (3, 4, 40)],
        "src long, dst long, score_micro long",
    )
    r = {x["node"]: (x["center"], x["round"]) for x in center_clusters(e).collect()}
    assert r == {1: (2, 2), 2: (2, 1), 3: (2, 1), 4: (4, 4)}

    # determinism: equal scores tie-break on (src, dst); repartitioning
    # the input cannot change any assignment
    t = spark.createDataFrame(
        [(1, 2, 50), (1, 3, 50)], "src long, dst long, score_micro long"
    )
    rt = {x["node"]: (x["center"], x["round"]) for x in center_clusters(t).collect()}
    assert rt == {1: (1, 1), 2: (1, 1), 3: (1, 2)}
    rp = {
        x["node"]: (x["center"], x["round"])
        for x in center_clusters(e.repartition(7)).collect()
    }
    assert rp == r


def test_merge_center_bridges_clusters_center_does_not(spark):
    """MERGE-CENTER vs CENTER on two strong stars {1,2} and {5,6} plus a
    bridge record 3 similar to BOTH centers: CENTER attaches 3 to its
    best center (1) and keeps the stars apart; MERGE-CENTER sees 3's
    other edge into center 5 as merge evidence and welds the two
    clusters — the documented middle ground before full transitive
    closure. Cluster ids come from the CC job over the center graph."""
    from xlink_spark.operators.cluster import (
        center_clusters,
        merge_center_clusters,
    )

    e = spark.createDataFrame(
        [(1, 2, 100), (5, 6, 100), (1, 3, 80), (3, 5, 70)],
        "src long, dst long, score_micro long",
    )
    c = {x["node"]: x["center"] for x in center_clusters(e).collect()}
    assert c == {1: 1, 2: 1, 3: 1, 5: 5, 6: 5}

    m = {x["node"]: (x["center"], x["cluster"]) for x in merge_center_clusters(e).collect()}
    assert {n: cc for n, (cc, _) in m.items()} == c  # centers unchanged
    assert {cl for _, cl in m.values()} == {1}  # one merged cluster

    # no merge evidence -> clusters == centers (coalesce path)
    iso = spark.createDataFrame(
        [(1, 2, 100), (5, 6, 100)], "src long, dst long, score_micro long"
    )
    mi = {x["node"]: x["cluster"] for x in merge_center_clusters(iso).collect()}
    assert mi == {1: 1, 2: 1, 5: 5, 6: 5}

    # a flagged round-K+1 leftover is NOT a merge-capable center: on the
    # scored path 1-2(50)-3(90)-4(40), node 4's only edge reaches the
    # consumed satellite 3, so 4 stays a separate flagged singleton —
    # sequential MERGE-CENTER fidelity (unassigned records never merge)
    p = spark.createDataFrame(
        [(1, 2, 50), (2, 3, 90), (3, 4, 40)],
        "src long, dst long, score_micro long",
    )
    mp = {x["node"]: x["cluster"] for x in merge_center_clusters(p).collect()}
    assert mp == {1: 2, 2: 2, 3: 2, 4: 4}


def test_pivot_clusters_local_minima_rounds_and_exhaustion(spark):
    """Parallel KwikCluster / LFMIS rounds on the path 1-2-3-4-5: round
    1 elects the only local minimum 1 (dominating 2); round 2 elects 3
    from the remaining 3-4-5 sub-path (dominating 4); round 3 elects the
    now-isolated 5. The final assignment pass sends each satellite to
    its SMALLEST adjacent pivot over the original adjacency — exactly
    sequential id-order KwikCluster. No two pivots are ever adjacent,
    and every satellite is one hop from its pivot (diameter <= 2 —
    pivot clusters cannot chain-merge)."""
    from xlink_spark.operators.cluster import pivot_clusters

    e = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5)], "src long, dst long"
    )
    r = {x["node"]: (x["cluster"], x["round"]) for x in pivot_clusters(e).collect()}
    assert r == {1: (1, 1), 2: (1, 1), 3: (3, 2), 4: (3, 2), 5: (5, 3)}

    # satellites are one hop from their pivot
    adj = {(1, 2), (2, 3), (3, 4), (4, 5)}
    adj |= {(b, a) for a, b in adj}
    for n, (c, _) in r.items():
        assert c == n or (n, c) in adj

    # exact-K contract on a graph that NEEDS two rounds: 2-3-4 — round
    # 1 elects pivot 2 and dominates 3, but 4 (neither pivot nor
    # pivot-adjacent) is flagged at round = rounds+1 = 2
    p = spark.createDataFrame([(2, 3), (3, 4)], "src long, dst long")
    r1 = {x["node"]: (x["cluster"], x["round"]) for x in pivot_clusters(p, rounds=1).collect()}
    assert r1 == {2: (2, 1), 3: (2, 1), 4: (4, 2)}

    # determinism under repartitioning
    rp = {x["node"]: (x["cluster"], x["round"]) for x in pivot_clusters(e.repartition(7)).collect()}
    assert rp == r


def test_pivot_clusters_matches_sequential_kwikcluster(spark):
    """On random graphs, the K-round parallel formulation with id-order
    pivots must equal the SEQUENTIAL KwikCluster run with the identity
    permutation (visit nodes in id order; each unclustered visited node
    becomes a pivot and absorbs its unclustered neighbors) — the
    classic equivalence the CDK14 parallelization rests on."""
    import random

    from xlink_spark.operators.cluster import pivot_clusters

    rng = random.Random(417)
    for trial in range(3):
        n = 40
        edges = sorted(
            {
                (min(a, b), max(a, b))
                for a, b in (
                    (rng.randrange(n), rng.randrange(n)) for _ in range(70)
                )
                if a != b
            }
        )
        nbrs = {i: set() for i in range(n)}
        for a, b in edges:
            nbrs[a].add(b)
            nbrs[b].add(a)
        seq = {}
        for v in range(n):
            if v in seq or not nbrs[v]:
                continue
            if v not in seq:
                seq[v] = v
                for u in sorted(nbrs[v]):
                    if u not in seq:
                        seq[u] = v
        df = spark.createDataFrame(edges, "src long, dst long")
        # n rounds always suffice (each round removes at least the
        # globally-smallest remaining node); the loop breaks early
        got = {
            x["node"]: x["cluster"]
            for x in pivot_clusters(df, rounds=n).collect()
        }
        want = {v: c for v, c in seq.items()}
        assert got == want, f"trial {trial}: {got} != {want}"


def test_canopy_clusters_overlap_and_tight_removal(spark):
    """McCallum-Nigam-Ungar canopies on a 4-node line with similarities
    9-5-9 (loose=5, tight=8): node 1 centers round 1, absorbs 2 (sim 9,
    removed: >= tight) and... 3 is NOT within loose of 1 (no edge), so 3
    centers in the SAME round (its only pool-neighbor is 2? no — 3's
    neighbors are 2 (sim 5) and 4 (sim 9); min neighbor id 2 < 3, so 3
    waits). Round-by-round semantics and the OVERLAP property: node 2
    sits within loose of center 1 AND center 3, so it appears in both
    canopies — but being within tight of 1 it is removed and never
    centers."""
    from xlink_spark.operators.cluster import canopy_clusters

    p = spark.createDataFrame(
        [(1, 2, 9), (2, 3, 5), (3, 4, 9)], "a long, b long, sim long"
    )
    rows = canopy_clusters(p, "sim", loose=5, tight=8, rounds=3).collect()
    got = {(x["node"], x["canopy"], x["round"]) for x in rows}
    # round 1: centers = {1} (2,3,4 all see a smaller pool neighbor);
    #   members of canopy 1 = {1, 2}; removed = {1, 2} (sim 9 >= tight)
    # round 2: pool {3,4}; centers = {3}; members = {3, 4};
    #   removed = {3, 4}
    assert got == {(1, 1, 1), (2, 1, 1), (3, 3, 2), (4, 3, 2)}

    # OVERLAP: loose=5, tight=9 on star 1-2(5), 1-3(5), 2-3(5): round 1
    # center 1 absorbs 2 and 3 within loose but removes nobody but
    # itself (no edge >= 9); round 2 center 2 absorbs 3; round 3 center
    # 3 alone — 3 belongs to ALL THREE canopies
    t = spark.createDataFrame(
        [(1, 2, 5), (1, 3, 5), (2, 3, 5)], "a long, b long, sim long"
    )
    rows2 = canopy_clusters(t, "sim", loose=5, tight=9, rounds=3).collect()
    got2 = {(x["node"], x["canopy"], x["round"]) for x in rows2}
    assert got2 == {
        (1, 1, 1), (2, 1, 1), (3, 1, 1),
        (2, 2, 2), (3, 2, 2),
        (3, 3, 3),
    }

    # canopy INVARIANT the expensive stage relies on: every loose pair
    # shares >= 1 canopy
    by_node = {}
    for x in rows2:
        by_node.setdefault(x["node"], set()).add(x["canopy"])
    for a, b in [(1, 2), (1, 3), (2, 3)]:
        assert by_node[a] & by_node[b]


def test_canopy_clusters_universe_leftovers_and_validation(spark):
    """A caller-supplied node universe makes edge-less records singleton
    canopies instead of silently vanishing; exact-K leftovers are
    flagged at round K+1; loose > tight raises; out-of-universe
    neighbors cannot veto a center election."""
    import pytest as _pytest

    from xlink_spark.operators.cluster import canopy_clusters

    p = spark.createDataFrame([(1, 2, 7)], "a long, b long, sim long")
    nodes = spark.createDataFrame([(1,), (2,), (9,)], "a long")
    rows = canopy_clusters(p, "sim", loose=5, tight=6, rounds=2, nodes=nodes)
    got = {(x["node"], x["canopy"], x["round"]) for x in rows.collect()}
    # round 1: center 1 absorbs 2; tight=6 <= 7 so both removed; 9 is
    # edge-less -> center of its own canopy round 1
    assert got == {(1, 1, 1), (2, 1, 1), (9, 9, 1)}

    # exact-K: rounds=1 with tight high enough that nothing is removed
    # except centers -> node 2 survives round 1 as a member only, then
    # is flagged at round 2
    rows1 = canopy_clusters(p, "sim", loose=5, tight=99, rounds=1)
    got1 = {(x["node"], x["canopy"], x["round"]) for x in rows1.collect()}
    assert got1 == {(1, 1, 1), (2, 1, 1), (2, 2, 2)}

    # universe SUBSET of edge endpoints: neighbor 1 is outside the
    # universe, so it must not veto 2's election
    sub = spark.createDataFrame([(2,)], "a long")
    rows3 = canopy_clusters(p, "sim", loose=5, tight=6, rounds=2, nodes=sub)
    assert {(x["node"], x["canopy"], x["round"]) for x in rows3.collect()} == {
        (2, 2, 1)
    }

    with _pytest.raises(ValueError):
        canopy_clusters(p, "sim", loose=9, tight=5)


# ------------------------------------------- correlation objective


def test_correlation_objective_hand_counts(spark):
    from xlink_spark.eval.bcubed import correlation_objective

    # clusters: {1,2,3} {4,5} {6}; edges: 1-2, 2-3, 3-4 (cut), 4-5,
    # plus a duplicate orientation and a self-loop that must vanish
    asg = spark.createDataFrame(
        [(1, 10), (2, 10), (3, 10), (4, 40), (5, 40), (6, 60)],
        "id long, cluster long",
    )
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (5, 4), (2, 1), (6, 6)],
        "src long, dst long",
    )
    row = correlation_objective(asg, edges).collect()[0]
    assert tuple(row) == (6, 3, 4, 3, 4, 1, 1, 2)
    # n_items=6, n_clusters=3, n_edges=4 canonical, intra=3 (12,23,45),
    # intra_pairs=C(3,2)+C(2,2)=4, cut=1 (34), missing=1 (13), total=2


def test_correlation_objective_edge_endpoint_scope(spark):
    from xlink_spark.eval.bcubed import correlation_objective

    asg = spark.createDataFrame([(1, 1), (2, 1)], "id long, cluster long")
    edges = spark.createDataFrame(
        [(1, 2), (2, 99)], "src long, dst long"
    )  # 99 unassigned -> that edge drops from the gauge
    row = correlation_objective(asg, edges).collect()[0]
    assert row["n_edges"] == 1 and row["disagreements"] == 0


def test_correlation_objective_cover_family_trade(spark):
    """The trade the objective exists to expose, measured: on a planted
    chain-merge graph (two true entities bridged by one wrong edge),
    transitive CC pays only missing pairs (cut = 0 BY CONSTRUCTION),
    star/pivot pay cut edges instead, and the chained CC cluster's
    objective is strictly worse than pivot's."""
    from pyspark.sql import functions as F

    from xlink_spark.eval.bcubed import correlation_objective
    from xlink_spark.operators.cluster import (
        connected_components,
        pivot_clusters,
        star_clusters,
    )

    # two 4-cliques bridged by a single spurious edge 4-5
    nodes = list(range(1, 9))
    e = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    e2 = [(a, b) for a in range(5, 9) for b in range(a + 1, 9)]
    edges = spark.createDataFrame(e + e2 + [(4, 5)], "src long, dst long")
    ids = spark.createDataFrame([(n,) for n in nodes], "id long")

    def obj(asg):
        return correlation_objective(asg, edges).collect()[0]

    cc = connected_components(edges).select(
        F.col("node").alias("id"), F.col("component").alias("cluster")
    )
    r_cc = obj(ids.join(cc, "id", "left").select(
        "id", F.coalesce("cluster", F.col("id")).alias("cluster")))
    assert r_cc["cut_edges"] == 0          # transitive closure never cuts
    assert r_cc["n_clusters"] == 1         # chain-merged
    assert r_cc["missing_edges"] == 28 - 13  # C(8,2) pairs minus 13 edges

    piv = pivot_clusters(edges).select(
        "node", F.col("cluster")
    ).withColumnRenamed("node", "id")
    r_pv = obj(ids.join(piv, "id", "left").select(
        "id", F.coalesce("cluster", F.col("id")).alias("cluster")))
    st = star_clusters(edges).select(
        F.col("node").alias("id"), F.col("center").alias("cluster")
    )
    r_st = obj(ids.join(st, "id", "left").select(
        "id", F.coalesce("cluster", F.col("id")).alias("cluster")))
    # covers pay cuts instead of chain-merges, and on this graph the
    # 3-approx pivot beats the chained closure outright
    assert r_pv["cut_edges"] > 0 and r_st["cut_edges"] > 0
    assert r_pv["disagreements"] < r_cc["disagreements"]
