"""Transitive clustering: connected components (SURVEY §2.11 G2).

The reference links each mention independently; the north_rule requires
transitive entity clusters over above-threshold match edges. We implement
the alternating **large-star / small-star** algorithm (Kiveris et al.,
"Connected Components in MapReduce and Beyond", SoCC'14) — O(log n) rounds,
each a groupBy over the edge list, robust to power-law degree skew:

* large-star: for each node u, connect every strictly-larger neighbor to
  the minimum of u's neighborhood (including u).
* small-star: connect every smaller-or-equal neighbor (≠ min) to the min.

Convergence: the edge multiset stops changing (checked via a cheap
aggregate hash, not a collect). Each iteration optionally checkpoints to a
snapshot directory so a killed run resumes at the last completed round
(north_rule resumability); lineage also truncates via localCheckpoint to
keep plans O(1) deep.

Node ids are 64-bit longs; string keys are mapped through ``ids_for`` (hash
+ dedup) before clustering and joined back after.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from xlink_spark.plans.snapshots import SnapshotStore
from xlink_spark.plans.storage import cut


def _canonical(edges: DataFrame) -> DataFrame:
    """Undirected edge list, self-loops dropped, (min,max) canonical order."""
    e = edges.select(
        F.least("src", "dst").alias("src"), F.greatest("src", "dst").alias("dst")
    ).filter(F.col("src") != F.col("dst"))
    return e.distinct()


def _large_star(edges: DataFrame) -> DataFrame:
    from pyspark.sql import Window

    both = edges.unionByName(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    # per-node neighborhood min as a WINDOW over the node key: one exchange
    # carries the whole star step, where the groupBy-then-join-back
    # formulation paid two exchanges (agg + join re-stream) per round —
    # identical output multiset, and the per-node work is the same single
    # pass over the node's edges
    w = Window.partitionBy("src")
    withm = both.withColumn("m", F.least(F.min("dst").over(w), F.col("src")))
    # connect larger neighbors to min of N(u) ∪ {u}
    return (
        withm.filter(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
    )


def _small_star(edges: DataFrame) -> DataFrame:
    from pyspark.sql import Window

    # orient edges toward the smaller endpoint: src > dst
    oriented = edges.select(
        F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
    )
    # window-min over the node key — one exchange per round (see _large_star)
    w = Window.partitionBy("src")
    joined = oriented.withColumn("m", F.min("dst").over(w))
    out = joined.select(F.col("dst").alias("src"), F.col("m").alias("dst")).unionByName(
        joined.select(F.col("src"), F.col("m").alias("dst"))
    )
    return out


def _signature(edges: DataFrame) -> tuple[int, int]:
    """Cheap convergence signature of an edge set: count + xor of hashes
    (order-free, overflow-free under ANSI mode)."""
    sig = edges.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.expr("bit_xor(xxhash64(src, dst))"), F.lit(0)).alias("h"),
    ).collect()[0]
    return sig["n"], sig["h"]


def connected_components(
    edges: DataFrame,
    max_iterations: int = 50,
    store: SnapshotStore | None = None,
    stage: str = "cc",
) -> DataFrame:
    """(src:long, dst:long) edges → (node:long, component:long) assignment.

    component = min node id of the component. With ``store`` given, each
    iteration's edge state is committed as a snapshot ``{stage}/iter_k`` and
    a restarted call resumes from the last committed iteration; per-iteration
    row counts are recorded in the snapshot manifest (lineage + counters).
    """
    spark = edges.sparkSession
    cur = _canonical(edges)
    start_iter = 0
    resumed = False
    if store is not None:
        last = store.last_iteration(stage)
        if last is not None:
            start_iter, cur, resumed = last[0] + 1, last[1](spark), True
    # the first large-star consumes cur on BOTH union branches, so the
    # blocks must exist before the loop's first job: the signature of cur
    # materializes them, and seeds the convergence check — an input that
    # is already a fixed point (a star forest rooted at each component
    # minimum, e.g. all 2-node components) stops after round 1
    cur = cut(cur, eager=False)
    prev_sig = _signature(cur)
    # the canonical INPUT edges (full original node set), reused by the
    # roots pass below — only valid when the loop started from the input,
    # not from a resumed mid-run snapshot
    cur0 = None if resumed else cur

    for it in range(start_iter, max_iterations):
        # large-star output feeds small-star WITHOUT an intermediate
        # distinct: duplicates cannot multiply through the window-min
        # (min over a multiset = min over its set; duplicate rows emit
        # duplicate outputs, bounded by the 2|E| input), and the round's
        # final canonical dedups — the per-round SET function is identical
        # while one exchange per round disappears. Self-loops cannot occur
        # in large-star output (m <= src < dst by construction).
        big = _large_star(cur)
        # LAZY checkpoint: the signature aggregation below is the round's
        # one action — computing it materializes the checkpoint blocks as a
        # side effect, so each round runs ONE Spark job instead of two
        # (eager ckpt + separate signature collect). At toy scale the loop
        # is driver/job-overhead-bound, so this halves the round cost;
        # at cluster scale it removes one full pass over the edge state.
        small = cut(_canonical(_small_star(big)), eager=False)
        sig = _signature(small)
        if store is not None:
            store.commit(stage, it, small, metrics={"edges": sig[0]})
        cur = small
        if sig == prev_sig:
            break
        prev_sig = sig

    # at convergence the canonical edge set is a star (min, member) per
    # component: src = component min, dst = member node
    nodes = cur.select(F.col("dst").alias("node"), F.col("src").alias("component"))
    comp = nodes.groupBy("node").agg(F.min("component").alias("component"))
    # isolated/root nodes map to themselves; cur0 is the already-canonical
    # checkpointed input, so the roots pass rereads its blocks instead of
    # recomputing the canonicalization shuffle from the raw edges
    roots = (
        (cur0 if cur0 is not None else _canonical(edges))
        .select(F.explode(F.array("src", "dst")).alias("node"))
        .distinct()
        .join(comp, "node", "left_anti")
        .withColumn("component", F.col("node"))
    )
    return comp.unionByName(roots)


def link_edges(links: DataFrame, threshold: float = 0.0) -> DataFrame:
    """Mention-node ↔ entity-node edges for every link with believe ≥
    threshold — the one hashing convention every clustering path (full,
    incremental, resumed) must share so node ids line up across batches."""
    return links.filter(F.col("believe") >= F.lit(threshold)).select(
        # hash columns SEPARATELY (multi-arg xxhash64 is type/length aware) -
        # any string concatenation risks ("a1",23) vs ("a12",3) ambiguity
        F.xxhash64("doc_id", F.col("start"), F.col("end")).alias("src"),
        F.xxhash64("entity_id").alias("dst"),
    )


def entity_clusters(entity_ids: DataFrame, comp: DataFrame) -> DataFrame:
    """Project a (node, component) assignment to (entity_id, cluster_id)
    for the given one-column entity_id frame (the entity-grain view)."""
    ents = entity_ids.distinct().withColumn("node", F.xxhash64("entity_id"))
    return ents.join(comp, "node", "inner").select(
        "entity_id", F.col("component").alias("cluster_id")
    )


def cluster_links(links: DataFrame, threshold: float = 0.0) -> DataFrame:
    """Entity clusters from linked mentions (the pipeline's final step).

    Edges: mention-node ↔ entity-node for every link with believe ≥
    threshold. Two entities land in one cluster iff connected through shared
    mentions/docs transitively. Returns (entity_id, cluster_id) where
    cluster_id is the minimum entity node id in the component (stable).
    """
    comp = connected_components(link_edges(links, threshold))
    return entity_clusters(links.select("entity_id"), comp)


def cluster_size_histogram(assignments: DataFrame) -> DataFrame:
    """Cluster-size distribution of a (node, component) assignment frame.

    Output: one row per observed size — (size, n_clusters, n_nodes) ordered
    small frame. The head-entity skew gauge for the clustering product: at
    web scale the component size distribution is Zipf (country-name-like
    entities own giant components) and this histogram is what decides
    whether downstream per-cluster work needs its own salting. Two
    map-side-combinable aggregations; nothing wide ever shuffles.
    """
    sizes = assignments.groupBy("component").agg(F.count(F.lit(1)).alias("size"))
    return (
        sizes.groupBy("size")
        .agg(F.count(F.lit(1)).alias("n_clusters"))
        .select(
            "size",
            "n_clusters",
            (F.col("size") * F.col("n_clusters")).alias("n_nodes"),
        )
    )


def incremental_components(prev: DataFrame, new_edges: DataFrame) -> DataFrame:
    """Fold a batch of NEW edges into an existing component assignment
    without re-clustering the world (additive incremental CC).

    ``prev`` is a committed (node, component) assignment —
    ``connected_components`` output over all edges seen so far; ``new_edges``
    is this batch's (src, dst) additions. Valid ONLY for edge ADDITIONS:
    components can merge or appear, never split (deletions require a full
    recompute — the caller guards that, see jobs/run_incremental.py).

    Exactness: when ``prev`` labels components by their minimum member id
    (what ``connected_components`` produces), the result is ROW-IDENTICAL to
    ``connected_components(old_edges ∪ new_edges)``: contracting each prev
    component to its label keeps the label (= min node) as a graph node, so
    the delta CC's min-label merge equals the global min over the merged
    component. With any other injective labeling the PARTITION is still
    exact; only label values differ. Pinned by tests against full recompute.

    Scale shape — the whole point: the inner ``connected_components`` runs
    on the CONTRACTED delta graph (≤ |new_edges| label-grain edges), not the
    10^12-node history. The only node-grain operations are (a) two
    hash joins mapping the batch's endpoints through ``prev`` and (b) one
    label-grain hash join relabeling prev rows whose component merged —
    every O(log n) CC iteration touches batch-sized data only. This is the
    standard contracted-union-find formulation of incremental CC (e.g.
    Kiveris et al. SoCC'14 §5 discussion of incremental maintenance).
    """
    lab = prev.select("node", "component")
    contracted = (
        new_edges.select("src", "dst")
        .join(
            lab.select(F.col("node").alias("src"), F.col("component").alias("_ls")),
            "src",
            "left",
        )
        .join(
            lab.select(F.col("node").alias("dst"), F.col("component").alias("_ld")),
            "dst",
            "left",
        )
        .select(
            F.coalesce("_ls", F.col("src")).alias("src"),
            F.coalesce("_ld", F.col("dst")).alias("dst"),
        )
    )
    delta = connected_components(contracted)
    # prev labels whose component merged into a (smaller) label this batch
    moved = delta.select(
        F.col("node").alias("component"), F.col("component").alias("_new")
    )
    prev_up = prev.join(moved, "component", "left").select(
        "node", F.coalesce("_new", F.col("component")).alias("component")
    )
    # nodes first seen this batch (prev labels are themselves prev nodes,
    # so the anti-join keeps exactly the genuinely-new ids)
    new_nodes = delta.join(prev.select("node"), "node", "left_anti")
    return prev_up.unionByName(new_nodes.select("node", "component"))


def pagerank_integer(
    edges: DataFrame, iterations: int = 3, damping: tuple[int, int] = (17, 20)
) -> DataFrame:
    """Fixed-iteration PageRank in exact integer micro-units — the graph
    popularity prior (entity salience over the mention↔entity graph, the
    structural analogue of XLink's count-based entity_prior,
    generate_prob_files.py:88-118).

    Every quantity is a bigint: ranks start at 1e6 µ per node, each node
    sends ``rank div outdeg`` along its out-edges (integer division), and
    the update is ``rank' = (1-d)·1e6 + (num·Σin) div den`` with d =
    num/den (default 17/20 = 0.85). Bigint sums are order-independent, so
    the result is bit-identical across engines and partitionings — no
    float ever enters (the decayed_anchor_counts / lm_scores convention).
    Dangling-node mass is dropped, the standard simplification; ranks are
    a salience ORDERING, not a normalized distribution.

    Overflow headroom: Σ rank_micro ≤ nodes·1e6 + iterations·teleport, so
    ``num·Σin`` stays under 2^63 while total micro-mass < ~5.4e17 — about
    5·10^11 nodes at the default damping; beyond that, coarsen the grain
    (milli-units) or partition the graph. Iterations are unrolled (default
    3): the prior needs a head/tail separation, not convergence.

    Scale shape: per iteration one (src-keyed) join of the narrow rank
    table against the edge list and one dst-keyed partial-aggregated sum —
    both shuffles carry (id, bigint) rows only. Works for any node id type
    (string or long); output (node, rank_micro).
    """
    teleport_micro = ((damping[1] - damping[0]) * 1_000_000) // damping[1]
    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    outdeg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    ranks = nodes.withColumn("rank_micro", F.lit(1_000_000).cast("long"))
    for _ in range(iterations):
        contrib = (
            edges.join(outdeg, "src")
            .join(ranks.withColumnRenamed("node", "src"), "src")
            .select(
                F.col("dst").alias("node"),
                F.expr("rank_micro div outdeg").alias("inc"),
            )
        )
        incoming = contrib.groupBy("node").agg(F.sum("inc").alias("s"))
        ranks = nodes.join(incoming, "node", "left").select(
            "node",
            (
                F.lit(teleport_micro)
                + F.expr(f"({damping[0]} * coalesce(s, 0L)) div {damping[1]}")
            ).cast("long").alias("rank_micro"),
        )
    return ranks


def reconcile_cluster_ids(prev: DataFrame, cur: DataFrame) -> DataFrame:
    """Stable cluster ids across snapshot runs (incremental ER id hygiene).

    ``connected_components`` labels each component with its minimum node id,
    so re-running after a delta batch can RELABEL a cluster whose minimum
    node arrived or left — downstream consumers keyed on cluster id would
    see every such entity "change identity". This maps the current run's
    components onto the previous snapshot's ids by maximum node overlap:

    * each current component claims the previous id it shares most nodes
      with (ties: smaller previous id);
    * when several current components claim the same previous id (a split),
      the largest overlap wins (ties: smaller current id) — one round of
      deterministic greedy bipartite matching, so carried ids stay UNIQUE;
    * unmatched components keep their current label with origin='new' —
      UNLESS that label collides with an id some other component carried
      (the split-loser case: the loser still contains the previous
      minimum node, so its own CC label IS the id the winner took).
      Adopting it would silently fuse two clusters downstream, so such
      rows come back with stable_id NULL and origin='needs_mint'; the
      caller mints a fresh id (``mint_stable_ids``) — stable_id is
      injective over every non-null row by construction.

    Inputs are (node, component) frames; output is one row per current
    component: (component, stable_id, overlap, origin). At scale the only
    node-sized operation is the inner join on ``node``; everything after
    runs at cluster grain (two window functions over (cur, prev) overlap
    counts).
    """
    from pyspark.sql import Window

    ov = (
        prev.select("node", F.col("component").alias("_prev"))
        .join(cur.select("node", F.col("component").alias("_cur")), "node")
        .groupBy("_cur", "_prev")
        .agg(F.count(F.lit(1)).alias("overlap"))
    )
    claimed = ov.withColumn(
        "_r1",
        F.row_number().over(
            Window.partitionBy("_cur").orderBy(F.col("overlap").desc(), "_prev")
        ),
    ).where(F.col("_r1") == 1)
    won = claimed.withColumn(
        "_r2",
        F.row_number().over(
            Window.partitionBy("_prev").orderBy(F.col("overlap").desc(), "_cur")
        ),
    ).where(F.col("_r2") == 1)
    carried = won.select(
        F.col("_cur").alias("component"),
        F.col("_prev").alias("stable_id"),
        "overlap",
        F.lit("carried").alias("origin"),
    )
    taken = carried.select(
        F.col("stable_id").alias("component"), F.lit(True).alias("_taken")
    )
    fresh = (
        cur.select("component")
        .distinct()
        .join(carried.select("component"), "component", "left_anti")
        .join(taken, "component", "left")
        .select(
            "component",
            F.when(F.col("_taken").isNull(), F.col("component"))
            .otherwise(F.lit(None).cast(cur.schema["component"].dataType))
            .alias("stable_id"),
            F.lit(0).cast("long").alias("overlap"),
            F.when(F.col("_taken").isNull(), F.lit("new"))
            .otherwise(F.lit("needs_mint"))
            .alias("origin"),
        )
    )
    return carried.unionByName(fresh)


def mint_stable_ids(reconciled: DataFrame, reserved: DataFrame) -> DataFrame:
    """Fill ``needs_mint`` rows with fresh ids above every reserved id.

    ``reserved``: one column of ids that must never be reused (the previous
    snapshot's labels; carried ids are a subset and are reserved
    automatically). Minted id = max(reserved ∪ assigned) + row_number over
    the colliding components, so the result is deterministic, injective,
    and disjoint from everything already in circulation. Everything runs
    at cluster grain; the minted rows are the rare split-loser cases.
    """
    from pyspark.sql import Window

    need = reconciled.where(F.col("stable_id").isNull())
    ok = reconciled.where(F.col("stable_id").isNotNull())
    ceiling = (
        ok.select(F.col("stable_id").alias("_id"))
        .unionByName(reserved.toDF("_id"))
        .agg(F.coalesce(F.max("_id"), F.lit(0)).alias("_max"))
    )
    minted = need.crossJoin(F.broadcast(ceiling)).select(
        "component",
        (
            F.col("_max")
            + F.row_number().over(Window.orderBy("component")).cast("long")
        ).alias("stable_id"),
        "overlap",
        F.lit("minted").alias("origin"),
    )
    return ok.unionByName(minted)


STAR_KEY_BASE = 100_000_000  # order key = deg * BASE - node; node < BASE


def star_clusters(
    edges: DataFrame,
    rounds: int = 3,
    key_base: int = STAR_KEY_BASE,
) -> DataFrame:
    """(src:long, dst:long) match edges → (node, center, round) star
    assignment: K rounds of the parallel-greedy star cover (Aslam,
    Pelekhov & Rus 2004's greedy high-degree-first cover, parallelized as
    rounds of local order-key maxima — the MIS-round shape of Blelloch et
    al.'s parallel greedy).

    Where connected components transitively closes every match edge —
    so one wrong edge chains two true entities — a STAR never chains:
    every satellite is exactly one hop from its center (cluster diameter
    ≤ 2), the classic ER antidote to chain merges.

    Semantics (deterministic, engine-portable): degrees are the STATIC
    full-graph degrees (Aslam's processing order). Each node carries the
    unique bigint order key ``deg * key_base - node`` (node ids must be
    in [0, key_base)); round t over the remaining EDGE set makes every
    node whose key exceeds all remaining neighbors' keys a CENTER,
    attaches every remaining node adjacent to ≥1 new center to its best
    (max-key) adjacent center, and removes both plus their edges. After
    ``rounds`` rounds, every still-unassigned node — including nodes an
    earlier round left edgeless — becomes its own singleton center with
    ``round = rounds + 1``, so the K-round semantics is exact on any
    engine (the oracle unrolls the same K blocks). Progress is guaranteed
    (each round's global max-key remaining node is always a center), so
    small K suffices in practice; leftovers are flagged by their round,
    never silently mis-clustered.

    Scale shape: one static degree groupBy, then per round two narrow
    self-joins + groupBy-max over the remaining edge list (shrinking
    fast), lineage truncated per round via localCheckpoint — the
    connected-components driver-loop precedent.
    """
    adj = (
        _canonical(edges)
        .select(
            F.explode(
                F.array(
                    F.struct(F.col("src").alias("a"), F.col("dst").alias("b")),
                    F.struct(F.col("dst").alias("a"), F.col("src").alias("b")),
                )
            ).alias("e")
        )
        .select("e.a", "e.b")
        .distinct()
    )
    deg = adj.groupBy("a").agg(F.count(F.lit(1)).cast("long").alias("deg"))
    key = deg.select(
        "a", (F.col("deg") * F.lit(key_base) - F.col("a")).alias("k")
    )
    # keyed adjacency: both endpoints' keys ride the edge row once
    ka = adj.join(key, "a").join(
        key.select(F.col("a").alias("b"), F.col("k").alias("kb")), "b"
    )
    cur = cut(ka, eager=True)
    assigned = []
    for rnd in range(1, rounds + 1):
        nbr_max = cur.groupBy("a", "k").agg(F.max("kb").alias("mk"))
        centers = nbr_max.filter(F.col("k") > F.col("mk")).select(
            "a", F.col("a").alias("center"), F.lit(rnd).cast("int").alias("round")
        )
        sats = (
            cur.join(
                centers.select(F.col("a").alias("b")), "b", "semi"
            )
            .join(centers.select(F.col("a")), "a", "anti")
            .groupBy("a")
            .agg(F.max("kb").alias("ck"))
            .select(
                "a",
                # decode center id from its unique key: deg = ceil(k/BASE)
                F.expr(
                    f"(ck + {key_base} - 1) div {key_base} * {key_base} - ck"
                )
                .cast("long")
                .alias("center"),
                F.lit(rnd).cast("int").alias("round"),
            )
        )
        # done is a LAZY checkpoint: the eager materialization of cur below
        # consumes it on both anti-join legs, so its blocks are computed and
        # persisted inside cur's job — one Spark job per round instead of
        # three, with the same truncated lineage for every later consumer
        done = cut(centers.unionByName(sats), eager=False)
        assigned.append(done)
        cur = cut(
            cur.join(done.select("a"), "a", "anti")
            .join(done.select(F.col("a").alias("b")), "b", "anti"),
            eager=True,
        )
        if cur.isEmpty():
            break
    rest = (
        key.select("a")
        .join(_union_all(assigned).select("a"), "a", "anti")
        .select(
            "a",
            F.col("a").alias("center"),
            F.lit(rounds + 1).cast("int").alias("round"),
        )
    )
    out = _union_all(assigned + [rest])
    return out.select(
        F.col("a").cast("long").alias("node"),
        F.col("center").cast("long").alias("center"),
        "round",
    )


def _union_all(frames: list[DataFrame]) -> DataFrame:
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


def center_clusters(
    edges: DataFrame,
    rounds: int = 3,
    score_col: str = "score_micro",
) -> DataFrame:
    """(src:long, dst:long, score) match edges → (node, center, round)
    CENTER-clustering assignment (Hassanzadeh & Miller, VLDB J. 2009;
    Hassanzadeh et al., VLDB 2009 §4.3), parallelized as K deterministic
    rounds of per-node best-edge elections — the star_clusters precedent,
    but ordered by EDGE similarity instead of node degree, and with
    centers that persist across rounds to keep absorbing satellites,
    exactly as the sequential scan lets a center claim every later
    above-threshold record.

    Sequential CENTER scans edges by descending similarity: an edge whose
    two endpoints are both unassigned makes the first endpoint a CENTER
    and the second its satellite; an edge from an unassigned record to an
    existing center attaches it; everything else is skipped. Clusters are
    stars (diameter ≤ 2) — like star clustering it cannot chain-merge —
    but membership follows SIMILARITY order, not degree order.

    Deterministic parallel semantics (engine-portable, oracle-unrollable):
    every undirected edge carries the unique lexicographic key
    ``(-score, src, dst)`` (canonical src < dst), lower = earlier in the
    sequential scan. Round t:

    1. every non-center, non-satellite node elects its minimum-key
       remaining incident edge (its "best" edge);
    2. a node whose best edge leads to a CENTER existing at round start
       becomes that center's satellite;
    3. an edge elected by BOTH endpoints (mutual best, the parallel
       analogue of "first edge in the scan with both ends free") fires:
       the smaller endpoint becomes a CENTER, the larger its satellite;
    4. satellites and their edges leave the graph; center–center edges
       die; centers stay to absorb future satellites.

    Progress is guaranteed (the globally minimal remaining key is always
    mutual-best or an attachment), so each round assigns ≥ 1 node. After
    ``rounds`` rounds, still-unassigned nodes become flagged singleton
    centers with ``round = rounds + 1`` — never silently mis-clustered.

    Scale shape: one canonicalizing groupBy, then per round a groupBy-min
    of a struct key over the shrinking edge list plus narrow anti/semi
    joins against the (tiny) center and new-satellite sets; lineage is
    truncated per round via localCheckpoint. No global sort, no windows —
    the per-node argmin shuffles on the node key only.
    """
    canon = (
        edges.select(
            F.least("src", "dst").alias("cs"),
            F.greatest("src", "dst").alias("cd"),
            F.col(score_col).cast("long").alias("s"),
        )
        .filter(F.col("cs") != F.col("cd"))
        .groupBy("cs", "cd")
        .agg(F.max("s").alias("s"))
    )
    both = (
        canon.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("cs").alias("n"),
                        F.col("cd").alias("m"),
                        (-F.col("s")).alias("negs"),
                        F.col("cs"),
                        F.col("cd"),
                    ),
                    F.struct(
                        F.col("cd").alias("n"),
                        F.col("cs").alias("m"),
                        (-F.col("s")).alias("negs"),
                        F.col("cs"),
                        F.col("cd"),
                    ),
                )
            ).alias("e")
        )
        .select("e.n", "e.m", "e.negs", "e.cs", "e.cd")
    )
    nodes = canon.select(F.col("cs").alias("a")).unionByName(
        canon.select(F.col("cd").alias("a"))
    ).distinct()
    cur = cut(both, eager=True)
    spark = edges.sparkSession
    centers = spark.createDataFrame([], "node long")
    assigned: list[DataFrame] = []
    for rnd in range(1, rounds + 1):
        cen_n = centers.select(F.col("node").alias("n"))
        best = (
            cur.join(cen_n, "n", "anti")
            .groupBy("n")
            .agg(F.min(F.struct("negs", "cs", "cd")).alias("be"))
            .select(
                "n",
                F.col("be.cs").alias("bcs"),
                F.col("be.cd").alias("bcd"),
            )
            .withColumn(
                "partner",
                F.when(F.col("bcs") == F.col("n"), F.col("bcd")).otherwise(
                    F.col("bcs")
                ),
            )
        )
        cen_p = centers.select(F.col("node").alias("partner"))
        att = best.join(cen_p, "partner", "semi").select(
            F.col("n").alias("node"),
            F.col("partner").alias("center"),
            F.lit(rnd).cast("int").alias("round"),
        )
        fired = (
            best.join(cen_p, "partner", "anti")
            .groupBy("bcs", "bcd")
            .agg(F.count(F.lit(1)).alias("c"))
            .filter(F.col("c") == 2)
        )
        new_centers = fired.select(F.col("bcs").alias("node"))
        done = cut(
            _union_all(
                [
                    att,
                    fired.select(
                        F.col("bcd").alias("node"),
                        F.col("bcs").alias("center"),
                        F.lit(rnd).cast("int").alias("round"),
                    ),
                    new_centers.select(
                        "node",
                        F.col("node").alias("center"),
                        F.lit(rnd).cast("int").alias("round"),
                    ),
                ]
            ),
            eager=True,
        )
        assigned.append(done)
        centers = cut(centers.unionByName(new_centers), eager=True)
        sats = done.filter(F.col("node") != F.col("center")).select("node")
        cur = cut(
            cur.join(sats.select(F.col("node").alias("n")), "n", "anti")
            .join(sats.select(F.col("node").alias("m")), "m", "anti")
            .join(
                centers.select(F.col("node").alias("n"), F.lit(1).alias("_cn")),
                "n",
                "left",
            )
            .join(
                centers.select(F.col("node").alias("m"), F.lit(1).alias("_cm")),
                "m",
                "left",
            )
            .filter(F.col("_cn").isNull() | F.col("_cm").isNull())
            .drop("_cn", "_cm"),
            eager=True,
        )
        if cur.isEmpty():
            break
    rest = (
        nodes.join(_union_all(assigned).select(F.col("node").alias("a")), "a", "anti")
        .select(
            F.col("a").alias("node"),
            F.col("a").alias("center"),
            F.lit(rounds + 1).cast("int").alias("round"),
        )
    )
    out = _union_all(assigned + [rest])
    return out.select(
        F.col("node").cast("long").alias("node"),
        F.col("center").cast("long").alias("center"),
        "round",
    )


def merge_center_clusters(
    edges: DataFrame,
    rounds: int = 3,
    score_col: str = "score_micro",
) -> DataFrame:
    """MERGE-CENTER (Hassanzadeh & Miller, VLDB J. 2009): CENTER
    clustering, then clusters merge whenever a record is similar to the
    CENTER of another cluster — the documented middle ground between
    star-shaped CENTER (no chaining, but splits entities whose records
    straddle two centers) and full transitive closure (chains everything).

    Built by composition: ``center_clusters`` produces the (node, center,
    round) star assignment; every original match edge (x, y) with y a
    center of a different cluster than x's becomes a merge edge
    (center(x), y); the merge graph — tiny, one node per center — goes
    through the iterative large/small-star ``connected_components`` job,
    and each record's final ``cluster`` is the component of its center
    (its own center when untouched by any merge). Merge evidence must
    point at a center CREATED in rounds ≤ K: a flagged round-K+1 leftover
    singleton can merge INTO a real cluster (it is a record similar to
    that cluster's center — the paper's trigger) but never attracts
    merges itself, exactly as sequential MERGE-CENTER, where unassigned
    records are not centers.

    Returns (node, center, cluster, round). Scale shape: the CENTER
    rounds dominate; merge evidence is one semi/equi join over the
    canonical edge list, and the CC job runs on the center graph, which
    is smaller than the input by the mean cluster size.
    """
    asg = center_clusters(edges, rounds=rounds, score_col=score_col)
    canon = (
        edges.select(
            F.least("src", "dst").alias("cs"),
            F.greatest("src", "dst").alias("cd"),
        )
        .filter(F.col("cs") != F.col("cd"))
        .distinct()
    )
    und = canon.select(F.col("cs").alias("x"), F.col("cd").alias("y")).unionByName(
        canon.select(F.col("cd").alias("x"), F.col("cs").alias("y"))
    )
    asgx = asg.select(F.col("node").alias("x"), F.col("center").alias("xc"))
    cents = asg.filter(
        (F.col("node") == F.col("center")) & (F.col("round") <= rounds)
    ).select(F.col("node").alias("y"))
    me = (
        und.join(asgx, "x")
        .join(cents, "y", "semi")
        .filter(F.col("xc") != F.col("y"))
        .select(F.col("xc").alias("src"), F.col("y").alias("dst"))
        .distinct()
    )
    comp = connected_components(me).select(
        F.col("node").alias("center"), F.col("component")
    )
    return (
        asg.join(comp, "center", "left")
        .select(
            "node",
            "center",
            F.coalesce(F.col("component"), F.col("center"))
            .cast("long")
            .alias("cluster"),
            "round",
        )
    )


def pivot_clusters(edges: DataFrame, rounds: int = 3) -> DataFrame:
    """(src:long, dst:long) match edges → (node, cluster, round) pivot
    clustering: parallel KwikCluster (Ailon, Charikar & Newman 2008's
    pivot algorithm; parallel-rounds treatment per Chierichetti, Dalvi &
    Kumar, KDD 2014 / Blelloch, Fineman & Shun 2012).

    Sequential KwikCluster visits nodes in permutation order; every
    still-unclustered visited node becomes a PIVOT and absorbs all its
    still-unclustered neighbors — a 3-approximation for correlation
    clustering whose clusters, like stars, have diameter ≤ 2 and
    therefore never chain-merge. Its pivot set is exactly the
    lexicographically-first maximal independent set (LFMIS) of the match
    graph, and every non-pivot lands with its SMALLEST adjacent pivot.
    This implementation computes precisely that fixed point (node id
    order stands in for the permutation — ids come from upstream
    hashing, so the order is fixed and engine-portable):

    * K rounds of parallel greedy MIS: every remaining node smaller than
      all its remaining neighbors (or isolated among the remaining
      nodes) is elected a pivot; pivots AND their neighbors leave the
      remaining set. LFMIS(G) = minima(G) ∪ LFMIS(G ∖ N[minima]) — the
      standard recursion, so the K-round prefix is exact.
    * one final assignment pass over the ORIGINAL adjacency: each
      non-pivot joins its minimum adjacent pivot (carrying that pivot's
      election round), never an intermediate per-round guess — this is
      what keeps the parallel output EQUAL to the sequential algorithm
      (a node absorbed early by a large pivot would otherwise miss a
      smaller pivot elected in a later round).

    Difference from the two sibling star covers: ``star_clusters``
    elects by static degree (Aslam's cover), ``center_clusters`` by
    descending edge similarity (Hassanzadeh-Miller); PIVOT elects by the
    permutation alone, which is what gives the sequential algorithm its
    expected-3-approximation guarantee for correlation clustering.

    After ``rounds`` rounds every node that is neither a pivot nor
    adjacent to one becomes its own singleton cluster with ``round =
    rounds + 1``, so the K-round semantics is exact on any engine (the
    oracle unrolls the same K blocks). Progress is guaranteed: the
    globally-smallest remaining node is always elected, and with random
    ids O(log n) rounds suffice w.h.p. (BFS12).

    Scale shape: per round one groupBy-min over the remaining edge list
    (shrinking fast) plus narrow semi/anti joins; one groupBy-min
    assignment join at the end; lineage truncated per round via
    localCheckpoint — the star_clusters precedent.
    """
    adj = cut(
        _canonical(edges)
        .select(
            F.explode(
                F.array(
                    F.struct(F.col("src").alias("a"), F.col("dst").alias("b")),
                    F.struct(F.col("dst").alias("a"), F.col("src").alias("b")),
                )
            ).alias("e")
        )
        .select("e.a", "e.b")
        .distinct(),
        # materialized ONCE: the rounds consume it AND the final
        # assignment pass re-reads it — without this the whole upstream
        # chain (often an FS scoring DAG) recomputes per consumer
        eager=True,
    )
    cur = adj
    # LAZY: materialized inside round 1's single eager job (see below)
    pool = cut(adj.select("a").distinct(), eager=False)
    nodes = pool  # the materialized universe, reused by the leftover select
    pivot_frames = []
    for rnd in range(1, rounds + 1):
        nbr_min = cur.groupBy("a").agg(F.min("b").alias("mn"))
        # pivots and pool are LAZY checkpoints: cur's eager materialization
        # below consumes pool on both semi-join legs, pool consumes pivots
        # on its anti-join legs — so the whole round's state (pivots, pool,
        # cur) is computed and persisted by ONE Spark job per round instead
        # of three, with identical truncated lineage for later consumers
        # (the isEmpty probe and the final union read persisted blocks).
        pivots = cut(
            pool.join(nbr_min, "a", "left")
            .filter(F.col("mn").isNull() | (F.col("a") < F.col("mn")))
            .select("a", F.lit(rnd).cast("int").alias("round")),
            eager=False,
        )
        pivot_frames.append(pivots)
        dominated = (
            cur.join(pivots.select(F.col("a").alias("b")), "b")
            .select("a")
            .distinct()
        )
        pool = cut(
            pool.join(pivots.select("a"), "a", "anti")
            .join(dominated, "a", "anti"),
            eager=False,
        )
        cur = cut(
            cur.join(pool, "a", "semi")
            .join(pool.select(F.col("a").alias("b")), "b", "semi"),
            eager=True,
        )
        if pool.isEmpty():
            break
    pivots_all = _union_all(pivot_frames)
    cents = pivots_all.select(
        "a",
        F.col("a").alias("cluster"),
        "round",
    )
    sats = (
        adj.join(
            pivots_all.select(
                F.col("a").alias("b"), F.col("round").alias("pround")
            ),
            "b",
        )
        .join(pivots_all.select("a"), "a", "anti")
        .groupBy("a")
        .agg(
            F.min(
                F.struct(
                    F.col("b").alias("cluster"), F.col("pround").alias("round")
                )
            ).alias("p")
        )
        .select("a", F.col("p.cluster").alias("cluster"), F.col("p.round").alias("round"))
    )
    done = cents.unionByName(sats)
    rest = nodes.join(done.select("a"), "a", "anti").select(
        "a",
        F.col("a").alias("cluster"),
        F.lit(rounds + 1).cast("int").alias("round"),
    )
    out = done.unionByName(rest)
    return out.select(
        F.col("a").cast("long").alias("node"),
        F.col("cluster").cast("long").alias("cluster"),
        "round",
    )


def canopy_clusters(
    pairs: DataFrame,
    sim_col: str,
    loose: int,
    tight: int,
    rounds: int = 3,
    nodes: DataFrame | None = None,
) -> DataFrame:
    """Canopy clustering (McCallum, Nigam & Ungar, KDD 2000) — the
    classic CHEAP-metric pre-blocking stage: overlapping "canopies"
    built from an inexpensive similarity so that the expensive pairwise
    comparator only ever runs INSIDE a canopy. Records may belong to
    several canopies (that overlap is what preserves recall); the
    guarantee the expensive stage relies on is that two records in NO
    common canopy are never compared.

    ``pairs``: (a:long, b:long, sim) cheap-similarity edges (symmetric
    or one direction; deduped and mirrored here), with ``sim`` an exact
    integer (e.g. shared-token count or Jaccard ppt). ``loose`` ≤
    ``tight`` are the two canopy thresholds in the same units (the
    similarity mirror of the paper's T2 ≥ distance ≥ T1): a record
    within ``loose`` of a center joins that canopy; a record within
    ``tight`` is REMOVED from the candidate pool and can center or join
    no later canopy.

    The sequential algorithm picks centers in arbitrary order; this
    parallel formulation (deterministic, engine-portable) uses node id
    order: round t makes every pool node whose id is smaller than all
    its loose-neighbors' ids in the pool a CENTER — isolated pool nodes
    center trivially — then emits one membership row per (pool node
    within loose of a new center), removes centers and every pool node
    within ``tight`` of one, and repeats. After ``rounds`` rounds,
    leftover pool nodes become their own singleton canopies with
    ``round = rounds + 1`` (exact-K semantics; the oracle unrolls the
    same blocks). Progress is guaranteed: the pool's smallest node is
    always a center.

    ``nodes``: optional (a:long) universe; records with no cheap-sim
    edge at all (not even to themselves) would otherwise be invisible —
    pass the full record id table to make them singleton canopies.

    Output: (node, canopy, round) — node grain is NOT unique (canopies
    overlap by design). Scale shape: per round one groupBy-min + two
    narrow joins over the loose edge list restricted to the pool
    (shrinking), lineage truncated per round via localCheckpoint.
    """
    if loose > tight:
        raise ValueError(
            f"loose similarity threshold must be <= tight, got {loose} > {tight}"
        )
    sym = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("a").alias("a"),
                        F.col("b").alias("b"),
                        F.col(sim_col).cast("long").alias("sim"),
                    ),
                    F.struct(
                        F.col("b").alias("a"),
                        F.col("a").alias("b"),
                        F.col(sim_col).cast("long").alias("sim"),
                    ),
                )
            ).alias("e")
        )
        .select("e.a", "e.b", "e.sim")
        .filter(F.col("a") != F.col("b"))
        .groupBy("a", "b")
        .agg(F.max("sim").alias("sim"))
        .filter(F.col("sim") >= F.lit(int(loose)))
    )
    pool = (
        nodes.select(F.col(nodes.columns[0]).cast("long").alias("a")).distinct()
        if nodes is not None
        else sym.select("a").distinct()
    )
    pool = cut(pool, eager=True)
    # restrict edges to the declared universe up front: a caller-supplied
    # ``nodes`` table may be a subset of the edge endpoints, and a
    # neighbor outside the pool must not veto a center election
    cur_edges = cut(
        sym.join(pool, "a", "semi")
        .join(pool.select(F.col("a").alias("b")), "b", "semi"),
        eager=True,
    )
    member_frames = []
    for rnd in range(1, rounds + 1):
        nbr_min = cur_edges.groupBy("a").agg(F.min("b").alias("mn"))
        centers = cut(
            pool.join(nbr_min, "a", "left")
            .filter(F.col("mn").isNull() | (F.col("a") < F.col("mn")))
            .select("a"),
            eager=True,
        )
        members = (
            cur_edges.join(centers.select(F.col("a").alias("b")), "b")
            .select(
                "a",
                F.col("b").alias("canopy"),
                F.lit(rnd).cast("int").alias("round"),
            )
            .unionByName(
                centers.select(
                    "a",
                    F.col("a").alias("canopy"),
                    F.lit(rnd).cast("int").alias("round"),
                )
            )
        )
        member_frames.append(cut(members, eager=True))
        removed = (
            cur_edges.filter(F.col("sim") >= F.lit(int(tight)))
            .join(centers.select(F.col("a").alias("b")), "b")
            .select("a")
            .unionByName(centers.select("a"))
            .distinct()
        )
        pool = cut(pool.join(removed, "a", "anti"), eager=True)
        cur_edges = cut(
            cur_edges.join(pool, "a", "semi")
            .join(pool.select(F.col("a").alias("b")), "b", "semi"),
            eager=True,
        )
        if pool.isEmpty():
            break
    rest = pool.select(
        "a",
        F.col("a").alias("canopy"),
        F.lit(rounds + 1).cast("int").alias("round"),
    )
    out = _union_all(member_frames + [rest])
    return out.select(
        F.col("a").cast("long").alias("node"),
        F.col("canopy").cast("long").alias("canopy"),
        "round",
    )
