"""Similarity search over embedding columns (`array<float>`).

Two tiers:

* ``brute_force_topk`` — exact cosine top-k via a blocked cross join +
  window rank. Correctness baseline and the within-bucket kernel.
* ``srp_buckets`` + ``bucketed_topk`` — sign-random-projection LSH: each
  vector hashes to a b-bit bucket by the signs of b fixed pseudo-random
  hyperplanes (deterministic, seed-derived, no Python). Neighbors are
  searched within the query's bucket (optionally ± multi-probe buckets).
  At 10^12 rows the bucket join replaces the quadratic cross join; recall
  is tuned by b and the number of probes.

All vector math is JVM-side (zip_with/aggregate); a Pandas-UDF matmul path
exists in functions.vectors for very wide fan-outs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from xlink_spark.functions.vectors import dot


def _unit(vec_col) -> "F.Column":
    """vec / ‖vec‖ as a double array; zero vector → null (cos convention 0).

    Normalizing each vector ONCE turns every pairwise cosine into a single
    dot product — with B pairs per vector the per-pair cost drops from three
    folds + two sqrts to one fold, the dominant term of every bucketed
    search (measured 2-3× on the bench ANN queries).
    """
    c = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    n = F.sqrt(
        F.aggregate(c, F.lit(0.0), lambda a, x: a + x.cast("double") * x.cast("double"))
    )
    return F.when(n > 0, F.transform(c, lambda x: x.cast("double") / n))


def _unit_cos(qu: str, nu: str) -> "F.Column":
    """Cosine of two pre-unit-normalized (nullable) vectors."""
    return F.when(
        F.col(qu).isNull() | F.col(nu).isNull(), F.lit(0.0)
    ).otherwise(dot(qu, nu))


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    Output: (query_id, neighbor_id, cos, rank), rank 1..k, ties broken by
    ascending neighbor id for determinism. Self-matches excluded.
    """
    q = queries.select(F.col(id_col).alias("query_id"), _unit(vec_col).alias("qv"))
    c = corpus.select(F.col(id_col).alias("neighbor_id"), _unit(vec_col).alias("nv"))
    scored = (
        q.crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cos", F.round(_unit_cos("qv", "nv"), 6))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos", "rank")
    )


def _hyperplanes(dim: int, bits: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (driver-side, tiny)."""
    import numpy as np

    rng = np.random.RandomState(seed)
    return rng.normal(size=(bits, dim)).tolist()


def srp_buckets(
    emb: DataFrame,
    dim: int,
    bits: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Sign-random-projection bucket per vector: (id, bucket:int).

    bucket = Σ (sign(v·h_i) > 0) << i over ``bits`` fixed hyperplanes.
    Cosine-similar vectors collide with probability 1 − θ/π per bit.
    """
    planes = _hyperplanes(dim, bits, seed)
    bucket = None
    for i, p in enumerate(planes):
        plane = F.array(*[F.lit(float(x)) for x in p])
        bit = F.when(dot(F.col(vec_col), plane) > 0, F.lit(1 << i)).otherwise(F.lit(0))
        bucket = bit if bucket is None else bucket + bit
    return emb.select(F.col(id_col), F.col(vec_col), bucket.alias("bucket"))


def bucketed_topk(
    emb: DataFrame,
    dim: int,
    k: int = 5,
    bits: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    probes: int = 0,
) -> DataFrame:
    """Approximate all-pairs top-k: brute force within each SRP bucket.

    One equi-join on bucket instead of a cross join — the scale path. The
    probability a true neighbor lands in the same bucket falls with angle;
    increase recall with fewer bits or multi-probe: ``probes`` > 0 also
    searches the buckets at Hamming distance 1 obtained by flipping each of
    the first ``probes`` hyperplane bits on the QUERY side (the corpus side
    stays single-bucket, so join fan-out grows by probes+1, not squared; a
    neighbor occupies exactly one bucket, so no duplicate pairs arise).
    ``probes=bits`` searches all 1-bit neighbors.
    """
    b = srp_buckets(emb, dim, bits, seed, id_col, vec_col).withColumn(
        "_u", _unit(vec_col)
    )
    if probes > 0:
        probe_arr = F.array(
            F.col("bucket"),
            *[
                F.col("bucket").bitwiseXOR(F.lit(1 << i))
                for i in range(min(probes, bits))
            ],
        )
        a = b.select(
            F.col(id_col).alias("query_id"),
            F.col("_u").alias("qv"),
            F.explode(probe_arr).alias("bucket"),
        )
    else:
        a = b.select(
            F.col(id_col).alias("query_id"), F.col("_u").alias("qv"), "bucket"
        )
    c = b.select(F.col(id_col).alias("neighbor_id"), F.col("_u").alias("nv"), "bucket")
    scored = (
        a.join(c, "bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cos", F.round(_unit_cos("qv", "nv"), 6))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos", "rank")
    )


def centroid_probe_clusters(
    vec_col,
    centroids: list[tuple[int, list[float]]],
    nprobe: int,
    selfdot=None,
):
    """Expression: the ``nprobe`` nearest centroid ids for a vector column.

    The SMALL-quantizer path (see ``assign_probe_clusters`` for selection):
    the centroids ride into the plan as literals and probe ranking is a
    pure per-row expression — array_sort over (d², id) structs — instead of
    a vectors × centroids join + window shuffle. Assignment of 10^12 vectors
    becomes scan-speed map work; NOTHING shuffles until the in-cluster join.
    The expression is O(C·dim) wide, so past a few dozen centroids it
    exceeds JVM codegen method limits and analysis cost grows per query —
    that is the join path's job.

    Distance is the full d² = v·v − 2·v·c + c·c with every dot a sequential
    double fold — the exact arithmetic a SQL oracle reproduces with
    list_dot_product on double lists, so assignments are engine-portable.
    Two constant factorings keep the VALUES bit-identical while cutting the
    per-row folds from 3·C to C: ``selfdot`` lets the caller compute v·v
    once and reuse it across all C centroid structs (same fold, same value),
    and c·c is folded driver-side in Python (IEEE-double left fold — the
    sequence the JVM would run on the literal array).
    """
    structs = []
    sd = dot(vec_col, vec_col) if selfdot is None else selfdot
    for cid, cvec in centroids:
        arr = F.array(*[F.lit(float(x)) for x in cvec])
        cc = 0.0
        for x in cvec:
            cc += float(x) * float(x)
        d2 = sd - 2 * dot(vec_col, arr) + F.lit(cc)
        structs.append(F.struct(d2.alias("d"), F.lit(int(cid)).alias("c")))
    ranked = F.array_sort(F.array(*structs))  # lexicographic: d asc, then id asc
    return F.transform(
        F.slice(ranked, 1, min(nprobe, len(centroids))), lambda s: s["c"]
    )


# Above this centroid count, quantizer assignment switches from the literal
# per-row expression to the broadcast-join path: a fully-unrolled C-struct
# projection at C≫64 blows past JVM codegen method limits (measured in this
# repo: interpreted fallback) and costs O(C·dim) PLAN ANALYSIS per query,
# while SemDeDup/IVF at 10^12 vectors needs C in the 10⁴–10⁵ range. Same
# policy shape as detect.py's broadcast_dict_max_rows.
LITERAL_CENTROID_MAX = 64

# Default row cap for the convenience KMeans quantizer training in ivf_topk
# (used only when neither frozen centroids nor an explicit sample_fraction is
# given): ample for 10³-10⁴ centroids at ~10-100 rows per centroid, and it
# keeps the training job bounded no matter the corpus size.
IVF_TRAIN_ROW_CAP = 262_144


def assign_probe_clusters(
    emb: DataFrame,
    centroids: list[tuple[int, list[float]]],
    nprobe: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    literal_centroid_max: int = LITERAL_CENTROID_MAX,
) -> DataFrame:
    """(id, vec, _sd, _probes): each vector's v·v self-dot and its ``nprobe``
    nearest centroid ids, ordered nearest-first.

    Path selection by quantizer size (both produce BIT-IDENTICAL
    assignments — same d² = v·v − 2·v·c + c·c with sequential double folds,
    same (d², cluster) tie-break — pinned by test):

    * ``C ≤ literal_centroid_max`` — the scan-speed literal expression
      (``centroid_probe_clusters``): no shuffle anywhere.
    * ``C > literal_centroid_max`` — broadcast the centroid table (tiny:
      C × dim doubles) and rank per vector: the C-fanout rows are projected
      down to (id, cluster, d²) BEFORE the ranking exchange, so vectors
      never ride the candidate-level shuffle, and the per-vector work is
      one narrow row_number window instead of a codegen-busting C-struct
      projection. Cost: one narrow shuffle keyed by the (unique, skew-free)
      vector id plus one hash join to re-attach vec/_sd — the price of not
      folding 10⁴ centroids into every projection.
    """
    pre = emb.select(
        F.col(id_col), F.col(vec_col), dot(vec_col, vec_col).alias("_sd")
    )
    # the per-vector work (C dot-product folds on the join path, a C-struct
    # expression on the literal path) inherits the INPUT partitioning — a
    # small parquet is 1-2 splits, which would serialize the whole
    # assignment onto one core (measured: C=4096 assignment 59s 1-way vs
    # ~2s 32-way). Spread only when under-split; at real corpus scale the
    # scan has thousands of natural splits and this branch is never taken.
    par = emb.sparkSession.sparkContext.defaultParallelism
    if pre.rdd.getNumPartitions() < par:
        pre = pre.repartition(par, id_col)
    if len(centroids) <= literal_centroid_max:
        return pre.withColumn(
            "_probes",
            centroid_probe_clusters(
                F.col(vec_col), centroids, nprobe, selfdot=F.col("_sd")
            ),
        )
    spark = emb.sparkSession
    rows = []
    for cid, cvec in centroids:
        cc = 0.0  # Python left fold == the JVM's sequential fold (oracle-safe)
        for x in cvec:
            cc += float(x) * float(x)
        rows.append((int(cid), [float(x) for x in cvec], cc))
    cents = spark.createDataFrame(rows, "cluster int, cvec array<double>, cc double")
    d2 = F.col("_sd") - 2 * dot(vec_col, F.col("cvec")) + F.col("cc")
    narrow = (
        pre.join(F.broadcast(cents))  # map-side nested-loop fanout, C per row
        .select(F.col(id_col), F.col("cluster"), d2.alias("_d2"))  # drop vec pre-shuffle
    )
    w = Window.partitionBy(id_col).orderBy(F.col("_d2").asc(), F.col("cluster").asc())
    probes = (
        narrow.withColumn("_pr", F.row_number().over(w))
        .filter(F.col("_pr") <= nprobe)
        .groupBy(id_col)  # same key as the window partitioning: no extra exchange
        .agg(F.array_sort(F.collect_list(F.struct("_pr", "cluster"))).alias("_ps"))
        .select(id_col, F.transform("_ps", lambda s: s["cluster"]).alias("_probes"))
    )
    return pre.join(probes, id_col)


def quantizer_training_frame(
    emb: DataFrame,
    vec_col: str = "embedding",
    sample_fraction: float | None = None,
    seed: int = 42,
    train_row_cap: int | None = None,
) -> DataFrame:
    """The (BOUNDED by default) KMeans quantizer training projection.

    With no explicit ``sample_fraction``, fitting iterative KMeans on the
    full input would be an accidental full-corpus ML job at 10^12 rows,
    while a coarse quantizer needs only ~hundreds of rows per centroid — so
    the default training set is a deterministic sample capped at
    ``IVF_TRAIN_ROW_CAP`` rows (the cap costs one count(), noise next to
    the k-means passes it bounds). Pass ``sample_fraction=1.0`` to opt back
    into a full fit; frozen ``centroids`` (the production shape) skip
    training entirely.
    """
    from pyspark.ml.functions import array_to_vector

    feat = emb.select(
        array_to_vector(
            F.transform(F.col(vec_col), lambda x: x.cast("double"))
        ).alias("_feat")
    )
    if sample_fraction is None:
        cap = train_row_cap if train_row_cap is not None else IVF_TRAIN_ROW_CAP
        n = emb.count()
        sample_fraction = min(1.0, cap / n) if n > cap else 1.0
    return feat if sample_fraction >= 1.0 else feat.sample(sample_fraction, seed=seed)


def ivf_topk(
    emb: DataFrame,
    k: int = 5,
    n_clusters: int = 16,
    nprobe: int = 2,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_fraction: float | None = None,
    centroids: list[tuple[int, list[float]]] | None = None,
    literal_centroid_max: int = LITERAL_CENTROID_MAX,
    train_row_cap: int | None = None,
) -> DataFrame:
    """IVF (inverted-file) ANN: coarse quantizer + in-cluster search.

    The second scale path next to SRP buckets. ``centroids`` is the frozen
    coarse quantizer as (cluster_id, vector) pairs — the production shape: a
    quantizer is trained once offline and served as a tiny artifact, never
    refit per query. When omitted, MLlib KMeans learns it here (JVM,
    optionally on a ``sample_fraction`` of the input; deterministic given
    ``seed``). Assignment + probe ranking goes through
    ``assign_probe_clusters`` — a scan-speed literal expression for small
    quantizers, a broadcast-join ranking above ``literal_centroid_max``
    (the 10⁴+-centroid regime real IVF needs): each vector's inverted-file
    cluster is its nearest centroid, each query probes its ``nprobe``
    nearest — and the neighbor search is an equi-join on cluster with
    fan-out nprobe × (cluster size). No cross join anywhere; recall is tuned
    by n_clusters/nprobe.

    Output: (query_id, neighbor_id, cos, rank). Self-matches excluded.
    """
    if centroids is None:
        from pyspark.ml.clustering import KMeans

        train = quantizer_training_frame(
            emb, vec_col=vec_col, sample_fraction=sample_fraction,
            seed=seed, train_row_cap=train_row_cap,
        )
        model = KMeans(k=n_clusters, seed=seed, featuresCol="_feat").fit(train)
        centroids = [
            (int(i), [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())
        ]
    # one self-fold per vector serves BOTH the probe ranking (v·v term of
    # d²) and the unit normalization (‖v‖ = √(v·v), same fold, same value)
    pre = assign_probe_clusters(
        emb, centroids, nprobe, id_col, vec_col,
        literal_centroid_max=literal_centroid_max,
    )
    nrm = F.sqrt(F.col("_sd"))
    unit = F.when(nrm > 0, F.transform(F.col(vec_col), lambda x: x.cast("double") / nrm))
    base = pre.select(F.col(id_col), "_probes", unit.alias("_u"))
    c = base.select(
        F.col(id_col).alias("neighbor_id"),
        F.col("_u").alias("nv"),
        F.element_at("_probes", 1).alias("cluster"),  # inverted-file home
    )
    q = base.select(
        F.col(id_col).alias("query_id"),
        F.col("_u").alias("qv"),
        F.explode("_probes").alias("cluster"),
    )
    scored = (
        q.join(c, "cluster")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cos", F.round(_unit_cos("qv", "nv"), 6))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos", "rank")
    )


def knn_label_vote(topk: DataFrame, labels: DataFrame, id_col: str = "vec_id", label_col: str = "label") -> DataFrame:
    """Majority label among each query's neighbors (ties → smallest label)."""
    lab = labels.select(F.col(id_col).alias("neighbor_id"), F.col(label_col).alias("nlabel"))
    votes = topk.join(lab, "neighbor_id").groupBy("query_id", "nlabel").agg(
        F.count(F.lit(1)).alias("votes")
    )
    w = Window.partitionBy("query_id").orderBy(F.col("votes").desc(), F.col("nlabel").asc())
    return (
        votes.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("query_id", F.col("nlabel").alias("pred_label"), "votes")
    )
