"""Pins for the data-driven skew plans (operators/skew)."""

from __future__ import annotations

from pyspark.sql import functions as F

from xlink_spark.operators.skew import join_salt_plan


def _probe(spark):
    # "hot" appears 6×, "warm" 3×, "cold" 1×, "orphan" probe-only
    rows = (
        [(f"d{i}", "hot") for i in range(6)]
        + [(f"d{i}", "warm") for i in range(3)]
        + [("d9", "cold"), ("d10", "orphan")]
    )
    return spark.createDataFrame(rows, ["doc_id", "key"])


def _build(spark):
    # candidates per key; "lonely" is build-only
    rows = (
        [("hot", f"e{i}") for i in range(5)]
        + [("warm", "e0"), ("warm", "e1")]
        + [("cold", "e7"), ("lonely", "e8")]
    )
    return spark.createDataFrame(rows, ["key", "entity"])


def test_join_salt_plan_exact_ceil(spark):
    plan = join_salt_plan(_probe(spark), _build(spark), "key", target_rows_per_task=4)
    got = {r["key"]: r.asDict() for r in plan.collect()}
    # hot: 6·5 = 30 → ceil(30/4) = 8; warm: 3·2 = 6 → ceil(6/4) = 2
    # cold: 1·1 = 1 → factor 1, excluded; orphan/lonely: no match, excluded
    assert set(got) == {"hot", "warm"}
    assert got["hot"]["n_probe"] == 6 and got["hot"]["n_build"] == 5
    assert got["hot"]["est_rows"] == 30 and got["hot"]["salt_factor"] == 8
    assert got["warm"]["est_rows"] == 6 and got["warm"]["salt_factor"] == 2


def _blocked(spark):
    # one giant block (40 rows), two medium, one singleton
    rows = (
        [("giant", 100 + i) for i in range(40)]
        + [("m1", i) for i in range(9)]
        + [("m2", 50 + i) for i in range(8)]
        + [("solo", 999)]
    )
    return spark.createDataFrame(rows, ["block", "id"])


def test_block_split_pairs_equals_plain_blocking(spark):
    """BlockSplit's pair set is exactly the naive within-block quadratic."""
    from xlink_spark.operators.skew import block_split_pairs

    df = _blocked(spark)
    got = sorted(
        (r["id_a"], r["id_b"])
        for r in block_split_pairs(
            df, "block", "id", max_pairs_per_task=30
        ).collect()
    )
    plain = (
        df.alias("a")
        .join(df.alias("b"), "block")
        .filter(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("x"), F.col("b.id").alias("y"))
    )
    exp = sorted((r["x"], r["y"]) for r in plain.collect())
    assert got == exp
    # every pair appears exactly once (no task double-emits)
    assert len(got) == len(set(got))


def test_block_split_task_bound_and_plan_max_exact(spark):
    """No task exceeds the target; the plan's max_task_pairs is the exact
    observed per-block maximum (full-chunk/ragged-chunk case analysis)."""
    from xlink_spark.operators.skew import block_split_pairs, block_split_plan

    df = _blocked(spark)
    t = 30  # s = isqrt(30) = 5
    pairs = block_split_pairs(df, "block", "id", max_pairs_per_task=t)
    per_task = pairs.groupBy("block", "task_i", "task_j").count()
    assert per_task.agg(F.max("count")).first()[0] <= t
    plan = {
        r["block"]: r.asDict()
        for r in block_split_plan(
            df, "block", "id", max_pairs_per_task=t
        ).collect()
    }
    obs = {
        r["block"]: r["m"]
        for r in per_task.groupBy("block")
        .agg(F.max("count").alias("m"))
        .collect()
    }
    # giant: n=40, s=5 → k=8, 36 tasks, max = s·s = 25
    assert plan["giant"]["k_chunks"] == 8
    assert plan["giant"]["n_tasks"] == 36
    assert plan["giant"]["max_task_pairs"] == 25
    # m1: n=9 → k=2, ragged r=4: max(C(5,2)=10, 5·4=20) = 20
    assert plan["m1"]["k_chunks"] == 2 and plan["m1"]["max_task_pairs"] == 20
    # solo: n=1 → k=1, zero pairs
    assert plan["solo"]["k_chunks"] == 1 and plan["solo"]["pairs_total"] == 0
    for blk, m in obs.items():
        assert m == plan[blk]["max_task_pairs"], blk
    # task count observed = plan n_tasks for blocks with >= 2 chunks of work
    n_tasks_obs = {
        r["block"]: r["c"]
        for r in per_task.groupBy("block")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    }
    assert n_tasks_obs["giant"] == 36


def test_block_split_degenerate_and_layout_independent(spark):
    """Cold blocks (n <= s) keep k = 1 and one self task; the pair set and
    task assignment are identical across input layouts (rank by id)."""
    from xlink_spark.operators.skew import block_split_pairs

    df = _blocked(spark)
    big_t = 10_000  # s = 100 → every block single-task
    one = block_split_pairs(df, "block", "id", max_pairs_per_task=big_t)
    assert one.filter(
        (F.col("task_i") != 0) | (F.col("task_j") != 0)
    ).count() == 0
    base = sorted(map(tuple, block_split_pairs(
        df, "block", "id", max_pairs_per_task=30
    ).collect()))
    shuffled = sorted(map(tuple, block_split_pairs(
        df.orderBy(F.rand(7)).repartition(13), "block", "id",
        max_pairs_per_task=30,
    ).collect()))
    assert base == shuffled


def test_block_split_rejects_bad_target(spark):
    import pytest

    from xlink_spark.operators.skew import block_split_plan

    with pytest.raises(ValueError):
        block_split_plan(_blocked(spark), max_pairs_per_task=0).collect()
