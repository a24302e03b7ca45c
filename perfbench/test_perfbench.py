"""Tests of the benchmark's own parts. Run: python -m pytest perfbench -q"""

from __future__ import annotations

import json
import os

import pytest

from perfbench import inputs as IN
from perfbench.eventlog import group_totals
from perfbench.trace import Span, Tracer
from perfbench.workloads import Expected, check_er, check_links


def test_same_seed_same_input_hash(tmp_path):
    a_dir, a = IN.ensure_inputs(str(tmp_path / "a"), "er_chain", 3)
    b_dir, b = IN.ensure_inputs(str(tmp_path / "b"), "er_chain", 3)
    _, c = IN.ensure_inputs(str(tmp_path / "a"), "er_chain", 4)
    assert a["hash"] == b["hash"] and a["rows"] == b["rows"] == {"records": 2 * IN.ER_CLEAN}
    assert c["hash"] != a["hash"]
    # a second call reuses the cache entry instead of regenerating
    os.remove(os.path.join(a_dir, "records", "part-0.parquet"))
    assert IN.ensure_inputs(str(tmp_path / "a"), "er_chain", 3) == (a_dir, a)


def test_any_seed_is_folded_into_the_generators_range(tmp_path):
    for seed in (0, IN.SEED_RANGE - 1, 5000, 2**40 + 7, -3):
        assert 0 <= IN.generator_seed(seed) < IN.SEED_RANGE
    # the largest folded seed still seeds every per-document generator
    IN.generate_corpus(seed=IN.SEED_RANGE - 1, n_docs=3, n_entities=4)
    _, big = IN.ensure_inputs(str(tmp_path), "er_chain", 2**40 + 7)
    _, same = IN.ensure_inputs(str(tmp_path / "b"), "er_chain", IN.generator_seed(2**40 + 7))
    assert big["hash"] == same["hash"]


def test_incremental_versions_follow_the_change_plan():
    t = IN.incremental_tables(5)
    v0, v1, v2 = (t[f"docs_v{k}"][0] for k in range(3))
    assert len(v0) == IN.INC_BASE_DOCS
    assert len(v1) == len(v0) + IN.INC_ADD - IN.INC_REMOVE
    assert len(v2) == len(v1) + IN.INC_ADD
    old = dict(zip(v0.doc_id, v0.spans))
    changed = [d for d, s in zip(v1.doc_id, v1.spans) if d in old and len(s) != len(old[d])]
    assert len(changed) == IN.INC_CHANGE
    assert IN.incremental_tables(5)["docs_v1"][0].doc_id.tolist() == v1.doc_id.tolist()


@pytest.fixture(scope="module")
def spark():
    from xlink_spark.session import get_spark

    s = get_spark(app_name="perfbench_tests", master="local[2]", shuffle_partitions=2)
    yield s
    s.stop()


def test_corrupted_links_fail_the_check(spark, tmp_path):
    gold = spark.createDataFrame(
        [(f"d{i}", 0, 5, "alpha", f"e{i % 7}") for i in range(50)],
        "doc_id string, start int, end int, surface string, entity_id string",
    )
    links = gold.withColumn("believe", gold.start * 0 + 1.0)
    expected = Expected(str(tmp_path / "expected.json"))
    f1, fails = check_links(gold, links, 7, expected, "")
    assert f1 == 1.0 and fails == []
    expected.save()

    from pyspark.sql import functions as F

    # wrong entity on a fifth of the links: below the floor and off the record
    wrong = links.withColumn(
        "entity_id",
        F.when(F.col("doc_id").substr(2, 3).cast("int") % 5 == 0, F.lit("e_bad"))
        .otherwise(F.col("entity_id")),
    )
    f1, fails = check_links(gold, wrong, 7, Expected(expected.path), "")
    assert f1 < 0.9
    assert any("link_f1" in f for f in fails)
    # a dropped row changes the recorded link count
    _, fails = check_links(gold, links.limit(49), 7, Expected(expected.path), "")
    assert any("links_rows" in f for f in fails)


def test_er_check_rejects_collapsed_clusters(tmp_path):
    n = 2 * IN.ER_CLEAN
    good = {"n_records": n, "n_candidate_pairs": 40000, "n_match_edges": 2100,
            "n_clusters": int(0.9 * IN.ER_CLEAN), "eval": {"bcubed_f_micro": 950000}}
    b3, fails = check_er(good, n, Expected(str(tmp_path / "e.json")))
    assert b3 == 0.95 and fails == []
    collapsed = {**good, "n_clusters": 19, "eval": {"bcubed_f_micro": 1300}}
    _, fails = check_er(collapsed, n, Expected(str(tmp_path / "e.json")))
    assert any("clusters outside" in f for f in fails)
    assert any("B3 F" in f for f in fails)


class _Context:
    def __init__(self):
        self.groups = []

    def setLocalProperty(self, key, value):
        self.groups.append(value)


class _Session:
    def __init__(self):
        self.sparkContext = _Context()


def test_self_time_subtracts_children_and_restores_groups():
    tr = Tracer(_Session())
    tr.spans = [
        Span(0, "op", "op", None, 0.0, 10.0),
        Span(1, "a", "anchors", 0, 1.0, 5.0),
        Span(2, "b", "probs", 1, 2.0, 3.0),
        Span(3, "c", "probs", 1, 2.5, 4.0),  # overlaps b: covered once
        Span(4, "d", "cluster", 0, 6.0, 7.0),
    ]
    st = tr.self_times()
    assert st == {0: 5.0, 1: 2.0, 2: 1.0, 3: 1.5, 4: 1.0}

    tr = Tracer(_Session())
    with tr.span("op", "op0"):
        with tr.span("detect", "x"):
            pass
    assert tr.sc.groups == ["op|0", "detect|1", "op|0", None]


def test_event_log_totals_by_job_group(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "detect|3"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2]},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1,
         "Task End Reason": {"Reason": "Success"},
         "Task Metrics": {"Executor CPU Time": 2_000_000_000,
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 1 << 20},
                          "Disk Bytes Spilled": 1 << 20, "Memory Bytes Spilled": 0}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
         "Task End Reason": {"Reason": "ExceptionFailure"}, "Task Metrics": {}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2,
         "Task End Reason": {"Reason": "Success"},
         "Task Metrics": {"Executor CPU Time": 1_000_000_000}},
    ]
    (tmp_path / "app").write_text("\n".join(json.dumps(e) for e in events) + "\nnot json\n")
    g = group_totals(str(tmp_path))
    assert g["detect|3"] == {"jobs": 1, "task_cpu_s": 2.0, "shuffle_write_mb": 1.0,
                             "spill_mb": 1.0, "failed_tasks": 1}
    assert g[""]["jobs"] == 1 and g[""]["task_cpu_s"] == 1.0


def test_printed_metrics_match_benchmark_json():
    from perfbench import run

    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ops = [{"wall_s": 2.0, "items": 10, "input_bytes": 100}]
    e2e = run._end_to_end(ops, 5.0, 0.9)
    assert [m["name"] for m in bench["end_to_end"]] == list(e2e)
    assert all(e2e[m["name"]]["unit"] == m["unit"] for m in bench["end_to_end"])

    tr = Tracer(_Session())
    tr.spans = [Span(0, "op0", "op", None, 0.0, 2.0), Span(1, "x", "detect", 0, 0.5, 1.5)]
    layers = run._per_layer(tr, {"detect|1": {"jobs": 3}}, ops[0], ops, ops, 4.0)
    assert [m["name"] for m in bench["per_layer"]] == list(layers)
    assert all(layers[m["name"]]["unit"] == m["unit"] for m in bench["per_layer"])
    assert layers["detect.jobs"]["value"] == 3
    assert layers["detect.self_s"]["value"] == 1.0
    assert layers["trace.unattributed_share"]["value"] == 0.5


def test_every_layer_point_resolves():
    """A renamed program function or parameter must fail here, not leave
    its layer silently untraced."""
    import importlib

    from perfbench.trace import LAYER_POINTS, _wrap

    tr = Tracer(_Session())
    for point in LAYER_POINTS:
        mod_name, attr = point.target.split(":", 1)
        owner = importlib.import_module(mod_name)
        if "." in attr:
            cls_name, attr = attr.split(".", 1)
            owner = getattr(owner, cls_name)
        _wrap(tr, point, vars(owner)[attr])
