"""Spans around calls into the program's layers, for the traced run.

The benchmark wraps the public functions of each layer (a module of the
program, see ``LAYER_POINTS``) while a traced operation runs. Each wrapped
call becomes a span (name, layer, start, end, parent) held in memory and
written out at the end of the run. The span sets a Spark job group named
``<layer>|<span id>`` and materializes the call's DataFrame outputs before it
closes, so the Spark jobs a layer's lazy plan causes run inside its own span
and the event log can charge them to it. Materializing at every boundary is
what makes the traced run slower than the untraced one; the run reports that
difference as the tracing overhead.

A layer's self time is its spans' durations minus the part their child spans
cover. The part of an operation's wall time that no layer span covers is
reported as the unattributed share.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import json
import os
import sys
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field
from typing import Any, Callable

from pyspark.sql import DataFrame

OP_LAYER = "op"
COUNTER_GROUP = "trace|counters"


@dataclass
class Span:
    id: int
    name: str
    layer: str
    parent: int | None
    start: float
    end: float = 0.0


def _frames(value: Any) -> list[DataFrame]:
    """The DataFrames a layer call returned: itself, or inside a tuple,
    list or dict."""
    if isinstance(value, DataFrame):
        return [value]
    if isinstance(value, (tuple, list)):
        return [v for v in value if isinstance(v, DataFrame)]
    if isinstance(value, dict):
        return [v for v in value.values() if isinstance(v, DataFrame)]
    return []


def _dir_bytes(root: str) -> int:
    total = 0
    for base, _dirs, files in os.walk(root):
        for fn in files:
            try:
                total += os.path.getsize(os.path.join(base, fn))
            except OSError:  # a commit's temp dir swept under the walk
                pass
    return total


class Tracer:
    """In-memory spans, job groups and layer counters for one traced run."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.counters: dict[str, float] = defaultdict(float)
        self._stack: list[int] = []
        self._held: list[DataFrame] = []

    def _set_group(self, group: str | None) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", group)

    @contextmanager
    def span(self, layer: str, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, layer, parent, time.perf_counter())
        self.spans.append(s)
        self._stack.append(s.id)
        self._set_group(f"{layer}|{s.id}")
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            top = self.spans[self._stack[-1]] if self._stack else None
            self._set_group(f"{top.layer}|{top.id}" if top else None)

    def materialize(self, df: DataFrame) -> int:
        """Run ``df``'s plan now, inside the current span, and keep the
        result cached for its consumers until the operation ends."""
        df.persist()
        self._held.append(df)
        return df.count()

    def counter_query(self, fn: Callable[[], Any]) -> Any:
        """Run a query that only feeds a counter, outside every layer."""
        self._set_group(COUNTER_GROUP)
        try:
            return fn()
        finally:
            top = self.spans[self._stack[-1]] if self._stack else None
            self._set_group(f"{top.layer}|{top.id}" if top else None)

    def within(self, layer: str) -> bool:
        return any(self.spans[i].layer == layer for i in self._stack)

    def release(self) -> None:
        while self._held:
            self._held.pop().unpersist()

    def self_times(self) -> dict[int, float]:
        """Span id → duration minus the union of its direct children."""
        children: dict[int, list[Span]] = defaultdict(list)
        for s in self.spans:
            if s.parent is not None:
                children[s.parent].append(s)
        out = {}
        for s in self.spans:
            covered, cur_start, cur_end = 0.0, None, None
            for c in sorted(children[s.id], key=lambda c: c.start):
                if cur_end is None or c.start > cur_end:
                    if cur_end is not None:
                        covered += cur_end - cur_start
                    cur_start, cur_end = c.start, c.end
                else:
                    cur_end = max(cur_end, c.end)
            if cur_end is not None:
                covered += cur_end - cur_start
            out[s.id] = (s.end - s.start) - covered
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


@dataclass(frozen=True)
class Point:
    """One traced public function.

    ``target`` is ``module:function`` or ``module:Class.method``. An empty
    ``layer`` opens no span of its own and runs only the ``pre`` step.
    ``rows_as`` names the counter that receives the call's output size
    (rows of its DataFrames, or ``len`` of any other sized result).
    ``pre`` materializes named DataFrame arguments first, each in a span
    of its own layer: ``{arg: (layer, counter or None)}``.
    ``distinct_as`` counts distinct values of an output column:
    ``(column, counter)``.
    """

    layer: str
    target: str
    rows_as: str | None = None
    pre: dict = field(default_factory=dict)
    distinct_as: tuple | None = None


def _wrap(tracer: Tracer, point: Point, fn: Callable) -> Callable:
    sig = inspect.signature(fn)
    name = point.target.split(":", 1)[1]
    unknown = set(point.pre) - set(sig.parameters)
    if unknown:
        raise ValueError(f"{point.target} has no parameter {sorted(unknown)}")
    is_commit = point.layer == "snapshots"

    @functools.wraps(fn)
    def traced(*args, **kwargs):
        # counters describe the pipeline's data flow; the evaluation layer's
        # own calls (CEAF runs connected components over its labels) add
        # time and jobs to their layers but no counts
        counting = not tracer.within("eval")
        if point.pre:
            bound = sig.bind_partial(*args, **kwargs).arguments
            for arg, (layer, counter) in point.pre.items():
                df = bound.get(arg)
                if isinstance(df, DataFrame):
                    with tracer.span(layer, f"{name}:{arg}"):
                        n = tracer.materialize(df)
                    if counter and counting:
                        tracer.counters[counter] += n
        if not point.layer:
            return fn(*args, **kwargs)
        store_root = args[0].root if is_commit else None
        before = _dir_bytes(store_root) if is_commit else 0
        with tracer.span(point.layer, name):
            out = fn(*args, **kwargs)
            frames = _frames(out)
            rows = sum(tracer.materialize(df) for df in frames)
        if is_commit:
            tracer.counters["snapshots.commits"] += 1
            tracer.counters["snapshots.bytes_written"] += (
                _dir_bytes(store_root) - before
            )
        if not counting:
            return out
        if point.rows_as:
            if frames:
                tracer.counters[point.rows_as] += rows
            elif hasattr(out, "__len__"):
                tracer.counters[point.rows_as] += len(out)
        if point.distinct_as:
            col, counter = point.distinct_as
            tracer.counters[counter] += sum(
                tracer.counter_query(lambda df=df: df.select(col).distinct().count())
                for df in frames
            )
        return out

    return traced


def _program_modules(root: str) -> list:
    """Loaded modules that belong to the program: files under ``root``,
    outside the benchmark's own directory."""
    bench = os.path.dirname(os.path.abspath(__file__)) + os.sep
    out = []
    for mod in list(sys.modules.values()):
        path = os.path.abspath(getattr(mod, "__file__", None) or os.sep)
        if path.startswith(root + os.sep) and not path.startswith(bench):
            out.append(mod)
    return out


@contextmanager
def instrumented(tracer: Tracer, points: list[Point], root: str):
    """Wrap every point for the duration of the block. A function is
    replaced on its defining module or class and wherever a program module
    bound it by name (``from m import f``)."""
    patches: list[tuple[Any, str, Any]] = []
    try:
        for point in points:
            mod_name, attr = point.target.split(":", 1)
            owner = importlib.import_module(mod_name)
            if "." in attr:
                cls_name, attr = attr.split(".", 1)
                owner = getattr(owner, cls_name)
            orig = vars(owner)[attr]
            wrapped = _wrap(tracer, point, orig)
            sites = [(owner, attr)]
            if not isinstance(owner, type):
                sites += [(mod, key) for mod in _program_modules(root) if mod is not owner
                          for key, val in list(vars(mod).items()) if val is orig]
            for obj, key in sites:
                setattr(obj, key, wrapped)
                patches.append((obj, key, orig))
        yield
    finally:
        for obj, key, orig in reversed(patches):
            setattr(obj, key, orig)


# The layers are the program's modules. Each entry is a public function the
# workloads reach; private helpers stay inside their caller's span.
_AN = "xlink_spark.operators.anchors"
_DT = "xlink_spark.operators.detect"
_SC = "xlink_spark.operators.scoring"
_CL = "xlink_spark.operators.cluster"
_LK = "xlink_spark.operators.linkage"
_EV = "xlink_spark.eval"
_SN = "xlink_spark.plans.snapshots"
_IN = "xlink_spark.plans.incremental"

LAYER_POINTS: list[Point] = [
    # spans: the plain-text projection of the span arrays, materialized
    # where the dictionary build and the predictor first consume it
    Point("anchors", f"{_AN}:freq_m_from_plain", "anchors.rows_out",
          pre={"docs_plain": ("spans", None)}),
    Point("anchors", f"{_AN}:extract_mention_anchors", "anchors.rows_out"),
    Point("anchors", f"{_AN}:extract_self_links", "anchors.rows_out"),
    Point("anchors", f"{_AN}:refine_by_freq", "anchors.rows_out"),
    Point("anchors", f"{_AN}:filter_mention_anchors", "anchors.rows_out"),
    Point("anchors", f"{_AN}:expand_title_entities", "anchors.rows_out"),
    Point("anchors", f"{_AN}:merge_anchor_counts", "anchors.rows_out"),
    Point("anchors", f"{_AN}:filter_by_entity_embedding", "anchors.rows_out"),
    Point("anchors", f"{_AN}:filter_title_entities", "anchors.rows_out"),
    Point("probs", "xlink_spark.operators.probs:four_probs"),
    Point("probs", "xlink_spark.operators.probs:link_prob"),
    Point("detect", f"{_DT}:build_surface_dict", "detect.dict_entries"),
    Point("detect", f"{_DT}:detect_mentions", "detect.mentions"),
    Point("detect", f"{_DT}:detect_mentions_join", "detect.mentions"),
    Point("detect", f"{_DT}:resolve_conflicts", "detect.kept"),
    Point("scoring", f"{_SC}:attach_context"),
    Point("scoring", f"{_SC}:context_word_vector"),
    Point("scoring", f"{_SC}:seed_pool_from_dictionary"),
    Point("scoring", f"{_SC}:candidate_table"),
    Point("scoring", f"{_SC}:seed_argmax"),
    Point("scoring", f"{_SC}:doc_agg_from_seeds"),
    Point("scoring", f"{_SC}:context_entity_vector", "scoring.candidates"),
    Point("scoring", f"{_SC}:score_has_prob", "scoring.links"),
    Point("scoring", f"{_SC}:score_no_prob", "scoring.links"),
    Point("scoring", f"{_SC}:merge_results"),
    Point("cluster", f"{_CL}:link_edges"),
    Point("cluster", f"{_CL}:connected_components",
          pre={"edges": ("cluster", "cluster.edges_in")},
          distinct_as=("component", "cluster.components")),
    Point("cluster", f"{_CL}:incremental_components",
          pre={"new_edges": ("cluster", "cluster.edges_in")},
          distinct_as=("component", "cluster.components")),
    Point("cluster", f"{_CL}:entity_clusters"),
    Point("cluster", f"{_CL}:cluster_links"),
    Point("cluster", f"{_CL}:reconcile_cluster_ids"),
    Point("cluster", f"{_CL}:mint_stable_ids"),
    Point("linkage.blocking", f"{_LK}:edit_distance_join", "linkage.blocking.pairs_out"),
    Point("linkage.fs", f"{_LK}:fs_em_weights"),
    Point("linkage.fs", f"{_LK}:fs_score"),
    Point("linkage.golden", f"{_LK}:golden_records"),
    Point("eval", f"{_EV}.bcubed:bcubed"),
    Point("eval", f"{_EV}.bcubed:muc"),
    Point("eval", f"{_EV}.bcubed:blanc"),
    Point("eval", f"{_EV}.bcubed:adjusted_rand"),
    Point("eval", f"{_EV}.bcubed:vmeasure"),
    Point("eval", f"{_EV}.ceaf:ceaf"),
    Point("snapshots", f"{_SN}:SnapshotStore.commit"),
    Point("snapshots", f"{_SN}:SnapshotStore.commit_table"),
    Point("incremental", f"{_IN}:table_diff"),
    Point("incremental", f"{_IN}:link_increment"),
    Point("incremental", f"{_IN}:current_links"),
    # the predictor is plan glue, not a layer: no span of its own, but its
    # plain-text input is the spans layer's output
    Point("", "xlink_spark.plans.pipeline:link_corpus",
          pre={"docs_plain": ("spans", None)}),
]
