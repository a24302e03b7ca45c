"""Benchmark entry point.

    python3 perfbench/run.py --workload batch_link|er_chain|incremental_link \\
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. It makes the workload's inputs from the
seed (cached under ``.perfbench/``, outside all timing), starts one Spark
session at ``local[nproc]``, reads and validates the inputs (three times;
the median counts) and sets the workload up; ``setup_s`` is the session
start plus that. Then it runs operations back to back (a closed loop, one
client) until ``--seconds`` of wall time have passed, at least one. Every
operation's output is checked; a failed check counts in ``failed`` and the
timing is still reported. The last line of stdout is one JSON object:
``correct``, ``attempted``, ``failed`` and ``metrics``; the line before it
holds the run context (nproc, load average, Spark version, input hash).

The first timed operation is the first in its session, as it is for a
user who runs ``jobs/run_pipeline.py`` or ``jobs/run_er.py`` once per
process: it pays class loading, code generation and Python worker start.
An operation's cost is mostly per-job driver overhead, so a warm-up pass
would cost as much as the operation itself, whatever its input size, and
two full operations per run do not fit the benchmark's time budget.

``--trace 0`` reports the end-to-end metrics:

* ``setup_s`` — session start, input validation and workload set-up;
* ``op_p50_s`` — median wall time of one timed operation;
* ``items_per_s`` — input items per second of operation wall time
  (documents for the linking workloads, records for ``er_chain``);
* ``quality_f`` — link F1 against the generated gold (linking) or the
  job's own B-cubed F (``er_chain``); deterministic per seed.

``--trace 1`` turns the Spark event log on, runs one warm-up operation,
spends half the time on untraced operations and half on traced ones (see
``trace.py``), and reports
the per-layer metrics, averaged per traced operation, with the tracing
overhead, the warm-up cost and the share of wall time no layer claims.
Spans, the run context and the result are also written under
``.perfbench/runs/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback
from contextlib import nullcontext

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")

# Layers the listed workloads run, after the program's modules. The session
# layer (JVM and context start) runs no Spark jobs and reports only its
# time; the incremental layer runs only in the unlisted incremental_link
# workload, whose spans.jsonl still records it.
LAYERS = ("spans", "anchors", "probs", "detect", "scoring", "cluster",
          "linkage.blocking", "linkage.fs", "linkage.golden", "eval", "snapshots")
LAYER_FIELDS = ("self_s", "jobs", "task_cpu_s", "shuffle_write_mb", "spill_mb",
                "failed_tasks")
# input reads per run; set-up counts their median
SETUP_LOADS = 3


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def _context(args) -> dict:
    import pyspark

    return {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": _nproc(),
        "loadavg_before": list(os.getloadavg()),
        "spark_version": pyspark.__version__,
        "python": sys.version.split()[0],
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
    }


def _start_session(run_dir: str, trace: bool):
    from xlink_spark.session import get_spark

    n = _nproc()
    conf = {
        # the benchmark's own session settings: small heap, every file it
        # writes inside the checkout (local dirs via SPARK_LOCAL_DIRS),
        # no console progress bars
        "spark.driver.memory": "3g",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}"
                                         f" -Dderby.system.home={run_dir}"
                                         " -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        evdir = os.path.join(run_dir, "events")
        os.makedirs(evdir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": evdir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(app_name="perfbench", master=f"local[{n}]",
                      shuffle_partitions=n, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _measure(wl, seconds: float, first: int, tracer=None) -> list[dict]:
    """Closed loop: one operation at a time until ``seconds`` of wall time
    (operations plus their checks) have passed; at least one operation."""
    from perfbench.trace import OP_LAYER

    ops = []
    t_end = time.perf_counter() + seconds
    while not ops or (time.perf_counter() < t_end and wl.has_next()):
        i = first + len(ops)
        span = tracer.span(OP_LAYER, f"op{i}") if tracer else nullcontext()
        t0 = time.perf_counter()
        try:
            with span:
                res = wl.run_op(i)
        except Exception:
            res, fails = None, [traceback.format_exc()]
        wall = time.perf_counter() - t0
        if tracer:
            tracer.release()
        if res is not None:
            try:
                fails = wl.check_op(i, res)
            except Exception:
                fails = [traceback.format_exc()]
        ops.append({"i": i, "wall_s": wall, "items": res.items if res else 0,
                    "input_bytes": res.outputs.get("input_bytes", 0) if res else 0,
                    "fails": fails})
    return ops


def _end_to_end(ops, setup_s, quality) -> dict:
    walls = [o["wall_s"] for o in ops]
    return {
        "setup_s": {"value": setup_s, "unit": "s"},
        "op_p50_s": {"value": statistics.median(walls), "unit": "s"},
        "items_per_s": {"value": sum(o["items"] for o in ops) / sum(walls), "unit": "1/s"},
        "quality_f": {"value": quality, "unit": "ratio"},
    }


def _per_layer(tracer, groups, warm_op, untraced_ops, traced_ops, session_s) -> dict:
    from perfbench.trace import OP_LAYER

    n = len(traced_ops)
    self_s = tracer.self_times()
    layer_of = {s.id: s.layer for s in tracer.spans}
    totals = {layer: dict.fromkeys(LAYER_FIELDS, 0.0) for layer in LAYERS}
    op_wall = op_self = 0.0
    for s in tracer.spans:
        if s.layer == OP_LAYER:
            op_wall += s.end - s.start
            op_self += self_s[s.id]
        elif s.layer in totals:
            totals[s.layer]["self_s"] += self_s[s.id]
    for group, acc in groups.items():
        # groups the tracer did not set (none, counters, or the program's
        # own) stay unattributed
        span_id = group.rsplit("|", 1)[-1]
        layer = layer_of.get(int(span_id)) if span_id.isdigit() else None
        if layer in totals:
            for key, value in acc.items():
                totals[layer][key] += value
    out = {"session.self_s": {"value": session_s, "unit": "s"}}
    units = {"self_s": "s", "jobs": "count", "task_cpu_s": "s",
             "shuffle_write_mb": "MB", "spill_mb": "MB", "failed_tasks": "count"}
    for layer, acc in totals.items():
        for key, value in acc.items():
            out[f"{layer}.{key}"] = {"value": value / n, "unit": units[key]}
    c = tracer.counters

    def per_op(name):
        return c.get(name, 0.0) / n

    def ratio(a, b):
        return c.get(a, 0.0) / c[b] if c.get(b) else 0.0

    input_bytes = sum(o["input_bytes"] for o in traced_ops)
    warm_s = statistics.median(o["wall_s"] for o in untraced_ops)
    extra = {
        "anchors.rows_out": (per_op("anchors.rows_out"), "count"),
        "detect.dict_entries": (per_op("detect.dict_entries"), "count"),
        "detect.mentions": (per_op("detect.mentions"), "count"),
        "detect.kept_ratio": (ratio("detect.kept", "detect.mentions"), "ratio"),
        "scoring.candidates": (per_op("scoring.candidates"), "count"),
        "scoring.cands_per_mention": (ratio("scoring.candidates", "detect.kept"), "ratio"),
        "scoring.links_per_candidate": (ratio("scoring.links", "scoring.candidates"), "ratio"),
        "cluster.edges_in": (per_op("cluster.edges_in"), "count"),
        "cluster.components": (per_op("cluster.components"), "count"),
        "linkage.blocking.pairs_out": (per_op("linkage.blocking.pairs_out"), "count"),
        "linkage.fs.edge_ratio": (ratio("cluster.edges_in", "linkage.blocking.pairs_out"),
                                  "ratio"),
        "snapshots.commits": (per_op("snapshots.commits"), "count"),
        "snapshots.bytes_written_mb": (per_op("snapshots.bytes_written") / (1 << 20), "MB"),
        "snapshots.write_amp": (c.get("snapshots.bytes_written", 0.0) / input_bytes
                                if input_bytes else 0.0, "ratio"),
        "trace.overhead_s": (statistics.median(o["wall_s"] for o in traced_ops)
                             - warm_s, "s"),
        "trace.warmup_s": (warm_op["wall_s"] - warm_s, "s"),
        "trace.unattributed_share": (op_self / op_wall if op_wall else 0.0, "ratio"),
    }
    for name, (value, unit) in extra.items():
        out[name] = {"value": value, "unit": unit}
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # the program under test must be beside the benchmark
    if not all(os.path.isdir(os.path.join(ROOT, d)) for d in ("xlink_spark", "jobs")):
        print(f"perfbench: no program to benchmark under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, os.path.join(ROOT, "jobs")]
    for d in ("tmp", "spark-local", "runs", "inputs", "expected"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(WORK, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")

    from perfbench import inputs as IN
    from perfbench.eventlog import group_totals
    from perfbench.procs import stop_session
    from perfbench.trace import LAYER_POINTS, Tracer, instrumented
    from perfbench.workloads import WORKLOADS, Expected

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    ctx = _context(args)
    input_dir, meta = IN.ensure_inputs(os.path.join(WORK, "inputs"), args.workload, args.seed)
    ctx["input_hash"] = meta["hash"]
    stamp = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}-{int(time.time())}"
    run_dir = os.path.join(WORK, "runs", stamp)
    os.makedirs(run_dir)

    t_setup = time.perf_counter()
    spark = _start_session(run_dir, bool(args.trace))
    session_s = time.perf_counter() - t_setup
    try:
        loads = []
        for _ in range(SETUP_LOADS):
            t0 = time.perf_counter()
            tables = IN.load_validated(spark, input_dir, meta)
            loads.append(time.perf_counter() - t0)
        expected = Expected(os.path.join(WORK, "expected", os.path.basename(input_dir) + ".json"))
        t0 = time.perf_counter()
        wl = WORKLOADS[args.workload](spark, tables, input_dir,
                                      os.path.join(run_dir, "work"), expected)
        setup_fails = wl.setup()
        setup_s = session_s + statistics.median(loads) + time.perf_counter() - t0

        tracer = None
        if args.trace:
            # the traced and untraced operations compare warm with warm
            warm = _measure(wl, 0, -1)
            untraced = _measure(wl, args.seconds / 2, 0)
            tracer = Tracer(spark)
            with instrumented(tracer, LAYER_POINTS, ROOT):
                traced = _measure(wl, args.seconds / 2, len(untraced), tracer)
            ops = warm + untraced + traced
        else:
            ops = _measure(wl, args.seconds, 0)
        try:
            finish_fails = wl.finish()
        except Exception:
            finish_fails = [traceback.format_exc()]
    finally:
        stop_session(spark)
    ctx["loadavg_after"] = list(os.getloadavg())
    shutil.rmtree(os.path.join(run_dir, "work"), ignore_errors=True)

    # set-up output is checked with the first operation, the end-of-run
    # check with the last
    ops[0]["fails"] = setup_fails + ops[0]["fails"]
    ops[-1]["fails"] += finish_fails
    failed = sum(1 for o in ops if o["fails"])
    if args.trace:
        metrics = _per_layer(tracer, group_totals(os.path.join(run_dir, "events")),
                             warm[0], untraced, traced, session_s)
        tracer.write(os.path.join(run_dir, "spans.jsonl"))
        shutil.rmtree(os.path.join(run_dir, "events"), ignore_errors=True)
    else:
        quality = statistics.median(wl.quality) if wl.quality else 0.0
        metrics = _end_to_end(ops, setup_s, quality)
    failures = [f for o in ops for f in o["fails"]]
    result = {"correct": failed == 0, "attempted": len(ops), "failed": failed,
              "metrics": metrics}
    with open(os.path.join(run_dir, "run.json"), "w") as f:
        json.dump({"context": ctx, "ops": ops, "failures": failures, "result": result},
                  f, indent=1)
    if failed == 0:
        expected.save()
    for msg in failures:
        print(f"perfbench: check failed: {msg}", file=sys.stderr)
    print(json.dumps({"context": ctx}))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
