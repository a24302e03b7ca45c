"""Interleaved perfbench A/B: a parent commit against a change, pair by pair.

    python tools/ab.py --parent <commit> --workload er_chain --seeds 106-115 \\
        [--workload batch_link ...] [--seconds 1] [--change DIR] \\
        [--workdir /tmp/ab-<commit>] [--out ab.json]

The parent side is a ``git archive`` of ``--parent`` unpacked under
``--workdir`` (a tree already unpacked there is reused); the change side is ``--change`` (default: this checkout, as
it is on disk). Both sides run ``perfbench/run.py`` with the same
``--seconds`` and ``--trace 0``, one fresh process per run. Each seed is one
pair, and the side that runs first alternates pair by pair, so drift over
the session hits both sides alike.

Both sides are checked against one record of expected outputs: the
parent's ``.perfbench/expected`` is copied to both sides before the first
run, and after every run the record that run saved is copied to the other
side, so whichever side runs a seed first records it and every later run of
either side is checked against that record.

Prints, per workload and end-to-end metric of ``BENCHMARK.json``, each
side's median and quartiles, the per-pair change/parent ratios and the
number of pairs the change wins; ``--out`` also writes every run's result.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tarfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _seeds(spec: str) -> list[int]:
    """'106-115' or '106,108,110' → seeds."""
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def _archive(commit: str, dest: str) -> None:
    """Unpack ``git archive <commit>`` of this repo into ``dest``."""
    if os.path.isdir(os.path.join(dest, "perfbench")):
        return
    os.makedirs(dest, exist_ok=True)
    tar = os.path.join(dest, ".archive.tar")
    subprocess.run(["git", "-C", ROOT, "archive", "-o", tar, commit], check=True)
    with tarfile.open(tar) as t:
        t.extractall(dest)
    os.remove(tar)


def _copy_expected(src: str, dst: str) -> None:
    """Copy the recorded outputs of one side to the other."""
    s = os.path.join(src, ".perfbench", "expected")
    if os.path.isdir(s):
        shutil.copytree(s, os.path.join(dst, ".perfbench", "expected"), dirs_exist_ok=True)


def _run(tree: str, workload: str, seed: int, seconds: float) -> dict:
    """One perfbench run in ``tree``; its last stdout line, or a failure."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    t0 = time.time()
    p = subprocess.run(cmd, cwd=tree, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    try:
        res = json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        res = {"correct": False, "failed": 1, "metrics": {},
               "error": (p.stderr or "")[-2000:]}
    res["wall_s"] = round(time.time() - t0, 1)
    return res


def _value(res: dict, name: str):
    """A metric of a run's result line (printed as {"value", "unit"})."""
    m = res.get("metrics", {}).get(name)
    return m["value"] if isinstance(m, dict) else m


def _quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def _report(workload: str, pairs: list[dict], metrics: list[dict]) -> None:
    print(f"\n== {workload}: {len(pairs)} pairs "
          f"(seeds {', '.join(str(p['seed']) for p in pairs)})")
    fails = {side: sum(1 for p in pairs if not p[side].get("correct"))
             for side in ("parent", "change")}
    print(f"   runs with a failed check: parent {fails['parent']}, "
          f"change {fails['change']}")
    for m in metrics:
        name, lower = m["name"], m["better"] == "lower"
        ok = [p for p in pairs if _value(p["parent"], name) is not None
              and _value(p["change"], name) is not None]
        if not ok:
            continue
        a = [_value(p["parent"], name) for p in ok]
        b = [_value(p["change"], name) for p in ok]
        qa, qb = _quartiles(a), _quartiles(b)
        ratios = [y / x if x else float("nan") for x, y in zip(a, b)]
        wins = sum(1 for x, y in zip(a, b) if (y < x if lower else y > x))
        print(f"   {name} ({m['better']} is better)")
        print(f"     parent median {qa[1]:.4g}  [q1 {qa[0]:.4g}, q3 {qa[2]:.4g}]  "
              f"iqr {qa[2] - qa[0]:.4g}")
        print(f"     change median {qb[1]:.4g}  [q1 {qb[0]:.4g}, q3 {qb[2]:.4g}]  "
              f"iqr {qb[2] - qb[0]:.4g}")
        print(f"     median ratio {qb[1] / qa[1] if qa[1] else float('nan'):.4f}; "
              f"change wins {wins}/{len(ok)}")
        print("     pair ratios (change/parent, first side): " + ", ".join(
            f"{r:.3f}{'p' if p['first'] == 'parent' else 'c'}"
            for r, p in zip(ratios, ok)))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--parent", required=True, help="commit of the parent side")
    ap.add_argument("--workload", action="append", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 106-115 or 106,108")
    ap.add_argument("--seconds", type=float, default=1.0)
    ap.add_argument("--change", default=ROOT, help="tree of the change side")
    ap.add_argument("--workdir", help="where the parent is unpacked "
                    "(default /tmp/ab-<commit>)")
    ap.add_argument("--out", help="write every run's result here as JSON")
    args = ap.parse_args(argv)

    sha = subprocess.run(["git", "-C", ROOT, "rev-parse", "--short", args.parent],
                         check=True, capture_output=True, text=True).stdout.strip()
    parent = args.workdir or f"/tmp/ab-{sha}"
    _archive(sha, parent)
    trees = {"parent": parent, "change": os.path.abspath(args.change)}
    _copy_expected(trees["parent"], trees["change"])
    with open(os.path.join(trees["change"], "BENCHMARK.json")) as f:
        metrics = json.load(f)["end_to_end"]

    results: dict[str, list[dict]] = {}
    for workload in args.workload:
        pairs = results.setdefault(workload, [])
        for i, seed in enumerate(_seeds(args.seeds)):
            order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
            pair = {"seed": seed, "first": order[0]}
            for side in order:
                pair[side] = _run(trees[side], workload, seed, args.seconds)
                other = trees["change" if side == "parent" else "parent"]
                _copy_expected(trees[side], other)
                print(f"{workload} seed {seed} {side}: op_p50_s "
                      f"{_value(pair[side], 'op_p50_s')} setup_s "
                      f"{_value(pair[side], 'setup_s')} "
                      f"correct {pair[side].get('correct')}", flush=True)
            pairs.append(pair)
            if args.out:
                with open(args.out, "w") as f:
                    json.dump({"parent": sha, "change": trees["change"],
                               "seconds": args.seconds, "results": results}, f, indent=1)
        _report(workload, pairs, metrics)
    return 0


if __name__ == "__main__":
    sys.exit(main())
