"""Snapshot-directory checkpointing with manifests (SURVEY §2.1 S8, §4).

The reference checkpoints by dumping JSON between pipeline steps
(main.py:59-76, 90-96, 162-172...). We formalize that as atomic snapshot
commits: each stage writes parquet into a temp dir, then renames it into
place and writes a MANIFEST.json *last* — a snapshot is valid iff its
manifest exists, so a killed writer can never leave a half-snapshot that
reads as committed. Resume = read the newest valid snapshot.

This is the same commit protocol Iceberg gives via metadata pointers; the
algorithms only assume atomic snapshot dirs + a manifest (SURVEY §7.0).
Compaction and snapshot expiry are left to the table format: the only
trail maintenance here is `squash_iterations`, which
plans/incremental.fold_retractions builds on.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import time
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

MANIFEST = "MANIFEST.json"
# Committed iteration dirs match EXACTLY this — temp dirs are named outside
# the namespace (.tmp-iter_...) so a crash mid-commit can never leave a dir
# that listing code mistakes for a snapshot (int("00001.tmp-ab12") ValueError,
# or a manifest-less half-write unioned into a read of every iteration).
# \d{5,}: the %05d format grows past five digits at iteration 100000 and
# those must still list.
_ITER_RE = re.compile(r"^iter_(\d{5,})$")


def parquet_dir_rows(data_dir: str) -> int:
    """Exact row count of a written parquet directory from file FOOTERS —
    driver-side metadata reads, zero Spark jobs. The count any writer should
    use right after a .write.parquet() instead of re-scanning its own output
    (each footer read is one small ranged read; at cluster scale the same
    numbers come from the commit manifest, as SnapshotStore does)."""
    return sum(SnapshotStore._file_row_counts(data_dir).values())


class SnapshotStore:
    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    # -- low-level ---------------------------------------------------------
    def _dir(self, stage: str, iteration: int | None = None) -> str:
        name = stage if iteration is None else os.path.join(stage, f"iter_{iteration:05d}")
        return os.path.join(self.root, name)

    def _commit_dir(
        self,
        path: str,
        df: DataFrame,
        metrics: dict | None,
        metrics_fn: Callable[[], dict] | None = None,
    ) -> dict:
        # temp lives OUTSIDE the committed-name namespace: a crash between
        # manifest write and os.replace leaves ".tmp-iter_00001-<hex>", which
        # no listing pattern (_ITER_RE, has_table) can ever match
        parent, base = os.path.split(path)
        # sweep ONLY stale temps here. Stale .old- siblings are the crash
        # RECOVERY copies — after a crash between rename-aside and swap-in,
        # the .old- dir is the stage's only surviving snapshot, and the
        # rerun's write phase is the widest crash window of all: deleting
        # the recovery copy before the new commit lands would reopen
        # exactly the data-loss hole this protocol closes. .old- sweeping
        # happens after a SUCCESSFUL swap only (below).
        if os.path.isdir(parent):
            for d in os.listdir(parent):
                if d.startswith(f".tmp-{base}-"):
                    shutil.rmtree(os.path.join(parent, d), ignore_errors=True)
        tmp = os.path.join(parent, f".tmp-{base}-{uuid.uuid4().hex[:8]}")
        data_dir = os.path.join(tmp, "data")
        df.write.mode("overwrite").parquet(data_dir)
        # per-partition lineage + row counters come from the WRITTEN files'
        # parquet footers — exact, driver-side, zero recompute (the old
        # df.count() re-ran the whole producing plan a second time)
        per_file = self._file_row_counts(data_dir)
        # metrics_fn runs AFTER the data write: DataFrame.observe counters
        # only exist once the action has run, and the manifest is written
        # last anyway — this is how observed lineage lands in the manifest
        resolved_metrics = dict(metrics or {})
        if metrics_fn is not None:
            resolved_metrics.update(metrics_fn() or {})
        manifest = {
            "rows": sum(per_file.values()),
            "committed_at": time.time(),
            "metrics": resolved_metrics,
            "partitions": len(per_file),
            # cap the per-partition map so manifests stay small at 100 TB;
            # the full detail lives in the parquet footers regardless
            "partition_rows": dict(sorted(per_file.items())[:4096]),
        }
        with open(os.path.join(tmp, MANIFEST), "w") as f:
            json.dump(manifest, f)
        # overwrite protocol: NEVER delete the old committed dir before the
        # new one is in place (rmtree-then-replace has a crash window that
        # permanently loses the resume point). Rename the old dir aside
        # (atomic), swap the new one in (atomic), THEN remove the sibling —
        # a valid snapshot of this stage exists on disk at every instant:
        # either at `path` or (mid-swap crash) as a .tmp-/.old- sibling a
        # recovery can rename back. Sibling names live outside the
        # committed-name namespace, so listings never mistake them for
        # snapshots; stale temps are swept at the start of the next commit,
        # stale .old- recovery copies only AFTER the next successful swap.
        if os.path.exists(path):
            old = os.path.join(parent, f".old-{base}-{uuid.uuid4().hex[:8]}")
            os.replace(path, old)
            os.replace(tmp, path)
        else:
            os.replace(tmp, path)
        # the new snapshot is committed: NOW all .old- siblings (this
        # commit's rename-aside plus any stale recovery copies from earlier
        # crashes) are superseded and safe to sweep
        for d in os.listdir(parent):
            if d.startswith(f".old-{base}-"):
                shutil.rmtree(os.path.join(parent, d), ignore_errors=True)
        return manifest

    @staticmethod
    def _file_row_counts(data_dir: str) -> dict[str, int]:
        import pyarrow.parquet as pq

        out: dict[str, int] = {}
        for root, _dirs, files in os.walk(data_dir):
            for fn in files:
                if fn.endswith(".parquet"):
                    rel = os.path.relpath(os.path.join(root, fn), data_dir)
                    out[rel] = pq.ParquetFile(os.path.join(root, fn)).metadata.num_rows
        return out

    def _is_valid(self, path: str) -> bool:
        return os.path.exists(os.path.join(path, MANIFEST))

    # -- iteration snapshots (CC loop) --------------------------------------
    def commit(self, stage: str, iteration: int, df: DataFrame, metrics: dict | None = None) -> dict:
        return self._commit_dir(self._dir(stage, iteration), df, metrics)

    def iterations(self, stage: str) -> list[int]:
        """Sorted ids of manifest-valid committed iterations (and ONLY those).

        Strict ``^iter_\\d{5,}$`` match + manifest check: stale temp dirs from
        a crashed commit and manifest-less half-writes are both invisible.
        """
        base = os.path.join(self.root, stage)
        if not os.path.isdir(base):
            return []
        out = []
        for d in os.listdir(base):
            m = _ITER_RE.match(d)
            if m and self._is_valid(os.path.join(base, d)):
                out.append(int(m.group(1)))
        return sorted(out)

    def iteration_data_path(self, stage: str, iteration: int) -> str:
        return os.path.join(self._dir(stage, iteration), "data")

    def read_iteration(self, spark: SparkSession, stage: str, iteration: int) -> DataFrame:
        return spark.read.parquet(self.iteration_data_path(stage, iteration))

    def read_iterations_union(self, spark: SparkSession, stage: str) -> DataFrame:
        """Union of every manifest-valid iteration — one multi-path parquet
        scan (a single FileScan node, not an N-way union)."""
        iters = self.iterations(stage)
        if not iters:
            raise FileNotFoundError(f"no committed iterations under {stage}/")
        return spark.read.parquet(
            *[self.iteration_data_path(stage, k) for k in iters]
        )

    def last_iteration(
        self, stage: str
    ) -> tuple[int, Callable[[SparkSession], DataFrame]] | None:
        iters = self.iterations(stage)
        if not iters:
            return None
        k = iters[-1]
        path = self.iteration_data_path(stage, k)
        return k, lambda spark: spark.read.parquet(path)

    def squash_iterations(
        self,
        spark: SparkSession,
        stage: str,
        frame: DataFrame | None = None,
    ) -> dict | None:
        """Rewrite a union-semantics stage's N iterations into ONE.

        For delta stages (plans/incremental's ``links``: each iteration is
        a disjoint batch, readers take the union) the iteration count grows
        without bound; this is the Iceberg rewrite/expire analogue for the
        directory backend. The whole STAGE directory is swapped atomically
        — the union of valid iterations never double-counts and never
        shrinks mid-squash:

        1. the union of all committed iterations is written, manifest-last,
           into a ``.tmp-<stage>-`` sibling tree as a single iteration
           keeping the HIGHEST id (so a resuming producer continues with
           max+1 exactly as before);
        2. the live stage tree is renamed aside (``.old-<stage>-``), the
           tmp tree swapped in, the recovery copy swept — the same
           rename-aside protocol as `_commit_dir`, lifted one level.

        A crash before the swap leaves the old tree live (tmp invisible to
        `iterations`); a crash between the two renames leaves the only copy
        in the ``.old-`` sibling, recoverable by renaming it back — the
        same recovery contract as single-table commits. Returns the squash
        manifest, or None when there is nothing to squash.

        ``frame``: replacement content for the squashed iteration (defaults
        to the plain union). plans/incremental.fold_retractions passes the
        retraction-folded current view here, so fold = squash with a
        smarter frame; with a frame given, even a single-iteration stage is
        rewritten (the content changes, not just the file layout).
        """
        iters = self.iterations(stage)
        if not iters or (len(iters) <= 1 and frame is None):
            return None
        stage_dir = self._dir(stage)
        parent, base = os.path.split(stage_dir)
        for d in os.listdir(parent):
            if d.startswith(f".tmp-{base}-"):
                shutil.rmtree(os.path.join(parent, d), ignore_errors=True)
        union = frame if frame is not None else self.read_iterations_union(spark, stage)
        tmp = os.path.join(parent, f".tmp-{base}-{uuid.uuid4().hex[:8]}")
        manifest = self._commit_dir(
            os.path.join(tmp, f"iter_{iters[-1]:05d}"),
            union,
            metrics={"squashed_from": iters},
        )
        old = os.path.join(parent, f".old-{base}-{uuid.uuid4().hex[:8]}")
        os.replace(stage_dir, old)
        os.replace(tmp, stage_dir)
        for d in os.listdir(parent):
            if d.startswith(f".old-{base}-"):
                shutil.rmtree(os.path.join(parent, d), ignore_errors=True)
        return manifest

    # -- named stage tables (pipeline resume) --------------------------------
    def commit_table(
        self,
        name: str,
        df: DataFrame,
        metrics: dict | None = None,
        metrics_fn: Callable[[], dict] | None = None,
    ) -> dict:
        return self._commit_dir(self._dir(name), df, metrics, metrics_fn)

    def has_table(self, name: str) -> bool:
        return self._is_valid(self._dir(name))

    def read_table(self, spark: SparkSession, name: str) -> DataFrame:
        return spark.read.parquet(os.path.join(self._dir(name), "data"))

    def manifest(self, name: str, iteration: int | None = None) -> dict:
        with open(os.path.join(self._dir(name, iteration), MANIFEST)) as f:
            return json.load(f)

    def get_or_compute(
        self, spark: SparkSession, name: str, compute: Callable[[], DataFrame],
        metrics: dict | None = None,
    ) -> DataFrame:
        """Stage memoization: the unit of pipeline resumability.

        A re-run skips every stage whose snapshot is already committed —
        exactly the reference's 9-step numbered-main resume-by-hand
        (main.py:405-481), made automatic.
        """
        if not self.has_table(name):
            self.commit_table(name, compute(), metrics)
        return self.read_table(spark, name)

