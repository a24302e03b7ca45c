"""Storage lifetime: the one place that persists, checkpoints and frees.

Frames that several consumers read are cached (``hold``) or
lineage-truncated (``cut``). Both register the frame in the innermost open
``Scope``; the scope frees every frame it registered when it is released.
Outside any scope ``hold``/``cut`` are plain ``persist()`` /
``localCheckpoint()`` and keep no reference — library code never releases
storage itself, its caller's scope does.

Who owns a scope:

* a registry query (``registry``): building the next registry query
  releases the previous one's frames, so a query's storage lives until the
  next query is built — run one query at a time (build, then materialize);
* a job or a committing plan: ``with scope():`` around the work that writes
  or commits its results.

In-job blocks are scratch: durable state lives in the manifest-last
``SnapshotStore`` commit, never in cached or checkpointed blocks.
"""

from __future__ import annotations

import functools
from collections.abc import Callable, Iterator
from contextlib import contextmanager

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame


class Scope:
    """The frames held or cut while this scope was innermost."""

    def __init__(self) -> None:
        self.frames: list[DataFrame] = []

    @contextmanager
    def open(self) -> Iterator[Scope]:
        """Make this the innermost scope for the block; frees nothing."""
        _open.append(self)
        try:
            yield self
        finally:
            _open.pop()

    def release(self) -> None:
        """Free every registered frame. Freeing one twice is harmless; a
        frame of a stopped session has nothing stored and is skipped."""
        while self.frames:
            df = self.frames.pop()
            try:
                df.unpersist()
                # a local checkpoint never enters the SQL cache: its blocks
                # are RDD storage under the plan's LogicalRDD
                plan = df._jdf.queryExecution().analyzed()
                if plan.nodeName() == "LogicalRDD":
                    plan.rdd().unpersist(False)
            except Py4JError:  # the session was stopped
                pass


_open: list[Scope] = []

# the storage of the last registry query built (see ``registry``)
query_scope = Scope()


def _register(df: DataFrame) -> DataFrame:
    if _open:
        _open[-1].frames.append(df)
    return df


def hold(df: DataFrame, eager: bool = False) -> DataFrame:
    """``persist()``; ``eager`` materializes the cache now."""
    out = _register(df.persist())
    if eager:
        out.count()
    return out


def cut(df: DataFrame, eager: bool) -> DataFrame:
    """``localCheckpoint(eager)``: truncate the lineage at ``df``."""
    return _register(df.localCheckpoint(eager=eager))


@contextmanager
def scope() -> Iterator[Scope]:
    """A scope that frees its frames when the block exits, also on error."""
    s = Scope()
    try:
        with s.open():
            yield s
    finally:
        s.release()


def registry(builders: dict[str, Callable]) -> dict[str, Callable]:
    """Wrap query builders ``(spark, sf_dir) -> DataFrame`` so that building
    one releases the previous registry query's storage and registers its
    own frames in ``query_scope``."""

    def wrap(fn: Callable) -> Callable:
        @functools.wraps(fn)
        def build(spark, sf_dir):
            query_scope.release()
            with query_scope.open():
                return fn(spark, sf_dir)

        return build

    return {name: wrap(fn) for name, fn in builders.items()}
