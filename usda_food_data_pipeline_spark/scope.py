"""Query-scoped lifetime for persisted tables and local checkpoints.

A registered query returns a lazy plan. The tables its builder persisted
or checkpointed must stay alive until the caller has executed that plan,
so no operator can free them before it returns. Every persist and local
checkpoint in the package therefore goes through this module, into the
one open :class:`QueryScope`, and there is one rule for their lifetime:

- the registry wraps each query function with :func:`scoped`; calling
  the wrapper releases everything the previous query acquired, then
  builds the new plan;
- a build that raises releases what it acquired and re-raises;
- operators called outside a registered query join the open scope, so
  an operator result stays valid until the next registered query opens.

Nothing is freed mid-query unless the builder says so: an iterative loop
calls :func:`release` on its superseded generation once per round, and a
builder may release a table that no later stage reads.

A local checkpoint's blocks belong to the RDD under the returned frame's
``LogicalRDD`` (``DataFrame.unpersist()`` is a no-op for them), so the
scope keeps that RDD's handle, taken from the frame itself — never from
a listing of the persistent-RDD registry, whose contents follow JVM GC.
"""

from __future__ import annotations

import contextlib
import functools

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame


class QueryScope:
    """The persisted and checkpointed frames one query holds."""

    def __init__(self) -> None:
        # (frame, JVM object whose unpersist(false) frees the frame's blocks)
        self._held: list[tuple[DataFrame, object]] = []

    def persist(self, df: DataFrame) -> DataFrame:
        """``df.persist()``, held until the scope closes."""
        df.persist()
        self._held.append((df, df._jdf))
        return df

    def checkpoint(self, df: DataFrame, eager: bool = True) -> DataFrame:
        """``df.localCheckpoint(eager)``, held until the scope closes."""
        out = df.localCheckpoint(eager=eager)
        self._held.append((out, out._jdf.queryExecution().analyzed().rdd()))
        return out

    def release(self, *dfs: DataFrame | None) -> None:
        """Free frames returned by :meth:`persist` / :meth:`checkpoint`
        now; anything else (a derived frame, ``None``) is ignored."""
        self._free(lambda df: any(df is d for d in dfs))

    def close(self) -> None:
        self._free(lambda df: True)

    def _free(self, match) -> None:
        keep = []
        for df, handle in self._held:
            if not match(df):
                keep.append((df, handle))
                continue
            # a handle from a stopped SparkContext raises; its blocks went with it
            with contextlib.suppress(Py4JError):
                handle.unpersist(False)
        self._held = keep


_OPEN = QueryScope()
persist, checkpoint, release = _OPEN.persist, _OPEN.checkpoint, _OPEN.release


def scoped(fn):
    """Wrap a query function: each call first releases everything the
    previous query acquired, and a build that raises releases its own."""

    @functools.wraps(fn)
    def run(spark, sf_dir):
        _OPEN.close()
        try:
            return fn(spark, sf_dir)
        except BaseException:
            _OPEN.close()
            raise

    return run
