"""The one place ``ops/`` pins and releases intermediates.

An op pins a frame when several consumers would otherwise re-run its
lineage (``persist``), or when a loop needs its logical plan truncated
(eager checkpoint: without it Catalyst re-analyzes a plan that grows by
one round per iteration). Every such pin is taken through a ``Pins``
scope, which releases all of them when the ``with`` block exits, on
success or exception::

    with Pins() as p:
        sig = p.pin(signatures(df))               # reused 3 times
        labels = p.materialize(seed)
        for _ in range(rounds):
            new = p.materialize(step(labels, sig))
            p.release(labels)                     # superseded frontier
            labels = new
        return p.result(finish(labels))           # escapes the scope

Only a frame made by ``result`` (or handed over by ``keep``) outlives
the scope: it is what the op returns, so no scope of the op releases it.
A caller that materializes its own result from it can take it over with
``own``.

A local checkpoint is released through its checkpoint RDD: on pyspark
4.1 ``DataFrame.unpersist()`` does nothing to a ``localCheckpoint``-ed
frame, so the scope keeps that RDD's handle. A frame that still reads a
released checkpoint fails with ``CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND``, so
an op releases only what its returned plan no longer reads, or
materializes the result through ``result`` first.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame


def materialize(df: DataFrame, mode: str = "local") -> DataFrame:
    """Eager checkpoint: materializes ``df`` and truncates its logical
    plan. ``local`` (default) stores blocks on executors — fastest, but
    an executor loss fails any job still reading them (a truncated
    lineage cannot be recomputed). ``reliable`` writes to the directory
    set via ``sparkContext.setCheckpointDir`` (HDFS/object store) and
    survives executor loss — the right mode for long loops on large
    clusters."""
    if mode == "reliable":
        return df.checkpoint(eager=True)
    if mode != "local":
        # a typo here would silently demote a long loop to executor-local
        # blocks — defeating the exact guarantee the caller asked for
        raise ValueError(f"unknown checkpoint mode {mode!r}")
    return df.localCheckpoint(eager=True)


class Pins:
    """Scope that releases every frame pinned through it on exit.
    ``mode`` ("local" or "reliable", see the module-level ``materialize``)
    applies to ``materialize`` and ``result``."""

    def __init__(self, mode: str = "local"):
        self.mode = mode
        self._held: list[tuple[DataFrame, Callable[[], object]]] = []

    def __enter__(self) -> Pins:
        return self

    def __exit__(self, *exc) -> None:
        while self._held:
            self._held.pop()[1]()

    def pin(self, df: DataFrame) -> DataFrame:
        """Cache ``df`` (lazily, on first use) until the scope exits."""
        df = df.persist()
        self._held.append((df, df.unpersist))
        return df

    def materialize(self, df: DataFrame) -> DataFrame:
        """Eagerly checkpoint ``df``; released when the scope exits."""
        return self.own(materialize(df, self.mode))

    def own(self, df: DataFrame) -> DataFrame:
        """Take over the release of an eager checkpoint made elsewhere:
        another op's result, once nothing this scope returns reads it."""
        rdd = df._jdf.queryExecution().analyzed().rdd()
        self._held.append((df, lambda: rdd.unpersist(True)))
        return df

    def release(self, df: DataFrame) -> None:
        """Release ``df`` now — a loop frontier nothing reads any more."""
        self._drop(df)()

    def keep(self, df: DataFrame) -> DataFrame:
        """Let ``df`` outlive the scope: the returned plan reads it."""
        self._drop(df)
        return df

    def result(self, df: DataFrame) -> DataFrame:
        """Materialize the op's result so that every pin can go."""
        return materialize(df, self.mode)

    def _drop(self, df: DataFrame) -> Callable[[], object]:
        i = next(i for i, (d, _) in enumerate(self._held) if d is df)
        return self._held.pop(i)[1]
