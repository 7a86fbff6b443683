"""One owner for the ``localCheckpoint`` blocks a driver-side loop pins.

Iterative operators (the ``p*``/``p+`` closure, the DESCRIBE bnode
closure, the update cadence, connected components, k-means, cluster
splitting, the perceptron) truncate lineage with eager local
checkpoints. Each checkpoint pins executor storage blocks until its RDD
is unpersisted; left to Python GC and the ContextCleaner, a long-lived
session running such loops accumulates them. A :class:`CheckpointScope`
records every checkpoint a loop takes and frees each one as soon as no
live frame reads it — on success and on failure — and applies the
loop's temporary SQL conf, restoring the session exactly on exit.

Usage::

    with CheckpointScope(spark) as cp:
        cur = cp.checkpoint(step(cur))   # eager, recorded
        cp.retain(cur)                   # free what cur no longer reads
        ...
        return cp.retain(result)         # keep only what result reads
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession


@contextmanager
def session_conf(spark: SparkSession, conf: dict):
    """Set ``conf`` on the session for the block, then restore every key
    exactly: a key that was unset before is unset again (not set to its
    default string)."""
    saved = {k: spark.conf.get(k, None) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def _read_rdd_ids(df: DataFrame) -> set[int]:
    """RDD ids of the ``LogicalRDD`` leaves ``df`` reads: those of its
    analyzed plan and of every subquery in it (a checkpoint read only by
    an ``IN (subquery)`` is not a leaf of the outer plan)."""
    plan = df._jdf.queryExecution().analyzed()
    subs = plan.subqueriesAll()
    ids = set()
    for p in [plan] + [subs.apply(i) for i in range(subs.size())]:
        leaves = p.collectLeaves()
        for i in range(leaves.size()):
            leaf = leaves.apply(i)
            if leaf.nodeName() == "LogicalRDD":
                ids.add(leaf.rdd().id())
    return ids


class CheckpointScope:
    """Context manager owning the checkpoints of one driver-side loop.

    - ``checkpoint(df)`` materializes ``df`` with
      ``df.localCheckpoint(eager=True)`` and records the result.
    - ``retain(*live)`` frees every recorded checkpoint that no frame in
      ``live`` reads, and returns its argument (a tuple for several).
    - Leaving the block normally frees what the last ``retain`` did not
      keep; leaving it by exception frees every recorded checkpoint.
    - ``conf`` is applied on entry and restored exactly on exit.

    Only call ``retain`` once the checkpoints the live frames no longer
    read have been consumed. Checkpoints are eager, so a checkpoint
    has already read every earlier one it depends on."""

    def __init__(self, spark: SparkSession, conf: dict | None = None):
        self._conf = session_conf(spark, conf or {})
        # RDD id -> (checkpointed frame, its JVM RDD), oldest first
        self._pinned: dict[int, tuple] = {}
        self._kept: set[int] = set()

    def __enter__(self) -> CheckpointScope:
        self._conf.__enter__()
        return self

    def __exit__(self, exc_type, exc, tb) -> None:
        try:
            self._free(self._pinned if exc_type else self._pinned.keys() - self._kept)
        finally:
            self._conf.__exit__(None, None, None)

    def checkpoint(self, df: DataFrame) -> DataFrame:
        ck = df.localCheckpoint(eager=True)
        rdd = ck._jdf.queryExecution().analyzed().rdd()
        self._pinned[rdd.id()] = (ck, rdd)
        return ck

    def retain(self, *live: DataFrame):
        recorded = {id(ck): i for i, (ck, _) in self._pinned.items()}
        read = {recorded[id(d)] for d in live if id(d) in recorded}
        if read != self._pinned.keys():
            for d in live:
                if id(d) not in recorded:
                    read |= _read_rdd_ids(d)
        self._free(self._pinned.keys() - read)
        self._kept = set(self._pinned)
        return live[0] if len(live) == 1 else live

    def _free(self, ids) -> None:
        # unpersisting blocks that are already gone is a no-op
        for i in list(ids):
            self._pinned.pop(i)[1].unpersist(False)
