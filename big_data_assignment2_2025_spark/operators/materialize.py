"""Compute a frame once: the one place in the package that materializes a
frame and the one place that releases one.

Why a checkpoint and never ``persist()``/``cache()``: Spark's CacheManager
keys a cached relation on the CANONICAL PLAN, not on the data. A plan
persisted by one call therefore answers every later identical plan in the
session, also after the files under it were rewritten in place (an
ad-hoc ``bm25_search`` once answered doc 206 where DuckDB said 205 for
that reason), and a bench run that repeats a query times the cache. An
eager ``localCheckpoint()`` writes the frame's blocks under a fresh RDD
that no plan can match: every call computes from its inputs, and the
blocks die with the frame (``materialized`` frees them at once).

Why eager: the frame is computed here, in one job, so a consumer that
reads it several times (a self-join, a few bounded driver actions plus
the returned plan, an iterative loop) runs the subtree once, and the
logical plan of what reads it is a ``LogicalRDD`` leaf, not the nested
history of every earlier round.

Each call site states the size bound of what it materializes; the blocks
are MEMORY_AND_DISK, so a frame larger than executor memory spills.
"""

from __future__ import annotations

from contextlib import contextmanager
from typing import Iterator, Optional

from pyspark.sql import DataFrame


def materialize(df: DataFrame, checkpoint_dir: Optional[str] = None) -> DataFrame:
    """``df`` computed now, as a frame that reads the computed blocks.

    Default: an eager ``localCheckpoint()``. Its blocks are held by the
    executors that computed them; losing one mid-job fails the job, which
    is the right trade on one node or where re-running is cheap.

    ``checkpoint_dir`` (``hdfs://...``, ``file:///...``): an eager reliable
    ``checkpoint()`` into that directory, so an iterative loop on a real
    cluster replays from its last round after an executor loss. The
    directory is per-SparkContext; it is set here on every call and read
    only while this eager checkpoint runs.
    """
    if checkpoint_dir is None:
        return df.localCheckpoint()
    df.sparkSession.sparkContext.setCheckpointDir(checkpoint_dir)
    return df.checkpoint(eager=True)


def release(*frames: DataFrame) -> None:
    """Free the blocks of frames returned by ``materialize`` now instead of
    when they are garbage-collected. Any other frame is left as it is. A
    later action on a released frame fails loudly
    (``CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND``); it never recomputes."""
    for df in frames:
        plan = df._jdf.queryExecution().analyzed()
        if plan.nodeName() == "LogicalRDD":
            plan.rdd().unpersist(True)


@contextmanager
def materialized(df: DataFrame, checkpoint_dir: Optional[str] = None) -> Iterator[DataFrame]:
    """``materialize(df, checkpoint_dir)`` for a frame that does not leave
    the ``with`` block: its blocks are released on exit, so nothing built
    from it may be read after the block unless that was materialized
    inside it."""
    frame = materialize(df, checkpoint_dir)
    try:
        yield frame
    finally:
        release(frame)
