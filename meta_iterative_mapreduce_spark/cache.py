"""One owner for every cache and checkpoint a query makes.

`persist(df)` and `checkpoint(df)` register the frame with the
innermost open `owned()` block — a ContextVar, so helpers need no
parameter to pass caches along; outside a block they raise — and the
block releases it on exit, on success or on an exception. `release`
frees a frame early, once an eager step has cut the lineage that read
it. A frame the caller cached before the block is never released here.

A checkpoint that backs a frame a function returns is that frame's
data: it is taken with `localCheckpoint(eager=True)` directly and
freed by Spark's ContextCleaner with the frame, or by `release` once a
later round supersedes it (connected_components).
"""

from __future__ import annotations

from contextlib import contextmanager
from contextvars import ContextVar
from typing import Iterator

from pyspark import StorageLevel
from pyspark.sql import DataFrame

_OPEN: ContextVar[tuple[list[DataFrame], ...]] = ContextVar(
    "mimr_owned_blocks", default=()
)


@contextmanager
def owned() -> Iterator[None]:
    frames: list[DataFrame] = []
    token = _OPEN.set(_OPEN.get() + (frames,))
    try:
        yield
    finally:
        _OPEN.reset(token)
        for df in reversed(frames):
            _free(df)


def _innermost() -> list[DataFrame]:
    blocks = _OPEN.get()
    if not blocks:
        raise RuntimeError("persist/checkpoint outside a cache.owned() block")
    return blocks[-1]


def persist(df: DataFrame) -> DataFrame:
    """Cache `df` (MEMORY_AND_DISK) until the innermost block exits. A
    frame the caller already cached is returned as it is, unowned."""
    frames = _innermost()
    if df.storageLevel == StorageLevel.NONE:
        frames.append(df.persist())
    return df


def checkpoint(df: DataFrame) -> DataFrame:
    """Eager local checkpoint of `df`, freed when the innermost block
    exits."""
    frames = _innermost()
    frames.append(df.localCheckpoint(eager=True))
    return frames[-1]


def release(df: DataFrame) -> None:
    """Free `df` now (non-blocking). A cached frame no open block owns
    is the caller's and stays cached."""
    blocks = _OPEN.get()
    if df.storageLevel == StorageLevel.NONE or any(f is df for b in blocks for f in b):
        _free(df)


def _free(df: DataFrame) -> None:
    """Unpersist a cached frame; a checkpoint is freed through its
    `LogicalRDD`, which `DataFrame.unpersist()` does not touch."""
    if df.storageLevel != StorageLevel.NONE:
        df.unpersist()
        return
    plan = df._jdf.logicalPlan()
    if plan.getClass().getSimpleName() == "LogicalRDD":
        plan.rdd().unpersist(False)
