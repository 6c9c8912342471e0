"""Scoped lifetime for operator-internal cache intermediates.

The one rule: an operator that caches an intermediate which outlives a
single action does so only through ``maybe_persist`` (or registers the
handle with ``track_handle``), and callers consume the operator's result
inside ``scoped_intermediates()``:

    with scoped_intermediates() as handles:
        pairs = minhash_lsh_pairs(docs, ...)
        pairs.write.parquet(out)     # consume INSIDE the block
    # every intermediate persisted by the operators above is now unpersisted

Spark keys cache entries by canonical plan, so repeat calls on the SAME
input reuse one entry, but each distinct input adds an entry that lives
until it is unpersisted.  There are no per-operator persist switches: a
caller that wants no cache left behind opens a scope.  Persists that are
released inside the function that made them (per-round iteration state,
streaming micro-batches) are outside this rule.

Materialize results before the block exits — after exit the intermediates
are gone and any unconsumed lazy plan will recompute from scratch.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark import StorageLevel
from pyspark.sql import DataFrame

_ACTIVE_TRACKERS: list[list[DataFrame]] = []


def maybe_persist(df: DataFrame) -> DataFrame:
    """Persist ``df``, registering the handle with every active
    ``scoped_intermediates`` block so exit can unpersist it.

    A plan that is already cached (Spark keys its cache by plan, so
    another caller's entry matches) is left unregistered: the scope did
    not create that entry and must not release it."""
    cached = df.storageLevel != StorageLevel.NONE
    df = df.persist()
    if not cached:
        for tracker in _ACTIVE_TRACKERS:
            tracker.append(df)
    return df


def local_checkpoint_tracked(df: DataFrame):
    """``df.localCheckpoint()`` plus a release callback for its storage.

    ``DataFrame.unpersist()`` does NOT free localCheckpoint blocks (they
    are RDD-level storage, not CacheManager entries), and releasing them
    while the checkpointed frame is still in use breaks it — the blocks
    ARE the truncated lineage.  Iterative algorithms that checkpoint per
    round (``bpe.learn_bpe_merges``) therefore hold the release callback
    and invoke it only after the NEXT round's checkpoint has materialized
    (eager by default), at which point the previous round's blocks are
    unreachable.

    The callback is found by diffing the context's persistent-RDD map
    around the checkpoint call — correct for a single-threaded driver
    loop; a concurrent persist from another thread between the two scans
    would be swept up with it, so don't interleave.
    """
    jsc = df.sparkSession.sparkContext._jsc.sc()

    def _persisted():
        out = {}
        it = jsc.getPersistentRDDs().iterator()
        while it.hasNext():
            t = it.next()
            out[t._1()] = t._2()
        return out

    before = set(_persisted())
    ckpt = df.localCheckpoint()
    handles = [r for i, r in _persisted().items() if i not in before]

    def release() -> None:
        for r in handles:
            r.unpersist(False)

    return ckpt, release


def track_handle(handle):
    """Register any object with an ``unpersist()`` method (e.g. a
    ``Broadcast``) with every active ``scoped_intermediates`` block so
    exit releases it alongside the persisted DataFrames."""
    for tracker in _ACTIVE_TRACKERS:
        tracker.append(handle)
    return handle


@contextmanager
def scoped_intermediates():
    """Unpersist every operator-internal intermediate persisted inside the
    block on exit.  Yields the live handle list for callers that want to
    inspect or selectively unpersist early."""
    handles: list[DataFrame] = []
    _ACTIVE_TRACKERS.append(handles)
    try:
        yield handles
    finally:
        _ACTIVE_TRACKERS.remove(handles)
        for df in handles:
            df.unpersist()
