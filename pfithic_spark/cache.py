"""Keep-recent cache pools for frames whose lazy consumers have no safe
unpersist point.

A helper that persists a frame and returns a plan reading it lazily
cannot unpersist it: the plan has not run yet.  Such frames go into a
pool that keeps only the ``keep`` most recent and unpersists older
ones.  Eviction is a performance event, never a correctness one:
unpersist never invalidates a lazy result, readers that have not run
yet recompute.  ``release()`` frees a whole pool on demand.

Two pools keep their eviction independent: :data:`PROBES` holds the
inputs the ``windows`` helpers persist ahead of an eager size probe,
and :data:`SIGNATURES` holds the signature/band tables of the dedup
and similarity operators.
"""

from __future__ import annotations

import threading

from pyspark import StorageLevel
from pyspark.sql import DataFrame

#: Serialized MEMORY_AND_DISK: cached columnar batches are stored as
#: compact byte blocks instead of JVM object graphs, trading a small
#: deserialization cost per read for lower storage memory and cheaper
#: GC (timings flat, cached bytes 28-61 % lower on the dedup family at
#: sf0.1; tools/measure_cache_storage.py).
LEVEL = StorageLevel(True, True, False, False, 1)


def _unpersist(frames: list[DataFrame]) -> None:
    for df in frames:
        try:
            df.unpersist()
        except Exception:
            pass


class KeepRecent:
    """A thread-safe pool that keeps the ``keep`` most recently added
    persisted frames and unpersists older ones."""

    #: Four frames: two per LSH pair generator, so a minhash and a
    #: simhash pipeline built before either runs both stay warm.
    keep = 4

    def __init__(self):
        self.live: list[DataFrame] = []
        self._lock = threading.Lock()

    def add(self, df: DataFrame) -> DataFrame:
        """Persist ``df`` at :data:`LEVEL` unless it is already
        persisted, track it, and return it."""
        if not df.is_cached:
            df = df.persist(LEVEL)
        with self._lock:
            self.live.append(df)
            drop = self.live[: -self.keep]
            self.live[:] = self.live[-self.keep :]
        _unpersist(drop)
        return df

    def discard(self, df: DataFrame) -> None:
        """Unpersist ``df`` now if this pool tracks it."""
        with self._lock:
            kept = [d for d in self.live if d is not df]
            found = len(kept) < len(self.live)
            self.live[:] = kept
        if found:
            _unpersist([df])

    def release(self) -> None:
        """Unpersist every tracked frame."""
        with self._lock:
            drop, self.live[:] = self.live[:], []
        _unpersist(drop)


#: Inputs persisted ahead of a windows helper's eager size probe.
PROBES = KeepRecent()
#: Signature, band and count tables read by several joins of one plan.
SIGNATURES = KeepRecent()
