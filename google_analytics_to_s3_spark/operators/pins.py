"""The two ways the package pins a DataFrame, each at ONE storage
level: serialized ``MEMORY_AND_DISK``.

- :func:`serialized_cache`: a DataFrame cache for a table that later
  queries re-read; the caller owns it and unpersists it.
- :func:`serialized_checkpoint`: a local checkpoint, the lineage cut
  of the iterative operators; its blocks go with the checkpointed RDD
  when that is garbage-collected, so nobody unpersists it.

Why serialized: the default levels keep deserialized objects (row
objects for a checkpoint, in-heap columnar batches for a cache), and
every later scan is charged their in-heap size. The daily job's
hit-grain export read 1.29 MiB per mart write cached deserialized and
0.53 MiB serialized; the co-purchase edge checkpoint read 4.65 MiB
per scan as rows and 0.52 MiB serialized. The entry point and the
graph operators pin only through this module (``tests/test_pins.py``).
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame


def serialized_cache(df: DataFrame) -> DataFrame:
    """``df.persist()`` in the serialized ``MEMORY_AND_DISK`` level.

    Lazy like ``persist``: the first action fills it. The caller
    releases it with ``unpersist()``, in a ``finally`` where an error
    may leave it behind.
    """
    return df.persist(StorageLevel.MEMORY_AND_DISK)


def serialized_checkpoint(df: DataFrame, eager: bool = False) -> DataFrame:
    """``df.localCheckpoint`` held in the serialized
    ``MEMORY_AND_DISK`` level.

    Same lifetime as the default level (the blocks go with the
    checkpointed RDD when it is garbage-collected), so callers never
    unpersist it.
    """
    return df.localCheckpoint(
        eager=eager, storageLevel=StorageLevel.MEMORY_AND_DISK
    )
