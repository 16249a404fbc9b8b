"""The two ways the package pins a DataFrame, each at ONE storage
level: serialized ``MEMORY_AND_DISK``.

- :func:`serialized_cache`: a DataFrame cache for a table that later
  queries re-read; the caller owns it and unpersists it.
- :func:`serialized_checkpoint`: a local checkpoint, the lineage cut
  of the iterative operators; its blocks go with the checkpointed RDD
  when that is garbage-collected, so nobody unpersists it.

Why serialized: the default levels keep deserialized objects (row
objects for a checkpoint, in-heap columnar batches for a cache), and
every later scan is charged their in-heap size. Serialized blocks are
compressed (``spark.rdd.compress``, set by ``session.get_spark``) with
the session's block codec, zstd (``spark.io.compression.codec``). Per
read (event log, seed 1), deserialized → serialized with LZ4 →
serialized with zstd: the daily job's hit-grain export, read once per
mart write, 1.29 → 0.53 → 0.22 MiB; the co-purchase edge checkpoint
4.65 → 0.52 → 0.20 MiB. The entry point and the graph operators pin
only through this module (``tests/test_pins.py``).

The layout rule: a pin is stored in key order within its partitions,
by the one key it is partitioned and joined on. Runs of equal values
are what the cached batches' encodings and zstd collapse; a single
long key sorts by radix, at no measurable cost. The caller sorts
(``df.sortWithinPartitions(key)``) just before it pins. Per read
(``scripts/pass_bytes.py``, seed 1), unsorted → key-sorted: the
co-purchase edge checkpoint (by ``src``) 0.196 → 0.103 MiB;
``label_propagation``'s mirrored edges (by ``_a``) 0.394 → 0.205 MiB;
``pagerank``'s degree-joined edges (by ``c_src``) 0.494 → 0.231 MiB.
The daily job's hit-grain export leaves the visitor windows in visitor
order already, so sorting it changes no byte.
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
