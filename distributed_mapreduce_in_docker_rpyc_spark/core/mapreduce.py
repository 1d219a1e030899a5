"""Generic user-pluggable map/reduce surface — the reference's whole runtime
as one function.

The reference hardcodes a single (map, reduce) pair behind an RPC dispatch
(reference worker/worker.py:14-37) and hand-schedules it from the coordinator
(reference coordinator/coordinator.py:145-244: chunk → map dispatch → shuffle →
reduce dispatch → merge).  Spark's RDD API *is* that architecture, made
general:

  - map tasks           → ``rdd.mapPartitions(map_fn)``: like the reference's
                          map task, which takes a whole chunk, ``map_fn``
                          takes a whole partition                 (OP-5/6)
  - map-side combiner   → the map function's own in-mapper combining (the
                          word count counts each partition into one
                          ``Counter``, as worker/worker.py:15-18 counts each
                          chunk), then ``reduceByKey``'s partial
                          aggregation of the pairs it emits        (OP-7)
  - MD5 hash partition  → ``HashPartitioner(num_partitions)``     (OP-8; MD5 vs
                          Murmur3 changes placement, never results — SURVEY §2.1)
  - coordinator shuffle → Spark's distributed shuffle             (OP-9)
  - reduce tasks        → ``reduceByKey``'s final merge           (OP-10)
  - global merge        → nothing: partitions are already disjoint (OP-12)

Fault tolerance (reference RT-2: 20 s timeout + head-of-queue reassignment,
coordinator/coordinator.py:103-127,162-185) is subsumed by
``spark.task.maxFailures`` and speculative execution; the reference's
discard-late-duplicate-result behavior is exactly Spark's first-result-wins for
speculative tasks.

Scale note: this is the ONE module where RDDs are appropriate — it exists to
preserve the reference's user-pluggable imperative paradigm.  Every named
operator in ``operators/`` uses DataFrames so Catalyst can optimize.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable
from typing import TypeVar

from pyspark.rdd import RDD

K = TypeVar("K")
V = TypeVar("V")
T = TypeVar("T")


def run_mapreduce(
    rdd: RDD,
    map_fn: Callable[[Iterable[T]], Iterable[tuple[K, V]]],
    reduce_fn: Callable[[V, V], V],
    num_partitions: int | None = None,
) -> RDD:
    """Run a classic MapReduce job: map each partition to KV pairs, combine
    map-side, shuffle by key hash, reduce per key.

    ``map_fn`` receives one partition's iterator of records and returns its
    KV pairs, so it can pre-aggregate the partition before the shuffle.

    ``num_partitions`` is the reference's ``NUM_REDUCERS``
    (coordinator/coordinator.py:11; image default 3, coordinator/Dockerfile:8).
    Results are independent of it — asserted by
    tests/test_wordcount.py::test_partition_count_invariance.
    """
    return rdd.mapPartitions(map_fn).reduceByKey(reduce_fn, num_partitions)

