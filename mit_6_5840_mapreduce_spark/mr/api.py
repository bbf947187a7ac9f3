"""MR-compat layer: the reference's MapReduce data plane as a thin RDD
pipeline (SURVEY.md §2.1 rows 1-9, §7.1 layer 1).

Semantics preserved exactly (reference citations):

- input record = whole document ``(name, contents)``
  (``src/mr/worker.go:112-125``)
- ``mapf(name, contents) -> list[(key, value)]`` applied per document,
  outputs concatenated (``src/mr/worker.go:71-73``) — a flatMap
- shuffle partitions by key hash into ``n_reduce`` buckets
  (``src/mr/worker.go:32-36,127-146``); FNV-32a provided for layout
  parity, though the correctness contract is partition-layout-independent
  (``src/main/test-mr.sh:103-104`` compares the sorted union)
- ``reducef(key, values) -> str`` sees ALL values for its key in one call
  (``src/mr/worker.go:176-192``) — groupByKey, deliberately NOT
  reduceByKey; value order within a group is unspecified, exactly like
  the reference (Go sort instability + arbitrary map-task interleaving)
- output: per-partition key-sorted lines ``"key value"``
  (``src/mr/worker.go:170,189``); like the reference's reduce task,
  each reduce task applies the reducer, sorts its outputs and formats
  the lines, so a job is ONE shuffle: a map stage and a reduce stage

Spark's scheduler supplies the whole control plane the reference
hand-rolls (coordinator/worker RPC, heartbeats, requeue — §2.1 rows
10-18) with strictly stronger fault tolerance (lineage recomputation).

Scale notes: groupByKey materializes one key's values on one executor —
the reference's own memory model (its reducer gets ``[]string`` too).
For reducers DECLARED associative the layer offers the bounded-memory
fast path (round 8, VERDICT r7 item 8): pass ``combinef`` (and
optionally ``finalizef``) to ``mr_run`` and the shuffle becomes a
``reduceByKey`` with map-side combining — per-key executor state is
O(1) partials instead of every occurrence. The plain ``reducef``
CANNOT be auto-combined: the reference's own apps count by
``len(values)`` (``src/mrapps/wc.go:37-40``), which is not a fold of
its own outputs — hence the explicit declared pair, parity-pinned
against the groupByKey path by tests/test_mr_associative.py.

Cost model: every Python task pays a fixed worker-side CPU floor, whatever
its data: 0.21-0.27 s per task for an identity map over one-element
partitions on a 4-vCPU x86 VM (Python 3.11, Spark 4.1). PySpark's worker
calls ``importlib.invalidate_caches()`` in ``setup_spark_files`` on every
task, and on Python 3.11 that re-reads the central directory of every
cached zipimporter (12 for ``pyspark.zip``, 2 each for the spark-core jar
and py4j, plus this package's addPyFile zip): 0.20-0.30 s per call on
the same machine. The job therefore launches as few Python tasks as it
can: ``min(len(inputs), defaultParallelism)`` map tasks for a Python
input (the map work of a small corpus costs less than one task's floor)
and ``n_reduce`` reduce tasks, with the reduce, the output sort
(``ExternalSorter`` under ``spark.python.worker.memory``, spilling like
``repartitionAndSortWithinPartitions``) and the formatting fused into
the reduce stage.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable
from operator import itemgetter

from pyspark import RDD, SparkContext
from pyspark.shuffle import ExternalSorter
from pyspark.sql import SparkSession

MapF = Callable[[str, str], list[tuple[str, str]]]
ReduceF = Callable[[str, list[str]], str]

FNV_OFFSET32 = 2166136261
FNV_PRIME32 = 16777619


def ihash(key: str) -> int:
    """FNV-32a of the key, masked to 31 bits (``src/mr/worker.go:32-36``)."""
    h = FNV_OFFSET32
    for b in key.encode("utf-8"):
        h ^= b
        h = (h * FNV_PRIME32) & 0xFFFFFFFF
    return h & 0x7FFFFFFF


CombineF = Callable[[str, str], str]
FinalizeF = Callable[[str, str], str]


def mr_run(
    spark: SparkSession,
    mapf: MapF,
    reducef: ReduceF | None,
    inputs: Iterable[tuple[str, str]] | RDD,
    n_reduce: int = 10,
    combinef: CombineF | None = None,
    finalizef: FinalizeF | None = None,
) -> RDD:
    """Run a MapReduce job; returns an RDD of output lines ``"key value"``,
    key-sorted within each of the ``n_reduce`` partitions.

    ``inputs``: (name, contents) pairs — any Python iterable (read once)
    or a pair-RDD (e.g. from ``sc.wholeTextFiles``).

    Declared-associative fast path (round 8): passing ``combinef``
    switches the shuffle from groupByKey to ``reduceByKey(combinef)``
    — Spark combines map-side, so no executor ever holds more than one
    partial per key per partition (the 100 TB memory envelope
    docs/SCALE.md describes; the groupByKey path's per-key state is
    unbounded BY SPEC, since the reference's reducer sees every
    value). ``combinef(v1, v2)`` must be associative+commutative on
    the app's value strings; ``finalizef(key, merged)`` (default:
    identity) converts the merged partial to the output line value.
    The caller declares equivalence with the ``reducef`` path —
    tests/test_mr_associative.py pins it for every shipped app.
    """
    from mit_6_5840_mapreduce_spark.session import attach_package
    attach_package(spark)   # closures reference this package on executors

    sc: SparkContext = spark.sparkContext
    if not isinstance(inputs, RDD):
        records = list(inputs)
        inputs = sc.parallelize(
            records,
            numSlices=max(1, min(len(records), sc.defaultParallelism)))

    def apply_map(rec: tuple[str, str]) -> Iterable[tuple[str, str]]:
        return mapf(rec[0], rec[1])

    mapped = inputs.flatMap(apply_map)                        # map phase

    if combinef is not None:
        finish = finalizef if finalizef is not None else (lambda k, v: v)
        shuffled = mapped.reduceByKey(
            combinef, numPartitions=n_reduce,
            partitionFunc=ihash)                      # map-side combine
    else:
        if reducef is None:
            raise ValueError("mr_run needs reducef or combinef")

        def finish(key: str, values: Iterable[str]) -> str:
            return reducef(key, list(values))

        shuffled = mapped.groupByKey(
            numPartitions=n_reduce, partitionFunc=ihash)  # shuffle+group

    # the spill bound of repartitionAndSortWithinPartitions' own sort
    memory = shuffled._memory_limit() * 0.9
    serializer = shuffled._jrdd_deserializer

    def reduce_partition(
            groups: Iterable[tuple[str, Iterable[str]]]) -> Iterable[str]:
        """Reduce phase and output order in one pass over the partition:
        sort the reduce outputs (not the value lists) by key."""
        outputs = ((key, finish(key, values)) for key, values in groups)
        sort = ExternalSorter(memory, serializer).sorted
        for key, value in sort(outputs, key=itemgetter(0)):
            yield f"{key} {value}"

    return shuffled.mapPartitions(reduce_partition)


def collect_output(out: RDD) -> list[str]:
    """The harness-side canonical form: sorted union of all partitions
    (``src/main/test-mr.sh:103-104``: ``sort mr-out* | grep .``)."""
    return sorted(line for line in out.collect() if line)


def save_text(out: RDD, path: str) -> None:
    """Write one ``part-*`` file per reduce partition (the reference's
    ``mr-out-Y`` layout, ``src/mr/worker.go:173-189``)."""
    out.saveAsTextFile(path)
