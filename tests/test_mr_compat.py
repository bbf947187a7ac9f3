"""MR-compat layer vs the pure-Python sequential oracle — the exact shape
of the reference's golden-diff harness (``src/main/test-mr.sh:78-144``):
run distributed, run sequential, compare the canonical sorted union.
"""

from __future__ import annotations

import time
import uuid

import pytest

from mit_6_5840_mapreduce_spark.mr.api import collect_output, ihash, mr_run
from mit_6_5840_mapreduce_spark.mr.apps import APPS, APPS_ASSOCIATIVE
from mit_6_5840_mapreduce_spark.mr.sequential import mr_sequential


PATHS = ("reducef", "combinef")


def run_app(spark, app, path, inputs, n_reduce=10):
    """``mr_run`` of one shipped app on the groupByKey (``reducef``) or the
    declared-associative reduceByKey (``combinef``) path."""
    mapf, reducef = APPS[app]
    if path == "reducef":
        return mr_run(spark, mapf, reducef, inputs, n_reduce=n_reduce)
    combinef, finalizef = APPS_ASSOCIATIVE[app]
    return mr_run(spark, mapf, None, inputs, n_reduce=n_reduce,
                  combinef=combinef, finalizef=finalizef)


def stage_tasks(spark, action) -> list[list[int]]:
    """Run ``action`` under a fresh job group; returns, per job of the
    group, the task count of each of its stages in stage order (read
    through ``sc.statusTracker()``)."""
    sc = spark.sparkContext
    group = f"mr-shape-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    deadline = time.monotonic() + 30
    while True:   # the status store is fed asynchronously
        jobs = [tracker.getJobInfo(j)
                for j in sorted(tracker.getJobIdsForGroup(group))]
        if (jobs and all(j is not None and j.status == "SUCCEEDED"
                         for j in jobs)) or time.monotonic() > deadline:
            break
        time.sleep(0.05)
    return [[tracker.getStageInfo(s).numTasks for s in sorted(j.stageIds)]
            for j in jobs]


@pytest.mark.parametrize("app", sorted(APPS))
def test_app_matches_sequential_oracle(spark, documents, app):
    mapf, reducef = APPS[app]
    got = collect_output(mr_run(spark, mapf, reducef, documents, n_reduce=10))
    want = sorted(mr_sequential(mapf, reducef, documents))
    assert got == want


def test_reduce_sees_all_values_in_one_call(spark, documents):
    """The defining semantic: reducef(key, values) receives EVERY value of
    the key at once (never partial/combined), src/mr/worker.go:176-192."""
    def counting_reduce(key: str, values: list[str]) -> str:
        # executed on executors; assert via output instead of shared state
        return f"{len(values)}"

    out = collect_output(mr_run(
        spark, lambda n, c: [("k", n)], counting_reduce,
        documents, n_reduce=3))
    # single key "k": exactly one output line whose value = total doc count
    assert out == [f"k {len(documents)}"]


@pytest.mark.parametrize("path", PATHS)
def test_output_is_key_sorted_within_partitions(spark, documents, path):
    parts = run_app(spark, "wc", path, documents, n_reduce=5) \
        .glom().collect()
    assert len(parts) == 5
    for part in parts:
        keys = [line.split(" ", 1)[0] for line in part]
        assert keys == sorted(keys)


@pytest.mark.parametrize("path", PATHS)
def test_partitioning_is_by_key_hash(spark, documents, path):
    """Every output partition holds exactly the keys that FNV-hash to it
    (src/mr/worker.go:32-36,130-133)."""
    n = 5
    parts = run_app(spark, "wc", path, documents, n_reduce=n) \
        .glom().collect()
    for idx, part in enumerate(parts):
        for line in part:
            key = line.split(" ", 1)[0]
            assert ihash(key) % n == idx


# A small fixed corpus (non-ASCII words, digits and "_" that split tokens,
# an empty document) and the per-partition output lines of every app at
# n_reduce=3, pinned so that the partition layout, the order within each
# partition and the line format cannot drift.
LAYOUT_CORPUS = [
    ("doc-1", "the quick brown fox jumps over the lazy dog"),
    ("doc-2", "Über café naïve façade, the fox"),
    ("doc-3", "dog eat dog 42 world_wide"),
    ("doc-4", "日本語 テキスト the end"),
    ("doc-5", ""),
]
LAYOUT = {
    "wc": [
        ["fox 2", "jumps 1", "world 1", "テキスト 1"],
        ["brown 1", "eat 1", "end 1", "façade 1", "quick 1", "日本語 1"],
        ["café 1", "dog 3", "lazy 1", "naïve 1", "over 1", "the 4",
         "wide 1", "Über 1"],
    ],
    "indexer": [
        ["fox 2 doc-1,doc-2", "jumps 1 doc-1", "world 1 doc-3",
         "テキスト 1 doc-4"],
        ["brown 1 doc-1", "eat 1 doc-3", "end 1 doc-4", "façade 1 doc-2",
         "quick 1 doc-1", "日本語 1 doc-4"],
        ["café 1 doc-2", "dog 2 doc-1,doc-3", "lazy 1 doc-1",
         "naïve 1 doc-2", "over 1 doc-1", "the 3 doc-1,doc-2,doc-4",
         "wide 1 doc-3", "Über 1 doc-2"],
    ],
    "docmeta": [
        ["c 0 25 30 35 43"],
        [],
        ["a doc-1 doc-2 doc-3 doc-4 doc-5", "b 5 5 5 5 5",
         "d xyzzy xyzzy xyzzy xyzzy xyzzy"],
    ],
    "doccount": [
        ["doc-2 1", "doc-5 1"],
        ["doc-1 1", "doc-4 1"],
        ["doc-3 1"],
    ],
}


@pytest.mark.parametrize("path", PATHS)
@pytest.mark.parametrize("app", sorted(APPS))
def test_partition_layout_is_pinned(spark, app, path):
    got = run_app(spark, app, path, LAYOUT_CORPUS, n_reduce=3) \
        .glom().collect()
    assert got == LAYOUT[app]


@pytest.mark.parametrize("path", PATHS)
def test_job_is_one_shuffle(spark, documents, path):
    """Like the reference (src/mr/worker.go:127-146,170-192), a job is one
    map stage and one reduce stage that also sorts its output: one Spark
    job of two stages, the map stage sliced to the default parallelism
    and one reduce task per bucket."""
    sc = spark.sparkContext
    shape = stage_tasks(
        spark, lambda: run_app(spark, "wc", path, documents,
                               n_reduce=7).collect())
    assert shape == [[min(len(documents), sc.defaultParallelism), 7]]


def test_accepts_any_iterable_input(spark):
    mapf, reducef = APPS["wc"]
    docs = (pair for pair in LAYOUT_CORPUS)
    got = mr_run(spark, mapf, reducef, docs, n_reduce=3).glom().collect()
    assert got == LAYOUT["wc"]


def test_ihash_reference_values():
    """FNV-32a spot checks (independently computable constants)."""
    # FNV-32a("") = offset basis; masked to 31 bits
    assert ihash("") == 2166136261 & 0x7FFFFFFF
    # FNV-32a("a") = 0xe40c292c
    assert ihash("a") == 0xE40C292C & 0x7FFFFFFF


def test_retry_determinism(spark, documents):
    """Crash-test analogue (src/main/test-mr.sh:284-330): a map task that
    fails once and is retried must produce byte-identical output."""
    import os
    import tempfile

    marker_dir = tempfile.mkdtemp(prefix="mr_crash_")
    mapf, reducef = APPS["wc"]

    def crashing_map(name: str, contents: str):
        marker = os.path.join(marker_dir, "crashed_once")
        if name.endswith("7") and not os.path.exists(marker):
            open(marker, "w").close()
            raise RuntimeError("injected task failure (crash.go analogue)")
        return mapf(name, contents)

    got = collect_output(mr_run(spark, crashing_map, reducef,
                                documents, n_reduce=10))
    want = sorted(mr_sequential(mapf, reducef, documents))
    assert got == want


def test_map_tasks_run_in_parallel(spark, documents):
    """mtiming analogue (src/main/test-mr.sh:147-174): mr_run's own map
    stage runs >= 2 tasks under local[4]."""
    mapf, reducef = APPS["wc"]
    [[map_tasks, *_]] = stage_tasks(
        spark, lambda: mr_run(spark, mapf, reducef, documents,
                              n_reduce=10).collect())
    assert map_tasks >= 2


def test_exactly_once_absent_failures(spark, documents):
    """jobcount analogue (src/main/test-mr.sh:201-223): without failures,
    each input record is mapped exactly once (speculation off)."""
    acc = spark.sparkContext.accumulator(0)
    mapf, reducef = APPS["doccount"]

    def counting_map(name: str, contents: str):
        acc.add(1)
        return mapf(name, contents)

    collect_output(mr_run(spark, counting_map, reducef, documents,
                          n_reduce=10))
    assert acc.value == len(documents)
