"""Counters read from outside the program: ``/proc`` for the driver's
process tree, Spark's own status store, and a streaming-query listener.
Nothing here changes how the engine runs."""

from __future__ import annotations

import os
import threading
import time

CLK_TCK = os.sysconf("SC_CLK_TCK")
PAGE = os.sysconf("SC_PAGE_SIZE")
MB = 1024 * 1024


def _read_procs() -> dict[int, tuple[int, str, int, int, int]]:
    """pid -> (ppid, comm, own cpu ticks, reaped-children cpu ticks,
    rss pages) for every process visible in /proc."""
    out = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", "rb") as f:
                raw = f.read().decode("utf-8", "replace")
        except OSError:          # exited between listdir and open
            continue
        lpar, rpar = raw.index("("), raw.rindex(")")
        comm = raw[lpar + 1:rpar]
        fields = raw[rpar + 2:].split()
        # fields[0] is state; stat(5) numbering is fields[i - 3]
        out[int(entry)] = (int(fields[1]), comm,
                           int(fields[11]) + int(fields[12]),
                           int(fields[13]) + int(fields[14]),
                           int(fields[21]))
    return out


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over CPUs."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / CLK_TCK


def tree_usage(root: int | None = None) -> dict[str, float]:
    """CPU seconds and RSS of ``root`` (default: this process) and its
    descendants, split into the driver, the JVM and the Python workers
    (the JVM's Python daemon and its forks). CPU of a reaped child is kept
    through its parent's cumulative-children counters, so totals never
    drop when a worker exits."""
    root = os.getpid() if root is None else root
    procs = _read_procs()
    children: dict[int, list[int]] = {}
    for pid, (ppid, *_rest) in procs.items():
        children.setdefault(ppid, []).append(pid)
    usage = {"cpu_s": 0.0, "driver_cpu_s": 0.0, "jvm_cpu_s": 0.0,
             "py_worker_cpu_s": 0.0, "rss_mb": 0.0, "driver_rss_mb": 0.0,
             "jvm_rss_mb": 0.0, "py_worker_rss_mb": 0.0}
    stack = [(root, "driver")]
    while stack:
        pid, role = stack.pop()
        if pid not in procs:
            continue
        _ppid, comm, own, reaped, rss = procs[pid]
        if role == "driver" and comm == "java":
            role = "jvm"
        total = (own + reaped) / CLK_TCK
        usage["cpu_s"] += total
        if role == "jvm":
            # the JVM's own threads only; its reaped children were
            # Python workers
            usage["jvm_cpu_s"] += own / CLK_TCK
            usage["py_worker_cpu_s"] += reaped / CLK_TCK
        elif role == "driver":
            usage["driver_cpu_s"] += total
        else:
            usage["py_worker_cpu_s"] += total
        usage["rss_mb"] += rss * PAGE / MB
        usage[("py_worker" if role == "worker" else role) + "_rss_mb"] += \
            rss * PAGE / MB
        child_role = "worker" if role in ("jvm", "worker") else role
        # of the JVM's children only the Python daemon counts: the others
        # are short-lived spawn helpers which, until they exec, report
        # the JVM's own pages as their RSS
        stack.extend((c, child_role) for c in children.get(pid, ())
                     if role != "jvm" or procs[c][1].startswith("python"))
    return usage


def descendants(root: int | None = None) -> list[int]:
    """Pids of every live descendant of ``root`` (default: this process)."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for pid, (ppid, *_rest) in _read_procs().items():
        children.setdefault(ppid, []).append(pid)
    out, stack = [], list(children.get(root, ()))
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(children.get(pid, ()))
    return out


def usage_delta(before: dict, after: dict) -> dict[str, float]:
    """CPU deltas between two ``tree_usage`` readings (RSS is a level, not
    a counter, so it is left out)."""
    return {k: after[k] - before[k] for k in before
            if not k.endswith("rss_mb")}


class RssSampler:
    """One background thread that samples the tree's summed RSS every
    ``INTERVAL_S`` while the ``with`` block runs; ``peak`` is the largest
    sample, with its split by role. ``cpu_s`` is the thread's own CPU time
    so far, so that callers can leave it out of the tree's."""

    INTERVAL_S = 0.25

    def __init__(self):
        self.cpu_s = 0.0
        self.peak_mb = 0.0
        self.peak_roles: dict[str, float] = {}
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True,
                                        name="rss-sampler")

    def __enter__(self) -> RssSampler:
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    def _loop(self) -> None:
        while not self._stop.wait(self.INTERVAL_S):
            self.sample()
            self.cpu_s = time.thread_time()

    def sample(self) -> None:
        u = tree_usage()
        with self._lock:
            if u["rss_mb"] > self.peak_mb:
                self.peak_mb = u["rss_mb"]
                self.peak_roles = {k: v for k, v in u.items()
                                   if k.endswith("_rss_mb")}

    def peak(self) -> tuple[float, dict[str, float]]:
        self.sample()
        with self._lock:
            return self.peak_mb, dict(self.peak_roles)


class SparkCounters:
    """Executor-summary totals and the highest job id, read from the
    application's status store."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._store = self._sc._jsc.sc().statusStore()
        self._max_stage = -1

    def snapshot(self) -> dict[str, float]:
        snap = {"input_mb": 0.0, "shuffle_read_mb": 0.0,
                "shuffle_write_mb": 0.0, "tasks": 0, "failed_tasks": 0,
                "executor_run_s": 0.0, "gc_s": 0.0}
        execs = self._store.executorList(True)
        for i in range(execs.size()):
            e = execs.apply(i)
            snap["input_mb"] += e.totalInputBytes() / MB
            snap["shuffle_read_mb"] += e.totalShuffleRead() / MB
            snap["shuffle_write_mb"] += e.totalShuffleWrite() / MB
            snap["tasks"] += e.totalTasks()
            snap["failed_tasks"] += e.failedTasks()
            snap["executor_run_s"] += e.totalDuration() / 1000.0
            snap["gc_s"] += e.totalGCTime() / 1000.0
        # jobsList is newest first. The store keeps only
        # spark.ui.retainedJobs jobs, so count jobs by the id, not by
        # the list's length.
        jobs = self._store.jobsList(None)
        snap["max_job_id"] = jobs.apply(0).jobId() if jobs.size() else -1
        return snap

    def spill_mb_since_last(self) -> float:
        """Memory plus disk spill of every stage newer than the previous
        call. The store keeps only spark.ui.retainedStages stages, so call
        this at least that often."""
        jvm = self._sc._jvm
        gw = self._sc._gateway
        stages = self._store.stageList(jvm.java.util.ArrayList(), False,
                                       False, gw.new_array(jvm.double, 0),
                                       jvm.java.util.ArrayList())
        spilled, newest = 0, self._max_stage
        for i in range(stages.size()):
            st = stages.apply(i)
            sid = st.stageId()
            if sid <= self._max_stage:
                continue
            newest = max(newest, sid)
            spilled += st.memoryBytesSpilled() + st.diskBytesSpilled()
        self._max_stage = newest
        return spilled / MB


def counter_delta(before: dict, after: dict) -> dict[str, float]:
    d = {k: after[k] - before[k] for k in before if k != "max_job_id"}
    d["jobs"] = after["max_job_id"] - before["max_job_id"]
    return d


def make_stream_listener(spark):
    """Register a StreamingQueryListener that totals micro-batch
    progress; returns it (its ``totals()`` is thread-safe)."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressTotals(StreamingQueryListener):
        def __init__(self):
            self._lock = threading.Lock()
            self._t = {"batches": 0, "input_rows": 0, "state_rows": 0,
                       "commit_ms": 0}

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            dur = p.durationMs or {}
            state = sum(op.numRowsTotal for op in (p.stateOperators or []))
            with self._lock:
                self._t["batches"] += 1
                self._t["input_rows"] += p.numInputRows
                self._t["state_rows"] += state
                self._t["commit_ms"] += (dur.get("walCommit", 0)
                                         + dur.get("commitOffsets", 0))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

        def totals(self) -> dict[str, int]:
            with self._lock:
                return dict(self._t)

    listener = ProgressTotals()
    spark.streams.addListener(listener)
    return listener
