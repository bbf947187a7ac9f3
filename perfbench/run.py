"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout of the repository. The command generates
the workload's input tables from the seed, starts one ``get_spark()``
session on ``local[nproc]``, and runs the workload as one closed-loop
client that calls the workload's registered queries one after another:
a timed warm-up pass whose outputs are checked against the DuckDB oracles
(and ``mr_sequential`` for direct MapReduce jobs), an untimed pass while
the JIT settles, then measured passes for about ``--seconds`` seconds (at
least three). Any exception or mismatch makes the exit code non-zero. It
prints the end-to-end metrics by name and unit (``--trace 0``) or the
per-layer metrics from a traced run (``--trace 1``); the last line of
standard output is one JSON object. Everything it writes stays under
``.perfbench_work/`` and ``.perfbench_out/`` in the checkout.
"""

from __future__ import annotations

import argparse
import contextlib
import dataclasses
import json
import os
import platform
import shutil
import signal
import statistics
from statistics import median
import subprocess
import sys
import tempfile
import time
import traceback

import gen
import probes
import spans
from workloads import WORKLOADS, Workload

PACKAGE = "mit_6_5840_mapreduce_spark"

# name -> unit. All seven are printed; the result line carries only the
# two that BENCHMARK.json gates. On a shared 4-vCPU virtual machine the
# wall-clock metrics (query_p50_ms, query_p90_ms, input_mb_per_s) spread
# over ten seeds by 0.27-0.60 of their median: CPU steal and neighbour load
# stretch every parallel stage, which no statistic inside one run removes.
# CPU time per pass and set-up time stayed within 0.25. peak_rss_mb follows
# the JVM's heap sizing (spread 0.28-0.34), and error_rate is 0 on a correct
# program; the result line carries it as attempted/failed.
END_TO_END = {
    "setup_s": "s",
    "query_p50_ms": "ms",
    "query_p90_ms": "ms",
    "input_mb_per_s": "MB/s",
    "cpu_s_per_pass": "s",
    "peak_rss_mb": "MB",
    "error_rate": "ratio",
}
REPORTED_END_TO_END = ("setup_s", "cpu_s_per_pass")

PER_LAYER = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "sources.scan_s": "s",
    "sources.input_mb": "MB",
    "functions.tokenize_s": "s",
    "mr.run_s": "s",
    "mr.run_assoc_s": "s",
    "mr.sequential_s": "s",
    "mr.shuffle_mb": "MB",
    "mr.py_worker_cpu_s": "s",
    "operators.build_s": "s",
    "operators.exec_s": "s",
    "operators.jobs": "count",
    "operators.tasks": "count",
    "operators.failed_tasks": "count",
    "operators.shuffle_write_mb": "MB",
    "operators.shuffle_read_mb": "MB",
    "operators.spill_mb": "MB",
    "operators.executor_run_s": "s",
    "operators.gc_s": "s",
    "operators.busy_share": "ratio",
    "operators.jvm_cpu_s": "s",
    "operators.py_worker_cpu_s": "s",
    "plans.explain_s": "s",
    "plans.exchanges": "count",
    "plans.broadcast_joins": "count",
    "plans.python_evals": "count",
    "streaming.run_s": "s",
    "streaming.batches": "count",
    "streaming.input_rows": "count",
    "streaming.state_rows": "count",
    "streaming.commit_ms": "ms",
    "trace.overhead_s": "s",
}


class BenchError(Exception):
    """The checkout cannot be benchmarked (program missing, bad args)."""


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def require_program(root: str) -> None:
    for rel in (os.path.join(PACKAGE, "session.py"),
                os.path.join("tools", "parity.py")):
        if not os.path.isfile(os.path.join(root, rel)):
            raise BenchError(f"{rel} not found under {root}: run from the "
                             "root of a checkout of the repository")


def pin_environment(work: str) -> dict:
    """Pin the harness to this machine and keep every file it makes
    under ``work``. Returns the pinned settings for the result."""
    nproc = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    # the JVM that spark-submit starts to build the driver's command line
    os.environ["SPARK_LAUNCHER_OPTS"] = \
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    tempfile.tempdir = None          # re-read TMPDIR
    return {"nproc": nproc, "spark_local_dirs": os.path.relpath(local)}


def spark_conf(work: str) -> dict[str, str]:
    tmp = os.path.join(work, "tmp")
    return {
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }


def generate_inputs(w: Workload, seed: int, data_root: str
                    ) -> tuple[list[str], list[float]]:
    """One directory per increment; returns the directories and the
    logical input MB of the tables the workload reads in each."""
    dirs, mbs = [], []
    for k in range(w.increments):
        d = os.path.join(data_root, f"inc{k}")
        # increment k's seed is (seed, k): the same seed always yields the
        # same increments, and increments never share a stream
        sizes = gen.write_tables(d, (seed, k) if k else seed, w.settings)
        dirs.append(d)
        mbs.append(sum(sizes[t] for t in w.reads) / probes.MB)
    return dirs, mbs


def p90(xs: list[float]) -> float:
    if len(xs) < 2:
        return xs[0]
    return statistics.quantiles(xs, n=10, method="inclusive")[8]


class Bench:
    """One Spark session running one workload."""

    def __init__(self, w: Workload, dirs: list[str], mbs: list[float],
                 nproc: int, conf: dict[str, str]):
        self.w, self.dirs, self.mbs, self.nproc = w, dirs, mbs, nproc
        self.conf = conf
        self.attempted = 0
        self.failures: list[str] = []
        self.tracer: spans.Tracer | None = None
        self._docs: dict[str, list[tuple[str, str]]] = {}
        self._duck: dict = {}

    # ---- session ---------------------------------------------------------
    def start(self) -> float:
        from mit_6_5840_mapreduce_spark.operators import registry
        from mit_6_5840_mapreduce_spark.session import get_spark
        self.queries, self.oracles = registry()
        t0 = time.perf_counter()
        self.spark = get_spark(f"perfbench-{self.w.name}",
                               extra_conf=self.conf)
        start_s = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        self.counters = probes.SparkCounters(self.spark)
        return start_s

    def stop(self) -> None:
        """Stop the session and the JVM it launched, and wait for both."""
        from pyspark import SparkContext
        self.close_oracles()
        spark = getattr(self, "spark", None)
        if spark is not None:
            spark.stop()
        gw = SparkContext._gateway
        if gw is None:
            return
        started = probes.descendants()
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()       # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        # the JVM's Python workers exit on their own once it is gone
        deadline = time.monotonic() + 30
        while (left := [p for p in started
                        if os.path.exists(f"/proc/{p}")]) and \
                time.monotonic() < deadline:
            time.sleep(0.1)
        for p in left:
            with contextlib.suppress(ProcessLookupError):
                os.kill(p, signal.SIGKILL)

    # ---- one call ----------------------------------------------------------
    def _inputs(self, d: str) -> list[tuple[str, str]]:
        if d not in self._docs:
            import pyarrow.parquet as pq
            t = pq.read_table(os.path.join(d, "documents.parquet"),
                              columns=["doc_id", "text"]).to_pydict()
            self._docs[d] = [(str(i), s) for i, s in
                             zip(t["doc_id"], t["text"])]
        return self._docs[d]

    def _mr_app(self, call: str):
        """(mapf, reducef) of "mr_run:<app>"."""
        from mit_6_5840_mapreduce_spark.mr.apps import APPS
        return APPS[call.split(":", 1)[1]]

    def _layer(self, name: str) -> str:
        fn = self.queries[name]
        mod = getattr(fn, "__wrapped__", fn).__module__
        return "streaming" if mod.startswith(f"{PACKAGE}.streaming") \
            else "operators"

    def _span(self, traced: bool, name: str):
        return self.tracer.span(name) if traced else contextlib.nullcontext()

    def call(self, name: str, d: str, traced: bool = False,
             collect: bool = False):
        """Run one call; returns (wall seconds, result). A query's result
        goes to the noop sink, or with ``collect`` to the driver as a
        pandas frame for the oracle check."""
        from mit_6_5840_mapreduce_spark.mr.api import collect_output, mr_run
        if name.startswith("mr_run:"):
            mapf, reducef = self._mr_app(name)
            inputs = self._inputs(d)
            t0 = time.perf_counter()
            with self._span(traced, "mr.run"):
                out = collect_output(mr_run(self.spark, mapf, reducef,
                                            inputs))
            return time.perf_counter() - t0, out
        t0 = time.perf_counter()
        with self._span(traced, f"{self._layer(name)}.build"):
            df = self.queries[name](self.spark, d)
        if traced:
            from mit_6_5840_mapreduce_spark.plans.explain import executed_plan
            with self.tracer.span("plans.explain") as a:
                plan = executed_plan(df).splitlines()
                a["exchanges"] = sum("Exchange " in ln for ln in plan)
                a["broadcast_joins"] = sum(
                    "BroadcastHashJoin" in ln
                    or "BroadcastNestedLoopJoin" in ln for ln in plan)
                a["python_evals"] = sum(
                    "EvalPython" in ln or "MapInPandas" in ln
                    or "FlatMapGroupsInPandas" in ln for ln in plan)
        with self._span(traced, "operators.exec"):
            if collect:
                out = df.toPandas()
            else:
                df.write.format("noop").mode("overwrite").save()
                out = None
        return time.perf_counter() - t0, out

    # ---- correctness -----------------------------------------------------
    def _duckdb(self, d: str):
        if d not in self._duck:
            import duckdb
            con = duckdb.connect()
            for t in gen.TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"'{os.path.join(d, t + '.parquet')}'")
            self._duck[d] = con
        return self._duck[d]

    def close_oracles(self) -> None:
        """Close the DuckDB connections, so that they hold no memory while
        the measured passes run."""
        for con in self._duck.values():
            con.close()
        self._duck.clear()

    def check(self, name: str, d: str, result) -> str | None:
        """None when ``result`` matches the oracle, else the mismatch."""
        if name.startswith("mr_run:"):
            from mit_6_5840_mapreduce_spark.mr.sequential import mr_sequential
            mapf, reducef = self._mr_app(name)
            want = sorted(mr_sequential(mapf, reducef, self._inputs(d)))
            if result == want:
                return None
            return f"{len(result)} lines vs {len(want)} from mr_sequential"
        from tools.parity import canon
        if name not in self.oracles:
            return "no oracle registered"
        got = canon(result)
        want = canon(self._duckdb(d).execute(self.oracles[name]).df())
        if len(got) != len(want):
            return f"rowcount {len(got)} vs oracle {len(want)}"
        if list(got.columns) != list(want.columns):
            return f"columns {list(got.columns)} vs {list(want.columns)}"
        if not got.equals(want):
            i = (got != want).any(axis=1).idxmax()
            return (f"row {i}: {got.loc[i].to_dict()} vs "
                    f"{want.loc[i].to_dict()}")[:400]
        return None

    def guarded(self, name: str, d: str, traced: bool = False,
                check: bool = False) -> float | None:
        """One attempted call: its wall seconds, or None when it raised
        or (with ``check``) its output did not match."""
        self.attempted += 1
        try:
            wall, result = self.call(name, d, traced, collect=check)
            problem = self.check(name, d, result) if check else None
        except Exception:
            problem = traceback.format_exc(limit=3).strip().splitlines()[-1]
        if problem is not None:
            self.failures.append(f"{name}: {problem}")
            print(f"FAIL {name}: {problem}", file=sys.stderr, flush=True)
            return None
        return wall

    # ---- passes ----------------------------------------------------------
    def run_pass(self, idx: int, traced: bool = False, check: bool = False
                 ) -> dict:
        d = self.dirs[idx % len(self.dirs)]
        samples, calls = [], {}
        t0 = time.perf_counter()
        for name in self.w.calls:
            if traced:
                self.tracer.new_trace()
                with self.tracer.span(f"call:{name}", query=name) as a:
                    c0, u0 = self.counters.snapshot(), probes.tree_usage()
                    wall = self.guarded(name, d, traced=True)
                    c1, u1 = self.counters.snapshot(), probes.tree_usage()
                    a.update(probes.counter_delta(c0, c1))
                    a.update(probes.usage_delta(u0, u1))
            else:
                wall = self.guarded(name, d, check=check)
            if wall is not None:
                samples.append(wall)
                calls[name] = wall
        return {"wall": time.perf_counter() - t0, "samples": samples,
                "calls": calls,
                "mb": self.mbs[idx % len(self.dirs)]}

    def measured(self, seconds: float, first_idx: int,
                 alternate: bool = False) -> tuple[list[dict], dict]:
        """Whole passes for up to ``seconds``: at least three run, and
        another starts only if a pass as long as the previous one would end
        in time. The floor keeps the pass count, and with it the metrics,
        comparable from run to run. With ``alternate`` the passes run
        untraced, traced, traced, untraced, ... so both kinds see the same
        warm-up trend. Returns the passes and what was sampled over them:
        the peak RSS (MB, total and by role), the RSS sampler's own CPU
        seconds and the host's steal seconds."""
        passes: list[dict] = []
        least = 4 if alternate else 3
        with probes.RssSampler() as rss:
            steal0 = probes.steal_s()
            t0 = time.perf_counter()
            i = first_idx
            while len(passes) < least or (time.perf_counter() - t0
                                          + passes[-1]["wall"] <= seconds):
                traced = alternate and (i - first_idx) % 4 in (1, 2)
                c0, u0 = self.counters.snapshot(), probes.tree_usage()
                st0, r0 = probes.steal_s(), rss.cpu_s
                if traced:
                    s0 = self.listener.totals()
                    lo = len(self.tracer.spans)
                    with self.tracer.span("pass", index=i):
                        p = self.run_pass(i, traced=True)
                    p["spans"] = (lo, len(self.tracer.spans))
                else:
                    p = self.run_pass(i)
                c1, u1 = self.counters.snapshot(), probes.tree_usage()
                p["traced"] = traced
                p["counters"] = probes.counter_delta(c0, c1)
                p["usage"] = probes.usage_delta(u0, u1)
                # the sampler thread's CPU is the harness's, not the program's
                p["usage"]["cpu_s"] -= rss.cpu_s - r0
                p["steal_s"] = probes.steal_s() - st0
                if traced:
                    p["spill_mb"] = self.counters.spill_mb_since_last()
                    p["streaming"] = _delta(s0, self.listener.totals())
                passes.append(p)
                i += 1
            peak_mb, peak_roles = rss.peak()
            steal = probes.steal_s() - steal0
        return passes, {"peak_rss_mb": peak_mb, "peak_roles": peak_roles,
                        "sampler_cpu_s": rss.cpu_s, "steal_s": steal}


def _delta(a: dict, b: dict) -> dict:
    return {k: b[k] - a[k] for k in a}


def end_to_end(bench: Bench, setup_s: float, passes: list[dict],
               sampled: dict) -> dict[str, float]:
    samples = [s for p in passes for s in p["samples"]]
    wall = sum(p["wall"] for p in passes)
    return {
        "setup_s": setup_s,
        "query_p50_ms": median(samples) * 1000.0,
        "query_p90_ms": p90(samples) * 1000.0,
        "input_mb_per_s": sum(p["mb"] for p in passes) / wall,
        "cpu_s_per_pass": sum(p["usage"]["cpu_s"] for p in passes)
        / len(passes),
        "peak_rss_mb": sampled["peak_rss_mb"],
        "error_rate": len(bench.failures) / bench.attempted,
    }


def _span_total(spans: list[dict], name: str, lo: int, hi: int) -> float:
    return sum(s["end"] - s["start"] for s in spans[lo:hi]
               if s["name"] == name)


def _attr_total(spans: list[dict], key: str, lo: int, hi: int) -> int:
    return sum(s["attrs"].get(key, 0) for s in spans[lo:hi]
               if s["name"] == "plans.explain")


def per_layer(bench: Bench, start_s: float, warm_wall: float,
              passes: list[dict], probe: dict) -> dict[str, float]:
    """Per-layer metrics: pass-level values are medians over the traced
    passes; probe values come from the one-off layer calls."""
    sp = bench.tracer.spans
    traced = [p for p in passes if p["traced"]]
    plain = [p for p in passes if not p["traced"]]
    rows = []
    for p in traced:
        (lo, hi), c, u = p["spans"], p["counters"], p["usage"]
        rows.append({
            "sources.input_mb": c["input_mb"],
            "operators.build_s": _span_total(sp, "operators.build", lo, hi),
            "operators.exec_s": _span_total(sp, "operators.exec", lo, hi),
            "operators.jobs": c["jobs"],
            "operators.tasks": c["tasks"],
            "operators.failed_tasks": c["failed_tasks"],
            "operators.shuffle_write_mb": c["shuffle_write_mb"],
            "operators.shuffle_read_mb": c["shuffle_read_mb"],
            "operators.spill_mb": p["spill_mb"],
            "operators.executor_run_s": c["executor_run_s"],
            "operators.gc_s": c["gc_s"],
            "operators.busy_share": c["executor_run_s"]
            / (p["wall"] * bench.nproc),
            "operators.jvm_cpu_s": u["jvm_cpu_s"],
            "operators.py_worker_cpu_s": u["py_worker_cpu_s"],
            "plans.explain_s": _span_total(sp, "plans.explain", lo, hi),
            "plans.exchanges": _attr_total(sp, "exchanges", lo, hi),
            "plans.broadcast_joins": _attr_total(sp, "broadcast_joins",
                                                 lo, hi),
            "plans.python_evals": _attr_total(sp, "python_evals", lo, hi),
            "streaming.run_s": _span_total(sp, "streaming.build", lo, hi),
            **{f"streaming.{k}": v for k, v in p["streaming"].items()},
        })
    m = {k: median([r[k] for r in rows]) for k in rows[0]}
    m.update(probe.get("streaming", {}))
    plain_wall = median([p["wall"] for p in plain])
    m.update({
        "session.start_s": start_s,
        "session.warmup_s": warm_wall - plain_wall,
        "sources.scan_s": probe["scan_s"],
        "functions.tokenize_s": probe["tokenize_s"],
        "mr.run_s": probe["mr_run_s"],
        "mr.run_assoc_s": probe["mr_run_assoc_s"],
        "mr.sequential_s": probe["mr_sequential_s"],
        "mr.shuffle_mb": probe["mr_shuffle_mb"],
        "mr.py_worker_cpu_s": probe["mr_py_worker_cpu_s"],
        "trace.overhead_s": median([p["wall"] for p in traced]) - plain_wall,
    })
    return {k: m[k] for k in PER_LAYER}


def layer_probes(bench: Bench) -> dict[str, float]:
    """One-off calls into the sources, functions, mr and (for workloads
    without streaming calls) streaming layers, on the first input
    directory."""
    from mit_6_5840_mapreduce_spark.functions.text import tokens_df
    from mit_6_5840_mapreduce_spark.mr.api import collect_output, mr_run
    from mit_6_5840_mapreduce_spark.mr.apps import (APPS_ASSOCIATIVE,
                                                    wc_map, wc_reduce)
    from mit_6_5840_mapreduce_spark.mr.sequential import mr_sequential
    from mit_6_5840_mapreduce_spark.sources.tables import load_table
    tr, spark, d = bench.tracer, bench.spark, bench.dirs[0]
    out: dict[str, float] = {}
    tr.new_trace()

    def timed(span_name: str, fn) -> float:
        t0 = time.perf_counter()
        with tr.span(span_name):
            fn()
        return time.perf_counter() - t0

    def noop(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    out["scan_s"] = sum(
        timed("sources.scan", lambda t=t: noop(load_table(spark, d, t)))
        for t in bench.w.reads)
    out["tokenize_s"] = timed("functions.tokenize", lambda: noop(
        tokens_df(load_table(spark, d, "documents"))))
    inputs = bench._inputs(d)
    c0, u0 = bench.counters.snapshot(), probes.tree_usage()
    out["mr_run_s"] = timed("mr.run", lambda: collect_output(
        mr_run(spark, wc_map, wc_reduce, inputs)))
    c1, u1 = bench.counters.snapshot(), probes.tree_usage()
    out["mr_shuffle_mb"] = c1["shuffle_write_mb"] - c0["shuffle_write_mb"]
    out["mr_py_worker_cpu_s"] = u1["py_worker_cpu_s"] - u0["py_worker_cpu_s"]
    combinef, _ = APPS_ASSOCIATIVE["wc"]
    out["mr_run_assoc_s"] = timed("mr.run_assoc", lambda: collect_output(
        mr_run(spark, wc_map, None, inputs, combinef=combinef)))
    out["mr_sequential_s"] = timed(
        "mr.sequential", lambda: mr_sequential(wc_map, wc_reduce, inputs))
    if not any(bench._layer(n) == "streaming" for n in bench.w.calls
               if not n.startswith("mr_run:")):
        # the workload makes no streaming call: measure the layer with one
        # availableNow job over the same inputs
        s0 = bench.listener.totals()
        run_s = timed("streaming.build", lambda: noop(
            bench.queries["stream_dedup_events"](spark, d)))
        out["streaming"] = {"streaming.run_s": run_s, **{
            f"streaming.{k}": v for k, v in
            _delta(s0, _settled(bench.listener)).items()}}
    return out


def _settled(listener) -> dict:
    """Listener totals once progress events stop arriving (they are
    delivered asynchronously after a query ends), or after 5 s."""
    last = listener.totals()
    deadline = time.perf_counter() + 5.0
    while time.perf_counter() < deadline:
        time.sleep(0.2)
        now = listener.totals()
        if now == last:
            return now
        last = now
    return last


def versions() -> dict:
    import pyspark
    return {"python": platform.python_version(), "spark": pyspark.__version__}


def run(args: argparse.Namespace, root: str) -> tuple[dict, dict, int]:
    """Returns (metrics, metadata, failed count)."""
    w = WORKLOADS[args.workload]
    work = os.path.join(root, ".perfbench_work",
                        f"{w.name}-{args.seed}-{os.getpid()}")
    meta = {"workload": w.name, "why": w.why, "seed": args.seed,
            "trace": args.trace, "seconds": args.seconds,
            "settings": dataclasses.asdict(w.settings),
            "reads": list(w.reads), "increments": w.increments,
            "loadavg_before": os.getloadavg()}
    meta.update(pin_environment(work))
    bench = None
    try:
        t0 = time.perf_counter()
        dirs, mbs = generate_inputs(w, args.seed, os.path.join(work, "data"))
        meta["generate_s"] = time.perf_counter() - t0
        meta["logical_input_mb_per_pass"] = mbs
        bench = Bench(w, dirs, mbs, meta["nproc"], spark_conf(work))
        start_s = bench.start()
        meta.update(versions())
        if args.trace:
            bench.tracer = spans.Tracer()
            bench.listener = probes.make_stream_listener(bench.spark)
        # the warm-up pass collects every result for the oracle check; its
        # time counts the calls only, not the comparisons
        warm = bench.run_pass(0, check=True)
        warm_wall = sum(warm["samples"])
        bench.close_oracles()
        if bench.failures:
            meta["failures"] = bench.failures
            return ({"error_rate": len(bench.failures) / bench.attempted},
                    meta, len(bench.failures))
        # The JVM is still compiling after the warm-up pass: the next pass
        # ran 20-25% slower than the ones after it, and varied three times
        # as much, so it runs untimed.
        bench.run_pass(0)
        if args.trace:
            bench.counters.spill_mb_since_last()    # count from here on
            passes, sampled = bench.measured(args.seconds, 1, alternate=True)
            probe = layer_probes(bench)
            metrics = per_layer(bench, start_s, warm_wall, passes, probe)
        else:
            passes, sampled = bench.measured(args.seconds, 1)
            metrics = end_to_end(bench, start_s + warm_wall, passes, sampled)
            samples = sorted(s for p in passes for s in p["samples"])
            meta["query_samples"] = len(samples)
            meta["samples_above_p90"] = sum(
                s > metrics["query_p90_ms"] / 1000.0 for s in samples)
            meta["call_median_ms"] = {
                n: median([p["calls"][n] for p in passes if n in p["calls"]])
                * 1000.0 for n in w.calls}
            meta["peak_rss_by_role_mb"] = sampled["peak_roles"]
            meta["sampler_cpu_s"] = sampled["sampler_cpu_s"]
        meta["passes"] = len(passes)
        meta["pass_wall_s"] = [p["wall"] for p in passes]
        meta["pass_steal_share"] = [p["steal_s"] / (p["wall"] * bench.nproc)
                                    for p in passes]
        meta["pass_cpu_s"] = {k: [p["usage"][k] for p in passes] for k in
                              ("cpu_s", "driver_cpu_s", "jvm_cpu_s",
                               "py_worker_cpu_s")}
        meta["steal_share"] = sampled["steal_s"] / (
            sum(meta["pass_wall_s"]) * bench.nproc)
        meta["failures"] = bench.failures
        if args.trace:
            out_dir = os.path.join(root, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            path = os.path.join(out_dir, f"trace-{w.name}-{args.seed}.json")
            meta["span_file"] = os.path.relpath(path, root)
            meta["spans"] = len(bench.tracer.spans)
            bench.tracer.write(path, meta)
        return metrics, meta, len(bench.failures)
    finally:
        try:
            if bench is not None:
                meta["attempted"] = bench.attempted
                bench.stop()
        finally:
            meta["loadavg_after"] = os.getloadavg()
            shutil.rmtree(work, ignore_errors=True)


def main(argv: list[str]) -> int:
    # a terminated run still stops its JVM and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    root = os.getcwd()
    try:
        args = parse_args(argv)
        require_program(root)
    except BenchError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    if root not in sys.path:
        sys.path.insert(0, root)
    metrics, meta, failed = run(args, root)
    units = PER_LAYER if args.trace else END_TO_END
    for name, value in metrics.items():
        print(f"{name} {value:.6g} {units[name]}")
    print(json.dumps({"meta": meta}))
    shown = PER_LAYER if args.trace else REPORTED_END_TO_END
    print(json.dumps({
        "correct": failed == 0,
        "attempted": meta["attempted"],
        "failed": failed,
        "metrics": {n: {"value": metrics[n], "unit": units[n]}
                    for n in shown if n in metrics},
    }))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
