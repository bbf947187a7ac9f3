"""Self-tests for the benchmark.

    python3 -m pytest perfbench -q

The last test runs every workload once per mode on a short run from the
repository root, so the file takes several minutes.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

import pytest

import gen
import run
import spans
from workloads import WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
NAME_RE = re.compile(r"[A-Za-z0-9_.-]+")


def _benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_one_seed_gives_identical_tables_and_two_seeds_differ():
    s = gen.Settings(sf=0.0005, n_docs=20, doc_words=30, vocab=200,
                     exact_dup_share=0.1, near_dup_share=0.2,
                     boilerplate_share=0.2, n_events=300, n_users=20,
                     user_skew=1.2, n_vectors=30)
    a, b, c = gen.make_tables(7, s), gen.make_tables(7, s), \
        gen.make_tables(8, s)
    assert list(a) == list(gen.TABLES)
    assert all(a[t].equals(b[t]) for t in gen.TABLES)
    # region and nation are fixed dimensions; every other table is drawn
    differ = {t for t in gen.TABLES if not a[t].equals(c[t])}
    assert differ == set(gen.TABLES) - {"region", "nation"}


def test_tables_keep_the_corpus_domains():
    s = gen.Settings(n_docs=50, doc_words=40, n_events=500, n_vectors=20)
    t = gen.make_tables(3, s)
    ev = t["events"].to_pydict()
    assert set(ev["event_type"]) <= set(gen.EVENT_TYPES)
    assert all(re.fullmatch(r'\{"k": \d+\}', p) for p in ev["props"])
    assert ev["ts"] == sorted(set(ev["ts"]))      # strictly increasing
    docs = t["documents"].to_pydict()
    assert set(docs["lang"]) <= set(gen.LANGS)
    assert set(docs["source"]) <= {f"src{i}" for i in range(20)}
    assert docs["n_chars"] == [len(x) for x in docs["text"]]
    assert any(not x.isascii() for x in docs["text"])
    emb = t["embeddings"].to_pydict()["embedding"]
    assert {len(v) for v in emb} == {gen.EMBED_DIM}


def test_planted_duplicates_are_present():
    s = gen.Settings(n_docs=100, doc_words=50, exact_dup_share=0.1,
                     near_dup_share=0.2, boilerplate_share=0.1)
    texts = gen.make_tables(5, s)["documents"].to_pydict()["text"]
    assert len(texts) - len(set(texts)) >= 5
    assert sum(any(b in x for b in gen.BOILERPLATE) for x in texts) >= 10


def test_metric_names_and_units():
    names = list(run.END_TO_END) + list(run.PER_LAYER) + list(WORKLOADS)
    assert all(NAME_RE.fullmatch(n) and len(n) <= 64 for n in names)
    bj = _benchmark_json()
    for m in bj["end_to_end"]:
        assert run.END_TO_END[m["name"]] == m["unit"]
        assert 0 < m["bound"] <= 0.25
    assert {m["name"] for m in bj["end_to_end"]} == set(
        run.REPORTED_END_TO_END)
    assert [m["name"] for m in bj["per_layer"]] == list(run.PER_LAYER)
    assert all(run.PER_LAYER[m["name"]] == m["unit"]
               for m in bj["per_layer"])
    assert {w["name"] for w in bj["workloads"]} <= set(WORKLOADS)


def test_self_time_on_a_hand_built_tree():
    def span(i, parent, start, end):
        return {"id": i, "name": f"s{i}", "parent": parent, "trace": 1,
                "start": start, "end": end, "attrs": {}}
    tree = [
        span(0, None, 0.0, 10.0),
        span(1, 0, 1.0, 4.0),       # children 1 and 2 overlap on [3, 4]
        span(2, 0, 3.0, 6.0),
        span(3, 1, 1.5, 2.0),
        span(4, 0, 9.0, 12.0),      # runs past its parent's end
    ]
    own = spans.self_times(tree)
    assert own[0] == pytest.approx(10.0 - 5.0 - 1.0)
    assert own[1] == pytest.approx(3.0 - 0.5)
    assert own[2] == pytest.approx(3.0)
    assert own[3] == pytest.approx(0.5)
    assert own[4] == pytest.approx(3.0)


def test_tracer_records_parents_and_traces():
    tr = spans.Tracer()
    tr.new_trace()
    with tr.span("outer", q="a") as attrs:
        attrs["n"] = 1
        with tr.span("inner"):
            pass
    tr.new_trace()
    with tr.span("next"):
        pass
    outer, inner, nxt = tr.spans
    assert inner["parent"] == outer["id"] and outer["parent"] is None
    assert outer["attrs"] == {"q": "a", "n": 1}
    assert outer["trace"] == inner["trace"] != nxt["trace"]
    assert outer["start"] <= inner["start"] <= inner["end"] <= outer["end"]


def test_refuses_to_run_without_the_program(tmp_path):
    (tmp_path / "perfbench").mkdir()
    for f in os.listdir(HERE):
        if f.endswith(".py"):
            (tmp_path / "perfbench" / f).write_bytes(
                open(os.path.join(HERE, f), "rb").read())
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "mr_text",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert p.returncode != 0
    assert p.stdout.strip() == ""


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_each_workload_reports_every_metric(workload, trace):
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "0", "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-2000:]
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0
    want = run.PER_LAYER if trace else run.REPORTED_END_TO_END
    assert set(result["metrics"]) == set(want)
    for name, m in result["metrics"].items():
        assert m["unit"] == (run.PER_LAYER if trace else run.END_TO_END)[name]
        assert isinstance(m["value"], (int, float))
    printed = {ln.split()[0] for ln in lines[:-1] if ln and ln[0] != "{"}
    assert printed == set(run.PER_LAYER if trace else run.END_TO_END)
    if trace:
        meta = json.loads(lines[-2])["meta"]
        with open(os.path.join(ROOT, meta["span_file"])) as f:
            assert json.load(f)["spans"]
