"""Self-tests of the benchmark: ``python -m pytest perfbench -q``.

The fast tests need no Spark. ``test_output_contract`` runs every workload
on the tiny configuration, traced and untraced (a few minutes).
"""

from __future__ import annotations

import json
import math
import os
import re
import shutil
import subprocess
import sys

import pytest

from perfbench import inputs
from perfbench.oracle import Oracle, same_ranking, same_ranking_by_key

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
NAME = re.compile(r"[A-Za-z0-9_.-]+")


def _tiny_table():
    """The sf0.001 documents test table: {doc_id: (lang, text)}."""
    import pyarrow.parquet as pq

    t = pq.read_table(os.path.join(inputs.documents_table("sf0.001"), "documents.parquet"),
                      columns=["doc_id", "lang", "text"]).to_pydict()
    return {d: (lang, text) for d, lang, text in zip(t["doc_id"], t["lang"], t["text"])}


def _tiny_docs():
    from go_dcp_elasticsearch_spark.functions.tokenizer import tokenize_py

    return {d: tokenize_py(text) for d, (_, text) in _tiny_table().items()}


def _take(gen, n):
    return [next(gen) for _ in range(n)]


def _feed(seed, n_batches=3):
    table = _tiny_table()
    head = {inputs.documents_key(d): row for d, row in table.items()}
    feed = inputs.ChangeFeed(seed, head, inputs.documents_new_key,
                             inputs.documents_new_text([t for _, t in table.values()]))
    return [feed.next_batch() for _ in range(n_batches)]


def test_same_seed_same_inputs():
    for vocab, block in ((inputs.QUERY_WORDS, inputs.SERVE_BLOCK), (inputs.code_vocab(), ("pair",))):
        a, b, c = (_take(inputs.query_stream(s, vocab, block=block), 40) for s in (5, 5, 6))
        assert a == b and a != c
    a, b, c = _feed(5), _feed(5), _feed(6)
    assert [x.rows for x in a] == [x.rows for x in b]
    assert [x.rows for x in a] != [x.rows for x in c]


def test_change_batches_are_well_formed():
    batches = _feed(9, n_batches=5)
    seen_deleted = set()
    for b in batches:
        keys = [(r[0], r[1]) for r in b.rows]
        assert len(keys) == len(set(keys))  # one row per key
        assert not seen_deleted & set(keys)  # a deleted key is never touched again
        seen_deleted |= set(b.deleted)
    assert len(batches[4].rows) == 3 * len(batches[0].rows)  # every 5th is larger


def test_oracle_matches_reference():
    from go_dcp_elasticsearch_spark.functions.bm25 import bm25_bool_oracle, bm25_oracle
    from go_dcp_elasticsearch_spark.functions.tokenizer import tokenize_py

    docs = _tiny_docs()
    o = Oracle(docs)
    for text in ["spark filter join", "the", "merge part window small", "zzz"]:
        assert o.topk(text, 10) == bm25_oracle(docs, tokenize_py(text), 10)
    got = o.bool("table", "window group", "customer", 10)
    want = bm25_bool_oracle(docs, ["table"], ["window", "group"], ["customer"], 0, 10)
    assert got == want
    allowed = {d for d, t in docs.items() if 20 <= len(t) < 40}
    got = o.bool("table", "window group", "customer", 10, doc_len=(20, 40))
    want = bm25_bool_oracle(docs, ["table"], ["window", "group"], ["customer"], 0, 10,
                            allowed=allowed)
    assert got == want
    full = bm25_oracle(docs, ["scan", "sort"], len(docs))
    conj = [(d, s) for d, s in full if {"scan", "sort"} <= set(docs[d])][:10]
    assert o.topk("scan sort", 10, mode="all") == conj
    page2 = o.topk("scan sort", 10, after=(full[9][1], full[9][0]))
    assert page2 == full[10:20]


def test_ranking_comparisons():
    want = [(3, 2.0), (1, 1.5), (2, 1.5)]
    assert same_ranking(want, list(want))
    assert not same_ranking([(3, 2.0), (2, 1.5), (1, 1.5)], want)  # tie order
    assert not same_ranking([(3, 2.0 + 1e-6), (1, 1.5), (2, 1.5)], want)
    assert not same_ranking(want[:2], want)
    by_key = [(("r", "a"), 2.0), (("r", "b"), 1.5), (("r", "c"), 1.5)]
    cut_tie = [(("r", "a"), 2.0), (("r", "b"), 1.5), (("r", "x"), 1.5)]
    assert same_ranking_by_key(cut_tie, by_key)  # the last level may differ
    assert not same_ranking_by_key([(("r", "x"), 2.0)] + by_key[1:], by_key)


class _FakeFrame:
    def __init__(self, rows):
        self.rows = rows

    def collect(self):
        return self.rows


class _FakeQuery:
    """Serves the oracle's answer, optionally perturbed."""

    def __init__(self, oracle, perturb):
        self.oracle, self.perturb = oracle, perturb

    def analyze(self, text):
        return text.split()

    def _rows(self, hits, qid=None):
        rows = [{"doc_id": d, "score": s} for d, s in hits]
        if self.perturb and rows:
            rows[0] = {"doc_id": rows[0]["doc_id"], "score": rows[0]["score"] * 1.001}
        if qid is not None:
            for r in rows:
                r["query_id"] = qid
        return rows

    def topk_pruned(self, text, k, mode="any", after=None):
        return _FakeFrame(self._rows(self.oracle.topk(text, k, mode=mode, after=after)))

    def topk_bool(self, must, should, must_not, k, range=None):
        span = None if range is None else (range["doc_len"]["gte"], range["doc_len"]["lt"])
        return _FakeFrame(self._rows(self.oracle.bool(must, should, must_not, k, span)))

    def topk_batch(self, queries, k):
        return _FakeFrame([r for qid, t in queries
                           for r in self._rows(self.oracle.topk(t, k), qid)])


class _FakeSparkContext:
    """Enough of SparkContext for the tracer: no jobs ever run."""

    class _Tracker:
        def getJobIdsForGroup(self, group):
            return []

    class _Bus:
        def waitUntilEmpty(self):
            pass

    def __init__(self):
        bus = self._Bus()
        self._jsc = type("J", (), {"sc": lambda _: type("S", (), {
            "listenerBus": lambda _: bus})()})()

    def setJobGroup(self, group, description):
        pass

    def statusTracker(self):
        return self._Tracker()


@pytest.mark.parametrize("perturb", [False, True])
def test_perturbed_result_counts_as_failed(perturb, tmp_path):
    from perfbench.trace import Tracer
    from perfbench.workloads import Run

    run = Run("serve_small", 1, 1.0, traced=True, scale="tiny", root=str(tmp_path),
              t_process=0.0)
    run.oracle = Oracle(_tiny_docs())
    run.q = _FakeQuery(run.oracle, perturb)
    run.tracer = Tracer(_FakeSparkContext(), traced=True)
    reqs = [r for r in _take(inputs.query_stream(3, inputs.QUERY_WORDS), 40)]
    kinds = {r.kind for r in reqs}
    assert kinds == {"any", "all", "bool", "page2", "batch"}
    assert {r.doc_len is None for r in reqs if r.kind == "bool"} == {True, False}
    for r in reqs:
        run.request(r)
    assert run.attempted > 0
    if perturb:
        # every request with a non-empty result is caught
        assert run.failed >= len([r for r in reqs if r.kind in ("any", "batch")])
    else:
        assert run.failed == 0, run.errors


@pytest.mark.parametrize("workload", ["serve_small", "cdc"])
def test_warm_up_covers_every_kernel_shape(workload, tmp_path):
    from perfbench.workloads import Run

    for seed in range(60):
        run = Run(workload, seed, 1.0, traced=False, scale="tiny", root=str(tmp_path),
                  t_process=0.0)
        run.vocab = inputs.QUERY_WORDS if workload == "serve_small" else inputs.code_vocab()
        reqs = run.warm_up_requests()
        assert len(reqs) == len(run.shapes)
        assert {(r.kind, r.doc_len is None) for r in reqs} == run.shapes


def test_stopped_phase_still_reports_every_metric(tmp_path):
    """A run whose measured phase stopped before any sample still yields a
    whole, finite result: the unmeasured metrics count as failed."""
    from perfbench.workloads import Run

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        units = {m["name"]: m["unit"] for m in json.load(f)["end_to_end"]}
    run = Run("serve_small", 1, 1.0, traced=False, scale="tiny", root=str(tmp_path),
              t_process=0.0)
    run.setup = {"session": 5.0, "bootstrap": 0.0, "index": 9.0, "warmup": 1.0, "build": 8.0}
    run.head, run.index_bytes, run.content_bytes = {("r", "p"): ("en", "x")}, 10, 40
    run.host.probes = [0.025]
    _, values = run.end_to_end()
    run.count_unmeasured(values, units)
    assert run.failed == 5 and run.attempted == 5  # queries, batches, writes
    assert all(math.isfinite(values[k]) for k in units)


def test_fails_without_the_program(tmp_path):
    """In a directory holding only the benchmark, it exits non-zero and
    prints no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "serve_small", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=180)
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout


def _run(workload, trace, seed=7):
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", "2", "--trace", str(trace), "--scale", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=180)
    assert p.returncode == 0, p.stderr[-3000:]
    last = p.stdout.strip().splitlines()[-1]
    with open(os.path.join(ROOT, ".perfbench_out",
                           f"{workload}-seed{seed}-trace{trace}.json")) as f:
        return json.loads(last), json.load(f)


@pytest.mark.parametrize("workload", ["serve_small", "cdc"])
def test_output_contract(workload):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert workload in {w["name"] for w in spec["workloads"]}
    records = {}
    for trace, section in ((0, "end_to_end"), (1, "per_layer")):
        result, record = _run(workload, trace)
        records[trace] = record
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
        assert result["correct"] is True, record["errors"]
        assert isinstance(result["attempted"], int) and result["attempted"] >= 1
        assert result["failed"] == 0
        want = {m["name"]: m["unit"] for m in spec[section]}
        assert set(result["metrics"]) == set(want)
        for name, m in result["metrics"].items():
            assert NAME.fullmatch(name)
            assert set(m) == {"value", "unit"} and m["unit"] == want[name]
            assert isinstance(m["value"], (int, float)) and math.isfinite(m["value"])
    # tracing adds no Spark jobs, and the layers account for each traced op
    assert records[0]["jobs_stages_tasks"] == records[1]["jobs_stages_tasks"]
    assert records[1]["layer_share_min"] >= 0.9
