"""The two workloads, their set-up, and the metrics they report.

One process, one closed-loop client: each request is sent when the previous
one has returned. Spark runs at ``local[nproc]`` with ``n_shards = nproc``.

Set-up (timed, ``setup_s``): session start, the snapshot-store bootstrap
(cdc only), corpus load + ``IndexBuilder.build`` + ``BM25Query`` open, then
the call + collect of one warm-up request of every kernel shape. The
measured phase follows (see ``serve_small`` and ``cdc`` below). Every result
is checked against the oracle outside the timed sections; a wrong result or
an exception counts as a failed operation.
"""

from __future__ import annotations

import math
import os
import statistics
import time
from dataclasses import dataclass, field

from perfbench import inputs
from perfbench.hostprobe import P_REF_S, HostProbe, descendants, jvm_peak_rss_mb
from perfbench.oracle import Oracle, same_ranking, same_ranking_by_key
from perfbench.trace import Tracer

K = 10


@dataclass(frozen=True)
class Scale:
    docs: str  # documents test table (serve_small)
    n_code: int  # synthetic code corpus (cdc)
    min_batches: int  # cdc: change batches per run, at least
    reads_per_batch: int  # cdc: single queries before each read batch


SCALES = {
    "full": Scale(docs="sf0.1", n_code=5000, min_batches=1, reads_per_batch=3),
    "tiny": Scale(docs="sf0.001", n_code=1500, min_batches=2, reads_per_batch=2),
}


@dataclass
class Samples:
    """Raw measurements of one run."""

    query: list[float] = field(default_factory=list)
    batch: list[float] = field(default_factory=list)
    fresh: list[float] = field(default_factory=list)
    change_rows: int = 0
    affected_shards: list[int] = field(default_factory=list)
    rewrite_ratio: list[float] = field(default_factory=list)
    jobs: dict[str, list[tuple[int, int, int]]] = field(default_factory=dict)


class Run:
    def __init__(self, workload: str, seed: int, seconds: float, traced: bool,
                 scale: str, root: str, t_process: float):
        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.traced = traced
        self.scale = SCALES[scale]
        self.root = root
        self.t_process = t_process
        self.nproc = len(os.sched_getaffinity(0))
        self.work = os.path.join(root, ".perfbench_work", workload)
        self.cache = os.path.join(root, ".perfbench_cache")
        self.host = HostProbe()
        self.s = Samples()
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.setup: dict[str, float] = {}

    # ------------------------------------------------------------ plumbing

    def environment(self) -> dict[str, str]:
        """Machine shape, pinned: local[nproc], n_shards = nproc, shuffle
        and spill under the checkout."""
        env = {
            "SPARK_GRAFT_CPUS": str(self.nproc),
            "SPARK_LOCAL_DIRS": os.path.join(self.work, "spark-local"),
            "TMPDIR": os.path.join(self.work, "tmp"),
            "PYTHONPATH": self.root + (os.pathsep + os.environ["PYTHONPATH"]
                                       if os.environ.get("PYTHONPATH") else ""),
        }
        _rmtree(self.work)  # indexes, store and logs of an earlier run
        for d in (env["SPARK_LOCAL_DIRS"], env["TMPDIR"]):
            os.makedirs(d, exist_ok=True)
        return env

    def start_session(self):
        from go_dcp_elasticsearch_spark.session import get_spark

        spark = get_spark(
            "perfbench", master=f"local[{self.nproc}]",
            extra_conf={
                "spark.driver.memory": "2g",
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={os.path.join(self.work, 'tmp')}",
            },
        )
        spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        self.setup["session"] = t1 - self.t_process
        self.spark = spark
        self.tracer = Tracer(spark.sparkContext, self.traced)
        self.tracer.record("setup.session", "session.start", self.t_process, t1)

    def fail(self, what: str) -> None:
        self.failed += 1
        if len(self.errors) < 20:
            self.errors.append(what)

    def record_jobs(self, kind: str, sp) -> None:
        self.s.jobs.setdefault(kind, []).append((sp.jobs, sp.stages, sp.tasks))

    # ------------------------------------------------------------ inputs

    def code_corpus(self) -> str:
        """``corpus.synth_corpus`` output, cached by size."""
        from go_dcp_elasticsearch_spark.corpus import synth_corpus

        path = os.path.join(self.cache, f"synth-{self.scale.n_code}")
        if not os.path.exists(os.path.join(path, "_SUCCESS")):
            tmp = path + ".tmp"
            synth_corpus(self.spark, self.scale.n_code, n_partitions=self.nproc) \
                .write.mode("overwrite").parquet(tmp)
            _rmtree(path)
            os.replace(tmp, path)
        return path

    def load_inputs(self) -> None:
        """Corpus on disk, head state in this process (key -> (lang, content)),
        and the key -> doc_id map the build will assign (sorted key order)."""
        import pyarrow.parquet as pq

        from go_dcp_elasticsearch_spark.functions.tokenizer import tokenize_py

        if self.workload == "serve_small":
            src = inputs.documents_table(self.scale.docs)
            t = pq.read_table(os.path.join(src, "documents.parquet"),
                              columns=["doc_id", "lang", "text"]).to_pydict()
            head = {inputs.documents_key(d): (lang, text)
                    for d, lang, text in zip(t["doc_id"], t["lang"], t["text"])}
            self.new_key = inputs.documents_new_key
            self.new_text = inputs.documents_new_text(t["text"])
            self.vocab = inputs.QUERY_WORDS
        else:
            src = self.code_corpus()
            t = pq.read_table(src, columns=["repo", "path", "lang", "content"]).to_pydict()
            head = {(r, p): (lang, c)
                    for r, p, lang, c in zip(t["repo"], t["path"], t["lang"], t["content"])}
            self.new_key, self.new_text = inputs.code_new_key, inputs.code_new_text
            self.vocab = inputs.code_vocab()
        self.src = src
        self.head = head
        self.key_id = {k: i for i, k in enumerate(sorted(head))}
        self.tokens = {k: tokenize_py(c) for k, (_, c) in head.items()}
        self.content_bytes = sum(len(c.encode()) for _, c in head.values())
        self.refresh_oracle()

    def refresh_oracle(self) -> None:
        self.oracle = Oracle({self.key_id[k]: toks for k, toks in self.tokens.items()})

    def corpus_frame(self):
        if self.workload == "serve_small":
            from go_dcp_elasticsearch_spark.corpus import load_documents_corpus

            # n_chars is not a column of the change batches
            return load_documents_corpus(self.spark, self.src).drop("n_chars")
        return self.spark.read.parquet(self.src)

    # ------------------------------------------------------------ set-up

    def set_up(self) -> None:
        from go_dcp_elasticsearch_spark.index import BM25Query, IndexBuilder
        from go_dcp_elasticsearch_spark.sources.snapshots import SnapshotStore

        tr, spark = self.tracer, self.spark
        self.setup["bootstrap"] = 0.0
        if self.workload == "cdc":
            self.host.probe()
            with tr.op("setup.bootstrap") as op:
                with tr.span("corpus.load"):
                    corpus = self.corpus_frame()
                self.store = SnapshotStore(spark, os.path.join(self.work, "store"))
                with tr.span("snapshots.bootstrap"):
                    self.store.bootstrap(corpus, n_buckets=2 * self.nproc)
            self.setup["bootstrap"] = op.duration
        self.idx = os.path.join(self.work, "index")
        self.host.probe()
        with tr.op("setup.index") as op:
            with tr.span("corpus.load"):
                corpus = self.corpus_frame()
            with tr.span("builder.build"):
                t0 = time.perf_counter()
                summary = IndexBuilder(spark, self.idx, n_shards=self.nproc).build(corpus)
                self.setup["build"] = time.perf_counter() - t0
            with tr.span("query.open"):
                self.q = BM25Query(spark, self.idx)
        self.setup["index"] = op.duration
        self.record_jobs("index", op)
        if summary["n_docs"] != len(self.head):
            self.fail(f"build indexed {summary['n_docs']} docs, want {len(self.head)}")
        self.index_bytes = _dir_bytes(self.idx)
        self.setup["warmup"] = 0.0  # request() adds each warm-up call + collect
        for req in self.warm_up_requests():
            self.request(req, timed=False)
        self.measure_from = len(self.tracer.spans)

    def warm_up_requests(self) -> list[inputs.Query]:
        """One request of every kernel shape the workload sends (Python
        workers, JIT and plan caches warm up on them), from a seed of their
        own."""
        shapes: dict[tuple[str, bool], inputs.Query] = {}
        reads = self.reads(self.seed + 1_000_003)
        while len(shapes) < len(self.shapes):
            req = next(reads)
            shape = (req.kind, req.doc_len is None)
            if shape in self.shapes:
                shapes.setdefault(shape, req)
        return list(shapes.values())

    def reads(self, seed: int):
        """The workload's read requests: the full serve mix, or for cdc
        hot-term pairs with a batch after every few."""
        if self.workload == "cdc":
            return inputs.query_stream(seed, self.vocab, self.scale.reads_per_batch,
                                       block=("pair",))
        return inputs.query_stream(seed, self.vocab, batch_every=5)

    @property
    def shapes(self) -> set[tuple[str, bool]]:
        """(kind, has no range) of each kernel path; "all" and "page2"
        requests run the same kernel as "any"."""
        if self.workload == "cdc":
            return {("any", True), ("batch", True)}
        return {("any", True), ("bool", True), ("bool", False), ("batch", True)}

    def setup_s(self) -> float:
        st = self.setup
        return st["session"] + st["bootstrap"] + st["index"] + st["warmup"]

    # ------------------------------------------------------------ requests

    def expected(self, req: inputs.Query):
        o = self.oracle
        if req.kind in ("any", "all"):
            return o.topk(req.text, K, mode=req.kind)
        if req.kind == "page2":
            first = o.topk(req.text, K)
            if len(first) < K:
                return None, []
            after = first[-1][1], first[-1][0]
            return after, o.topk(req.text, K, after=after)
        if req.kind == "bool":
            return o.bool(req.must, req.should, req.must_not, K, req.doc_len)
        return [o.topk(t, K) for t in req.texts]

    def call(self, req: inputs.Query, after=None):
        """The library call a request makes; returns the lazy frame."""
        q = self.q
        if req.kind in ("any", "all"):
            return q.topk_pruned(req.text, K, mode=req.kind)
        if req.kind == "page2":
            return q.topk_pruned(req.text, K, after=after)
        if req.kind == "bool":
            rng = None if req.doc_len is None else {
                "doc_len": {"gte": req.doc_len[0], "lt": req.doc_len[1]}}
            return q.topk_bool(must=req.must, should=req.should, must_not=req.must_not,
                               k=K, range=rng)
        return q.topk_batch(list(enumerate(req.texts)), K)

    def request(self, req: inputs.Query, timed: bool = True) -> None:
        """One request: probe, call + collect, check. Warm-up requests
        (``timed=False``) are checked but leave no samples."""
        want = self.expected(req)
        after = None
        if req.kind == "page2":
            after, want = want
            if after is None:
                return  # no second page for this query
        batch = req.kind == "batch"
        tr = self.tracer
        self.host.probe()
        self.attempted += 1
        try:
            with tr.op("batch" if batch else "query") as op:
                if not batch and tr.traced:
                    with tr.span("query.analyze"):
                        self.q.analyze(req.text or f"{req.must} {req.should}")
                t0 = time.perf_counter()
                with tr.span("query.batch_plan" if batch else "query.plan"):
                    frame = self.call(req, after)
                with tr.span("query.batch_exec" if batch else "query.exec"):
                    rows = frame.collect()
                dt = time.perf_counter() - t0
        except Exception as e:  # a failed request is counted, the run goes on
            self.fail(f"{req.kind}: {type(e).__name__}: {e}")
            return
        if batch:
            got: dict[int, list] = {}
            for r in rows:
                got.setdefault(int(r["query_id"]), []).append((int(r["doc_id"]), float(r["score"])))
            ok = all(
                same_ranking(sorted(got.get(i, []), key=lambda x: (-x[1], x[0])), w)
                for i, w in enumerate(want)
            )
        else:
            ok = same_ranking([(int(r["doc_id"]), float(r["score"])) for r in rows], want)
        if timed:
            kind = "batch" if batch else "query"
            getattr(self.s, kind).append(dt)
            self.record_jobs(kind, op)
        else:
            self.setup["warmup"] += dt
        if not ok:
            self.fail(f"{req.kind} result differs from the oracle: {req}")

    # ------------------------------------------------------------ writes

    def change_cycle(self, feed: inputs.ChangeFeed) -> bool:
        """Write one change batch and probe until it is visible: the probe
        must return every live marked key (all updated and inserted keys of
        this batch) and no deleted one. Returns False when the write raised:
        the index state is then unknown, so the phase stops.

        cdc commits the batch to the snapshot store and applies it with
        ``resume_apply`` (the shard rebuild); serve_small hands it straight
        to ``apply_changes_to_index(strategy="delta")``, the O(changed docs)
        segment write, which needs no snapshot store."""
        from go_dcp_elasticsearch_spark.index.builder import IndexPaths, read_stats_partials
        from go_dcp_elasticsearch_spark.sources.changes import apply_changes_to_index
        from go_dcp_elasticsearch_spark.sources.snapshots import resume_apply

        spark, tr, q = self.spark, self.tracer, self.q
        batch = feed.next_batch()
        frame = spark.createDataFrame(batch.rows, inputs.CHANGE_SCHEMA)
        shard_docs = None
        if tr.traced:
            shard_docs = {s: n for s, (n, _) in
                          read_stats_partials(spark, IndexPaths(self.idx)).items()}
        want = set(feed.marked)
        self.host.probe()
        self.attempted += 1
        try:
            with tr.op("cdc.cycle") as op:
                t0 = time.perf_counter()
                if self.workload == "cdc":
                    with tr.span("snapshots.commit"):
                        self.store.commit(frame)
                    with tr.span("changes.apply"):
                        summary = resume_apply(spark, self.idx, self.store)
                else:
                    with tr.span("changes.apply"):
                        summary = apply_changes_to_index(
                            spark, self.idx, frame.filter("action = 'index'"),
                            frame.select("repo", "path", "action", "seq_no"),
                            strategy="delta")
                if tr.traced:
                    with tr.span("query.refresh"):
                        q.refresh()
                with tr.span("query.probe"):
                    hits = q.with_meta(q.topk_pruned(inputs.MARKER, len(want))) \
                        .select("doc_id", "repo", "path").collect()
                dt = time.perf_counter() - t0
        except Exception as e:
            self.fail(f"change batch {batch.index}: {type(e).__name__}: {e}")
            return False
        self.record_jobs("cycle", op)
        self.s.affected_shards.append(len(summary.get("affected_shards", [])))
        self.s.fresh.append(dt)
        self.s.change_rows += len(batch.rows)
        if shard_docs is not None and summary.get("n_changed"):
            # the delta path writes only the changed docs, as a new segment
            rewritten = summary["n_changed"] if summary.get("strategy") == "delta" else \
                sum(shard_docs.get(s, 0) for s in summary["affected_shards"])
            self.s.rewrite_ratio.append(rewritten / summary["n_changed"])
        got = {(r["repo"], r["path"]): int(r["doc_id"]) for r in hits}
        if set(got) != want:
            self.fail(f"change batch {batch.index} not visible: missing "
                      f"{sorted(want - set(got))[:3]}, unexpected {sorted(set(got) - want)[:3]}")
        # follow the head state in the oracle: marked docs take the ids the
        # index reports, deleted docs leave
        from go_dcp_elasticsearch_spark.functions.tokenizer import tokenize_py

        for k in batch.deleted:
            self.tokens.pop(k, None)
            self.key_id.pop(k, None)
        for k in batch.updated + batch.inserted:
            self.tokens[k] = tokenize_py(feed.docs[k][1])
            if k in got:
                self.key_id[k] = got[k]
        self.refresh_oracle()
        return True

    def final_check(self) -> None:
        """The maintained index ranks a query set like a fresh build of the
        store's head state, compared by key (untimed)."""
        from pyspark.sql import functions as F

        from go_dcp_elasticsearch_spark.index import BM25Query, IndexBuilder

        fresh_dir = os.path.join(self.work, "index-fresh")
        IndexBuilder(self.spark, fresh_dir, n_shards=self.nproc).build(
            self.store.corpus_at_head().withColumn("seq_no", F.col("seq_no").cast("int")))
        texts = list(dict.fromkeys(self.vocab)) + [inputs.MARKER]
        ranked = []
        for q in (self.q, BM25Query(self.spark, fresh_dir)):
            rows = q.with_meta(q.topk_batch(list(enumerate(texts)), K)).collect()
            per: dict[int, list] = {}
            for r in rows:
                per.setdefault(int(r["query_id"]), []).append(
                    ((r["repo"], r["path"]), float(r["score"])))
            ranked.append({i: sorted(v, key=lambda x: (-x[1], x[0])) for i, v in per.items()})
        for i, text in enumerate(texts):
            self.attempted += 1
            if not same_ranking_by_key(ranked[0].get(i, []), ranked[1].get(i, [])):
                self.fail(f"maintained index ranks {text!r} unlike a fresh build")

    # ------------------------------------------------------------ phases

    def serve_small(self) -> None:
        """Read-heavy: whole blocks of single queries, with their 48-query
        batches, until ``seconds`` have passed (at least one block, so every
        run samples the same mix), then one change batch through the delta
        write path."""
        t_end = time.perf_counter() + self.seconds
        singles = 0
        for req in self.reads(self.seed):
            if singles and singles % len(inputs.SERVE_BLOCK) == 0 \
                    and time.perf_counter() >= t_end:
                break
            self.request(req)
            singles += req.kind != "batch"
        self.change_cycle(self.feed())

    def cdc(self) -> None:
        """Write-heavy: change batches for ``seconds``; after each, twice a
        few single queries and a 48-query batch against the new head state."""
        feed = self.feed()
        reads = self.reads(self.seed)
        t_end = time.perf_counter() + self.seconds
        n = 0
        while n < self.scale.min_batches or time.perf_counter() < t_end:
            if not self.change_cycle(feed):
                return
            n += 1
            for _ in range(2):
                req = None
                while req is None or req.kind != "batch":
                    req = next(reads)
                    self.request(req)
        if self.traced:  # a fresh build costs most of a run: traced runs only
            self.final_check()

    def feed(self) -> inputs.ChangeFeed:
        return inputs.ChangeFeed(self.seed, self.head, self.new_key, self.new_text)

    # ------------------------------------------------------------ metrics

    def end_to_end(self) -> tuple[dict, dict]:
        """(raw, scaled to the reference host by the run's median probe);
        the scaled values are the reported ones."""
        s, nan = self.s, float("nan")
        build = self.setup["build"]
        raw = {
            "setup_s": self.setup_s(),
            "build_docs_per_s": len(self.head) / build,
            "index_bytes_per_content_byte": self.index_bytes / self.content_bytes,
            # a phase stopped by a failure may leave a sample list empty
            "query_p50_s": statistics.median(s.query) if s.query else nan,
            "query_p90_s": _p90(s.query) if s.query else nan,
            "batch_qps": 48 / statistics.median(s.batch) if s.batch else nan,
            "freshness_p50_s": statistics.median(s.fresh) if s.fresh else nan,
            "changes_per_s": s.change_rows / sum(s.fresh) if s.fresh else nan,
        }
        scale = P_REF_S / self.host.median()
        scaled = dict(raw)
        for k in ("setup_s", "query_p50_s", "query_p90_s", "freshness_p50_s"):
            scaled[k] = raw[k] * scale
        for k in ("build_docs_per_s", "batch_qps", "changes_per_s"):
            scaled[k] = raw[k] / scale
        return raw, scaled

    def count_unmeasured(self, values: dict[str, float], units: dict[str, str]) -> None:
        """Report each metric a failure left without samples as 0 and count
        it as one more failed operation, so the result line is still whole."""
        for k in units:
            if not math.isfinite(values.get(k, math.nan)):
                self.attempted += 1
                self.fail(f"metric {k} not measured")
                values[k] = 0.0

    def job_counts(self) -> dict[str, list[int]]:
        """Median (jobs, stages, tasks) per operation kind."""
        return {k: [int(statistics.median(x[i] for x in v)) for i in range(3)]
                for k, v in self.s.jobs.items()}

    def per_layer(self) -> dict[str, float]:
        tr, m = self.tracer, self.measure_from
        return {
            "session.start_s": tr.median("session.start"),
            "session.jvm_peak_rss_mb": self.jvm_rss_mb,
            "corpus.load_s": tr.median("corpus.load"),
            "builder.build_s": tr.median("builder.build"),
            "builder.jobs": tr.median("builder.build", "jobs"),
            "builder.stages": tr.median("builder.build", "stages"),
            "builder.tasks": tr.median("builder.build", "tasks"),
            "builder.index_bytes": float(self.index_bytes),
            "query.open_s": tr.median("query.open"),
            "query.analyze_s": tr.median("query.analyze", since=m),
            "query.plan_s": tr.median("query.plan", since=m),
            "query.exec_s": tr.median("query.exec", since=m),
            "query.jobs": tr.median("query", "jobs", since=m),
            "query.stages": tr.median("query", "stages", since=m),
            "query.tasks": tr.median("query", "tasks", since=m),
            "query.batch_exec_s": tr.median("query.batch_exec", since=m),
            "query.batch_jobs": tr.median("batch", "jobs", since=m),
            "query.refresh_s": tr.median("query.refresh"),
            # serve_small writes without the snapshot store: no time there
            "snapshots.commit_s": tr.median("snapshots.commit", empty=0.0),
            "snapshots.commit_jobs": tr.median("snapshots.commit", "jobs", empty=0.0),
            "changes.apply_s": tr.median("changes.apply"),
            "changes.apply_jobs": tr.median("changes.apply", "jobs"),
            "changes.apply_stages": tr.median("changes.apply", "stages"),
            "changes.rewrite_ratio": statistics.median(self.s.rewrite_ratio)
            if self.s.rewrite_ratio else float("nan"),
            "host.probe_s": self.host.median(),
            "host.probe_iqr_ratio": self.host.iqr_ratio(),
            "host.program_cpu_during_probe": self.host.program_cpu_share(),
        }

    # ------------------------------------------------------------ run

    def execute(self) -> None:
        os.environ.update(self.environment())
        self.start_session()
        try:
            t0 = time.perf_counter()
            self.load_inputs()
            self.setup["inputs"] = time.perf_counter() - t0
            self.set_up()
            t0 = time.perf_counter()
            try:
                getattr(self, self.workload)()
            except TimeoutError:
                raise
            except Exception as e:  # counted; the result line still reports the run
                self.attempted += 1
                self.fail(f"{self.workload} phase stopped: {type(e).__name__}: {e}")
            self.setup["measured_phase"] = time.perf_counter() - t0
        finally:
            self.jvm_rss_mb = jvm_peak_rss_mb()
            t0 = time.perf_counter()
            self.stop_session()
            self.setup["teardown"] = time.perf_counter() - t0

    def stop_session(self) -> None:
        """Stop Spark and wait until the JVM and its Python workers exit."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        kids = set(descendants())
        try:
            self.spark.stop()
        finally:
            if gateway is not None:
                gateway.shutdown()
                proc = getattr(gateway, "proc", None)
                if proc is not None:
                    proc.stdin.close()
                    proc.wait(timeout=60)
            _wait_gone(kids, timeout=60)


def reap() -> None:
    """Kill whatever the run left running (a JVM whose session never came
    up, say) and wait until it is gone."""
    _wait_gone(set(descendants()), timeout=0)


def _wait_gone(pids: set[int], timeout: float) -> None:
    """Wait for processes that are not our children (the JVM's Python
    workers) to exit; kill what is left at the deadline and wait for that."""
    import signal

    deadline = time.monotonic() + timeout
    killed = False
    while True:
        alive = [p for p in pids if _alive(p)]
        if not alive:
            return
        if time.monotonic() > deadline:
            if killed:
                return
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            killed, deadline = True, time.monotonic() + 10
        time.sleep(0.05)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _p90(vals: list[float]) -> float:
    if len(vals) < 2:
        return vals[0]
    return statistics.quantiles(vals, n=10, method="inclusive")[8]


def _dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total


def _rmtree(path: str) -> None:
    import shutil

    shutil.rmtree(path, ignore_errors=True)
