"""Benchmark harness (driver contract).

Runs the headline pipeline at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Headline value = end-to-end wall seconds for the flagship workload
(index build over the corpus + the BM25 query set). The "queries" dict
carries per-piece timings including build throughput (files/sec) and top-k
p95 latency — the two target metrics in BASELINE.json. Scaling-efficiency
evidence (local[8] vs local[32]) is produced by tools/scaling_bench.py
into BENCH/BASELINE.md.

Drift control (round 4, standing practice): hosts drift ~15% between
measurement days, so the JSON also carries ``control_headline_sec`` — the
PREVIOUS round's exact code (git worktree of ``DEFAULT_CONTROL_COMMIT``,
updated each round) re-run on the same host the same day, sequentially
AFTER this session stops (a concurrent Spark session corrupts runs). The
judge normalizes round-over-round numbers against it mechanically.
Override the commit with ``--control <sha>`` / ``BENCH_CONTROL=<sha>``;
``BENCH_CONTROL=none`` or ``BENCH_SKIP_BIG=1`` (quick local iterations)
skips it.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# the previous round's final commit — update each round after the driver
# records BENCH_r{N}.json so round N+1's comparison is mechanical
DEFAULT_CONTROL_COMMIT = "68661c1"

QUERY_SET = [
    "spark filter join",
    "table scan merge",
    "hash join order",
    "window batch value",
    "customer line group",
    "fast key sort",
    "slow small data",
    "query row part",
    "merge part window small",
    "spark",
    "the fast",
    "scan",
]

# big-section queries against the SYNTHETIC corpus vocabulary (hot terms,
# language keywords, rare markers, mid-frequency locals) — the sf QUERY_SET
# words barely occur in synth docs and would make batch qps look free
BIG_QUERY_SET = [
    "getValue buffer",
    "parseInput index helper",
    "kraken_sentinel",
    "quasarFlux buffer",
    "return yield lambda",
    "func defer chan",
    "localVar7 getValue",
    "helper_func_11 index",
    "obsidian_marker zephyrDelta",
    "public static void",
    "buffer",
    "async await const",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    sf = sf_dir.rstrip("/").split("sf")[-1]

    from go_dcp_elasticsearch_spark.corpus import load_documents_corpus, synth_corpus
    from go_dcp_elasticsearch_spark.index import BM25Query, IndexBuilder
    from go_dcp_elasticsearch_spark.session import get_spark

    spark = get_spark("bench", master=f"local[{cpus}]")
    spark.sparkContext.setLogLevel("ERROR")

    timings: dict[str, float] = {}
    t_all = time.time()

    # --- index build over the sf corpus ---
    idx_dir = tempfile.mkdtemp(prefix="bench_idx_")
    try:
        corpus = load_documents_corpus(spark, sf_dir)
        t0 = time.time()
        builder = IndexBuilder(spark, idx_dir, n_shards=int(cpus))
        summary = builder.build(corpus)
        build_sec = time.time() - t0
        n_docs = summary["n_docs"]
        timings["build_sec"] = round(build_sec, 3)
        timings["build_files_per_sec"] = round(n_docs / build_sec, 1)

        # --- larger deterministic synthetic build (stresses shuffle path) ---
        idx2 = tempfile.mkdtemp(prefix="bench_idx_synth_")
        try:
            t0 = time.time()
            IndexBuilder(spark, idx2, n_shards=int(cpus)).build(
                synth_corpus(spark, 20000, n_partitions=int(cpus) * 2)
            )
            synth_sec = time.time() - t0
            timings["build_synth20k_sec"] = round(synth_sec, 3)
            timings["build_synth20k_files_per_sec"] = round(20000 / synth_sec, 1)
        finally:
            shutil.rmtree(idx2, ignore_errors=True)

        # --- BM25 query latencies (pruned path, per-query end-to-end) ---
        q = BM25Query(spark, idx_dir)
        lat = []
        for qtext in QUERY_SET:
            t0 = time.time()
            q.topk_pruned(qtext, 10).collect()
            lat.append(time.time() - t0)
        lat.sort()
        timings["topk_mean_sec"] = round(sum(lat) / len(lat), 4)
        timings["topk_p95_sec"] = round(lat[max(0, int(len(lat) * 0.95) - 1)], 4)
        timings["topk_qps"] = round(len(lat) / sum(lat), 2)

        # --- exact path for comparison ---
        t0 = time.time()
        q.topk_exact(QUERY_SET[0], 10).collect()
        timings["topk_exact_sec"] = round(time.time() - t0, 4)

        # --- phrase retrieval (round 6): conjunctive candidates + source
        # re-tokenize verify; the source content read is candidate-bounded
        t0 = time.time()
        q.topk_phrase("table scan", 10, source=corpus).collect()
        timings["topk_phrase_sec"] = round(time.time() - t0, 4)

        # --- positional sidecar (round 6, headline-excluded): one extra
        # content scan derives positions; phrase then runs INDEX-ONLY
        from go_dcp_elasticsearch_spark.index.positions import build_positions

        t0 = time.time()
        build_positions(spark, idx_dir, corpus)
        timings["positions_build_sec"] = round(time.time() - t0, 3)
        t0 = time.time()
        q.topk_phrase("table scan", 10).collect()
        timings["topk_phrase_pos_sec"] = round(time.time() - t0, 4)

        # --- bool retrieval (round 6): must + should/msm + must_not in the
        # generalized block-max kernel (must_not = id-stream decode only)
        t0 = time.time()
        q.topk_bool(must="table", should="window group", must_not="customer",
                    minimum_should_match=1, k=10).collect()
        timings["topk_bool_sec"] = round(time.time() - t0, 4)

        # --- batch retrieval: all queries in ONE job (shared scan+decode).
        # This is the SERVING pattern: per-query Spark-job latency above is
        # scheduler-bound (~0.7 s/job no matter the data); batching
        # amortizes the scan+schedule over the whole query set. Cold run
        # reported separately; qps = median of 3 warm runs.
        t0 = time.time()
        q.topk_batch(list(enumerate(QUERY_SET)), 10).collect()
        timings["topk_batch12_cold_sec"] = round(time.time() - t0, 4)
        warm = []
        for _ in range(3):
            t0 = time.time()
            q.topk_batch(list(enumerate(QUERY_SET)), 10).collect()
            warm.append(time.time() - t0)
        batch_sec = sorted(warm)[1]
        timings["topk_batch12_sec"] = round(batch_sec, 4)
        timings["topk_batch_qps"] = round(len(QUERY_SET) / batch_sec, 2)

        # larger batch: 48 queries, one scan — amortization at serving scale
        big = [(i, QUERY_SET[i % len(QUERY_SET)] + f" q{i % 7}") for i in range(48)]
        t0 = time.time()
        q.topk_batch(big, 10).collect()
        big_sec = time.time() - t0
        timings["topk_batch48_qps"] = round(len(big) / big_sec, 2)

        # --- incremental maintenance: 2% update delta, shard-scoped rebuild ---
        from pyspark.sql import functions as F

        from go_dcp_elasticsearch_spark.sources.changes import apply_changes_to_index

        upd = corpus.filter(F.col("seq_no") % 50 == 7).withColumn(
            "content", F.concat(F.col("content"), F.lit(" benchPatchToken"))
        )
        new_corpus = corpus.join(
            upd.select("repo", "path"), ["repo", "path"], "left_anti"
        ).unionByName(upd)
        changes = upd.select(
            "repo", "path", F.lit("index").alias("action"),
            (F.col("seq_no") + F.lit(10_000_000)).cast("long").alias("seq_no"),
        )
        t0 = time.time()
        inc = apply_changes_to_index(spark, idx_dir, new_corpus, changes)
        timings["incremental_apply_sec"] = round(time.time() - t0, 3)
        timings["incremental_changed"] = inc["n_changed"]
        # new-in-round-2 workload: keep the HEADLINE total comparable with
        # earlier rounds (build + query set + operator suite only); the
        # round-6 positional-sidecar entries are excluded too (they were
        # added after the round-6 record landed)
        extra_sec = (
            timings["incremental_apply_sec"]
            + timings["positions_build_sec"]
            + timings["topk_phrase_pos_sec"]
        )

        # --- round-6 search surfaces (excluded from the headline):
        # range filter (doc_len is a built-in doc-value, so the build
        # stays byte-identical), search_after page 2, terms aggregation
        # over the match set, highlight over the top-k. The corpus for
        # highlight is the POST-apply state (sha invariant).
        t0 = time.time()
        q.topk_bool(must="table",
                    range={"doc_len": {"gte": 30, "lt": 60}}, k=10).collect()
        timings["topk_range_sec"] = round(time.time() - t0, 4)
        extra_sec += timings["topk_range_sec"]

        p1 = q.topk_pruned(QUERY_SET[0], 10).collect()
        cur = (float(p1[-1]["score"]), int(p1[-1]["doc_id"]))
        t0 = time.time()
        q.topk_pruned(QUERY_SET[0], 10, after=cur).collect()
        timings["topk_page2_sec"] = round(time.time() - t0, 4)
        extra_sec += timings["topk_page2_sec"]

        t0 = time.time()
        q.agg_terms("lang", size=5, must="table").collect()
        timings["agg_terms_sec"] = round(time.time() - t0, 4)
        extra_sec += timings["agg_terms_sec"]

        t0 = time.time()
        q.highlight(
            q.topk_pruned(QUERY_SET[0], 10), QUERY_SET[0], new_corpus
        ).collect()
        timings["highlight_sec"] = round(time.time() - t0, 4)
        extra_sec += timings["highlight_sec"]
    finally:
        shutil.rmtree(idx_dir, ignore_errors=True)

    # --- operator suite timings on driver tables ---
    import __spark_entry__ as entrymod

    for name in ["bm25_topk", "minhash_lsh_pairs", "ngram_jaccard", "embedding_topk",
                 "exact_dedup", "quality_score", "language_id"]:
        fn = entrymod.queries()[name]
        t0 = time.time()
        fn(spark, sf_dir).collect()
        timings[name] = round(time.time() - t0, 4)

    # --- minhash scale_mode (new in round 3): the 100 TB config (fast
    # hashing + bucket cap) vs the md5 oracle config timed above; NOT part
    # of the headline (kept comparable across rounds) ---
    from go_dcp_elasticsearch_spark.corpus import load_documents_corpus as _ldc
    from go_dcp_elasticsearch_spark.operators.dedup import minhash_lsh_pairs

    docs_tbl = _ldc(spark, sf_dir).withColumnRenamed("content", "text")
    if "doc_id" not in docs_tbl.columns:
        from pyspark.sql import functions as F2

        docs_tbl = docs_tbl.withColumn("doc_id", F2.col("seq_no").cast("long"))
    t0 = time.time()
    minhash_lsh_pairs(docs_tbl, "text", "doc_id", n_hashes=6, scale_mode=True).count()
    timings["minhash_scale_mode_sec"] = round(time.time() - t0, 4)
    extra_sec += timings["minhash_scale_mode_sec"]

    # --- dedup clustering (new in round 3): connected components over the
    # candidate pairs; excluded from the headline ---
    t0 = time.time()
    entrymod.queries()["dedup_clusters"](spark, sf_dir).collect()
    timings["dedup_clusters_sec"] = round(time.time() - t0, 4)
    extra_sec += timings["dedup_clusters_sec"]

    total = time.time() - t_all - extra_sec

    # --- big-corpus latency table (new in round 3, excluded from the
    # headline): 1M synthetic docs ~= the reference baseline's 1,001,006-doc
    # ship, so build_files_per_sec here is directly comparable to the
    # reference's 20,020 docs/s every round; single-vs-batch latency at
    # this scale is the serving metric that sf0.1 (scheduler floor) hides.
    # BENCH_SKIP_BIG=1 skips (used by quick local iterations).
    if not os.environ.get("BENCH_SKIP_BIG"):
        big_n = int(os.environ.get("BENCH_BIG_DOCS", "1000000"))
        big_dir = tempfile.mkdtemp(prefix="bench_big_")
        try:
            corpus_path = f"{big_dir}/corpus"
            synth_corpus(spark, big_n, n_partitions=int(cpus) * 2).write.parquet(
                corpus_path
            )
            big_corpus = spark.read.parquet(corpus_path)
            t0 = time.time()
            IndexBuilder(
                spark, f"{big_dir}/idx", n_shards=int(cpus), id_mode="input"
            ).build(big_corpus)
            big_build = time.time() - t0
            timings["big_n_docs"] = big_n
            timings["big_build_sec"] = round(big_build, 3)
            timings["big_build_files_per_sec"] = round(big_n / big_build, 1)
            qb = BM25Query(spark, f"{big_dir}/idx")
            lat = []
            for qtext in BIG_QUERY_SET[:6]:
                t0 = time.time()
                qb.topk_pruned(qtext, 10).collect()
                lat.append(time.time() - t0)
            timings["big_topk_mean_sec"] = round(sum(lat) / len(lat), 4)
            big48 = [(i, BIG_QUERY_SET[i % len(BIG_QUERY_SET)] + f" localVar{i % 7}")
                     for i in range(48)]
            t0 = time.time()
            timings["big_batch48_rows"] = qb.topk_batch(big48, 10).count()
            timings["big_batch48_qps"] = round(48 / (time.time() - t0), 2)
            big256 = [(i, BIG_QUERY_SET[i % len(BIG_QUERY_SET)] + f" localVar{i % 13}")
                      for i in range(256)]
            t0 = time.time()
            timings["big_batch256_rows"] = qb.topk_batch(big256, 10).count()
            timings["big_batch256_qps"] = round(256 / (time.time() - t0), 2)

            # incremental maintenance at scale (round 4, excluded from the
            # headline): a CLUSTERED 0.1% update delta — the common CDC
            # shape (one repo's commits land in adjacent key space) — over
            # the 1M-doc index. The O(delta) path rebuilds only the
            # touched shards and refreshes per-shard partials; contrast
            # with big_build_sec for what a full rebuild would cost.
            lo = big_n // 2
            upd_big = big_corpus.filter(
                (F.col("seq_no") >= lo) & (F.col("seq_no") < lo + max(big_n // 1000, 1))
            ).withColumn("content", F.concat(F.col("content"), F.lit(" bigPatchToken")))
            new_big = big_corpus.join(
                upd_big.select("repo", "path"), ["repo", "path"], "left_anti"
            ).unionByName(upd_big)
            t0 = time.time()
            inc_big = apply_changes_to_index(
                spark, f"{big_dir}/idx", new_big,
                upd_big.select(
                    "repo", "path", F.lit("index").alias("action"),
                    (F.col("seq_no") + F.lit(10_000_000)).cast("long").alias("seq_no"),
                ),
            )
            timings["big_incremental_apply_sec"] = round(time.time() - t0, 3)
            timings["big_incremental_changed"] = inc_big["n_changed"]
            timings["big_incremental_shards"] = len(inc_big["affected_shards"])

            # SCATTERED delta via delta segments (round 5): 1,000 docs
            # spread across the whole key space — the shape whose shard
            # rebuild degenerates to a full-build cost (measured 55.6 s
            # in round 4) — through the O(changed docs) segment path.
            upd_sc = big_corpus.filter(F.col("seq_no") % (big_n // 1000) == 7).withColumn(
                "content", F.concat(F.col("content"), F.lit(" scatterPatchToken"))
            )
            new_sc = new_big.join(
                upd_sc.select("repo", "path"), ["repo", "path"], "left_anti"
            ).unionByName(upd_sc)
            ch_sc = upd_sc.select(
                "repo", "path", F.lit("index").alias("action"),
                (F.col("seq_no") + F.lit(20_000_000)).cast("long").alias("seq_no"),
            )
            t0 = time.time()
            inc_sc = apply_changes_to_index(
                spark, f"{big_dir}/idx", new_sc, ch_sc, strategy="delta"
            )
            timings["big_inc_scattered_delta_sec"] = round(time.time() - t0, 3)
            timings["big_inc_scattered_changed"] = inc_sc["n_changed"]

            # serving latency with pending segments + tombstones (the
            # between-folds state a CDC consumer queries constantly)
            qb.refresh()
            lat = []
            for qtext in BIG_QUERY_SET[:4]:
                t0 = time.time()
                qb.topk_pruned(qtext, 10).collect()
                lat.append(time.time() - t0)
            timings["big_topk_postdelta_mean_sec"] = round(sum(lat) / len(lat), 4)

            # fold cost: merge the segment into the base (Lucene merge
            # analogue; restores exact df + block-max pruning). Kept as
            # ONE segment here so the number stays comparable to r5.
            from go_dcp_elasticsearch_spark.index.segments import fold_segments

            t0 = time.time()
            fold_segments(spark, f"{big_dir}/idx")
            timings["big_fold_segments_sec"] = round(time.time() - t0, 3)

            # many-segments serving pressure (round 6): several small
            # deltas WITHOUT folding — segment listing, per-segment
            # parquet footers and the tombstone broadcast all grow with
            # segment count; this measures the between-folds serving and
            # refresh degradation that the auto-fold hard cap bounds.
            n_mseg = int(os.environ.get("BENCH_MULTISEG", "6"))
            state_ms = new_sc
            t0 = time.time()
            for j in range(n_mseg):
                cond = (F.col("seq_no") >= j * 1000) & (
                    F.col("seq_no") < j * 1000 + 100
                )
                state_ms = state_ms.withColumn(
                    "content",
                    F.when(
                        cond, F.concat(F.col("content"), F.lit(f" msegTok{j}"))
                    ).otherwise(F.col("content")),
                )
                ch_ms = state_ms.filter(cond).select(
                    "repo", "path", F.lit("index").alias("action"),
                    (F.col("seq_no") + F.lit(30_000_000 + j * 1_000_000))
                    .cast("long").alias("seq_no"),
                )
                apply_changes_to_index(
                    spark, f"{big_dir}/idx", state_ms, ch_ms, strategy="delta"
                )
            timings["big_multiseg_applies_sec"] = round(time.time() - t0, 3)
            timings["big_multiseg_n"] = n_mseg
            t0 = time.time()
            qb.refresh()
            timings["big_multiseg_refresh_sec"] = round(time.time() - t0, 3)
            lat = []
            for qtext in BIG_QUERY_SET[:4]:
                t0 = time.time()
                qb.topk_pruned(qtext, 10).collect()
                lat.append(time.time() - t0)
            timings["big_topk_multiseg_mean_sec"] = round(sum(lat) / len(lat), 4)
            t0 = time.time()
            fold_segments(spark, f"{big_dir}/idx")
            timings["big_fold_multiseg_sec"] = round(time.time() - t0, 3)
        finally:
            shutil.rmtree(big_dir, ignore_errors=True)
    spark.stop()

    # --- drift control: prior round's EXACT code, same host, same day,
    # run sequentially after this session stopped ---
    control = _run_control(sf_dir, cpus)
    timings.update(control)

    print(
        json.dumps(
            {
                "metric": "index-build + BM25 top-k + operator suite wall time",
                "value": round(total, 3),
                "unit": "sec",
                "queries": timings,
                "sf": sf,
            }
        )
    )


def _run_control(sf_dir: str, cpus: str) -> dict:
    """Check out the control commit into a worktree and run ITS bench.py
    in a subprocess. The control runs the BIG section too whenever this
    session did (round-6 arbitration: the r5 big_build record landed in a
    contention episode with no in-session control, so big numbers must
    carry their own same-session reference; BENCH_CONTROL_BIG=0 opts
    out). Failure records control_error instead of failing the run."""
    import subprocess

    commit = os.environ.get("BENCH_CONTROL", "")
    if "--control" in sys.argv:
        idx = sys.argv.index("--control")
        if idx + 1 >= len(sys.argv):
            return {"control_error": "--control requires a commit argument"}
        commit = sys.argv[idx + 1]
    if commit.lower() in ("none", "0", "off") or (
        not commit and os.environ.get("BENCH_SKIP_BIG")
    ):
        return {}
    commit = commit or DEFAULT_CONTROL_COMMIT
    control_big = (
        not os.environ.get("BENCH_SKIP_BIG")
        and os.environ.get("BENCH_CONTROL_BIG", "1") != "0"
    )
    repo = os.path.dirname(os.path.abspath(__file__))
    wt = f"{tempfile.gettempdir()}/bench_control_{commit}"
    out: dict = {"control_commit": commit}
    try:
        if not os.path.isdir(wt):
            subprocess.run(
                ["git", "worktree", "add", "--detach", wt, commit],
                cwd=repo, check=True, capture_output=True, timeout=120,
            )
        env = dict(os.environ)
        env.update({
            "SPARK_GRAFT_SF_DIR": sf_dir,
            "SPARK_GRAFT_CPUS": cpus,
            "BENCH_SKIP_BIG": "" if control_big else "1",
            "BENCH_CONTROL": "none",  # the control must not recurse
            "PYTHONPATH": wt,
        })
        proc = subprocess.run(
            [sys.executable, f"{wt}/bench.py"],
            cwd=wt, env=env, capture_output=True, text=True, timeout=3600,
        )
        line = next(
            ln for ln in reversed(proc.stdout.splitlines())
            if ln.startswith("{")
        )
        res = json.loads(line)
        out["control_headline_sec"] = float(res["value"])
        for k in (
            "big_build_sec", "big_build_files_per_sec", "big_topk_mean_sec",
            "big_inc_scattered_delta_sec", "big_fold_segments_sec",
        ):
            if k in res.get("queries", {}):
                out[f"control_{k}"] = res["queries"][k]
    except Exception as e:  # noqa: BLE001 — control is best-effort evidence
        out["control_error"] = f"{type(e).__name__}: {e}"[:200]
    finally:
        try:
            subprocess.run(
                ["git", "worktree", "remove", "--force", wt],
                cwd=repo, capture_output=True, timeout=60,
            )
        except Exception:
            pass  # cleanup is best-effort: never lose the measured JSON
    return out


if __name__ == "__main__":
    main()
