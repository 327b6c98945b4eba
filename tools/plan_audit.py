"""Physical-plan audit: capture `.explain(formatted)` for the judged paths
into BENCH/PLANS.md so pushdown / pruning / no-global-sort claims are
checkable without re-running anything.

Usage: PYTHONPATH=/root/repo python tools/plan_audit.py
"""

from __future__ import annotations

import io
import os
import sys
import tempfile
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def explain_str(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> None:
    from pyspark.sql import functions as F

    from go_dcp_elasticsearch_spark.corpus import synth_corpus
    from go_dcp_elasticsearch_spark.index import BM25Query, IndexBuilder
    from go_dcp_elasticsearch_spark.operators.dedup import (
        embedding_cosine_dups,
        minhash_band_buckets,
        minhash_candidate_pairs,
    )
    from go_dcp_elasticsearch_spark.session import get_spark

    spark = get_spark("plan-audit", master="local[8]", shuffle_partitions=16)
    spark.sparkContext.setLogLevel("ERROR")
    idx = tempfile.mkdtemp(prefix="plan_idx_")

    def _nc(df):
        return df.withColumn("nc", F.length("content").cast("long"))

    IndexBuilder(
        spark, idx, n_shards=4, field_cols=["lang"], docvalue_cols=["nc"],
        positions=True,
    ).build(_nc(synth_corpus(spark, 2000)))
    # audit the shard-parallel plans: queries this small otherwise run on
    # the driver and return a LocalTableScan (see BM25Query._spec_topk)
    BM25Query.DRIVER_MAX_POSTINGS = 0
    q = BM25Query(spark, idx)

    sections: list[tuple[str, str, str]] = []

    hits = q.topk_pruned("getValue buffer", 10)
    sections.append((
        "BM25 pruned top-k (flagship query path)",
        "Checks: `PushedFilters: [In(term, ...)]` reaches the postings parquet "
        "scan; ReadSchema pruned to the block columns the kernel uses (payload "
        "bytes are scanned but only DECODED for candidate blocks); final "
        "operator is TakeOrderedAndProject (per-partition heaps — no global "
        "sort).",
        explain_str(hits),
    ))

    corpus_live = synth_corpus(spark, 2000)
    ph = q.topk_phrase("getValue buffer", 10, source=corpus_live)
    sections.append((
        "Phrase top-k (round 6: conjunctive candidates + source verify)",
        "Checks: the postings scan keeps `PushedFilters: [In(term, ...)]` "
        "(candidates decided from the index alone); the source content join "
        "happens AFTER the conjunctive aggregation so only candidate keys "
        "reach the source read (candidate side is broadcast-able, AQE "
        "decides); no CartesianProduct/BroadcastNestedLoopJoin; final "
        "operator TakeOrderedAndProject.",
        explain_str(ph),
    ))

    php = q.topk_phrase("getValue buffer", 10)
    sections.append((
        "Index-only phrase top-k (round 6: positional sidecar)",
        "Checks: NO source/content scan anywhere in the plan — the verify "
        "side is the positions parquet scan with `PushedFilters: "
        "[In(term, ...)]` and ReadSchema pruned to the varbyte streams "
        "(term, ids_vb, tfs_vb, pos_vb); candidates still come from the "
        "conjunctive postings scan; the two meet in a doc_id join + "
        "collect_list aggregate feeding the span-near kernel; final "
        "operator TakeOrderedAndProject.",
        explain_str(php),
    ))

    pf = q.topk_prefix("var", 10, max_expansions=4)
    sections.append((
        "Prefix top-k (round 6: dictionary expansion, then pruned BM25)",
        "Checks: identical shape to the pruned top-k — the expansion is "
        "resolved DRIVER-side from the epoch-cached dictionary before the "
        "plan is built, so the postings scan carries the expanded terms in "
        "`PushedFilters: [In(term, ...)]`; no vocabulary-wide scan appears "
        "anywhere in the plan.",
        explain_str(pf),
    ))

    bq = q.topk_bool(must="getValue", should="buffer",
                     must_not="localVar3", filter="lang:go", k=10)
    sections.append((
        "Bool top-k with keyword-field filter (round 6: four-clause ES bool)",
        "Checks: ONE postings scan serves all four clause classes — "
        "`PushedFilters: [In(term, ...)]` carries the scoring terms AND the "
        "must_not term AND the `lang:go` keyword-field term (metadata "
        "filtering is a posting-list operation, not a docs-table scan or "
        "broadcast); same single-Exchange per-shard kernel shape as the "
        "pruned top-k; final operator TakeOrderedAndProject.",
        explain_str(bq),
    ))

    rq = q.topk_bool(must="getValue", should="buffer", k=10,
                     range={"nc": {"gte": 100, "lt": 2000}})
    sections.append((
        "Range top-k (round 6: numeric doc-values, scored semi-join path)",
        "Checks: the DOCS scan carries the range bounds in `PushedFilters: "
        "[..GreaterThanOrEqual(nc,100), LessThan(nc,2000)..]` (parquet "
        "row-group min/max skipping) with ReadSchema pruned to (doc_id, nc) "
        "— content_sha256 and the rest are never read; the POSTINGS scan "
        "keeps `PushedFilters: [In(term, ...)]` (candidates stay bounded by "
        "the scoring terms); the two sides meet in a doc_id semi-join with "
        "no forced broadcast (AQE sizes it); final operator "
        "TakeOrderedAndProject — the ES BKD∩scorer intersection shape.",
        explain_str(rq),
    ))

    ro = q.topk_bool(range={"nc": {"gte": 100, "lt": 300}}, k=10)
    sections.append((
        "Range-only query (round 6: filter context, pushed-predicate scan)",
        "Checks: NO postings scan anywhere — the plan is exactly one docs "
        "parquet scan with the bounds in PushedFilters and ReadSchema "
        "pruned to doc_id+nc, topped by TakeOrderedAndProject (score-0 "
        "hits by doc_id; per-partition heaps, never a global sort).",
        explain_str(ro),
    ))

    ag = q.agg_terms("lang", size=5, must="getValue")
    sections.append((
        "Terms aggregation (round 6: ES aggs over the full match set)",
        "Checks: the match set comes from the postings scan "
        "(`PushedFilters: [In(term, ...)]`), semi-joins into a docs scan "
        "whose ReadSchema is pruned to (doc_id, lang); the groupBy shows a "
        "partial_count HashAggregate BELOW the exchange (map-side combine) "
        "and the top-N is TakeOrderedAndProject — one tiny shuffle of "
        "(value, partial count) rows, never the docs themselves.",
        explain_str(ag),
    ))

    emb = spark.createDataFrame(
        [(i, [float((i * 31 + d * 7) % 97) / 97.0 for d in range(8)])
         for i in range(200)],
        "vec_id long, embedding array<double>",
    )
    dups = embedding_cosine_dups(emb, "embedding", "vec_id", threshold=0.5,
                                 method="lsh", n_bands=2, band_bits=2, dim=8)
    sections.append((
        "Embedding near-dup pairs (LSH-bucketed)",
        "Checks: the join key is (band, bucket) — NO CartesianProduct / "
        "BroadcastNestedLoopJoin anywhere in the plan (the round-1 crossJoin "
        "is gone).",
        explain_str(dups),
    ))

    docs = synth_corpus(spark, 500).withColumnRenamed("content", "text") \
        .withColumn("doc_id", F.col("seq_no").cast("long"))
    pairs = minhash_candidate_pairs(
        minhash_band_buckets(docs, "text", "doc_id", n_hashes=6, band_size=3)
    )
    sections.append((
        "MinHash LSH candidate pairs",
        "Checks: one hash shuffle on (band, bucket); signatures computed "
        "map-side in a single Arrow kernel (ArrowEvalPython above the scan).",
        explain_str(pairs),
    ))

    # ---- round-4 evidence: no forced broadcast of unbounded frames ----
    from go_dcp_elasticsearch_spark.operators.dedup import ngram_jaccard_pairs

    nj = ngram_jaccard_pairs(docs, "text", "doc_id")
    opt = nj._jdf.queryExecution().optimizedPlan().toString()
    forced = "ResolvedHint" in opt or "UnresolvedHint" in opt
    sections.append((
        "n-gram Jaccard |A|/|B| sizes joins (round-4: forced broadcasts removed)",
        "Checks: the per-document sizes frames join WITHOUT a broadcast hint "
        f"(optimized plan contains a forced-broadcast hint: **{forced}** — must "
        "be False). Any BroadcastExchange below is a size-based planner choice "
        "on this tiny fixture; at scale the statistics make it a shuffle join, "
        "and AQE downgrades back to broadcast only when the frame actually "
        "fits. The same hint removal applies to the incremental apply's "
        "feed-key and deletes joins (sources/changes.py).",
        explain_str(nj),
    ))

    # ---- round-4 evidence: O(delta) refresh reads only rebuilt shards ----
    refresh_dict = (
        spark.read.parquet(f"{idx}/postings")
        .filter(F.col("shard").isin([2]))
        .groupBy("term", "shard")
        .agg(F.sum("count").alias("df"), F.sum("tf_sum").alias("cf"))
    )
    refresh_docs = (
        spark.read.parquet(f"{idx}/docs")
        .filter(F.col("shard").isin([2]))
        .groupBy("shard")
        .agg(F.count("*").alias("n_docs"), F.sum("doc_len").alias("sum_dl"))
    )
    sections.append((
        "Incremental dictionary/stats refresh (round-4: O(delta) via per-shard partials)",
        "These are the exact reads _refresh_partials_for_shards issues after "
        "a rebuild of shard 2. Checks: `PartitionFilters: [shard IN (2)]` on "
        "BOTH scans — only the rebuilt shard DIRECTORIES are read, never the "
        "whole postings/docs tables (pre-round-4 the refresh re-aggregated "
        "the entire index per delta). Physical no-rewrite of untouched "
        "partitions is asserted by "
        "tests/test_changes.py::test_incremental_refresh_is_o_delta.",
        explain_str(refresh_dict) + "\n--- stats partials read ---\n" + explain_str(refresh_docs),
    ))

    # ---- round-5 evidence: delta-segment query + fold paths ----
    from go_dcp_elasticsearch_spark.index.segments import read_docs
    from go_dcp_elasticsearch_spark.sources.changes import apply_changes_to_index

    base_docs = spark.read.parquet(f"{idx}/docs")
    victims = base_docs.orderBy("doc_id").limit(2).collect()
    keys = [(r["repo"], r["path"]) for r in victims]
    corpus2 = _nc(
        synth_corpus(spark, 2000).withColumn(
            "content",
            F.when(
                F.concat_ws("|", "repo", "path").isin(
                    [f"{r}|{p}" for r, p in keys]
                ),
                F.lit("deltaAuditToken buffer"),
            ).otherwise(F.col("content")),
        )
    )
    feed = spark.createDataFrame(
        [(r, p, "index", 99) for r, p in keys],
        "repo string, path string, action string, seq_no long",
    )
    apply_changes_to_index(spark, idx, corpus2, feed, strategy="delta")
    q.refresh()
    blocks = q._candidate_blocks(["buffer"])
    sections.append((
        "Delta-segment candidate blocks (round-5: base ∪ committed segments)",
        "The post-delta query path unions the base postings scan with the "
        "segment scan. Checks: `PushedFilters: [In(term, ...)]` reaches BOTH "
        "parquet scans (the term predicate is pushed into the segment files "
        "too); the segment scan carries `PartitionFilters` on `seg` — only "
        "COMMITTED segment directories are listed (orphan postings dirs from "
        "a crashed apply are invisible); no shuffle is introduced by the "
        "union (both sides flow straight into the per-shard kernel "
        "repartition).",
        explain_str(blocks),
    ))
    # ---- round-6 evidence: keymap pruned key lookup ----
    from go_dcp_elasticsearch_spark.index import keymap as km_mod
    from go_dcp_elasticsearch_spark.index.builder import IndexPaths
    from go_dcp_elasticsearch_spark.plans.lineage import LineageLog

    km_paths = IndexPaths(idx)
    kmeta = km_mod.valid_meta(
        spark, km_paths, ["repo", "path"],
        LineageLog(spark, km_paths.lineage).record_count(),
    )
    assert kmeta is not None, "keymap must be valid after build+delta apply"
    km_feed = spark.createDataFrame(
        [(r, p) for r, p in keys], "repo string, path string"
    )
    km_look = km_mod.lookup(spark, km_paths, km_feed, ["repo", "path"], kmeta)
    sections.append((
        "Keymap pruned key lookup (round-6: O(delta) apply metadata join)",
        "This is the metadata side of the delta apply's key join when the "
        "keymap cache is valid (index/keymap.py lookup). Checks: the base "
        "scan carries `PartitionFilters` restricting `_kb` to the feed keys' "
        "buckets — untouched bucket DIRECTORIES are never listed — and a "
        "kh filter (pushed to parquet row-group stats for <=10 keys; larger "
        "lists stay a catalyst-side vectorized InSet — pushing big In lists "
        "builds an OR-of-Eq chain in the parquet reader that overflows the "
        "JVM stack, see session.py). The pre-round-6 shape was a full "
        "docs-metadata scan per apply.",
        explain_str(km_look),
    ))

    # ---- round-6 evidence: delta apply's corpus-content join is broadcast ----
    # the exact shape _apply_changes_delta builds (changes.py: the
    # joined_corpus join): key-side (n_alive rows, known small) broadcast
    # into the new-corpus scan, so the corpus is column-pruned-scanned but
    # NEVER shuffled; with a _bucket-partitioned mirror slice (streaming
    # pipeline) the scan is additionally partition-pruned to touched buckets.
    with_old_demo = km_feed.withColumn(
        "_rank", F.lit(0).cast("long")
    ).withColumn("_old_shard", F.lit(1))
    corpus_join = F.broadcast(with_old_demo).join(
        corpus2, ["repo", "path"], "inner"
    )
    sections.append((
        "Delta apply corpus-content join (round-6: broadcast keys, no corpus shuffle)",
        "This is the joined_corpus join inside _apply_changes_delta "
        "(sources/changes.py): the (key, rank, old_shard) side is exactly "
        "n_alive rows and is broadcast below BROADCAST_DELTA_KEYS_MAX. "
        "Checks: BroadcastHashJoin with the KEY side as BuildSide — the "
        "new-corpus scan has NO Exchange above it (the full corpus, content "
        "column included, is never shuffled; pre-fix AQE sometimes planned "
        "a sort-merge join that shuffled every content row per apply).",
        explain_str(corpus_join),
    ))

    live_view = read_docs(spark, idx)
    sections.append((
        "Live docs view (round-5: base ∪ alive segment rows, anti-join tombstones)",
        "Checks: the tombstone side of the anti-join is segment-sized (tiny "
        "by the compaction contract) — the planner picks "
        "BroadcastHashJoin(LeftAnti) with the DELTA side broadcast, so the "
        "base docs scan streams through without a shuffle; no hint forces "
        "this (scattered-at-scale segment sets degrade gracefully to a "
        "shuffle join).",
        explain_str(live_view),
    ))

    out = [
        "# BENCH/PLANS.md — physical-plan audit (generated by tools/plan_audit.py)",
        "",
        "Small fixtures, same operators and plan shapes as production paths.",
        "",
    ]
    for title, checks, plan in sections:
        out += [f"## {title}", "", checks, "", "```", plan.rstrip(), "```", ""]
    with open(f"{REPO}/BENCH/PLANS.md", "w") as f:
        f.write("\n".join(out))
    print(f"wrote BENCH/PLANS.md ({sum(len(s[2]) for s in sections)} plan chars)")
    spark.stop()


if __name__ == "__main__":
    main()
