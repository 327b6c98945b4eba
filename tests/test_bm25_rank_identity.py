"""Rank identity: Spark BM25 top-k (both physical strategies) must equal the
pure-Python oracle exactly — docIDs rank-identical, scores to 1e-9.

This is our analogue of the reference's exact golden assertion (the e2e test
polls until the ES doc count equals exactly 31,591,
test/integration/integration_test.go:68)."""

from __future__ import annotations

import pytest

from go_dcp_elasticsearch_spark.corpus import HOT_TERMS, RARE_TERMS, synth_corpus
from go_dcp_elasticsearch_spark.functions.bm25 import bm25_oracle
from go_dcp_elasticsearch_spark.functions.tokenizer import tokenize_py
from go_dcp_elasticsearch_spark.index.builder import (
    IndexBuilder,
    assign_doc_ids,
    dedup_last_write_wins,
)
from go_dcp_elasticsearch_spark.index.query import BM25Query

N = 500

# reference query set (FIXTURES.md §3): hot terms, rare planted terms,
# absent terms, camelCase sub-token splits, mixed
QUERY_SET = [
    "getValue",
    "quasarFlux",
    "buffer index",
    "parseInput kraken_sentinel",
    "zephyrDelta obsidian_marker quasarFlux",
    "helper_func_7 localVar11",
    "completelyAbsentTermXyz",
    "getValue completelyAbsentTermXyz buffer",
    " ".join(HOT_TERMS),
    " ".join(RARE_TERMS),
]


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("idx"))
    corpus = synth_corpus(spark, N)
    IndexBuilder(spark, d, n_shards=4).build(corpus)
    rows = assign_doc_ids(dedup_last_write_wins(corpus)).select("doc_id", "content").collect()
    docs_tokens = {int(r["doc_id"]): tokenize_py(r["content"]) for r in rows}
    return d, docs_tokens


@pytest.mark.parametrize("k", [10, 3])
def test_rank_identity_both_strategies(spark, built, k):
    index_dir, docs_tokens = built
    q = BM25Query(spark, index_dir)
    for qtext in QUERY_SET:
        want = bm25_oracle(docs_tokens, tokenize_py(qtext), k)
        for strategy in ("topk_exact", "topk_pruned"):
            got = [
                (int(r["doc_id"]), float(r["score"]))
                for r in getattr(q, strategy)(qtext, k).collect()
            ]
            assert [g[0] for g in got] == [w[0] for w in want], (qtext, strategy)
            for (gd, gs), (wd, ws) in zip(got, want):
                assert abs(gs - ws) < 1e-9, (qtext, strategy, gd)


@pytest.mark.parametrize("chunk_size", [64, 2])
def test_batch_retrieval_matches_single(spark, built, chunk_size):
    """Batch results must be chunking-invariant: chunk_size only bounds
    executor memory (decode caches cleared between chunks), never results."""
    index_dir, docs_tokens = built
    q = BM25Query(spark, index_dir)
    queries = list(enumerate(QUERY_SET[:5]))
    batch = q.topk_batch(queries, k=5, chunk_size=chunk_size).collect()
    by_qid: dict[int, list] = {}
    for r in sorted(batch, key=lambda r: (r["query_id"], -r["score"], r["doc_id"])):
        by_qid.setdefault(int(r["query_id"]), []).append((int(r["doc_id"]), float(r["score"])))
    for qid, qtext in queries:
        want = bm25_oracle(docs_tokens, tokenize_py(qtext), 5)
        got = by_qid.get(qid, [])
        assert [g[0] for g in got] == [w[0] for w in want], qtext


def test_with_meta_roundtrip(spark, tmp_path):
    """Hits -> forward-store join returns the caller-facing identity
    (repo, path) for every hit, broadcast side = hits."""
    from go_dcp_elasticsearch_spark.corpus import synth_corpus
    from go_dcp_elasticsearch_spark.index import BM25Query, IndexBuilder

    idx = str(tmp_path / "idx")
    IndexBuilder(spark, idx, n_shards=2).build(synth_corpus(spark, 120))
    q = BM25Query(spark, idx)
    hits = q.topk_pruned("getValue buffer", 5)
    out = q.with_meta(hits).collect()
    assert len(out) == 5
    assert all(r["repo"] and r["path"] and len(r["content_sha256"]) == 64 for r in out)
    assert {r["doc_id"] for r in out} == {r["doc_id"] for r in hits.collect()}


def test_conjunctive_mode(spark, tmp_path):
    """mode='all' (ES bool.must): every returned doc contains EVERY query
    term; scores use corpus-wide idf (identical to the matching 'any'
    docs' scores); pruned == exact == batch; unknown corpus-wide term
    empties the result; invalid mode raises."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from go_dcp_elasticsearch_spark.corpus import synth_corpus
    from go_dcp_elasticsearch_spark.functions.bm25 import bm25_oracle
    from go_dcp_elasticsearch_spark.functions.tokenizer import tokenize_py
    from go_dcp_elasticsearch_spark.index import BM25Query, IndexBuilder

    idx = str(tmp_path / "idx")
    corpus = synth_corpus(spark, 200)
    IndexBuilder(spark, idx, n_shards=4).build(corpus)
    q = BM25Query(spark, idx)
    qtext = "var30 buffer parse"
    terms = q.analyze(qtext)

    a = [(int(r["doc_id"]), round(float(r["score"]), 9))
         for r in q.topk_pruned(qtext, 10, mode="all").collect()]
    b = [(int(r["doc_id"]), round(float(r["score"]), 9))
         for r in q.topk_exact(qtext, 10, mode="all").collect()]
    assert a == b and len(a) > 0
    batch = [(int(r["doc_id"]), round(float(r["score"]), 9))
             for r in q.topk_batch([(0, qtext)], 10, mode="all").collect()]
    assert batch == a

    # python oracle: corpus-wide-idf BM25, then keep only full matchers
    id_rows = (
        spark.read.parquet(f"{idx}/docs").select("doc_id", "repo", "path")
        .join(corpus.select("repo", "path", "content"), ["repo", "path"])
        .collect()
    )
    toks = {int(r["doc_id"]): tokenize_py(r["content"]) for r in id_rows}
    ranked = bm25_oracle(toks, terms, len(toks))
    want = [(d, round(s, 9)) for d, s in ranked
            if all(t in toks[d] for t in terms)][:10]
    assert [x[0] for x in a] == [x[0] for x in want]
    for (gd, gs), (wd, ws) in zip(a, want):
        assert abs(gs - ws) < 1e-9

    # full-match set sanity: every hit contains every term
    for d, _ in a:
        assert all(t in toks[d] for t in terms)
    # an impossible conjunction is empty; bad mode raises
    assert q.topk_pruned("var30 zzneverterm", 10, mode="all").count() == 0
    assert q.topk_exact("var30 zzneverterm", 10, mode="all").count() == 0
    with _pytest.raises(ValueError, match="mode"):
        q.topk_pruned(qtext, 10, mode="must")

    # conjunctive + delta segments: tombstoned docs never satisfy the
    # conjunction, delta-inserted full matchers do
    from go_dcp_elasticsearch_spark.sources.changes import apply_changes_to_index

    victim = id_rows[0]
    ins = spark.createDataFrame(
        [("orgC/conj", "c.py", "cc", "python",
          "var30 buffer parse zzconjfull", 5)],
        "repo string, path string, commit string, lang string, content string, seq_no int",
    )
    new_corpus = corpus.filter(
        ~((F.col("repo") == victim["repo"]) & (F.col("path") == victim["path"]))
    ).unionByName(ins)
    changes = spark.createDataFrame(
        [(victim["repo"], victim["path"], "delete", 6),
         ("orgC/conj", "c.py", "index", 7)],
        "repo string, path string, action string, seq_no long",
    )
    apply_changes_to_index(spark, idx, new_corpus, changes, strategy="delta")
    hits = q.topk_pruned(qtext, 200, mode="all")
    got_ids = {int(r["doc_id"]) for r in hits.collect()}
    assert int(victim["doc_id"]) not in got_ids
    ins_id = int(
        q.with_meta(q.topk_pruned("zzconjfull", 1)).collect()[0]["doc_id"]
    )
    assert ins_id in got_ids


def _hits(df):
    return [(int(r["doc_id"]), float(r["score"])) for r in df.collect()]


def test_exact_scores_bitwise_equal_pruned(spark, built):
    """The exact (Spark SQL) and pruned (shard kernel) paths add the same
    idf * tf_norm products in the same term-lexicographic order, so their
    scores are EQUAL, not merely close — a tie at the top-k cut resolves
    the same way on both paths."""
    index_dir, _ = built
    q = BM25Query(spark, index_dir)
    multi_term = [t for t in QUERY_SET if len(set(tokenize_py(t))) > 1]
    for qtext in multi_term[:5]:
        for mode in ("any", "all"):
            exact = _hits(q.topk_exact(qtext, 50, mode=mode))
            assert exact == _hits(q.topk_pruned(qtext, 50, mode=mode)), (
                qtext, mode,
            )
    for clauses in (
        dict(must="buffer", should="var3 var11", must_not="var30"),
        dict(should="local var3 var7", minimum_should_match=2),
        dict(filter="buffer", should="get value index"),
    ):
        exact = _hits(q.topk_bool(k=50, strategy="exact", **clauses))
        assert exact, clauses
        assert exact == _hits(q.topk_bool(k=50, **clauses)), clauses
