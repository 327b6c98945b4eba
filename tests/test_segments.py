"""Delta-segment incremental writes (index.segments): O(changed docs)
apply, tombstone semantics, fold-at-compact, strategy dispatch.

The contract under test mirrors the Lucene segment model the reference's
sink (Elasticsearch) runs on: an update is delete-by-id + add-with-new-
doc_id into a tiny new segment; deleted docs stop surfacing immediately
but keep contributing to df until the segments are folded (Lucene
docFreq semantics); a fold restores bit-exact statistics.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from go_dcp_elasticsearch_spark.corpus import synth_corpus
from go_dcp_elasticsearch_spark.functions.bm25 import bm25_oracle
from go_dcp_elasticsearch_spark.functions.tokenizer import tokenize_py
from go_dcp_elasticsearch_spark.index import BM25Query, IndexBuilder
from go_dcp_elasticsearch_spark.index.segments import (
    fold_segments,
    has_segments,
    list_segments,
    read_docs,
)
from go_dcp_elasticsearch_spark.index.builder import IndexPaths
from go_dcp_elasticsearch_spark.sources.changes import (
    apply_changes_to_index,
    compact_index,
)

NEW_CONTENT = "quasarflux quasarflux freshlyupdated buffer"
INSERT_CONTENT = "brandnewdocument zzkraken parser"


def _setup(spark, tmp_path, n=200, n_shards=4):
    """Base index + (new_corpus, changes) for update+delete+insert."""
    idx = str(tmp_path / "idx")
    corpus = synth_corpus(spark, n)
    IndexBuilder(spark, idx, n_shards=n_shards).build(corpus)
    docs0 = spark.read.parquet(f"{idx}/docs")
    victims = docs0.orderBy("doc_id").limit(2).collect()
    upd_key = (victims[0]["repo"], victims[0]["path"])
    del_key = (victims[1]["repo"], victims[1]["path"])
    changed = (
        corpus.filter(
            ~((F.col("repo") == del_key[0]) & (F.col("path") == del_key[1]))
        ).withColumn(
            "content",
            F.when(
                (F.col("repo") == upd_key[0]) & (F.col("path") == upd_key[1]),
                F.lit(NEW_CONTENT),
            ).otherwise(F.col("content")),
        )
    )
    insert_row = spark.createDataFrame(
        [("orgZ/newrepo", "src/new.py", "c0ffee", "python", INSERT_CONTENT, 999)],
        "repo string, path string, commit string, lang string, content string, seq_no int",
    )
    new_corpus = changed.unionByName(insert_row)
    changes = spark.createDataFrame(
        [
            (upd_key[0], upd_key[1], "index", 10),
            (del_key[0], del_key[1], "delete", 11),
            ("orgZ/newrepo", "src/new.py", "index", 12),
        ],
        "repo string, path string, action string, seq_no long",
    )
    return idx, new_corpus, changes, upd_key, del_key, victims


def _rank_check(spark, idx, new_corpus, queries):
    """topk_pruned == python oracle over the post-change state, using the
    index's own id mapping (valid only when df is exact)."""
    id_rows = (
        read_docs(spark, idx)
        .select("doc_id", "repo", "path")
        .join(new_corpus.select("repo", "path", "content"), ["repo", "path"])
        .collect()
    )
    docs_tokens = {int(r["doc_id"]): tokenize_py(r["content"]) for r in id_rows}
    q = BM25Query(spark, idx)
    for qtext in queries:
        want = bm25_oracle(docs_tokens, tokenize_py(qtext), 10)
        got = [
            (int(r["doc_id"]), float(r["score"]))
            for r in q.topk_pruned(qtext, 10).collect()
        ]
        assert [g[0] for g in got] == [w[0] for w in want], qtext
        for (gd, gs), (wd, ws) in zip(got, want):
            assert abs(gs - ws) < 1e-9, qtext


def _snapshot_files(root):
    out = {}
    for dirpath, _, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            st = os.stat(p)
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


def test_delta_apply_leaves_base_untouched(spark, tmp_path):
    """strategy='delta' writes ONE segment and never touches a base
    docs/postings partition file — the O(changed docs) property, asserted
    physically (file names+sizes+mtimes identical across the apply)."""
    idx, new_corpus, changes, upd_key, del_key, _ = _setup(spark, tmp_path)
    before_docs = _snapshot_files(f"{idx}/docs")
    before_post = _snapshot_files(f"{idx}/postings")

    out = apply_changes_to_index(
        spark, idx, new_corpus, changes, strategy="delta"
    )
    assert out["strategy"] == "delta"
    assert out["segment"] == 0
    assert out["n_changed"] == 3
    assert out["n_docs"] == 200  # 200 - 1 delete + 1 insert

    assert _snapshot_files(f"{idx}/docs") == before_docs
    assert _snapshot_files(f"{idx}/postings") == before_post
    assert list_segments(spark, IndexPaths(idx)) == [0]

    # live view: delete gone, insert present, update has a NEW doc_id
    view = read_docs(spark, idx)
    assert view.count() == 200
    assert view.filter(
        (F.col("repo") == del_key[0]) & (F.col("path") == del_key[1])
    ).count() == 0
    ins = view.filter(F.col("repo") == "orgZ/newrepo").collect()
    assert len(ins) == 1


def test_delta_query_semantics(spark, tmp_path):
    """Tombstoned content stops matching immediately; new content matches
    with meta resolution; exact and pruned strategies agree."""
    idx, new_corpus, changes, upd_key, del_key, victims = _setup(spark, tmp_path)
    # a token unique to the deleted doc (synth content has shared vocab;
    # use the doc's whole content as the query and check its id is gone)
    del_id = int(victims[1]["doc_id"])
    upd_id = int(victims[0]["doc_id"])
    apply_changes_to_index(spark, idx, new_corpus, changes, strategy="delta")

    q = BM25Query(spark, idx)
    hits = q.topk_pruned(NEW_CONTENT, 20)
    ids = [int(r["doc_id"]) for r in hits.collect()]
    assert del_id not in ids and upd_id not in ids
    top = q.with_meta(q.topk_pruned("brandnewdocument zzkraken", 5)).collect()
    assert top and top[0]["repo"] == "orgZ/newrepo"

    # exact vs pruned rank identity (same stats, same tombstones)
    for qtext in [NEW_CONTENT, "zzkraken parser", "getvalue buffer"]:
        a = [(int(r["doc_id"]), round(float(r["score"]), 9))
             for r in q.topk_pruned(qtext, 10).collect()]
        b = [(int(r["doc_id"]), round(float(r["score"]), 9))
             for r in q.topk_exact(qtext, 10).collect()]
        assert a == b, qtext


def test_insert_only_delta_is_fully_exact(spark, tmp_path):
    """Insert-only segments leave NO stale statistic (no tombstones, df
    of new terms tracked in the segment): full rank identity vs the
    python oracle without a fold."""
    idx = str(tmp_path / "idx")
    corpus = synth_corpus(spark, 150)
    IndexBuilder(spark, idx, n_shards=4).build(corpus)
    inserts = spark.createDataFrame(
        [
            ("orgZ/a", "x.py", "c1", "python", "zzalpha shared buffer", 1),
            ("orgZ/b", "y.py", "c2", "python", "zzbeta shared parser", 2),
        ],
        "repo string, path string, commit string, lang string, content string, seq_no int",
    )
    new_corpus = corpus.unionByName(inserts)
    changes = spark.createDataFrame(
        [("orgZ/a", "x.py", "index", 1), ("orgZ/b", "y.py", "index", 2)],
        "repo string, path string, action string, seq_no long",
    )
    out = apply_changes_to_index(spark, idx, new_corpus, changes, strategy="delta")
    assert out["n_docs"] == 152
    _rank_check(
        spark, idx, new_corpus,
        ["zzalpha shared", "zzbeta", "shared buffer parser", "getvalue"],
    )


def test_fold_restores_exact_stats_and_ranks(spark, tmp_path):
    """apply(delta) -> fold_segments == exact index: delta dir gone, df
    exact again (full oracle rank identity incl. the update/delete), and
    a verify pass over the folded index is clean."""
    from go_dcp_elasticsearch_spark.index.verify import verify_index_against_source

    idx, new_corpus, changes, *_ = _setup(spark, tmp_path)
    apply_changes_to_index(spark, idx, new_corpus, changes, strategy="delta")
    summary = fold_segments(spark, idx)
    assert summary["n_segments"] == 1
    assert summary["n_tombstones"] == 2  # update + delete
    assert not has_segments(spark, IndexPaths(idx))
    _rank_check(
        spark, idx, new_corpus,
        [NEW_CONTENT, "zzkraken", "getvalue buffer", "brandnewdocument"],
    )
    rep = verify_index_against_source(spark, idx, new_corpus)
    assert rep["missing_in_index"] == 0
    assert rep["extra_in_index"] == 0
    assert rep["sha_mismatch"] == 0


def test_compact_folds_segments_first(spark, tmp_path):
    """compact_index on an index with pending segments folds them before
    merging/splitting (and the result still answers correctly)."""
    idx, new_corpus, changes, *_ = _setup(spark, tmp_path)
    apply_changes_to_index(spark, idx, new_corpus, changes, strategy="delta")
    compact_index(spark, idx, target_docs_per_shard=100)
    assert not has_segments(spark, IndexPaths(idx))
    _rank_check(spark, idx, new_corpus, [NEW_CONTENT, "zzkraken", "getvalue"])


def test_rebuild_apply_folds_pending_segments(spark, tmp_path):
    """A rebuild-strategy apply on an index with pending segments folds
    them first, then applies exactly."""
    idx, new_corpus, changes, *_ = _setup(spark, tmp_path)
    apply_changes_to_index(spark, idx, new_corpus, changes, strategy="delta")
    # second wave: update the inserted doc through the REBUILD path
    newer = new_corpus.withColumn(
        "content",
        F.when(
            F.col("repo") == "orgZ/newrepo", F.lit("zzkraken overwritten body")
        ).otherwise(F.col("content")),
    )
    changes2 = spark.createDataFrame(
        [("orgZ/newrepo", "src/new.py", "index", 20)],
        "repo string, path string, action string, seq_no long",
    )
    out = apply_changes_to_index(spark, idx, newer, changes2, strategy="rebuild")
    assert not has_segments(spark, IndexPaths(idx))
    assert out["n_docs"] == 200
    _rank_check(spark, idx, newer, ["zzkraken overwritten", "getvalue buffer"])


def test_replay_idempotent_delta(spark, tmp_path):
    """At-least-once: replaying the same feed through the delta path
    converges to the same live state (extra segment rows are folded away
    harmlessly; stats stay exact)."""
    from go_dcp_elasticsearch_spark.index.builder import read_global_stats

    idx, new_corpus, changes, _, del_key, _ = _setup(spark, tmp_path)
    apply_changes_to_index(spark, idx, new_corpus, changes, strategy="delta")
    apply_changes_to_index(spark, idx, new_corpus, changes, strategy="delta")
    view = read_docs(spark, idx)
    assert view.count() == 200
    assert view.select("doc_id").distinct().count() == 200
    n_docs, avgdl = read_global_stats(spark, IndexPaths(idx))
    assert n_docs == 200
    # fold after replay still yields an exact index
    fold_segments(spark, idx)
    _rank_check(spark, idx, new_corpus, [NEW_CONTENT, "zzkraken"])


def test_auto_strategy_routes_by_scatter(spark, tmp_path):
    """auto: a delta touching most live shards goes delta; a clustered
    single-doc delta keeps the exact rebuild."""
    idx = str(tmp_path / "idx")
    corpus = synth_corpus(spark, 200)
    IndexBuilder(spark, idx, n_shards=4).build(corpus)
    docs0 = spark.read.parquet(f"{idx}/docs").select("repo", "path", "shard")

    # scattered: one victim per shard
    scattered = docs0.groupBy("shard").agg(
        F.min_by(F.struct("repo", "path"), F.struct("repo", "path")).alias("v")
    ).select("v.repo", "v.path").collect()
    feed = spark.createDataFrame(
        [(r["repo"], r["path"], "index", 50) for r in scattered],
        "repo string, path string, action string, seq_no long",
    )
    out = apply_changes_to_index(spark, idx, corpus, feed, strategy="auto")
    assert out["strategy"] == "delta"

    # clustered: one doc -> rebuild path (folds the segment first)
    one = docs0.limit(1).collect()[0]
    feed1 = spark.createDataFrame(
        [(one["repo"], one["path"], "index", 60)],
        "repo string, path string, action string, seq_no long",
    )
    out1 = apply_changes_to_index(spark, idx, corpus, feed1, strategy="auto")
    assert "strategy" not in out1 or out1.get("strategy") != "delta"
    assert not has_segments(spark, IndexPaths(idx))


def test_routed_delta_insert_placement(spark, tmp_path):
    """On a routing-placed index, a delta INSERT lands in
    pmod(hash(routing), routing_n_shards) — the reference's routing
    contract held by the segment path too."""
    idx = str(tmp_path / "idx")
    corpus = synth_corpus(spark, 120)
    IndexBuilder(spark, idx, n_shards=4, routing_col="repo").build(corpus)
    ins = spark.createDataFrame(
        [("orgR/routed", "r.py", "c9", "python", "zzrouted payload", 7)],
        "repo string, path string, commit string, lang string, content string, seq_no int",
    )
    changes = spark.createDataFrame(
        [("orgR/routed", "r.py", "index", 7)],
        "repo string, path string, action string, seq_no long",
    )
    out = apply_changes_to_index(
        spark, idx, corpus.unionByName(ins), changes, strategy="delta"
    )
    want = spark.range(1).select(
        F.pmod(F.hash(F.lit("orgR/routed")), F.lit(4)).alias("s")
    ).collect()[0]["s"]
    got = read_docs(spark, idx).filter(F.col("repo") == "orgR/routed").collect()
    assert len(got) == 1 and int(got[0]["shard"]) == int(want)
    assert out["insert_shards"] == [int(want)]


def test_delete_only_delta(spark, tmp_path):
    """A delete-only delta writes a docs-only segment (no postings dir)
    and queries drop the victim immediately."""
    idx = str(tmp_path / "idx")
    corpus = synth_corpus(spark, 100)
    IndexBuilder(spark, idx, n_shards=4).build(corpus)
    victim = spark.read.parquet(f"{idx}/docs").orderBy("doc_id").limit(1).collect()[0]
    changes = spark.createDataFrame(
        [(victim["repo"], victim["path"], "delete", 5)],
        "repo string, path string, action string, seq_no long",
    )
    new_corpus = corpus.filter(
        ~((F.col("repo") == victim["repo"]) & (F.col("path") == victim["path"]))
    )
    out = apply_changes_to_index(spark, idx, new_corpus, changes, strategy="delta")
    assert out["n_docs"] == 99
    q = BM25Query(spark, idx)
    # score every doc via a broad scan: victim id must never surface
    allhits = q.topk_pruned("getvalue buffer parser import", 99)
    assert int(victim["doc_id"]) not in {int(r["doc_id"]) for r in allhits.collect()}
    fold_segments(spark, idx)
    _rank_check(spark, idx, new_corpus, ["getvalue buffer", "parser import"])


def test_stale_df_never_negates_idf(spark, tmp_path):
    """Review round-5: with pending segments, df (which still counts dead
    docs — Lucene semantics) can exceed the exact n_docs; unclamped, the
    idf of a term every doc contains goes NEGATIVE and flips the
    block-max upper bound into a lower bound (unsound pruning). Assert
    idf stays positive and pruned == exact on exactly that shape."""
    idx = str(tmp_path / "idx")
    rows = [
        ("r", f"doc/{i:04d}", "c0", "py", f"zzcommon filler{i} body text", i)
        for i in range(10)
    ]
    corpus = spark.createDataFrame(
        rows,
        "repo string, path string, commit string, lang string, content string, seq_no long",
    )
    IndexBuilder(spark, idx, n_shards=2).build(corpus)
    # update half the docs; every version (old and new) contains zzcommon
    upd = [r[1] for r in rows[:5]]
    new_corpus = corpus.withColumn(
        "content",
        F.when(F.col("path").isin(upd), F.concat(F.col("content"), F.lit(" updated")))
        .otherwise(F.col("content")),
    )
    changes = spark.createDataFrame(
        [("r", p, "index", 100 + i) for i, p in enumerate(upd)],
        "repo string, path string, action string, seq_no long",
    )
    apply_changes_to_index(spark, idx, new_corpus, changes, strategy="delta")
    q = BM25Query(spark, idx)
    idfs = q._term_stats(["zzcommon"])
    assert idfs["zzcommon"] > 0  # clamped: df=15 raw vs n_docs=10
    a = [(int(r["doc_id"]), round(float(r["score"]), 9))
         for r in q.topk_pruned("zzcommon updated", 10).collect()]
    b = [(int(r["doc_id"]), round(float(r["score"]), 9))
         for r in q.topk_exact("zzcommon updated", 10).collect()]
    assert a == b and len(a) == 10


def test_noop_delta_feed_writes_no_segment(spark, tmp_path):
    """A feed that nets to nothing (replayed deletes of already-gone
    keys) must not commit an empty segment — the index stays on the
    segment-free fast path."""
    idx = str(tmp_path / "idx")
    corpus = synth_corpus(spark, 50)
    IndexBuilder(spark, idx, n_shards=2).build(corpus)
    changes = spark.createDataFrame(
        [("no/such", "ghost.py", "delete", 1)],
        "repo string, path string, action string, seq_no long",
    )
    out = apply_changes_to_index(spark, idx, corpus, changes, strategy="delta")
    assert out["segment"] is None and out["n_changed"] == 1
    assert not has_segments(spark, IndexPaths(idx))


def test_batch_queries_respect_tombstones(spark, tmp_path):
    """topk_batch over an index with pending segments: per-query results
    equal the single-query pruned path (the batch kernel shares the
    tombstone filter and the (term, seg, block_id) decode-cache keys)."""
    idx, new_corpus, changes, *_ = _setup(spark, tmp_path)
    apply_changes_to_index(spark, idx, new_corpus, changes, strategy="delta")
    q = BM25Query(spark, idx)
    queries = [(0, NEW_CONTENT), (1, "zzkraken parser"), (2, "getvalue buffer")]
    batch = q.topk_batch(queries, 10).collect()
    by_q = {}
    for r in batch:
        by_q.setdefault(int(r["query_id"]), []).append(
            (int(r["doc_id"]), round(float(r["score"]), 9))
        )
    for qid, qtext in queries:
        single = [(int(r["doc_id"]), round(float(r["score"]), 9))
                  for r in q.topk_pruned(qtext, 10).collect()]
        assert by_q.get(qid, []) == single, qtext


def test_delta_fold_equals_rebuild(spark, tmp_path):
    """Equivalence invariant: apply(delta) + fold ≡ apply(rebuild) on the
    same base and feed — identical live key→sha state and identical query
    scores (doc_ids may differ: the delta path mints new ids for changed
    docs; scores and ranks must not)."""
    import shutil

    idx_a, new_corpus, changes, *_ = _setup(spark, tmp_path)
    idx_b = str(tmp_path / "idx_b")
    shutil.copytree(idx_a, idx_b)

    apply_changes_to_index(spark, idx_a, new_corpus, changes, strategy="rebuild")
    apply_changes_to_index(spark, idx_b, new_corpus, changes, strategy="delta")
    fold_segments(spark, idx_b)

    state_a = {
        (r["repo"], r["path"]): r["content_sha256"]
        for r in spark.read.parquet(f"{idx_a}/docs").collect()
    }
    state_b = {
        (r["repo"], r["path"]): r["content_sha256"]
        for r in spark.read.parquet(f"{idx_b}/docs").collect()
    }
    assert state_a == state_b

    qa, qb = BM25Query(spark, idx_a), BM25Query(spark, idx_b)
    assert (qa.n_docs, round(qa.avgdl, 9)) == (qb.n_docs, round(qb.avgdl, 9))
    for qtext in [NEW_CONTENT, "zzkraken", "getvalue buffer parser"]:
        sa = sorted(round(float(r["score"]), 9) for r in qa.topk_pruned(qtext, 10).collect())
        sb = sorted(round(float(r["score"]), 9) for r in qb.topk_pruned(qtext, 10).collect())
        assert sa == sb, qtext


def test_tokenless_update_and_shard_emptying_fold(spark, tmp_path):
    """Two edges through the segment path: (a) a delta update whose new
    content tokenizes to NOTHING (doc survives with doc_len 0, never
    scores, old tokens dead); (b) a delta that deletes EVERY doc of one
    shard — after fold the shard's partitions and partials are gone."""
    from go_dcp_elasticsearch_spark.index.builder import read_stats_partials

    idx = str(tmp_path / "idx")
    corpus = synth_corpus(spark, 80)
    IndexBuilder(spark, idx, n_shards=4).build(corpus)
    docs0 = spark.read.parquet(f"{idx}/docs")
    # victim shard: empty it entirely; plus one token-less update elsewhere
    sh0 = docs0.filter(F.col("shard") == 0).select("repo", "path").collect()
    other = docs0.filter(F.col("shard") != 0).orderBy("doc_id").limit(1).collect()[0]
    upd_key = (other["repo"], other["path"])

    new_corpus = corpus.join(
        spark.createDataFrame(sh0, "repo string, path string"),
        ["repo", "path"], "left_anti",
    ).withColumn(
        "content",
        F.when(
            (F.col("repo") == upd_key[0]) & (F.col("path") == upd_key[1]),
            F.lit("!!! --- ..."),  # tokenizes to nothing
        ).otherwise(F.col("content")),
    )
    changes = spark.createDataFrame(
        [(r["repo"], r["path"], "delete", 500 + i) for i, r in enumerate(sh0)]
        + [(upd_key[0], upd_key[1], "index", 999)],
        "repo string, path string, action string, seq_no long",
    )
    out = apply_changes_to_index(spark, idx, new_corpus, changes, strategy="delta")
    assert out["n_docs"] == 80 - len(sh0)

    view = read_docs(spark, idx)
    urow = view.filter(
        (F.col("repo") == upd_key[0]) & (F.col("path") == upd_key[1])
    ).collect()
    assert len(urow) == 1 and int(urow[0]["doc_len"]) == 0
    assert view.filter(F.col("shard") == 0).count() == 0
    q = BM25Query(spark, idx)
    # the updated doc's OLD tokens are dead; its new content has none
    old_content = corpus.filter(
        (F.col("repo") == upd_key[0]) & (F.col("path") == upd_key[1])
    ).collect()[0]["content"]
    hits = {int(r["doc_id"]) for r in q.topk_pruned(old_content, 80).collect()}
    assert int(other["doc_id"]) not in hits

    fold_segments(spark, idx)
    import os as _os

    assert not _os.path.exists(f"{idx}/docs/shard=0")
    assert not _os.path.exists(f"{idx}/postings/shard=0")
    parts = read_stats_partials(spark, IndexPaths(idx))
    assert 0 not in parts
    _rank_check(spark, idx, new_corpus, ["getvalue buffer", "parser import"])


from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


@settings(
    max_examples=4, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    seed=st.integers(min_value=0, max_value=2**31 - 1),
    data=st.data(),
)
def test_delta_fold_equals_rebuild_property(spark, tmp_path_factory, seed, data):
    """Property fuzz of the round-5 core invariant: for a RANDOM feed of
    updates/deletes/inserts (random subset sizes, random key overlap,
    including token-less new content), apply(delta)+fold and
    apply(rebuild) produce the same live key→sha state, the same global
    stats, and the same query scores."""
    import random
    import shutil

    rng = random.Random(seed)
    n = rng.choice([40, 80])
    n_upd = data.draw(st.integers(min_value=0, max_value=8), label="n_upd")
    n_del = data.draw(st.integers(min_value=0, max_value=8), label="n_del")
    n_ins = data.draw(st.integers(min_value=0, max_value=4), label="n_ins")
    tokenless = data.draw(st.booleans(), label="tokenless_update")
    if n_upd + n_del + n_ins == 0:
        n_ins = 1

    base = tmp_path_factory.mktemp(f"prop{seed % 10000}")
    idx_a, idx_b = str(base / "a"), str(base / "b")
    corpus = synth_corpus(spark, n)
    IndexBuilder(spark, idx_a, n_shards=4).build(corpus)
    shutil.copytree(idx_a, idx_b)

    keys = [
        (r["repo"], r["path"])
        for r in spark.read.parquet(f"{idx_a}/docs")
        .select("repo", "path").orderBy("repo", "path").collect()
    ]
    rng.shuffle(keys)
    upd = keys[:n_upd]
    dele = keys[n_upd : n_upd + n_del]
    ins = [("orgP/prop", f"new{i}.py") for i in range(n_ins)]

    upd_content = "..." if tokenless else "zzpropupdated shared body"
    ins_rows = [
        (r, p, f"c{i}", "python", f"zzpropinserted item{i} parser", 7000 + i)
        for i, (r, p) in enumerate(ins)
    ]
    del_set = {f"{r}|{p}" for r, p in dele}
    upd_set = {f"{r}|{p}" for r, p in upd}
    tagged = F.concat_ws("|", "repo", "path")
    new_corpus = (
        corpus.filter(~tagged.isin(list(del_set)) if del_set else F.lit(True))
        .withColumn(
            "content",
            F.when(tagged.isin(list(upd_set)) if upd_set else F.lit(False),
                   F.lit(upd_content)).otherwise(F.col("content")),
        )
        .unionByName(spark.createDataFrame(
            ins_rows,
            "repo string, path string, commit string, lang string, content string, seq_no int",
        ))
    )
    feed_rows = (
        [(r, p, "index", 8000 + i) for i, (r, p) in enumerate(upd)]
        + [(r, p, "delete", 8100 + i) for i, (r, p) in enumerate(dele)]
        + [(r, p, "index", 8200 + i) for i, (r, p) in enumerate(ins)]
    )
    changes = spark.createDataFrame(
        feed_rows, "repo string, path string, action string, seq_no long"
    )

    apply_changes_to_index(spark, idx_a, new_corpus, changes, strategy="rebuild")
    apply_changes_to_index(spark, idx_b, new_corpus, changes, strategy="delta")
    fold_segments(spark, idx_b)

    state_a = {
        (r["repo"], r["path"]): (r["content_sha256"], int(r["doc_len"]))
        for r in spark.read.parquet(f"{idx_a}/docs").collect()
    }
    state_b = {
        (r["repo"], r["path"]): (r["content_sha256"], int(r["doc_len"]))
        for r in spark.read.parquet(f"{idx_b}/docs").collect()
    }
    assert state_a == state_b
    qa, qb = BM25Query(spark, idx_a), BM25Query(spark, idx_b)
    assert qa.n_docs == qb.n_docs
    assert abs(qa.avgdl - qb.avgdl) < 1e-9
    for qtext in ["zzpropupdated shared", "zzpropinserted parser", "getvalue buffer"]:
        sa = sorted(round(float(r["score"]), 9)
                    for r in qa.topk_pruned(qtext, 10).collect())
        sb = sorted(round(float(r["score"]), 9)
                    for r in qb.topk_pruned(qtext, 10).collect())
        assert sa == sb, (qtext, seed)


# ---------------------------------------------------------------------------
# fold commit protocol: kill-mid-fold injection (VERDICT r5 "what's wrong" #1)
# ---------------------------------------------------------------------------

FOLD_CRASH_POINTS = [
    "after_stage",    # staged output written, NO commit marker yet
    "after_marker",   # marker durable, nothing moved into the base
    "mid_commit",     # first dirty shard moved, rest pending
    "before_cleanup", # base fully folded, delta area still on disk
    "mid_cleanup",    # segments deleted, marker still present
]


def _doc_level_consistent(spark, idx, new_corpus):
    """Invariants that must hold after a crash at ANY fold point (readers
    recover a marker-committed fold automatically; a pre-marker crash
    leaves the pre-fold segments state): the live view equals the
    post-change source exactly and carries no duplicate doc_ids — the
    double-count hazard of the old delete-after-overwrite fold shows up
    here as extra/duplicated rows."""
    from go_dcp_elasticsearch_spark.index.verify import verify_index_against_source

    view = read_docs(spark, idx)
    assert view.count() == view.select("doc_id").distinct().count()
    rep = verify_index_against_source(spark, idx, new_corpus)
    assert rep["missing_in_index"] == 0
    assert rep["extra_in_index"] == 0
    assert rep["sha_mismatch"] == 0


@pytest.mark.parametrize("point", FOLD_CRASH_POINTS)
def test_fold_crash_recovery(spark, tmp_path, point):
    """Kill the fold at each protocol point; verify (a) no reader ever
    sees doubled postings/docs, (b) a re-run converges to the exact
    folded index (idempotent recovery), (c) ranks are oracle-exact."""
    from go_dcp_elasticsearch_spark.index import segments as segmod

    idx, new_corpus, changes, *_ = _setup(spark, tmp_path)
    apply_changes_to_index(spark, idx, new_corpus, changes, strategy="delta")

    segmod.FOLD_CRASHPOINT = point
    try:
        with pytest.raises(segmod.InjectedFoldCrash):
            fold_segments(spark, idx)
    finally:
        segmod.FOLD_CRASHPOINT = None

    # crashed state: doc-level consistency for any reader (list_segments
    # auto-recovers once the marker is durable; before the marker the
    # pre-fold segment state is authoritative)
    _doc_level_consistent(spark, idx, new_corpus)

    # re-run completes (or redoes) the fold; must be exact + idempotent
    fold_segments(spark, idx)
    assert not has_segments(spark, IndexPaths(idx))
    _doc_level_consistent(spark, idx, new_corpus)
    _rank_check(
        spark, idx, new_corpus,
        [NEW_CONTENT, "zzkraken", "getvalue buffer", "brandnewdocument"],
    )
    # conjunctive mode on the folded index: the doubled-postings bug
    # broke cnt == require_n outright — the unique updated doc must
    # surface exactly once
    q = BM25Query(spark, idx)
    hits = q.topk_pruned("quasarflux freshlyupdated", 10, mode="all").collect()
    assert len(hits) == 1
    # fold after fold is a no-op
    out = fold_segments(spark, idx)
    assert out == {"n_segments": 0, "dirty_shards": [], "n_tombstones": 0}


def test_fold_marker_commit_recovered_by_pure_reader(spark, tmp_path):
    """Once the COMMIT marker is durable, a plain READER (BM25Query
    refresh -> list_segments) completes the fold on its own — the Lucene
    recovery-on-open model — and serves oracle-exact post-fold ranks
    without fold_segments ever being re-invoked."""
    from go_dcp_elasticsearch_spark.fsutil import exists
    from go_dcp_elasticsearch_spark.index import segments as segmod

    idx, new_corpus, changes, *_ = _setup(spark, tmp_path)
    apply_changes_to_index(spark, idx, new_corpus, changes, strategy="delta")
    segmod.FOLD_CRASHPOINT = "after_marker"
    try:
        with pytest.raises(segmod.InjectedFoldCrash):
            fold_segments(spark, idx)
    finally:
        segmod.FOLD_CRASHPOINT = None
    assert exists(spark, segmod._fold_marker(IndexPaths(idx)))

    # reader path only — no explicit fold call
    _rank_check(spark, idx, new_corpus, [NEW_CONTENT, "zzkraken"])
    assert not exists(spark, segmod._fold_marker(IndexPaths(idx)))
    assert not has_segments(spark, IndexPaths(idx))


def test_force_fold_hard_cap(spark, tmp_path):
    """An apply that pushes the un-folded delta area past
    COMPACT_FORCE_FRACTION folds automatically on the BATCH path (the
    round-5 gap: the recommend fraction was a warning only, enforced by
    nothing outside streaming auto_fold, so the tombstone broadcast and
    segment listings could grow without bound)."""
    idx = str(tmp_path / "idx")
    n = 100
    corpus = synth_corpus(spark, n)
    IndexBuilder(spark, idx, n_shards=4).build(corpus)

    victims = spark.read.parquet(f"{idx}/docs").orderBy("doc_id").limit(40).collect()
    keys = {(r["repo"], r["path"]) for r in victims}
    tagged = F.concat_ws("|", "repo", "path")
    key_set = {f"{r}|{p}" for r, p in keys}
    new_corpus = corpus.withColumn(
        "content",
        F.when(
            tagged.isin(sorted(key_set)),
            F.concat(F.col("content"), F.lit(" zzhardcap")),
        ).otherwise(F.col("content")),
    )
    changes = spark.createDataFrame(
        [(r, p, "index", 5000 + i) for i, (r, p) in enumerate(sorted(keys))],
        "repo string, path string, action string, seq_no long",
    )
    # 40 updates = 80 physical delta rows >= 0.5 * 100 docs -> force fold
    with pytest.warns(UserWarning):
        out = apply_changes_to_index(
            spark, idx, new_corpus, changes, strategy="delta"
        )
    assert out["strategy"] == "delta"
    assert out["folded"] is True
    assert not has_segments(spark, IndexPaths(idx))
    # folded index is exact: full oracle rank identity on the new token
    _rank_check(spark, idx, new_corpus, ["zzhardcap", "getvalue buffer"])


def test_small_delta_does_not_force_fold(spark, tmp_path):
    """Control: an under-cap apply keeps its segment pending (folded=False)."""
    idx, new_corpus, changes, *_ = _setup(spark, tmp_path)
    out = apply_changes_to_index(spark, idx, new_corpus, changes, strategy="delta")
    assert out["folded"] is False
    assert has_segments(spark, IndexPaths(idx))


def test_many_segments_serving(spark, tmp_path):
    """N small delta applies WITHOUT folding: segments accumulate, every
    query remains oracle-exact across all of them (insert-only deltas so
    pre-fold df is exact), and under-cap applies never force-fold. The
    pressure analogue in bench.py (big_topk_multiseg_mean_sec) measures
    the serving cost of this state at 1M docs."""
    idx = str(tmp_path / "idx")
    corpus = synth_corpus(spark, 300)
    IndexBuilder(spark, idx, n_shards=4).build(corpus)

    state = corpus
    for j in range(10):
        ins = spark.createDataFrame(
            [
                (f"orgM/m{j}", f"f{i}.py", f"c{j}{i}", "python",
                 f"zzmseg{j} parser item{i}", 60000 + j * 10 + i)
                for i in range(5)
            ],
            "repo string, path string, commit string, lang string, "
            "content string, seq_no long",
        )
        state = state.unionByName(ins)
        changes = ins.select(
            "repo", "path", F.lit("index").alias("action"), "seq_no"
        )
        out = apply_changes_to_index(spark, idx, state, changes, strategy="delta")
        assert out["strategy"] == "delta"
        assert out["folded"] is False
    assert len(list_segments(spark, IndexPaths(idx))) == 10
    view = read_docs(spark, idx)
    assert view.count() == 350
    _rank_check(
        spark, idx, state, ["zzmseg3 parser", "zzmseg9 item4", "getvalue buffer"]
    )
    # fold across all ten segments at once stays exact
    summary = fold_segments(spark, idx)
    assert summary["n_segments"] == 10
    _rank_check(spark, idx, state, ["zzmseg3 parser", "getvalue buffer"])


def test_fold_lock_blocks_concurrent_recovery(spark, tmp_path):
    """While another LIVE session holds the fold commit lock, readers
    must not run recovery (two concurrent _commit_fold runs can destroy
    a freshly-renamed base shard: one deletes the dir the other just
    moved into place) and writers must abort loudly instead of
    clobbering the in-flight commit's stage/marker."""
    from go_dcp_elasticsearch_spark.fsutil import create_exclusive, delete_dir, exists
    from go_dcp_elasticsearch_spark.index import segments as segmod

    idx, new_corpus, changes, *_ = _setup(spark, tmp_path)
    apply_changes_to_index(spark, idx, new_corpus, changes, strategy="delta")
    paths = IndexPaths(idx)
    segmod.FOLD_CRASHPOINT = "after_marker"
    try:
        with pytest.raises(segmod.InjectedFoldCrash):
            fold_segments(spark, idx)
    finally:
        segmod.FOLD_CRASHPOINT = None
    # simulate a live concurrent committer: (re)take the released lock
    assert create_exclusive(spark, segmod._fold_lock(paths), "{}")
    # readers return without mutating: marker + segments stay put
    assert segmod.recover_pending_fold(spark, paths) is None
    assert exists(spark, segmod._fold_marker(paths))
    assert segmod._list_segments_raw(spark, paths)
    # writers abort instead of destroying the committer's state
    with pytest.raises(RuntimeError, match="fold commit is in progress"):
        fold_segments(spark, idx)
    with pytest.raises(RuntimeError, match="fold commit is in progress"):
        apply_changes_to_index(
            spark, idx, new_corpus, changes, strategy="delta"
        )
    # the holder finishes (releases): the next reader recovers normally
    delete_dir(spark, segmod._fold_lock(paths))
    assert segmod.recover_pending_fold(spark, paths) is not None
    assert not has_segments(spark, IndexPaths(idx))
    _doc_level_consistent(spark, idx, new_corpus)


def test_fold_lock_stale_is_stolen(spark, tmp_path, monkeypatch):
    """A lock left by a HARD-killed committer (no structured release) is
    stolen once older than FOLD_LOCK_TTL_SEC and recovery completes."""
    from go_dcp_elasticsearch_spark.fsutil import create_exclusive
    from go_dcp_elasticsearch_spark.index import segments as segmod

    idx, new_corpus, changes, *_ = _setup(spark, tmp_path)
    apply_changes_to_index(spark, idx, new_corpus, changes, strategy="delta")
    paths = IndexPaths(idx)
    segmod.FOLD_CRASHPOINT = "after_marker"
    try:
        with pytest.raises(segmod.InjectedFoldCrash):
            fold_segments(spark, idx)
    finally:
        segmod.FOLD_CRASHPOINT = None
    assert create_exclusive(spark, segmod._fold_lock(paths), "{}")
    monkeypatch.setattr(segmod, "FOLD_LOCK_TTL_SEC", 0.0)
    assert segmod.recover_pending_fold(spark, paths) is not None
    assert not has_segments(spark, IndexPaths(idx))
    _doc_level_consistent(spark, idx, new_corpus)


def test_fold_in_range_tombstone_leaves_other_terms_intact(spark, tmp_path):
    """r7 vectorized fold kernel: a block whose id RANGE contains a
    tombstoned id that is not actually IN the block (the lo<hi,
    keep.all() branch) must pass through unchanged, while a block that
    does contain the id is re-encoded without it."""
    idx = str(tmp_path / "idx")
    rows = []
    # every doc contains 'aacommon' (its block DOES contain the
    # tombstoned id -> re-encode branch); docs 0 and 2 additionally
    # share 'bbstraddle', whose block's id range [0, 2] CONTAINS the
    # tombstone id 1 without holding it -> the keep.all() branch.
    for i in range(30):
        extra = " bbstraddle" if i in (0, 2) else ""
        rows.append(
            ("r", f"p{i:03d}", f"c{i}", "py", f"aacommon filler{i}{extra}", i)
        )
    corpus = spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, "
              "content string, seq_no int"
    )
    IndexBuilder(spark, idx, n_shards=1).build(corpus)

    changes = spark.createDataFrame(
        [("r", "p001", "delete", 100)],
        "repo string, path string, action string, seq_no long",
    )
    new_corpus = corpus.filter(F.col("path") != "p001")
    out = apply_changes_to_index(
        spark, idx, new_corpus, changes, strategy="delta"
    )
    assert out["folded"] is False  # small delta: fold must still be pending
    out = fold_segments(spark, idx)
    assert out["n_tombstones"] == 1

    post = spark.read.parquet(f"{idx}/postings").collect()
    by_term = {}
    for r in post:
        by_term.setdefault(r["term"], []).append(r)
    assert "filler1" not in by_term  # the deleted doc's own term is gone
    import numpy as np

    from go_dcp_elasticsearch_spark.functions.codec import varbyte_decode

    def ids_of(term):
        out = []
        for r in sorted(by_term[term], key=lambda r: r["block_id"]):
            out += np.cumsum(
                varbyte_decode(bytes(r["ids_vb"])), dtype=np.uint64
            ).tolist()
        return out

    # keep.all() pass-through: range straddles the tombstone, ids intact
    assert ids_of("bbstraddle") == [0, 2]
    # re-encode branch: the common term dropped exactly id 1
    assert ids_of("aacommon") == [i for i in range(30) if i != 1]


def test_format_gate_refuses_before_any_write(spark, tmp_path):
    """One on-disk format: an index whose _meta/index.json is missing or
    carries another format_version is refused with a ValueError naming
    the found and the expected version, at query open and at every
    maintenance entry, before any file of the index is written."""
    import hashlib
    import json

    from go_dcp_elasticsearch_spark.index.builder import INDEX_FORMAT_VERSION

    idx, new_corpus, changes, *_ = _setup(spark, tmp_path, n=60, n_shards=2)
    # a pending segment, so fold and compact would have work to write
    apply_changes_to_index(spark, idx, new_corpus, changes, strategy="delta")
    assert has_segments(spark, IndexPaths(idx))
    meta_path = f"{idx}/_meta/index.json"
    with open(meta_path) as f:
        meta = json.load(f)

    def listing():
        out = []
        for d, _, fs in os.walk(idx):
            for name in fs:
                p = os.path.join(d, name)
                with open(p, "rb") as f:
                    digest = hashlib.sha256(f.read()).hexdigest()
                out.append((os.path.relpath(p, idx), os.stat(p).st_mtime_ns, digest))
        return sorted(out)

    entries = [
        lambda: BM25Query(spark, idx),
        lambda: apply_changes_to_index(spark, idx, new_corpus, changes),
        lambda: apply_changes_to_index(
            spark, idx, new_corpus, changes, strategy="delta"
        ),
        lambda: compact_index(spark, idx),
        lambda: fold_segments(spark, idx),
    ]
    for found in ("none", "4"):
        # the local FS checksum would reject a hand-edited file
        crc = os.path.join(os.path.dirname(meta_path), ".index.json.crc")
        if os.path.exists(crc):
            os.remove(crc)
        if found == "none":
            os.remove(meta_path)
        else:
            with open(meta_path, "w") as f:
                json.dump({**meta, "format_version": int(found)}, f)
        before = listing()
        for entry in entries:
            with pytest.raises(ValueError) as ei:
                entry()
            msg = str(ei.value)
            assert f"version {found}, expected {INDEX_FORMAT_VERSION}" in msg, msg
            assert idx in msg and "IndexBuilder.build" in msg, msg
            assert listing() == before
