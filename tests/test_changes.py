"""Change-feed application (B1-B4): upsert/delete/partial/script semantics,
LWW within feed, replay idempotency (the reference's at-least-once model)."""

from __future__ import annotations

import pandas as pd

from go_dcp_elasticsearch_spark.sources.changes import apply_changes


def _state(spark):
    return spark.createDataFrame(
        [("k1", "old1", "mA"), ("k2", "old2", "mB"), ("k3", "old3", "mC")],
        "key string, content string, meta string",
    )


def _apply(spark, state, changes_rows):
    changes = spark.createDataFrame(
        changes_rows, "key string, action string, content string, seq_no long"
    )
    out = apply_changes(state, changes, ["key"], "content", "seq_no")
    return {r["key"]: (r["content"], r["meta"]) for r in out.collect()}


def test_index_replaces_and_inserts(spark):
    got = _apply(spark, _state(spark), [("k1", "index", "new1", 1), ("k9", "index", "new9", 1)])
    assert got["k1"] == ("new1", "mA")  # replaced, meta kept
    assert got["k9"] == ("new9", None)  # inserted
    assert got["k2"] == ("old2", "mB")  # untouched


def test_delete_tombstones(spark):
    got = _apply(spark, _state(spark), [("k2", "delete", None, 1)])
    assert "k2" not in got
    assert set(got) == {"k1", "k3"}


def test_doc_update_upserts(spark):
    # doc_as_upsert (document.go:59-82): merge if exists, insert if absent
    got = _apply(
        spark, _state(spark),
        [("k3", "doc_update", "patched3", 1), ("k8", "doc_update", "fresh8", 1)],
    )
    assert got["k3"] == ("patched3", "mC")
    assert got["k8"] == ("fresh8", None)


def test_script_update(spark):
    # scripted_upsert (document.go:84-101): arbitrary per-doc transform
    def script(old: pd.Series, new: pd.Series) -> pd.Series:
        return old.fillna("") + "+" + new.fillna("")

    changes = spark.createDataFrame(
        [("k1", "script_update", "suffix", 1)],
        "key string, action string, content string, seq_no long",
    )
    out = apply_changes(_state(spark), changes, ["key"], "content", "seq_no", script=script)
    got = {r["key"]: r["content"] for r in out.collect()}
    assert got["k1"] == "old1+suffix"


def test_lww_within_feed(spark):
    # bulk.go:179-195: newest per key wins within one batch
    got = _apply(
        spark, _state(spark),
        [("k1", "index", "v1", 1), ("k1", "delete", None, 2), ("k1", "index", "v3", 3)],
    )
    assert got["k1"][0] == "v3"


def test_replay_idempotent(spark):
    # at-least-once: re-applying the same feed yields identical state
    feed = [("k1", "index", "new1", 5), ("k2", "delete", None, 6)]
    once = _apply(spark, _state(spark), feed)
    state2 = spark.createDataFrame(
        [(k, v[0], v[1]) for k, v in once.items()], "key string, content string, meta string"
    )
    twice = _apply(spark, state2, feed)
    assert once == twice


def test_json_field_merge_doc_update(spark):
    # B3 proper: partial JSON docs merge field-wise (ES doc_as_upsert)
    state = spark.createDataFrame(
        [("k1", '{"a":"1","b":"2"}', "m")], "key string, content string, meta string"
    )
    changes = spark.createDataFrame(
        [("k1", "doc_update", '{"b":"9","c":"3"}', 1),
         ("k2", "doc_update", '{"x":"y"}', 1)],
        "key string, action string, content string, seq_no long",
    )
    out = apply_changes(state, changes, ["key"], "content", "seq_no", json_doc_update=True)
    import json as _json

    got = {r["key"]: _json.loads(r["content"]) for r in out.collect()}
    assert got["k1"] == {"a": "1", "b": "9", "c": "3"}  # b overwritten, a kept
    assert got["k2"] == {"x": "y"}  # upsert path


def test_apply_changes_to_index_end_to_end(spark, tmp_path):
    """B1-B4 incremental maintenance: update + delete + insert -> only
    affected shards rebuilt; queries over the updated index are
    rank-identical to a FULL rebuild of the post-change corpus state
    (same doc ids preserved for survivors)."""
    from go_dcp_elasticsearch_spark.corpus import synth_corpus
    from go_dcp_elasticsearch_spark.functions.tokenizer import tokenize_py
    from go_dcp_elasticsearch_spark.functions.bm25 import bm25_oracle
    from go_dcp_elasticsearch_spark.index import BM25Query, IndexBuilder
    from go_dcp_elasticsearch_spark.sources.changes import apply_changes_to_index
    from pyspark.sql import functions as F

    idx = str(tmp_path / "idx")
    corpus = synth_corpus(spark, 200)
    IndexBuilder(spark, idx, n_shards=4).build(corpus)
    docs0 = spark.read.parquet(f"{idx}/docs")
    victims = docs0.orderBy("doc_id").limit(2).collect()
    upd_key = (victims[0]["repo"], victims[0]["path"])
    del_key = (victims[1]["repo"], victims[1]["path"])

    # post-change corpus: victim0 rewritten, victim1 dropped, one insert
    new_content = "quasarFlux quasarFlux freshlyUpdatedContent buffer"
    changed = (
        corpus.filter(~((F.col("repo") == del_key[0]) & (F.col("path") == del_key[1])))
        .withColumn(
            "content",
            F.when(
                (F.col("repo") == upd_key[0]) & (F.col("path") == upd_key[1]),
                F.lit(new_content),
            ).otherwise(F.col("content")),
        )
    )
    insert_row = spark.createDataFrame(
        [("orgZ/newrepo", "src/new.py", "c0ffee", "python",
          "brandNewDocument kraken_sentinel parser", 999)],
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
    out = apply_changes_to_index(spark, idx, new_corpus, changes)
    assert out["n_changed"] == 3
    assert out["n_docs"] == 200  # 200 - 1 delete + 1 insert

    # deleted doc gone, updated content sha refreshed, insert present
    docs1 = spark.read.parquet(f"{idx}/docs")
    assert docs1.filter(
        (F.col("repo") == del_key[0]) & (F.col("path") == del_key[1])
    ).count() == 0
    assert docs1.filter(F.col("repo") == "orgZ/newrepo").count() == 1

    # rank identity vs python oracle over the post-change state with the
    # index's own id mapping
    id_rows = docs1.select("doc_id", "repo", "path").join(
        new_corpus.select("repo", "path", "content"), ["repo", "path"]
    ).collect()
    docs_tokens = {int(r["doc_id"]): tokenize_py(r["content"]) for r in id_rows}
    q = BM25Query(spark, idx)
    for qtext in ["quasarFlux buffer", "kraken_sentinel", "getValue", new_content]:
        want = bm25_oracle(docs_tokens, tokenize_py(qtext), 10)
        got = [(int(r["doc_id"]), float(r["score"])) for r in q.topk_pruned(qtext, 10).collect()]
        assert [g[0] for g in got] == [w[0] for w in want], qtext
        for (gd, gs), (wd, ws) in zip(got, want):
            assert abs(gs - ws) < 1e-9


def test_incremental_refresh_is_o_delta(spark, tmp_path):
    """Round-4 scale fix: the dictionary/stats refresh after an
    incremental apply must touch ONLY the rebuilt shards' partial
    partitions. Physical assertion: the parquet files of every untouched
    shard's dictionary partition are bit-identical (names, sizes, mtimes)
    across the apply — a full re-aggregation would rewrite them all.
    (stats_shards is a single tiny file of n_shards rows rewritten
    wholesale; its O(delta) property is in the pruned INPUT reads.)
    Logical assertion: stats partials sum to the true globals."""
    import os

    from go_dcp_elasticsearch_spark.corpus import synth_corpus
    from go_dcp_elasticsearch_spark.index import BM25Query, IndexBuilder
    from go_dcp_elasticsearch_spark.sources.changes import apply_changes_to_index
    from pyspark.sql import functions as F

    idx = str(tmp_path / "idx_odelta")
    corpus = synth_corpus(spark, 200)
    IndexBuilder(spark, idx, n_shards=4).build(corpus)

    def _listing(table):
        out = {}
        root = f"{idx}/{table}"
        for d in os.listdir(root):
            if d.startswith("shard="):
                p = os.path.join(root, d)
                out[d] = sorted(
                    (f, os.stat(os.path.join(p, f)).st_size,
                     os.stat(os.path.join(p, f)).st_mtime_ns)
                    for f in os.listdir(p) if not f.startswith(".")
                )
        return out

    dict_before = _listing("dictionary")

    # update ONE existing doc (affects exactly its shard; no inserts)
    victim = spark.read.parquet(f"{idx}/docs").orderBy("doc_id").limit(1).collect()[0]
    key = (victim["repo"], victim["path"])
    new_corpus = corpus.withColumn(
        "content",
        F.when(
            (F.col("repo") == key[0]) & (F.col("path") == key[1]),
            F.lit("zzqodelta freshly minted content buffer"),
        ).otherwise(F.col("content")),
    )
    changes = spark.createDataFrame(
        [(key[0], key[1], "index", 10)],
        "repo string, path string, action string, seq_no long",
    )
    out = apply_changes_to_index(spark, idx, new_corpus, changes)
    assert out["insert_shards"] == []
    touched = {f"shard={s}" for s in out["affected_shards"]}
    assert len(touched) == 1

    dict_after = _listing("dictionary")
    for d in dict_before:
        if d not in touched:
            assert dict_after[d] == dict_before[d], f"dictionary {d} rewritten"
    for d in touched:
        assert dict_after[d] != dict_before[d], "touched shard not refreshed"

    # partials sum to the true globals (stats_shards is the single
    # source of truth; globals are derived at read time)
    from go_dcp_elasticsearch_spark.index.builder import IndexPaths, read_global_stats

    n_docs_g, avgdl_g = read_global_stats(spark, IndexPaths(idx))
    parts = spark.read.parquet(f"{idx}/stats_shards").agg(
        F.sum("n_docs").alias("n"), F.sum("sum_dl").alias("sd")
    ).collect()[0]
    assert n_docs_g == int(parts["n"]) == 200
    true_dl = int(
        spark.read.parquet(f"{idx}/docs").agg(F.sum("doc_len")).collect()[0][0]
    )
    assert int(parts["sd"]) == true_dl
    assert abs(avgdl_g - true_dl / 200) < 1e-12
    # and the updated content is queryable with correct df through the
    # aggregated dictionary view
    q = BM25Query(spark, idx)
    hits = q.with_meta(q.topk_pruned("zzqodelta", 5)).collect()
    assert [(r["repo"], r["path"]) for r in hits] == [key]


def test_merge_chunks_densify_sorts_overlapping_ranges():
    """Regression (round-2 advice): incremental rebuilds feed _merge_chunks
    chunks with OVERLAPPING doc-id ranges; the densify branch must sort by
    doc_id before re-encoding or in-block ids come out unsorted (negative
    delta gaps) and max_doc_id is wrong, silently skipping postings at
    query time."""
    import numpy as np
    import pandas as pd

    from go_dcp_elasticsearch_spark.functions.codec import (
        encode_blocks_bulk,
        varbyte_decode,
    )
    from go_dcp_elasticsearch_spark.index.builder import CHUNK_SCHEMA, IndexBuilder

    avgdl = 10.0

    def chunk_row(ids, tfs, dls):
        (ids_vb, tfs_vb, dls_vb, cnt, max_id, max_tf, tf_sum) = encode_blocks_bulk(
            np.array(ids), np.array(tfs), np.array(dls)
        )[0]
        tf_f = np.array(tfs, dtype=np.float64)
        dl_f = np.array(dls, dtype=np.float64)
        bmax = float((tf_f / (tf_f + 1.2 * (1 - 0.75 + 0.75 * dl_f / avgdl))).max())
        return ("t", 0, ids[0], ids_vb, tfs_vb, dls_vb, cnt, max_id, max_tf, tf_sum, bmax)

    cols = [f.name for f in CHUNK_SCHEMA.fields]
    # two chunks with interleaved id ranges: [3, 50] and [10]
    pdf = pd.DataFrame([chunk_row([3, 50], [2, 1], [9, 11]),
                        chunk_row([10], [5], [7])], columns=cols)
    b = IndexBuilder.__new__(IndexBuilder)
    out = pd.concat(list(b._merge_chunks()(iter([pdf]))), ignore_index=True)
    assert len(out) == 1  # densified into one block
    ids = np.cumsum(varbyte_decode(bytes(out["ids_vb"].iloc[0])), dtype=np.uint64)
    assert ids.tolist() == [3, 10, 50]
    tfs = varbyte_decode(bytes(out["tfs_vb"].iloc[0])).tolist()
    assert tfs == [2, 5, 1]  # payload permuted WITH the ids
    assert int(out["max_doc_id"].iloc[0]) == 50


def test_incremental_inserts_spread_and_compact(spark, tmp_path):
    """Round-2 scale fixes: (a) a large insert delta spreads over >1 NEW
    tail shard (no last-shard pile-up) with offset-based id assignment (no
    global window); (b) queries stay rank-identical to the python oracle;
    (c) compact_index merges the small tail shards and preserves ranks."""
    from pyspark.sql import functions as F

    from go_dcp_elasticsearch_spark.corpus import synth_corpus
    from go_dcp_elasticsearch_spark.functions.bm25 import bm25_oracle
    from go_dcp_elasticsearch_spark.functions.tokenizer import tokenize_py
    from go_dcp_elasticsearch_spark.index import BM25Query, IndexBuilder
    from go_dcp_elasticsearch_spark.sources.changes import (
        apply_changes_to_index,
        compact_index,
    )

    idx = str(tmp_path / "idx")
    corpus = synth_corpus(spark, 400)
    IndexBuilder(spark, idx, n_shards=4).build(corpus)

    # insert 250 new docs (vs target 100/shard -> ceil(250/100)=3 new shards)
    inserts = spark.createDataFrame(
        [(f"orgN/newrepo{i % 5}", f"src/n{i}.py", "c0ffee", "python",
          f"freshDoc{i} kraken_sentinel payload buffer localVar{i % 7}", 1000 + i)
         for i in range(250)],
        "repo string, path string, commit string, lang string, content string, seq_no int",
    )
    new_corpus = corpus.unionByName(inserts)
    changes = inserts.select("repo", "path", F.lit("index").alias("action"),
                             F.col("seq_no").cast("long"))
    out = apply_changes_to_index(spark, idx, new_corpus, changes)
    assert len(out["insert_shards"]) > 1, out
    assert out["n_docs"] == 650

    docs1 = spark.read.parquet(f"{idx}/docs")
    ins_shards = {
        int(r["shard"])
        for r in docs1.filter(F.col("repo").startswith("orgN/"))
        .select("shard").distinct().collect()
    }
    assert len(ins_shards) > 1
    # each shard still holds one contiguous id range (range invariant)
    rng = docs1.groupBy("shard").agg(
        F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi"),
        F.count("*").alias("c")
    ).collect()
    spans = sorted((int(r["lo"]), int(r["hi"]), int(r["c"])) for r in rng)
    for (lo, hi, c) in spans:
        assert hi - lo + 1 == c  # dense within shard
    for (a, b) in zip(spans, spans[1:]):
        assert a[1] < b[0]  # disjoint, ordered

    id_rows = docs1.select("doc_id", "repo", "path").join(
        new_corpus.select("repo", "path", "content"), ["repo", "path"]
    ).collect()
    docs_tokens = {int(r["doc_id"]): tokenize_py(r["content"]) for r in id_rows}

    def check_ranks():
        q = BM25Query(spark, idx)
        for qtext in ["kraken_sentinel buffer", "freshDoc7 payload", "getValue index"]:
            want = bm25_oracle(docs_tokens, tokenize_py(qtext), 10)
            got = [(int(r["doc_id"]), float(r["score"]))
                   for r in q.topk_pruned(qtext, 10).collect()]
            assert [g[0] for g in got] == [w[0] for w in want], qtext
            for (gd, gs), (wd, ws) in zip(got, want):
                assert abs(gs - ws) < 1e-9

    check_ranks()

    # compaction merges the 3 small tail shards; ranks unchanged
    summary = compact_index(spark, idx, target_docs_per_shard=200)
    assert summary["n_shards_after"] < summary["n_shards_before"]
    check_ranks()


def test_incremental_delete_whole_shard(spark, tmp_path):
    """Round-2 advice (medium): deleting EVERY doc of a shard must remove
    its partition directories — dynamic overwrite alone leaves the stale
    docs/postings queryable and corrupts n_docs/avgdl."""
    from pyspark.sql import functions as F

    from go_dcp_elasticsearch_spark.corpus import synth_corpus
    from go_dcp_elasticsearch_spark.index import BM25Query, IndexBuilder
    from go_dcp_elasticsearch_spark.sources.changes import apply_changes_to_index

    idx = str(tmp_path / "idx")
    corpus = synth_corpus(spark, 200)
    IndexBuilder(spark, idx, n_shards=4).build(corpus)
    docs0 = spark.read.parquet(f"{idx}/docs")
    victims = docs0.filter(F.col("shard") == 0).select("repo", "path").collect()
    assert victims
    deleted_ids = {int(r["doc_id"]) for r in
                   docs0.filter(F.col("shard") == 0).select("doc_id").collect()}
    changes = spark.createDataFrame(
        [(r["repo"], r["path"], "delete", 100) for r in victims],
        "repo string, path string, action string, seq_no long",
    )
    new_corpus = corpus.join(
        spark.createDataFrame([(r["repo"], r["path"]) for r in victims],
                              "repo string, path string"),
        ["repo", "path"], "left_anti",
    )
    out = apply_changes_to_index(spark, idx, new_corpus, changes)
    assert out["n_docs"] == 200 - len(victims)

    docs1 = spark.read.parquet(f"{idx}/docs")
    assert docs1.filter(F.col("shard") == 0).count() == 0
    assert docs1.count() == 200 - len(victims)
    post1 = spark.read.parquet(f"{idx}/postings")
    assert post1.filter(F.col("shard") == 0).count() == 0
    # stats reflect the deletion
    from go_dcp_elasticsearch_spark.index.builder import IndexPaths, read_global_stats

    assert read_global_stats(spark, IndexPaths(idx))[0] == 200 - len(victims)
    # no deleted doc id ever comes back from a query
    q = BM25Query(spark, idx)
    got = {int(r["doc_id"]) for r in q.topk_pruned("getValue buffer index", 50).collect()}
    assert not (got & deleted_ids)


def test_tail_shard_expr_exact_past_2_53(spark):
    """The insert-shard formula must be integer DIV, not double division:
    at ranks where rank*k exceeds 2^53 a double rounds and can land a doc
    in the wrong tail shard, breaking the contiguous-id-range invariant
    the pruned query path relies on. Checked against Python bigint math
    at synthetic ranks around and far past the 2^53 boundary."""
    from go_dcp_elasticsearch_spark.sources.changes import _tail_shard_expr

    n_shards, k_new = 64, 1024
    n_inserts = (1 << 50) + 12345  # ~10^15 inserts: the 10^12-file regime
    # ranks where float(rank*k)/n floors to the WRONG shard (found by
    # scanning the k shard boundaries; double ulp at 2^60 magnitude = 256
    # exceeds the boundary offset)
    bad = [19791209300185, 39582418600370, 79164837200740]
    ranks = [0, 1, n_inserts - 1, n_inserts // 2, *bad,
             *[r - 1 for r in bad], *[r + 1 for r in bad]]
    df = spark.createDataFrame([(r,) for r in ranks], "_rank long")
    got = {
        r["_rank"]: r["shard"]
        for r in df.select(
            "_rank", _tail_shard_expr(n_shards, k_new, n_inserts).alias("shard")
        ).collect()
    }
    for rank in ranks:
        want = n_shards + min((rank * k_new) // n_inserts, k_new - 1)
        assert got[rank] == want, (rank, got[rank], want)
    # and the old double formula IS wrong for these (long product cast to
    # double before dividing, as Spark's `/` on longs does)
    wrong = sum(
        1
        for rank in ranks
        if int(float(rank * k_new) / n_inserts)
        != min((rank * k_new) // n_inserts, k_new - 1)
    )
    assert wrong >= 3, "fixture no longer exercises the double-rounding regime"


def test_bm25query_refresh_after_maintenance(spark, tmp_path):
    """A handle held across apply_changes_to_index serves stale stats and
    a stale persisted dictionary; refresh() must re-snapshot everything so
    results equal a freshly constructed handle (ADVICE r2)."""
    from go_dcp_elasticsearch_spark.corpus import synth_corpus
    from go_dcp_elasticsearch_spark.index import BM25Query, IndexBuilder
    from go_dcp_elasticsearch_spark.sources.changes import apply_changes_to_index
    from pyspark.sql import functions as F

    idx = str(tmp_path / "idx_refresh")
    corpus = synth_corpus(spark, 120)
    IndexBuilder(spark, idx, n_shards=3).build(corpus)
    q = BM25Query(spark, idx)
    q.topk_pruned("getValue buffer", 5).collect()  # warms the dict cache

    upd = corpus.orderBy("repo", "path").limit(1).collect()[0]
    new_corpus = corpus.withColumn(
        "content",
        F.when(
            (F.col("repo") == upd["repo"]) & (F.col("path") == upd["path"]),
            F.lit("zephyrNovaToken zephyrNovaToken refreshed buffer"),
        ).otherwise(F.col("content")),
    )
    changes = spark.createDataFrame(
        [(upd["repo"], upd["path"], "index", 77)],
        "repo string, path string, action string, seq_no long",
    )
    apply_changes_to_index(spark, idx, new_corpus, changes)

    q.refresh()
    fresh = BM25Query(spark, idx)
    for qtext in ["zephyrNovaToken buffer", "getValue buffer"]:
        got = [(int(r["doc_id"]), round(float(r["score"]), 9))
               for r in q.topk_pruned(qtext, 10).collect()]
        want = [(int(r["doc_id"]), round(float(r["score"]), 9))
                for r in fresh.topk_pruned(qtext, 10).collect()]
        assert got == want, qtext
    assert q.n_docs == fresh.n_docs and abs(q.avgdl - fresh.avgdl) < 1e-12


def test_compact_splits_oversized_shard(spark, tmp_path):
    """compact_index also SPLITS a shard grown past split_factor*target
    (the routing-hot-shard remedy): pieces are count-balanced, straddling
    posting blocks are re-encoded, per-term df is preserved, and query
    ranks are identical before/after."""
    from pyspark.sql import functions as F

    from go_dcp_elasticsearch_spark.corpus import synth_corpus
    from go_dcp_elasticsearch_spark.functions.bm25 import bm25_oracle
    from go_dcp_elasticsearch_spark.functions.tokenizer import tokenize_py
    from go_dcp_elasticsearch_spark.index import BM25Query, IndexBuilder
    from go_dcp_elasticsearch_spark.sources.changes import compact_index

    idx = str(tmp_path / "idx_split")
    corpus = synth_corpus(spark, 300)
    # routing by repo: co-locates whole repos -> skewed shard sizes
    IndexBuilder(spark, idx, n_shards=3, routing_col="repo").build(corpus)
    docs0 = spark.read.parquet(f"{idx}/docs")
    counts0 = {
        int(r["shard"]): int(r["c"])
        for r in docs0.groupBy("shard").agg(F.count("*").alias("c")).collect()
    }
    from go_dcp_elasticsearch_spark.index.builder import global_dictionary

    dict0 = {
        r["term"]: (int(r["df"]), int(r["cf"]))
        for r in global_dictionary(spark, idx).collect()
    }
    id_rows = docs0.select("doc_id", "repo", "path").join(
        corpus.select("repo", "path", "content"), ["repo", "path"]
    ).collect()
    docs_tokens = {int(r["doc_id"]): tokenize_py(r["content"]) for r in id_rows}

    def check_ranks():
        q = BM25Query(spark, idx)
        for qtext in ["kraken_sentinel buffer", "getValue index", "parseInput"]:
            want = bm25_oracle(docs_tokens, tokenize_py(qtext), 10)
            got = [(int(r["doc_id"]), float(r["score"]))
                   for r in q.topk_pruned(qtext, 10).collect()]
            assert [g[0] for g in got] == [w[0] for w in want], qtext
            for (gd, gs), (wd, ws) in zip(got, want):
                assert abs(gs - ws) < 1e-9

    check_ranks()

    # force every shard oversized: tiny target -> all split
    target = 40
    summary = compact_index(spark, idx, target_docs_per_shard=target,
                            split_factor=1.5)
    assert summary["split"], summary
    assert summary["n_shards_after"] > summary["n_shards_before"]

    docs1 = spark.read.parquet(f"{idx}/docs")
    counts1 = {
        int(r["shard"]): int(r["c"])
        for r in docs1.groupBy("shard").agg(F.count("*").alias("c")).collect()
    }
    # doc set unchanged; every post-split shard is count-balanced
    # (no shard above ceil(source/m)+1 for its source's piece count)
    assert sum(counts1.values()) == sum(counts0.values())
    worst_allowed = max(
        -(-c // -(-c // target)) + 1 for c in counts0.values()
    )
    assert max(counts1.values()) <= worst_allowed, (counts0, counts1)
    assert len(counts1) == sum(-(-c // target) for c in counts0.values())

    # dictionary is invariant under splitting (df/cf don't change)
    dict1 = {
        r["term"]: (int(r["df"]), int(r["cf"]))
        for r in global_dictionary(spark, idx).collect()
    }
    assert dict1 == dict0
    # postings per-term totals also invariant
    p1 = spark.read.parquet(f"{idx}/postings")
    agg1 = {
        r["term"]: (int(r["df"]), int(r["cf"]))
        for r in p1.groupBy("term").agg(
            F.sum("count").alias("df"), F.sum("tf_sum").alias("cf")
        ).collect()
    }
    assert agg1 == dict0

    check_ranks()


def test_apply_to_empty_index_raises_clear_error(spark, tmp_path):
    """Round-4 guard: an incremental apply over an index whose docs table
    is empty has no id/shard authority to extend — it must raise a clear
    error, not a NoneType crash from the bounds collect."""
    import json
    import os

    import pytest

    from go_dcp_elasticsearch_spark.index.builder import INDEX_FORMAT_VERSION
    from go_dcp_elasticsearch_spark.sources.changes import apply_changes_to_index

    idx = str(tmp_path / "idx_empty")
    # a current-format _meta so the apply passes the format gate and
    # reaches the empty-docs check
    os.makedirs(f"{idx}/_meta")
    with open(f"{idx}/_meta/index.json", "w") as f:
        json.dump({"format_version": INDEX_FORMAT_VERSION}, f)
    # readable-but-empty docs table (schema-only parquet; a partitioned
    # empty write would produce no files at all and fail at read instead)
    spark.createDataFrame(
        [], "doc_id long, repo string, path string, commit string, lang string, "
        "content_sha256 string, doc_len long, shard int",
    ).write.parquet(f"{idx}/docs")
    changes = spark.createDataFrame(
        [("orgA/r", "src/a.py", "index", 1)],
        "repo string, path string, action string, seq_no long",
    )
    corpus = spark.createDataFrame(
        [("orgA/r", "src/a.py", "c0", "python", "fresh content", 1)],
        "repo string, path string, commit string, lang string, content string, seq_no long",
    )
    with pytest.raises(ValueError, match="empty"):
        apply_changes_to_index(spark, idx, corpus, changes)


def test_insert_sizing_uses_live_shards_after_label_holes(spark, tmp_path):
    """Round-4 guard: compaction merges leave label HOLES (group label =
    lowest member); tail-shard sizing must use the LIVE shard count, not
    max_label+1 (which shrank the target and minted extra tail shards),
    and new labels must mint past the max label."""
    from go_dcp_elasticsearch_spark.corpus import synth_corpus
    from go_dcp_elasticsearch_spark.index import IndexBuilder
    from go_dcp_elasticsearch_spark.sources.changes import (
        apply_changes_to_index,
        compact_index,
    )
    from pyspark.sql import functions as F

    idx = str(tmp_path / "idx_holes")
    corpus = synth_corpus(spark, 300)
    IndexBuilder(spark, idx, n_shards=6).build(corpus)
    # merge [0,1,2] and [3,4,5] -> live labels {0, 3}, holes 1,2,4,5
    summary = compact_index(spark, idx, target_docs_per_shard=150)
    labels = sorted(
        int(r["shard"]) for r in spark.read.parquet(f"{idx}/docs")
        .select("shard").distinct().collect()
    )
    assert labels == [0, 3], summary

    # insert 100 new docs: target = 300 docs / 2 LIVE shards = 150 ->
    # ONE tail shard (max_label+1 sizing would claim 6 shards, target 50,
    # and mint two); the tail label mints past the max label (3 -> 4)
    ins = [
        (f"orgH/h{i}", f"src/h{i}.py", "c0", "python",
         f"zzqhole{i} fresh buffer content", 1000 + i)
        for i in range(100)
    ]
    new_corpus = corpus.unionByName(spark.createDataFrame(
        ins, "repo string, path string, commit string, lang string, "
        "content string, seq_no long",
    ).withColumn("seq_no", F.col("seq_no").cast("int")))
    changes = spark.createDataFrame(
        [(r[0], r[1], "index", r[5]) for r in ins],
        "repo string, path string, action string, seq_no long",
    )
    out = apply_changes_to_index(spark, idx, new_corpus, changes)
    assert out["insert_shards"] == [4]
    assert out["n_docs"] == 400


def test_split_ingest_merge_rank_identity(spark, tmp_path):
    """ADVICE r3: after a split, shard label order no longer follows
    id-range order, so a later merge of consecutive LABELS can fuse
    non-adjacent doc-id ranges. The query path must not care (shards only
    partition docs): split -> incremental ingest -> merge, rank-identical
    to the python oracle at every step."""
    from go_dcp_elasticsearch_spark.corpus import synth_corpus
    from go_dcp_elasticsearch_spark.functions.bm25 import bm25_oracle
    from go_dcp_elasticsearch_spark.functions.tokenizer import tokenize_py
    from go_dcp_elasticsearch_spark.index import BM25Query, IndexBuilder
    from go_dcp_elasticsearch_spark.sources.changes import (
        apply_changes_to_index,
        compact_index,
    )
    from pyspark.sql import functions as F

    idx = str(tmp_path / "idx_sim")
    corpus = synth_corpus(spark, 240)
    IndexBuilder(spark, idx, n_shards=2).build(corpus)

    def check_ranks(current_corpus, label):
        docs = spark.read.parquet(f"{idx}/docs")
        id_rows = docs.select("doc_id", "repo", "path").join(
            current_corpus.select("repo", "path", "content"), ["repo", "path"]
        ).collect()
        toks = {int(r["doc_id"]): tokenize_py(r["content"]) for r in id_rows}
        q = BM25Query(spark, idx)
        for qtext in ["kraken_sentinel buffer", "getValue index", "zzqsim fresh"]:
            want = bm25_oracle(toks, tokenize_py(qtext), 10)
            got = [(int(r["doc_id"]), float(r["score"]))
                   for r in q.topk_pruned(qtext, 10).collect()]
            assert [g[0] for g in got] == [w[0] for w in want], (label, qtext)
            for (gd, gs), (wd, ws) in zip(got, want):
                assert abs(gs - ws) < 1e-9, (label, qtext)

    # 1. split both shards (tiny target) -> labels whose order no longer
    #    follows id ranges
    s1 = compact_index(spark, idx, target_docs_per_shard=40, split_factor=1.5)
    assert s1["split"], s1
    check_ranks(corpus, "after split")

    # 2. incremental ingest on the post-split layout
    ins = [
        (f"orgS/s{i}", f"src/s{i}.py", "c0", "python",
         f"zzqsim{i} zzqsim fresh buffer", 500 + i)
        for i in range(30)
    ]
    corpus2 = corpus.unionByName(spark.createDataFrame(
        ins, "repo string, path string, commit string, lang string, "
        "content string, seq_no long",
    ).withColumn("seq_no", F.col("seq_no").cast("int")))
    apply_changes_to_index(
        spark, idx, corpus2,
        spark.createDataFrame(
            [(r[0], r[1], "index", r[5]) for r in ins],
            "repo string, path string, action string, seq_no long",
        ),
    )
    check_ranks(corpus2, "after ingest")

    # 3. merge consecutive labels back (big target) — fuses non-adjacent
    #    id ranges into one shard
    s2 = compact_index(spark, idx, target_docs_per_shard=10_000)
    assert s2["rewritten"], s2
    assert s2["n_shards_after"] < s1["n_shards_after"] + len(
        spark.read.parquet(f"{idx}/docs").select("shard").distinct().collect()
    )
    check_ranks(corpus2, "after merge")


def test_routed_inserts_colocate_incrementally(spark, tmp_path):
    """Round-4 (B5 routing contract, document.go:16 / bulk.go:246-249): on
    a routing-placed index, an incremental INSERT lands in its routing
    shard (joining that shard's rebuild set) — not in a new tail shard —
    so every routing group stays fully co-located after ingest, and
    queries stay rank-identical to a routed FRESH build of the same
    post-change corpus."""
    from go_dcp_elasticsearch_spark.corpus import synth_corpus
    from go_dcp_elasticsearch_spark.index import BM25Query, IndexBuilder
    from go_dcp_elasticsearch_spark.sources.changes import apply_changes_to_index
    from pyspark.sql import functions as F

    idx = str(tmp_path / "idx_routed")
    n_shards = 4
    corpus = synth_corpus(spark, 200)
    IndexBuilder(spark, idx, n_shards=n_shards, routing_col="repo").build(corpus)

    # inserts: new files in EXISTING repos plus one brand-new repo
    repos = [r["repo"] for r in corpus.select("repo").distinct().limit(2).collect()]
    ins = [
        (repos[0], "src/zzqrouted_a.py", "c9", "python", "zzqrouted alpha buffer", 901),
        (repos[1], "src/zzqrouted_b.py", "c9", "python", "zzqrouted beta buffer", 902),
        ("orgR/brandnew", "src/zzqrouted_c.py", "c9", "python", "zzqrouted gamma buffer", 903),
    ]
    new_corpus = corpus.unionByName(spark.createDataFrame(
        ins, "repo string, path string, commit string, lang string, "
        "content string, seq_no long",
    ).withColumn("seq_no", F.col("seq_no").cast("int")))
    changes = spark.createDataFrame(
        [(r[0], r[1], "index", r[5]) for r in ins],
        "repo string, path string, action string, seq_no long",
    )
    out = apply_changes_to_index(spark, idx, new_corpus, changes)
    assert out["n_docs"] == 203

    docs = spark.read.parquet(f"{idx}/docs")
    # no tail shards minted: every insert shard is a routing shard
    assert all(s < n_shards for s in out["insert_shards"]), out
    # every routing group (incl. the inserted docs) occupies EXACTLY its
    # routing shard
    bad = docs.withColumn(
        "_want", F.pmod(F.hash(F.col("repo")), F.lit(n_shards)).cast("int")
    ).filter(F.col("shard") != F.col("_want")).count()
    assert bad == 0
    per_repo = docs.groupBy("repo").agg(
        F.count_distinct("shard").alias("ns")
    ).filter(F.col("ns") > 1).count()
    assert per_repo == 0

    # rank identity vs a routed FRESH build (fresh re-ranks doc ids ->
    # compare on (repo, path) identity)
    fresh = str(tmp_path / "idx_routed_fresh")
    IndexBuilder(spark, fresh, n_shards=n_shards, routing_col="repo").build(new_corpus)
    q_inc, q_fresh = BM25Query(spark, idx), BM25Query(spark, fresh)
    for qtext in ["zzqrouted buffer", "getValue parseInput", "kraken_sentinel"]:
        a = [
            (r["repo"], r["path"], round(float(r["score"]), 9))
            for r in q_inc.with_meta(q_inc.topk_pruned(qtext, 10))
            .orderBy(F.col("score").desc(), "repo", "path").collect()
        ]
        b = [
            (r["repo"], r["path"], round(float(r["score"]), 9))
            for r in q_fresh.with_meta(q_fresh.topk_pruned(qtext, 10))
            .orderBy(F.col("score").desc(), "repo", "path").collect()
        ]
        assert a == b, qtext


def test_bm25query_auto_refresh_on_epoch_change(spark, tmp_path):
    """Round-4: a held handle notices index mutations BY ITSELF — every
    mutation commits a lineage record, the record count is the index
    epoch, and each query checks it (one FS listing). No manual refresh:
    stale handles are an impossible state, mirroring Elasticsearch's
    searchable-after-refresh contract (bulk.go:284-318)."""
    from go_dcp_elasticsearch_spark.corpus import synth_corpus
    from go_dcp_elasticsearch_spark.index import BM25Query, IndexBuilder
    from go_dcp_elasticsearch_spark.sources.changes import (
        apply_changes_to_index,
        compact_index,
    )
    from pyspark.sql import functions as F

    idx = str(tmp_path / "idx_epoch")
    corpus = synth_corpus(spark, 120)
    IndexBuilder(spark, idx, n_shards=3).build(corpus)
    q = BM25Query(spark, idx)
    assert q.topk_pruned("zzqepochtoken", 5).count() == 0  # warms caches

    upd = corpus.orderBy("repo", "path").limit(1).collect()[0]
    new_corpus = corpus.withColumn(
        "content",
        F.when(
            (F.col("repo") == upd["repo"]) & (F.col("path") == upd["path"]),
            F.lit("zzqepochtoken zzqepochtoken planted buffer"),
        ).otherwise(F.col("content")),
    )
    apply_changes_to_index(
        spark, idx, new_corpus,
        spark.createDataFrame(
            [(upd["repo"], upd["path"], "index", 77)],
            "repo string, path string, action string, seq_no long",
        ),
    )
    # SAME handle, no manual refresh: post-change results served
    hits = q.with_meta(q.topk_pruned("zzqepochtoken", 5)).collect()
    assert [(r["repo"], r["path"]) for r in hits] == [(upd["repo"], upd["path"])]

    # compaction also bumps the epoch (shard set can change under the
    # handle's cached salts — exactly the stale-handle crash class)
    compact_index(spark, idx, target_docs_per_shard=10_000)
    hits = q.with_meta(q.topk_pruned("zzqepochtoken", 5)).collect()
    assert [(r["repo"], r["path"]) for r in hits] == [(upd["repo"], upd["path"])]


def test_tokenless_update_leaves_no_ghost_postings(spark, tmp_path):
    """Review r4: a rebuilt LIVE shard whose new content tokenizes to
    nothing emits zero postings rows, and dynamic overwrite alone would
    keep its stale postings/dictionary partition — serving ghost terms
    from the doc's pre-update content. The rebuild now clears every
    rebuilt shard's postings and dictionary partitions explicitly."""
    from go_dcp_elasticsearch_spark.corpus import synth_corpus
    from go_dcp_elasticsearch_spark.index import BM25Query, IndexBuilder
    from go_dcp_elasticsearch_spark.index.builder import IndexPaths, read_global_stats
    from go_dcp_elasticsearch_spark.index.verify import verify_index_against_source
    from go_dcp_elasticsearch_spark.sources.changes import apply_changes_to_index
    from pyspark.sql import functions as F

    idx = str(tmp_path / "idx_ghost")
    corpus = synth_corpus(spark, 60)
    IndexBuilder(spark, idx, n_shards=2).build(corpus)

    # the review scenario needs the WHOLE rebuilt shard to emit zero
    # postings rows: delete every doc of shard 0 except one survivor,
    # and update that survivor to punctuation-only content in the SAME
    # delta — the shard stays live (1 doc) but produces no postings, so
    # dynamic overwrite alone would keep the stale partition.
    shard0 = spark.read.parquet(f"{idx}/docs").filter(F.col("shard") == 0)         .orderBy("doc_id").collect()
    assert len(shard0) >= 2
    survivor = (shard0[0]["repo"], shard0[0]["path"])
    doomed = [(r["repo"], r["path"]) for r in shard0[1:]]
    q = BM25Query(spark, idx)
    # sanity: shard-0 content is currently retrievable
    assert q.topk_pruned("getValue buffer index", 50).count() > 0

    keep_pred = ~(
        (F.col("repo") == survivor[0]) & (F.col("path") == survivor[1])
    )
    for dk in doomed:
        keep_pred = keep_pred & ~(
            (F.col("repo") == dk[0]) & (F.col("path") == dk[1])
        )
    tokenless = corpus.filter(
        keep_pred | ((F.col("repo") == survivor[0]) & (F.col("path") == survivor[1]))
    ).withColumn(
        "content",
        F.when(
            (F.col("repo") == survivor[0]) & (F.col("path") == survivor[1]),
            F.lit("}}} --- ;;; !!!"),
        ).otherwise(F.col("content")),
    )
    changes = spark.createDataFrame(
        [(survivor[0], survivor[1], "index", 100)]
        + [(dk[0], dk[1], "delete", 101 + i) for i, dk in enumerate(doomed)],
        "repo string, path string, action string, seq_no long",
    )
    out = apply_changes_to_index(spark, idx, tokenless, changes)
    assert 0 in out["affected_shards"]

    # NO ghost postings: nothing from shard 0's old content resolves, and
    # no posting row for shard 0 exists at all
    post = spark.read.parquet(f"{idx}/postings")
    assert post.filter(F.col("shard") == 0).count() == 0
    from go_dcp_elasticsearch_spark.index.builder import global_dictionary

    ghost_docs = {int(r["doc_id"]) for r in shard0}
    got = {
        int(r["doc_id"])
        for r in q.topk_pruned("getValue buffer index", 50).collect()
    }
    assert not (got & ghost_docs)
    # the survivor itself is alive with doc_len 0 and correct sha
    vout = verify_index_against_source(spark, idx, tokenless)
    assert vout["sha_mismatch"] == 0 and vout["missing_in_index"] == 0
    assert vout["extra_in_index"] == 0
    assert read_global_stats(spark, IndexPaths(idx))[0] == 60 - len(doomed)


def test_split_tokenless_piece_leaves_no_ghost_postings(spark, tmp_path):
    """Review r4 pass 2: splitting a shard whose piece-0 (lowest doc ids)
    is all token-less emits ZERO postings rows for the KEPT label; dynamic
    overwrite alone would leave the entire pre-split postings partition in
    place, so the relabeled docs would score in TWO shards. The split now
    clears the source labels' postings partitions first."""
    from go_dcp_elasticsearch_spark.index import BM25Query, IndexBuilder
    from go_dcp_elasticsearch_spark.sources.changes import compact_index
    from pyspark.sql import functions as F

    idx = str(tmp_path / "idx_splitghost")
    # keys sort so the token-less docs take the LOWEST doc ids (piece 0)
    rows = [
        (f"a/r", f"p{i:02d}.py", "c0", "python", "}}} --- ;;; !!!", i)
        for i in range(5)
    ] + [
        (f"z/r", f"p{i:02d}.py", "c0", "python", "zzqsplitghost token buffer", 10 + i)
        for i in range(5)
    ]
    corpus = spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, "
        "content string, seq_no int",
    )
    IndexBuilder(spark, idx, n_shards=1).build(corpus)
    q = BM25Query(spark, idx)
    assert q.topk_pruned("zzqsplitghost", 10).count() == 5

    s = compact_index(spark, idx, target_docs_per_shard=5, split_factor=1.5)
    assert s["split"] == [0], s
    # the kept label's piece is all token-less: its postings partition
    # must be EMPTY, not the stale pre-split one
    post = spark.read.parquet(f"{idx}/postings")
    assert post.filter(F.col("shard") == 0).count() == 0
    # every hit appears once (no doc scored in two shards)
    hits = [int(r["doc_id"]) for r in q.topk_pruned("zzqsplitghost", 20).collect()]
    assert len(hits) == len(set(hits)) == 5
    from go_dcp_elasticsearch_spark.index.builder import global_dictionary

    assert {
        r["term"]: int(r["df"])
        for r in global_dictionary(spark, idx)
        .filter(F.col("term") == "zzqsplitghost").collect()
    } == {"zzqsplitghost": 5}
