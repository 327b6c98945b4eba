"""Snapshot-range incremental source (A1): versioned changelog over the
corpus mirror, Iceberg-style (start, end] incremental reads, and
checkpoint-resume replay (connector.go:186, bulk.go:320-332 parity)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from go_dcp_elasticsearch_spark.corpus import synth_corpus
from go_dcp_elasticsearch_spark.index import BM25Query, IndexBuilder
from go_dcp_elasticsearch_spark.sources.snapshots import (
    SnapshotStore,
    applied_snapshot_id,
    resume_apply,
)

CHANGE_SCHEMA = (
    "repo string, path string, action string, commit string, lang string, "
    "content string, seq_no long"
)


def _change(key, action, content, seq):
    return (key[0], key[1], action, "c1", "python", content, seq)


def _topk(q, text, k=10):
    return [
        (int(r["doc_id"]), round(float(r["score"]), 9))
        for r in q.topk_pruned(text, k).collect()
    ]


def test_snapshot_commit_read_apply_end_to_end(spark, tmp_path):
    """Ingest -> 2 snapshots of mutations -> read the range -> resume-apply
    -> queries rank-identical to an index maintained by direct applies."""
    idx = str(tmp_path / "idx_snap")
    corpus = synth_corpus(spark, 150)
    store = SnapshotStore(spark, idx)
    assert store.bootstrap(corpus) == 0
    IndexBuilder(spark, idx, n_shards=3).build(store.corpus_at_head())

    keys = [
        (r["repo"], r["path"])
        for r in corpus.select("repo", "path").orderBy("repo", "path").limit(3).collect()
    ]
    s1 = store.commit(spark.createDataFrame(
        [
            _change(keys[0], "index", "snapshotOneToken alpha buffer", 101),
            _change(keys[1], "delete", None, 102),
        ],
        CHANGE_SCHEMA,
    ))
    s2 = store.commit(spark.createDataFrame(
        [
            # net effect across the range: keys[0] ends at snapshotTwo
            _change(keys[0], "index", "snapshotTwoToken beta buffer", 201),
            _change(("orgN/new", "src/n.py"), "index", "freshInsertToken gamma", 202),
        ],
        CHANGE_SCHEMA,
    ))
    assert (s1, s2) == (1, 2)
    assert store.current_snapshot_id() == 2

    # range read is NET: newest action per key across (0, 2]
    feed = {
        (r["repo"], r["path"]): (r["action"], r["content"], r["snapshot_id"])
        for r in store.read_changes_between(0, 2).collect()
    }
    assert feed[keys[0]] == ("index", "snapshotTwoToken beta buffer", 2)
    assert feed[keys[1]][0] == "delete"
    assert feed[("orgN/new", "src/n.py")][0] == "index"
    # partial range (1, 2] excludes snapshot 1's delete
    part = {
        (r["repo"], r["path"])
        for r in store.read_changes_between(1, 2).collect()
    }
    assert keys[1] not in part and keys[0] in part

    out = resume_apply(spark, idx)
    assert out["from_snapshot"] == 0 and out["to_snapshot"] == 2
    assert applied_snapshot_id(idx) == 2

    # rank identity vs a FRESH build of the head state (fresh build
    # re-ranks doc ids, so compare on (repo, path) identity)
    fresh_idx = str(tmp_path / "idx_fresh")
    IndexBuilder(spark, fresh_idx, n_shards=3).build(
        store.corpus_at_head().withColumn("seq_no", F.col("seq_no").cast("int"))
    )
    q_inc = BM25Query(spark, idx)
    q_fresh = BM25Query(spark, fresh_idx)
    for qtext in ["snapshotTwoToken buffer", "freshInsertToken", "getValue buffer",
                  "snapshotOneToken"]:
        inc = [
            (r["repo"], r["path"], round(float(r["score"]), 9))
            for r in q_inc.with_meta(q_inc.topk_pruned(qtext, 10))
            .orderBy(F.col("score").desc(), "repo", "path").collect()
        ]
        fr = [
            (r["repo"], r["path"], round(float(r["score"]), 9))
            for r in q_fresh.with_meta(q_fresh.topk_pruned(qtext, 10))
            .orderBy(F.col("score").desc(), "repo", "path").collect()
        ]
        assert inc == fr, qtext


def test_resume_is_checkpointed_and_idempotent(spark, tmp_path):
    """Second resume with no new snapshots is a no-op; a later commit is
    picked up from the recorded checkpoint (replay-from-offset parity)."""
    idx = str(tmp_path / "idx_resume")
    corpus = synth_corpus(spark, 80)
    store = SnapshotStore(spark, idx)
    store.bootstrap(corpus)
    IndexBuilder(spark, idx, n_shards=2).build(store.corpus_at_head())

    key = [
        (r["repo"], r["path"])
        for r in corpus.select("repo", "path").orderBy("repo", "path").limit(1).collect()
    ][0]
    store.commit(spark.createDataFrame(
        [_change(key, "index", "zzqresumeone buffer", 11)], CHANGE_SCHEMA
    ))
    out1 = resume_apply(spark, idx)
    assert (out1["from_snapshot"], out1["to_snapshot"]) == (0, 1)
    out2 = resume_apply(spark, idx)
    assert (out2["from_snapshot"], out2["to_snapshot"]) == (1, 1)
    assert out2["n_changed"] == 0

    store.commit(spark.createDataFrame(
        [_change(key, "index", "zzqresumetwo buffer", 21)], CHANGE_SCHEMA
    ))
    out3 = resume_apply(spark, idx)
    assert (out3["from_snapshot"], out3["to_snapshot"]) == (1, 2)
    q = BM25Query(spark, idx)
    hits = q.with_meta(q.topk_pruned("zzqresumetwo", 5)).collect()
    assert [(r["repo"], r["path"]) for r in hits] == [key]
    assert q.topk_pruned("zzqresumeone", 5).count() == 0


def test_read_changes_between_guards(spark, tmp_path):
    store = SnapshotStore(spark, str(tmp_path / "idx_guard"))
    with pytest.raises(ValueError):
        store.read_changes_between(0, 0)
    with pytest.raises(ValueError):
        store.read_changes_between(2)  # head is 0


def test_zero_change_commit_and_empty_changelog_read(spark, tmp_path):
    """A zero-change commit is a metadata-only snapshot: no changelog
    partition is written (an empty write has no parquet data files and
    would brick later range reads with a schema-inference error), the
    snapshot id still advances, range reads across it return an empty
    typed feed, and resume over only-empty snapshots is a clean no-op."""
    idx = str(tmp_path / "idx_zero")
    corpus = synth_corpus(spark, 30)
    store = SnapshotStore(spark, idx)
    store.bootstrap(corpus)
    assert store.commit(spark.createDataFrame([], CHANGE_SCHEMA)) == 1
    assert store.current_snapshot_id() == 1

    out = store.read_changes_between(0, 1)
    assert out.count() == 0
    assert {"repo", "path", "action", "content", "seq_no", "snapshot_id"} <= set(
        out.columns
    )

    IndexBuilder(spark, idx, n_shards=2).build(store.corpus_at_head())
    res = resume_apply(spark, idx)
    assert res["n_changed"] == 0 and res["to_snapshot"] == 1
    assert applied_snapshot_id(idx) == 1

    # a later real commit reads fine across the empty snapshot
    key = [
        (r["repo"], r["path"])
        for r in corpus.select("repo", "path").orderBy("repo", "path").limit(1).collect()
    ][0]
    store.commit(spark.createDataFrame(
        [_change(key, "index", "zzqafterempty buffer", 31)], CHANGE_SCHEMA
    ))
    feed = store.read_changes_between(0, 2).collect()
    assert len(feed) == 1 and feed[0]["snapshot_id"] == 2


def test_commit_retry_is_idempotent(spark, tmp_path):
    """A crash between the changelog partition write and the meta append
    means a retried commit reuses the same snapshot id; the retry must
    clear the partial partition instead of appending the feed twice."""
    idx = str(tmp_path / "idx_retry")
    corpus = synth_corpus(spark, 30)
    store = SnapshotStore(spark, idx)
    store.bootstrap(corpus)
    key = [
        (r["repo"], r["path"])
        for r in corpus.select("repo", "path").orderBy("repo", "path").limit(1).collect()
    ][0]
    feed = spark.createDataFrame(
        [_change(key, "index", "zzqretry buffer", 11)], CHANGE_SCHEMA
    )
    # simulate the crashed first attempt: partition written, meta missing
    feed.withColumn("snapshot_id", F.lit(1)).write.mode("append").partitionBy(
        "snapshot_id"
    ).parquet(f"{idx}/_changelog")
    assert store.current_snapshot_id() == 0
    assert store.commit(feed) == 1
    assert store.read_changes_between(0, 1).count() == 1
    raw = spark.read.parquet(f"{idx}/_changelog")
    assert raw.filter(F.col("snapshot_id") == 1).count() == 1  # no duplicates


def test_deferred_apply_keeps_unapplied_inserts(spark, tmp_path):
    """Review regression (round 3): the mirror GC must not drop a
    committed-but-not-yet-APPLIED insert when a later commit touches the
    same bucket. n_buckets=1 forces every commit onto one bucket."""
    idx = str(tmp_path / "idx_gc")
    corpus = synth_corpus(spark, 60)
    store = SnapshotStore(spark, idx)
    store.bootstrap(corpus, n_buckets=1)
    IndexBuilder(spark, idx, n_shards=2).build(store.corpus_at_head())

    new_key = ("orgG/gc", "src/gc.py")
    store.commit(spark.createDataFrame(
        [_change(new_key, "index", "zzqgcinsert buffer", 11)], CHANGE_SCHEMA
    ))
    # second commit touches the SAME (only) bucket with a different key
    other = [
        (r["repo"], r["path"])
        for r in corpus.select("repo", "path").orderBy("repo", "path").limit(1).collect()
    ][0]
    store.commit(spark.createDataFrame(
        [_change(other, "index", "zzqgcupdate buffer", 21)], CHANGE_SCHEMA
    ))
    # the unapplied insert must still be in the head mirror
    head_keys = {
        (r["repo"], r["path"]) for r in store.corpus_at_head().collect()
    }
    assert new_key in head_keys
    resume_apply(spark, idx)
    q = BM25Query(spark, idx)
    hits = q.with_meta(q.topk_pruned("zzqgcinsert", 5)).collect()
    assert [(r["repo"], r["path"]) for r in hits] == [new_key]


def test_mirror_emptied_bucket_removed_and_int32_migrated(spark, tmp_path):
    """A bucket whose every key was deleted loses its partition dir (the
    old dynamic-overwrite space leak), and the mirror keeps its 64-bit
    seq_no across the upsert. (An int32 mirror is refused, not migrated:
    test_int32_seq_mirror_refused_before_write.)"""
    import os

    from go_dcp_elasticsearch_spark.streaming.pipeline import (
        _bucket_expr,
        upsert_corpus_mirror,
        write_corpus_mirror,
    )

    idx = str(tmp_path / "idx_buckets")
    corpus = synth_corpus(spark, 40).limit(40)
    n_buckets = 2
    write_corpus_mirror(spark, idx, corpus, n_buckets=n_buckets)

    # delete EVERY key of bucket 0, update one key of bucket 1
    keyed = corpus.withColumn("_b", _bucket_expr(["repo", "path"], n_buckets))
    b0_keys = [(r["repo"], r["path"]) for r in
               keyed.filter(F.col("_b") == 0).select("repo", "path").collect()]
    b1_key = [(r["repo"], r["path"]) for r in
              keyed.filter(F.col("_b") == 1).select("repo", "path").limit(1).collect()][0]
    assert b0_keys, "fixture has no bucket-0 keys"
    feed = spark.createDataFrame(
        [(k[0], k[1], "delete", "c", "py", None, 100 + i) for i, k in enumerate(b0_keys)]
        + [(b1_key[0], b1_key[1], "index", "c", "py", "updated content", 999)],
        CHANGE_SCHEMA,
    )
    upsert_corpus_mirror(spark, idx, feed, ["repo", "path"])

    assert not os.path.exists(f"{idx}/_corpus/_bucket=0")
    mirror = spark.read.parquet(f"{idx}/_corpus")
    assert dict(mirror.dtypes)["seq_no"] == "bigint"
    rows = {(r["repo"], r["path"]): r["content"] for r in mirror.collect()}
    assert rows[b1_key] == "updated content"
    assert all(k not in rows for k in b0_keys)


def test_int32_seq_mirror_refused_before_write(spark, tmp_path):
    """A mirror whose seq_no is int32 (the retired pre-bootstrap-cast
    layout) is refused by upsert_corpus_mirror with a ValueError naming
    the type, before anything under the index dir is written."""
    import os

    from go_dcp_elasticsearch_spark.streaming.pipeline import (
        _bucket_expr,
        upsert_corpus_mirror,
    )

    idx = str(tmp_path / "idx_int32")
    corpus = synth_corpus(spark, 20)
    n_buckets = 2
    corpus.withColumn("_bucket", _bucket_expr(["repo", "path"], n_buckets)) \
        .write.partitionBy("_bucket").parquet(f"{idx}/_corpus")
    assert dict(spark.read.parquet(f"{idx}/_corpus").dtypes)["seq_no"] == "int"
    key = corpus.select("repo", "path").limit(1).collect()[0]
    feed = spark.createDataFrame(
        [(key["repo"], key["path"], "index", "c", "py", "new content", 7)],
        CHANGE_SCHEMA,
    )

    def listing():
        return sorted(
            (os.path.relpath(os.path.join(d, f), idx),
             os.stat(os.path.join(d, f)).st_size,
             os.stat(os.path.join(d, f)).st_mtime_ns)
            for d, _, fs in os.walk(idx) for f in fs
        )

    before = listing()
    with pytest.raises(ValueError, match="seq_no is int, expected bigint"):
        upsert_corpus_mirror(spark, idx, feed, ["repo", "path"], n_buckets=n_buckets)
    assert listing() == before


def test_store_metadata_via_hadoop_fs_uri(spark, tmp_path):
    """The commit log goes through the Hadoop FS layer: a store addressed
    by a file:// URI (the local stand-in for hdfs:// / s3a://) works
    end-to-end — bootstrap, commit, range read, resume-apply, retention —
    with no driver-local os.path/open on store paths. On a real cluster
    this is what keeps the checkpoint NEXT TO THE DATA (the reference
    persists its checkpoint in the metadata bucket, connector.go:186)."""
    import os

    idx = f"file://{tmp_path}/idx_uri"
    corpus = synth_corpus(spark, 40)
    store = SnapshotStore(spark, idx)
    assert store.bootstrap(corpus) == 0
    IndexBuilder(spark, idx, n_shards=2).build(store.corpus_at_head())

    key = [
        (r["repo"], r["path"])
        for r in corpus.select("repo", "path").orderBy("repo", "path").limit(1).collect()
    ][0]
    assert store.commit(spark.createDataFrame(
        [_change(key, "index", "zzquristore buffer", 11)], CHANGE_SCHEMA
    )) == 1
    assert store.current_snapshot_id() == 1
    assert store.read_changes_between(0, 1).count() == 1

    out = resume_apply(spark, idx)
    assert (out["from_snapshot"], out["to_snapshot"]) == (0, 1)
    assert applied_snapshot_id(idx, spark) == 1
    q = BM25Query(spark, idx)
    hits = q.with_meta(q.topk_pruned("zzquristore", 5)).collect()
    assert [(r["repo"], r["path"]) for r in hits] == [key]
    # metadata records physically live under the store dir (per-record
    # files, no appended driver-local jsonl)
    local = str(tmp_path / "idx_uri")
    assert any(f.startswith("rec-") for f in os.listdir(f"{local}/_snapshots"))
    assert any(f.startswith("rec-") for f in os.listdir(f"{local}/_lineage"))
    assert store.expire_snapshots(keep_after=1) == [1]


def test_expire_snapshots_retention(spark, tmp_path):
    """Iceberg-style retention: expired changelog partitions are deleted
    (directory-level, no data rewrite); range reads over an expired base
    fail loudly; reads above it still work; head mirror is unaffected."""
    import os

    idx = str(tmp_path / "idx_expire")
    corpus = synth_corpus(spark, 50)
    store = SnapshotStore(spark, idx)
    store.bootstrap(corpus)
    keys = [
        (r["repo"], r["path"])
        for r in corpus.select("repo", "path").orderBy("repo", "path").limit(3).collect()
    ]
    for i, k in enumerate(keys):
        store.commit(spark.createDataFrame(
            [_change(k, "index", f"zzqexpire{i} buffer", 10 + i)], CHANGE_SCHEMA
        ))
    assert store.current_snapshot_id() == 3

    expired = store.expire_snapshots(keep_after=2)
    assert expired == [1, 2]
    assert not os.path.exists(f"{idx}/_changelog/snapshot_id=1")
    assert not os.path.exists(f"{idx}/_changelog/snapshot_id=2")
    assert os.path.exists(f"{idx}/_changelog/snapshot_id=3")
    # idempotent
    assert store.expire_snapshots(keep_after=2) == []
    assert store.current_snapshot_id() == 3  # markers don't confuse metadata

    # range over the surviving tail works; over the expired base: loud error
    assert store.read_changes_between(2, 3).count() == 1
    with pytest.raises(ValueError, match="expired"):
        store.read_changes_between(0, 3)
    # head mirror still holds every committed change
    head = {
        (r["repo"], r["path"]): r["content"]
        for r in store.corpus_at_head().collect()
    }
    for i, k in enumerate(keys):
        assert head[k] == f"zzqexpire{i} buffer"


def test_apply_accepts_mirror_frame_with_bucket_column(spark, tmp_path):
    """apply_changes_to_index accepts the bucketed mirror frame (the
    resume/streaming deployment shape) and produces results identical to
    a plain bucket-less frame. (Round-4 review: bucket-PRUNING the
    content join was reverted — a rebuild needs every key of the rebuilt
    shards, whose hashes touch all buckets, and pruning with a foreign
    modulus would silently drop content — so the contract here is
    accept-and-drop, not prune.)"""
    from go_dcp_elasticsearch_spark.sources.changes import apply_changes_to_index

    def build_and_apply(root, corpus_frame_fn):
        store = SnapshotStore(spark, root)
        store.bootstrap(corpus, n_buckets=16)
        IndexBuilder(spark, root, n_shards=4).build(store.corpus_at_head())
        store.commit(spark.createDataFrame(
            [_change(key, "index", "zzqprune planted buffer", 44)], CHANGE_SCHEMA
        ))
        apply_changes_to_index(
            spark, root, corpus_frame_fn(store),
            store.read_changes_between(0, 1).select("repo", "path", "action", "seq_no"),
        )
        return BM25Query(spark, root)

    corpus = synth_corpus(spark, 120)
    key = [
        (r["repo"], r["path"])
        for r in corpus.select("repo", "path").orderBy("repo", "path").limit(1).collect()
    ][0]
    q1 = build_and_apply(
        str(tmp_path / "idx_withb"), lambda s: s.corpus_at_head(with_bucket=True)
    )
    q2 = build_and_apply(str(tmp_path / "idx_plain"), lambda s: s.corpus_at_head())
    a = [(r["repo"], r["path"], round(float(r["score"]), 9))
         for r in q1.with_meta(q1.topk_pruned("zzqprune buffer", 10))
         .orderBy(F.col("score").desc(), "repo", "path").collect()]
    b = [(r["repo"], r["path"], round(float(r["score"]), 9))
         for r in q2.with_meta(q2.topk_pruned("zzqprune buffer", 10))
         .orderBy(F.col("score").desc(), "repo", "path").collect()]
    assert a == b
    assert [(r["repo"], r["path"]) for r in
            q1.with_meta(q1.topk_pruned("zzqprune", 5)).collect()] == [key]
