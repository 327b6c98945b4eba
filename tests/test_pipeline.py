"""Pipeline-state protocol: lineage resume, rejection log, metrics —
parity with the reference's checkpoint/dead-letter/counter semantics."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from go_dcp_elasticsearch_spark.corpus import synth_corpus
from go_dcp_elasticsearch_spark.index import IndexBuilder
from go_dcp_elasticsearch_spark.plans.lineage import LineageLog
from go_dcp_elasticsearch_spark.plans.metrics import MetricsLog
from go_dcp_elasticsearch_spark.plans.rejects import RejectionLog
from go_dcp_elasticsearch_spark.sources.changes import incremental_index_delta


def test_lineage_commit_and_read(spark, tmp_index_dir):
    log = LineageLog(spark, f"{tmp_index_dir}/_lineage")
    log.commit("stage_a", 0, 100)
    log.commit("stage_a", 1, 50)
    log.commit("stage_b", 0, 10)
    assert log.completed_stages() == {"stage_a", "stage_b"}
    assert log.completed_partitions("stage_a") == {0, 1}
    df = log.read()
    assert df.count() == 3
    assert set(df.columns) == {"stage", "partition_id", "rows_out", "run_id", "committed_at"}


def test_resume_skips_only_committed_stages(spark, tmp_index_dir):
    """Crash-mid-build simulation: drop the postings+dictionary lineage
    records; resume must rebuild exactly those stages and produce the same
    index (idempotent partition overwrite, reference replay model)."""
    corpus = synth_corpus(spark, 150)
    b = IndexBuilder(spark, tmp_index_dir, n_shards=2)
    b.build(corpus)
    dict_before = sorted(map(tuple, spark.read.parquet(b.paths.dictionary).collect()))

    # lineage is one immutable file per record: drop the records whose
    # stage is postings/dictionary (crash before those commits landed)
    lineage_dir = f"{tmp_index_dir}/_lineage"
    for fn in os.listdir(lineage_dir):
        if not fn.startswith("rec-"):
            continue  # skip the local filesystem's hidden .crc files
        rec = json.loads(open(os.path.join(lineage_dir, fn)).read())
        if rec["stage"] not in ("docs", "stats"):
            os.remove(os.path.join(lineage_dir, fn))

    b2 = IndexBuilder(spark, tmp_index_dir, n_shards=2)
    b2.build(corpus, resume=True)
    assert b2.lineage.completed_stages() >= {"docs", "stats", "postings", "dictionary"}
    dict_after = sorted(map(tuple, spark.read.parquet(b2.paths.dictionary).collect()))
    assert dict_before == dict_after


def test_rejection_log(spark, tmp_index_dir):
    # rejection_log_sink_response_handler.go:105-111 schema parity
    rej = RejectionLog(spark, f"{tmp_index_dir}/_rejects", include_source=True)
    failed = spark.createDataFrame(
        [("k1", "idx_a", "index", "boom", "{...}"), ("k2", "idx_a", "delete", "gone", None)],
        "doc_key string, index_name string, action string, error string, source string",
    )
    rej.append(failed)
    got = {r["doc_key"]: (r["action"], r["error"], r["source"]) for r in rej.read().collect()}
    assert got["k1"] == ("index", "boom", "{...}")
    assert got["k2"] == ("delete", "gone", None)

    # include_source=False drops the body (reference's IncludeSource toggle)
    rej2 = RejectionLog(spark, f"{tmp_index_dir}/_rejects2", include_source=False)
    rej2.append(failed)
    assert all(r["source"] is None for r in rej2.read().collect())


def test_metrics_counters(spark, tmp_index_dir):
    m = MetricsLog(spark, f"{tmp_index_dir}/_metrics")
    m.record("sink", "idx_a", "index", "success", 90, 12.5)
    m.record("sink", "idx_a", "index", "error", 10, 12.5)
    df = m.read()
    got = {
        (r["action"], r["result"]): r["count"]
        for r in df.filter(F.col("stage") == "sink").collect()
    }
    # {index,delete} x {success,error} counter shape (bulk.go:572-594)
    assert got == {("index", "success"): 90, ("index", "error"): 10}

    actions = spark.createDataFrame(
        [("idx_a", "index", "success")] * 3 + [("idx_b", "delete", "error")],
        "index_name string, action string, result string",
    )
    m.record_counts(actions, stage="bulk")
    got2 = {
        (r["index_name"], r["action"], r["result"]): r["count"]
        for r in m.read().filter(F.col("stage") == "bulk").collect()
    }
    assert got2 == {("idx_a", "index", "success"): 3, ("idx_b", "delete", "error"): 1}


def test_incremental_delta_identifies_shards(spark, tmp_index_dir):
    corpus = synth_corpus(spark, 100)
    b = IndexBuilder(spark, tmp_index_dir, n_shards=4)
    b.build(corpus)
    docs = spark.read.parquet(b.paths.docs)
    victim = docs.limit(1).collect()[0]
    changes = spark.createDataFrame(
        [(victim["repo"], victim["path"], "index", "new content", 99)],
        "repo string, path string, action string, content string, seq_no long",
    )
    out = incremental_index_delta(spark, tmp_index_dir, changes, ["repo", "path"])
    assert out["n_changed"] == 1
    assert out["affected_shards"] == [victim["shard"]]


def test_build_metrics_written(spark, tmp_index_dir):
    b = IndexBuilder(spark, tmp_index_dir, n_shards=2)
    b.build(synth_corpus(spark, 80))
    recs = b.metrics.read().collect()
    assert any(r["stage"] == "build" and r["result"] == "success" for r in recs)
    # one immutable record file per commit (Hadoop-FS metadata layout)
    assert any(
        fn.startswith("rec-") for fn in os.listdir(f"{tmp_index_dir}/_metrics")
    )


def test_record_log_compaction(spark, tmp_index_dir, monkeypatch):
    """Review r4: per-record metadata files must not grow one-file-per-
    commit forever — past COMPACT_THRESHOLD they fold into a checkpoint
    (total carried in the file name so count() stays one listing), with
    records()/count() identical across the compaction."""
    import go_dcp_elasticsearch_spark.metadata as md

    monkeypatch.setattr(md, "COMPACT_THRESHOLD", 10)
    path = f"{tmp_index_dir}/_lineage"
    log = LineageLog(spark, path)
    for i in range(25):
        log.commit(f"s{i}", i, 1)

    names = os.listdir(path)
    n_rec = sum(1 for n in names if n.startswith("rec-"))
    n_ckpt = sum(1 for n in names if n.startswith("ckpt-"))
    assert n_ckpt >= 1 and n_rec <= 10, names
    stages = log.completed_stages()
    assert {f"s{i}" for i in range(25)} <= stages
    assert log.record_count() == 25
    # count stays monotone across a fresh reader and further commits
    log2 = LineageLog(spark, path)
    assert log2.record_count() == 25
    log2.commit("after", 99, 1)
    assert log2.record_count() == 26


def test_record_log_refuses_appended_jsonl(spark, tmp_index_dir):
    """The retired appended-log layout (``lineage.jsonl`` next to the
    per-record files) is refused on every read, count and append, naming
    the directory and the file; the append refuses before writing."""
    import pytest

    path = f"{tmp_index_dir}/_lineage"
    log = LineageLog(spark, path)
    log.commit("docs", 0, 1)
    with open(f"{path}/lineage.jsonl", "w") as f:
        f.write(json.dumps({"stage": "old", "partition_id": 0, "rows_out": 1,
                            "run_id": "old", "committed_at": "t"}) + "\n")
    before = sorted(os.listdir(path))
    for call in (
        lambda: LineageLog(spark, path).read(),
        lambda: LineageLog(spark, path).completed_stages(),
        log.record_count,
        log._log.count,
        lambda: log.commit("postings", 0, 1),
    ):
        with pytest.raises(ValueError, match="lineage.jsonl") as ei:
            call()
        assert path in str(ei.value)
    assert sorted(os.listdir(path)) == before


def test_record_log_crash_between_ckpt_and_deletes(spark, tmp_index_dir, monkeypatch):
    """Compaction crash window (round-5, VERDICT item 6): the checkpoint
    is durable but the superseded rec files were NOT deleted. Contract
    (metadata.py docstring): reads de-duplicate by record name — no
    duplicate records ever surface; count() may briefly OVER-count
    (ckpt total + leftover rec files) but stays monotonic, and the next
    compaction heals it to exact."""
    import go_dcp_elasticsearch_spark.fsutil as fsutil
    import go_dcp_elasticsearch_spark.metadata as md

    monkeypatch.setattr(md, "COMPACT_THRESHOLD", 10)
    path = f"{tmp_index_dir}/_log"
    log = md.RecordLog(spark, path)
    for i in range(10):
        log.append({"v": i})
    # crash simulation: checkpoint lands, every delete is lost
    real_delete = fsutil.delete_dir
    monkeypatch.setattr(fsutil, "delete_dir", lambda *a, **k: True)
    log.append({"v": 10})  # 11 > threshold -> compaction with deletes lost
    names = os.listdir(path)
    assert sum(1 for n in names if n.startswith("ckpt-")) == 1
    assert sum(1 for n in names if n.startswith("rec-")) == 11  # leftovers

    # reads: exactly the 11 records, no duplicates, from ANY reader
    fresh = md.RecordLog(spark, path)
    recs = fresh.records()
    assert sorted(r["v"] for r in recs) == list(range(11))
    # count over-counts (11 ckpt + 11 leftover) but NEVER under-counts —
    # an epoch consumer just sees one extra refresh
    over = fresh.count()
    assert over == 22
    # heal: with deletes working again, the next compaction de-duplicates
    monkeypatch.setattr(fsutil, "delete_dir", real_delete)
    log.append({"v": 11})  # 12 rec files > threshold -> compact + delete
    healed = md.RecordLog(spark, path)
    assert sorted(r["v"] for r in healed.records()) == list(range(12))
    assert healed.count() == 12
    assert sum(1 for n in os.listdir(path) if n.startswith("rec-")) == 0


def test_record_log_two_concurrent_writers(spark, tmp_index_dir, monkeypatch):
    """Two writers appending to one log (distinct instance tags) never
    collide on names; either writer's compaction folds BOTH writers'
    records; counts agree across readers and stay monotonic through
    every append and compaction."""
    import go_dcp_elasticsearch_spark.metadata as md

    monkeypatch.setattr(md, "COMPACT_THRESHOLD", 5)
    path = f"{tmp_index_dir}/_log2"
    a = md.RecordLog(spark, path)
    b = md.RecordLog(spark, path)
    last = 0
    for i in range(8):  # interleaved appends; compactions fire mid-stream
        a.append({"w": "a", "i": i})
        b.append({"w": "b", "i": i})
        c = md.RecordLog(spark, path).count()
        assert c >= last  # epoch monotonicity across compactions
        last = c
    recs = md.RecordLog(spark, path).records()
    assert len(recs) == 16
    assert sorted((r["w"], r["i"]) for r in recs) == sorted(
        [("a", i) for i in range(8)] + [("b", i) for i in range(8)]
    )
    assert a.count() == b.count() == 16
