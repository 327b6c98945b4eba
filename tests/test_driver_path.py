"""Routing of pruned top-k between its two physical plans
(BM25Query._spec_topk): a query or batch whose candidate postings fit
``BM25Query.DRIVER_MAX_POSTINGS`` runs one scan job and the shard kernel
on the driver, and returns a local frame; a larger one keeps the shard
shuffle and the Python stage. Both return equal rows. Empty results are
local frames too, so collecting them runs no Spark job.

Jobs and stages are counted per job group through ``statusTracker()``,
which works with ``spark.ui.enabled=false``.
"""

from __future__ import annotations

import itertools

import pytest
from pyspark.sql import functions as F

from go_dcp_elasticsearch_spark.corpus import synth_corpus
from go_dcp_elasticsearch_spark.index import BM25Query, IndexBuilder
from go_dcp_elasticsearch_spark.sources.changes import apply_changes_to_index

QUERIES = [
    "getValue",
    "buffer index",
    "parseInput kraken_sentinel",
    "getValue completelyAbsentTermXyz buffer",
    "buffer value get local var3 var7",
]
_group_ids = itertools.count()


@pytest.fixture(scope="module")
def seg_idx(spark, tmp_path_factory):
    """A 300-doc index with one pending delta segment: one doc updated
    (tombstoned old version + new one in the segment), one deleted."""
    idx = str(tmp_path_factory.mktemp("routeidx") / "idx")
    corpus = synth_corpus(spark, 300)
    IndexBuilder(spark, idx, n_shards=4).build(corpus)
    victims = spark.read.parquet(f"{idx}/docs").orderBy("doc_id").limit(2).collect()
    upd, dele = victims[0], victims[1]

    def is_(r):
        return (F.col("repo") == r["repo"]) & (F.col("path") == r["path"])

    new_corpus = corpus.filter(~is_(dele)).withColumn(
        "content",
        F.when(is_(upd), F.lit("buffer value zzroutemark")).otherwise(F.col("content")),
    )
    changes = spark.createDataFrame(
        [(upd["repo"], upd["path"], "index", 10),
         (dele["repo"], dele["path"], "delete", 11)],
        "repo string, path string, action string, seq_no long",
    )
    apply_changes_to_index(spark, idx, new_corpus, changes, strategy="delta")
    return idx, {int(upd["doc_id"]), int(dele["doc_id"])}


def _counted(spark, fn):
    """(result of fn(), jobs, stages) over the Spark jobs fn ran."""
    sc = spark.sparkContext
    group = f"test-driver-path-{next(_group_ids)}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    return out, len(jobs), sum(len(st.getJobInfo(j).stageIds) for j in jobs)


def _rows(df):
    cols = df.columns
    return [tuple(r[c] for c in cols) for r in df.collect()]


def _sum_df(q, text):
    return sum(q._df_map[t] for t in q.analyze(text) if t in q._df_map)


def test_absent_term_collect_runs_no_job(spark, seg_idx):
    idx, _ = seg_idx
    q = BM25Query(spark, idx)
    rows, jobs, _ = _counted(
        spark, lambda: q.topk_pruned("completelyAbsentTermXyz").collect()
    )
    assert rows == [] and jobs == 0
    for empty in (
        lambda: q.topk_exact("", 5).collect(),
        lambda: q.topk_bool(must="zzneverterm buffer").collect(),
        lambda: q.topk_prefix("zzznope").collect(),
        lambda: q.topk_batch([(0, "zzneverterm")]).collect(),
    ):
        assert _counted(spark, empty)[:2] == ([], 0)


def test_routes_return_equal_rows(spark, seg_idx, monkeypatch):
    """Driver and distributed plans return == rows (doc_id, score and, for
    batches, query_id) over an index with a delta segment and tombstones,
    so the driver reads the tombstone broadcast's value correctly."""
    idx, dead = seg_idx
    q = BM25Query(spark, idx)
    calls = [
        *(lambda t=t: q.topk_pruned(t, 7) for t in QUERIES),
        lambda: q.topk_pruned("buffer value get", 5, mode="all"),
        lambda: q.topk_pruned("buffer value get", 5, after=(0.5, 10)),
        lambda: q.topk_bool(must="buffer", should="var3 var11", must_not="var30"),
        lambda: q.topk_bool(filter="buffer", should="get value index", k=20),
        lambda: q.topk_prefix("va", 6),
    ]
    batches = [
        lambda: q.topk_batch(list(enumerate(QUERIES)), k=4),
        lambda: q.topk_batch(list(enumerate(QUERIES)), k=4, chunk_size=2,
                             mode="all"),
    ]

    def run_all():
        single = [_rows(c()) for c in calls]
        batch = [sorted(_rows(c())) for c in batches]
        return single, batch

    driver = run_all()
    monkeypatch.setattr(BM25Query, "DRIVER_MAX_POSTINGS", 0)
    assert run_all() == driver
    single, batch = driver
    assert all(single[:3]) and all(batch)
    got = {r[0] for rows in single for r in rows}
    assert not got & dead
    assert q.topk_pruned("zzroutemark", 3).collect()  # the delta-segment doc


def test_jobs_per_route(spark, seg_idx, monkeypatch):
    """Below the cap a topk_pruned call + collect is exactly one Spark job
    with one stage (the postings scan); on the distributed plan it is the
    scan + shuffle job and the kernel + merge job."""
    idx, _ = seg_idx
    q = BM25Query(spark, idx)
    text = "buffer index"
    want = _rows(q.topk_pruned(text, 5))
    rows, jobs, stages = _counted(spark, lambda: _rows(q.topk_pruned(text, 5)))
    assert (rows, jobs, stages) == (want, 1, 1)
    monkeypatch.setattr(BM25Query, "DRIVER_MAX_POSTINGS", 0)
    rows, jobs, _ = _counted(spark, lambda: _rows(q.topk_pruned(text, 5)))
    assert (rows, jobs) == (want, 2)


def test_cap_boundary(spark, seg_idx, monkeypatch):
    """The cap is inclusive: at exactly the query's df sum the driver path
    runs (one job), one below it the distributed path (two)."""
    idx, _ = seg_idx
    q = BM25Query(spark, idx)
    text = "buffer value get"
    p = _sum_df(q, text)
    assert p > 0
    for cap, want_jobs in ((p, 1), (p - 1, 2)):
        monkeypatch.setattr(BM25Query, "DRIVER_MAX_POSTINGS", cap)
        _, jobs, _ = _counted(spark, lambda: q.topk_pruned(text, 5).collect())
        assert jobs == want_jobs, cap
