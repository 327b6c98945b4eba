"""Routing of pruned top-k between its three physical routes
(BM25Query._spec_topk): a query or batch whose candidate postings fit
``BM25Query.DRIVER_MAX_POSTINGS`` runs the shard kernel on the driver and
returns a local frame — over the postings blocks held on the driver when
the index's postings files total at most ``BM25Query.RESIDENT_MAX_BYTES``
(no Spark job), else after one scan job; a larger one keeps the shard
shuffle and the Python stage. All three return equal rows. Empty results
are local frames too, so collecting them runs no Spark job.

Jobs and stages are counted per job group through ``statusTracker()``,
which works with ``spark.ui.enabled=false``.
"""

from __future__ import annotations

import itertools

import pytest
from pyspark.sql import functions as F

from go_dcp_elasticsearch_spark.corpus import synth_corpus
from go_dcp_elasticsearch_spark.fsutil import list_data_files
from go_dcp_elasticsearch_spark.index import BM25Query, IndexBuilder
from go_dcp_elasticsearch_spark.index.segments import fold_segments
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


def _postings_files(spark, idx, segs):
    """(path, length, mtime) of the base postings files and those of the
    delta segments ``segs``."""
    return list_data_files(spark, f"{idx}/postings") + [
        f for s in segs
        for f in list_data_files(spark, f"{idx}/delta/postings/seg={s}")
    ]


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
    """Resident, scan-job and distributed routes return == rows (doc_id,
    score and, for batches, query_id) over an index with a delta segment
    and tombstones, so the driver reads the tombstone broadcast's value
    correctly."""
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
    assert q._resident is not None
    monkeypatch.setattr(BM25Query, "RESIDENT_MAX_BYTES", 0)
    q.refresh()
    assert q._resident is None and run_all() == driver
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
    monkeypatch.setattr(BM25Query, "RESIDENT_MAX_BYTES", 0)
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
    monkeypatch.setattr(BM25Query, "RESIDENT_MAX_BYTES", 0)
    q = BM25Query(spark, idx)
    text = "buffer value get"
    p = _sum_df(q, text)
    assert p > 0
    for cap, want_jobs in ((p, 1), (p - 1, 2)):
        monkeypatch.setattr(BM25Query, "DRIVER_MAX_POSTINGS", cap)
        _, jobs, _ = _counted(spark, lambda: q.topk_pruned(text, 5).collect())
        assert jobs == want_jobs, cap


def test_resident_query_runs_no_job(spark, seg_idx):
    """On a resident index a small pruned call + collect runs no Spark
    job: the blocks come from the driver map, the result is a local
    frame."""
    idx, _ = seg_idx
    q = BM25Query(spark, idx)
    for call in (
        lambda: _rows(q.topk_pruned("buffer index", 5)),
        lambda: _rows(q.topk_bool(must="buffer", should="var3 var11")),
        lambda: _rows(q.topk_batch(list(enumerate(QUERIES)), k=4)),
    ):
        rows, jobs, _ = _counted(spark, call)
        assert rows and jobs == 0


def test_resident_cap_boundary(spark, seg_idx, monkeypatch):
    """The byte cap is inclusive: at exactly the listed postings bytes
    (base + pinned segment files) the index is resident and a query runs
    no job; one byte less and the query runs one scan job."""
    idx, _ = seg_idx
    q = BM25Query(spark, idx)
    size = sum(f[1] for f in _postings_files(spark, idx, q._segs))
    assert q._segs and size > 0
    for cap, want_jobs in ((size, 0), (size - 1, 1)):
        monkeypatch.setattr(BM25Query, "RESIDENT_MAX_BYTES", cap)
        q.refresh()
        assert (q._resident is not None) == (want_jobs == 0)
        _, jobs, _ = _counted(spark, lambda: q.topk_pruned("buffer", 5).collect())
        assert jobs == want_jobs, cap


def test_resident_df_map_equals_dictionary(spark, seg_idx, monkeypatch):
    """The df map summed from the resident blocks' counts equals the
    dictionary aggregation (base partials + delta segments)."""
    idx, _ = seg_idx
    resident = BM25Query(spark, idx)
    assert resident._resident is not None
    monkeypatch.setattr(BM25Query, "RESIDENT_MAX_BYTES", 0)
    aggregated = BM25Query(spark, idx)
    assert aggregated._resident is None
    assert resident._df_map == aggregated._df_map
    assert len(resident._df_map) > 100


def test_resident_reload_follows_listing(spark, tmp_path, monkeypatch):
    """The resident blocks are keyed on the postings file listing: a
    refresh whose listing is unchanged reads nothing, a delta apply or a
    fold re-reads every listed file in one read, and the files a fold
    replaced are evicted, so the handle never serves a base generation
    the fold has replaced."""
    idx = str(tmp_path / "idx")
    corpus = synth_corpus(spark, 120)
    IndexBuilder(spark, idx, n_shards=4).build(corpus)
    loads = []
    read = BM25Query._read_postings_files

    def spy(self, base, delta):
        loads.append(({f[0] for f in base}, {f[0] for f in delta}))
        return read(self, base, delta)

    monkeypatch.setattr(BM25Query, "_read_postings_files", spy)
    q = BM25Query(spark, idx)
    base0 = {f[0] for f in _postings_files(spark, idx, [])}
    assert loads == [(base0, set())]

    victim = spark.read.parquet(f"{idx}/docs").orderBy("doc_id").first()
    is_victim = (F.col("repo") == victim["repo"]) & (F.col("path") == victim["path"])
    new_corpus = corpus.withColumn(
        "content",
        F.when(is_victim, F.lit("buffer zzfoldmark")).otherwise(F.col("content")),
    )
    changes = spark.createDataFrame(
        [(victim["repo"], victim["path"], "index", 10)],
        "repo string, path string, action string, seq_no long",
    )
    apply_changes_to_index(spark, idx, new_corpus, changes, strategy="delta")
    assert q.topk_pruned("zzfoldmark", 3).collect()  # refreshes the handle
    seg_files = {f[0] for f in _postings_files(spark, idx, q._segs)} - base0
    assert q._segs and seg_files and loads[1:] == [(base0, seg_files)]
    q.refresh()  # same listing: the resident blocks are kept
    assert len(loads) == 2 and q._resident is not None

    fold_segments(spark, idx)
    texts = ["buffer", "zzfoldmark", "getValue index", "value local"]
    served = [_rows(q.topk_pruned(t, 10)) for t in texts]  # refreshes
    base1 = {f[0] for f in _postings_files(spark, idx, [])}
    assert not q._segs and base1 != base0
    assert loads[2:] == [(base1, set())]
    assert {f[0] for f in q._resident[0]} == base1  # replaced ones evicted
    monkeypatch.setattr(BM25Query, "RESIDENT_MAX_BYTES", 0)
    fresh = BM25Query(spark, idx)
    assert served == [_rows(fresh.topk_pruned(t, 10)) for t in texts]
    assert int(victim["doc_id"]) not in {r[0] for rows in served for r in rows}
