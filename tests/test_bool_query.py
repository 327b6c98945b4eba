"""ES ``bool`` query analogue (BM25Query.topk_bool): must + should with
minimum_should_match + must_not, rank-identical to the pure-Python oracle
on both strategies, composing with delta segments/tombstones.

Reference contract: the reference's sink serves search through
Elasticsearch (README.md:13 "documents streamed in become searchable");
the bool query is core ES surface over the indexed stream. Conjunction
(bool.must alone) is already gated as topk_pruned(mode="all"); these
tests pin the general form.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from go_dcp_elasticsearch_spark.corpus import synth_corpus
from go_dcp_elasticsearch_spark.functions.bm25 import bm25_bool_oracle
from go_dcp_elasticsearch_spark.functions.tokenizer import tokenize_py
from go_dcp_elasticsearch_spark.index import BM25Query, IndexBuilder
from go_dcp_elasticsearch_spark.sources.changes import apply_changes_to_index


@pytest.fixture(scope="module")
def bool_idx(spark, tmp_path_factory):
    """One 300-doc index + oracle token streams, shared by the module."""
    idx = str(tmp_path_factory.mktemp("boolidx") / "idx")
    corpus = synth_corpus(spark, 300)
    IndexBuilder(spark, idx, n_shards=4).build(corpus)
    docs = spark.read.parquet(f"{idx}/docs").select("doc_id", "repo", "path").collect()
    src = {(r["repo"], r["path"]): r["content"] for r in corpus.collect()}
    toks = {r["doc_id"]: tokenize_py(src[(r["repo"], r["path"])]) for r in docs}
    return idx, toks


def _expected(toks, must, should, must_not, msm, k=10):
    return bm25_bool_oracle(
        toks, tokenize_py(must), tokenize_py(should), tokenize_py(must_not),
        msm, k,
    )


def _got(q, strategy, **kw):
    return [
        (int(r["doc_id"]), round(float(r["score"]), 9))
        for r in q.topk_bool(k=10, strategy=strategy, **kw).collect()
    ]


CASES = [
    # (must, should, must_not, msm) — each clause class exercised
    ("buffer value", "", "", 0),                      # == mode="all"
    ("get", "", "buffer", 0),                         # exclusion bites
    ("", "local var3 var7", "", 2),                   # msm over shoulds
    ("buffer", "var3 var11", "helper", 0),            # all three classes
    ("", "buffer qzxabsent", "", 1),                  # dead should clause
]


@pytest.mark.parametrize("must,should,must_not,msm", CASES)
def test_bool_rank_identity(spark, bool_idx, must, should, must_not, msm):
    """pruned == exact == pure-Python oracle (ids and 9-dp scores)."""
    idx, toks = bool_idx
    q = BM25Query(spark, idx)
    exp = [(d, round(s, 9)) for d, s in
           _expected(toks, must, should, must_not, msm)]
    for strategy in ("pruned", "exact"):
        got = _got(q, strategy, must=must, should=should, must_not=must_not,
                   minimum_should_match=msm)
        assert got == exp, (strategy, must, should, must_not, msm)


@pytest.mark.usefixtures("distributed")
def test_bool_rank_identity_pruned_distributed(spark, bool_idx):
    """pruned == oracle on the shard-parallel plan: the index is small
    enough that pruned topk_bool otherwise runs on the driver (both plans
    over a delta segment with tombstones: test_driver_path.py)."""
    idx, toks = bool_idx
    q = BM25Query(spark, idx)
    for must, should, must_not, msm in CASES:
        exp = [(d, round(s, 9)) for d, s in
               _expected(toks, must, should, must_not, msm)]
        got = _got(q, "pruned", must=must, should=should, must_not=must_not,
                   minimum_should_match=msm)
        assert got == exp, (must, should, must_not, msm)


def test_bool_msm_defaults(spark, bool_idx):
    """ES defaults: should-only -> msm=1; must present -> msm=0 (shoulds
    become pure score boosters)."""
    idx, toks = bool_idx
    q = BM25Query(spark, idx)
    got = _got(q, "pruned", should="local var3")
    exp = [(d, round(s, 9)) for d, s in _expected(toks, "", "local var3", "", 1)]
    assert got == exp
    got = _got(q, "pruned", must="buffer", should="var3")
    exp = [(d, round(s, 9)) for d, s in _expected(toks, "buffer", "var3", "", 0)]
    assert got == exp


def test_bool_must_only_equals_mode_all(spark, bool_idx):
    """bool with only must clauses is exactly topk_pruned(mode='all')."""
    idx, _ = bool_idx
    q = BM25Query(spark, idx)
    a = _got(q, "pruned", must="buffer value")
    b = [(int(r["doc_id"]), round(float(r["score"]), 9))
         for r in q.topk_pruned("buffer value", 10, mode="all").collect()]
    assert a == b


def test_bool_empty_results(spark, bool_idx):
    idx, _ = bool_idx
    q = BM25Query(spark, idx)
    # a must term absent from the whole corpus
    assert q.topk_bool(must="qzxabsent buffer").count() == 0
    # msm unsatisfiable: more matches required than should clauses
    assert q.topk_bool(should="buffer", minimum_should_match=3).count() == 0
    # msm counts only matchable clauses: both shoulds dead -> empty
    assert q.topk_bool(should="qzxabsent qzxother",
                       minimum_should_match=1).count() == 0


def test_bool_rejects_degenerate(spark, bool_idx):
    idx, _ = bool_idx
    q = BM25Query(spark, idx)
    with pytest.raises(ValueError, match="more than one clause class"):
        q.topk_bool(must="buffer", must_not="buffer")
    with pytest.raises(ValueError, match="more than one clause class"):
        q.topk_bool(must="buffer", should="buffer")
    with pytest.raises(ValueError,
                       match="must, should, filter, range or terms_filter"):
        q.topk_bool(must_not="buffer")
    with pytest.raises(ValueError, match="unknown strategy"):
        q.topk_bool(must="buffer", strategy="zzz")
    with pytest.raises(ValueError, match="< 0"):
        q.topk_bool(should="buffer", minimum_should_match=-1)


def test_bool_with_pending_segments(spark, tmp_path):
    """bool composes with delta segments: pruned == exact through the
    tombstone-filtered candidate paths, a doc delta-updated to contain a
    must_not term disappears, and its replacement (without the term) is
    eligible."""
    idx = str(tmp_path / "idx")
    corpus = synth_corpus(spark, 200)
    IndexBuilder(spark, idx, n_shards=4).build(corpus)
    victim = (
        spark.read.parquet(f"{idx}/docs").orderBy("doc_id").limit(1).collect()[0]
    )
    vkey = (victim["repo"], victim["path"])
    # the victim now contains the must_not marker; every other doc keeps
    # its content
    new_corpus = corpus.withColumn(
        "content",
        F.when(
            (F.col("repo") == vkey[0]) & (F.col("path") == vkey[1]),
            F.lit("zzforbidden buffer value zzmarker"),
        ).otherwise(F.col("content")),
    )
    changes = spark.createDataFrame(
        [(vkey[0], vkey[1], "index", 1)],
        "repo string, path string, action string, seq_no long",
    )
    apply_changes_to_index(spark, idx, new_corpus, changes, strategy="delta")
    q = BM25Query(spark, idx)
    # pruned == exact under pending segments (different candidate paths)
    for kw in (
        dict(must="buffer", must_not="zzforbidden"),
        dict(should="buffer zzforbidden", minimum_should_match=1),
    ):
        assert _got(q, "pruned", **kw) == _got(q, "exact", **kw), kw
    # the updated doc is excluded by must_not...
    hits = q.topk_bool(must="zzmarker", k=5)
    live = {
        (r["repo"], r["path"])
        for r in q.with_meta(hits).select("repo", "path").collect()
    }
    assert live == {vkey}  # sanity: the new version matches "marker"
    assert q.topk_bool(must="zzmarker", must_not="zzforbidden").count() == 0
    # ...and its TOMBSTONED old version never surfaces via its old terms
    old_hits = q.topk_bool(must="buffer", must_not="zzforbidden", k=200)
    old_ids = {int(r["doc_id"]) for r in old_hits.collect()}
    assert int(victim["doc_id"]) not in old_ids


FILTER_CASES = [
    # (must, should, must_not, filter, msm)
    ("buffer", "", "var7", "var3", 0),          # filter + exclusion
    ("", "var3 var11", "", "buffer", 0),        # shoulds boost over filter
    ("", "", "", "var3 buffer", 0),             # filter-only: score 0.0
    ("", "var3", "", "buffer", 0),              # msm defaults 0 w/ filter
]


@pytest.mark.parametrize("must,should,must_not,filt,msm", FILTER_CASES)
def test_bool_filter_rank_identity(spark, bool_idx, must, should, must_not,
                                   filt, msm):
    """filter clause (ES filter context): requires membership, never
    scores; filter-only hits carry score 0.0 ordered by doc_id."""
    idx, toks = bool_idx
    q = BM25Query(spark, idx)
    exp = [(d, round(s, 9)) for d, s in bm25_bool_oracle(
        toks, tokenize_py(must), tokenize_py(should), tokenize_py(must_not),
        msm, 10, filt=tokenize_py(filt),
    )]
    for strategy in ("pruned", "exact"):
        got = _got(q, strategy, must=must, should=should, must_not=must_not,
                   filter=filt, minimum_should_match=msm)
        assert got == exp, (strategy, must, should, must_not, filt)


def test_bool_filter_semantics(spark, bool_idx):
    idx, toks = bool_idx
    q = BM25Query(spark, idx)
    # filter-only: every hit scores exactly 0.0, ascending doc_id
    rows = q.topk_bool(filter="buffer", k=10).collect()
    assert rows and all(float(r["score"]) == 0.0 for r in rows)
    ids = [int(r["doc_id"]) for r in rows]
    assert ids == sorted(ids)
    # a filter term absent from the corpus empties the result
    assert q.topk_bool(filter="qzxabsent buffer").count() == 0
    # filter-context membership: a doc passing the filter but matching
    # no scoring term still qualifies (score 0) when msm permits
    n_filter_only = q.topk_bool(filter="buffer", k=10_000).count()
    n_with_should = q.topk_bool(should="var3", filter="buffer",
                                minimum_should_match=0, k=10_000).count()
    assert n_with_should == n_filter_only
    # clause overlap across filter and other classes rejected
    with pytest.raises(ValueError, match="more than one clause class"):
        q.topk_bool(must="buffer", filter="buffer")
    with pytest.raises(ValueError, match="more than one clause class"):
        q.topk_bool(filter="buffer", must_not="buffer")


# -------------------------------------------------- terms query (ES `terms`)


@pytest.fixture(scope="module")
def terms_idx(spark, tmp_path_factory):
    """250-doc index with lang keyword postings; returns (idx, doc_id ->
    tokens, doc_id -> lang)."""
    idx = str(tmp_path_factory.mktemp("termsidx") / "idx")
    corpus = synth_corpus(spark, 250)
    IndexBuilder(spark, idx, n_shards=4, field_cols=["lang"]).build(corpus)
    rows = spark.read.parquet(f"{idx}/docs").select(
        "doc_id", "repo", "path", "lang"
    ).collect()
    src = {(r["repo"], r["path"]): r["content"] for r in corpus.collect()}
    toks = {r["doc_id"]: tokenize_py(src[(r["repo"], r["path"])]) for r in rows}
    langs = {r["doc_id"]: r["lang"] for r in rows}
    return idx, toks, langs


def test_terms_filter_rank_identity(spark, terms_idx):
    """must + terms_filter == oracle restricted to docs whose lang is in
    the value set — identical on pruned and exact plans."""
    idx, toks, langs = terms_idx
    q = BM25Query(spark, idx)
    vals = ["go", "js"]
    allowed = {d for d, lg in langs.items() if lg in vals}
    exp = [
        (d, round(s, 9))
        for d, s in bm25_bool_oracle(
            toks, ["buffer"], [], [], 0, 10, allowed=allowed
        )
    ]
    for strategy in ("pruned", "exact"):
        got = [
            (int(r["doc_id"]), round(float(r["score"]), 9))
            for r in q.topk_bool(
                must="buffer", terms_filter={"lang": vals}, k=10,
                strategy=strategy,
            ).collect()
        ]
        assert got == exp and exp, strategy
    # single-value group == the existing conjunctive keyword filter
    a = [
        (int(r["doc_id"]), round(float(r["score"]), 9))
        for r in q.topk_bool(
            must="buffer", terms_filter={"lang": ["go"]}, k=10
        ).collect()
    ]
    b = [
        (int(r["doc_id"]), round(float(r["score"]), 9))
        for r in q.topk_bool(must="buffer", filter="lang:go", k=10).collect()
    ]
    assert a == b and a


def test_terms_filter_only_and_should_boost(spark, terms_idx):
    """terms_filter alone: score-0 hits bounded by the group postings;
    with should (msm default 0) the boost reorders, score-0 docs stay."""
    idx, toks, langs = terms_idx
    q = BM25Query(spark, idx)
    vals = ["c"]
    allowed = sorted(d for d, lg in langs.items() if lg in vals)
    got = [
        (int(r["doc_id"]), float(r["score"]))
        for r in q.topk_bool(terms_filter={"lang": vals}, k=10).collect()
    ]
    assert got == [(d, 0.0) for d in allowed[:10]]
    # pick a should term boosting SOME but fewer than 10 of the allowed
    # docs, so the top-10 provably mixes boosted and score-0 hits
    from collections import Counter

    freq = Counter(t for d in allowed for t in set(toks[d]))
    boost_term = next(
        (t for t, n in sorted(freq.items()) if 0 < n < min(10, len(allowed))),
        None,
    )
    assert boost_term, "fixture must offer a sparse boost term"
    exp = [
        (d, round(s, 9))
        for d, s in bm25_bool_oracle(
            toks, [], [boost_term], [], 0, 10, allowed=set(allowed)
        )
    ]
    got = [
        (int(r["doc_id"]), round(float(r["score"]), 9))
        for r in q.topk_bool(
            should=boost_term, terms_filter={"lang": vals}, k=10,
        ).collect()
    ]
    assert got == exp
    assert any(s == 0.0 for _, s in got) and any(s > 0.0 for _, s in got)


def test_terms_filter_dead_value_and_validation(spark, terms_idx):
    idx, _, _ = terms_idx
    q = BM25Query(spark, idx)
    # a live value ORed with a dead one still matches the live value
    a = q.topk_bool(must="get", terms_filter={"lang": ["go", "klingon"]},
                    k=10).collect()
    b = q.topk_bool(must="get", terms_filter={"lang": ["go"]}, k=10).collect()
    assert [(r["doc_id"], r["score"]) for r in a] == \
           [(r["doc_id"], r["score"]) for r in b] and a
    # an all-dead group can never match
    assert q.topk_bool(must="get",
                       terms_filter={"lang": ["klingon"]}, k=10).count() == 0
    with pytest.raises(ValueError, match="not a keyword field"):
        q.topk_bool(must="get", terms_filter={"missing": ["x"]})
    with pytest.raises(ValueError, match="non-empty list"):
        q.topk_bool(must="get", terms_filter={"lang": []})
    with pytest.raises(ValueError, match="non-empty dict"):
        q.topk_bool(must="get", terms_filter={})


def test_terms_filter_composes_with_range_and_aggs(spark, tmp_path):
    idx = str(tmp_path / "idx")
    corpus = synth_corpus(spark, 150).withColumn(
        "nc", F.length("content").cast("long")
    )
    IndexBuilder(spark, idx, n_shards=2, field_cols=["lang"],
                 docvalue_cols=["nc"]).build(corpus)
    rows = spark.read.parquet(f"{idx}/docs").select(
        "doc_id", "lang", "nc"
    ).collect()
    med = sorted(int(r["nc"]) for r in rows)[75]
    allowed = sorted(
        int(r["doc_id"]) for r in rows
        if r["lang"] in ("go", "c") and int(r["nc"]) < med
    )
    q = BM25Query(spark, idx)
    got = [int(r["doc_id"]) for r in q.topk_bool(
        terms_filter={"lang": ["go", "c"]}, range={"nc": {"lt": med}},
        k=200,
    ).collect()]
    assert got == allowed and allowed
    n = int(q.agg_stats("nc", terms_filter={"lang": ["go", "c"]},
                        range={"nc": {"lt": med}}).collect()[0]["count"])
    assert n == len(allowed)
