"""ES ``search_after`` deep pagination: topk_pruned/topk_exact with a
(score, doc_id) cursor return exactly the next page — pages concatenate
to the unpaged ranking, pruned == exact, cross-strategy cursors agree,
and pruning stays sound under the cursor (the UB clamp + passing-lambda
rules in the shard kernel, query._make_spec_kernel).

Reference contract: ES search_after is the supported deep-paging path of
the _search API the reference's sink serves (from+size over-fetches
every earlier page; search_after makes page N+1 cost page 1).
"""

from __future__ import annotations

import pytest

from go_dcp_elasticsearch_spark.corpus import synth_corpus
from go_dcp_elasticsearch_spark.functions.bm25 import bm25_oracle
from go_dcp_elasticsearch_spark.functions.tokenizer import tokenize_py
from go_dcp_elasticsearch_spark.index import BM25Query, IndexBuilder

Q = "buffer value get"
K = 10


@pytest.fixture(scope="module")
def pag_idx(spark, tmp_path_factory):
    idx = str(tmp_path_factory.mktemp("pagidx") / "idx")
    corpus = synth_corpus(spark, 300)
    IndexBuilder(spark, idx, n_shards=4).build(corpus)
    docs = spark.read.parquet(f"{idx}/docs").select(
        "doc_id", "repo", "path"
    ).collect()
    src = {(r["repo"], r["path"]): r["content"] for r in corpus.collect()}
    toks = {r["doc_id"]: tokenize_py(src[(r["repo"], r["path"])]) for r in docs}
    return idx, toks


def _rows(df):
    return [(int(r["doc_id"]), float(r["score"])) for r in df.collect()]


def _pages(q, fn_name, n_pages, k=K, mode="any"):
    fn = getattr(q, fn_name)
    out, after = [], None
    for _ in range(n_pages):
        page = _rows(fn(Q, k, mode=mode, after=after))
        if not page:
            break
        out.append(page)
        after = (page[-1][1], page[-1][0])  # cursor = (score, doc_id)
    return out


@pytest.mark.parametrize("fn_name", ["topk_pruned", "topk_exact"])
def test_pages_concatenate_to_unpaged_ranking(spark, pag_idx, fn_name):
    idx, toks = pag_idx
    q = BM25Query(spark, idx)
    full = [
        (d, round(s, 9))
        for d, s in bm25_oracle(toks, sorted(set(tokenize_py(Q))), 3 * K)
    ]
    pages = _pages(q, fn_name, 3)
    flat = [(d, round(s, 9)) for page in pages for d, s in page]
    assert flat == full[: len(flat)] and len(flat) == 3 * K


@pytest.mark.usefixtures("distributed")
def test_pages_concatenate_to_unpaged_ranking_distributed(spark, pag_idx):
    """The paging check on the shard-parallel plan (the index is small
    enough that topk_pruned otherwise runs on the driver)."""
    test_pages_concatenate_to_unpaged_ranking(spark, pag_idx, "topk_pruned")


def test_pruned_equals_exact_per_page(spark, pag_idx):
    idx, _ = pag_idx
    q = BM25Query(spark, idx)
    a = _pages(q, "topk_pruned", 3)
    b = _pages(q, "topk_exact", 3)
    assert [[(d, round(s, 9)) for d, s in p] for p in a] == \
           [[(d, round(s, 9)) for d, s in p] for p in b]


def test_cross_strategy_cursor(spark, pag_idx):
    """A cursor taken from the exact path selects the identical page on
    the pruned path (the AFTER_EPS contract)."""
    idx, _ = pag_idx
    q = BM25Query(spark, idx)
    p1 = _rows(q.topk_exact(Q, K))
    cur = (p1[-1][1], p1[-1][0])
    nxt_pruned = _rows(q.topk_pruned(Q, K, after=cur))
    nxt_exact = _rows(q.topk_exact(Q, K, after=cur))
    assert [(d, round(s, 9)) for d, s in nxt_pruned] == \
           [(d, round(s, 9)) for d, s in nxt_exact]
    assert nxt_pruned and p1[-1][0] not in {d for d, _ in nxt_pruned}


def test_no_overlap_and_exhaustion(spark, pag_idx):
    """Pages are disjoint; paging past the last match returns empty."""
    idx, toks = pag_idx
    q = BM25Query(spark, idx)
    n_match = len(bm25_oracle(toks, sorted(set(tokenize_py(Q))), len(toks)))
    seen: set[int] = set()
    after, total = None, 0
    for _ in range(n_match // K + 2):
        page = _rows(q.topk_pruned(Q, K, after=after))
        if not page:
            break
        ids = {d for d, _ in page}
        assert not (ids & seen), "pages must be disjoint"
        seen |= ids
        total += len(page)
        after = (page[-1][1], page[-1][0])
    assert total == n_match
    assert _rows(q.topk_pruned(Q, K, after=after)) == []


def test_search_after_conjunctive_mode(spark, pag_idx):
    """Cursor composes with mode='all': conjunctive pages concatenate to
    the conjunctive oracle ranking."""
    idx, toks = pag_idx
    q = BM25Query(spark, idx)
    terms = sorted(set(tokenize_py("buffer value")))
    conj = [
        (d, round(s, 9))
        for d, s in bm25_oracle(toks, terms, len(toks))
        if all(t in set(toks[d]) for t in terms)
    ]
    pages, after = [], None
    for _ in range(2):
        page = _rows(q.topk_pruned("buffer value", K, mode="all", after=after))
        if not page:
            break
        pages.append(page)
        after = (page[-1][1], page[-1][0])
    flat = [(d, round(s, 9)) for page in pages for d, s in page]
    assert flat and flat == conj[: len(flat)]


def test_after_validation(spark, pag_idx):
    idx, _ = pag_idx
    q = BM25Query(spark, idx)
    for bad in ((1.0,), (1.0, 2.0), ("x", 1), (1.0, 2, 3), 5):
        with pytest.raises(ValueError, match="after must be"):
            q.topk_pruned(Q, K, after=bad)
    with pytest.raises(ValueError, match="after must be"):
        q.topk_exact(Q, K, after=(True, 1))
