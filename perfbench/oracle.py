"""Expected results, computed outside the timed sections.

``Oracle`` is ``functions.bm25.bm25_oracle`` / ``bm25_bool_oracle`` with
the per-term postings built once instead of on every call: the same idf and
tf-norm functions, the same term-lexicographic accumulation order, so its
scores are bit-identical to theirs (``test_perfbench.py`` checks both on
the tiny corpus). The reference functions rebuild every document's term
counts per call, which would cost seconds per run.
"""

from __future__ import annotations

from collections import Counter

from go_dcp_elasticsearch_spark.functions.bm25 import idf, tf_norm
from go_dcp_elasticsearch_spark.functions.tokenizer import tokenize_py

SCORE_TOL = 1e-9


class Oracle:
    def __init__(self, docs_tokens: dict[int, list[str]]):
        self.n_docs = len(docs_tokens)
        self.dl = {d: len(t) for d, t in docs_tokens.items()}
        self.avgdl = sum(self.dl.values()) / max(self.n_docs, 1)
        self.postings: dict[str, dict[int, int]] = {}
        for d, toks in docs_tokens.items():
            for t, tf in Counter(toks).items():
                self.postings.setdefault(t, {})[d] = tf

    def _scores(self, terms: list[str]) -> dict[int, float]:
        scores: dict[int, float] = {}
        for t in sorted(set(terms)):
            post = self.postings.get(t)
            if not post:
                continue
            w = idf(self.n_docs, len(post))
            for d, tf in post.items():
                scores[d] = scores.get(d, 0.0) + w * tf_norm(tf, self.dl[d], self.avgdl)
        return scores

    @staticmethod
    def _rank(items, k: int, after=None) -> list[tuple[int, float]]:
        ranked = sorted(items, key=lambda kv: (-kv[1], kv[0]))
        if after is not None:
            a_s, a_d = after
            ranked = [(d, s) for d, s in ranked
                      if s < a_s - SCORE_TOL or (abs(s - a_s) <= SCORE_TOL and d > a_d)]
        return ranked[:k]

    def topk(self, text: str, k: int, mode: str = "any", after=None):
        """``topk_pruned`` / ``topk_exact`` semantics (ES match query)."""
        terms = sorted(set(tokenize_py(text)))
        scores = self._scores(terms)
        if mode == "all":
            scores = {d: s for d, s in scores.items()
                      if all(d in self.postings.get(t, ()) for t in terms)}
        return self._rank(scores.items(), k, after)

    def bool(self, must: str, should: str, must_not: str, k: int,
             doc_len: tuple[int, int] | None = None):
        """``topk_bool`` with a must clause (so minimum_should_match = 0)
        and an optional ``doc_len`` range [lo, hi)."""
        m = sorted(set(tokenize_py(must)))
        s = sorted(set(tokenize_py(should)))
        n = sorted(set(tokenize_py(must_not)))
        scores = self._scores(m + s)
        out = []
        for d, sc in scores.items():
            if doc_len is not None and not doc_len[0] <= self.dl[d] < doc_len[1]:
                continue
            if all(d in self.postings.get(t, ()) for t in m) and \
                    not any(d in self.postings.get(t, ()) for t in n):
                out.append((d, sc))
        return self._rank(out, k)


def same_ranking(got: list[tuple[int, float]], want: list[tuple[int, float]]) -> bool:
    """Rank-identical doc ids, scores within SCORE_TOL."""
    return len(got) == len(want) and all(
        gd == wd and abs(gs - ws) <= SCORE_TOL for (gd, gs), (wd, ws) in zip(got, want)
    )


def same_ranking_by_key(got: list[tuple[tuple, float]], want: list[tuple[tuple, float]]) -> bool:
    """Two indexes with different doc-id numbering rank a query the same:
    equal score sequences, and the same keys with the same scores above the
    last score level (that level may be cut at k, where each index breaks
    the tie by its own doc ids)."""
    if len(got) != len(want) or any(abs(g[1] - w[1]) > SCORE_TOL for g, w in zip(got, want)):
        return False
    if not got:
        return True
    last = want[-1][1]
    g = {k: s for k, s in got if s > last + SCORE_TOL}
    w = {k: s for k, s in want if s > last + SCORE_TOL}
    return g.keys() == w.keys() and all(abs(g[k] - w[k]) <= SCORE_TOL for k in g)
