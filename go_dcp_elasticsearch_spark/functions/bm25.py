"""BM25 scoring (SURVEY.md B9) — the similarity the reference gets for free
from Elasticsearch's default Lucene BM25; here it is ours.

Canonical spec (mirrored by the pure-Python oracle, the Spark expression
path, the WAND kernel, and the DuckDB oracle SQL):

  idf(t)     = ln(1 + (N - df + 0.5) / (df + 0.5))        (Lucene form)
  tf_norm    = tf / (tf + k1 * (1 - b + b * dl / avgdl))
  score(q,d) = sum over UNIQUE query terms t of idf(t) * tf_norm(t, d)
  k1 = 1.2, b = 0.75
  top-k order: score DESC, doc_id ASC (deterministic tie-break)

Float determinism: all accumulation is float64; the oracle accumulates in
term-lexicographic order; with <= a handful of query terms the summation-
order error is ~1e-16, far below the 1e-9 tolerance used by rank tests and
the 6-dp rounding used by the DuckDB value-hash oracle.
"""

from __future__ import annotations

import math
from collections import Counter

from pyspark.sql import Column
from pyspark.sql import functions as F

K1 = 1.2
B = 0.75


def idf(n_docs: int, df: int) -> float:
    return math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))


def tf_norm(tf: float, dl: float, avgdl: float, k1: float = K1, b: float = B) -> float:
    return tf / (tf + k1 * (1.0 - b + b * dl / avgdl))


def phrase_match_py(tokens: list[str], phrase: list[str]) -> bool:
    """Pure-Python phrase test: ``phrase`` occurs as a consecutive
    subsequence of ``tokens``. Tokens are [a-z0-9]+ by construction, so
    the space-joined substring formulation is exact — and it is the SAME
    formulation the engine kernel and the DuckDB oracle use."""
    if not phrase:
        return False
    return (
        " " + " ".join(phrase) + " "
    ) in (" " + " ".join(tokens) + " ")


def bm25_phrase_oracle(
    docs_tokens: dict[int, list[str]], phrase: list[str], k: int,
    match_fn=None,
) -> list[tuple[int, float]]:
    """Pure-Python phrase top-k oracle: BM25 over the phrase's distinct
    terms (corpus-wide df/avgdl — stats are NOT restricted to matches),
    ranked only over docs passing the match test (phrase_match_py by
    default; pass ``match_fn(tokens) -> bool`` for slop variants)."""
    ranked = bm25_oracle(docs_tokens, sorted(set(phrase)), len(docs_tokens))
    test = match_fn or (lambda t: phrase_match_py(t, phrase))
    out = [(d, s) for d, s in ranked if test(docs_tokens[d])]
    return out[:k]


def bm25_prefix_oracle(
    docs_tokens: dict[int, list[str]], prefix: str, max_expansions: int, k: int
) -> list[tuple[int, float]]:
    """Pure-Python prefix top-k oracle: lexicographic first-N expansion
    of the corpus vocabulary, then disjunctive BM25 over the expansion."""
    vocab = sorted({t for toks in docs_tokens.values() for t in toks})
    exp = [t for t in vocab if t.startswith(prefix)][:max_expansions]
    return bm25_oracle(docs_tokens, exp, k) if exp else []


def levenshtein_py(a: str, b: str) -> int:
    """Plain Levenshtein (no transpositions) — the oracle-side metric,
    identical to DuckDB's levenshtein() and to the engine's bounded
    variant on the relevant range."""
    la, lb = len(a), len(b)
    prev = list(range(lb + 1))
    for i in range(1, la + 1):
        cur = [i] + [0] * lb
        for j in range(1, lb + 1):
            cost = 0 if a[i - 1] == b[j - 1] else 1
            cur[j] = min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + cost)
        prev = cur
    return prev[lb]


def bm25_fuzzy_oracle(
    docs_tokens: dict[int, list[str]], term: str, max_edits: int,
    prefix_length: int, max_expansions: int, k: int,
) -> list[tuple[int, float]]:
    """Pure-Python fuzzy top-k oracle: (distance, term)-ordered first-N
    expansion of the corpus vocabulary, then disjunctive BM25."""
    vocab = sorted({t for toks in docs_tokens.values() for t in toks})
    pfx = term[:prefix_length]
    hits = sorted(
        (levenshtein_py(t, term), t)
        for t in vocab
        if t.startswith(pfx) and levenshtein_py(t, term) <= max_edits
    )
    exp = [t for _, t in hits[:max_expansions]]
    return bm25_oracle(docs_tokens, exp, k) if exp else []


def bm25_wildcard_oracle(
    docs_tokens: dict[int, list[str]], pattern: str, max_expansions: int, k: int,
) -> list[tuple[int, float]]:
    """Pure-Python wildcard top-k oracle: fnmatch-filtered vocabulary,
    lexicographic first-N, then disjunctive BM25."""
    import fnmatch

    vocab = sorted({t for toks in docs_tokens.values() for t in toks})
    exp = [t for t in vocab if fnmatch.fnmatchcase(t, pattern.lower())][:max_expansions]
    return bm25_oracle(docs_tokens, exp, k) if exp else []


def bm25_bool_oracle(
    docs_tokens: dict[int, list[str]],
    must: list[str],
    should: list[str],
    must_not: list[str],
    msm: int,
    k: int,
    filt: list[str] | None = None,
    allowed: set[int] | None = None,
) -> list[tuple[int, float]]:
    """Pure-Python ES ``bool`` query top-k oracle: a doc qualifies iff it
    contains EVERY ``must`` term, EVERY ``filt`` (filter) term, at least
    ``msm`` distinct ``should`` terms, and NO ``must_not`` term; its
    score is the BM25 sum over the matched must+should terms (filter and
    must_not never score). With a filter present, a passing doc that
    matches no scoring term still qualifies at score 0.0 — the ES
    filter-context contract. Corpus-wide df/avgdl, like bm25_oracle.

    ``allowed``: the ES range-clause analogue — doc ids satisfying the
    range bounds (filter context). When given, membership requires it,
    and — like a term filter — it admits score-0.0 docs that match no
    scoring clause."""
    m, s, n = sorted(set(must)), sorted(set(should)), sorted(set(must_not))
    fl = sorted(set(filt or []))
    scores = dict(bm25_oracle(docs_tokens, m + s, len(docs_tokens)))
    out = []
    for d in docs_tokens:
        toks = set(docs_tokens[d])
        if (
            d not in scores
            and not (fl and all(t in toks for t in fl))
            and allowed is None
        ):
            continue  # no scoring match and no filter-context membership
        if allowed is not None and d not in allowed:
            continue  # outside the range bounds
        if all(t in toks for t in m) and all(t in toks for t in fl) \
                and sum(t in toks for t in s) >= msm \
                and not any(t in toks for t in n):
            out.append((d, scores.get(d, 0.0)))
    out.sort(key=lambda kv: (-kv[1], kv[0]))
    return out[:k]


def bm25_oracle(
    docs_tokens: dict[int, list[str]], query_terms: list[str], k: int
) -> list[tuple[int, float]]:
    """Pure-Python reference implementation: exact BM25 top-k.

    ``docs_tokens``: doc_id -> token list (already canonically tokenized).
    Returns [(doc_id, score)] sorted (score desc, doc_id asc), length <= k.
    This is the rank-identity oracle — the analogue of the reference's exact
    golden count assertion (test/integration/integration_test.go:68).
    """
    n_docs = len(docs_tokens)
    if n_docs == 0:
        return []
    tf_maps = {d: Counter(toks) for d, toks in docs_tokens.items()}
    dls = {d: len(toks) for d, toks in docs_tokens.items()}
    avgdl = sum(dls.values()) / n_docs
    uniq_terms = sorted(set(query_terms))
    dfs = {t: sum(1 for c in tf_maps.values() if t in c) for t in uniq_terms}
    scores: dict[int, float] = {}
    for t in uniq_terms:  # term-lexicographic accumulation order
        if dfs[t] == 0:
            continue
        w = idf(n_docs, dfs[t])
        for d, c in tf_maps.items():
            tf = c.get(t, 0)
            if tf:
                scores[d] = scores.get(d, 0.0) + w * tf_norm(tf, dls[d], avgdl)
    ranked = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))
    return ranked[:k]


def round6_sql(expr: str) -> str:
    """Engine-portable 6-dp rounding: floor(x*1e6+0.5)/1e6 — the same IEEE
    ops in Spark and DuckDB, so results are bit-identical (plain round()
    differs between engines exactly at .5 boundaries)."""
    return f"floor(({expr}) * 1000000 + 0.5) / 1000000.0"


def round6_expr(col: Column) -> Column:
    """Spark mirror of round6_sql."""
    return F.floor(col * F.lit(1000000.0) + F.lit(0.5)) / F.lit(1000000.0)


def bm25_duckdb_sql(
    tokens_sql: str, source_table: str, doc_id_col: str, terms: list[str], k: int,
    round_dp: int = 6, require_all: bool = False, df_source_sql: str | None = None,
    phrase: list[str] | None = None,
    prefix_expand: tuple[str, int] | None = None,
    bool_spec: dict | None = None,
    fuzzy_expand: tuple[str, int, int, int] | None = None,
    wildcard_expand: tuple[str, int] | None = None,
    range_where: str | None = None,
    range_universe: bool = False,
    extra_doc_where: str | None = None,
) -> str:
    """DuckDB SQL computing the identical BM25 top-k (oracle side of the
    driver's correctness gate). ``tokens_sql`` is a fragment producing the
    canonical token array from the source table's text column.
    ``require_all`` mirrors the engine's conjunctive mode (ES bool.must):
    the tf CTE holds one row per (doc, matched term), so the conjunction
    is a HAVING on the per-doc row count — idf/df stay corpus-wide, as
    in the engine.

    ``df_source_sql`` mirrors the PRE-FOLD Lucene docFreq semantics of an
    index with pending delta segments: per-term df is then counted over
    this separate table expression — the BASE build corpus (old versions
    of updated docs and deleted docs still counted, exactly as their
    postings still sit in the base dictionary) UNION ALL the delta's new
    doc versions (whose postings sit in the segments) — while n_docs,
    avgdl, tf and dl stay on the LIVE post-change ``source_table``. The
    expression must yield columns (iid, text) with ``iid`` unique per doc
    INSTANCE (an updated doc appears on both sides and must count twice,
    like its old+new postings do). df is clamped to n_docs in the idf,
    matching the engine's negative-idf guard (query.py _term_stats).

    ``phrase`` (ordered token list) mirrors BM25Query.topk_phrase: only
    docs whose token stream contains the phrase as a consecutive
    subsequence score; tokens are [a-z0-9]+ by construction, so the
    space-joined stream makes the subsequence test an exact substring
    match — the identical formulation the engine's verify kernel uses.

    ``prefix_expand`` = (prefix, max_expansions) mirrors
    BM25Query.topk_prefix: the scored term set becomes the corpus's
    distinct tokens starting with ``prefix``, lexicographic first-N —
    the deterministic ES multi-term rewrite. Mutually exclusive with
    ``terms``-driven filtering (pass terms=[] then) and df_source_sql.

    ``bool_spec`` = {"must": [...], "should": [...], "must_not": [...],
    "msm": int} mirrors BM25Query.topk_bool (the ES ``bool`` query): the
    tf CTE covers ALL three clause sets (must_not postings are needed to
    detect exclusion), the score sums only must+should contributions,
    and the HAVING enforces n_must = |must|, n_should >= msm, n_not = 0
    over the one-row-per-(doc, matched term) counts. Mutually exclusive
    with ``terms``/``require_all``/``phrase``/``prefix_expand``.

    ``fuzzy_expand`` = (term, max_edits, prefix_length, max_expansions)
    mirrors BM25Query.topk_fuzzy: the scored set becomes the distinct
    corpus tokens within plain Levenshtein ``max_edits`` of ``term``
    (sharing its first ``prefix_length`` chars), ordered (distance,
    term) first-N — DuckDB's levenshtein() is the same plain metric the
    engine's _levenshtein_bounded computes. ``wildcard_expand`` =
    (pattern, max_expansions) mirrors topk_wildcard: ``*``/``?`` map to
    LIKE ``%``/``_`` (terms are [a-z0-9], so the translation is exact),
    lexicographic first-N. Both behave like prefix_expand (pass
    terms=[]; no df_source_sql).

    ``range_where`` mirrors topk_bool(range=...): a raw SQL predicate
    over the source table's columns (e.g. ``n_chars >= 150 AND n_chars
    < 320``) restricting the result set in filter context (never
    scoring; df/avgdl stay corpus-wide). With ``range_universe=False``
    the predicate narrows the scored candidates (some term clause
    bounds the result — the engine's semi-join path). With
    ``range_universe=True`` the qualifying set IS the range set: all
    range docs appear, scoring clauses only boost and score-0 docs
    keep rank by doc_id — the engine's filter-context-universe path;
    only valid when no must/filter terms exist and msm is 0."""
    expanders = [x is not None
                 for x in (prefix_expand, fuzzy_expand, wildcard_expand)]
    if sum(expanders) > 1:
        raise ValueError("at most one of prefix/fuzzy/wildcard_expand")
    if any(expanders) and df_source_sql is not None:
        raise ValueError("term expansion does not compose with df_source_sql")
    if bool_spec is not None and (terms or require_all or phrase or prefix_expand):
        raise ValueError("bool_spec does not compose with terms/require_all/"
                         "phrase/prefix_expand")
    if bool_spec is not None:
        terms = sorted(
            set(bool_spec.get("must", []))
            | set(bool_spec.get("should", []))
            | set(bool_spec.get("must_not", []))
            | set(bool_spec.get("filter", []))
        )
    terms_list = ", ".join("'" + t.replace("'", "''") + "'" for t in sorted(set(terms)))
    having = f"HAVING count(*) = {len(set(terms))}" if require_all else ""
    expansion_cte = ""
    tf_pred = f"t.term IN ({terms_list})"
    if prefix_expand is not None:
        pfx, max_exp = prefix_expand
        expansion_cte = f"""expansion AS (
  SELECT DISTINCT t.term AS term
  FROM toks, unnest(tokens) AS t(term)
  WHERE t.term LIKE '{pfx.replace(chr(39), chr(39) * 2)}%'
  ORDER BY term LIMIT {int(max_exp)}
),
"""
        tf_pred = "t.term IN (SELECT term FROM expansion)"
    if fuzzy_expand is not None:
        fq, fd, fpl, fmax = fuzzy_expand
        fq_sql = fq.replace("'", "''")
        pfx_cond = (
            f" AND t.term LIKE '{fq_sql[:int(fpl)]}%'" if int(fpl) > 0 else ""
        )
        expansion_cte = f"""expansion AS (
  SELECT term FROM (
    SELECT DISTINCT t.term AS term, levenshtein(t.term, '{fq_sql}') AS dist
    FROM toks, unnest(tokens) AS t(term)
    WHERE levenshtein(t.term, '{fq_sql}') <= {int(fd)}{pfx_cond}
  ) ORDER BY dist, term LIMIT {int(fmax)}
),
"""
        tf_pred = "t.term IN (SELECT term FROM expansion)"
    if wildcard_expand is not None:
        wp, wmax = wildcard_expand
        like = wp.lower().replace("*", "%").replace("?", "_").replace("'", "''")
        expansion_cte = f"""expansion AS (
  SELECT DISTINCT t.term AS term
  FROM toks, unnest(tokens) AS t(term)
  WHERE t.term LIKE '{like}'
  ORDER BY term LIMIT {int(wmax)}
),
"""
        tf_pred = "t.term IN (SELECT term FROM expansion)"
    if range_universe:
        if not range_where:
            raise ValueError("range_universe requires range_where")
        bs = bool_spec or {}
        if bs.get("must") or bs.get("filter") or int(bs.get("msm", 0)) > 0:
            raise ValueError(
                "range_universe is the no-must/no-filter/msm-0 form — a "
                "term clause that bounds the result needs the semi-join "
                "form (range_universe=False)"
            )
    extra_pred = ""
    if extra_doc_where:
        # raw predicate over the toks CTE (doc_id, tokens) restricting
        # the qualifying docs — e.g. a span-near (phrase slop) condition
        extra_pred = (
            f"AND tf.doc_id IN (SELECT doc_id FROM toks "
            f"WHERE {extra_doc_where})"
        )
    range_pred = ""
    if range_where and not range_universe:
        range_pred = (
            f"AND tf.doc_id IN (SELECT {doc_id_col} FROM {source_table} "
            f"WHERE {range_where})"
        )
    phrase_pred = ""
    if phrase:
        needle = " " + " ".join(phrase) + " "
        phrase_pred = (
            "AND tf.doc_id IN (SELECT doc_id FROM toks WHERE strpos("
            f"' ' || array_to_string(tokens, ' ') || ' ', "
            f"'{needle.replace(chr(39), chr(39) * 2)}') > 0)"
        )
    contrib_sql = (
        f"ln(1.0 + (stats.n_docs - __DF__ + 0.5) / (__DF__ + 0.5))"
        f" * tf.tf / (tf.tf + {K1} * (1.0 - {B} + {B} * dl.dl / stats.avgdl))"
    )
    score_sql = f"sum({contrib_sql})"
    if bool_spec is not None:
        def _inlist(ts):
            return ", ".join("'" + t.replace("'", "''") + "'" for t in sorted(set(ts)))

        m = sorted(set(bool_spec.get("must", [])))
        s = sorted(set(bool_spec.get("should", [])))
        nn = sorted(set(bool_spec.get("must_not", [])))
        fl = sorted(set(bool_spec.get("filter", [])))
        msm = int(bool_spec.get("msm", 0))
        if m + s:
            score_sql = (
                f"sum(CASE WHEN tf.term IN ({_inlist(m + s)}) "
                f"THEN {contrib_sql} ELSE 0.0 END)"
            )
        else:
            score_sql = "0.0"  # filter-only: ES filter-context score
        conds = []
        if m:
            conds.append(
                f"count(CASE WHEN tf.term IN ({_inlist(m)}) THEN 1 END) = {len(m)}"
            )
        if msm > 0 and s:
            conds.append(
                f"count(CASE WHEN tf.term IN ({_inlist(s)}) THEN 1 END) >= {msm}"
            )
        if nn:
            conds.append(
                f"count(CASE WHEN tf.term IN ({_inlist(nn)}) THEN 1 END) = 0"
            )
        if fl:
            conds.append(
                f"count(CASE WHEN tf.term IN ({_inlist(fl)}) THEN 1 END) = {len(fl)}"
            )
        having = "HAVING " + " AND ".join(conds) if conds else ""
    if df_source_sql is None:
        df_cte = "df AS (SELECT term, count(*) AS df FROM tf GROUP BY term)"
        df_expr = "df.df"
    else:
        df_cte = f"""toks_df AS (
  SELECT iid, {tokens_sql} AS tokens FROM {df_source_sql}
),
df AS (
  SELECT t.term, count(DISTINCT iid) AS df
  FROM toks_df, unnest(tokens) AS t(term)
  WHERE t.term IN ({terms_list})
  GROUP BY t.term
)"""
        df_expr = "LEAST(df.df, stats.n_docs)"
    if range_universe:
        nn = sorted(set((bool_spec or {}).get("must_not", [])))
        nn_list = ", ".join("'" + t.replace("'", "''") + "'" for t in nn)
        nn_pred = (
            f"  AND u.doc_id NOT IN (SELECT doc_id FROM tf "
            f"WHERE tf.term IN ({nn_list}))\n"
            if nn
            else ""
        )
        final = f"""SELECT u.doc_id, {round6_sql("coalesce(s.score, 0.0)")} AS score
FROM (SELECT {doc_id_col} AS doc_id FROM {source_table} WHERE {range_where}) u
LEFT JOIN scored s USING (doc_id)
WHERE 1=1
{nn_pred}ORDER BY score DESC, doc_id ASC
LIMIT {k}"""
    else:
        final = f"""SELECT doc_id, {round6_sql("score")} AS score
FROM scored
ORDER BY score DESC, doc_id ASC
LIMIT {k}"""
    return f"""
WITH toks AS (
  SELECT {doc_id_col} AS doc_id, {tokens_sql} AS tokens FROM {source_table}
),
dl AS (SELECT doc_id, len(tokens) AS dl FROM toks),
stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
{expansion_cte}tf AS (
  SELECT doc_id, t.term, count(*) AS tf
  FROM toks, unnest(tokens) AS t(term)
  WHERE {tf_pred}
  GROUP BY doc_id, t.term
),
{df_cte},
scored AS (
  SELECT tf.doc_id,
         {score_sql.replace("__DF__", df_expr)} AS score
  FROM tf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
  WHERE 1=1 {phrase_pred} {range_pred} {extra_pred}
  GROUP BY tf.doc_id
  {having}
)
{final}
"""
