"""Code-aware tokenizer — the analysis stage the reference delegates to
Elasticsearch (implicit in indexing of ``Source`` bytes; SURVEY.md B6).

Canonical spec (ONE definition, four mirror implementations so the pure-
Python BM25 oracle, the vectorized pandas UDF, the Spark SQL expression and
the DuckDB oracle SQL all tokenize *identically*):

  1. split camelCase: insert a space at every ``([a-z0-9])([A-Z])`` boundary
  2. lowercase
  3. split on runs of anything outside ``[a-z0-9]`` (this also splits
     snake_case on ``_`` and strips punctuation/operators)
  4. drop empty tokens

Reference parity note: the reference never tokenizes (document bodies are
opaque bytes, mapper.go:12); tokenization is what Elasticsearch did for it.
The camel/snake splitting matches how a code-search analyzer must treat
identifiers per BASELINE.json.north_star.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StringType

# r7 perf: the camel boundary as a zero-width lookaround with a LITERAL
# replacement — re.sub then skips the per-match group-template expansion
# that dominated tokenize profiles (1.5x); token extraction as findall of
# [a-z0-9]+ runs, which equals split-on-complement + drop-empties (1.3x).
# Both equivalences brute-forced over the full mixed alphabet in
# tests/test_tokenizer.py; the SQL/DuckDB mirrors keep the original
# formulation (output-identical).
_CAMEL_GAP = re.compile(r"(?<=[a-z0-9])(?=[A-Z])")
_TOKEN = re.compile(r"[a-z0-9]+")


def tokenize_py(text: str | None) -> list[str]:
    """Pure-Python canonical tokenizer (oracle + UDF kernel)."""
    if not text:
        return []
    return _TOKEN.findall(_CAMEL_GAP.sub(" ", text).lower())


def _tokenize_series(texts: pd.Series) -> pd.Series:
    return texts.map(tokenize_py)


# Vectorized Arrow-batched UDF (input_hint: no per-row Python in the plan's
# hot path; the regex work happens per Arrow batch inside one Python worker
# call, not one Python call per row via the row serializer).
tokenize_udf = F.pandas_udf(_tokenize_series, ArrayType(StringType()))


def tokenize_expr(col: Column | str) -> Column:
    """JVM-side tokenizer as a Catalyst expression (whole-stage codegen;
    preferred in the hot path — no Python worker at all)."""
    c = F.col(col) if isinstance(col, str) else col
    spaced = F.regexp_replace(c, r"([a-z0-9])([A-Z])", r"$1 $2")
    toks = F.split(F.lower(spaced), r"[^a-z0-9]+")
    return F.filter(toks, lambda t: t != F.lit(""))


def tokenize_duckdb_sql(col_expr: str) -> str:
    """The identical tokenizer as a DuckDB SQL fragment (oracle side)."""
    return (
        "list_filter(regexp_split_to_array(lower(regexp_replace("
        f"{col_expr}, '([a-z0-9])([A-Z])', '\\1 \\2', 'g')), "
        "'[^a-z0-9]+'), t -> t <> '')"
    )

