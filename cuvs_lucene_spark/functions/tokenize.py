"""Frozen tokenization rules (H1 — host-Lucene analysis, SURVEY.md §2.5).

Rank-identity of BM25 results (north rule) depends on BOTH sides of every
comparison tokenizing identically, so the rule lives in exactly one place:

    tokens(text) = all matches of ``[a-z0-9_]+`` over ``lower(text)``

Three equivalent implementations are provided and property-tested against
each other (tests/test_tokenize.py):

- ``tokenize_expr``  — JVM-side Catalyst expression (regexp_extract_all):
  whole-stage-codegen'd, the fast path for doc stats / simple queries.
- ``tokenize_py``    — numpy/pandas batch implementation used inside the
  segment-build pandas UDF (Arrow-vectorized, no per-row Python loops
  outside pandas' compiled str kernels).
- ``TOKEN_SQL_DUCKDB`` — the DuckDB oracle spelling.

The reference delegates analysis to the Lucene host (MockAnalyzer in
``TestCuVSRandomizedVectorSearch.java:68,83``); a lowercase word tokenizer
is the analogue.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

TOKEN_PATTERN = r"[a-z0-9_]+"

# DuckDB oracle spelling of the same rule (used by __spark_entry__.oracle_sql)
TOKEN_SQL_DUCKDB = "regexp_extract_all(lower({col}), '[a-z0-9_]+')"


def tokenize_expr(col: str | Column) -> Column:
    """tokens(text) as a JVM-side Catalyst expression → array<string>."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_extract_all(F.lower(c), F.lit(TOKEN_PATTERN), 0)


def doclen_expr(col: str | Column) -> Column:
    """Doc length |tokens(text)| as a JVM-side expression → int."""
    return F.size(tokenize_expr(col))


def doclen_py(texts: pd.Series) -> pd.Series:
    """The driver's ``doclen_expr``: |tokens(text)| as ``Int32``, null for
    a null text (Spark's ``size(null)`` under ANSI)."""
    return tokenize_py(texts).str.len().astype("Int32").mask(texts.isna())


def tokenize_py(texts: pd.Series) -> pd.Series:
    """Batch tokenizer for use inside pandas UDFs.

    ``Series.str`` kernels run in pandas' compiled loops over the whole
    Arrow batch — the Python interpreter never touches individual rows
    (O9 / ``input_hint``: no per-row Python).
    """
    return texts.fillna("").str.lower().str.findall(TOKEN_PATTERN)
