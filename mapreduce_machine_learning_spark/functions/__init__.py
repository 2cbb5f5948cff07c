"""Shared column-expression helpers: vector math over ``array<float>`` and
text tokenization.

All pure JVM higher-order functions (``zip_with``/``transform``/
``aggregate``) — no Python in the data path; elements are cast to double
before arithmetic so results are precision-stable across engines and across
Spark's float codegen paths.

The vector helpers take SQL expression text (a column name is one; so is
``determinism.sql_array``'s literal) and build their Column with a single
``F.expr`` parse: one py4j call, where the same tree built from PySpark
lambdas cost ~330 per cosine. ``cosine_sql`` returns the text itself, for
callers that compose it into a larger expression (a SQL lambda body).
The fold seed is ``0.0D``: a bare ``0.0`` parses as a decimal and would
change the accumulator type.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _fold_sql(arr: str) -> str:
    return f"aggregate({arr}, 0.0D, (acc, z) -> acc + z)"


def _dot_sql(a: str, b: str) -> str:
    """Σ aᵢ·bᵢ in double precision."""
    return _fold_sql(
        f"zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE))"
    )


def _sqnorm_sql(a: str) -> str:
    """Σ aᵢ² in double precision."""
    return _fold_sql(f"transform({a}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))")


def _l2norm_sql(a: str) -> str:
    return f"SQRT({_sqnorm_sql(a)})"


def cosine_sql(a: str, b: str) -> str:
    """Cosine similarity; the caller is responsible for zero-vector guards."""
    return f"({_dot_sql(a, b)} / ({_l2norm_sql(a)} * {_l2norm_sql(b)}))"


def dot(a: str, b: str) -> Column:
    return F.expr(_dot_sql(a, b))


def sqnorm(a: str) -> Column:
    return F.expr(_sqnorm_sql(a))


def l2norm(a: str) -> Column:
    return F.expr(_l2norm_sql(a))


def cosine(a: str, b: str) -> Column:
    return F.expr(cosine_sql(a, b))


def tokens(text_col: Column | str = "text") -> Column:
    """The contract tokenization: single-space split (≡ DuckDB
    string_split)."""
    return F.split(text_col, " ")
