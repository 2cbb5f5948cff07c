"""Cross-engine determinism helpers (SURVEY.md §2.1 contract).

Rules encoded here:
  1. every double-valued output column is rounded to 6 places on BOTH engines;
  2. integer aggregates are cast to BIGINT on the oracle side (DuckDB SUM(int)
     returns HUGEINT, which would be a schema mismatch);
  3. computed columns carry identical aliases on both sides;
  4. top-k queries impose a total order (unique-key tie-break).
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F

REVENUE_SQL = "l_extendedprice * (1 - l_discount)"


def revenue() -> Column:
    """`l_extendedprice * (1 - l_discount)` — the contract's revenue
    expression (SURVEY.md §2.9). A function because PySpark 4 column
    construction needs an active session."""
    return F.col("l_extendedprice") * (1 - F.col("l_discount"))


def sql_lit(v: float | None) -> str:
    """SQL text that Spark parses back to exactly the double ``v``: Python's
    shortest round-trip ``repr`` with a ``D`` suffix, parenthesised when
    negative so it can follow any operator. NaN and ±inf have no literal
    form and go through a string cast; None is a typed NULL. One parse of
    such text replaces a py4j call per ``F.lit``."""
    if v is None:
        return "CAST(NULL AS DOUBLE)"
    v = float(v)
    if math.isnan(v):
        return "CAST('NaN' AS DOUBLE)"
    if math.isinf(v):
        return "CAST('Infinity' AS DOUBLE)" if v > 0 else "CAST('-Infinity' AS DOUBLE)"
    text = f"{v!r}D"
    return f"({text})" if text.startswith("-") else text


def sql_array(values) -> str:
    """SQL text of the ``array<double>`` literal holding exactly ``values``
    (each through :func:`sql_lit`); None is a typed NULL array."""
    if values is None:
        return "CAST(NULL AS ARRAY<DOUBLE>)"
    return f"array({', '.join(map(sql_lit, values))})"


def r6(col: Column | str) -> Column:
    """Round a double column to 6 places — the cross-engine FP contract for
    bounded-magnitude values (avgs, ratios, stddevs, per-row values).

    NOT safe for large aggregates: FP addition order differs across engines,
    and at magnitude ~1e8 the observed cross-engine noise (~2e-6, tens of
    ULPs) survives 6-decimal rounding. Measured live: a 3-way-join revenue sum
    came out 600819450.466602 (Spark) vs 600819450.4666 (DuckDB). Use r0/rmil
    for those.
    """
    return F.round(F.col(col) if isinstance(col, str) else col, 6)


def r6_sql(expr: str) -> str:
    """:func:`r6` as SQL text, for expressions composed as text (a SQL
    lambda body cannot hold a Column)."""
    return f"ROUND({expr}, 6)"


def _make_np_r6():
    def np_r6(x):
        """NumPy-side mirror of :func:`r6` for Arrow-batch kernels.

        ``np.round`` is round-half-to-EVEN; Spark ``F.round`` and DuckDB
        ``ROUND`` are round-half-AWAY-FROM-ZERO, so an exact-midpoint value
        (x.xxxxxx5) would flip membership across engines if a kernel used
        ``np.round`` for its threshold cut (ADVICE round 3).
        ``floor(|x|·1e6 + 0.5)`` with the sign restored is exactly the
        half-away-from-zero rule; parity with DuckDB ``ROUND(x, 6)`` on
        midpoints is pinned by tests/test_determinism_round.py.

        Spark ``F.round`` is a THIRD rule — HALF_UP on the double's
        shortest-decimal representation (BigDecimal), not on the scaled
        double — and diverges from np_r6/DuckDB in one measured class:
        doubles whose value and whose x*1e6 product sit on opposite sides
        of a 7th-decimal midpoint (measured 6 of 20400 on an adversarial
        grid, e.g. ``4.0000005`` -> Spark 4.000001 vs np_r6/DuckDB 4.0
        because 4.0000005*1e6 rounds DOWN to ...0.4999999995, and
        ``2.4999999999999998e-06`` -> Spark 2e-06 vs 3e-06 because the
        product rounds UP to exactly 2.5; ZERO divergences on 20000 random
        cosines). The class is pinned by tests/test_determinism_round.py::
        test_np_r6_vs_spark_round_divergence_class — same
        accepted-probability family as the documented ulp class: a
        kernel-vs-F.round flip needs an input landing exactly on such a
        boundary (negligible on real-valued cosines). Kernels that feed a
        DuckDB oracle MUST use np_r6 (the oracle-exact rule), never
        F.round, for threshold cuts."""
        import numpy as np

        return np.copysign(np.floor(np.abs(x) * 1e6 + 0.5) / 1e6, x)

    return np_r6


# Built in a factory, so its qualname is local: cloudpickle ships it by
# value inside the Arrow kernels that call it (`ann.make_cell_probe_kernel`,
# `llm._make_score_kernel`), and no Python worker imports this package.
np_r6 = _make_np_r6()


def r0(col: Column | str) -> Column:
    """Round to integer — for large sums (money totals over joins, sample
    variances, magnitudes up to ~1e11). Noise ~1e-5 vs grid 1.0 → boundary
    flip probability ~1e-5 per value."""
    return F.round(F.col(col) if isinstance(col, str) else col, 0)


def rmil(col: Column | str) -> Column:
    """Scale into millions and round to 3 places — for Σx² -scale aggregates
    that can reach 1e12–1e15, where the double's own ULP (0.125 at 1e15)
    exceeds any fixed decimal grid. Grid = 500 absolute, noise = a few ULPs."""
    c = F.col(col) if isinstance(col, str) else col
    return F.round(c / 1000000.0, 3)
