"""Cross-engine-deterministic rounding.

Library ``round`` differs between engines on exact decimal boundaries:
Spark rounds the double's *shortest decimal representation*
(BigDecimal.valueOf → HALF_UP: 39.69875 → 39.6988) while DuckDB rounds the
*raw binary* scaled (39.698749999… → 39.6987).  Averages of 2-decimal data
land on such boundaries systematically.

``pround`` uses plain integer arithmetic — ``floor(x·10ⁿ + 0.5) / 10ⁿ`` —
which both engines evaluate identically on identical doubles.  The SQL
twin is produced by ``rewrite_rounds`` (queries.py) so oracle text keeps
readable ``ROUND(x, n)`` syntax.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def pround(c: Column | str, n: int) -> Column:
    """Portable round-half-up to n decimals (double in, double out)."""
    if isinstance(c, str):
        c = F.col(c)
    s = float(10**n)
    return F.floor(c * F.lit(s) + F.lit(0.5)) / F.lit(s)


def rewrite_rounds_sql(sql: str) -> str:
    """Rewrite every ``ROUND(expr, n)`` in a SQL string into the portable
    floor formula.  Handles nested parens; n must be an integer literal."""
    out = []
    i = 0
    while True:
        j = sql.find("ROUND(", i)
        if j < 0:
            out.append(sql[i:])
            break
        out.append(sql[i:j])
        # find matching close paren
        depth = 0
        k = j + len("ROUND(") - 1  # at '('
        last_comma = -1
        for k in range(j + len("ROUND(") - 1, len(sql)):
            ch = sql[k]
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
                if depth == 0:
                    break
            elif ch == "," and depth == 1:
                last_comma = k
        expr = rewrite_rounds_sql(sql[j + len("ROUND(") : last_comma])
        n = int(sql[last_comma + 1 : k].strip())
        scale = f"1e{n}"
        out.append(f"(FLOOR(({expr}) * {scale} + 0.5) / {scale})")
        i = k + 1
    return "".join(out)


#: Micro-units per money unit, shared by :func:`money_units` and its
#: DuckDB twin :func:`money_units_sql`.
MONEY_SCALE = 10000


def money_units(c: Column | str, scale: int = MONEY_SCALE) -> Column:
    """Exact integer micro-units for cross-engine-deterministic money
    sums: both engines compute the identical per-row double, so flooring
    it to 1/scale units yields integers whose SUM is exact regardless of
    summation order — a plain double SUM rounded to cents flips last-cent
    digits between engines on ~1e6 totals."""
    if isinstance(c, str):
        c = F.col(c)
    return F.floor(c * F.lit(scale) + F.lit(0.5)).cast("long")


def money_units_sql(expr: str) -> str:
    """DuckDB twin of :func:`money_units` (same arithmetic, same order)."""
    return f"CAST(FLOOR(({expr}) * {MONEY_SCALE} + 0.5) AS BIGINT)"
