"""Numeric expression helpers (X2 COALESCE/NULLIF are built-ins; this
module holds the cross-engine-exact ROUND).

Why not ``F.round``: Spark rounds the *shortest decimal rendering* of
a double (``BigDecimal.valueOf``, HALF_UP) while DuckDB rounds the
true binary value — on ``.xx5`` boundaries they disagree (observed on
``round(o_totalprice/30.0, 2)``: 11010.99 vs 11011.00). The reference's
``ROUND(x, 2)`` money math (``emergency_wellbeing.sql:26``,
``stg_emergency_works_by_authority.sql:37-38``) is reproduced with an
explicit floor-based half-up that both engines evaluate identically:
``floor(x * 10^n + 0.5) / 10^n``.

Only valid for non-negative values (half-up becomes half-toward-+inf
for negatives) and |x*10^n| < 2^53 — both hold for the money domains
involved.
"""

from __future__ import annotations

from pyspark.sql import Column

from .exprmemo import memo_column
from pyspark.sql import functions as F


@memo_column
def round_half_up(col: Column | str, scale: int = 2) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    p = float(10**scale)
    return (F.floor(c * F.lit(p) + F.lit(0.5)) / F.lit(p)).cast("double")
