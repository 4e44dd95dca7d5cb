"""Order-deterministic aggregation helpers.

Floating-point SUM is not associative, so a shuffled/partial aggregation
can legally return different last-bits run to run — which breaks any
exact differential check against an oracle (and makes production results
nondeterministic under AQE re-planning). The fix is standard: aggregate
in fixed-point. ``SUM(CAST(x AS DECIMAL(27,s)))`` is exact and therefore
order-insensitive; casting the final sum back to DOUBLE is deterministic.

The driver's star schema stores quantities as integers-in-double and
money/rates with ≤2 decimal digits, so scale 4 casts are value-exact
(no rounding at all); derived products use scale 8.

At 100 TB this is also the *right* plan shape: decimal sums stay inside
whole-stage codegen and partial aggregation, costing one widening cast
per row — no UDF, no extra shuffle.

Measured cost of the exactness (round 10, sf0.1 lineitem, 4 grouped
sums): decimal aggregation runs ~4.5x a double SUM (1.12-1.16 s vs
0.25 s) and the tax is precision-independent above the long-backed
threshold — Spark's SUM over decimal(p,s) widens the buffer to
decimal(p+10,s), so every money-safe input precision lands on the
BigDecimal path. The tempting fast path — scaled-integer (cents) sums
in LONG — is rejected deliberately: a scale-4 money sum overflows
int64 around 10^12 rows (10^5 value x 10^4 scale x 10^12 rows ≈
10^21 >> 2^63), i.e. exactly at the 100 TB deployments this engine
targets, and it would overflow SILENTLY. The decimal tax buys
order-deterministic, AQE-replan-safe, oracle-exact aggregates at any
scale; callers that genuinely want approximate speed can always SUM
doubles directly.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dsum(col: Column | str, scale: int = 4, alias: str | None = None) -> Column:
    """Exact SUM of a double column via decimal, returned as double."""
    c = F.col(col) if isinstance(col, str) else col
    out = F.sum(c.cast(f"decimal(27,{scale})")).cast("double")
    return out.alias(alias) if alias else out


def davg(col: Column | str, alias: str | None = None) -> Column:
    """Exact-sum AVG: scale-4 decimal sum cast to double, divided by count."""
    c = F.col(col) if isinstance(col, str) else col
    out = F.sum(c.cast("decimal(27,4)")).cast("double") / F.count(c)
    return out.alias(alias) if alias else out


def dsum_expr(sql_expr: str, scale: int = 4) -> str:
    """The oracle-side (ANSI/DuckDB) rendering of :func:`dsum`.

    The final decimal→double conversion goes THROUGH VARCHAR: DuckDB's
    direct ``CAST(decimal AS DOUBLE)`` converts the int128 unscaled value
    and divides by 10^scale — two roundings, which for sums whose
    unscaled value exceeds 2^53 can land 1 ulp away from the correctly
    rounded double (observed at sf1: Q1 sum_charge off by 6e-6). The
    string route uses strtod (correctly rounded), which is also what
    Spark's Decimal→double produces (BigDecimal.doubleValue) — so both
    engines emit the bit-identical double at ANY scale factor.

    VARCHAR(64), not bare VARCHAR: rel_sql_frontend runs this exact text
    on BOTH engines, and Spark's parser requires the length parameter
    (DuckDB accepts and ignores it)."""
    return f"CAST(CAST(SUM(CAST({sql_expr} AS DECIMAL(27,{scale}))) AS VARCHAR(64)) AS DOUBLE)"


# --------------------------------------------------------------------------
# Exact PRODUCTS. Casting a double *product* to decimal rounds a value
# whose last bits differ from the mathematically exact product — and Spark
# and DuckDB can legally round such near-tie doubles to different scale-6
# decimals (observed at sf1: a handful of lineitem rows put rel_q1's
# sum_charge off by 6e-6). The fix is to never multiply in double: cast
# each FACTOR to a value-exact small decimal (money has 2 digits, rates
# have 2 digits, quantities are integers — all exact), multiply in
# decimal, sum in decimal. Factor precisions are chosen so every product
# stays well under precision 38 ⇒ no engine rounds anywhere.
# --------------------------------------------------------------------------

#: Value-exact factor types for the star schema's domains.
MONEY = "decimal(12,2)"  # l_extendedprice, p_retailprice, *_acctbal, o_totalprice
RATE = "decimal(3,2)"  # l_discount / l_tax and 1±them (all 2-digit, < 10)


def rev_col() -> Column:
    """``l_extendedprice * (1 - l_discount)`` as an exact decimal(16,4)."""
    return F.col("l_extendedprice").cast(MONEY) * (F.lit(1) - F.col("l_discount")).cast(RATE)


def rev_sql(ep: str = "l_extendedprice", disc: str = "l_discount") -> str:
    """Oracle rendering of :func:`rev_col` — identical factor casts, so
    both engines compute the same exact decimal."""
    return f"(CAST({ep} AS DECIMAL(12,2)) * CAST(1 - {disc} AS DECIMAL(3,2)))"


def charge_col() -> Column:
    """Q1's charge ``rev * (1 + l_tax)`` as an exact decimal(20,6)."""
    return rev_col() * (F.lit(1) + F.col("l_tax")).cast(RATE)


def charge_sql() -> str:
    return f"({rev_sql()} * CAST(1 + l_tax AS DECIMAL(3,2)))"
