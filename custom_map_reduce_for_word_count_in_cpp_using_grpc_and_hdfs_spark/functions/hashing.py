"""Deterministic, engine-portable hashing primitives.

Dedup/fingerprint operators need hashes that are (a) stable across runs
and Spark versions, and (b) reproducible by the DuckDB oracle. Neither
``xxhash64`` (Spark) nor ``hash()`` (DuckDB) satisfies (b), so the
portable primitive is a polynomial rolling hash over character codes —
the classic Rabin-Karp/Java-``String.hashCode`` recurrence, computed with
``aggregate``/``list_reduce`` folds that both engines evaluate strictly
left-to-right (zero-init and first-element-init agree because
``0*B + x1 = x1``).

Where cross-engine parity is NOT required (MinHash permutations), we use
Spark's native ``xxhash64`` — JVM-side, fast, seedable — and check those
operators by recall against an exact oracle instead of by hash equality.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Rabin-Karp base/modulus. MOD < 2^31 keeps acc*B + c < 2^36, far from
#: int64 overflow in either engine.
POLY_BASE = 31
POLY_MOD = 1_000_000_007


def poly_hash_chars(text: Column | str) -> Column:
    """Rolling hash over the characters of a string column (document
    fingerprint). O(len) per row — but the ``transform``/``aggregate``
    lambdas are INTERPRETED (higher-order functions sit outside
    whole-stage codegen), so this is one of the most CPU-expensive
    per-row expressions in the engine: callers running it over a
    whole corpus must have real scan parallelism (``plans/parallelism
    .spread`` when the layout under-splits; see SCALE.md lessons 7/12).
    Portability (bit-identical fold on any engine) is the point; a
    JVM-side xxhash64 is the right key where portability isn't needed."""
    text = F.col(text) if isinstance(text, str) else text
    codes = F.transform(F.split(text, ""), lambda c: F.ascii(c).cast("long"))
    return F.aggregate(
        codes,
        F.lit(0).cast("long"),
        lambda acc, x: (acc * POLY_BASE + x) % POLY_MOD,
    )


def poly_hash_chars_sql(text_expr: str) -> str:
    """DuckDB rendering of :func:`poly_hash_chars` (same fold)."""
    return (
        f"list_reduce(list_transform(string_split({text_expr}, ''), "
        f"c -> ascii(c)::BIGINT), (acc, x) -> (acc * {POLY_BASE} + x) % {POLY_MOD})"
    )


#: 56-bit variant for token-level hashes feeding SimHash. 2^56-5 is prime
#: (Miller-Rabin verified) and acc*31 + 255 < 2^63 keeps the fold inside
#: int64 under ANSI overflow checking; bits 0..55 are usable.
POLY_MOD_56 = (1 << 56) - 5
SIMHASH_BITS = 56


def simhash_votes(h: Column, weight: Column | None = None) -> list[Column]:
    """The :data:`SIMHASH_BITS` SimHash vote aggregates ``_v0``..: vote b
    sums 2·bit_b(h) − 1 over the group's token hashes ``h``, each counted
    ``weight`` times (once when None). Flat SUMs keep map-side partial
    aggregation, so the shuffle carries one row per group per partition."""
    votes = [F.shiftright(h, b).bitwiseAND(F.lit(1)) * 2 - 1 for b in range(SIMHASH_BITS)]
    if weight is not None:
        votes = [v * weight for v in votes]
    return [F.sum(v).alias(f"_v{b}") for b, v in enumerate(votes)]


def simhash_fold() -> Column:
    """The 56-bit SimHash of the :func:`simhash_votes` columns: bit b is
    set iff vote b is positive (the majority of token-hash bits)."""
    bits = F.lit(0).cast("long")
    for b in range(SIMHASH_BITS):
        bits = bits + F.when(F.col(f"_v{b}") > 0, F.lit(1 << b).cast("long")).otherwise(F.lit(0).cast("long"))
    return bits


def poly_hash_token() -> Column:
    """56-bit polynomial hash of the token string column ``tok``."""
    codes = F.transform(F.split(F.col("tok"), ""), lambda c: F.ascii(c).cast("long"))
    return F.aggregate(
        codes,
        F.lit(0).cast("long"),
        lambda acc, x: (acc * POLY_BASE + x) % POLY_MOD_56,
    )


def poly_hash_token_sql() -> str:
    """DuckDB rendering of :func:`poly_hash_token` (same fold)."""
    return (
        "list_reduce(list_transform(string_split(tok, ''), "
        f"c -> ascii(c)::BIGINT), (acc, x) -> (acc * {POLY_BASE} + x) % {POLY_MOD_56})"
    )


def minhash_value(token_hash: Column, seed: int) -> Column:
    """One MinHash permutation: xxhash64 re-mix of a token hash with a
    seed. Spark-only (checked by recall, not oracle equality)."""
    return F.xxhash64(token_hash, F.lit(seed))
