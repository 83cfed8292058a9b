"""Engine-exact fixed-point arithmetic for cross-engine parity.

The repo's determinism convention rounds aggregates to a fixed number
of decimals so results are partition-order- and engine-independent.
One residual hole, found by the sf0.1 parity sweep (round 10,
docs/PARITY_SF01.md): a MEAN of exact fixed-point values is an exact
rational `S/n`, and when that rational lands ON a rounding boundary
(`*.5·10⁻ᵈ`), `round(double, d)` splits across engines — Spark rounds
the exact binary expansion of the double with BigDecimal HALF_UP,
DuckDB rounds via a scaled multiply, and the two can disagree on
either side of the boundary. Invisible at small row counts, twice at
5 000 documents.

The fix is to never round a double at all when the value is an exact
rational: compute round-half-up of `S·10ᵈ / n` in 64-bit integer
arithmetic — `floor((2·S_d + n) / (2·n)) / 10ᵈ` for `S ≥ 0` — which
both engines evaluate identically.

Division is made exact with modular arithmetic, not a double floor:
the numerator can exceed 2⁵³ (q1's price sums ×10⁶ already do at
sf0.1), so `floor(double)` could land one off. Instead the remainder
is removed first (`num − num % den` is exactly divisible), and the
resulting integer-valued quotient — small enough to be exact in a
double — is recovered with `round(·, 0)`, which tolerates the ≤4-ulp
error from representing the big numerator.

This module is the one writer of the engine's exact arithmetic:
`queries.py` calls it for every exact float sum, exact mean and
exact ratio and spells none of them out. Each Spark helper has a
Spark-SQL text twin for SQL-string queries; keep every pair, and the
DuckDB text in oracles.py (`_exact_mean_sql`), in lockstep:

- `exact_sum` / `exact_sum_sql`: a float sum made exact by summing
  `DECIMAL(18,6)` (addition order cannot move the result), optionally
  rounded to `scale` decimals and cast back to DOUBLE;
- `exact_mean` / `exact_mean_sparksql`: round-half-up of an exact sum
  over a count;
- `exact_div_round` / `exact_div_round_sql`: round-half-up of an exact
  integer ratio.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: the type a float is summed in: the cast fixes each row's value at
#: 6 decimals, and a sum of fixed-point values is exact in any order
EXACT_SUM_TYPE = "DECIMAL(18,6)"


def exact_sum(col: Column | str, scale: int | None = None) -> Column:
    """Exact sum of a float column: ``sum(CAST(col AS DECIMAL(18,6)))``,
    independent of addition order. With ``scale``, the DECIMAL sum is
    rounded half-up to ``scale`` decimals and cast to DOUBLE."""
    c = F.col(col) if isinstance(col, str) else col
    total = F.sum(c.cast(EXACT_SUM_TYPE))
    if scale is None:
        return total
    return F.round(total, scale).cast("double")


def exact_sum_sql(
    expr: str, scale: int | None = None, *, where: str | None = None
) -> str:
    """Spark-SQL text twin of :func:`exact_sum`. ``where`` makes it a
    conditional sum (rows failing the predicate add an exact zero),
    which SQL-string queries need for share numerators."""
    if where is None:
        total = f"sum(CAST({expr} AS {EXACT_SUM_TYPE}))"
    else:
        total = (
            f"sum(CASE WHEN {where} THEN CAST({expr} AS {EXACT_SUM_TYPE})"
            f" ELSE CAST(0 AS {EXACT_SUM_TYPE}) END)"
        )
    if scale is None:
        return total
    return f"CAST(round({total}, {scale}) AS DOUBLE)"


def exact_mean(
    sum_col: Column,
    count_col: Column,
    *,
    sum_scale: int,
    out_scale: int = 4,
) -> Column:
    """Round-half-up mean of an exact fixed-point sum, as a double.

    ``sum_col`` must be an EXACT value (DECIMAL or integer) carrying
    ``sum_scale`` decimal places; ``count_col`` a positive integer
    count. Returns ``round_half_up(sum/count, out_scale)`` computed in
    integer arithmetic — engine-exact at any scale, unlike
    ``F.round(sum.cast("double") / count, out_scale)``.

    Negative sums are handled by reflecting through zero (half-up on
    magnitude — matching Spark's ``round`` on negative doubles, which
    rounds the magnitude, and DuckDB's behavior away from zero).
    """
    s_int = (sum_col * F.lit(10 ** sum_scale).cast("decimal(20,0)")).cast(
        "decimal(38,0)"
    )
    n = count_col.cast("decimal(38,0)")
    mag = F.abs(s_int)
    # exact integer mean at sum_scale, re-rounded to out_scale in one
    # step: round_half_up(|S|·up / den) with the combined denominator
    # so there is exactly ONE rounding. All arithmetic in
    # decimal(38,0) (the HUGEINT analogue) so a 100 TB-scale sum
    # cannot silently wrap a 64-bit long.
    half = n * F.lit(10 ** max(sum_scale - out_scale, 0)).cast("decimal(20,0)")
    den = half * 2
    up = F.lit(10 ** max(out_scale - sum_scale, 0)).cast("decimal(20,0)")
    num = mag * 2 * up + half
    # exact floor division: strip the remainder (num − num%den is
    # exactly divisible; decimal % is exact), then the division of
    # exactly-divisible decimals yields the integer quotient exactly
    # at any result scale
    q = ((num - num % den) / den).cast("long")
    signed = F.when(s_int < 0, -q).otherwise(q)
    return (signed / F.lit(float(10 ** out_scale))).cast("double")


def exact_div_round(
    num_col: Column,
    den_col: Column,
    *,
    out_scale: int = 4,
) -> Column:
    """Round-half-up of the exact rational ``num/den`` to
    ``out_scale`` decimals, as a double. ``num`` (any sign, exact
    integer) over ``den`` (positive exact integer); arithmetic in
    decimal(38,0), so no 64-bit headroom management at the call site.
    The generic primitive behind :func:`exact_mean` for
    non-power-of-ten denominators (e.g. µs→hours)."""
    s = num_col.cast("decimal(38,0)")
    mag = F.abs(s) * F.lit(10 ** out_scale).cast("decimal(20,0)")
    d = den_col.cast("decimal(38,0)")
    den = d * 2
    num = mag * 2 + d
    q = ((num - num % den) / den).cast("long")
    signed = F.when(s < 0, -q).otherwise(q)
    return (signed / F.lit(float(10 ** out_scale))).cast("double")


def exact_mean_sparksql(
    sum_expr: str,
    count_expr: str,
    *,
    sum_scale: int,
    out_scale: int = 4,
    den_factor: int = 1,
) -> str:
    """Spark-SQL text twin of :func:`exact_mean` for SQL-string
    queries (and of oracles._exact_mean_sql on the DuckDB side —
    keep all three in lockstep). Uses ``div`` (exact integer
    division) over DECIMAL(38,0) operands."""
    s = f"CAST({sum_expr} * {10 ** sum_scale} AS DECIMAL(38,0))"
    up = 10 ** max(out_scale - sum_scale, 0)
    half = (
        f"(CAST({count_expr} AS DECIMAL(38,0))"
        f" * {10 ** max(sum_scale - out_scale, 0) * den_factor})"
    )
    q = f"((2 * abs({s}) * {up} + {half}) div (2 * {half}))"
    return (
        f"(CAST((CASE WHEN {s} < 0 THEN -{q} ELSE {q} END)"
        f" / {float(10 ** out_scale)} AS DOUBLE))"
    )


def exact_div_round_sql(num: str, den: str, *, out_scale: int = 4) -> str:
    """Spark-SQL text twin of :func:`exact_div_round`: ``num`` (any
    sign) over ``den`` (positive), both exact integer expressions,
    cast to DECIMAL(38,0) and divided with ``div``."""
    n = f"CAST({num} AS DECIMAL(38,0))"
    d = f"CAST({den} AS DECIMAL(38,0))"
    q = f"((2 * abs({n}) * {10 ** out_scale} + ({d})) div (2 * ({d})))"
    return (
        f"(CAST((CASE WHEN {n} < 0 THEN -{q} ELSE {q} END)"
        f" / {float(10 ** out_scale)} AS DOUBLE))"
    )
