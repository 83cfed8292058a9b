"""Engine-exact fixed-point arithmetic for cross-engine parity.

The repo's determinism convention rounds aggregates to a fixed number
of decimals so results are partition-order- and engine-independent.
One residual hole, found by the sf0.1 parity sweep (round 10,
docs/PARITY_SF01.md): a MEAN of exact fixed-point values is an exact
rational `S/n`, and when that rational lands ON a rounding boundary
(`*.5·10⁻ᵈ`), `round(double, d)` splits across engines. Spark's
`round(double, d)` and its `CAST(double AS DECIMAL(p,s))` both parse
the double's decimal form (`Double.toString`: the shortest string that
reads back as the same double on JDK 19+, on JDK 17 at times one with
more digits, but always one that reads back as it) and round that
string HALF_UP — `round(1.005, 2)` is 1.01 although the double is
1.00499999999999989…, and `CAST(1.0000005D AS DECIMAL(18,6))` is
1.000001. DuckDB rounds via a scaled multiply of the binary value, so
the two can disagree on either side of a boundary. Invisible at small
row counts, twice at 5 000 documents.

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

An exact float sum is defined as `sum(CAST(x AS DECIMAL(18,6)))`, of
type DECIMAL(28,6). Spark runs a sum that wide through BigDecimal, one
`Double.toString` and one BigDecimal update per row, so the helpers
below compute the same value on 64-bit longs: each row becomes its
value in units of 10⁻⁶, and the long total is scaled back to
DECIMAL(28,6). For a DOUBLE `x`, with `y = x·10⁶` (a double product):

- fast row, when `|y| < 2⁴⁰` and `y` lies more than 10⁻³ from every
  half-integer: `CAST(rint(y) AS BIGINT)`;
- every other row (near-ties, `|y| ≥ 2⁴⁰`, NULL, NaN, ±inf) keeps the
  cast, `CAST(CAST(x AS DECIMAL(18,6)) · 10⁶ AS BIGINT)`, so it also
  keeps the cast's ANSI errors.

Why a fast row equals the cast. The cast rounds the decimal form `d`
of `x` HALF_UP to 6 places, and `|d − x| ≤ ulp(x)/2` because `d` reads
back as `x`. The bound gives `|x| < 2²¹`, so `|d − x|·10⁶ ≤ 2⁻³³·10⁶
< 1.2·10⁻⁴`, and the product's own rounding adds `|y − x·10⁶| ≤ 2⁻¹⁴ <
6.2·10⁻⁵`: `|d·10⁶ − y| < 2·10⁻⁴`. So `d·10⁶` and `y` lie strictly
between the same two half-integers, more than 10⁻³ − 2·10⁻⁴ away
from either, and HALF_UP of `d` at 6 places equals `rint(y)` (no tie
for the two to break differently). The argument is about a DOUBLE's
decimal form, so a non-DOUBLE argument (FLOAT, integers, DECIMAL)
takes the cast on every row: `typeof(x) = 'double'` is part of the
guard and Catalyst folds it to a constant, so for those types the fast
branch is gone from the plan. (Spark 4.1 casts a FLOAT through its
widened double, `CAST(1234.5678F AS DECIMAL(18,6))` is 1234.567749,
so FLOAT rows would pass too; the guard keeps the result independent
of how each type's cast is written.)

Range. A fast row is below 2⁴⁰ units and a cast row below 10¹⁸, and a
per-group (or per-window) total must stay below 2⁶³ units, 9.2·10¹²
in value; beyond that the long sum raises `ARITHMETIC_OVERFLOW`
(ANSI mode, which `session.get_spark` pins on) where the DECIMAL(28,6)
sum went on to 10¹⁶. It never wraps. The total is scaled back by a
DECIMAL(7,6) factor in front of the `sum(`, so the text still ends in
the aggregate call and `exact_sum_sql(x) OVER (...)` is a window sum.

This module is the one writer of the engine's exact arithmetic:
`queries.py` calls it for every exact float sum, exact mean and
exact ratio and spells none of them out. Each Spark helper has a
Spark-SQL text twin for SQL-string queries; keep every pair, and the
DuckDB text in oracles.py (`_exact_mean_sql`), in lockstep:

- `exact_sum` / `exact_sum_sql`: a float sum made exact as the
  DECIMAL(28,6) sum of `DECIMAL(18,6)` row values (addition order
  cannot move the result), computed on longs as above, optionally
  rounded to `scale` decimals and cast back to DOUBLE;
- `exact_mean` / `exact_mean_sparksql`: round-half-up of an exact sum
  over a count;
- `exact_div_round` / `exact_div_round_sql`: round-half-up of an exact
  integer ratio.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: the type a float's row value is fixed in: the cast rounds it to 6
#: decimals, and a sum of fixed-point values is exact in any order
EXACT_SUM_TYPE = "DECIMAL(18,6)"

#: a row is summed as a long count of 10⁻⁶ units, EXACT_SUM_TYPE's scale
_UNITS = 10**6
#: fast rows have |x·10⁶| below this (2⁴⁰; see the module docstring)
_FAST_BOUND = 2.0**40
#: fast rows have x·10⁶ farther than 10⁻³ from every half-integer,
#: i.e. within this of an integer (|y − rint(y)| is at most 0.5)
_NEAR_INT = 0.5 - 1e-3
#: long units back to DECIMAL(28,6), the type of the decimal sum:
#: DECIMAL(7,6) × the long's DECIMAL(20,0) is DECIMAL(7+20+1, 6)
_FROM_UNITS_SQL = "CAST(0.000001 AS DECIMAL(7,6))"


def _units(c: Column) -> Column:
    """A row's exact value in 10⁻⁶ units, as a long (module docstring)."""
    y = c * F.lit(float(_UNITS))
    fast = (
        (F.typeof(c) == "double")
        & (F.abs(y) < F.lit(_FAST_BOUND))
        & (F.abs(y - F.rint(y)) < F.lit(_NEAR_INT))
    )
    cast = (c.cast(EXACT_SUM_TYPE) * F.lit(_UNITS)).cast("long")
    return F.when(fast, F.rint(y).cast("long")).otherwise(cast)


def _units_sql(expr: str) -> str:
    """Spark-SQL text twin of :func:`_units`."""
    y = f"(({expr}) * {float(_UNITS)!r}D)"
    return (
        f"CASE WHEN typeof({expr}) = 'double' AND abs({y}) < {_FAST_BOUND!r}D"
        f" AND abs({y} - rint({y})) < {_NEAR_INT!r}D"
        f" THEN CAST(rint({y}) AS BIGINT)"
        f" ELSE CAST(CAST({expr} AS {EXACT_SUM_TYPE}) * {_UNITS} AS BIGINT) END"
    )


def exact_sum(col: Column | str, scale: int | None = None) -> Column:
    """Exact sum of a float column: the value of
    ``sum(CAST(col AS DECIMAL(18,6)))``, a DECIMAL(28,6) independent
    of addition order, computed on longs (module docstring). With
    ``scale``, it is rounded half-up to ``scale`` decimals and cast to
    DOUBLE."""
    c = F.col(col) if isinstance(col, str) else col
    total = F.expr(_FROM_UNITS_SQL) * F.sum(_units(c))
    if scale is None:
        return total
    return F.round(total, scale).cast("double")


def exact_sum_sql(
    expr: str, scale: int | None = None, *, where: str | None = None
) -> str:
    """Spark-SQL text twin of :func:`exact_sum`. ``where`` makes it a
    conditional sum (rows failing the predicate add an exact zero),
    which SQL-string queries need for share numerators. Without
    ``scale`` the text ends in its ``sum(...)`` call, so an ``OVER``
    clause may follow it."""
    units = _units_sql(expr)
    if where is not None:
        units = f"CASE WHEN {where} THEN {units} ELSE 0 END"
    total = f"{_FROM_UNITS_SQL} * sum({units})"
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
