"""DuckDB-parity numeric kernels.

The query catalog and the operators are checked against DuckDB oracles,
so every double that must hash-match a DuckDB expression goes through one
of these:

  * ``duck_round`` / ``duck_round_expr`` — DuckDB's ``ROUND(double, d)``
    bit for bit, as a Python scalar and as a Spark expression;
  * ``duck_round_cutoff`` — the exact raw-value preimage of a rounded
    threshold;
  * ``exact_str_double`` — integer/decimal -> DOUBLE through the exact
    decimal string.

Leaf module: it imports only pyspark and the standard library, so every
layer imports these names at module top.
"""

from __future__ import annotations

import math
import struct

from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F


def duck_round(x: float, d: int) -> float:
    """DuckDB's ROUND(double, d) exactly (d >= 0): ``r =
    std::round(x * 10^d) / 10^d`` — multiply FIRST (whose own double
    rounding can land exactly on .5), then half away from zero keeping
    the sign (so negatives that round to zero give -0.0), and the input
    itself when ``r`` is inf or NaN (``x * 10^d`` overflowed, or x is
    not finite).  Spark's F.round instead goes through
    BigDecimal.valueOf's shortest-decimal-string semantics, and the two
    diverge on boundary doubles (the round-9 sf1 sweep caught an
    mmr_score where the multiply crossed the half: 0.4146 vs 0.4147) —
    any value that must hash-match a DuckDB ROUND must use THIS."""
    p = 10.0 ** d
    v = x * p
    if not math.isfinite(v):
        return x
    a = abs(v)
    f = float(math.floor(a))
    # a - f is exact (Sterbenz for a >= 1; f == 0 below), so the tie test
    # sees the true fractional part
    if a - f >= 0.5:
        f += 1.0
    return math.copysign(f, v) / p


def duck_round_cutoff(threshold: float, d: int) -> float:
    """Smallest non-negative double x with duck_round(x, d) >= threshold.

    duck_round(., d) is monotone non-decreasing, so
    {x : duck_round(x, d) >= t} is exactly {x >= cutoff} — filtering the
    RAW score with this cutoff selects precisely the rows whose ROUNDED
    score clears the threshold.  That matters for plans: a filter on a
    rounded column gets predicate-pushed below the rounding projection,
    and pushdown substitutes the full rounding expression (which
    references its argument many times — see duck_round_expr's contract)
    into the join condition.  Filtering the raw value keeps the pushed
    predicate one-copy cheap; the projection above rounds once for the
    survivors.  Bisection runs on the raw IEEE bit ordering (valid for
    non-negative doubles), so the cutoff is exact to the ULP.
    Scores here (jaccard/containment/cosine-with-threshold) are
    non-negative by construction; assert rather than guess otherwise.
    """
    if threshold <= 0.0:
        # every non-negative score rounds to >= a non-positive threshold,
        # so the cutoff filter degenerates to "keep all" — returning 0.0
        # preserves the pre-round-11 behavior of threshold=0.0 callers
        # (containment_scores/near_dups kept all non-null pairs) instead
        # of asserting (round-11 ADVICE)
        return 0.0
    bits = lambda x: struct.unpack("<q", struct.pack("<d", x))[0]
    unbits = lambda b: struct.unpack("<d", struct.pack("<q", b))[0]
    lo, hi = 0.0, float(threshold) + 10.0 ** (-d)
    if duck_round(lo, d) >= threshold:
        return lo
    assert duck_round(hi, d) >= threshold
    lo_b, hi_b = bits(lo), bits(hi)
    while hi_b - lo_b > 1:
        mid_b = (lo_b + hi_b) // 2
        if duck_round(unbits(mid_b), d) >= threshold:
            hi_b = mid_b
        else:
            lo_b = mid_b
    return unbits(hi_b)


_DUCK_ROUND_FN = "__duck_round"
# duck_round in SQL, with v = x * p and a = abs(v):
#   a < 2^52   -> half-away-from-zero on a (a - floor(a) is exact), times
#                 signum(v), which also keeps the sign of a zero result;
#   a finite   -> v is already integral: v / p (floor would overflow LONG);
#   otherwise  -> x (inf or NaN; NaN fails both comparisons), and NULL.
_DUCK_ROUND_BODY = (
    "CASE WHEN abs(x * p) < 4.503599627370496E15"
    " THEN (CASE WHEN abs(x * p) - cast(floor(abs(x * p)) as double)"
    " >= 0.5D THEN cast(floor(abs(x * p)) as double) + 1.0D"
    " ELSE cast(floor(abs(x * p)) as double) END) * signum(x * p) / p"
    " WHEN abs(x * p) <= 1.7976931348623157E308 THEN (x * p) / p"
    " ELSE x END"
)


def duck_round_expr(col: Column | str, d: int = 0) -> Column:
    """`duck_round` as a Spark expression — DuckDB's ROUND(double, d)
    bit-exactly, inside whole-stage codegen (no UDF, no Arrow hop).

    The expression is a call of the SQL scalar function ``__duck_round``,
    registered on the active session whenever the session's catalog
    reports it missing, and it resolves against the session that is
    active when it is built.  The analyzer inlines the function body, so
    the optimized plan holds the plain arithmetic and no function call.

    Use this, not F.round, for any final double that must hash-match a
    DuckDB `ROUND(double, d)` oracle: F.round goes through
    BigDecimal.valueOf's shortest-decimal-string HALF_UP and diverges
    from DuckDB on boundary doubles (the round-9 sf1 sweep caught one).

    CHEAP-ARGUMENT CONTRACT: the body references its input many times,
    and codegen does not CSE across CASE branches.  The function's
    parameter binding stages the argument into its own projection, so an
    expensive argument is evaluated once; call sites still pass a column
    reference, a literal or an aggregate output, and STAGE an expensive
    expression (array ops, HOF folds, regex) into a named column first:

        staged = df.withColumn("_raw", expensive)
        staged.select(duck_round_expr("_raw", 6).alias(...))

    CollapseProject will NOT merge the two projections (it refuses to
    duplicate a non-cheap expression referenced more than once), so the
    expensive input is evaluated exactly once, inside whole-stage
    codegen.  The round-10 regression shipped unstaged expensive args
    (q146's plan ran 50 array_intersect instead of 5); a round-11
    interim fix bound the argument via transform(array(v), ...)[0] —
    single-eval but CodegenFallback, and the interpreted HOF evaluation
    measurably poisoned the whole session's interpreted paths
    (q191-after-q146 at sf100: 512 s vs 112 s with codegen rounding,
    4.6x, reproduced A/B).  Guarded by the plan-budget gate in
    tests/test_plans.py.
    """
    spark = SparkSession.active()
    if not spark.catalog.functionExists(_DUCK_ROUND_FN):
        spark.sql(
            f"CREATE OR REPLACE TEMPORARY FUNCTION {_DUCK_ROUND_FN}"
            f"(x DOUBLE, p DOUBLE) RETURNS DOUBLE RETURN {_DUCK_ROUND_BODY}"
        )
    c = F.col(col) if isinstance(col, str) else col
    return F.call_function(_DUCK_ROUND_FN, c, F.lit(float(10.0 ** d)))


def exact_str_double(col: Column | str) -> Column:
    """Exact integer/decimal -> DOUBLE via the decimal-string route.

    Wide-integer/DECIMAL -> DOUBLE conversion is NOT identically rounded
    across engines once the value passes 2^53; routing through the exact
    decimal string lands in strtod, which IS correctly rounded in both.
    The DuckDB twin is ``CAST(CAST(x AS VARCHAR) AS DOUBLE)``.
    """
    if not isinstance(col, Column):
        col = F.col(col)
    return col.cast("string").cast("double")
