"""Cross-engine-portable numeric helpers.

``ROUND(x, n)`` is NOT portable between engines when x sits exactly on
a half boundary: Spark rounds the exact BigDecimal value of the double
(HALF_UP), DuckDB rounds via scaled floating-point — with exact-cent
source data (prices, 2-decimal measurements) aggregate averages land on
halves systematically and the two engines disagree by one ulp of the
last digit.

``pround`` instead computes ``floor(x * 10^n + 0.5) / 10^n`` — every
step is a deterministic IEEE-754 operation that any engine evaluates
bit-identically, so Spark output and oracle SQL output hash the same.
(Which way an exact half rounds is irrelevant; both engines agreeing is
what matters.)
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def pround(col: Column | str, n: int) -> Column:
    """Portable round-half-up-toward-+inf at ``n`` decimals."""
    c = F.col(col) if isinstance(col, str) else col
    s = float(10**n)
    return F.floor(c * F.lit(s) + F.lit(0.5)) / F.lit(s)


def pround_sql(expr: str, n: int) -> str:
    """The identical formula as SQL text (DuckDB/ANSI)."""
    s = 10**n
    return f"floor(({expr}) * {s}.0 + 0.5) / {s}.0"


def pround_total(col: Column | str, n: int) -> Column:
    """``pround`` made TOTAL over the double range: identical for every
    ``|x·10^n| < 2^63`` input (all domain-bounded metrics), but floors
    in DOUBLE — Spark's ``F.floor`` returns LongType, which silently
    WRAPS past ±9.2e18 while DuckDB's ``floor`` stays double (an
    engine divergence the adversarial-fixture gate surfaced on an
    unbounded regression intercept).  Use for ratio-derived metrics
    whose magnitude is not bounded by the source domain; the SQL twin
    is still :func:`pround_sql` (already a double floor).

    Double floor via remainder: ``frac = x % 1.0`` carries the sign of
    x (Java/Spark semantics), so ``x - frac`` truncates toward zero and
    the ``frac < 0`` branch subtracts the extra 1; ``-0.0 < 0`` is
    false, so exact negative integers pass through; values ≥ 2^53 are
    already integral so ``frac = 0`` returns them unchanged.

    Non-finite inputs pass through UNCHANGED: ``±inf % 1.0`` and
    ``NaN % 1.0`` are both NaN in Spark, so without the guard ``+inf``
    would map to NaN while DuckDB's ``floor(inf)`` stays ``inf`` —
    the exact cross-engine divergence class this helper exists to
    close.  ``frac`` is NaN iff x is non-finite (finite x % 1.0 is
    always finite), so one ``isnan(frac)`` branch restores
    floor(±inf) = ±inf and floor(NaN) = NaN on both engines.
    """
    c = F.col(col) if isinstance(col, str) else col
    s = float(10**n)
    x = c * F.lit(s) + F.lit(0.5)
    frac = x % F.lit(1.0)
    fl = F.when(F.isnan(frac), x).when(frac < 0, x - frac - 1).otherwise(
        x - frac
    )
    return fl / F.lit(s)


#: integer-token guard for JSON property extraction.  Spark's non-ANSI
#: ``CAST('12.5' AS LONG)`` truncates to 12 and ``CAST('1e3' AS LONG)``
#: is NULL, while DuckDB's ``TRY_CAST`` rounds '12.5' to 13 and parses
#: '1e3' as 1000 — so a decimal or scientific numeric STRING in props.k
#: diverges across the whole json-props query family (found by the
#: round-12 adversarial-events rows).  Both engines extract the same
#: token text (JSON numbers are normalized identically, e.g. number
#: 1e3 -> '1000.0' on both; string "1e3" stays raw on both), so gating
#: the cast on a pure-integer regex makes every non-integer token NULL
#: on BOTH engines.  Overflowing integer tokens (>19 digits) are NULL
#: on both (Spark non-ANSI cast / DuckDB TRY_CAST).
JSON_INT_RE = "^[+-]?[0-9]+$"


def json_long(path: str = "$.k", col: str = "props") -> Column:
    """Extract a JSON property and cast to long iff it is a pure
    integer token — the portable twin of :func:`json_long_sql`.

    Shape: ``try_cast(s) + CASE WHEN s RLIKE int THEN 0 END`` instead of
    ``CASE WHEN s RLIKE int THEN cast(s) END``.  Identical value for
    every input — an invalid token makes the guard NULL and
    ``anything + NULL`` is NULL; a valid-but-overflowing token makes
    the cast NULL either way — but the branchy form re-evaluates
    ``s = trim(get_json_object(...))`` inside the THEN branch, which
    Spark's subexpression elimination cannot share with the condition
    (conditional branches are excluded from CSE), so every row paid
    the JSON parse twice *per operator*, and four times total once the
    ``isNotNull`` filter is pushed below the projection.  With both
    references unconditional the parse CSEs to one per operator:
    measured 0.92 s → 0.69 s for the select+filter pass over events at
    sf0.1 (plain unguarded cast = 0.48 s floor).  A regex-free
    translate/substring guard was also measured and is 2× SLOWER than
    the regex (1.6 s) — RLIKE with a foldable pattern is compiled once
    and cheap; keep the regex, which also stays textually identical to
    the oracle's.  ``try_cast``, not ``cast``: the cast runs on every
    token, and under ANSI (the Spark 4 default) ``cast('abc')`` raises.
    """
    s = F.trim(F.get_json_object(col, path))
    return s.try_cast("long") + F.when(s.rlike(JSON_INT_RE), F.lit(0).cast("long"))


def json_long_sql(path: str = "$.k", col: str = "props") -> str:
    """DuckDB SQL computing the identical guarded extraction."""
    tok = f"trim(json_extract_string({col}, '{path}'))"
    return (
        f"TRY_CAST(CASE WHEN regexp_matches({tok}, "
        f"'{JSON_INT_RE}') THEN {tok} END AS BIGINT)"
    )
