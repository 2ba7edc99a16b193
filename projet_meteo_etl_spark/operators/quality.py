"""Declarative data-quality expectation suite (SURVEY.md §2.6, Q1-Q6 + A7).

The reference's distinctive surface: count reconciliation, null checks,
type checks, physical-range checks, duplicate detection, date-range
bounds — spread across ``etl_meteo.py:69-77,110-135,223-288``,
``quality_audit.py``, and ``test_etl_meteo.py`` as **10 separate
full-collection scans**.

Here every expectation contributes conditional-aggregate measures to ONE
fused ``agg`` — a single distributed scan, map-side-combined (all
measures are grand totals), regardless of how many checks are attached.
That is the 100 TB-correct shape: cost is one pass over the data, not
one pass per check.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class Check:
    """One expectation's verdict."""

    name: str
    passed: bool
    observed: dict[str, Any]


class Expectation:
    """Contributes aggregate measures + a verdict over the fused agg row.

    ``measures()`` returns ``{alias: Column}`` so the runner can dedupe
    measures shared between expectations (e.g. the total row count).
    """

    name: str = "expectation"

    def measures(self) -> dict[str, Column]:  # pragma: no cover - interface
        raise NotImplementedError

    def verdict(self, row: dict[str, Any]) -> Check:  # pragma: no cover
        raise NotImplementedError

    def verdict_cols(self) -> tuple[Column, Column]:  # pragma: no cover
        """Column form of :meth:`verdict` over the fused-agg row —
        ``(passed boolean, observed string)`` — so a report can stay a
        lazy plan (:func:`quality_report_df`) instead of collecting."""
        raise NotImplementedError


class ExpectCount(Expectation):
    """Q1 (etl_meteo.py:201-207, test:48-51): exact row count."""

    def __init__(self, expected: int | None = None):
        self.expected = expected
        self.name = "expect_count"

    def measures(self) -> dict[str, Column]:
        return {"__total": F.count(F.lit(1))}

    def verdict(self, row: dict[str, Any]) -> Check:
        total = row["__total"]
        ok = self.expected is None or total == self.expected
        return Check(self.name, ok, {"total": total, "expected": self.expected})

    def verdict_cols(self) -> tuple[Column, Column]:
        total = F.col("__total")
        ok = F.lit(True) if self.expected is None else total == F.lit(self.expected)
        obs = F.concat(
            F.lit("{'total': "), total.cast("string"),
            F.lit(f", 'expected': {self.expected}}}"),
        )
        return ok, obs


class ExpectNoNulls(Expectation):
    """Q2 / A3 / A6 (etl_meteo.py:236-260, test:53-56): per-column null
    counts, all measured in the same pass (the reference's Mongo pipeline
    had a latent bug where only the last field's $group survived)."""

    def __init__(self, cols: list[str], max_nulls: int = 0):
        self.cols = cols
        self.max_nulls = max_nulls
        self.name = f"expect_no_nulls({','.join(cols)})"

    def measures(self) -> dict[str, Column]:
        return {
            f"__nulls_{c}": F.sum(F.when(F.col(c).isNull(), 1).otherwise(0))
            for c in self.cols
        }

    def verdict(self, row: dict[str, Any]) -> Check:
        nulls = {c: int(row[f"__nulls_{c}"] or 0) for c in self.cols}
        return Check(self.name, all(v <= self.max_nulls for v in nulls.values()), nulls)

    def verdict_cols(self) -> tuple[Column, Column]:
        counts = [F.coalesce(F.col(f"__nulls_{c}"), F.lit(0)) for c in self.cols]
        ok = F.lit(True)
        for n in counts:
            ok = ok & (n <= F.lit(self.max_nulls))
        parts: list[Column] = [F.lit("{")]
        for i, (c, n) in enumerate(zip(self.cols, counts)):
            if i:
                parts.append(F.lit(", "))
            parts.extend([F.lit(f"'{c}': "), n.cast("string")])
        parts.append(F.lit("}"))
        return ok, F.concat(*parts)


class ExpectInRange(Expectation):
    """Q4 / P14 (quality_audit.py:42-58): physical-plausibility range;
    counts out-of-range (non-null) values."""

    def __init__(self, col: str, lo: float, hi: float):
        self.col, self.lo, self.hi = col, lo, hi
        self.name = f"expect_in_range({col},[{lo},{hi}])"

    def measures(self) -> dict[str, Column]:
        viol = (F.col(self.col) < self.lo) | (F.col(self.col) > self.hi)
        return {f"__oor_{self.col}": F.sum(F.when(viol, 1).otherwise(0))}

    def verdict(self, row: dict[str, Any]) -> Check:
        v = int(row[f"__oor_{self.col}"] or 0)
        return Check(self.name, v == 0, {"violations": v, "lo": self.lo, "hi": self.hi})

    def verdict_cols(self) -> tuple[Column, Column]:
        v = F.coalesce(F.col(f"__oor_{self.col}"), F.lit(0))
        obs = F.concat(
            F.lit("{'violations': "), v.cast("string"),
            F.lit(f", 'lo': {self.lo}, 'hi': {self.hi}}}"),
        )
        return v == 0, obs


class ExpectUnique(Expectation):
    """Q5 / A5 (etl_meteo.py:71,118): duplicate count over key columns —
    ``count(*) − count(distinct struct(keys))``, fused into the same agg
    (no second scan, no self-join)."""

    def __init__(self, keys: list[str]):
        self.keys = keys
        self.name = f"expect_unique({','.join(keys)})"
        self._alias = "__dups_" + "_".join(keys)

    def measures(self) -> dict[str, Column]:
        return {
            self._alias: F.count(F.lit(1))
            - F.countDistinct(F.struct(*[F.col(k) for k in self.keys]))
        }

    def verdict(self, row: dict[str, Any]) -> Check:
        d = int(row[self._alias] or 0)
        return Check(self.name, d == 0, {"duplicates": d})

    def verdict_cols(self) -> tuple[Column, Column]:
        d = F.coalesce(F.col(self._alias), F.lit(0))
        return d == 0, F.concat(F.lit("{'duplicates': "), d.cast("string"), F.lit("}"))


class ExpectDateRange(Expectation):
    """Q6 / A4 (test_etl_meteo.py:68-89): min/max of a time column within
    expected bounds (string compare on ISO dates, like the reference's
    substring assertions)."""

    def __init__(self, col: str, lo: str, hi: str):
        self.col, self.lo, self.hi = col, lo, hi
        self.name = f"expect_date_range({col})"

    def measures(self) -> dict[str, Column]:
        return {
            f"__min_{self.col}": F.min(self.col),
            f"__max_{self.col}": F.max(self.col),
        }

    def verdict(self, row: dict[str, Any]) -> Check:
        mn, mx = row[f"__min_{self.col}"], row[f"__max_{self.col}"]
        ok = (
            mn is not None
            and mx is not None
            and str(mn)[:10] >= self.lo[:10]
            and str(mx)[:10] <= self.hi[:10]
        )
        return Check(self.name, ok, {"min": str(mn), "max": str(mx)})

    def verdict_cols(self) -> tuple[Column, Column]:
        mn = F.col(f"__min_{self.col}").cast("string")
        mx = F.col(f"__max_{self.col}").cast("string")
        ok = (
            mn.isNotNull()
            & mx.isNotNull()
            & (F.substring(mn, 1, 10) >= F.lit(self.lo[:10]))
            & (F.substring(mx, 1, 10) <= F.lit(self.hi[:10]))
        )
        obs = F.concat(
            F.lit("{'min': '"), F.coalesce(mn, F.lit("None")),
            F.lit("', 'max': '"), F.coalesce(mx, F.lit("None")), F.lit("'}"),
        )
        return ok, obs


class ExpectNumericParsable(Expectation):
    """Q3 / P15 (etl_meteo.py:265-274, test:58-66): the Mongo BSON
    ``$type:"string"`` check, reframed for a typed engine: on a *staging*
    (string-typed) column, count values that are present but fail a
    numeric cast.  On an already-DOUBLE column this is 0 by construction
    — which is the point of a schema'd engine."""

    def __init__(self, col: str):
        self.col = col
        self.name = f"expect_numeric_parsable({col})"

    def measures(self) -> dict[str, Column]:
        c = F.col(self.col)
        bad = c.isNotNull() & c.cast("double").isNull()
        return {f"__unparsable_{self.col}": F.sum(F.when(bad, 1).otherwise(0))}

    def verdict(self, row: dict[str, Any]) -> Check:
        v = int(row[f"__unparsable_{self.col}"] or 0)
        return Check(self.name, v == 0, {"unparsable": v})

    def verdict_cols(self) -> tuple[Column, Column]:
        v = F.coalesce(F.col(f"__unparsable_{self.col}"), F.lit(0))
        return v == 0, F.concat(F.lit("{'unparsable': "), v.cast("string"), F.lit("}"))


def run_expectations(
    df: DataFrame, expectations: list[Expectation]
) -> dict[str, Any]:
    """Evaluate all expectations in ONE aggregation pass.

    Returns ``{"passed": bool, "checks": [Check...], "total": int,
    "error_rate_pct": float}`` where the error rate is the reference's
    A7 metric (quality_audit.py:61-69): range-violations / total × 100.
    ``total`` is the audited frame's row count: run over a sink read
    back, it is the sink count, so the same pass serves the count
    reconcile (``pipeline.run_full_etl``).
    """
    measures: dict[str, Column] = {"__total": F.count(F.lit(1))}
    for e in expectations:
        for alias, m in e.measures().items():
            measures.setdefault(alias, m)
    row = df.agg(
        *[m.alias(alias) for alias, m in measures.items()]
    ).collect()[0].asDict()

    checks = [e.verdict(row) for e in expectations]
    total = row.get("__total")
    range_viol = sum(
        int(v or 0) for k, v in row.items() if k.startswith("__oor_")
    )
    error_rate = (range_viol / total * 100.0) if total else 0.0
    return {
        "passed": all(c.passed for c in checks),
        "checks": checks,
        "total": total,
        "error_rate_pct": error_rate,
    }


def quality_report_df(df: DataFrame, expectations: list[Expectation]) -> DataFrame:
    """Same report as :func:`run_expectations` but as a fully LAZY
    DataFrame (one row per check) — no action in this function, so the
    suite composes into larger plans (a caller can union reports across
    tables, write them to a sink, or subscribe them to a stream without
    materializing here).  The fused agg stays a single scan; the
    per-check verdicts are Column expressions over that one agg row,
    exploded into rows."""
    measures: dict[str, Column] = {"__total": F.count(F.lit(1))}
    for e in expectations:
        for alias, m in e.measures().items():
            measures.setdefault(alias, m)
    agg = df.agg(*[m.alias(alias) for alias, m in measures.items()])
    checks = []
    for e in expectations:
        passed, observed = e.verdict_cols()
        checks.append(
            F.struct(
                F.lit(e.name).alias("check"),
                passed.alias("passed"),
                observed.alias("observed"),
            )
        )
    return agg.select(F.explode(F.array(*checks)).alias("c")).select(
        "c.check", "c.passed", "c.observed"
    )


#: the reference's exact audit suite: ranges from quality_audit.py:11-16,
#: null/type checks from test_etl_meteo.py, uniqueness from etl_meteo.py:118.
WEATHER_EXPECTATIONS: list[Expectation] = [
    ExpectCount(),
    ExpectNoNulls(["temperature_c"]),
    ExpectInRange("temperature_c", -50.0, 50.0),
    ExpectInRange("humidite_pct", 0.0, 100.0),
    ExpectInRange("pression_hpa", 800.0, 1100.0),
    ExpectInRange("vent_vitesse_ms", 0.0, 50.0),
    ExpectUnique(["date_heure_utc", "id_station"]),
]
