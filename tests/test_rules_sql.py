"""Spark dialect of the rules SQL renderer (rules/sqlgen.py): string
quoting round-trips through the Spark SQL parser, and the production plan
keeps the shape the engine depends on."""

from __future__ import annotations

from pyspark.sql import functions as F

from wayproblems_spark.rules import dsl as D
from wayproblems_spark.rules import sqlgen
from wayproblems_spark.rules.engine import problems

from .conftest import mk_way, ways_df

ADVERSARIAL = (
    "",
    "'",
    "''",
    "\\",
    "\\'",
    "'\\",
    "a\\\\b",
    "it's 100% \\d",
    "\\u0041 is not A",
    "tab\there\nnewline\rcr",
    "\x00\x01\x1f\x7f",
    "Straße ÄÖÜ 東京 😀",
    "%s %% %d",
)


def _catalogue_literals(monkeypatch) -> set[str]:
    """Every string the Spark dialect quotes while rendering the catalogue."""
    seen: set[str] = set()
    quote = sqlgen.SPARK.quote

    def recording(s):
        seen.add(s)
        return quote(s)

    monkeypatch.setattr(sqlgen.SPARK, "quote", recording)
    sqlgen.emissions_sql()
    monkeypatch.undo()
    return seen


def test_spark_quote_round_trips(spark, monkeypatch):
    literals = _catalogue_literals(monkeypatch)
    for s in (D.STRICT_INT_RE, D.PREFIX_INT_RE, D.PREFIX_FLOAT_RE, "\x00"):
        assert s in literals
    assert any("%" in s for s in literals)
    strings = sorted(literals | set(ADVERSARIAL))
    row = spark.range(1).select(
        *[F.expr(sqlgen.SPARK.quote(s)).alias(f"c{i}") for i, s in enumerate(strings)]
    ).first()
    assert list(row) == strings


def test_problems_plan_has_no_common_expr(spark):
    """SQL BETWEEN is rewritten by Spark 4 into a With/_common_expr
    projection; the renderer must emit plain comparisons instead."""
    df = problems(ways_df(spark, [mk_way(1, {"highway": "residential", "lanes": "2"})]))
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "_common_expr" not in plan
