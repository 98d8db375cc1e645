"""Rule-engine compilation: the whole catalogue becomes ONE multi-emit
Catalyst projection (SURVEY.md §2.1 P5+P6).

Physical shape: gate filter (pushed to the scan) → a single narrow ``select``
building an ``array<struct<site,sub,layer,style,problem>>`` of ~230
``CASE WHEN`` elements → ``explode``. No shuffle and no Python, but the rule
evaluation itself is interpreted: the ``filter``/``transform``/``aggregate``
lambdas are ``CodegenFallback`` expressions, so the executed plan shows
``Generate explode(filter(concat(...)))`` without a ``*(n)`` whole-stage
marker; only the projections around it are code-generated. That is the
cheaper shape here: a rendering without lambdas was tried and got
whole-stage codegen, but Janino failed to compile the generated method
(``InternalCompilerException``), Spark fell back to interpretation, and
the cold job cost more CPU than the interpreted one.

The catalogue has two render targets (``rules.dsl``): the Python oracle
(``rules.oracle``) and SQL text (``rules.sqlgen``). This module takes the
Spark SQL dialect's single expression for the multi-emit array; the DuckDB
dialect of the same renderer is the q34 cross-engine oracle.

Input contract (``ways`` DataFrame):
    way_id long, version int, changeset long, uid long, user string,
    ts timestamp, nodes array<long>, tags map<string,string>
Optional passthrough column: ``geom array<struct<lon:double,lat:double>>``.
"""

from __future__ import annotations

import functools

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .catalog import HIGHWAY_VALID
from .sqlgen import emissions_sql

PROBLEM_LAYERS = ("wayproblems", "ref", "footway", "defaults", "strange", "cycling")

ENVELOPE = ("way_id", "version", "changeset", "uid", "user", "ts")


def gate(ways: DataFrame) -> DataFrame:
    """highway_wecare (wayproblems.cpp:1415-1439): plain predicate, pushed
    down to the parquet scan by Catalyst."""
    return ways.filter(F.col("tags").getItem("highway").isin(*HIGHWAY_VALID))


# The catalogue renders to one Spark SQL expression (rules.sqlgen), so
# building it crosses py4j once instead of once per expression node. The
# expression is input-independent (it references only `tags`/`_closed`), so
# it is built once per process and reused across every problems() call.
@functools.cache
def _canonical_emissions() -> Column:
    return F.explode(F.expr(emissions_sql()))


def problems(ways: DataFrame, apply_gate: bool = True) -> DataFrame:
    """Run the full catalogue; one output row per (way, emission).

    Output: envelope + layer, style, problem, site, sub (+ geom if present).
    Row multiplicity and per-way ordering (site, sub) match the reference's
    writeWay call order exactly (wayproblems.cpp:1448-1546).
    """
    df = gate(ways) if apply_gate else ways
    closed = (
        (F.size("nodes") > 0)
        & (F.element_at("nodes", 1) == F.element_at("nodes", -1))
    ) if "nodes" in df.columns else F.lit(False)
    df = df.withColumn("_closed", F.coalesce(closed, F.lit(False)))

    passthrough = [c for c in ("geom",) if c in df.columns]
    exploded = df.select(
        *ENVELOPE, *passthrough, _canonical_emissions().alias("e")
    )
    return exploded.select(
        "way_id",
        F.col("e.layer").alias("layer"),
        F.col("e.style").alias("style"),
        F.col("e.problem").alias("problem"),
        "changeset",
        "uid",
        "user",
        "ts",
        "version",
        F.col("e.site").alias("site"),
        F.col("e.sub").alias("sub"),
        *passthrough,
    )


def stdout_log(problems_df: DataFrame) -> DataFrame:
    """The reference's per-problem stdout line, byte-for-byte
    (wayproblems.cpp:114-120) — note the double space after '||'."""
    return problems_df.select(
        F.format_string(
            'way=%s problem="%s" ||  changeset=%s user="%s" timestamp=%s layer=%s version=%s',
            F.col("way_id").cast("string"),
            F.col("problem"),
            F.col("changeset").cast("string"),
            F.col("user"),
            F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss'Z'"),
            F.col("layer"),
            F.col("version").cast("string"),
        ).alias("line"),
        F.col("way_id"),
        F.col("site"),
        F.col("sub"),
    )
