"""SQL render target for the rules DSL, in two dialects.

The rule catalogue (``rules.catalog``) is declared once as DSL trees and
has two render targets: pure Python (``.py(way)`` / ``eval_py``, the
oracle) and SQL text (this module). The SQL renderer walks the same trees
for two engines:

* **Spark SQL** (``SPARK``) — the production path. ``emissions_sql()``
  renders the whole catalogue as ONE expression, an
  ``array<struct<site,sub,layer,style,problem>>`` of every emission site,
  that ``rules.engine.problems`` parses with a single ``F.expr`` call
  instead of building a Column tree one py4j call per node. The text
  mirrors, node for node, the Column tree the engine used to build, so
  Catalyst optimizes it to the same plan and evaluates it the same way
  (interpreted: its lambdas are ``CodegenFallback``; see ``rules.engine``).
* **DuckDB** (``DUCKDB``) — the q34 oracle. ``catalog_oracle_sql()``
  renders every live emission site (wayproblems.cpp:1441-1546) as a
  UNION ALL branch over the synthesized corpus (``rules.synth``), so the
  engine's output over that corpus gets a hash-exact cross-engine
  check.

Shared node semantics (mirroring dsl.py's Python oracle):

* key_value_as_int  → regexp-guarded try_cast with the INT_MAX sentinel
                      (wayproblems.cpp:232-249); the int32 range test is
                      ``x >= lo AND x <= hi``, not ``BETWEEN`` — Spark 4
                      rewrites SQL ``BETWEEN`` into a ``With`` common
                      expression the Column path never produced
* prefix int/float  → anchored regexp (wayproblems.cpp:219-230, 486)
* predicates        → always COALESCE(..., FALSE) (absent tags behave like
                      C++ nullptr)
* printf messages   → '(null)' for NULL args and the 254-char vsnprintf
                      truncation (quirks Q2/Q8)

Dialect split (``Dialect`` subclasses): string quoting (Spark literals are
backslash-escaped, DuckDB doubles ``''``), tag lookup (``tags['k']`` vs a
synth column), regexp match, key presence, pipe stripping, message
formatting (``format_string`` vs ``||``) and map lookup. The emitter
level differs wholesale: Spark builds one multi-emit array per way
(turn:lanes through ``transform``/``aggregate`` lambdas), DuckDB one
SELECT per site (turn:lanes through unnest and a lag-window scan).
"""

from __future__ import annotations

from . import dsl as D
from .catalog import CATALOG, HIGHWAY_VALID, MapLookup, NeTags
from .emitters import (
    EMIT_DDL,
    TOKEN_SPLIT_RE,
    TURN_PRIORITY,
    VALID_TURNS,
    Emit,
    EmitTurnOrder,
    EmitTurnUnknown,
)
from .synth import TAG_TO_COL, sql_quote, synth_base_sql

_PIPE_RE = r"\|"


class Dialect:
    """The SQL text primitives where the two engines differ."""

    closed: str

    def quote(self, s: str) -> str:
        raise NotImplementedError

    def tag(self, key: str) -> str:
        raise NotImplementedError

    def rlike(self, v: str, regex: str) -> str:
        raise NotImplementedError

    def has(self, key: str) -> str:
        raise NotImplementedError

    def strip_pipes(self, v: str) -> str:
        raise NotImplementedError

    def printf(self, template: str, args: list[str]) -> str:
        """``template``'s ``%s`` placeholders filled with ``args`` (SQL)."""
        raise NotImplementedError

    def map_lookup(self, v: str, mapping) -> str:
        raise NotImplementedError


class SparkDialect(Dialect):
    """Spark SQL over the engine input: ``tags`` map + ``_closed``."""

    closed = "_closed"

    def quote(self, s: str) -> str:
        out = []
        for ch in s:
            if ch in "\\'":
                out.append("\\" + ch)
            elif ord(ch) < 0x20 or ch == "\x7f":
                out.append(f"\\u{ord(ch):04x}")
            else:
                out.append(ch)
        return "'" + "".join(out) + "'"

    def tag(self, key):
        return f"tags[{self.quote(key)}]"

    def rlike(self, v, regex):
        return f"rlike({v}, {self.quote(regex)})"

    def has(self, key):
        return f"coalesce(map_contains_key(tags, {self.quote(key)}), false)"

    def strip_pipes(self, v):
        return f"regexp_replace({v}, {self.quote(_PIPE_RE)}, '')"

    def printf(self, template, args):
        if not args:
            return self.quote(template)
        fmt = template.replace("%", "%%").replace("%%s", "%s")
        return f"format_string({', '.join([self.quote(fmt), *args])})"

    def map_lookup(self, v, mapping):
        kvs = ", ".join(f"{self.quote(k)}, {self.quote(out)}" for k, out in mapping)
        return f"element_at(map({kvs}), coalesce({v}, {self.quote(chr(0))}))"


class DuckDBDialect(Dialect):
    """DuckDB over the synth base CTE: one nullable VARCHAR column per
    synthesized key (keys never synthesized render as NULL)."""

    closed = "closed"

    def quote(self, s):
        return sql_quote(s)

    def tag(self, key):
        col = TAG_TO_COL.get(key)
        return col if col is not None else "CAST(NULL AS VARCHAR)"

    def rlike(self, v, regex):
        return f"regexp_matches({v}, {self.quote(regex)})"

    def has(self, key):
        return f"({self.tag(key)} IS NOT NULL)"

    def strip_pipes(self, v):
        return f"replace({v}, '|', '')"

    def printf(self, template, args):
        parts = template.split("%s")
        assert len(parts) == len(args) + 1, template
        pieces = []
        for i, part in enumerate(parts):
            if part:
                pieces.append(self.quote(part))
            if i < len(args):
                pieces.append(args[i])
        return " || ".join(pieces) if pieces else "''"

    def map_lookup(self, v, mapping):
        whens = " ".join(
            f"WHEN {self.quote(k)} THEN {self.quote(out)}" for k, out in mapping
        )
        return f"(CASE {v} {whens} END)"


SPARK = SparkDialect()
DUCKDB = DuckDBDialect()


def _in_list(expr: str, values, d: Dialect) -> str:
    return f"{expr} IN ({', '.join(d.quote(v) for v in values)})"


def _strict_int_ok(v: str, d: Dialect) -> str:
    t = f"try_cast({v} AS BIGINT)"
    return (
        f"COALESCE({d.rlike(v, D.STRICT_INT_RE)} AND "
        f"({t} >= {D.INT32_MIN} AND {t} <= {D.INT32_MAX}), FALSE)"
    )


def _intof_sql(key: str, d: Dialect) -> str:
    v = d.tag(key)
    return (
        f"CASE WHEN {_strict_int_ok(v, d)} THEN try_cast({v} AS BIGINT) "
        f"ELSE CAST({D.INT_SENTINEL} AS BIGINT) END"
    )


def _prefix_float_sql(v: str, d: Dialect) -> str:
    return f"regexp_extract({v}, {d.quote(D.PREFIX_FLOAT_RE)}, 0)"


def render_value(x, d: Dialect) -> str:
    """SQL for a value expression (nullable string/bigint)."""
    if isinstance(x, D.Tag):
        return d.tag(x.key)
    if isinstance(x, D.IntOf):
        return _intof_sql(x.key, d)
    if isinstance(x, D.IntStr):
        return f"CAST({_intof_sql(x.key, d)} AS STRING)"
    if isinstance(x, MapLookup):
        return d.map_lookup(d.tag(x.key), x.mapping)
    raise TypeError(f"no SQL render for value node {type(x).__name__}")


def render_pred(p, d: Dialect) -> str:
    """SQL for a predicate (non-NULL boolean)."""
    if isinstance(p, D.Has):
        return d.has(p.key)
    if isinstance(p, D.Eq):
        return f"({d.tag(p.key)} IS NOT DISTINCT FROM {d.quote(p.value)})"
    if isinstance(p, D.InL):
        return f"COALESCE({_in_list(d.tag(p.key), p.values, d)}, FALSE)"
    if isinstance(p, D.IsStrictInt):
        return _strict_int_ok(d.tag(p.key), d)
    if isinstance(p, D.IsPrefixInt):
        return f"COALESCE({d.rlike(d.tag(p.key), D.PREFIX_INT_RE)}, FALSE)"
    if isinstance(p, D.IsPrefixFloat):
        return f"COALESCE({_prefix_float_sql(d.tag(p.key), d)} != '', FALSE)"
    if isinstance(p, D.FloatCmp):
        num = f"try_cast({_prefix_float_sql(d.tag(p.key), d)} AS DOUBLE)"
        op = "<" if p.op == "lt" else ">"
        return f"COALESCE({num} {op} {p.bound!r}, FALSE)"
    if isinstance(p, D.IntCmp):
        op = {"eq": "=", "le": "<=", "gt": ">", "lt": "<"}[p.op]
        return f"COALESCE({_intof_sql(p.key, d)} {op} CAST({p.bound} AS BIGINT), FALSE)"
    if isinstance(p, D.LanesSumMismatch):
        return (
            f"({_intof_sql('lanes', d)} != "
            f"({_intof_sql('lanes:forward', d)} + {_intof_sql('lanes:backward', d)}))"
        )
    if isinstance(p, D.PipeCountMismatch):
        v = d.tag(p.lanekey)
        pipes = f"(length({v}) - length({d.strip_pipes(v)}))"
        return (
            f"COALESCE({_intof_sql(p.key, d)} != CAST({pipes} + 1 AS BIGINT), FALSE)"
        )
    if isinstance(p, D.Closed):
        return d.closed
    if isinstance(p, D.Not):
        return f"(NOT {render_pred(p.a, d)})"
    if isinstance(p, D.And):
        return "(" + " AND ".join(render_pred(t, d) for t in p.terms) + ")"
    if isinstance(p, D.Or):
        return "(" + " OR ".join(render_pred(t, d) for t in p.terms) + ")"
    if isinstance(p, NeTags):
        a, b = render_value(p.a, d), render_value(p.b, d)
        return f"COALESCE({a} != {b}, FALSE)"
    raise TypeError(f"no SQL render for predicate node {type(p).__name__}")


def render_msg(msg: D.Msg, d: Dialect) -> str:
    """printf template with (null)/254-truncation parity."""
    args = [
        f"COALESCE(CAST({render_value(a, d)} AS STRING), {d.quote(D.NULL_STR)})"
        for a in msg.args
    ]
    return f"substring({d.printf(msg.template, args)}, 1, {D.TRUNC})"


# ---------------------------------------------------------------------------
# Spark: the whole catalogue as one multi-emit array expression
# ---------------------------------------------------------------------------


def _spark_item(site: int, sub: str, layer: str, style: str, problem: str) -> str:
    q = SPARK.quote
    return (
        f"struct({site} AS site, CAST({sub} AS INT) AS sub, {q(layer)} AS layer, "
        f"{q(style)} AS style, {problem} AS problem)"
    )


_SPARK_NO_EMIT = f"array(CAST(NULL AS {EMIT_DDL}))"


def _spark_turn_unknown(e: EmitTurnUnknown, site: int) -> str:
    """One element per token of turn:<key>, null unless the token is
    unknown (wayproblems.cpp:616-630)."""
    q = SPARK.quote
    t = SPARK.tag("turn:" + e.key)
    tmpl = q(f"{e.key}=%s contains lane turn %s which is unknown")
    problem = (
        f"substring(format_string({tmpl}, coalesce({t}, {q(D.NULL_STR)}), x), 1, {D.TRUNC})"
    )
    valid = ", ".join(q(v) for v in VALID_TURNS)
    items = (
        f"transform(split({t}, {q(TOKEN_SPLIT_RE)}), (x, i) -> CASE WHEN NOT (x IN ({valid})) "
        f"THEN {_spark_item(site, 'i', 'wayproblems', 'default', problem)} END)"
    )
    return f"CASE WHEN {render_pred(e.guard(), SPARK)} THEN {items} ELSE {_SPARK_NO_EMIT} END"


def _spark_turn_order(e: EmitTurnOrder, site: int) -> str:
    """The C++ monotonicity fold (wayproblems.cpp:632-650) as an
    ``aggregate`` over the tokens: an unknown/empty token (priority 0)
    stops the scan; a priority increase after a named token records the
    offending pair (a, b) and stops."""
    q = SPARK.quote
    t = SPARK.tag("turn:" + e.key)
    prio = ", ".join(f"{q(tok)}, {p}" for tok, p in TURN_PRIORITY.items())
    p = f"coalesce(element_at(map({prio}), x), 0)"

    def acc(prev, pname, stop, a, b):
        return f"struct({prev} AS prev, {pname} AS pname, {stop} AS stop, {a} AS a, {b} AS b)"

    zero = acc("99999", "''", "false", "CAST(NULL AS STRING)", "CAST(NULL AS STRING)")
    step = (
        f"CASE WHEN acc.stop THEN {acc('acc.prev', 'acc.pname', 'acc.stop', 'acc.a', 'acc.b')} "
        f"WHEN {p} = 0 THEN {acc('acc.prev', 'acc.pname', 'true', 'acc.a', 'acc.b')} "
        f"WHEN ({p} > acc.prev AND acc.pname != '') "
        f"THEN {acc('acc.prev', 'acc.pname', 'true', 'acc.pname', 'x')} "
        f"ELSE {acc(p, 'x', 'false', 'acc.a', 'acc.b')} END"
    )
    res = f"(aggregate(split({t}, {q(TOKEN_SPLIT_RE)}), {zero}, (acc, x) -> {step}))"
    tmpl = q(f"turn:{e.key} has turn ...%s|%s...")
    problem = f"substring(format_string({tmpl}, {res}.a, {res}.b), 1, {D.TRUNC})"
    emit = (
        f"CASE WHEN {res}.a IS NOT NULL "
        f"THEN {_spark_item(site, '0', 'wayproblems', 'default', problem)} END"
    )
    return f"CASE WHEN {render_pred(e.guard(), SPARK)} THEN array({emit}) ELSE {_SPARK_NO_EMIT} END"


def emissions_sql() -> str:
    """Spark SQL for the per-way ``array<struct<site,sub,layer,style,
    problem>>`` of every emission site in dispatch order, nulls dropped.
    References only the ``tags`` and ``_closed`` columns."""
    singles: list[str] = []
    token_arrays: list[str] = []
    for site, emitter in enumerate(CATALOG):
        if isinstance(emitter, Emit):
            item = _spark_item(
                site, "0", emitter.layer, emitter.style, render_msg(emitter.msg, SPARK)
            )
            singles.append(f"CASE WHEN {render_pred(emitter.cond, SPARK)} THEN {item} END")
        elif isinstance(emitter, EmitTurnUnknown):
            token_arrays.append(_spark_turn_unknown(emitter, site))
        elif isinstance(emitter, EmitTurnOrder):
            token_arrays.append(_spark_turn_order(emitter, site))
        else:  # pragma: no cover - catalogue invariant
            raise TypeError(f"unknown emitter {type(emitter).__name__}")
    combined = ", ".join([f"array({', '.join(singles)})", *token_arrays])
    return f"filter(concat({combined}), x -> x IS NOT NULL)"


# ---------------------------------------------------------------------------
# DuckDB: one UNION ALL branch per emission site
# ---------------------------------------------------------------------------


def _emit_select(e: Emit, site: int) -> str:
    q = DUCKDB.quote
    return (
        f"SELECT way_id, {site} AS site, 0 AS sub, "
        f"{q(e.layer)} AS layer, {q(e.style)} AS style, "
        f"{render_msg(e.msg, DUCKDB)} AS problem FROM g WHERE {render_pred(e.cond, DUCKDB)}"
    )


def _turn_base(key: str, one_based: bool) -> str:
    """Zipped (token, ordinal) unnest of turn:<key> under the emitter guard."""
    turn = DUCKDB.tag("turn:" + key)
    guard = f"{DUCKDB.tag(key)} IS NOT NULL AND {turn} IS NOT NULL"
    lo, hi = ("1", "len(toks)+1") if one_based else ("0", "len(toks)")
    return (
        f"SELECT way_id, v, unnest(toks) AS tok, unnest(range({lo}, {hi})) AS i "
        f"FROM (SELECT way_id, v, string_split_regex(v, {DUCKDB.quote(TOKEN_SPLIT_RE)}) AS toks "
        f"FROM (SELECT way_id, {turn} AS v FROM g WHERE {guard}))"
    )


def _turn_unknown_select(e: EmitTurnUnknown, site: int) -> str:
    q = DUCKDB.quote
    valid = ", ".join(q(t) for t in VALID_TURNS)
    problem = f"{q(e.key + '=')} || v || ' contains lane turn ' || tok || ' which is unknown'"
    return (
        f"SELECT way_id, {site} AS site, CAST(i AS INT) AS sub, "
        f"'wayproblems' AS layer, 'default' AS style, "
        f"substring({problem}, 1, {D.TRUNC}) AS problem "
        f"FROM ({_turn_base(e.key, one_based=False)}) "
        f"WHERE tok NOT IN ({valid})"
    )


def _turn_order_select(e: EmitTurnOrder, site: int) -> str:
    """The C++ monotonicity fold as a lag-window scan: the emission is the
    FIRST adjacent priority increase strictly before the first
    zero-priority (unknown/empty) token (wayproblems.cpp:632-650)."""
    q = DUCKDB.quote
    prio = " ".join(f"WHEN {q(t)} THEN {p}" for t, p in TURN_PRIORITY.items())
    tmpl_pre = q(f"turn:{e.key} has turn ...")
    return (
        f"SELECT way_id, {site} AS site, 0 AS sub, "
        f"'wayproblems' AS layer, 'default' AS style, "
        f"substring({tmpl_pre} || arg_min(ptok, i) || '|' || arg_min(tok, i) || '...', 1, {D.TRUNC}) AS problem "
        f"FROM ("
        f"SELECT way_id, i, tok, p, lag(tok) OVER w AS ptok, lag(p) OVER w AS pp, "
        f"min(CASE WHEN p = 0 THEN i END) OVER (PARTITION BY way_id) AS zi "
        f"FROM (SELECT way_id, tok, i, CASE tok {prio} ELSE 0 END AS p "
        f"FROM ({_turn_base(e.key, one_based=True)})) "
        f"WINDOW w AS (PARTITION BY way_id ORDER BY i)"
        f") WHERE i >= 2 AND p > pp AND (zi IS NULL OR i < zi) "
        f"GROUP BY way_id"
    )


def catalog_oracle_sql(table: str = "lineitem") -> str:
    """The full generated oracle: every catalogue emission site as a UNION
    ALL branch over the synthesized corpus, gated like engine.gate."""
    branches = []
    for site, emitter in enumerate(CATALOG):
        if isinstance(emitter, Emit):
            branches.append(_emit_select(emitter, site))
        elif isinstance(emitter, EmitTurnUnknown):
            branches.append(_turn_unknown_select(emitter, site))
        elif isinstance(emitter, EmitTurnOrder):
            branches.append(_turn_order_select(emitter, site))
        else:  # pragma: no cover - catalogue invariant
            raise TypeError(f"unknown emitter {type(emitter).__name__}")
    gate = _in_list(DUCKDB.tag("highway"), HIGHWAY_VALID, DUCKDB)
    union = "\nUNION ALL\n".join(branches)
    return (
        f"WITH base AS ({synth_base_sql(table)}),\n"
        f"g AS (SELECT * FROM base WHERE {gate})\n"
        f"SELECT way_id, CAST(site AS BIGINT) AS site, CAST(sub AS BIGINT) AS sub, "
        f"layer, style, problem FROM (\n{union}\n)"
    )
