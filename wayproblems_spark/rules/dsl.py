"""Predicate/expression DSL for the rule catalogue.

Every rule condition and message is declared ONCE as a small expression
tree with two render targets:

* pure Python (``.py(way)``) — evaluated on a plain dict; the oracle path
  used by property-based tests (hypothesis) and golden generation, and
* SQL text (``rules.sqlgen``) — in the Spark dialect the production path,
  one expression evaluated entirely JVM-side inside one whole-stage
  codegen'd projection; in the DuckDB dialect the q34 cross-engine oracle.

This removes transcription drift between the engine and its oracle: both
derive from the same catalogue objects.

Reference semantics reproduced here (citations into
/root/reference/wayproblems.cpp):

* ``key_value_as_int`` (wayproblems.cpp:232-249): ``std::stoi`` + full-string
  check — leading whitespace allowed, trailing rejected; sentinel INT_MAX.
  Out-of-int32-range values crash the reference (uncaught std::out_of_range);
  we define them as "not an integer".
* ``key_value_as_double`` (wayproblems.cpp:219-230): ``std::stof`` PREFIX
  parse — ``"1.8m"`` parses as 1.8; NaN sentinel.
* maxspeed numeric check (wayproblems.cpp:486): ``std::stoi`` PREFIX parse —
  ``"50 mph"`` passes, ``"walk"`` fails (SURVEY.md quirk Q4).
* ``%s`` of a missing tag renders glibc-style ``(null)`` (quirk Q2) and
  problem text is truncated by ``vsnprintf(buf, 255, ...)`` to 254 content
  chars (quirk Q8), wayproblems.cpp:95-99.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

INT_SENTINEL = 2147483647
INT32_MIN, INT32_MAX = -2147483648, 2147483647

# Java and Python regex subsets used here behave identically on ASCII input.
STRICT_INT_RE = r"^\s*[+-]?\d+$"
PREFIX_INT_RE = r"^\s*[+-]?\d+"
PREFIX_FLOAT_RE = r"^\s*[+-]?(\d+\.?\d*|\.\d+)([eE][+-]?\d+)?"

_strict_int = re.compile(STRICT_INT_RE)
_prefix_int = re.compile(PREFIX_INT_RE)
_prefix_float = re.compile(PREFIX_FLOAT_RE)


# ---------------------------------------------------------------------------
# Value expressions (string / long / double, nullable)
# ---------------------------------------------------------------------------


class X:
    """Base expression node."""

    def py(self, way: dict):
        raise NotImplementedError


@dataclass(frozen=True)
class Tag(X):
    """Tag value lookup; None when absent (wayproblems.cpp:198-200)."""

    key: str

    def py(self, way):
        return way["tags"].get(self.key)


def _py_strict_int(v: str | None):
    """Full-string int parse with int32 range; None if invalid."""
    if v is None or not _strict_int.match(v):
        return None
    n = int(v)
    if not (INT32_MIN <= n <= INT32_MAX):
        return None
    return n


def _py_prefix_float(v: str | None):
    if v is None:
        return None
    m = _prefix_float.match(v)
    return float(m.group(0)) if m else None


@dataclass(frozen=True)
class IntOf(X):
    """key_value_as_int: strict int else INT_SENTINEL (wayproblems.cpp:232-245).

    Returned as long so downstream sums can't overflow.
    """

    key: str

    def py(self, way):
        n = _py_strict_int(way["tags"].get(self.key))
        return INT_SENTINEL if n is None else n


@dataclass(frozen=True)
class IntStr(X):
    """Decimal rendering of IntOf — the %d argument form."""

    key: str

    def py(self, way):
        return str(IntOf(self.key).py(way))


# ---------------------------------------------------------------------------
# Predicates — ALWAYS null-safe (absent tags behave like C++ nullptr: false)
# ---------------------------------------------------------------------------


class P(X):
    """Base predicate; renders to a non-null boolean."""

    def __and__(self, other):
        return And(self, other)

    def __or__(self, other):
        return Or(self, other)

    def __invert__(self):
        return Not(self)


@dataclass(frozen=True)
class Has(P):
    key: str

    def py(self, way):
        return self.key in way["tags"]


@dataclass(frozen=True)
class Eq(P):
    """has_key_value: exact string equality, absent → false (cpp:267-272)."""

    key: str
    value: str

    def py(self, way):
        return way["tags"].get(self.key) == self.value


@dataclass(frozen=True)
class InL(P):
    """key_value_in_list: membership, absent → false (cpp:202-216)."""

    key: str
    values: tuple

    def py(self, way):
        return way["tags"].get(self.key) in self.values


def TrueKV(key: str) -> InL:
    """value ∈ {yes,true,1} (cpp:189-190, 274-276)."""
    return InL(key, ("yes", "true", "1"))


def FalseKV(key: str) -> InL:
    """value ∈ {no,false,0} (cpp:192-193, 278-280)."""
    return InL(key, ("no", "false", "0"))


@dataclass(frozen=True)
class IsStrictInt(P):
    key: str

    def py(self, way):
        return _py_strict_int(way["tags"].get(self.key)) is not None


@dataclass(frozen=True)
class IsPrefixInt(P):
    """maxspeed-style prefix stoi succeeds (cpp:486; quirk Q4)."""

    key: str

    def py(self, way):
        v = way["tags"].get(self.key)
        return v is not None and _prefix_int.match(v) is not None


@dataclass(frozen=True)
class IsPrefixFloat(P):
    """key_value_is_double: prefix stof succeeds (cpp:219-230; quirk Q4)."""

    key: str

    def py(self, way):
        return _py_prefix_float(way["tags"].get(self.key)) is not None


@dataclass(frozen=True)
class FloatCmp(P):
    """Compare prefix-parsed float against a literal ('lt' / 'gt')."""

    key: str
    op: str
    bound: float

    def py(self, way):
        v = _py_prefix_float(way["tags"].get(self.key))
        if v is None:
            return False
        return v < self.bound if self.op == "lt" else v > self.bound


@dataclass(frozen=True)
class IntCmp(P):
    """Compare strict-parsed int (sentinel-valued) against a literal."""

    key: str
    op: str  # 'eq' | 'le' | 'gt' | 'lt'
    bound: int

    def py(self, way):
        v = IntOf(self.key).py(way)
        b = self.bound
        return {"eq": v == b, "le": v <= b, "gt": v > b, "lt": v < b}[self.op]


@dataclass(frozen=True)
class LanesSumMismatch(P):
    """lanes != lanes:forward + lanes:backward (cpp:670-680), sentinel math
    done in long so INT_MAX+INT_MAX can't overflow (C++ UB avoided)."""

    def py(self, way):
        return IntOf("lanes").py(way) != (
            IntOf("lanes:forward").py(way) + IntOf("lanes:backward").py(way)
        )


@dataclass(frozen=True)
class PipeCountMismatch(P):
    """key_value_as_int(key) != count('|' in tags[lanekey]) + 1
    (cpp:598-609). Fires only when lanekey present (guarded by caller)."""

    key: str
    lanekey: str

    def py(self, way):
        v = way["tags"].get(self.lanekey)
        if v is None:
            return False
        return IntOf(self.key).py(way) != (v.count("|") + 1)


@dataclass(frozen=True)
class Closed(P):
    """ends_have_same_id (cpp:330) — first node ref == last node ref."""

    def py(self, way):
        return bool(way["closed"])


@dataclass(frozen=True)
class Not(P):
    a: P

    def py(self, way):
        return not self.a.py(way)


class And(P):
    def __init__(self, *terms):
        self.terms = terms

    def py(self, way):
        return all(t.py(way) for t in self.terms)


class Or(P):
    def __init__(self, *terms):
        self.terms = terms

    def py(self, way):
        return any(t.py(way) for t in self.terms)


# ---------------------------------------------------------------------------
# Messages
# ---------------------------------------------------------------------------

NULL_STR = "(null)"  # glibc %s-of-NULL rendering (quirk Q2)
TRUNC = 254  # vsnprintf(buf, 255, ...) keeps 254 content chars (quirk Q8)


@dataclass(frozen=True)
class Msg:
    """printf template (only %s placeholders; constant args pre-baked)."""

    template: str
    args: tuple = ()

    def py(self, way) -> str:
        vals = []
        for a in self.args:
            v = a.py(way)
            vals.append(NULL_STR if v is None else str(v))
        out = self.template
        for v in vals:
            out = out.replace("%s", v.replace("%", "\x00"), 1)
        out = out.replace("\x00", "%")
        return out[:TRUNC]
