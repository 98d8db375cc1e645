"""Emission-site objects: each evaluates in pure Python (the oracle path)
and is rendered to SQL by ``rules.sqlgen`` (the production path).

An emitter contributes elements of type
``struct<site:int, sub:int, layer:string, style:string, problem:string>``
to the per-way multi-emit array (SURVEY.md §2.1 P6). ``site`` is the global
dispatch-order index (wayproblems.cpp:1448-1518 call order, loops unrolled);
``sub`` orders multi-token emissions within a site.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from .dsl import TRUNC, Has, Msg, P

EMIT_DDL = "struct<site:int,sub:int,layer:string,style:string,problem:string>"

# turn:lanes token vocabulary (wayproblems.cpp:622-623) — includes "".
VALID_TURNS = (
    "left", "right", "slight_left", "slight_right", "through",
    "merge_to_left", "merge_to_right", "reverse", "none",
    "sharp_left", "sharp_right", "",
)

# wayproblems.cpp:147-159 — unknown commands map to 0 (scan break).
TURN_PRIORITY = {
    "sharp_right": 1,
    "right": 2,
    "slight_right": 3,
    "merge_to_left": 4,
    "through": 5,
    "none": 5,
    "merge_to_right": 6,
    "slight_left": 7,
    "left": 8,
    "sharp_left": 9,
    "reverse": 10,
}

TOKEN_SPLIT_RE = "[|;]+"
_token_split = re.compile(TOKEN_SPLIT_RE)


@dataclass(frozen=True)
class Emit:
    """Standard single emission: when(cond) → (layer, style, message)."""

    cond: P
    layer: str
    style: str
    msg: Msg

    def eval_py(self, site: int, way: dict) -> list[dict]:
        if self.cond.py(way):
            return [
                {
                    "site": site,
                    "sub": 0,
                    "layer": self.layer,
                    "style": self.style,
                    "problem": self.msg.py(way),
                }
            ]
        return []


@dataclass(frozen=True)
class EmitTurnUnknown:
    """One emission per unknown turn token in turn:<key>
    (wayproblems.cpp:616-630). Layer L_WP, style default."""

    key: str  # 'lanes' | 'lanes:forward' | 'lanes:backward'

    def guard(self) -> P:
        return Has(self.key) & Has("turn:" + self.key)

    def eval_py(self, site: int, way: dict) -> list[dict]:
        if not self.guard().py(way):
            return []
        v = way["tags"]["turn:" + self.key]
        out = []
        for i, tok in enumerate(_token_split.split(v)):
            if tok not in VALID_TURNS:
                p = f"{self.key}={v} contains lane turn {tok} which is unknown"[:TRUNC]
                out.append(
                    {"site": site, "sub": i, "layer": "wayproblems",
                     "style": "default", "problem": p}
                )
        return out


@dataclass(frozen=True)
class EmitTurnOrder:
    """Left-to-right turn-command monotonicity scan (wayproblems.cpp:632-650).

    Fold over tokens: unknown/empty token (priority 0) breaks the scan;
    a priority increase after a named token emits once and breaks.
    Rendered JVM-side as an ``aggregate`` lambda — no Python in the hot path.
    """

    key: str

    def guard(self) -> P:
        return Has(self.key) & Has("turn:" + self.key)

    def eval_py(self, site: int, way: dict) -> list[dict]:
        if not self.guard().py(way):
            return []
        v = way["tags"]["turn:" + self.key]
        prev, pname = 99999, ""
        for tok in _token_split.split(v):
            p = TURN_PRIORITY.get(tok, 0)
            if not p:
                break
            if p > prev and pname != "":
                problem = f"turn:{self.key} has turn ...{pname}|{tok}..."[:TRUNC]
                return [
                    {"site": site, "sub": 0, "layer": "wayproblems",
                     "style": "default", "problem": problem}
                ]
            prev, pname = p, tok
        return []
