"""The complete rule catalogue — every writeWay emission site of the
reference, in exact dispatch order (wayproblems.cpp:1441-1546, loops
unrolled). ~230 sites across 44 live rule families.

Semantic quirks reproduced deliberately (SURVEY.md §2.5):

* Q1  — the public-road list concatenates "residential" "living_street"
        into one literal (wayproblems.cpp:186-187), so those two classes are
        NOT public for R23/R24/R26/R44.
* Q2  — tag_proposed passes (highway, construction) to
        "proposed=%s on highway=%s ..." (wayproblems.cpp:814-816); missing
        construction renders "(null)". tag_construction's non-construction
        emission likewise passes (highway, construction) into
        "construction=%s on highway=%s" (wayproblems.cpp:841-843).
* Q3  — bicycle=permissive message literally says "bicycle=designated ..."
        (wayproblems.cpp:925-926); foot=permissive says "foot=yes ... is
        default" (wayproblems.cpp:968).
* Q5  — the invalid-combination cycleway check uses key "cycleway:left "
        (trailing space, wayproblems.cpp:1243) — dead for the left side.
* typos kept verbatim: "suspicous", "is an suspicious", "agricutural",
        "bicyle", "seperate", "ist default".
"""

from __future__ import annotations

from .dsl import (
    Eq,
    FalseKV,
    FloatCmp,
    Has,
    InL,
    IntCmp,
    IntStr,
    IsPrefixFloat,
    IsPrefixInt,
    IsStrictInt,
    LanesSumMismatch,
    Msg,
    Not,
    PipeCountMismatch,
    Tag,
    TrueKV,
    Closed,
    P,
    X,
)
from .emitters import Emit, EmitTurnOrder, EmitTurnUnknown

from dataclasses import dataclass

WP, REF, FOOTWAY, DEFAULTS, STRANGE, CYCLING = (
    "wayproblems", "ref", "footway", "defaults", "strange", "cycling",
)

# Gate whitelist (wayproblems.cpp:1420-1431).
HIGHWAY_VALID = (
    "motorway", "motorway_link", "trunk", "trunk_link",
    "primary", "primary_link", "secondary", "secondary_link",
    "tertiary", "tertiary_link", "unclassified", "residential",
    "living_street", "footway", "cycleway", "path", "bridleway",
    "service", "track", "road", "pedestrian", "steps", "construction",
)

# Quirk Q1: missing comma fuses the last two entries (wayproblems.cpp:180-188).
HIGHWAY_PUBLIC = (
    "motorway", "motorway_link", "trunk", "trunk_link",
    "primary", "primary_link", "secondary", "secondary_link",
    "tertiary", "tertiary_link", "unclassified", "residentialliving_street",
)
HIGHWAY_MOTORWAY = ("motorway", "motorway_link")
HIGHWAY_SHOULD_REF = ("motorway", "trunk", "primary", "secondary")
HIGHWAY_MAY_REF = ("motorway", "trunk", "primary", "secondary", "tertiary")

# wayproblems.cpp:135-145
MAXSPEED_TYPE_TO_SPEED = (
    ("DE:zone30", "30"), ("DE:zone:30", "30"),
    ("DE:zone20", "20"), ("DE:zone:20", "20"),
    ("DE:zone10", "10"), ("DE:zone:10", "10"),
    ("DE:bicycle_road", "30"), ("DE:urban", "50"), ("DE:rural", "100"),
)
_SPEED_MAP = dict(MAXSPEED_TYPE_TO_SPEED)

# wayproblems.cpp:393-402
MAXSPEED_VALID_SOURCE = (
    "sign", "signals", "DE:motorway", "DE:urban", "DE:rural",
    "DE:zone", "DE:bicycle_road", "DE:zone30", "DE:zone:30",
    "DE:zone20", "DE:zone:20", "DE:zone10", "DE:zone:10",
)

PAVED_SURFACES = (
    "paved", "cobblestone", "asphalt", "asphalt:lanes",
    "paving_stones", "concrete", "concrete:lanes",
)

TUNNEL_TRUE = ("yes", "true", "1", "avalanche_protector", "building_passage")
BRIDGE_TRUE = ("yes", "true", "1")


@dataclass(frozen=True)
class MapLookup(X):
    """tags[key] looked up through a literal map; None if unmapped
    (maxspeed_from_maxspeed_type_tag, wayproblems.cpp:298-310)."""

    key: str
    mapping: tuple

    def py(self, way):
        v = way["tags"].get(self.key)
        return dict(self.mapping).get(v) if v is not None else None


@dataclass(frozen=True)
class NeTags(P):
    """Tag(a) != MapLookup-style expr value; absent values → False."""

    a: X
    b: X

    def py(self, way):
        va, vb = self.a.py(way), self.b.py(way)
        if va is None or vb is None:
            return False
        return va != vb


def _public() -> P:
    return InL("highway", HIGHWAY_PUBLIC)


def _motorway() -> P:
    return InL("highway", HIGHWAY_MOTORWAY)


def _is_tunnel() -> P:
    return InL("tunnel", TUNNEL_TRUE)


def _is_bridge() -> P:
    return InL("bridge", BRIDGE_TRUE)


def E(cond: P, layer: str, style: str, template: str, *args: X) -> Emit:
    return Emit(cond, layer, style, Msg(template, tuple(args)))


def _build_catalog() -> list:
    C: list = []
    A = C.append

    # ---- circular_way (cpp:329-342) ------------------------------------
    A(E(Closed() & Not(Eq("area", "yes")) & Not(Eq("junction", "roundabout"))
        & InL("highway", ("tertiary", "secondary", "primary", "unclassified", "residential")),
        STRANGE, "default", "Circular way without junction=roundabout"))
    A(E(Not(Closed()) & Eq("area", "yes"),
        WP, "default", "area=yes on unclosed way"))

    # ---- tag_layer (cpp:344-361) ----------------------------------------
    lay = Has("layer")
    A(E(lay & Not(IsStrictInt("layer")), WP, "default",
        "layer=%s is not integer", Tag("layer")))
    A(E(lay & IsStrictInt("layer") & IntCmp("layer", "eq", 0),
        DEFAULTS, "redundant", "layer=%s is default", Tag("layer")))
    A(E(lay & IsStrictInt("layer") & IntCmp("layer", "gt", 10),
        WP, "redundant", "layer=%s where num > 10 seems broken", Tag("layer")))
    A(E(lay & IsStrictInt("layer") & IntCmp("layer", "lt", -10),
        WP, "redundant", "layer=%s where num < -10 seems broken", Tag("layer")))

    # ---- tag_ref (cpp:363-384) -------------------------------------------
    A(E(InL("highway", HIGHWAY_SHOULD_REF) & Not(Eq("junction", "roundabout"))
        & Not(Has("ref")),
        REF, "ref", "highway should have ref"))
    A(E(Not(InL("highway", HIGHWAY_MAY_REF)) & Not(Eq("highway", "path")) & Has("ref"),
        REF, "ref", "highway should not have ref"))
    broken_ref = InL("ref", ("-", "+", "*", ".", "_", " ", "\t", "#"))
    A(E(broken_ref, REF, "ref", "ref=%s seems broken", Tag("ref")))
    A(E(broken_ref, WP, "ref", "ref=%s seems broken", Tag("ref")))

    # ---- tag_maxspeed (cpp:466-503) — 3 base keys × 5 vehicle suffixes ----
    for base in ("maxspeed", "maxspeed:forward", "maxspeed:backward"):
        for suffix in ("", ":hgv", ":vehicle", ":motor_vehicle", ":bus"):
            key = base + suffix
            A(E(Has(key) & Not(InL(key, ("none", "signals"))) & Not(IsPrefixInt(key)),
                WP, "steelline", f"{key}=%s is not numerical", Tag(key)))
    A(E(Has("maxspeed") & (Has("maxspeed:forward") | Has("maxspeed:backward")),
        WP, "steelline", "maxspeed and maxspeed:forward/backward - overlapping values"))

    # ---- tag_maxheight (cpp:505-531) --------------------------------------
    mh = Has("maxheight") & Not(InL("maxheight",
        ("default", "none", "unsigned", "no_sign", "no_indications", "below_default")))
    A(E(mh & Not(IsPrefixFloat("maxheight")), WP, "default",
        "maxheight=%s is not float", Tag("maxheight")))
    A(E(mh & IsPrefixFloat("maxheight") & FloatCmp("maxheight", "lt", 1.8),
        WP, "default", "maxheight=%s is less than 1.8", Tag("maxheight")))
    A(E(mh & IsPrefixFloat("maxheight") & FloatCmp("maxheight", "gt", 7.0),
        WP, "default", "maxheight=%s is more than 7 - suspicous value", Tag("maxheight")))

    # ---- tag_lanes (cpp:566-681) ------------------------------------------
    for key in ("lanes", "lanes:forward", "lanes:backward"):
        k = Has(key)
        A(E(k & Not(IsStrictInt(key)), WP, "default",
            f"{key}=%s is not integer", Tag(key)))
        A(E(k & IsStrictInt(key) & IntCmp(key, "le", 0), WP, "default",
            f"{key}=%s is less or equal 0", Tag(key)))
        A(E(k & IsStrictInt(key) & IntCmp(key, "gt", 8), WP, "default",
            f"{key}=%s is more than 8 - suspicious value", Tag(key)))
        for prep in ("turn:", "destination:"):
            lanekey = prep + key
            A(E(k & Has(lanekey) & PipeCountMismatch(key, lanekey), WP, "default",
                f"{key}=%s does not match elements in {lanekey}=%s",
                IntStr(key), Tag(lanekey)))
        A(EmitTurnUnknown(key))
        A(EmitTurnOrder(key))
    A(E(Has("lanes") & Has("lanes:forward") & Has("lanes:backward") & LanesSumMismatch(),
        WP, "default",
        # NOTE: arg order is (lanes, lanes:forward, lanes:backward) — the
        # template names backward first but receives forward (cpp:676-678).
        "lanes=%s does not match sum of lanes:backward=%s and lanes:forward=%s",
        IntStr("lanes"), IntStr("lanes:forward"), IntStr("lanes:backward")))

    # ---- tag_sidewalk (cpp:683-706) ----------------------------------------
    sw = Has("sidewalk")
    A(E(sw & Not(InL("sidewalk", ("both", "left", "right", "none", "no", "yes", "separate"))),
        WP, "default", "sidewalk=%s not in known value list", Tag("sidewalk")))
    sw_set = InL("sidewalk", ("both", "left", "right", "yes"))
    A(E(sw & sw_set & InL("highway", ("motorway", "motorway_link", "trunk")),
        WP, "default", "highway=%s and sidewalk=%s - most likely an error",
        Tag("highway"), Tag("sidewalk")))
    A(E(sw & sw_set & TrueKV("motorroad"),
        WP, "default", "motorroad=%s and sidewalk=%s - most likely an error",
        Tag("motorroad"), Tag("sidewalk")))

    # ---- tag_segregated (cpp:708-720) ---------------------------------------
    seg = Has("segregated")
    A(E(seg & Not(InL("highway", ("footway", "cycleway", "path"))),
        CYCLING, "default",
        "highway=%s and segregated=%s - segregated only used on foot/cycleway and path",
        Tag("highway"), Tag("segregated")))
    A(E(seg & Not(InL("segregated", ("yes", "no"))),
        WP, "default", "segregated=%s - value not in known value list", Tag("segregated")))

    # ---- tag_shoulder (cpp:722-733) ------------------------------------------
    sh = Has("shoulder")
    A(E(sh & Not(InL("shoulder", ("both", "left", "right", "no", "yes"))),
        WP, "default", "shoulder=%s not in known value list", Tag("shoulder")))
    A(E(sh & InL("highway", ("path", "footway", "cycleway", "track", "steps",
                             "pedestrian", "bridleway")),
        WP, "default", "highway=%s should not have shoulder=%s",
        Tag("highway"), Tag("shoulder")))

    # ---- tag_oneway (cpp:752-801) ---------------------------------------------
    A(E(FalseKV("oneway"), DEFAULTS, "redundant", "oneway=no is default"))
    not_oneway = Not(Has("oneway")) | InL("oneway", ("0", "no"))
    for key in ("turn:lanes", "destination", "destination:lanes"):
        A(E(not_oneway & Has(key), WP, "default",
            f"{key} makes only sense on oneway streets"))
    for key in ("cycleway", "cycleway:left", "cycleway:right"):
        A(E(not_oneway & InL(key, ("opposite", "opposite_lane", "opposite_track",
                                   "opposite_share_busway")),
            CYCLING, "default", f"{key}=%s makes only sense on oneway streets", Tag(key)))
    fwd_oneway = InL("oneway", ("true", "yes", "1"))
    for key in ("turn:lanes:backward", "destination:backward",
                "destination:lanes:backward", "maxspeed:backward"):
        A(E(fwd_oneway & Has(key), WP, "default",
            f"{key} on oneway=%s makes no sense", Tag("oneway")))
    rev_oneway = InL("oneway", ("-1",))
    for key in ("turn:lanes:forward", "destination:forward",
                "destination:lanes:forward", "maxspeed:forward"):
        A(E(rev_oneway & Has(key), WP, "default",
            f"{key} on oneway=%s makes no sense", Tag("oneway")))

    # ---- tag_construction (cpp:819-845) -----------------------------------------
    con = Has("construction")
    A(E(con & Eq("construction", "yes"), WP, "redundant", "construction=yes is deprecated"))
    A(E(con & Eq("construction", "no"), DEFAULTS, "redundant", "construction=no is default"))
    A(E(con & Not(InL("construction", (
        "yes", "no", "widening", "minor",
        "motorway", "motorway_link", "trunk", "trunk_link",
        "primary", "primary_link", "secondary", "secondary_link",
        "tertiary", "tertiary_link", "unclassified",
        "residential", "pedestrian", "service", "track", "cycleway", "footway",
        "steps", "path"))),
        WP, "default", "construction=%s not in known list", Tag("construction")))
    # Quirk Q2-adjacent: args are (highway, construction) — cpp:841-843.
    A(E(con & Not(Eq("highway", "construction"))
        & Not(InL("construction", ("no", "widening", "minor"))),
        WP, "default", "construction=%s on highway=%s",
        Tag("highway"), Tag("construction")))

    # ---- tag_proposed (cpp:807-817) — quirk Q2 -----------------------------------
    A(E(Has("proposed") & Has("highway"), WP, "default",
        "proposed=%s on highway=%s causes OSRM to avoid road",
        Tag("highway"), Tag("construction")))

    # ---- tag_tracktype (cpp:847-881) ----------------------------------------------
    tt = Has("tracktype")
    A(E(tt & Not(Eq("highway", "track")), WP, "brownline", "tracktype=* on non track"))
    A(E(tt & Not(InL("tracktype", ("grade1", "grade2", "grade3", "grade4", "grade5"))),
        WP, "brownline", "tracktype=%s is unknown", Tag("tracktype")))
    A(E(tt & Has("surface") & Eq("tracktype", "grade1")
        & Not(InL("surface", PAVED_SURFACES)),
        WP, "brownline", "tracktype=%s with surface=%s is an suspicious combination",
        Tag("tracktype"), Tag("surface")))
    A(E(tt & Has("surface") & InL("tracktype", ("grade3", "grade4", "grade5"))
        & InL("surface", PAVED_SURFACES),
        WP, "brownline", "tracktype=%s with surface=%s is a suspicious combination",
        Tag("tracktype"), Tag("surface")))

    # ---- tag_tunnel (cpp:883-887) ---------------------------------------------------
    A(E(FalseKV("tunnel"), DEFAULTS, "redundant", "tunnel=no ist default"))

    # ---- tag_junction (cpp:889-912) ---------------------------------------------------
    rab = Eq("junction", "roundabout")
    A(E(rab & Has("name"), WP, "default",
        "name on roundabout is most likely an error - should not carry name or any street"))
    A(E(rab & Has("ref"), WP, "default",
        "ref on roundabout is most likely an error - should not carry ref of any street"))
    A(E(rab & Has("oneway"), DEFAULTS, "redundant", "oneway on roundabout is default"))
    A(E(rab & InL("sidewalk", ("both", "yes", "left")), WP, "default",
        "sidewalk=%s on roundabout - Right hand drive countries should have only a right sidewalk",
        Tag("sidewalk")))
    A(E(rab & InL("cycleway", ("opposite", "opposite_lane", "opposite_track")),
        CYCLING, "default", "cycleway=%s on roundabout is broken", Tag("cycleway")))

    # ---- tag_footway (cpp:1036-1054) ---------------------------------------------------
    fw = Has("footway")
    fw_dep = InL("footway", ("both", "left", "right", "none"))
    A(E(fw & fw_dep, WP, "default",
        "footway=%s on highway=%s is deprecated - replaced by sidewalk=",
        Tag("footway"), Tag("highway")))
    A(E(fw & Not(fw_dep) & Not(Eq("highway", "footway")), WP, "default",
        "footway=%s on non highway=footway", Tag("footway")))
    A(E(fw & Not(fw_dep) & Eq("highway", "footway")
        & Not(InL("footway", ("sidewalk", "crossing"))),
        WP, "default", "footway=%s is unknown value", Tag("footway")))

    # ---- tag_hazmat (cpp:1150-1178) ------------------------------------------------------
    hz = Has("hazmat")
    A(E(hz & Not(InL("hazmat", ("no", "yes", "destination", "designated"))),
        WP, "default", "hazmat=%s is not in known value list", Tag("hazmat")))
    hz_pos = InL("hazmat", ("yes", "destination", "designated"))
    A(E(hz & hz_pos & InL("highway", ("track", "path", "footway", "cycleway", "pedestrian")),
        WP, "default", "hazmat=%s on highway=%s is broken", Tag("hazmat"), Tag("highway")))
    A(E(hz & hz_pos & InL("highway", ("living_street", "service")),
        WP, "default", "hazmat=%s on highway=%s is suspicious", Tag("hazmat"), Tag("highway")))
    A(E(hz & hz_pos & InL("hgv", ("no", "false", "0")),
        WP, "default", "hazmat=%s with hgv=%s is suspicious", Tag("hazmat"), Tag("hgv")))

    # ---- tag_lit (cpp:1133-1148) -----------------------------------------------------------
    lit_ = Has("lit")
    A(E(lit_ & Not(InL("lit", ("no", "yes", "limited", "24/7", "automatic"))),
        WP, "default", "lit=%s is not in known value list", Tag("lit")))
    A(E(lit_ & InL("lit", ("yes", "limited", "24/7", "automatic")) & InL("highway", ("track",)),
        STRANGE, "default", "lit=%s on highway=%s is strange", Tag("lit"), Tag("highway")))

    # ---- tag_embankment (cpp:1106-1131) -------------------------------------------------------
    em = Has("embankment")
    A(E(em & Not(InL("embankment", ("no", "yes", "1", "0", "true", "false"))),
        WP, "default", "embankment=%s is not in known value list", Tag("embankment")))
    em_t = TrueKV("embankment")
    A(E(em & em_t & _is_tunnel(), WP, "default",
        "embankment=%s and tunnel=%s is broken", Tag("embankment"), Tag("tunnel")))
    A(E(em & em_t & _is_bridge(), WP, "default",
        "embankment=%s and bridge=%s is broken", Tag("embankment"), Tag("bridge")))
    A(E(em & em_t & InL("cutting", ("yes", "1", "true")), WP, "default",
        "embankment=%s and cutting=%s is broken", Tag("embankment"), Tag("cutting")))
    A(E(em & Not(em_t) & InL("embankment", ("no", "0", "false")),
        DEFAULTS, "default", "embankment=no is default"))

    # ---- tag_cutting (cpp:1083-1104) -----------------------------------------------------------
    cu = Has("cutting")
    A(E(cu & Not(InL("cutting", ("no", "yes", "1", "0", "true", "false", "left", "right"))),
        WP, "default", "cutting=%s is not in known value list", Tag("cutting")))
    cu_pos = InL("cutting", ("yes", "1", "true", "left", "right"))
    A(E(cu & cu_pos & _is_tunnel(), WP, "default",
        "cutting=%s and tunnel=%s is broken", Tag("cutting"), Tag("tunnel")))
    A(E(cu & cu_pos & _is_bridge(), WP, "default",
        "cutting=%s and bridge=%s is broken", Tag("cutting"), Tag("bridge")))
    A(E(cu & Not(cu_pos) & InL("cutting", ("no", "0", "false")),
        DEFAULTS, "default", "cutting=no is default"))

    # ---- tag_overtaking (cpp:1055-1081) -----------------------------------------------------------
    for key in ("overtaking", "overtaking:forward", "overtaking:backward"):
        A(E(Has(key) & Not(InL(key, ("no", "yes", "caution", "both", "forward", "backward"))),
            WP, "default", f"{key}=%s value not in known list", Tag(key)))
    A(E(InL("overtaking:forward", ("both", "backward")), WP, "default",
        "overtaking:forward=%s is broken", Tag("overtaking:forward")))
    A(E(InL("overtaking:backward", ("both", "forward")), WP, "default",
        "overtaking:backward=%s is broken", Tag("overtaking:backward")))

    # ---- tag_maxwidth (cpp:547-564) ------------------------------------------------------------------
    mw = Has("maxwidth")
    A(E(mw & Not(IsPrefixFloat("maxwidth")), WP, "default",
        "maxwidth=%s is not float", Tag("maxwidth")))
    A(E(mw & IsPrefixFloat("maxwidth") & FloatCmp("maxwidth", "lt", 1.8),
        WP, "default", "maxwidth=%s is less than 1.8", Tag("maxwidth")))
    A(E(mw & IsPrefixFloat("maxwidth") & FloatCmp("maxwidth", "gt", 7.0),
        WP, "default", "maxwidth=%s is more than 7 - suspicous value", Tag("maxwidth")))

    # ---- tag_type (cpp:533-544) -------------------------------------------------------------------------
    A(E(Has("type") & Eq("type", "route"), WP, "default",
        "type=%s is defined for route relations not ways", Tag("type")))
    A(E(Has("type") & Not(Eq("type", "route")), STRANGE, "default",
        "type=%s is strange", Tag("type")))

    # ---- tag_source_maxspeed / tag_maxspeed_source / tag_maxspeed_type
    #      (cpp:386-464; dispatch order cpp:1473-1475) -------------------------
    def check_against_type(origin: str):
        mapped = InL(origin, tuple(_SPEED_MAP.keys()))
        implied = MapLookup(origin, MAXSPEED_TYPE_TO_SPEED)
        A(E(Has(origin) & mapped & Has("maxspeed") & NeTags(Tag("maxspeed"), implied),
            WP, "steelline", f"{origin}=%s is %s but maxspeed contains %s",
            Tag(origin), implied, Tag("maxspeed")))
        A(E(Has(origin) & mapped & Not(Has("maxspeed")),
            WP, "steelline", f"{origin}=%s is %s but no maxspeed",
            Tag(origin), implied))

    A(E(Has("source:maxspeed") & Not(InL("source:maxspeed", MAXSPEED_VALID_SOURCE)),
        WP, "steelline", "source:maxspeed=%s is unknown", Tag("source:maxspeed")))
    check_against_type("source:maxspeed")
    A(E(Has("maxspeed:source"), WP, "steelline",
        "maxspeed:source should be source:maxspeed or maxspeed:type"))
    A(E(Has("maxspeed:type") & Not(InL("maxspeed:type", MAXSPEED_VALID_SOURCE)),
        WP, "steelline", "maxspeed:type=%s is unknown", Tag("maxspeed:type")))
    check_against_type("maxspeed:type")

    # ---- node_only_tags (cpp:735-750) ------------------------------------------
    A(E(Has("noexit"), WP, "default", "noexit=* should only be used on nodes"))
    # Unreachable post-gate (values not in HIGHWAY_VALID); kept for parity.
    A(E(InL("highway", ("stop", "give_way", "street_lamp", "traffic_lights",
                        "traffic_calming", "traffic_mirror", "speed_camera",
                        "passing_place", "mini_roundabout", "emergency_access_point",
                        "bus_stop", "turning_loop", "turning_circle", "toll_gantry")),
        WP, "default", "highway=%s should only be used on nodes", Tag("highway")))

    # ---- tag_bicycle (cpp:914-957) ------------------------------------------------
    bike = Has("bicycle")
    pub_nm = _public() & Not(_motorway())
    A(E(bike & pub_nm & TrueKV("bicycle"), DEFAULTS, "redundant",
        "bicycle=%s on highway=%s is default", Tag("bicycle"), Tag("highway")))
    A(E(bike & pub_nm & TrueKV("bicycle"), CYCLING, "redundant",
        "bicycle=%s on highway=%s is default", Tag("bicycle"), Tag("highway")))
    # Quirk Q3: message says "designated" for permissive.
    A(E(bike & pub_nm & Eq("bicycle", "permissive"), DEFAULTS, "redundant",
        "bicycle=designated on highway=%s is default - road is public", Tag("highway")))
    A(E(bike & pub_nm & Eq("bicycle", "permissive"), CYCLING, "redundant",
        "bicycle=designated on highway=%s is default - road is public", Tag("highway")))
    A(E(bike & pub_nm & Eq("bicycle", "private"), CYCLING, "default",
        "bicycle=%s on highway=%s is broken - road is public", Tag("bicycle"), Tag("highway")))
    A(E(bike & pub_nm & Eq("bicycle", "customers"), CYCLING, "default",
        "bicycle=%s on highway=%s is broken - road is public", Tag("bicycle"), Tag("highway")))
    A(E(bike & pub_nm & Eq("bicycle", "destination"), CYCLING, "default",
        "bicycle=%s on highway=%s is suspicious - StVO would allow vehicle=destination",
        Tag("bicycle"), Tag("highway")))
    ts_ = InL("highway", ("track", "service"))
    A(E(bike & ts_ & TrueKV("bicycle"), DEFAULTS, "redundant",
        "bicycle=%s on highway=%s is redundant", Tag("bicycle"), Tag("highway")))
    A(E(bike & ts_ & TrueKV("bicycle"), CYCLING, "redundant",
        "bicycle=%s on highway=%s is redundant", Tag("bicycle"), Tag("highway")))
    tmw = InL("highway", ("trunk", "trunk_link", "motorway", "motorway_link"))
    bike_no = InL("bicycle", ("no", "0", "false"))
    A(E(bike & tmw & bike_no, DEFAULTS, "redundant",
        "bicycle=%s on highway=%s is default", Tag("bicycle"), Tag("highway")))
    A(E(bike & tmw & bike_no, CYCLING, "redundant",
        "bicycle=%s on highway=%s is default", Tag("bicycle"), Tag("highway")))
    A(E(bike & tmw & Not(bike_no), CYCLING, "default",
        "bicycle=%s on highway=%s is broken", Tag("bicycle"), Tag("highway")))
    A(E(bike & Not(InL("bicycle", ("yes", "no", "private", "permissive", "destination",
                                   "designated", "use_sidepath", "dismount"))),
        CYCLING, "default", "bicycle=%s on highway=%s", Tag("bicycle"), Tag("highway")))

    # ---- tag_foot (cpp:959-994) ------------------------------------------------------
    foot = Has("foot")
    A(E(foot & pub_nm & TrueKV("foot"), DEFAULTS, "redundant",
        "foot=%s on highway=%s is default", Tag("foot"), Tag("highway")))
    # Quirk Q3 analog: permissive message says "foot=yes".
    A(E(foot & pub_nm & Eq("foot", "permissive"), WP, "default",
        "foot=yes on highway=%s is default", Tag("highway")))
    A(E(foot & pub_nm & Eq("foot", "private"), WP, "default",
        "foot=%s on highway=%s is broken - road is public", Tag("foot"), Tag("highway")))
    A(E(foot & pub_nm & Eq("foot", "customers"), WP, "default",
        "foot=%s on highway=%s is broken - road is public", Tag("foot"), Tag("highway")))
    A(E(foot & pub_nm & Eq("foot", "destination"), WP, "default",
        "foot=%s on highway=%s is broken - No way StVO can sign this",
        Tag("foot"), Tag("highway")))
    A(E(foot & ts_ & TrueKV("foot"), DEFAULTS, "redundant",
        "foot=%s on highway=%s is default", Tag("foot"), Tag("highway")))
    A(E(foot & tmw & TrueKV("foot"), WP, "default",
        "foot=%s on highway=%s is broken", Tag("foot"), Tag("highway")))
    A(E(foot & Not(InL("foot", ("yes", "no", "private", "permissive", "destination",
                                "designated", "use_sidepath"))),
        STRANGE, "default", "foot=%s on highway=%s", Tag("foot"), Tag("highway")))

    # ---- tag_access (cpp:1018-1030) ------------------------------------------------------
    A(E(Has("access") & TrueKV("access"), DEFAULTS, "violetline", "access=yes is default"))
    A(E(Has("access") & Not(TrueKV("access")) & _public(), WP, "violetline",
        "access=%s - Nicht StVO konform. Vermutlich motor_vehicle=%s oder vehicle=%s",
        Tag("access"), Tag("access"), Tag("access")))

    # ---- tag_goods (cpp:1180-1184) --------------------------------------------------------
    A(E(Has("goods"), WP, "default",
        "goods=* is not in use in Germany - did you mean hgv="))

    # ---- tag_motor_vehicle (cpp:996-1016) ---------------------------------------------------
    mv = TrueKV("motor_vehicle")
    A(E(mv & FalseKV("motorcycle"), WP, "default",
        "motor_vehicle=yes and motorcycle=no should be motorcar + hgv"))
    A(E(mv & Not(FalseKV("motorcycle")) & TrueKV("motorcycle"), DEFAULTS, "redundant",
        "motor_vehicle=yes includes motorcycle=yes"))
    A(E(mv & FalseKV("motorcar"), WP, "default",
        "motor_vehicle=yes and motorcar=no should be motorcycle"))
    A(E(mv & Not(FalseKV("motorcar")) & TrueKV("motorcar"), DEFAULTS, "redundant",
        "motor_vehicle=yes includes motorcar=yes"))
    A(E(mv & FalseKV("hgv"), WP, "default",
        "motor_vehicle=yes and hgv=no should be motorcar"))
    A(E(mv & Not(FalseKV("hgv")) & TrueKV("hgv"), DEFAULTS, "redundant",
        "motor_vehicle=yes includes hgv=yes"))

    # ---- tag_vehicle (cpp:1254-1262) ----------------------------------------------------------
    veh = TrueKV("vehicle")
    A(E(veh & FalseKV("motor_vehicle"), WP, "default",
        "vehicle=yes and motor_vehicle=no should be bicyle"))
    A(E(veh & Not(FalseKV("motor_vehicle")) & TrueKV("motor_vehicle"),
        DEFAULTS, "redundant", "vehicle=yes includes motor_vehicle=yes"))

    # ---- tag_cycleway (cpp:1200-1252) ------------------------------------------------------------
    no_set = ("none", "no", "0")
    A(E(InL("cycleway:left", no_set) & InL("cycleway:right", no_set),
        CYCLING, "default",
        "cycleway:left + cycleway:right are the same - should be cycleway=no"))
    left = Has("cycleway:left") & Not(InL("cycleway:left", no_set))
    right = Has("cycleway:right") & Not(InL("cycleway:right", no_set))
    A(E((left | right) & Not(Has("cycleway")), CYCLING, "default",
        "way has cycleway:left/right=* and no cycleway=*"))
    A(E(left & Not(right) & Not(Eq("cycleway", "left")), CYCLING, "default",
        "way has cycleway:left=* and no cycleway=left"))
    A(E(Not(left) & right & Not(Eq("cycleway", "right")), CYCLING, "default",
        "way has cycleway:right=* and no cycleway=right"))
    A(E(left & right & Not(Eq("cycleway", "both")), CYCLING, "default",
        "way has cycleway:right=* and left=* and no cycleway=both"))
    # Quirk Q5: the left-side key literally has a trailing space (dead check).
    for cw in ("cycleway:left ", "cycleway:right"):
        A(E(Has(cw) & Not(InL(cw, ("sidepath", "track", "lane"))),
            CYCLING, "default", f"{cw}=%s invalid combination", Tag(cw)))

    # ---- tag_stray (cpp:1186-1198) ------------------------------------------------------------------
    A(E(Has("entrance"), WP, "default",
        "entrance=* is not used on highways but on nodes"))
    A(E(Has("waterway"), WP, "default",
        "waterway=%s is incompatible with a street", Tag("waterway")))
    A(E(Has("building"), WP, "default",
        "building=%s is incompatible with a street", Tag("building")))

    # ---- highway_road (cpp:1264-1268) ------------------------------------------------------------------
    A(E(Eq("highway", "road"), WP, "default",
        "highway=road is only a temporary tagging for sat imagery based mapping"))

    # ---- highway_footway (cpp:1270-1291) ----------------------------------------------------------------
    hfw = Eq("highway", "footway")
    A(E(hfw & Not(Has("bicycle")), FOOTWAY, "footway",
        "highway=footway without bicycle=yes/no tag - suspicious combination"))
    A(E(hfw & Eq("bicycle", "use_sidepath"), CYCLING, "default",
        "bicycle=use_sidepath on cycleway is broken - should be on main road"))
    A(E(hfw & TrueKV("foot"), DEFAULTS, "redundant",
        "highway=footway with foot=yes is default"))
    A(E(hfw & TrueKV("foot"), FOOTWAY, "redundant",
        "highway=footway with foot=yes is default"))
    A(E(hfw & Not(TrueKV("foot")) & FalseKV("foot"), WP, "default",
        "highway=footway with foot=no is broken"))
    A(E(hfw & Not(TrueKV("foot")) & FalseKV("foot"), FOOTWAY, "default",
        "highway=footway with foot=no is broken"))

    # ---- highway_cycleway (cpp:1378-1413) --------------------------------------------------------------------
    hcw = Eq("highway", "cycleway")
    for key in ("motor_vehicle", "motorcar", "motorcycle", "hgv", "psv", "horse", "foot"):
        A(E(hcw & FalseKV(key), CYCLING, "redundant",
            f"{key}=%s on cycleway is default", Tag(key)))
    A(E(hcw & Eq("vehicle", "no"), CYCLING, "default",
        "vehicle=no on cycleway is broken as bicycle is a vehicle"))
    A(E(hcw & InL("bicycle", ("no", "0", "false", "private", "permissive",
                              "use_sidepath", "destination", "customers", "unknown",
                              "lane", "allowed", "limited")),
        CYCLING, "default", "bicycle=%s on cycleway is broken", Tag("bicycle")))
    A(E(hcw & Eq("bicycle", "use_sidepath"), CYCLING, "default",
        "cycleway=track and bicycle=use_sidepath on road is broken as there is no seperate cycleway"))

    # ---- highway_path (cpp:1293-1323) ----------------------------------------------------------------------------
    hp = Eq("highway", "path")
    A(E(hp & Has("cycleway") & InL("cycleway", ("shared", "track")), WP, "default",
        "highway=path with cycleway=%s tag should be on road or absent", Tag("cycleway")))
    A(E(hp & Has("cycleway") & Not(InL("cycleway", ("shared", "track"))), WP, "default",
        "highway=path with cycleway=%s is unknown value", Tag("cycleway")))
    for key in ("motorcar", "goods", "hgv", "psv", "motor_vehicle",
                "agricultural", "atv", "bus"):
        A(E(hp & TrueKV(key), WP, "default",
            f"highway=path - {key}=yes is suspicious - cant fit on single track path"))
        A(E(hp & Not(TrueKV(key)) & FalseKV(key), DEFAULTS, "redundant",
            f"highway=path - {key}=no is default"))
        A(E(hp & Not(TrueKV(key)) & Not(FalseKV(key)) & Eq(key, "permissive"),
            WP, "default",
            f"highway=path - {key}=permissive - cant fit on a single track path"))
        A(E(hp & Not(TrueKV(key)) & Not(FalseKV(key)) & Eq(key, "private"),
            WP, "default",
            f"highway=path - {key}=private - cant fit on a single track path"))
        A(E(hp & Not(TrueKV(key)) & Not(FalseKV(key)) & Eq(key, "agricultural"),
            WP, "default",
            f"highway=path - {key}=agricultural - cant fit on a single track path"))

    # ---- highway_living_street (cpp:1337-1358) ------------------------------------------------------------------------
    hls = Eq("highway", "living_street")
    A(E(hls & Has("maxspeed"), WP, "steelline",
        "maxspeed=%s on living_street is broken - neither numeric nor walk is correct",
        Tag("maxspeed")))
    A(E(hls & Eq("bicycle", "use_sidepath"), CYCLING, "default",
        "bicycle=use_sidepath on living_street is broken - living_street explicitly includes bicycles"))
    A(E(hls & FalseKV("vehicle"), WP, "default",
        "living_street with vehicle=no is broken"))
    A(E(hls & Not(FalseKV("vehicle")) & TrueKV("vehicle"), DEFAULTS, "redundant",
        "living_street with vehicle=yes is default"))

    # ---- highway_service (cpp:1325-1335) ----------------------------------------------------------------------------------
    A(E(Eq("highway", "service") & Has("name"), WP, "default",
        "highway=service with name=* is suspicious - Either public e.g. not service or name tag abuse"))
    A(E(Not(Eq("highway", "service")) & Has("service"), WP, "default",
        "service=%s on non service highway", Tag("service")))

    # ---- highway_track (cpp:1360-1376) --------------------------------------------------------------------------------------
    ht = Eq("highway", "track")
    A(E(ht & Has("name"), WP, "brownline",
        "highway=track with name is suspicious - probably not track"))
    A(E(ht & Has("maxspeed"), WP, "steelline",
        "highway=track with maxspeed is suspicious - probably not track"))
    for key in ("motorcycle", "motorcar", "hgv", "psv", "motor_vehicle", "vehicle"):
        A(E(ht & FalseKV(key), WP, "brownline",
            f"highway=track - {key}=no is suspicious - should be agricutural or empty"))

    # ---- public-access sweep (inline in way(), cpp:1524-1545) --------------------------------------------------------------------
    for key in ("access", "vehicle", "motor_vehicle", "motorcycle", "motorcar",
                "hgv", "psv", "goods", "mofa", "moped", "horse"):
        for val in ("permissive", "private", "customers"):
            A(E(_public() & Eq(key, val), WP, "violetline",
                f"highway=%s is public way - cant have {key}={val} access tags",
                Tag("highway")))

    return C


CATALOG = _build_catalog()
