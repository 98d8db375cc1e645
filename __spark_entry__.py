"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exposes the engine's operators over the driver's testdata
tables (DuckDB-oracle-checked) plus fixture-corpus pipeline products
(rows-only checks, marked `r##_` — their correctness gate is the pytest
oracle suite in tests/).

Column-name + dtype discipline: every computed column is aliased identically
in the Spark query and the oracle SQL; double aggregations accumulate in
decimal(38,4) and cast back to double so both engines produce bit-identical
values regardless of partition/accumulation order.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# SQL-checkable queries (DuckDB oracle)
# ---------------------------------------------------------------------------


def q01_pricing_summary(spark, sf_dir):
    """Multi-aggregate pipeline (the P6 'many rules, one pass' shape)."""
    li = _t(spark, sf_dir, "lineitem")
    dec = lambda c: F.col(c).cast("decimal(38,4)")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(dec("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.sum(
                (dec("l_extendedprice") * (F.lit(1).cast("decimal(38,4)") - dec("l_discount")))
            ).cast("double").alias("sum_disc_price"),
            F.count("*").alias("count_order"),
        )
    )


def q02_top_orders(spark, sf_dir):
    """Join + agg + deterministic top-k (broadcastable dim join shape).

    The testdata table is ONE parquet file with ONE row group, so the scan
    is a single task no matter the split size; the explicit key
    repartition restores the parallelism a multi-file production table
    gives for free, and the join+agg reuse its partitioning (decimal
    revenue sums are order-insensitive — values bit-identical)."""
    li = _t(spark, sf_dir, "lineitem").repartition(32, "l_orderkey")
    o = _t(spark, sf_dir, "orders")
    rev = F.sum(
        (F.col("l_extendedprice").cast("decimal(38,4)")
         * (F.lit(1).cast("decimal(38,4)") - F.col("l_discount").cast("decimal(38,4)")))
    ).cast("double")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_orderkey", "o_orderpriority")
        .agg(rev.alias("revenue"), F.count("*").alias("n_items"))
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


def q03_first_item_per_order(spark, sf_dir):
    """Per-group top-1 via row_number — the kNN tie-break shape (G5)."""
    li = _t(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_orderkey").orderBy(
        F.desc("l_extendedprice"), F.asc("l_linenumber")
    )
    return (
        li.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
    )


def q04_hourly_event_rollup(spark, sf_dir):
    """Time-bucket rollup — the per-tile count shape (G6)."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy(
        F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias("bucket"),
        "event_type",
    ).agg(
        F.count("*").alias("n"),
        F.sum(F.col("value").cast("decimal(38,4)")).cast("double").alias("sum_value"),
    )


def q05_doc_token_stats(spark, sf_dir):
    """Text-analysis columns (token counting, punctuation) — JVM exprs."""
    d = _t(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    toks = F.split(F.trim("text"), r"\s+")
    punct = F.length(F.regexp_replace("text", r"[^.,;:!?]", ""))
    return d.select(
        "doc_id",
        F.size(toks).alias("token_count"),
        F.length("text").alias("char_len"),
        punct.alias("punct_count"),
    )


def q06_doc_exact_dup(spark, sf_dir):
    """Exact dedup keeper assignment via content hash."""
    d = _t(spark, sf_dir, "documents")
    w = Window.partitionBy(F.md5(F.col("text").cast("binary")))
    return d.select(
        "doc_id", F.min("doc_id").over(w).alias("keeper_id")
    )


def q07_embedding_sim_pairs(spark, sf_dir):
    """Cosine similarity pairs (brute-force ANN baseline, G-sim)."""
    from wayproblems_spark.operators.similarity import cosine_expr

    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    sim = cosine_expr(
        F.col("embedding").cast("array<double>"), F.col("q_vec").cast("array<double>")
    )
    return (
        e.crossJoin(F.broadcast(q))
        .select("q_id", "vec_id", F.round(sim, 4).alias("sim"))
        .filter((F.col("sim") >= 0.15) & (F.col("q_id") != F.col("vec_id")))
    )


def q08_rule_layer_sql(spark, sf_dir):
    """R2 (tag_layer) rule semantics over a synthesized tag column —
    demonstrates rule-predicate parity in pure SQL (strict-int parse,
    range checks, exact message rendering; wayproblems.cpp:344-361)."""
    li = _t(spark, sf_dir, "lineitem")
    layer = (
        F.when(F.pmod("l_orderkey", 8) == 0, "0")
        .when(F.pmod("l_orderkey", 8) == 1, "3")
        .when(F.pmod("l_orderkey", 8) == 2, "12")
        .when(F.pmod("l_orderkey", 8) == 3, "-12")
        .when(F.pmod("l_orderkey", 8) == 4, "x")
        .when(F.pmod("l_orderkey", 8) == 5, "+2")
        .when(F.pmod("l_orderkey", 8) == 6, " 5")
        .otherwise("5 ")
    )
    df = li.select("l_orderkey", "l_linenumber", layer.alias("layer_val")).filter(
        F.col("l_linenumber") == 1
    )
    is_int = F.col("layer_val").rlike(r"^\s*[+-]?\d+$")
    ival = F.when(is_int, F.col("layer_val").try_cast("long"))
    problem = (
        F.when(~is_int, F.format_string("layer=%s is not integer", "layer_val"))
        .when(ival == 0, F.format_string("layer=%s is default", "layer_val"))
        .when(ival > 10, F.format_string("layer=%s where num > 10 seems broken", "layer_val"))
        .when(ival < -10, F.format_string("layer=%s where num < -10 seems broken", "layer_val"))
    )
    return df.select("l_orderkey", problem.alias("problem")).filter(
        F.col("problem").isNotNull()
    )


def q09_doc_lang_marker_hits(spark, sf_dir):
    """Language-ID marker scoring (the lang_id heuristic's inner counts)."""
    d = _t(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    toks = F.split(F.lower(F.trim("text")), r"\s+")
    en = ("the", "and", "of", "to", "in", "is")
    de = ("der", "die", "das", "und", "ist", "nicht")
    hits = lambda words: F.size(F.filter(toks, lambda t: t.isin(*words)))
    return d.select(
        "doc_id", hits(en).alias("en_hits"), hits(de).alias("de_hits")
    )


def q10_user_event_sessions(spark, sf_dir):
    """Window lag/gap sessionization shape (streaming-adjacent analytics)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    df = ev.withColumn("new_session", (gap.isNull() | (gap > 1800)).cast("int"))
    w2 = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return (
        df.withColumn("session_id", F.sum("new_session").over(w2))
        .groupBy("user_id", "session_id")
        .agg(F.count("*").alias("n_events"))
    )


# G4 PIP oracle polygons — single literal source for BOTH the Spark query
# and the DuckDB SQL (rings closed, (lon, lat)). P1 straddles the S2
# face-0/1 seam at lon 45°; P2 is concave; P4 is wide (interior gnomonic
# st extrema off the corners) — the two round-2 under-cover modes.
_PIP_POLYS = [
    (1, "admin", [(41.0, 8.0), (49.0, 8.0), (49.0, 16.0), (41.0, 16.0), (41.0, 8.0)]),
    (2, "landuse", [(39.0, 10.0), (44.0, 10.0), (44.0, 13.0), (42.0, 13.0),
                    (42.0, 18.0), (39.0, 18.0), (39.0, 10.0)]),
    (3, "water", [(46.0, 17.0), (51.0, 19.0), (47.0, 23.0), (46.0, 17.0)]),
    (4, "admin", [(38.5, 5.5), (51.5, 5.5), (51.5, 7.5), (38.5, 7.5), (38.5, 5.5)]),
]


def _pip_edges_values() -> str:
    rows = []
    for pid, kind, ring in _PIP_POLYS:
        for (ax, ay), (bx, by) in zip(ring[:-1], ring[1:]):
            rows.append(f"({pid}, '{kind}', {ax!r}, {ay!r}, {bx!r}, {by!r})")
    return ",\n               ".join(rows)


# q20: polygons WITH HOLES — (poly_id, kind, outer_ring, [hole_rings]).
# P1: big square with a centered square hole; P2: triangle with a small
# triangular hole near its centroid.
_PIP_HOLED = [
    (1, "admin",
     [(41.0, 8.0), (49.0, 8.0), (49.0, 16.0), (41.0, 16.0), (41.0, 8.0)],
     [[(43.5, 10.5), (46.5, 10.5), (46.5, 13.5), (43.5, 13.5), (43.5, 10.5)]]),
    (2, "landuse",
     [(39.0, 10.0), (47.0, 10.0), (43.0, 18.0), (39.0, 10.0)],
     [[(41.5, 11.5), (44.0, 11.5), (42.5, 14.0), (41.5, 11.5)]]),
]


def _pip_holed_edges_values() -> str:
    rows = []
    for pid, kind, outer, holes in _PIP_HOLED:
        for ring in [outer, *holes]:
            for (ax, ay), (bx, by) in zip(ring[:-1], ring[1:]):
                rows.append(f"({pid}, '{kind}', {ax!r}, {ay!r}, {bx!r}, {by!r})")
    return ",\n               ".join(rows)


ORACLE = {
    "q01_pricing_summary": """
        SELECT l_returnflag, l_linestatus,
               CAST(SUM(CAST(l_quantity AS DECIMAL(38,4))) AS DOUBLE) AS sum_qty,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,4))) AS DOUBLE) AS sum_base_price,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,4)) *
                        (CAST(1 AS DECIMAL(38,4)) - CAST(l_discount AS DECIMAL(38,4)))) AS DOUBLE)
                   AS sum_disc_price,
               COUNT(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        GROUP BY l_returnflag, l_linestatus
    """,
    "q02_top_orders": """
        SELECT l_orderkey, o_orderpriority,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,4)) *
                        (CAST(1 AS DECIMAL(38,4)) - CAST(l_discount AS DECIMAL(38,4)))) AS DOUBLE)
                   AS revenue,
               COUNT(*) AS n_items
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY l_orderkey, o_orderpriority
        ORDER BY revenue DESC, l_orderkey ASC
        LIMIT 10
    """,
    "q03_first_item_per_order": """
        SELECT l_orderkey, l_linenumber, l_extendedprice FROM (
            SELECT l_orderkey, l_linenumber, l_extendedprice,
                   ROW_NUMBER() OVER (PARTITION BY l_orderkey
                                      ORDER BY l_extendedprice DESC, l_linenumber ASC) AS rn
            FROM lineitem) WHERE rn = 1
    """,
    "q04_hourly_event_rollup": """
        SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS bucket,
               event_type, COUNT(*) AS n,
               CAST(SUM(CAST(value AS DECIMAL(38,4))) AS DOUBLE) AS sum_value
        FROM events GROUP BY 1, 2
    """,
    "q05_doc_token_stats": """
        SELECT doc_id,
               length(string_split_regex(trim(text), '\\s+')) AS token_count,
               length(text) AS char_len,
               length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS punct_count
        FROM documents WHERE n_chars > 0
    """,
    "q06_doc_exact_dup": """
        SELECT doc_id, MIN(doc_id) OVER (PARTITION BY md5(text)) AS keeper_id
        FROM documents
    """,
    "q07_embedding_sim_pairs": """
        WITH q AS (SELECT vec_id AS q_id, embedding AS q_vec FROM embeddings WHERE vec_id < 8)
        SELECT q_id, vec_id,
               ROUND(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(q_vec AS DOUBLE[])) /
                     (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) *
                      sqrt(list_dot_product(CAST(q_vec AS DOUBLE[]), CAST(q_vec AS DOUBLE[])))), 4) AS sim
        FROM embeddings, q
        WHERE sim >= 0.15 AND q_id != vec_id
    """,
    "q08_rule_layer_sql": """
        WITH t AS (
          SELECT l_orderkey,
                 CASE l_orderkey % 8
                   WHEN 0 THEN '0' WHEN 1 THEN '3' WHEN 2 THEN '12'
                   WHEN 3 THEN '-12' WHEN 4 THEN 'x' WHEN 5 THEN '+2'
                   WHEN 6 THEN ' 5' ELSE '5 ' END AS layer_val
          FROM lineitem WHERE l_linenumber = 1),
        r AS (
          SELECT l_orderkey, layer_val,
                 regexp_matches(layer_val, '^\\s*[+-]?\\d+$') AS is_int,
                 CASE WHEN regexp_matches(layer_val, '^\\s*[+-]?\\d+$')
                      THEN CAST(layer_val AS BIGINT) END AS ival
          FROM t)
        SELECT l_orderkey,
               CASE
                 WHEN NOT is_int THEN format('layer={} is not integer', layer_val)
                 WHEN ival = 0 THEN format('layer={} is default', layer_val)
                 WHEN ival > 10 THEN format('layer={} where num > 10 seems broken', layer_val)
                 WHEN ival < -10 THEN format('layer={} where num < -10 seems broken', layer_val)
               END AS problem
        FROM r WHERE problem IS NOT NULL
    """,
    "q09_doc_lang_marker_hits": """
        SELECT doc_id,
               length(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                      t -> t IN ('the','and','of','to','in','is'))) AS en_hits,
               length(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                      t -> t IN ('der','die','das','und','ist','nicht'))) AS de_hits
        FROM documents WHERE n_chars > 0
    """,
    "q10_user_event_sessions": """
        WITH g AS (
          SELECT user_id, ts, event_id,
                 CASE WHEN lag(ts) OVER w IS NULL
                        OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
                      THEN 1 ELSE 0 END AS new_session
          FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        s AS (
          SELECT user_id,
                 CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
          FROM g)
        SELECT user_id, session_id, COUNT(*) AS n_events
        FROM s GROUP BY user_id, session_id
    """,
    # G6 tile math — identical IEEE double composition to tiles.tile_xy
    "q11_tile_counts_sql": """
        WITH p AS (
          SELECT -60.0 + (event_id % 120000)/1000.0 AS lat,
                 -180.0 + ((event_id*7) % 360000)/1000.0 AS lon
          FROM events)
        SELECT CAST(GREATEST(0, LEAST(FLOOR((lon + 180.0)/360.0*2048.0), 2047)) AS INT) AS tile_x,
               CAST(GREATEST(0, LEAST(FLOOR((1.0 - LN(TAN(RADIANS(lat)) + 1.0/COS(RADIANS(lat)))/PI())/2.0*2048.0), 2047)) AS INT) AS tile_y,
               COUNT(*) AS n
        FROM p GROUP BY 1, 2
    """,
    # G6 pyramid rollup — DuckDB computes every zoom's floors DIRECTLY
    # (POW(2,z) is exact in doubles; same IEEE base composition as q11,
    # which hash-matched at the finest zoom used here), so a MATCH proves
    # the production shiftright rollup ≡ per-zoom floors cross-engine.
    "q35_tile_pyramid_sql": """
        WITH p AS (
          SELECT -60.0 + (event_id % 120000)/1000.0 AS lat,
                 -180.0 + ((event_id*7) % 360000)/1000.0 AS lon,
                 CASE CAST(event_id % 3 AS INTEGER)
                      WHEN 0 THEN 'wayproblems'
                      WHEN 1 THEN 'cycling'
                      ELSE 'ref' END AS layer
          FROM events),
        z AS (SELECT unnest(range(6, 12)) AS tile_z)
        SELECT CAST(tile_z AS BIGINT) AS tile_z,
               CAST(GREATEST(0, LEAST(FLOOR((lon + 180.0)/360.0*POW(2.0, tile_z)),
                                      POW(2.0, tile_z)-1)) AS BIGINT) AS tile_x,
               CAST(GREATEST(0, LEAST(FLOOR((1.0 - LN(TAN(RADIANS(lat)) + 1.0/COS(RADIANS(lat)))/PI())/2.0*POW(2.0, tile_z)),
                                      POW(2.0, tile_z)-1)) AS BIGINT) AS tile_y,
               layer,
               COUNT(*) AS problem_count
        FROM p, z GROUP BY 1, 2, 3, 4
    """,
    # Snapshot-table round-trip: DuckDB answers the same doc_id range from
    # the raw table; chars via UTF-8-agnostic length parity (both engines
    # count CHARACTERS — the fixture is ASCII, and q05 already locks the
    # length() semantics cross-engine on this column).
    "q36_snapshot_prune_sql": """
        SELECT lang,
               COUNT(*) AS n_docs,
               CAST(SUM(length(text)) AS BIGINT) AS total_chars,
               MIN(doc_id) AS min_id,
               MAX(doc_id) AS max_id
        FROM documents
        WHERE doc_id BETWEEN 100 AND 299
        GROUP BY lang
    """,
    # As-of join — DuckDB's native ASOF LEFT JOIN is the reference
    # semantics (latest right ts <= left ts, inclusive, NULL when none).
    # (user_id, ts) is unique among the right rows at every SF, so the
    # match is deterministic on both engines; err_value is a stored double
    # carried verbatim (no arithmetic — exact parity).
    "q38_asof_join_sql": """
        SELECT l.event_id, l.user_id,
               r.event_id AS err_id, r.value AS err_value
        FROM (SELECT * FROM events WHERE event_type = 'click') l
        ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'error') r
          ON l.user_id = r.user_id AND l.ts >= r.ts
    """,
    # Spatial range join — brute-force all-pairs with the operator's exact
    # chord composition (dx*dx+dy*dy+dz*dz, threshold as (2*SIN(..)) times
    # itself — never pow) and id1 < id2 canonical pair order.
    "q39_spatial_range_join_sql": """
        WITH pts AS (
          SELECT event_id AS id,
                 -55.0 + (event_id % 110000)/1000.0 AS lat,
                 -180.0 + ((event_id*11) % 360000)/1000.0 AS lon
          FROM events WHERE event_id % 7 = 0),
        cand AS (
          SELECT a.id AS id1, b.id AS id2,
                 (COS(RADIANS(a.lat))*COS(RADIANS(a.lon)) - COS(RADIANS(b.lat))*COS(RADIANS(b.lon))) AS dx,
                 (COS(RADIANS(a.lat))*SIN(RADIANS(a.lon)) - COS(RADIANS(b.lat))*SIN(RADIANS(b.lon))) AS dy,
                 (SIN(RADIANS(a.lat)) - SIN(RADIANS(b.lat))) AS dz
          FROM pts a JOIN pts b ON a.id < b.id)
        SELECT id1, id2,
               ROUND(2.0*6371008.8*ASIN(SQRT(dx*dx + dy*dy + dz*dz)/2.0), 3) AS dist_r3
        FROM cand
        WHERE dx*dx + dy*dy + dz*dz
              <= (2*SIN(15000.0/(2*6371008.8)))*(2*SIN(15000.0/(2*6371008.8)))
    """,
    # Interval (range-containment) join — plain BETWEEN join; interval
    # bounds are whole-hour timestamp adds (exact in both engines' 64-bit
    # microsecond timestamps).
    "q40_interval_join_sql": """
        SELECT l.event_id, l.user_id, r.iv_id
        FROM (SELECT * FROM events WHERE event_type = 'click') l
        JOIN (SELECT event_id AS iv_id, user_id, ts AS s,
                     ts + (event_id % 24 + 1) * INTERVAL 1 HOUR AS e
              FROM events WHERE event_type = 'view') r
          ON l.user_id = r.user_id AND l.ts >= r.s AND l.ts <= r.e
    """,
    # BM25 — full closed-form recompute with the q32-locked tokenizer.
    # Every float expression is written in the operator's exact
    # composition order; (1.2 + 1.0) stays unevaluated (the Python side
    # computes k1+1 the same way — a 2.2 literal could differ by 1 ulp);
    # per-term scores sum through DECIMAL(38,12) (exact, associative) so
    # accumulation order can't flip a bit on either engine.
    "q41_bm25_sql": """
        WITH toks AS (
          SELECT doc_id, unnest(list_filter(
                   string_split_regex(
                     regexp_replace(lower(text), '[^a-z0-9\\s]', '', 'g'),
                     '\\s+'),
                   x -> x <> '')) AS term
          FROM documents),
        dl AS (
          SELECT doc_id, len(list_filter(
                   string_split_regex(
                     regexp_replace(lower(text), '[^a-z0-9\\s]', '', 'g'),
                     '\\s+'),
                   x -> x <> '')) AS dl
          FROM documents),
        stats AS (
          SELECT CAST(COUNT(*) AS DOUBLE) AS n,
                 CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
          FROM dl),
        p AS (
          SELECT doc_id, term, COUNT(*) AS tf FROM toks
          WHERE term IN ('join', 'scan', 'merge', 'window')
          GROUP BY doc_id, term),
        dfq AS (SELECT term, COUNT(*) AS df FROM p GROUP BY term),
        t AS (
          SELECT p.doc_id,
                 LN(1.0 + (s.n - CAST(dfq.df AS DOUBLE) + 0.5)
                          / (CAST(dfq.df AS DOUBLE) + 0.5))
                 * ((CAST(p.tf AS DOUBLE) * (1.2 + 1.0))
                    / (CAST(p.tf AS DOUBLE)
                       + 1.2 * (1.0 - 0.75
                                + 0.75 * CAST(d.dl AS DOUBLE) / s.avgdl)))
                 AS term_score
          FROM p
          JOIN dfq USING (term)
          JOIN dl d USING (doc_id)
          CROSS JOIN stats s)
        SELECT doc_id,
               ROUND(CAST(SUM(CAST(term_score AS DECIMAL(38,12))) AS DOUBLE),
                     6) AS score_r6
        FROM t GROUP BY doc_id
    """,
    # Chunking — all-integer boundary math (exact cross-engine), the
    # q32-locked tokenizer, and string equality on the joined chunk text.
    # target=32, overlap=8 → step=24; docs are 10..99 tokens → 1-4 chunks.
    "q42_chunking_sql": """
        WITH t AS (
          SELECT doc_id, list_filter(
                   string_split_regex(
                     regexp_replace(lower(text), '[^a-z0-9\\s]', '', 'g'),
                     '\\s+'),
                   x -> x <> '') AS toks
          FROM documents),
        s AS (
          SELECT doc_id, toks, len(toks) AS n,
                 CASE WHEN len(toks) <= 32 THEN 1
                      ELSE 1 + CAST(FLOOR((len(toks) - 32 + 23) / 24.0) AS INT)
                 END AS n_chunks
          FROM t WHERE len(toks) > 0),
        c0 AS (
          SELECT doc_id, toks, n,
                 unnest(range(n_chunks)) AS chunk_idx
          FROM s),
        c AS (
          SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
                 list_slice(toks, chunk_idx*24 + 1,
                            least(chunk_idx*24 + 32, n)) AS chunk
          FROM c0)
        SELECT doc_id, chunk_idx,
               CAST(len(chunk) AS BIGINT) AS n_tokens,
               array_to_string(chunk, ' ') AS chunk_text
        FROM c
    """,
    # Sample packing — chunk n_tokens recomputed closed-form (the q42
    # boundary math), then the identical sharded window cumsum + budget
    # split. All-integer; // and FLOOR(x/64.0) agree for nonnegative
    # bigints far below 2^53.
    "q43_packing_sql": """
        WITH t AS (
          SELECT doc_id, len(list_filter(
                   string_split_regex(
                     regexp_replace(lower(text), '[^a-z0-9\\s]', '', 'g'),
                     '\\s+'),
                   x -> x <> '')) AS n
          FROM documents),
        s AS (
          SELECT doc_id, n,
                 CASE WHEN n <= 32 THEN 1
                      ELSE 1 + CAST(FLOOR((n - 32 + 23) / 24.0) AS INT)
                 END AS n_chunks
          FROM t WHERE n > 0),
        c0 AS (
          SELECT doc_id, n, unnest(range(n_chunks)) AS chunk_idx FROM s),
        c AS (
          SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
                 CAST(LEAST(chunk_idx*24 + 32, n) - chunk_idx*24 AS BIGINT) AS nt
          FROM c0),
        b AS (
          SELECT doc_id % 8 AS shard, doc_id, chunk_idx, nt,
                 CAST(SUM(nt) OVER (PARTITION BY doc_id % 8
                                    ORDER BY doc_id, chunk_idx
                                    ROWS UNBOUNDED PRECEDING)
                      AS BIGINT) AS cum
          FROM c),
        e AS (
          SELECT shard, doc_id, chunk_idx, nt, cum, cum - nt AS st,
                 unnest(range((cum - nt) // 64, (cum - 1) // 64 + 1)) AS seq_id
          FROM b)
        SELECT shard, CAST(seq_id AS BIGINT) AS seq_id, doc_id, chunk_idx,
               GREATEST(st, seq_id*64) - st AS off_start,
               LEAST(cum, (seq_id + 1)*64) - st AS off_end,
               GREATEST(st, seq_id*64) - seq_id*64 AS pos
        FROM e
    """,
    # PII redaction — identical deterministic injection on both sides,
    # then the operator's fixed-order regexp_replace chain. Patterns are
    # restricted to java.util.regex ∩ RE2-identical constructs; DuckDB
    # needs the explicit 'g' flag (Spark replaces all by default).
    "q44_pii_redact_sql": """
        WITH inj AS (
          SELECT doc_id,
                 text || ' contact user' || CAST(doc_id AS VARCHAR)
                      || '@mail.example.org from 10.'
                      || CAST(doc_id % 200 AS VARCHAR)
                      || '.0.7 ref 9' || CAST(doc_id * 7919 AS VARCHAR)
                 AS t
          FROM documents),
        st AS (
          SELECT doc_id, t,
                 regexp_replace(t, '[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}',
                                '<EMAIL>', 'g') AS t1
          FROM inj),
        st2 AS (
          SELECT doc_id, t, t1,
                 regexp_replace(t1, '\\b\\d{1,3}(\\.\\d{1,3}){3}\\b',
                                '<IP>', 'g') AS t2
          FROM st)
        SELECT doc_id,
               regexp_replace(t2, '\\d{7,}', '<NUM>', 'g') AS scrubbed,
               CAST(len(regexp_extract_all(
                 t, '[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}')) AS BIGINT)
                 AS n_email,
               CAST(len(regexp_extract_all(
                 t1, '\\b\\d{1,3}(\\.\\d{1,3}){3}\\b')) AS BIGINT) AS n_ip,
               CAST(len(regexp_extract_all(t2, '\\d{7,}')) AS BIGINT) AS n_num
        FROM st2
    """,
    # Repetition stats — q32-locked tokenizer, gram counts rebuilt with
    # unnest; the "most frequent, ties to smallest gram" witness is
    # max(cnt) + min(gram) FILTERed to the max (Spark: min(struct(-cnt,
    # gram))). Fractions are one BIGINT/BIGINT IEEE division both sides.
    "q45_repetition_sql": """
        WITH t AS (
          SELECT doc_id, list_filter(
                   string_split_regex(
                     regexp_replace(lower(text), '[^a-z0-9\\s]', '', 'g'),
                     '\\s+'),
                   x -> x <> '') AS toks
          FROM documents),
        nz AS (SELECT * FROM t WHERE len(toks) > 0),
        uni AS (
          SELECT doc_id, unnest(toks) AS gram FROM nz),
        ucnt AS (SELECT doc_id, gram, count(*) AS c FROM uni GROUP BY ALL),
        uagg AS (
          SELECT doc_id, CAST(sum(c) AS BIGINT) AS total,
                 max(c) AS top_c
          FROM ucnt GROUP BY doc_id),
        utop AS (
          SELECT c.doc_id, min(c.gram) AS top_gram
          FROM ucnt c JOIN uagg a ON c.doc_id = a.doc_id AND c.c = a.top_c
          GROUP BY c.doc_id),
        bi AS (
          SELECT doc_id, toks[i+1] || ' ' || toks[i+2] AS gram
          FROM nz, unnest(range(len(toks) - 1)) AS u(i)),
        bcnt AS (SELECT doc_id, gram, count(*) AS c FROM bi GROUP BY ALL),
        bagg AS (
          SELECT doc_id, CAST(sum(c) AS BIGINT) AS total,
                 CAST(count(*) AS BIGINT) AS nd, max(c) AS top_c
          FROM bcnt GROUP BY doc_id),
        btop AS (
          SELECT c.doc_id, min(c.gram) AS top_gram
          FROM bcnt c JOIN bagg a ON c.doc_id = a.doc_id AND c.c = a.top_c
          GROUP BY c.doc_id)
        SELECT u.doc_id,
               u.total AS n_tokens,
               ut.top_gram AS top_token,
               CAST(u.top_c AS BIGINT) / u.total AS top_token_frac,
               COALESCE(b.total, 0) AS n_bigrams,
               b.nd / b.total AS distinct_bigram_frac,
               bt.top_gram AS top_bigram,
               CAST(b.top_c AS BIGINT) / b.total AS top_bigram_frac
        FROM uagg u
        JOIN utop ut ON u.doc_id = ut.doc_id
        LEFT JOIN bagg b ON u.doc_id = b.doc_id
        LEFT JOIN btop bt ON u.doc_id = bt.doc_id
    """,
    # Decontamination — benchmark = every 13th document; 5-gram strings
    # rebuilt with the same tokenizer; all-string equality join, per-doc
    # rollup LEFT-joined back so clean docs carry zeros.
    "q46_decontam_sql": """
        WITH t AS (
          SELECT doc_id, list_filter(
                   string_split_regex(
                     regexp_replace(lower(text), '[^a-z0-9\\s]', '', 'g'),
                     '\\s+'),
                   x -> x <> '') AS toks
          FROM documents),
        bg AS (
          SELECT DISTINCT array_to_string(list_slice(toks, i+1, i+5), ' ')
                   AS gram
          FROM t, unnest(range(len(toks) - 4)) AS u(i)
          WHERE doc_id % 13 = 0),
        dg AS (
          SELECT doc_id, array_to_string(list_slice(toks, i+1, i+5), ' ')
                   AS gram
          FROM t, unnest(range(len(toks) - 4)) AS u(i)),
        h AS (
          SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hits,
                 CAST(count(DISTINCT gram) AS BIGINT) AS nd
          FROM dg JOIN bg USING (gram) GROUP BY doc_id)
        SELECT d.doc_id,
               COALESCE(h.n_hits, 0) AS n_hits,
               COALESCE(h.nd, 0) AS n_distinct_hit_grams,
               COALESCE(h.n_hits, 0) > 0 AS contaminated
        FROM documents d LEFT JOIN h ON d.doc_id = h.doc_id
    """,
    # Domain rollup — deterministic per-doc URL injection, then the full
    # parse chain (RE2 ∩ java.util.regex URL regex, lowercase, trailing
    # dot + www. strip, suffix-aware registered domain) independently in
    # SQL. n_hosts counts the raw lowercased parse host.
    "q47_domain_stats_sql": """
        WITH inj AS (
          SELECT doc_id, length(text) AS nchars,
                 CASE doc_id % 6
                   WHEN 0 THEN 'https://www.alpha.example.com/' || source
                   WHEN 1 THEN 'https://shop.alpha.example.com/p/'
                               || CAST(doc_id AS VARCHAR)
                   WHEN 2 THEN 'http://News.beta.co.uk:8080/'
                               || CAST(doc_id AS VARCHAR)
                   WHEN 3 THEN 'https://cdn.beta.co.uk./x'
                   WHEN 4 THEN 'https://10.' || CAST(doc_id % 200 AS VARCHAR)
                               || '.0.9/raw'
                   ELSE 'no scheme here ' || CAST(doc_id AS VARCHAR)
                 END AS url
          FROM documents),
        p AS (
          SELECT doc_id, nchars,
                 lower(regexp_extract(url,
                   '^([a-z][a-z0-9+.-]*)://([^/:?#]*)(?::([0-9]+))?([^?#]*)',
                   2)) AS rawhost,
                 regexp_extract(url,
                   '^([a-z][a-z0-9+.-]*)://', 1) <> '' AS valid
          FROM inj),
        nh AS (
          SELECT doc_id, nchars,
                 CASE WHEN valid THEN rawhost END AS host,
                 CASE WHEN valid THEN
                   regexp_replace(regexp_replace(rawhost, '\\.$', ''),
                                  '^www\\.', '')
                 END AS norm
          FROM p),
        d AS (
          SELECT doc_id, nchars, host,
                 CASE
                   WHEN norm IS NULL THEN NULL
                   WHEN regexp_matches(norm,
                        '^[0-9]{1,3}(\\.[0-9]{1,3}){3}$')
                        OR len(string_split(norm, '.')) < 2 THEN norm
                   WHEN string_split(norm, '.')[-2] || '.'
                        || string_split(norm, '.')[-1] IN
                        ('co.uk','org.uk','ac.uk','gov.uk','com.au',
                         'net.au','org.au','co.jp','or.jp','ne.jp',
                         'com.br','com.cn','com.mx','co.in','co.nz',
                         'co.za','com.tr','com.ar')
                        AND len(string_split(norm, '.')) >= 3
                   THEN string_split(norm, '.')[-3] || '.'
                        || string_split(norm, '.')[-2] || '.'
                        || string_split(norm, '.')[-1]
                   ELSE string_split(norm, '.')[-2] || '.'
                        || string_split(norm, '.')[-1]
                 END AS domain
          FROM nh)
        SELECT domain,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(nchars) AS BIGINT) AS n_chars,
               CAST(count(DISTINCT host) AS BIGINT) AS n_hosts
        FROM d GROUP BY domain
    """,
    # Per-key cap — the md5-ranked row_number cap; 8-hex-char md5 prefix
    # orders identically lexicographically (fixed width) and numerically,
    # so the oracle ranks by the hex string while Spark ranks by the
    # conv()'d integer — same permutation, same survivors.
    "q48_cap_per_key_sql": """
        WITH r AS (
          SELECT doc_id, lang, source,
                 row_number() OVER (
                   PARTITION BY lang, source
                   ORDER BY substr(md5('q48' || CAST(doc_id AS VARCHAR)),
                                   1, 8),
                            doc_id) AS rk
          FROM documents)
        SELECT doc_id, lang, source FROM r WHERE rk <= 7
    """,
    # DSIR importance weights — target LM = every 17th doc; ln() only on
    # exact integers (same libm), per-term products summed through
    # decimal(38,12) (the q41 trick) so accumulation order vanishes;
    # ROUND 6 both sides. Left-assoc float composition matches Spark's.
    "q49_dsir_weights_sql": """
        WITH t AS (
          SELECT doc_id, list_filter(
                   string_split_regex(
                     regexp_replace(lower(text), '[^a-z0-9\\s]', '', 'g'),
                     '\\s+'),
                   x -> x <> '') AS toks
          FROM documents),
        cterm AS (
          SELECT term, count(*) AS cc
          FROM (SELECT unnest(toks) AS term FROM t) GROUP BY term),
        tterm AS (
          SELECT term, count(*) AS tc
          FROM (SELECT unnest(toks) AS term FROM t WHERE doc_id % 17 = 0)
          GROUP BY term),
        stats AS (
          SELECT term, COALESCE(cc, 0) AS cc, COALESCE(tc, 0) AS tc
          FROM cterm FULL JOIN tterm USING (term)),
        tot AS (
          SELECT CAST(sum(cc) AS BIGINT) AS c, CAST(sum(tc) AS BIGINT) AS t,
                 CAST(count(*) AS BIGINT) AS v
          FROM stats),
        dt AS (
          SELECT doc_id, term, count(*) AS cnt
          FROM (SELECT doc_id, unnest(toks) AS term FROM t) GROUP BY ALL)
        SELECT dt.doc_id,
               ROUND(CAST(SUM(CAST(
                 cnt * (ln(tc + 1) - ln(CAST(tot.t + tot.v AS DOUBLE))
                        - ln(cc + 1) + ln(CAST(tot.c + tot.v AS DOUBLE)))
                 AS DECIMAL(38,12))) AS DOUBLE), 6) AS weight
        FROM dt JOIN stats USING (term) CROSS JOIN tot
        GROUP BY dt.doc_id
    """,
    # Paragraph dedup — deterministic boilerplate injection (a per-residue
    # shared banner + a universal footer around each doc's own text), then
    # the first-(doc_id,pos)-occurrence rule rebuilt relationally: min
    # doc_id per paragraph, min pos within it, survivors re-joined in order.
    "q50_para_dedup_sql": """
        WITH inj AS (
          SELECT doc_id,
                 text || chr(10) || 'shared banner '
                      || CAST(doc_id % 7 AS VARCHAR)
                      || chr(10) || 'footer' AS t
          FROM documents),
        sp AS (SELECT doc_id, string_split(t, chr(10)) AS parts FROM inj),
        p AS (
          SELECT doc_id, CAST(i AS BIGINT) AS pos, parts[i+1] AS para
          FROM sp, unnest(range(len(parts))) AS r(i)
          WHERE parts[i+1] <> ''),
        f1 AS (SELECT para, min(doc_id) AS mid FROM p GROUP BY para),
        f2 AS (
          SELECT p.para, p.doc_id AS mid, min(p.pos) AS mpos
          FROM p JOIN f1 ON p.para = f1.para AND p.doc_id = f1.mid
          GROUP BY p.para, p.doc_id),
        kept AS (
          SELECT p.doc_id, p.pos, p.para
          FROM p JOIN f2 ON p.para = f2.para AND p.doc_id = f2.mid
                        AND p.pos = f2.mpos),
        rebuilt AS (
          SELECT doc_id,
                 string_agg(para, chr(10) ORDER BY pos) AS text,
                 CAST(count(*) AS BIGINT) AS n_kept
          FROM kept GROUP BY doc_id),
        totals AS (
          SELECT doc_id, CAST(count(*) AS BIGINT) AS n_paras
          FROM p GROUP BY doc_id)
        SELECT d.doc_id,
               COALESCE(r.text, '') AS text,
               COALESCE(t.n_paras, 0) AS n_paras,
               COALESCE(r.n_kept, 0) AS n_kept
        FROM documents d
        LEFT JOIN totals t ON d.doc_id = t.doc_id
        LEFT JOIN rebuilt r ON d.doc_id = r.doc_id
    """,
    # Unigram LM perplexity — reference slice = every 13th doc; add-one
    # smoothing keeps every ln() argument an exact integer; per-doc sums
    # through decimal(38,12); entropy ROUND 6 and ppl = ROUND(exp, 6)
    # composed identically both sides. Empty docs: n_tokens 0, NULL ppl.
    "q51_unigram_ppl_sql": """
        WITH t AS (
          SELECT doc_id, list_filter(
                   string_split_regex(
                     regexp_replace(lower(text), '[^a-z0-9\\s]', '', 'g'),
                     '\\s+'),
                   x -> x <> '') AS toks
          FROM documents),
        cnt AS (
          SELECT term, count(*) AS c
          FROM (SELECT unnest(toks) AS term FROM t WHERE doc_id % 13 = 0)
          GROUP BY term),
        tot AS (
          SELECT CAST(COALESCE(sum(c), 0) AS BIGINT) AS ct,
                 CAST(count(*) AS BIGINT) AS v
          FROM cnt),
        dt AS (
          SELECT doc_id, term, count(*) AS cnt
          FROM (SELECT doc_id, unnest(toks) AS term FROM t) GROUP BY ALL),
        sc AS (
          SELECT dt.doc_id,
                 CAST(SUM(dt.cnt) AS BIGINT) AS n_tokens,
                 SUM(CAST(dt.cnt * (CASE WHEN cnt.c IS NULL
                       THEN -ln(CAST(tot.ct + tot.v AS DOUBLE))
                       ELSE ln(cnt.c + 1) - ln(CAST(tot.ct + tot.v AS DOUBLE))
                     END) AS DECIMAL(38,12))) AS s
          FROM dt LEFT JOIN cnt USING (term) CROSS JOIN tot
          GROUP BY dt.doc_id),
        e AS (
          SELECT doc_id, n_tokens,
                 ROUND(-CAST(s AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6)
                   AS entropy
          FROM sc)
        SELECT d.doc_id,
               COALESCE(e.n_tokens, 0) AS n_tokens,
               e.entropy,
               ROUND(exp(e.entropy), 6) AS ppl
        FROM documents d LEFT JOIN e USING (doc_id)
    """,
    # Interpolated bigram LM — lam = 0.5 (exact with 1-lam in IEEE);
    # float composition per pair identical both sides:
    # ln(0.5*(c12+1)/(ctx1+V) + 0.5*(c2+1)/(C+V)). Docs with < 2 tokens
    # score NULL (never reach the pair explode).
    "q52_bigram_ppl_sql": """
        WITH t AS (
          SELECT doc_id, list_filter(
                   string_split_regex(
                     regexp_replace(lower(text), '[^a-z0-9\\s]', '', 'g'),
                     '\\s+'),
                   x -> x <> '') AS toks
          FROM documents),
        rp AS (
          SELECT toks[i+1] AS w1, toks[i+2] AS w2
          FROM (SELECT toks FROM t WHERE doc_id % 13 = 0
                AND len(toks) >= 2),
               unnest(range(len(toks)-1)) AS r(i)),
        bi AS (SELECT w1, w2, count(*) AS c12 FROM rp GROUP BY ALL),
        uni AS (
          SELECT term, count(*) AS c
          FROM (SELECT unnest(toks) AS term FROM t WHERE doc_id % 13 = 0)
          GROUP BY term),
        cx AS (
          SELECT w1 AS term, CAST(sum(c12) AS BIGINT) AS ctx
          FROM bi GROUP BY w1),
        tot AS (
          SELECT CAST(COALESCE(sum(c), 0) AS BIGINT) AS ct,
                 CAST(count(*) AS BIGINT) AS v
          FROM uni),
        dpc AS (
          SELECT doc_id, toks[i+1] AS w1, toks[i+2] AS w2, count(*) AS cnt
          FROM (SELECT doc_id, toks FROM t WHERE len(toks) >= 2),
               unnest(range(len(toks)-1)) AS r(i)
          GROUP BY ALL),
        j AS (
          SELECT dpc.doc_id, dpc.cnt,
                 COALESCE(bi.c12, 0) AS c12,
                 COALESCE(cx.ctx, 0) AS ctx1,
                 COALESCE(u2.c, 0) AS c2
          FROM dpc
          LEFT JOIN bi ON dpc.w1 = bi.w1 AND dpc.w2 = bi.w2
          LEFT JOIN cx ON dpc.w1 = cx.term
          LEFT JOIN uni u2 ON dpc.w2 = u2.term),
        sc AS (
          SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_tokens,
                 SUM(CAST(cnt * ln(
                     0.5 * (CAST(c12 + 1 AS DOUBLE)
                            / CAST(ctx1 + tot.v AS DOUBLE))
                   + 0.5 * (CAST(c2 + 1 AS DOUBLE)
                            / CAST(tot.ct + tot.v AS DOUBLE))
                 ) AS DECIMAL(38,12))) AS s
          FROM j CROSS JOIN tot GROUP BY doc_id),
        e AS (
          SELECT doc_id, n_tokens,
                 ROUND(-CAST(s AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6)
                   AS entropy
          FROM sc)
        SELECT d.doc_id,
               COALESCE(e.n_tokens, 0) AS n_tokens,
               e.entropy,
               ROUND(exp(e.entropy), 6) AS ppl
        FROM documents d LEFT JOIN e USING (doc_id)
    """,
    # Source mixing — exact-binary weights (0.5/0.25/0.125/0.125 sum to
    # 1.0 exactly, so normalization is the identity); every rate composed
    # (w*N)/T with N = min(3.0*T/w), one IEEE op per step; md5-u32 draw
    # parsed numerically via CAST('0x'||prefix AS BIGINT). All literals
    # CAST AS DOUBLE (bare 0.5 is DECIMAL in DuckDB).
    "q53_mix_sources_sql": """
        WITH w(source, w) AS (
          VALUES ('src0', CAST(0.5 AS DOUBLE)),
                 ('src1', CAST(0.25 AS DOUBLE)),
                 ('src2', CAST(0.125 AS DOUBLE)),
                 ('src3', CAST(0.125 AS DOUBLE))),
        t AS (
          SELECT doc_id, source, len(list_filter(
                   string_split_regex(
                     regexp_replace(lower(text), '[^a-z0-9\\s]', '', 'g'),
                     '\\s+'),
                   x -> x <> '')) AS ntok
          FROM documents),
        tot AS (
          SELECT source, CAST(sum(ntok) AS BIGINT) AS tt
          FROM t JOIN w USING (source) GROUP BY source),
        caps AS (
          SELECT min((CAST(3.0 AS DOUBLE) * tt) / w.w) AS n
          FROM tot JOIN w USING (source)),
        rates AS (
          SELECT w.source, (w.w * caps.n) / tt AS rate
          FROM tot JOIN w USING (source) CROSS JOIN caps),
        thr AS (
          SELECT source,
                 CAST(trunc(rate) AS BIGINT) AS nf,
                 CAST(trunc((rate - trunc(rate))
                      * CAST(4294967296.0 AS DOUBLE)) AS BIGINT) AS th
          FROM rates),
        nc AS (
          SELECT d.doc_id, d.source,
                 thr.nf + CASE WHEN CAST(concat('0x',
                     substr(md5('q53' || CAST(d.doc_id AS VARCHAR)), 1, 8))
                   AS BIGINT) < thr.th THEN 1 ELSE 0 END AS n_copies
          FROM documents d JOIN thr USING (source))
        SELECT doc_id, source, CAST(i AS BIGINT) AS epoch
        FROM nc, unnest(range(n_copies)) AS r(i)
        WHERE n_copies > 0
    """,
    # Global shuffle rank — DuckDB's one-window row_number over the full
    # (md5-prefix, id) order vs Spark's bucket-offset distributed rank;
    # a MATCH proves the prefix-bucket decomposition ≡ the global sort.
    "q54_shuffle_rank_sql": """
        SELECT doc_id,
               CAST(row_number() OVER (
                 ORDER BY substr(md5('q54' || CAST(doc_id AS VARCHAR)), 1, 8),
                          doc_id) - 1 AS BIGINT) AS shuffle_rank
        FROM documents
    """,

    # Polygon overlay — brute-force DuckDB: bbox candidate pairs, then
    # 4-orientation edge x edge test (+ collinear-touch bboxes) OR
    # even-odd rep-vertex parity either direction. Same arithmetic as
    # operators/overlay.py; lattice coords make every product exact.
    "q55_overlay_sql": """
        WITH a AS (
          SELECT event_id AS a_id,
                 ((event_id // 97) % 20) * 4.0 AS cx,
                 (((event_id // 97) // 20) % 20) * 4.0 AS cy,
                 1.0 + ((event_id // 97) % 3) * 0.5 AS r
          FROM events WHERE event_id % 97 = 0),
        b AS (
          SELECT event_id AS b_id,
                 ((event_id // 101) % 20) * 4.0 + (((event_id // 101) * 3) % 4) * 0.5 AS cx,
                 (((event_id // 101) // 20) % 20) * 4.0 + (((event_id // 101) * 7) % 3) * 0.5 AS cy,
                 0.5 + ((event_id // 101) % 5) * 0.5 AS r
          FROM events WHERE event_id % 101 = 0),
        ks(k) AS (VALUES (0),(1),(2),(3)),
        av AS (SELECT a_id, k,
                 cx + CASE k WHEN 0 THEN r WHEN 2 THEN -r ELSE 0.0 END AS vx,
                 cy + CASE k WHEN 1 THEN r WHEN 3 THEN -r ELSE 0.0 END AS vy
               FROM a CROSS JOIN ks),
        ae AS (SELECT v1.a_id, v1.vx AS p1x, v1.vy AS p1y, v2.vx AS p2x, v2.vy AS p2y
               FROM av v1 JOIN av v2 ON v1.a_id = v2.a_id AND v2.k = (v1.k + 1) % 4),
        bv AS (SELECT b_id, k,
                 cx + CASE WHEN k IN (0, 3) THEN -r ELSE r END AS vx,
                 cy + CASE WHEN k IN (0, 1) THEN -r ELSE r END AS vy
               FROM b CROSS JOIN ks),
        be AS (SELECT v1.b_id, v1.vx AS q1x, v1.vy AS q1y, v2.vx AS q2x, v2.vy AS q2y
               FROM bv v1 JOIN bv v2 ON v1.b_id = v2.b_id AND v2.k = (v1.k + 1) % 4),
        cand AS (SELECT a_id, b_id, a.cx AS acx, a.cy AS acy, a.r AS ar,
                        b.cx AS bcx, b.cy AS bcy, b.r AS br
                 FROM a CROSS JOIN b
                 WHERE ABS(a.cx - b.cx) <= a.r + b.r AND ABS(a.cy - b.cy) <= a.r + b.r),
        xh AS (
          SELECT DISTINCT a_id, b_id FROM (
            SELECT c.a_id, c.b_id,
              (ae.p2x-ae.p1x)*(be.q1y-ae.p1y) - (ae.p2y-ae.p1y)*(be.q1x-ae.p1x) AS d1,
              (ae.p2x-ae.p1x)*(be.q2y-ae.p1y) - (ae.p2y-ae.p1y)*(be.q2x-ae.p1x) AS d2,
              (be.q2x-be.q1x)*(ae.p1y-be.q1y) - (be.q2y-be.q1y)*(ae.p1x-be.q1x) AS d3,
              (be.q2x-be.q1x)*(ae.p2y-be.q1y) - (be.q2y-be.q1y)*(ae.p2x-be.q1x) AS d4,
              ae.p1x, ae.p1y, ae.p2x, ae.p2y, be.q1x, be.q1y, be.q2x, be.q2y
            FROM cand c JOIN ae ON ae.a_id = c.a_id JOIN be ON be.b_id = c.b_id) t
          WHERE (((d1 > 0 AND d2 < 0) OR (d1 < 0 AND d2 > 0))
                 AND ((d3 > 0 AND d4 < 0) OR (d3 < 0 AND d4 > 0)))
             OR (ABS(d1) < 1e-12 AND q1x >= LEAST(p1x,p2x)-1e-12 AND q1x <= GREATEST(p1x,p2x)+1e-12
                                 AND q1y >= LEAST(p1y,p2y)-1e-12 AND q1y <= GREATEST(p1y,p2y)+1e-12)
             OR (ABS(d2) < 1e-12 AND q2x >= LEAST(p1x,p2x)-1e-12 AND q2x <= GREATEST(p1x,p2x)+1e-12
                                 AND q2y >= LEAST(p1y,p2y)-1e-12 AND q2y <= GREATEST(p1y,p2y)+1e-12)
             OR (ABS(d3) < 1e-12 AND p1x >= LEAST(q1x,q2x)-1e-12 AND p1x <= GREATEST(q1x,q2x)+1e-12
                                 AND p1y >= LEAST(q1y,q2y)-1e-12 AND p1y <= GREATEST(q1y,q2y)+1e-12)
             OR (ABS(d4) < 1e-12 AND p2x >= LEAST(q1x,q2x)-1e-12 AND p2x <= GREATEST(q1x,q2x)+1e-12
                                 AND p2y >= LEAST(q1y,q2y)-1e-12 AND p2y <= GREATEST(q1y,q2y)+1e-12)),
        bina AS (
          SELECT c.a_id, c.b_id
          FROM cand c JOIN ae ON ae.a_id = c.a_id
          GROUP BY c.a_id, c.b_id, c.bcx, c.bcy, c.br
          HAVING SUM(CASE WHEN ((ae.p1y > c.bcy - c.br) != (ae.p2y > c.bcy - c.br))
                           AND (c.bcx - c.br) < (ae.p2x - ae.p1x) * ((c.bcy - c.br) - ae.p1y)
                                                / (ae.p2y - ae.p1y) + ae.p1x
                          THEN 1 ELSE 0 END) % 2 = 1
              OR MAX(CASE WHEN ABS((ae.p2x-ae.p1x)*((c.bcy-c.br)-ae.p1y)
                                   - (ae.p2y-ae.p1y)*((c.bcx-c.br)-ae.p1x)) < 1e-12
                           AND (c.bcx-c.br) >= LEAST(ae.p1x,ae.p2x)-1e-12
                           AND (c.bcx-c.br) <= GREATEST(ae.p1x,ae.p2x)+1e-12
                           AND (c.bcy-c.br) >= LEAST(ae.p1y,ae.p2y)-1e-12
                           AND (c.bcy-c.br) <= GREATEST(ae.p1y,ae.p2y)+1e-12
                          THEN 1 ELSE 0 END) = 1),
        ainb AS (
          SELECT c.a_id, c.b_id
          FROM cand c JOIN be ON be.b_id = c.b_id
          GROUP BY c.a_id, c.b_id, c.acx, c.acy, c.ar
          HAVING SUM(CASE WHEN ((be.q1y > c.acy) != (be.q2y > c.acy))
                           AND (c.acx + c.ar) < (be.q2x - be.q1x) * (c.acy - be.q1y)
                                                / (be.q2y - be.q1y) + be.q1x
                          THEN 1 ELSE 0 END) % 2 = 1
              OR MAX(CASE WHEN ABS((be.q2x-be.q1x)*(c.acy-be.q1y)
                                   - (be.q2y-be.q1y)*((c.acx+c.ar)-be.q1x)) < 1e-12
                           AND (c.acx+c.ar) >= LEAST(be.q1x,be.q2x)-1e-12
                           AND (c.acx+c.ar) <= GREATEST(be.q1x,be.q2x)+1e-12
                           AND c.acy >= LEAST(be.q1y,be.q2y)-1e-12
                           AND c.acy <= GREATEST(be.q1y,be.q2y)+1e-12
                          THEN 1 ELSE 0 END) = 1)
        SELECT DISTINCT a_id, b_id FROM (
          SELECT a_id, b_id FROM xh
          UNION ALL SELECT a_id, b_id FROM bina
          UNION ALL SELECT a_id, b_id FROM ainb) u
    """,

    # Zonal stats — q15's locked parity ray cast assigns points, then the
    # per-polygon aggregate accumulates the payload in DECIMAL(38,6)
    # (order-insensitive) with avg derived by ONE double division.
    "q56_zonal_stats_sql": f"""
        WITH pts AS (
          SELECT event_id AS point_id,
                 5.0 + (event_id % 20000)/1000.0 AS py,
                 38.0 + ((event_id*7) % 14000)/1000.0 AS px,
                 (event_id % 997) / CAST(4.0 AS DOUBLE) AS val
          FROM events),
        edges(poly_id, kind, ax, ay, bx, by) AS (VALUES
               {_pip_edges_values()}),
        t AS (
          SELECT p.point_id, e.poly_id, e.kind,
                 CASE WHEN ((e.ay > p.py) != (e.by > p.py))
                       AND p.px < (e.bx - e.ax) * (p.py - e.ay) / (e.by - e.ay) + e.ax
                      THEN 1 ELSE 0 END AS crossing,
                 CASE WHEN ABS((e.bx - e.ax)*(p.py - e.ay) - (e.by - e.ay)*(p.px - e.ax)) < 1e-12
                       AND p.px >= LEAST(e.ax, e.bx) - 1e-12 AND p.px <= GREATEST(e.ax, e.bx) + 1e-12
                       AND p.py >= LEAST(e.ay, e.by) - 1e-12 AND p.py <= GREATEST(e.ay, e.by) + 1e-12
                      THEN 1 ELSE 0 END AS onedge
          FROM pts p CROSS JOIN edges e),
        hit AS (
          SELECT point_id, CAST(poly_id AS BIGINT) AS poly_id, kind
          FROM t GROUP BY point_id, poly_id, kind
          HAVING SUM(crossing) % 2 = 1 OR MAX(onedge) = 1)
        SELECT h.poly_id, h.kind,
               COUNT(*) AS n_points,
               CAST(SUM(CAST(p.val AS DECIMAL(38,6))) AS DOUBLE) AS val_sum,
               MIN(p.val) AS val_min,
               MAX(p.val) AS val_max,
               CAST(SUM(CAST(p.val AS DECIMAL(38,6))) AS DOUBLE) / COUNT(p.val) AS val_avg
        FROM hit h JOIN pts p USING (point_id)
        GROUP BY h.poly_id, h.kind
    """,

    # Exact-substring repeated spans — full DuckDB recompute of the
    # k-gram-seed pipeline: identical tokenization, gram counts,
    # covered-position join, gaps-and-islands merge (gap > k breaks).
    "q57_repeated_spans_sql": """
        WITH docs AS (
          SELECT doc_id,
                 concat(text, ' ', CASE WHEN doc_id % 3 = 0 THEN
                   'subscribe to our newsletter for weekly updates and offers today'
                 WHEN doc_id % 3 = 1 THEN
                   'all rights reserved contact the site administrator for details'
                 ELSE
                   'follow us on social media channels for the latest announcements'
                 END) AS text
          FROM documents),
        toks AS (
          SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
          FROM docs),
        grams AS (
          SELECT doc_id, i AS pos,
                 array_to_string(list_slice(t, i + 1, i + 8), ' ') AS gram
          FROM toks, UNNEST(range(len(t) - 8 + 1)) AS u(i)
          WHERE len(t) >= 8),
        dup AS (SELECT gram FROM grams GROUP BY gram HAVING COUNT(*) >= 2),
        cov AS (SELECT g.doc_id, g.pos FROM grams g JOIN dup USING (gram)),
        m AS (
          SELECT doc_id, pos,
                 CASE WHEN pos - LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 8
                      THEN 1 ELSE 0 END AS brk
          FROM cov),
        i AS (
          SELECT doc_id, pos,
                 SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
                                ROWS UNBOUNDED PRECEDING) AS island
          FROM m)
        SELECT doc_id,
               CAST(MIN(pos) AS BIGINT) AS span_start,
               CAST(MAX(pos) + 8 AS BIGINT) AS span_end
        FROM i GROUP BY doc_id, island
    """,

    # Areal weights — closed-form rectangle-overlap recompute: the
    # operator's S-H clip of an axis-aligned rect IS the
    # LEAST/GREATEST width product, exactly, on this lattice.
    "q58_areal_weights_sql": """
        WITH r AS (
          SELECT event_id AS poly_id,
                 ((event_id // 89) % 30) * CAST(2.5 AS DOUBLE) AS x1,
                 ((event_id // 89) % 30) * CAST(2.5 AS DOUBLE)
                   + CAST(0.5 AS DOUBLE)
                   + ((event_id // 89) % 4) * CAST(0.75 AS DOUBLE) AS x2,
                 (((event_id // 89) // 30) % 25) * CAST(2.5 AS DOUBLE)
                   + ((event_id // 89) % 8) * CAST(0.125 AS DOUBLE) AS y1,
                 (((event_id // 89) // 30) % 25) * CAST(2.5 AS DOUBLE)
                   + ((event_id // 89) % 8) * CAST(0.125 AS DOUBLE)
                   + CAST(0.25 AS DOUBLE)
                   + ((event_id // 89) % 5) * CAST(0.625 AS DOUBLE) AS y2
          FROM events WHERE event_id % 89 = 0),
        cells AS (
          SELECT poly_id, x1, x2, y1, y2, i.i AS cell_x, j.j AS cell_y
          FROM r,
               UNNEST(range(CAST(FLOOR(x1) AS BIGINT), CAST(CEIL(x2) AS BIGINT))) AS i(i),
               UNNEST(range(CAST(FLOOR(y1) AS BIGINT), CAST(CEIL(y2) AS BIGINT))) AS j(j))
        SELECT poly_id, 'rect' AS kind, cell_x, cell_y,
               (LEAST(x2, cell_x + 1) - GREATEST(x1, cell_x))
               * (LEAST(y2, cell_y + 1) - GREATEST(y1, cell_y)) AS area,
               (LEAST(x2, cell_x + 1) - GREATEST(x1, cell_x))
               * (LEAST(y2, cell_y + 1) - GREATEST(y1, cell_y))
               / ((x2 - x1) * (y2 - y1)) AS frac
        FROM cells
        WHERE (LEAST(x2, cell_x + 1) - GREATEST(x1, cell_x)) > 0
          AND (LEAST(y2, cell_y + 1) - GREATEST(y1, cell_y)) > 0
    """,
    # PQ encode — per-subspace nearest-codeword argmin recomputed with
    # nested list_transform; list_indexof(d, list_min(d)) is first-match,
    # the numpy argmin tie rule. (x)*(x) both sides, never pow().
    "q37_pq_encode_sql": """
        SELECT vec_id, CAST(j AS BIGINT) AS j,
               CAST(list_indexof(d, list_min(d)) - 1 AS BIGINT) AS code
        FROM (
          SELECT vec_id, j,
                 list_transform(range(8), c -> list_sum(list_transform(range(16), t ->
                   (CAST(embedding[j*16 + t + 1] AS DOUBLE)
                      - (((j*31 + c*17 + t*7) % 101)/101.0 - 0.5))
                   * (CAST(embedding[j*16 + t + 1] AS DOUBLE)
                      - (((j*31 + c*17 + t*7) % 101)/101.0 - 0.5))
                 ))) AS d
          FROM embeddings, (SELECT unnest(range(4)) AS j)
        )
    """,
    # G5 kNN — cross-join argmin with the operator's exact chord formula
    # and (c2, way_id) tie order
    "q12_knn_bruteforce_sql": """
        WITH pts AS (
          SELECT event_id AS point_id,
                 -55.0 + (event_id % 110000)/1000.0 AS lat,
                 -180.0 + ((event_id*11) % 360000)/1000.0 AS lon
          FROM events WHERE event_id % 97 = 0),
        vs AS (
          SELECT event_id AS way_id,
                 -55.0 + (event_id % 110000)/1000.0 AS vlat,
                 -180.0 + ((event_id*11) % 360000)/1000.0 AS vlon
          FROM events WHERE event_id % 89 = 0),
        cand AS (
          SELECT p.point_id, v.way_id,
                 (COS(RADIANS(p.lat))*COS(RADIANS(p.lon)) - COS(RADIANS(v.vlat))*COS(RADIANS(v.vlon))) AS dx,
                 (COS(RADIANS(p.lat))*SIN(RADIANS(p.lon)) - COS(RADIANS(v.vlat))*SIN(RADIANS(v.vlon))) AS dy,
                 (SIN(RADIANS(p.lat)) - SIN(RADIANS(v.vlat))) AS dz
          FROM pts p CROSS JOIN vs v),
        sel AS (
          SELECT point_id, way_id,
                 dx*dx + dy*dy + dz*dz AS c2,
                 ROW_NUMBER() OVER (PARTITION BY point_id
                                    ORDER BY dx*dx + dy*dy + dz*dz, way_id) AS rn
          FROM cand)
        SELECT point_id, way_id,
               ROUND(2.0*6371008.8*ASIN(SQRT(c2)/2.0), 4) AS dist_r4
        FROM sel WHERE rn = 1
    """,
    # G5b segment kNN — cross-join argmin over the identical point-to-arc
    # chord composition (cross/dot products expanded in the same op order)
    "q14_knn_segments_sql": """
        WITH pts AS (
          SELECT event_id AS point_id,
                 -50.0 + (event_id % 100000)/1000.0 AS lat,
                 -180.0 + ((event_id*17) % 360000)/1000.0 AS lon
          FROM events WHERE event_id % 101 = 0),
        ws AS (
          SELECT event_id AS way_id,
                 -50.0 + (event_id % 100000)/1000.0 AS alat,
                 -180.0 + ((event_id*17) % 360000)/1000.0 AS alon,
                 -50.0 + (event_id % 100000)/1000.0 + 0.4 AS blat,
                 -180.0 + ((event_id*17) % 360000)/1000.0 + 0.7 AS blon
          FROM events WHERE event_id % 83 = 0),
        xyz AS (
          SELECT p.point_id, w.way_id,
                 COS(RADIANS(p.lat))*COS(RADIANS(p.lon)) AS px,
                 COS(RADIANS(p.lat))*SIN(RADIANS(p.lon)) AS py,
                 SIN(RADIANS(p.lat)) AS pz,
                 COS(RADIANS(w.alat))*COS(RADIANS(w.alon)) AS ax,
                 COS(RADIANS(w.alat))*SIN(RADIANS(w.alon)) AS ay,
                 SIN(RADIANS(w.alat)) AS az,
                 COS(RADIANS(w.blat))*COS(RADIANS(w.blon)) AS bx,
                 COS(RADIANS(w.blat))*SIN(RADIANS(w.blon)) AS by,
                 SIN(RADIANS(w.blat)) AS bz
          FROM pts p CROSS JOIN ws w),
        c AS (
          SELECT point_id, way_id, px, py, pz, ax, ay, az, bx, by, bz,
                 ay*bz - az*by AS nx, az*bx - ax*bz AS ny, ax*by - ay*bx AS nz
          FROM xyz),
        d AS (
          SELECT point_id, way_id,
                 nx*nx + ny*ny + nz*nz AS nn2,
                 (ay*pz - az*py)*nx + (az*px - ax*pz)*ny + (ax*py - ay*px)*nz AS apn,
                 (py*bz - pz*by)*nx + (pz*bx - px*bz)*ny + (px*by - py*bx)*nz AS pbn,
                 (px*nx + py*ny + pz*nz) AS pn,
                 LEAST((px-ax)*(px-ax) + (py-ay)*(py-ay) + (pz-az)*(pz-az),
                       (px-bx)*(px-bx) + (py-by)*(py-by) + (pz-bz)*(pz-bz)) AS end_c2
          FROM c),
        e AS (
          SELECT point_id, way_id,
                 CASE WHEN nn2 > 1e-24 AND apn >= 0 AND pbn >= 0
                      THEN LEAST(2.0 - 2.0*SQRT(GREATEST(0.0, 1.0 - (pn/SQRT(nn2))*(pn/SQRT(nn2)))), end_c2)
                      ELSE end_c2 END AS c2
          FROM d),
        sel AS (
          SELECT point_id, way_id, c2,
                 ROW_NUMBER() OVER (PARTITION BY point_id ORDER BY c2, way_id) AS rn
          FROM e)
        SELECT point_id, way_id,
               ROUND(2.0*6371008.8*ASIN(SQRT(c2)/2.0), 4) AS dist_r4
        FROM sel WHERE rn = 1
    """,
    # G3 S2 quadratic ST transform on cube face 1 — independent closed-form
    # SQL implementation of the published projection (power-of-two scaling
    # makes the floor/shift pipelines bit-equivalent)
    "q13_s2_grid_sql": """
        WITH p AS (
          SELECT event_id,
                 -30.0 + (event_id % 60000)/1000.0 AS lat,
                 50.0 + ((event_id*13) % 80000)/1000.0 AS lon
          FROM events),
        xyz AS (
          SELECT event_id,
                 COS(RADIANS(lat))*COS(RADIANS(lon)) AS x,
                 COS(RADIANS(lat))*SIN(RADIANS(lon)) AS y,
                 SIN(RADIANS(lat)) AS z
          FROM p),
        uv AS (SELECT event_id, -x/y AS u, z/y AS v FROM xyz),
        st AS (SELECT event_id,
                 CASE WHEN u >= 0 THEN 0.5*SQRT(1.0 + 3.0*u) ELSE 1.0 - 0.5*SQRT(1.0 - 3.0*u) END AS s,
                 CASE WHEN v >= 0 THEN 0.5*SQRT(1.0 + 3.0*v) ELSE 1.0 - 0.5*SQRT(1.0 - 3.0*v) END AS t
               FROM uv),
        ij AS (SELECT event_id,
                 LEAST(CAST(FLOOR(s*4096.0) AS BIGINT), 4095) AS gi,
                 LEAST(CAST(FLOOR(t*4096.0) AS BIGINT), 4095) AS gj
               FROM st)
        SELECT event_id,
               (CAST(288230376151711744 AS BIGINT) + gi*536870912 + gj) AS cell
        FROM ij
    """,
    # G4 point-in-polygon — brute-force even-odd ray cast + on-edge rule
    # over the same literal polygon edges the Spark operator receives; the
    # operator's S2 cell cover is a sound superset, so bucket-join + ray
    # cast must equal the full cross join. XOR-fold == SUM(crossing) % 2
    # (both order-insensitive); identical edge arithmetic both sides.
    "q15_pip_sql": f"""
        WITH pts AS (
          SELECT event_id AS point_id,
                 5.0 + (event_id % 20000)/1000.0 AS py,
                 38.0 + ((event_id*7) % 14000)/1000.0 AS px
          FROM events),
        edges(poly_id, kind, ax, ay, bx, by) AS (VALUES
               {_pip_edges_values()}),
        t AS (
          SELECT p.point_id, e.poly_id, e.kind,
                 CASE WHEN ((e.ay > p.py) != (e.by > p.py))
                       AND p.px < (e.bx - e.ax) * (p.py - e.ay) / (e.by - e.ay) + e.ax
                      THEN 1 ELSE 0 END AS crossing,
                 CASE WHEN ABS((e.bx - e.ax)*(p.py - e.ay) - (e.by - e.ay)*(p.px - e.ax)) < 1e-12
                       AND p.px >= LEAST(e.ax, e.bx) - 1e-12 AND p.px <= GREATEST(e.ax, e.bx) + 1e-12
                       AND p.py >= LEAST(e.ay, e.by) - 1e-12 AND p.py <= GREATEST(e.ay, e.by) + 1e-12
                      THEN 1 ELSE 0 END AS onedge
          FROM pts p CROSS JOIN edges e)
        SELECT point_id, CAST(poly_id AS BIGINT) AS poly_id, kind
        FROM t GROUP BY point_id, poly_id, kind
        HAVING SUM(crossing) % 2 = 1 OR MAX(onedge) = 1
    """,
    # Connected components — the Spark side is an ITERATIVE hash-min label
    # propagation; the oracle computes the same fixpoint with a recursive
    # transitive closure (tractable because the synthetic clusters are
    # small). component_id = MIN reachable vertex, exact integers.
    "q16_components_sql": """
        WITH RECURSIVE
        e0 AS (SELECT event_id AS a, event_id - event_id % 10 AS b FROM events),
        e1 AS (SELECT event_id AS a, event_id - 1 AS b FROM events
               WHERE event_id % 97 = 0 AND event_id > 0),
        edges AS (SELECT a, b FROM e0 UNION SELECT a, b FROM e1),
        sym AS (SELECT a, b FROM edges UNION SELECT b AS a, a AS b FROM edges),
        verts AS (SELECT DISTINCT a AS v FROM sym),
        tc(x, y) AS (
          SELECT v AS x, v AS y FROM verts
          UNION
          SELECT tc.x, s.b AS y FROM tc JOIN sym s ON tc.y = s.a
        )
        SELECT x AS id, MIN(y) AS component_id FROM tc GROUP BY x
    """,
    # way length — identical haversine composition per segment, per-way
    # totals accumulated in decimal(38,10) (order-insensitive exact) on
    # both sides; R matches the engine constant 6371008.8
    "q17_way_length_sql": """
        WITH p AS (
          SELECT event_id AS way_id,
                 -50.0 + (event_id % 100000)/1000.0 AS lat,
                 -170.0 + ((event_id*19) % 340000)/1000.0 AS lon
          FROM events),
        seg AS (
          SELECT way_id, lon AS ax, lat AS ay, lon+0.3 AS bx, lat+0.2 AS by FROM p
          UNION ALL
          SELECT way_id, lon+0.3, lat+0.2, lon+0.5, lat-0.1 FROM p),
        d AS (
          SELECT way_id,
                 2.0*6371008.8*ASIN(SQRT(
                   SIN(RADIANS(by-ay)/2.0)*SIN(RADIANS(by-ay)/2.0)
                   + COS(RADIANS(ay))*COS(RADIANS(by))
                     *SIN(RADIANS(bx-ax)/2.0)*SIN(RADIANS(bx-ax)/2.0)
                 )) AS dist
          FROM seg)
        SELECT way_id,
               ROUND(CAST(SUM(CAST(dist AS DECIMAL(38,10))) AS DOUBLE), 4) AS length_r4
        FROM d GROUP BY way_id
    """,
    # ring area — equirectangular shoelace at the ring's mean latitude;
    # mean = decimal-sum → double ÷ double count; cross terms accumulate
    # in decimal; identical op order to operators/geometry.py
    "q18_ring_area_sql": """
        WITH p AS (
          SELECT event_id AS poly_id,
                 -50.0 + (event_id % 100000)/1000.0 AS lat,
                 -170.0 + ((event_id*23) % 340000)/1000.0 AS lon
          FROM events),
        e AS (
          SELECT poly_id, lon AS ax, lat AS ay, lon+0.4 AS bx, lat+0.05 AS by FROM p
          UNION ALL SELECT poly_id, lon+0.4, lat+0.05, lon+0.35, lat+0.45 FROM p
          UNION ALL SELECT poly_id, lon+0.35, lat+0.45, lon-0.05, lat+0.4 FROM p
          UNION ALL SELECT poly_id, lon-0.05, lat+0.4, lon, lat FROM p),
        m AS (
          SELECT poly_id,
                 CAST(SUM(CAST(ay AS DECIMAL(38,10))) AS DOUBLE)
                   / CAST(COUNT(*) AS DOUBLE) AS lat0
          FROM e GROUP BY poly_id),
        c AS (
          SELECT e.poly_id,
                 (e.ax*COS(RADIANS(m.lat0))*(PI()/180.0*6371008.8))
                   *(e.by*(PI()/180.0*6371008.8))
                 - (e.bx*COS(RADIANS(m.lat0))*(PI()/180.0*6371008.8))
                   *(e.ay*(PI()/180.0*6371008.8)) AS cr
          FROM e JOIN m ON e.poly_id = m.poly_id)
        SELECT poly_id,
               ROUND(ABS(CAST(SUM(CAST(cr AS DECIMAL(38,10))) AS DOUBLE))/2.0/1000000.0, 1)
                 AS area_km2_r1
        FROM c GROUP BY poly_id
    """,
    # PIP with holes — identical parity-count formulation to q15; hole
    # edges are simply more rows in the edge relation, so a point inside a
    # hole crosses them too and lands back on even parity
    "q20_pip_holes_sql": f"""
        WITH pts AS (
          SELECT event_id AS point_id,
                 5.0 + (event_id % 20000)/1000.0 AS py,
                 38.0 + ((event_id*7) % 14000)/1000.0 AS px
          FROM events),
        edges(poly_id, kind, ax, ay, bx, by) AS (VALUES
               {_pip_holed_edges_values()}),
        t AS (
          SELECT p.point_id, e.poly_id, e.kind,
                 CASE WHEN ((e.ay > p.py) != (e.by > p.py))
                       AND p.px < (e.bx - e.ax) * (p.py - e.ay) / (e.by - e.ay) + e.ax
                      THEN 1 ELSE 0 END AS crossing,
                 CASE WHEN ABS((e.bx - e.ax)*(p.py - e.ay) - (e.by - e.ay)*(p.px - e.ax)) < 1e-12
                       AND p.px >= LEAST(e.ax, e.bx) - 1e-12 AND p.px <= GREATEST(e.ax, e.bx) + 1e-12
                       AND p.py >= LEAST(e.ay, e.by) - 1e-12 AND p.py <= GREATEST(e.ay, e.by) + 1e-12
                      THEN 1 ELSE 0 END AS onedge
          FROM pts p CROSS JOIN edges e)
        SELECT point_id, CAST(poly_id AS BIGINT) AS poly_id, kind
        FROM t GROUP BY point_id, poly_id, kind
        HAVING SUM(crossing) % 2 = 1 OR MAX(onedge) = 1
    """,
    # simhash pigeonhole banding — the oracle is brute-force O(n²) hamming
    # (banding is exact at any radius, so banded pairs == all pairs within
    # the radius); signature arithmetic is identical overflow-free int64
    # on both sides
    "q19_simhash_band_sql": """
        WITH s AS (
          SELECT doc_id AS id,
                 xor(xor((doc_id // 4) * 3037000493,
                         ((doc_id // 4) % 32768) << 48),
                     doc_id % 4) AS sig
          FROM documents),
        p AS (
          SELECT l.id AS a, r.id AS b,
                 CAST(bit_count(xor(l.sig, r.sig)) AS BIGINT) AS hamming
          FROM s l JOIN s r ON l.id < r.id)
        SELECT a, b, hamming FROM p WHERE hamming <= 3
    """,
    # minhash LSH — the oracle is the brute-force O(n²) exact-Jaccard join
    # over the same deterministic token sets; the production banded path
    # must reproduce it exactly (recall verified on this fixed data: J=1
    # pairs band by construction, J=0.818 pairs at 32×2 banding miss with
    # probability ~4e-16 and the data is deterministic). Jaccard = exact
    # small-int double division on both sides.
    "q21_minhash_lsh_sql": """
        WITH d AS (
          SELECT doc_id AS id,
                 CASE CAST(doc_id % 4 AS INTEGER)
                   WHEN 2 THEN list_concat(
                     list_transform(range(0, 18),  i -> 'w' || CAST((doc_id // 4) * 64 + i AS VARCHAR)),
                     list_transform(range(40, 42), i -> 'w' || CAST((doc_id // 4) * 64 + i AS VARCHAR)))
                   WHEN 3 THEN list_concat(
                     list_transform(range(0, 10),  i -> 'w' || CAST((doc_id // 4) * 64 + i AS VARCHAR)),
                     list_transform(range(50, 60), i -> 'w' || CAST((doc_id // 4) * 64 + i AS VARCHAR)))
                   ELSE list_transform(range(0, 20), i -> 'w' || CAST((doc_id // 4) * 64 + i AS VARCHAR))
                 END AS toks
          FROM documents),
        p AS (
          SELECT l.id AS a, r.id AS b,
                 CAST(len(list_intersect(l.toks, r.toks)) AS DOUBLE)
                   / CAST(len(l.toks) + len(r.toks)
                          - len(list_intersect(l.toks, r.toks)) AS DOUBLE) AS jaccard
          FROM d l JOIN d r ON l.id < r.id)
        SELECT a, b, jaccard FROM p WHERE jaccard >= 0.8
    """,
    # IVF top-k at EXHAUSTIVE probing (nprobe = n_lists) — every list is
    # probed, so the candidate set is the full corpus and the ANN result
    # must equal brute-force exact top-k REGARDLESS of how k-means
    # trained the lists. Oracle = the brute-force window top-k with the
    # same f64 cosine (q07's proven list_dot_product + ROUND(4) parity)
    # and the same (sim DESC, vec_id ASC) tie-break.
    "q22_ivf_exhaustive_topk_sql": """
        WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS q_vec
                   FROM embeddings WHERE vec_id < 4),
        s AS (
          SELECT q_id, vec_id,
                 list_dot_product(CAST(embedding AS DOUBLE[]), q_vec) /
                   (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                          CAST(embedding AS DOUBLE[]))) *
                    sqrt(list_dot_product(q_vec, q_vec))) AS sim
          FROM embeddings, q),
        r AS (
          SELECT q_id, vec_id, sim,
                 row_number() OVER (PARTITION BY q_id
                                    ORDER BY sim DESC, vec_id) AS rank
          FROM s)
        SELECT q_id, vec_id, rank, ROUND(sim, 4) AS sim FROM r WHERE rank <= 20
    """,
    # Near-dup GROUPS end-to-end (q21's deterministic corpus → PRODUCTION
    # minhash banding + Jaccard verify → PRODUCTION iterative hash-min
    # components → keeper assignment) vs brute-force Jaccard pairs +
    # recursive transitive closure. Docs in no pair keep themselves (the
    # seed row x→x makes MIN(y) = x for singletons). Exact integers both
    # sides — the dedup DECISION step's first hash-exact row.
    "q23_near_dup_groups_sql": """
        WITH RECURSIVE
        d AS (
          SELECT doc_id AS id,
                 CASE CAST(doc_id % 4 AS INTEGER)
                   WHEN 2 THEN list_concat(
                     list_transform(range(0, 18),  i -> 'w' || CAST((doc_id // 4) * 64 + i AS VARCHAR)),
                     list_transform(range(40, 42), i -> 'w' || CAST((doc_id // 4) * 64 + i AS VARCHAR)))
                   WHEN 3 THEN list_concat(
                     list_transform(range(0, 10),  i -> 'w' || CAST((doc_id // 4) * 64 + i AS VARCHAR)),
                     list_transform(range(50, 60), i -> 'w' || CAST((doc_id // 4) * 64 + i AS VARCHAR)))
                   ELSE list_transform(range(0, 20), i -> 'w' || CAST((doc_id // 4) * 64 + i AS VARCHAR))
                 END AS toks
          FROM documents),
        p AS (
          SELECT l.id AS a, r.id AS b
          FROM d l JOIN d r ON l.id < r.id
          WHERE CAST(len(list_intersect(l.toks, r.toks)) AS DOUBLE)
                  / CAST(len(l.toks) + len(r.toks)
                         - len(list_intersect(l.toks, r.toks)) AS DOUBLE) >= 0.8),
        sym AS (SELECT a, b FROM p UNION SELECT b AS a, a AS b FROM p),
        tc(x, y) AS (
          SELECT doc_id AS x, doc_id AS y FROM documents
          UNION
          SELECT tc.x, s.b AS y FROM tc JOIN sym s ON tc.y = s.a
        )
        SELECT x AS doc_id, MIN(y) AS keeper_id FROM tc GROUP BY x
    """,
    # G7 adaptive cell splitting (the north_star's skew answer): base-level
    # grid ids, per-cell counts, cells over the row budget re-encoded at
    # level+delta. The oracle recomputes the face-1 quadratic-ST packing
    # closed-form at BOTH levels and applies the same >500 rule. All points
    # lie on cube face 1 (|lat|<=25 within lon 55..125, same containment
    # argument as q13); counts sit orders of magnitude from the threshold
    # on both sides (hot cells ~1.9k rows, cold cells single digits), so
    # the hot/cold decision is ulp-robust.
    "q24_adaptive_cell_split_sql": """
        WITH p AS (
          SELECT event_id,
                 CASE WHEN event_id % 4 = 0
                      THEN -25.0 + ((event_id*13) % 50000)/1000.0
                      ELSE 10.0 + (event_id % 200)/1000.0 END AS lat,
                 CASE WHEN event_id % 4 = 0
                      THEN 55.0 + ((event_id*7) % 70000)/1000.0
                      ELSE 62.0 + ((event_id*3) % 200)/1000.0 END AS lon
          FROM events),
        xyz AS (
          SELECT event_id,
                 COS(RADIANS(lat))*COS(RADIANS(lon)) AS x,
                 COS(RADIANS(lat))*SIN(RADIANS(lon)) AS y,
                 SIN(RADIANS(lat)) AS z
          FROM p),
        uv AS (SELECT event_id, -x/y AS u, z/y AS v FROM xyz),
        st AS (SELECT event_id,
                 CASE WHEN u >= 0 THEN 0.5*SQRT(1.0 + 3.0*u) ELSE 1.0 - 0.5*SQRT(1.0 - 3.0*u) END AS s,
                 CASE WHEN v >= 0 THEN 0.5*SQRT(1.0 + 3.0*v) ELSE 1.0 - 0.5*SQRT(1.0 - 3.0*v) END AS t
               FROM uv),
        ids AS (SELECT event_id,
                 (CAST(288230376151711744 AS BIGINT)
                    + LEAST(CAST(FLOOR(s*256.0) AS BIGINT), 255)*536870912
                    + LEAST(CAST(FLOOR(t*256.0) AS BIGINT), 255)) AS bcell,
                 (CAST(288230376151711744 AS BIGINT)
                    + LEAST(CAST(FLOOR(s*1024.0) AS BIGINT), 1023)*536870912
                    + LEAST(CAST(FLOOR(t*1024.0) AS BIGINT), 1023)) AS fcell
                FROM st),
        hot AS (SELECT bcell FROM ids GROUP BY bcell HAVING COUNT(*) > 500)
        SELECT i.event_id,
               CASE WHEN h.bcell IS NOT NULL THEN i.fcell ELSE i.bcell END AS cell
        FROM ids i LEFT JOIN hot h USING (bcell)
    """,
    # Embedding near-dup family at EXHAUSTIVE parameterization (the q22
    # pattern): n_tables=1, n_planes=0 ⇒ one LSH bucket holds the whole
    # corpus ⇒ the production bucket-join + einsum cosine verify must equal
    # brute-force all-pairs cosine. f32 products are exact in f64; the two
    # engines differ only in f64 summation order (~1e-16), and the data
    # sits 6.9e-5 from the 0.3 threshold and ≥4.5e-9 from every ROUND(4)
    # boundary (measured at sf0.01), so the row set and rounded values are
    # deterministic.
    "q25_embedding_lsh_exhaustive_sql": """
        WITH p AS (
          SELECT a.vec_id AS a, b.vec_id AS b,
                 list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) /
                 (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[]))) *
                  sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))) AS sim
          FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id)
        SELECT a, b, ROUND(sim, 4) AS sim_r4 FROM p WHERE sim >= 0.3
    """,
    # Full text-analysis closed form. All arithmetic is +,*,/ over
    # small-integer quotients — bit-identical doubles in both engines given
    # identical token counts; ROUND(6) mirrors the production operator.
    # lang argmax tie-break = lexicographically-largest code (Spark
    # greatest() over (hits, code) structs) → probe fr, es, en, de.
    # Known engine-delta edge: Java-regex \s includes vertical tab \x0B,
    # RE2/DuckDB \s does not — a fixture document containing \x0B would
    # tokenize differently. The frozen seed-42 corpus contains none
    # (verified at sf0.001/0.01/0.1); this row is fixture-content-
    # dependent in that one respect.
    "q26_doc_quality_sql": """
        WITH t AS (
          SELECT doc_id, text,
                 string_split_regex(lower(trim(text)), '\\s+') AS toks,
                 CASE WHEN trim(text) = '' THEN 0
                      ELSE length(string_split_regex(lower(trim(text)), '\\s+'))
                 END AS tc
          FROM documents WHERE n_chars > 0),
        c AS (
          SELECT doc_id, toks, tc,
                 length(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS bpe,
                 CAST(length(regexp_replace(text, '[^.,;:!?''"()\\[\\]-]', '', 'g')) AS DOUBLE)
                   / CAST(greatest(length(text), 1) AS DOUBLE) AS p,
                 CAST(length(list_filter(toks, x -> x IN ('and','auf','con','dans','das','der','des','die','ein','el','es','est','et','for','für','in','is','ist','it','la','le','les','los','mit','nicht','of','para','por','pour','que','that','the','to','una','und','une','with','y'))) AS DOUBLE)
                   / CAST(greatest(length(toks), 1) AS DOUBLE) AS s,
                 CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE)
                   / CAST(greatest(length(toks), 1) AS DOUBLE) AS m,
                 length(list_filter(toks, x -> x IN ('the','and','of','to','in','is','that','for','with','it'))) AS h_en,
                 length(list_filter(toks, x -> x IN ('der','die','das','und','ist','nicht','mit','für','auf','ein'))) AS h_de,
                 length(list_filter(toks, x -> x IN ('le','la','les','et','est','pour','dans','que','une','des'))) AS h_fr,
                 length(list_filter(toks, x -> x IN ('el','la','los','y','es','que','para','con','una','por'))) AS h_es
          FROM t)
        SELECT doc_id, tc AS token_count, bpe AS bpe_token_count,
               ROUND(p, 6) AS punct_ratio, ROUND(s, 6) AS stopword_ratio,
               ROUND(m, 6) AS mean_token_len,
               ROUND(least(CAST(tc AS DOUBLE) / 20.0, 1.0) * 0.3
                   + (CASE WHEN p < 0.2 THEN 1.0
                           ELSE greatest(0.0, 1.0 - (p - 0.2) * 5.0) END) * 0.2
                   + least(s * 5.0, 1.0) * 0.3
                   + (CASE WHEN m >= 2.5 AND m <= 12.0 THEN 1.0 ELSE 0.3 END) * 0.2,
                     6) AS quality,
               CASE WHEN greatest(h_en, h_de, h_fr, h_es) = 0 THEN 'und'
                    WHEN h_fr = greatest(h_en, h_de, h_fr, h_es) THEN 'fr'
                    WHEN h_es = greatest(h_en, h_de, h_fr, h_es) THEN 'es'
                    WHEN h_en = greatest(h_en, h_de, h_fr, h_es) THEN 'en'
                    ELSE 'de' END AS lang_guess
        FROM c
    """,
    # P9 accesscombinations: rebuild the fixed-key-order "key=value " line
    # (trailing space kept) over the same deterministic residue-class tag
    # synthesis; DUMP_TAGS order = highway, access, motor_vehicle, hgv,
    # bicycle, foot among the keys synthesized here. Pure strings.
    "q27_access_combinations_sql": """
        WITH w AS (
          SELECT l_orderkey AS way_id,
                 l_orderkey % 8 AS m8, l_orderkey % 5 AS m5, l_orderkey % 3 AS m3
          FROM lineitem WHERE l_linenumber = 1)
        SELECT way_id,
               CAST(way_id AS VARCHAR) || ' ' ||
               'highway=' || (CASE WHEN m8 < 3 THEN 'residential'
                                   WHEN m8 < 5 THEN 'track'
                                   ELSE 'footway' END) || ' ' ||
               (CASE WHEN m5 = 0 THEN 'access=' ||
                     (CASE WHEN m3 = 0 THEN 'no' ELSE 'private' END) || ' '
                     ELSE '' END) ||
               (CASE WHEN m8 = 3 THEN 'motor_vehicle=agricultural ' ELSE '' END) ||
               (CASE WHEN m5 = 3 THEN 'hgv=destination ' ELSE '' END) ||
               (CASE WHEN m5 = 1 THEN 'bicycle=yes ' ELSE '' END) ||
               (CASE WHEN m3 = 2 THEN 'foot=designated ' ELSE '' END) AS line
        FROM w WHERE m8 < 7
    """,
    # Expected sniff label + byte length closed-form: the blob is a known
    # magic prefix zero-padded to EXACTLY 12 bytes (the farthest probe
    # window ends at byte 12) + the UTF-8 text, so the label is a pure
    # function of the residue for ANY fixture content — no document byte
    # can reach a probe offset.
    "q28_binary_sniff_sql": """
        SELECT doc_id,
               CASE doc_id % 6 WHEN 0 THEN 'jpeg' WHEN 1 THEN 'png'
                               WHEN 2 THEN 'wav'  WHEN 3 THEN 'pdf'
                               WHEN 4 THEN 'bin'  ELSE 'gzip' END AS format,
               CAST(octet_length(encode(text)) + 12 AS BIGINT) AS n_bytes
        FROM documents
    """,
    # Keep decision replicated in hex-string space: 8-char lowercase md5
    # prefix < zero-padded hex threshold == the numeric u32 compare the
    # operator does (fixed-width lowercase hex orders like the integers).
    # Thresholds = int(rate * 2^32): 0.25→40000000, 0.5→80000000,
    # 0.1→19999999, default 0.75→c0000000.
    "q29_stratified_sample_sql": """
        SELECT doc_id, lang FROM documents
        WHERE substring(md5('s1' || CAST(doc_id AS VARCHAR)), 1, 8) <
              CASE lang WHEN 'en' THEN '40000000'
                        WHEN 'de' THEN '80000000'
                        WHEN 'fr' THEN '19999999'
                        ELSE 'c0000000' END
    """,
    # q23's closure extended with the keep decision: group label = min
    # reachable id, keeper = window argmax by (quality DESC, id ASC).
    # Quality = ((id//2)*37 % 101)/100 — exact small-integer quotient,
    # bit-identical doubles both engines; consecutive ids tie on purpose.
    "q30_canonical_docs_sql": """
        WITH RECURSIVE
        d AS (
          SELECT doc_id AS id,
                 CASE CAST(doc_id % 4 AS INTEGER)
                   WHEN 2 THEN list_concat(
                     list_transform(range(0, 18),  i -> 'w' || CAST((doc_id // 4) * 64 + i AS VARCHAR)),
                     list_transform(range(40, 42), i -> 'w' || CAST((doc_id // 4) * 64 + i AS VARCHAR)))
                   WHEN 3 THEN list_concat(
                     list_transform(range(0, 10),  i -> 'w' || CAST((doc_id // 4) * 64 + i AS VARCHAR)),
                     list_transform(range(50, 60), i -> 'w' || CAST((doc_id // 4) * 64 + i AS VARCHAR)))
                   ELSE list_transform(range(0, 20), i -> 'w' || CAST((doc_id // 4) * 64 + i AS VARCHAR))
                 END AS toks
          FROM documents),
        p AS (
          SELECT l.id AS a, r.id AS b
          FROM d l JOIN d r ON l.id < r.id
          WHERE CAST(len(list_intersect(l.toks, r.toks)) AS DOUBLE)
                  / CAST(len(l.toks) + len(r.toks)
                         - len(list_intersect(l.toks, r.toks)) AS DOUBLE) >= 0.8),
        sym AS (SELECT a, b FROM p UNION SELECT b AS a, a AS b FROM p),
        tc(x, y) AS (
          SELECT doc_id AS x, doc_id AS y FROM documents
          UNION
          SELECT tc.x, s.b AS y FROM tc JOIN sym s ON tc.y = s.a
        ),
        grp AS (SELECT x AS doc_id, MIN(y) AS gid FROM tc GROUP BY x),
        q AS (
          SELECT g.doc_id, g.gid,
                 CAST((g.doc_id // 2) * 37 % 101 AS DOUBLE) / 100.0 AS quality
          FROM grp g),
        ranked AS (
          SELECT doc_id, gid, quality,
                 row_number() OVER (PARTITION BY gid
                                    ORDER BY quality DESC, doc_id ASC) AS rn
          FROM q),
        keep AS (SELECT gid, doc_id AS keeper_id FROM ranked WHERE rn = 1)
        SELECT q.doc_id, k.keeper_id, q.doc_id = k.keeper_id AS kept
        FROM q JOIN keep k USING (gid)
    """,
    # Expected image metadata closed-form from the synthesis parameters:
    # valid rows (doc_id % 7 != 0) echo the residue dims; corrupt-magic
    # rows → NULL format / zero dims / false; n_bytes = 12-byte header +
    # UTF-8 text length either way.
    "q31_image_metadata_sql": """
        SELECT doc_id AS id,
               CASE WHEN doc_id % 7 = 0 THEN NULL ELSE 'fimg' END AS format,
               CAST(CASE WHEN doc_id % 7 = 0 THEN 0
                         ELSE doc_id % 1920 + 1 END AS INTEGER) AS width,
               CAST(CASE WHEN doc_id % 7 = 0 THEN 0
                         ELSE doc_id % 1080 + 1 END AS INTEGER) AS height,
               CAST(12 + octet_length(encode(text)) AS BIGINT) AS n_bytes,
               doc_id % 7 <> 0 AS valid
        FROM documents
    """,
    # Vocabulary top-k: same normalization (strip non-alnum, lower,
    # whitespace split, drop empties), total (n DESC, term ASC) order.
    "q32_vocab_topk_sql": """
        WITH toks AS (
          SELECT unnest(list_filter(
                   string_split_regex(
                     regexp_replace(lower(text), '[^a-z0-9\\s]', '', 'g'),
                     '\\s+'),
                   x -> x <> '')) AS term
          FROM documents),
        c AS (SELECT term, count(*) AS n FROM toks GROUP BY term)
        SELECT term, CAST(n AS BIGINT) AS n FROM c
        ORDER BY n DESC, term ASC LIMIT 25
    """,
    # int8 quantization closed-form: f32→f64 cast exact, scale = max|v|/127
    # (1.0 when all-zero), qv = clamp(floor(v/scale + 0.5), ±127). DuckDB
    # lists are 1-indexed: pos = i, value = e[i+1] over i in 0..63.
    "q33_quantize_int8_sql": """
        WITH v AS (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        s AS (
          SELECT vec_id, e,
                 CASE WHEN list_max(list_transform(e, x -> abs(x))) = 0.0
                      THEN 1.0
                      ELSE list_max(list_transform(e, x -> abs(x))) / 127.0
                 END AS scale
          FROM v)
        SELECT vec_id, ROUND(scale, 9) AS scale_r9,
               CAST(i AS INTEGER) AS pos,
               CAST(greatest(-127, least(127, floor(e[i + 1] / scale + 0.5)))
                    AS INTEGER) AS qv
        FROM s CROSS JOIN (SELECT unnest(range(64)) AS i) t
    """,
}


# ---------------------------------------------------------------------------
# Rows-only queries: fixture-corpus pipeline products. Their correctness
# gate is the pytest oracle suite (tests/), not DuckDB.
# ---------------------------------------------------------------------------

_FIXTURE = dict(n_pages=400, seed=42, split="unit")


def _fixture_products(spark):
    from wayproblems_spark.pipeline import full_pipeline

    return full_pipeline(spark, **_FIXTURE)


def r01_wayproblems_problems(spark, sf_dir):
    p = _fixture_products(spark)["problems"]
    return p.select("way_id", "layer", "style", "problem", "site", "sub").orderBy(
        "way_id", "site", "sub"
    )


def r02_wayproblems_stdout(spark, sf_dir):
    from wayproblems_spark.rules import stdout_log

    p = _fixture_products(spark)["problems"]
    return stdout_log(p).select("line").orderBy("line")


def r03_tile_counts(spark, sf_dir):
    return _fixture_products(spark)["tiles"]


def r04_knn_assign(spark, sf_dir):
    return _fixture_products(spark)["knn"]


def r05_pip_assign(spark, sf_dir):
    return _fixture_products(spark)["pip"]


def r06_cell_encode(spark, sf_dir):
    from wayproblems_spark.operators.cells import parent_id_expr, with_cell
    from wayproblems_spark.pipeline import corpus_frames

    _, _, nodes, _ = corpus_frames(spark, **_FIXTURE)
    df = with_cell(nodes, "lat", "lon", 16, out="cell_l16")
    return df.withColumn("cell_l10", parent_id_expr(F.col("cell_l16"), 10))


def r07_minhash_near_dups(spark, sf_dir):
    from wayproblems_spark.operators.dedup import minhash_lsh_pairs

    d = _t(spark, sf_dir, "documents").limit(200)
    dup = d.withColumn("doc_id", F.col("doc_id") + 1000000).withColumn(
        "text", F.concat("text", F.lit(" tail marker"))
    )
    return minhash_lsh_pairs(d.unionByName(dup), jaccard_threshold=0.5)


def r08_simhash_near_dups(spark, sf_dir):
    from wayproblems_spark.operators.dedup import simhash_near_pairs

    d = _t(spark, sf_dir, "documents").limit(200)
    dup = d.withColumn("doc_id", F.col("doc_id") + 1000000)
    return simhash_near_pairs(d.unionByName(dup), max_hamming=3)


def r09_multimodal_meta(spark, sf_dir):
    from wayproblems_spark.operators.multimodal import image_metadata

    d = _t(spark, sf_dir, "documents").limit(100)
    # deterministic fake image blobs keyed by doc_id
    blob = F.concat(
        F.lit(b"FIMG"),
        F.to_binary(
            F.lpad(F.hex(F.pmod("doc_id", 1920) + 1), 8, "0"), F.lit("hex")
        ),
        F.to_binary(F.lpad(F.hex(F.pmod("doc_id", 1080) + 1), 8, "0"), F.lit("hex")),
        F.col("text").cast("binary"),
    )
    imgs = d.select(F.col("doc_id").alias("id"), blob.alias("blob"))
    return image_metadata(imgs)


def r10_doc_quality(spark, sf_dir):
    from wayproblems_spark.operators.textstats import document_stats

    d = _t(spark, sf_dir, "documents").limit(500)
    return document_stats(d).select(
        "doc_id", "token_count", "bpe_token_count", "quality", "lang_guess", "fingerprint"
    )


def r11_ann_topk(spark, sf_dir):
    from wayproblems_spark.operators.similarity import cosine_topk

    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    return cosine_topk(e, q, k=10)


def r12_ann_lsh_topk(spark, sf_dir):
    """ANN scale path (hyperplane LSH buckets + exact re-rank) exercised as
    a driver query; the exact cosine path is r11/q07."""
    from wayproblems_spark.operators.similarity import lsh_topk

    e = _t(spark, sf_dir, "embeddings")
    dim = len(e.select("embedding").first()["embedding"])
    q = e.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    # fewer planes / more tables than the defaults: the sf0.01 corpus is
    # only a few hundred vectors, so buckets must stay coarse for recall
    return lsh_topk(e, q, dim=dim, k=10, n_planes=6, n_tables=8)


def r13_ann_ivf_topk(spark, sf_dir):
    """IVF coarse-quantizer ANN (k-means lists + nprobe + exact re-rank) —
    the data-adaptive scale path beside the hyperplane-LSH one (r12)."""
    from wayproblems_spark.operators.similarity import ivf_topk

    e = _t(spark, sf_dir, "embeddings")
    dim = len(e.select("embedding").first()["embedding"])
    q = e.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    return ivf_topk(e, q, dim=dim, k=10, n_lists=16, nprobe=4, iters=3)


def r14_near_dup_groups(spark, sf_dir):
    """Near-dup pairs → duplicate GROUPS with a canonical keeper: minhash
    pairs clustered by connected components (operators/components.py);
    docs in no pair keep themselves. Components are oracle-checked by
    q16; this composes them with the production pair generator."""
    from wayproblems_spark.operators.components import near_dup_groups
    from wayproblems_spark.operators.dedup import minhash_lsh_pairs

    d = _t(spark, sf_dir, "documents").limit(200)
    dup = d.withColumn("doc_id", F.col("doc_id") + 1000000).withColumn(
        "text", F.concat("text", F.lit(" tail marker"))
    )
    docs = d.unionByName(dup)
    pairs = minhash_lsh_pairs(docs, jaccard_threshold=0.5)
    return near_dup_groups(docs.select("doc_id"), pairs)


def r15_embedding_near_dups(spark, sf_dir):
    """Embedding-cosine near-dup pairs (LSH self-buckets + exact verify,
    operators/similarity.py::embedding_near_dups) — the embedding flavor
    of the dedup family. Planted scaled copies (cosine exactly 1) of the
    embeddings table must pair with their originals."""
    from wayproblems_spark.operators.similarity import embedding_near_pairs

    e = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    dim = len(e.select("embedding").first()["embedding"])
    dup = e.select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(1.0001)).alias("embedding"),
    )
    return embedding_near_pairs(
        e.unionByName(dup), dim, threshold=0.995, n_planes=12, n_tables=6
    ).select("a", "b", F.round("sim", 6).alias("sim_r6"))


def r16_curate_corpus(spark, sf_dir):
    """The corpus-curation pipeline capstone (jobs/curate_corpus.py) run
    end-to-end over the fixture documents table with EVERY stage on:
    PII scrub [q44] → substring strip [q57] → quality gate [q26] → repetition filter [q45] →
    md5-stratified sampling [q29] → per-source cap [q48] → benchmark
    decontamination [q46] → MinHash near-dup pairs [q21] → max-quality
    keep decision [q30] — returns the (doc_id, keeper_id, kept) decision
    audit. Rows-only by design: the composed funnel's individual stages
    each carry their own hash-exact oracle row; this entry exercises the
    COMPOSITION (the production job path) per round. Deterministic end
    to end (fixed hashes, md5 keys, argmax ties on id), so the rows-only
    count is stable."""
    import os
    import sys

    sys.path.insert(
        0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "jobs")
    )
    from curate_corpus import curate

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source"
    )
    curated, decisions, vocab, stats, (staged, tp) = curate(
        spark, docs, min_quality=0.3, jaccard=0.8, vocab_k=25,
        redact=True, strip_substrings=8, repetition=True, source_cap=40,
        benchmark=docs.filter(F.col("doc_id") % 13 == 0), decontam_n=5,
    )
    # materialize the (small) audit eagerly, then release curate()'s
    # persisted frames — the 49-query driver harness shares one session,
    # so anything left cached here stays pinned for the whole sweep
    decisions = decisions.localCheckpoint(eager=True)
    for fr in tp:
        fr.unpersist()
    staged.unpersist()
    return decisions


def r17_pq_topk(spark, sf_dir):
    """PQ ADC top-k end-to-end (train → encode → LUT scan → window top-k)
    over the embeddings table, querying 8 member vectors. Rows-only by
    design: the encode argmin is hash-locked by q37 and the ADC math by
    test_pq (adc == exact numpy recompute); this entry exercises the
    composed production path per round. Deterministic (stride-seeded
    k-means, stable argmins, (dist, id) tie order)."""
    from wayproblems_spark.operators.similarity import (
        build_pq_index,
        pq_topk,
        pq_train,
    )

    e = _t(spark, sf_dir, "embeddings")
    cb = pq_train(e, dim=64, m=8, k=16, iters=5)
    prebuilt = build_pq_index(e, dim=64, codebooks=cb)
    queries = e.orderBy("vec_id").limit(8).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    out = pq_topk(prebuilt, queries, k=10).select(
        "q_id", "vec_id", F.round("adc_dist", 6).alias("adc_r6"), "rank"
    )
    out = out.localCheckpoint(eager=True)
    prebuilt[1].unpersist()
    return out


def r18_ivfpq_topk(spark, sf_dir):
    """IVF-PQ composed ANN (coarse-list probe → ADC lookup-table scan →
    exact re-rank of the shortlist) over the embeddings table. Rows-only
    by design: the PQ encode argmin is hash-locked by q37, the IVF list
    math by q22, and the ADC gather by test_pq; this entry exercises the
    composed production path (the FAISS-IVFPQ shape — the index the
    engine would actually ship at 10^12 rows) per round. Deterministic
    end-to-end (stride-seeded codebooks, hash-seeded centroids, stable
    argmins, (sim desc, id asc) tie order)."""
    from wayproblems_spark.operators.similarity import build_ivfpq_index, ivfpq_topk

    e = _t(spark, sf_dir, "embeddings")
    pre = build_ivfpq_index(e, dim=64, m=8, k=16, n_lists=16, iters=4)
    queries = e.orderBy("vec_id").limit(8).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    out = ivfpq_topk(
        pre, queries, k=10, nprobe=4, rerank_corpus=e, shortlist=100
    ).select("q_id", "vec_id", F.round("sim", 6).alias("sim_r6"), "rank")
    out = out.localCheckpoint(eager=True)
    pre[2].unpersist()
    return out


def r19_simplify_ways(spark, sf_dir):
    """Douglas-Peucker simplification over deterministic synthetic
    polylines (24-vertex zigzags with event_id-derived amplitude, so some
    ways collapse to endpoints and others keep every spike). Rows-only by
    design (per-feature recursion has no SQL analog); the operator's
    correctness gate is tests/test_chunk_simplify.py — an independent
    recursive reference plus the within-tolerance guarantee."""
    from wayproblems_spark.operators.geometry import simplify_ways

    ev = _t(spark, sf_dir, "events")
    base = ev.filter(F.col("event_id") % 11 == 0).select(
        F.col("event_id").alias("way_id"),
        (F.lit(-40.0) + (F.col("event_id") % 80000) / 1000.0).alias("lat0"),
        (F.lit(-170.0) + ((F.col("event_id") * 13) % 340000) / 1000.0).alias("lon0"),
        # amplitude cycles 0..10 half-millidegrees: ~0..550 m spikes
        # (event_id is always ≡0 mod 11 here, so derive from the quotient)
        (((F.col("event_id") / 11).cast("long") % 11) * 0.0005).alias("amp"),
    )
    geom = F.transform(
        F.sequence(F.lit(0), F.lit(23)),
        lambda i: F.struct(
            (F.col("lon0") + i.cast("double") * 0.002).alias("lon"),
            (F.col("lat0") + (i % 2).cast("double") * F.col("amp")).alias("lat"),
        ),
    )
    ways = base.select("way_id", geom.alias("geom"))
    out = simplify_ways(ways, tolerance_m=300.0)
    return out.select(
        "way_id",
        F.lit(24).alias("n_in"),
        F.size("geom").alias("n_out"),
    )


def q11_tile_counts_sql(spark, sf_dir):
    """G6 tile math oracle-checked: deterministic synthetic lat/lon derived
    from event_id, slippy tile assignment at z=11 via the production
    tile_xy expressions, per-tile counts. The DuckDB oracle reimplements
    the identical IEEE double composition in SQL."""
    from wayproblems_spark.operators.tiles import tile_xy

    ev = _t(spark, sf_dir, "events")
    p = ev.select(
        (F.lit(-60.0) + (F.col("event_id") % 120000) / 1000.0).alias("lat"),
        (F.lit(-180.0) + ((F.col("event_id") * 7) % 360000) / 1000.0).alias("lon"),
    )
    x, y = tile_xy(F.col("lon"), F.col("lat"), 11)
    return (
        p.withColumn("tile_x", x)
        .withColumn("tile_y", y)
        .groupBy("tile_x", "tile_y")
        .agg(F.count("*").alias("n"))
    )


def q12_knn_bruteforce_sql(spark, sf_dir):
    """G5 kNN oracle-checked: a small synthetic point/way-vertex split of
    the events table; the full tiered operator (index join + escalation
    ladder + brute tail) against a DuckDB cross-join argmin with the same
    chord-distance formula and (dist, way_id) tie order."""
    from wayproblems_spark.operators.knn import knn_nearest_way

    ev = _t(spark, sf_dir, "events")
    lat = (F.lit(-55.0) + (F.col("event_id") % 110000) / 1000.0).alias("lat")
    lon = (F.lit(-180.0) + ((F.col("event_id") * 11) % 360000) / 1000.0).alias("lon")
    pts = ev.filter(F.col("event_id") % 97 == 0).select(
        F.col("event_id").alias("point_id"), lat, lon
    )
    ways = ev.filter(F.col("event_id") % 89 == 0).select(
        F.col("event_id").alias("way_id"),
        F.array(F.struct(lon.alias("lon"), lat.alias("lat"))).alias("geom"),
    )
    out = knn_nearest_way(pts, ways, level=8)
    return out.select(
        "point_id", "way_id", F.round("dist_m", 4).alias("dist_r4")
    )


def q14_knn_segments_sql(spark, sf_dir):
    """G5b segment-distance kNN oracle-checked: synthetic 2-vertex ways from
    the events table; the tiered operator vs a DuckDB cross-join argmin
    replicating the identical point-to-arc chord formula (hand-expanded
    cross products, same op order)."""
    from wayproblems_spark.operators.knn import knn_nearest_way_segments

    ev = _t(spark, sf_dir, "events")
    plat = (F.lit(-50.0) + (F.col("event_id") % 100000) / 1000.0).alias("lat")
    plon = (F.lit(-180.0) + ((F.col("event_id") * 17) % 360000) / 1000.0).alias("lon")
    pts = ev.filter(F.col("event_id") % 101 == 0).select(
        F.col("event_id").alias("point_id"), plat, plon
    )
    alat = F.lit(-50.0) + (F.col("event_id") % 100000) / 1000.0
    alon = F.lit(-180.0) + ((F.col("event_id") * 17) % 360000) / 1000.0
    blat = alat + 0.4
    blon = alon + 0.7
    ways = ev.filter(F.col("event_id") % 83 == 0).select(
        F.col("event_id").alias("way_id"),
        F.array(
            F.struct(alon.alias("lon"), alat.alias("lat")),
            F.struct(blon.alias("lon"), blat.alias("lat")),
        ).alias("geom"),
    )
    out = knn_nearest_way_segments(pts, ways, level=8)
    return out.select(
        "point_id", "way_id", F.round("dist_m", 4).alias("dist_r4")
    )


def q13_s2_grid_sql(spark, sf_dir):
    """G3 S2 ST-transform oracle-checked: points constrained to cube face 1
    (lon 50..130, |lat|<=30), encoded with the production numpy grid
    encoder; the DuckDB oracle computes the same face-1 uv → quadratic ST →
    (gi, gj) packing in closed-form SQL — an INDEPENDENT implementation of
    the published S2 projection, not a replay."""
    from wayproblems_spark.operators.cells import with_grid

    ev = _t(spark, sf_dir, "events")
    p = ev.select(
        F.col("event_id"),
        (F.lit(-30.0) + (F.col("event_id") % 60000) / 1000.0).alias("lat"),
        (F.lit(50.0) + ((F.col("event_id") * 13) % 80000) / 1000.0).alias("lon"),
    )
    return with_grid(p, "lat", "lon", 12, out="cell").select("event_id", "cell")


def q15_pip_sql(spark, sf_dir):
    """G4 point-in-polygon oracle-checked: the full production operator
    (driver-side sound S2 cell cover → broadcast bucket join → JVM
    ray cast, operators/pip.py) vs a DuckDB brute-force even-odd +
    on-edge oracle over the same literal polygons. P1 straddles the
    face-0/1 seam at lon 45°, so this locks in the cross-face cover fix
    (cells.covering_cells)."""
    from wayproblems_spark.operators.pip import point_in_polygon

    ev = _t(spark, sf_dir, "events")
    pts = ev.select(
        F.col("event_id").alias("point_id"),
        (F.lit(5.0) + (F.col("event_id") % 20000) / 1000.0).alias("lat"),
        (F.lit(38.0) + ((F.col("event_id") * 7) % 14000) / 1000.0).alias("lon"),
    )
    polys = spark.createDataFrame(
        [(pid, kind, ring) for pid, kind, ring in _PIP_POLYS],
        "poly_id long, kind string, ring array<struct<lon:double,lat:double>>",
    )
    return point_in_polygon(spark, pts, polys, level=9).select(
        "point_id", "poly_id", "kind"
    )


def q16_components_sql(spark, sf_dir):
    """Connected components (operators/components.py — iterative hash-min
    label propagation, the near-dup pairs→groups step) oracle-checked
    against a DuckDB RECURSIVE transitive closure on the same synthetic
    edge set: 10-member star clusters from the events table, occasionally
    bridged by a %97 edge."""
    from wayproblems_spark.operators.components import connected_components

    ev = _t(spark, sf_dir, "events")
    e0 = ev.select(
        F.col("event_id").alias("a"),
        (F.col("event_id") - F.col("event_id") % 10).alias("b"),
    )
    e1 = ev.filter((F.col("event_id") % 97 == 0) & (F.col("event_id") > 0)).select(
        F.col("event_id").alias("a"), (F.col("event_id") - 1).alias("b")
    )
    return connected_components(e0.unionByName(e1)).select("id", "component_id")


def q17_way_length_sql(spark, sf_dir):
    """Way polyline length (operators/geometry.py — haversine per segment,
    decimal-accumulated per-way totals) vs a DuckDB oracle with the
    identical composition; synthetic 3-vertex ways from events."""
    from wayproblems_spark.operators.geometry import way_length_m

    ev = _t(spark, sf_dir, "events")
    lat = F.lit(-50.0) + (F.col("event_id") % 100000) / 1000.0
    lon = F.lit(-170.0) + ((F.col("event_id") * 19) % 340000) / 1000.0

    def P(dlo, dla):
        lo = lon + dlo if dlo else lon
        la = lat + dla if dla else lat
        return F.struct(lo.alias("lon"), la.alias("lat"))

    ways = ev.select(
        F.col("event_id").alias("way_id"),
        F.array(P(0, 0), P(0.3, 0.2), P(0.5, -0.1)).alias("geom"),
    )
    # r4 rounding absorbs libm-vs-JVM 1-ulp sin/cos noise (q12 pattern)
    return way_length_m(ways).select(
        "way_id", F.round("length_m", 4).alias("length_r4")
    )


def q18_ring_area_sql(spark, sf_dir):
    """Equirectangular shoelace ring area (operators/geometry.py) vs the
    DuckDB oracle with identical projection/op order; synthetic closed
    quads from events."""
    from wayproblems_spark.operators.geometry import ring_area_m2

    ev = _t(spark, sf_dir, "events")
    lat = F.lit(-50.0) + (F.col("event_id") % 100000) / 1000.0
    lon = F.lit(-170.0) + ((F.col("event_id") * 23) % 340000) / 1000.0

    def P(dlo, dla):
        lo = lon + dlo if dlo else lon
        la = lat + dla if dla else lat
        return F.struct(lo.alias("lon"), la.alias("lat"))

    polys = ev.select(
        F.col("event_id").alias("poly_id"),
        F.array(
            P(0, 0), P(0.4, 0.05), P(0.35, 0.45), P(-0.05, 0.4), P(0, 0)
        ).alias("ring"),
    )
    # the ~1e14 cross terms make a double ulp ≈ 0.02 m²: report km² at one
    # decimal so engine libm 1-ulp noise cannot cross a rounding boundary
    return ring_area_m2(polys).select(
        "poly_id", F.round(F.col("area_m2") / 1000000.0, 1).alias("area_km2_r1")
    )


def q20_pip_holes_sql(spark, sf_dir):
    """G4 point-in-polygon with HOLES oracle-checked: the production
    operator's even-odd parity count over outer + hole edges (the hole
    interior flips parity back to even) vs the same brute-force SQL
    formulation with the hole edges included — exactly the q15 pairing,
    extended to multi-ring polygons."""
    from wayproblems_spark.operators.pip import point_in_polygon

    ev = _t(spark, sf_dir, "events")
    pts = ev.select(
        F.col("event_id").alias("point_id"),
        (F.lit(5.0) + (F.col("event_id") % 20000) / 1000.0).alias("lat"),
        (F.lit(38.0) + ((F.col("event_id") * 7) % 14000) / 1000.0).alias("lon"),
    )
    polys = spark.createDataFrame(
        [(pid, kind, outer, holes) for pid, kind, outer, holes in _PIP_HOLED],
        "poly_id long, kind string, ring array<struct<lon:double,lat:double>>, "
        "holes array<array<struct<lon:double,lat:double>>>",
    )
    return point_in_polygon(spark, pts, polys, level=9).select(
        "point_id", "poly_id", "kind"
    )


def q19_simhash_band_sql(spark, sf_dir):
    """Dedup-family oracle row (the family's first hash-exact check — the
    DuckDB oracle cannot replicate xxhash64, so the signature is a
    deterministic overflow-free polynomial of doc_id computed identically
    on both sides): groups of 4 docs share a base signature and differ in
    2 noise bits (hamming ≤ 2), pushed through the PRODUCTION pigeonhole
    banding (operators/dedup.py simhash_band_pairs). Banding has recall 1
    at any radius, so the oracle is the brute-force O(n²) hamming join —
    the banded candidate generation + cap + dedup must reproduce it
    exactly."""
    from wayproblems_spark.operators.dedup import simhash_band_pairs

    docs = _t(spark, sf_dir, "documents")
    base = F.expr("doc_id DIV 4")
    # (base*K) fills bits 0..41, (base%32768)<<48 fills bits 48..62 —
    # all exact int64 arithmetic (no overflow → portable to DuckDB)
    sig = (
        (base * F.lit(3037000493))
        .bitwiseXOR(F.shiftleft(base % F.lit(32768), 48))
        .bitwiseXOR(F.expr("doc_id % 4"))
    )
    s = docs.select(F.col("doc_id").alias("_id"), sig.alias("simhash"))
    pairs = simhash_band_pairs(s, max_hamming=3)["pairs"]
    return pairs.select("a", "b", F.col("hamming").cast("long").alias("hamming"))


def q21_minhash_lsh_sql(spark, sf_dir):
    """MinHash-family hash-exact oracle row (VERDICT r4 "missing #3" —
    the last major dedup family member without a DuckDB-bit-exact check):
    deterministic token sets built from doc_id (the q19 pattern — DuckDB
    cannot replicate xxhash64, so the CONTENT is what both sides share)
    are pushed through the PRODUCTION minhash path — `_shingle_hash_rows`
    codegen xxhash64 shingle rows → `_band_buckets` 64-min signature →
    bucket cap → band self-join → exact Jaccard verify — and must
    reproduce the brute-force O(n²) Jaccard join exactly.

    Construction: groups of 4 docs over group-unique token vocabularies —
    members 0/1 identical (J=1, banded with probability 1 by identity of
    all 64 mins), member 2 shares 18/22 tokens (J=18/22≈0.818 ≥ 0.8,
    band-hit probability 1-(1-0.818²)³² ≈ 1-4e-16 at 32 bands × 2 rows —
    and the data is DETERMINISTIC, so the locally-verified recall holds
    at every re-run), member 3 shares 10/30 (J=1/3, below threshold both
    sides). Jaccard values are exact small-integer double divisions —
    bit-identical across Spark and DuckDB."""
    from wayproblems_spark.operators.dedup import minhash_lsh_pairs

    docs = _t(spark, sf_dir, "documents")
    g = F.expr("doc_id DIV 4")
    m = F.expr("doc_id % 4")

    def tok(i):
        return F.concat(F.lit("w"), (g * 64 + i).cast("string"))

    def toks(lo, hi):  # [lo, hi) — mirrors DuckDB range(lo, hi)
        return F.transform(F.sequence(F.lit(lo), F.lit(hi - 1)), tok)

    arr = (
        F.when(m == 2, F.concat(toks(0, 18), toks(40, 42)))
        .when(m == 3, F.concat(toks(0, 10), toks(50, 60)))
        .otherwise(toks(0, 20))
    )
    d = docs.select("doc_id", F.array_join(arr, " ").alias("text"))
    pairs = minhash_lsh_pairs(
        d, k=1, num_hashes=64, bands=32, jaccard_threshold=0.8
    )
    return pairs.select("a", "b", "jaccard")


def q22_ivf_exhaustive_topk_sql(spark, sf_dir):
    """ANN family's first hash-exact oracle row (the q19/q21 pattern
    applied to similarity search): the PRODUCTION `ivf_topk` path —
    k-means list training, corpus list assignment, per-query probe
    explode, bucket join, re-rank, windowed top-k — run at EXHAUSTIVE
    probing (nprobe = n_lists), where the probed lists cover the whole
    corpus and the result provably equals brute-force exact top-k
    independent of the trained centroids. `rerank="expr"` keeps the
    cosine in JVM f64 (same sequential fold as DuckDB's
    list_dot_product — the parity q07 already locks at ROUND(4));
    tie-break (sim DESC, vec_id ASC) is deterministic both sides."""
    from wayproblems_spark.operators.similarity import ivf_topk

    e = _t(spark, sf_dir, "embeddings")
    dim = 64
    q = e.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    res = ivf_topk(
        e, q, dim=dim, k=20, n_lists=8, nprobe=8, iters=3, rerank="expr"
    )
    return res.select(
        "q_id",
        "vec_id",
        F.col("rank").cast("long").alias("rank"),
        F.round("sim", 4).alias("sim"),
    )


def q23_near_dup_groups_sql(spark, sf_dir):
    """Dedup DECISION step hash-exact oracle: the full near-dup grouping
    pipeline — q21's deterministic token corpus through the PRODUCTION
    `minhash_lsh_pairs` (banding + bucket cap + exact Jaccard verify)
    then the PRODUCTION `near_dup_groups` (iterative hash-min
    `connected_components` + keeper join) — must reproduce DuckDB's
    brute-force Jaccard pair set closed under a recursive transitive
    closure with MIN-reachable keeper. Components here are {4g, 4g+1,
    4g+2} triangles (J=1 and 18/22 edges, recall 1 per q21's analysis)
    with 4g+3 a singleton keeping itself — small diameters, but the
    Spark side still exercises the generic iterative fixpoint, not a
    special case."""
    from wayproblems_spark.operators.components import near_dup_groups
    from wayproblems_spark.operators.dedup import minhash_lsh_pairs

    docs = _t(spark, sf_dir, "documents")
    g = F.expr("doc_id DIV 4")
    m = F.expr("doc_id % 4")

    def tok(i):
        return F.concat(F.lit("w"), (g * 64 + i).cast("string"))

    def toks(lo, hi):
        return F.transform(F.sequence(F.lit(lo), F.lit(hi - 1)), tok)

    arr = (
        F.when(m == 2, F.concat(toks(0, 18), toks(40, 42)))
        .when(m == 3, F.concat(toks(0, 10), toks(50, 60)))
        .otherwise(toks(0, 20))
    )
    d = docs.select("doc_id", F.array_join(arr, " ").alias("text"))
    pairs = minhash_lsh_pairs(
        d, k=1, num_hashes=64, bands=32, jaccard_threshold=0.8
    )
    groups = near_dup_groups(docs.select("doc_id"), pairs)
    return groups.select("doc_id", "keeper_id")


def q24_adaptive_cell_split_sql(spark, sf_dir):
    """G7 skew-handling hash-exact oracle: the PRODUCTION
    `adaptive_cell_split` (plans/skew.py — two-pass per-cell count →
    broadcast hot set → mixed-resolution re-encode; the north_star's
    "adaptive cell splitting") with the canonical numpy grid encoder
    (encoder="grid", the same q13-locked face/ST/(i,j) packing) over a
    deliberately skewed face-1 point set: 3/4 of points flood a 0.2°×0.2°
    window (hot level-8 cells ~1.9k rows each, split to level 10), 1/4
    spread across ~50°×70° (cold single-digit cells, stay level 8). The
    DuckDB oracle recomputes both levels' grid ids closed-form and applies
    the same >500 budget — counts sit far from the threshold on both
    sides, so the hot/cold decision is ulp-robust."""
    from wayproblems_spark.plans.skew import adaptive_cell_split

    ev = _t(spark, sf_dir, "events")
    spread = F.col("event_id") % 4 == 0
    p = ev.select(
        "event_id",
        F.when(spread, F.lit(-25.0) + ((F.col("event_id") * 13) % 50000) / 1000.0)
        .otherwise(F.lit(10.0) + (F.col("event_id") % 200) / 1000.0)
        .alias("lat"),
        F.when(spread, F.lit(55.0) + ((F.col("event_id") * 7) % 70000) / 1000.0)
        .otherwise(F.lit(62.0) + ((F.col("event_id") * 3) % 200) / 1000.0)
        .alias("lon"),
    )
    out = adaptive_cell_split(
        p, "lat", "lon", base_level=8, max_rows_per_cell=500, delta=2, encoder="grid"
    )
    return out.select("event_id", "cell")


def q25_embedding_lsh_exhaustive_sql(spark, sf_dir):
    """Embedding near-dup family's hash-exact oracle row: the PRODUCTION
    `embedding_near_pairs` (hyperplane-LSH self-buckets → per-bucket cap →
    batched-einsum exact cosine verify, operators/similarity.py) at
    EXHAUSTIVE parameterization — n_tables=1 with n_planes=0 puts the
    whole corpus in one bucket, so the result provably equals brute-force
    all-pairs cosine ≥ threshold regardless of the hyperplane draw (the
    q22 exhaustive-probing pattern). Locks the bucket-join / cap / verify
    plumbing that r15 exercises only rows-only."""
    from wayproblems_spark.operators.similarity import embedding_near_pairs

    e = _t(spark, sf_dir, "embeddings")
    pairs = embedding_near_pairs(
        e, dim=64, threshold=0.3, n_planes=0, n_tables=1, max_bucket=1_000_000
    )
    return pairs.select("a", "b", F.round("sim", 4).alias("sim_r4"))


def q26_doc_quality_sql(spark, sf_dir):
    """Text-analysis family's full hash-exact oracle row: the PRODUCTION
    `document_stats` (operators/textstats.py — whitespace + BPE-ish regex
    token counting, punct/stopword/mean-token-length ratios, the composite
    [0,1] quality score, marker-word argmax language-ID) vs DuckDB
    recomputing every column closed-form. All arithmetic is +,*,/ over
    quotients of small integers (no transcendentals), so both engines
    produce bit-identical doubles given identical token counts; ROUND(6)
    is applied by the production operator itself and mirrored in SQL.
    The engine-specific `fingerprint` column (xxhash64 fold) stays
    rows-only in r10. Upgrades r10's core columns to hash-exact."""
    from wayproblems_spark.operators.textstats import document_stats

    d = _t(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    return document_stats(d).select(
        "doc_id",
        F.col("token_count").cast("long").alias("token_count"),
        F.col("bpe_token_count").cast("long").alias("bpe_token_count"),
        "punct_ratio",
        "stopword_ratio",
        "mean_token_len",
        "quality",
        "lang_guess",
    )


def q27_access_combinations_sql(spark, sf_dir):
    """P9 accesscombinations hash-exact oracle row: the PRODUCTION
    `access_combinations(with_wayid=True)` (operators/accessdump.py,
    mirroring accesscombinations.cpp:26-53's fixed-key-order
    `key=value ` dump) over a tags map synthesized deterministically from
    lineitem (the q08 pattern) vs DuckDB rebuilding the same line with
    string CASE logic. Pure string output — no float risk; locks the
    second reference binary's semantics (fixed key order, trailing
    space, ways without highway dropped) which was pytest-only."""
    from wayproblems_spark.operators.accessdump import access_combinations

    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_linenumber") == 1)
    m8 = F.pmod("l_orderkey", 8)
    m5 = F.pmod("l_orderkey", 5)
    m3 = F.pmod("l_orderkey", 3)
    # deterministic sparse tag map: ~7/8 ways get highway; access/bicycle/
    # foot/hgv appear on residue classes so many distinct combinations occur
    entries = [
        F.when(m8 < 7, F.struct(F.lit("highway").alias("key"),
               F.when(m8 < 3, "residential").when(m8 < 5, "track")
                .otherwise("footway").alias("value"))),
        F.when(m5 == 0, F.struct(F.lit("access").alias("key"),
               F.when(m3 == 0, "no").otherwise("private").alias("value"))),
        F.when(m5 == 1, F.struct(F.lit("bicycle").alias("key"),
               F.lit("yes").alias("value"))),
        F.when(m3 == 2, F.struct(F.lit("foot").alias("key"),
               F.lit("designated").alias("value"))),
        F.when(m5 == 3, F.struct(F.lit("hgv").alias("key"),
               F.lit("destination").alias("value"))),
        F.when(m8 == 3, F.struct(F.lit("motor_vehicle").alias("key"),
               F.lit("agricultural").alias("value"))),
    ]
    tags = F.map_from_entries(
        F.filter(F.array(*entries), lambda e: e.isNotNull())
    )
    ways = li.select(F.col("l_orderkey").alias("way_id"), tags.alias("tags"))
    return access_combinations(ways, with_wayid=True)


def q28_binary_sniff_sql(spark, sf_dir):
    """Binary-content family hash-exact oracle row: the PRODUCTION
    `byte_stats` (operators/binaryops.py — JVM magic-byte CASE sniffer +
    Arrow-batched entropy pass) over blobs synthesized deterministically
    from documents (real magic prefixes by doc_id residue, every prefix
    zero-padded to 12 bytes so text can never alias a magic at any probe
    offset — scale/fixture-independent) vs DuckDB
    computing the expected label and byte length closed-form
    (octet_length of the UTF-8 text + prefix length). Exercises the full
    mapInPandas plumbing; the float columns (entropy/printable) stay
    pytest-gated vs a pure-Python reference — only the deterministic
    format/n_bytes surface is hashed."""
    from wayproblems_spark.operators.binaryops import byte_stats

    d = _t(spark, sf_dir, "documents")
    m6 = F.pmod("doc_id", 6)
    # every prefix is padded to EXACTLY 12 bytes — the farthest probe
    # window (WEBP/WAVE at offset 8..12) ends at byte 12, so document
    # text can never alias a magic at any probe offset regardless of
    # scale factor or fixture content; \x00 padding matches no magic
    prefix = (
        F.when(m6 == 0, F.lit(bytearray(b"\xff\xd8\xff" + b"\x00" * 9)))
        .when(m6 == 1, F.lit(bytearray(b"\x89PNG\r\n\x1a\n" + b"\x00" * 4)))
        .when(m6 == 2, F.lit(bytearray(b"RIFF\x00\x00\x00\x00WAVE")))
        .when(m6 == 3, F.lit(bytearray(b"%PDF" + b"\x00" * 8)))
        .when(m6 == 4, F.lit(bytearray(b"\x00" * 12)))
        .otherwise(F.lit(bytearray(b"\x1f\x8b" + b"\x00" * 10)))
    )
    blobs = d.select(
        "doc_id",
        F.concat(prefix, F.encode("text", "UTF-8")).alias("blob"),
    )
    out = byte_stats(blobs, id_col="doc_id", blob_col="blob")
    return out.select(F.col("id").alias("doc_id"), "format", "n_bytes")


def q29_stratified_sample_sql(spark, sf_dir):
    """Deterministic sampling oracle row: the PRODUCTION
    `stratified_sample` (operators/sampling.py — md5-keyed, per-language
    keep rates folded into one codegen CASE threshold) vs DuckDB
    replicating the keep decision in HEX-STRING space (8-char lowercase
    md5 prefix compared lexicographically against the zero-padded hex
    threshold — identical ordering to the numeric compare, no integer
    parse needed). Locks the property that matters: the kept SET is a
    pure function of (key, salt, stratum rate) — reproducible across
    engines, runs, and partitionings."""
    from wayproblems_spark.operators.sampling import stratified_sample

    d = _t(spark, sf_dir, "documents")
    kept = stratified_sample(
        d,
        key_col="doc_id",
        stratum_col="lang",
        rates={"en": 0.25, "de": 0.5, "fr": 0.1},
        default_rate=0.75,
        salt="s1",
    )
    return kept.select("doc_id", "lang")


def q30_canonical_docs_sql(spark, sf_dir):
    """The dedup pipeline CAPSTONE hash-exact oracle: q23's deterministic
    token corpus through the PRODUCTION `minhash_lsh_pairs` → PRODUCTION
    `canonical_docs` (hash-min components → per-group max-quality keeper,
    ties → min id) vs DuckDB's brute-force Jaccard pairs → recursive
    transitive closure → window argmax. Quality is a deterministic
    small-integer quotient ((doc_id DIV 2)*37 % 101)/100 so both engines
    hold bit-identical doubles, AND consecutive ids share quality —
    within the {4g, 4g+1, 4g+2} triangles the (quality, -id) tie-break
    path is genuinely exercised, not just the argmax."""
    from wayproblems_spark.operators.components import canonical_docs
    from wayproblems_spark.operators.dedup import minhash_lsh_pairs

    docs = _t(spark, sf_dir, "documents")
    g = F.expr("doc_id DIV 4")
    m = F.expr("doc_id % 4")

    def tok(i):
        return F.concat(F.lit("w"), (g * 64 + i).cast("string"))

    def toks(lo, hi):
        return F.transform(F.sequence(F.lit(lo), F.lit(hi - 1)), tok)

    arr = (
        F.when(m == 2, F.concat(toks(0, 18), toks(40, 42)))
        .when(m == 3, F.concat(toks(0, 10), toks(50, 60)))
        .otherwise(toks(0, 20))
    )
    d = docs.select("doc_id", F.array_join(arr, " ").alias("text"))
    pairs = minhash_lsh_pairs(
        d, k=1, num_hashes=64, bands=32, jaccard_threshold=0.8
    )
    withq = docs.select(
        "doc_id",
        (F.expr("CAST((doc_id DIV 2) * 37 % 101 AS DOUBLE)") / 100.0).alias(
            "quality"
        ),
    )
    return canonical_docs(withq, pairs).select("doc_id", "keeper_id", "kept")


def q31_image_metadata_sql(spark, sf_dir):
    """Multimodal plumbing hash-exact oracle: the PRODUCTION
    `image_metadata` (operators/multimodal.py — mapInPandas Arrow batches,
    struct-unpacked fake header; the decode body is the documented stub,
    the plumbing is the real contract) over blobs whose FIMG header is
    synthesized with correct little-endian width/height (JVM byte-swap of
    the residue dims) plus a corrupted-magic class every 7th doc — vs
    DuckDB computing the expected metadata closed-form from the synthesis
    parameters (valid rows echo the dims; corrupt rows → NULL format,
    zero dims, valid=false; n_bytes counts the whole blob either way)."""
    from wayproblems_spark.operators.multimodal import image_metadata

    d = _t(spark, sf_dir, "documents")
    w = F.pmod("doc_id", 1920) + 1
    h = F.pmod("doc_id", 1080) + 1

    def le32(col):
        # little-endian byte order of a value < 2^16, as 8 hex digits
        # (cast to long BEFORE the 2^24 multiply — int32 would overflow)
        v = (
            F.pmod(col, 256).cast("long") * 16777216
            + F.floor(col / 256).cast("long") * 65536
        )
        return F.to_binary(F.lpad(F.hex(v), 8, "0"), F.lit("hex"))

    magic = F.when(F.pmod("doc_id", 7) == 0, F.lit(b"XIMG")).otherwise(
        F.lit(b"FIMG")
    )
    blob = F.concat(magic, le32(w), le32(h), F.encode("text", "UTF-8"))
    imgs = d.select(F.col("doc_id").alias("id"), blob.alias("blob"))
    return image_metadata(imgs)


def q32_vocab_topk_sql(spark, sf_dir):
    """Vocabulary-build hash-exact oracle: the PRODUCTION `vocab_topk`
    (operators/textstats.py — explode → map-side-combined count →
    TakeOrderedAndProject top-k with deterministic (n DESC, term ASC)
    ties) vs DuckDB unnest + count + ORDER BY + LIMIT. The ordering is
    total, so the k-boundary is deterministic in both engines."""
    from wayproblems_spark.operators.textstats import vocab_topk

    d = _t(spark, sf_dir, "documents")
    return vocab_topk(d, 25)


def q33_quantize_int8_sql(spark, sf_dir):
    """Embedding int8-quantization hash-exact oracle: the PRODUCTION
    `quantize_int8` (operators/similarity.py — per-vector symmetric
    scale, floor(x/scale + 0.5) half-up rounding, ±127 clamp) exploded to
    (vec_id, pos, qv) rows vs DuckDB recomputing closed-form over the
    same f64-cast vectors. Every step is IEEE +,*,/,floor on identical
    inputs — bit-identical in both engines; floor(x+0.5) was chosen over
    engine round() precisely because the two engines' round() tie rules
    differ (numpy banker's vs half-away) while floor is floor."""
    from wayproblems_spark.operators.similarity import quantize_int8

    e = _t(spark, sf_dir, "embeddings")
    qdf = quantize_int8(e)
    return qdf.select(
        "vec_id",
        F.round("scale", 9).alias("scale_r9"),
        F.posexplode("q"),
    ).select(
        "vec_id",
        "scale_r9",
        F.col("pos").cast("int").alias("pos"),
        F.col("col").cast("int").alias("qv"),
    )


def q34_rules_catalog_sql(spark, sf_dir):
    """THE production rule-catalogue hash-exact oracle row (VERDICT r5 #1):
    the REAL ``rules.engine.problems`` — gate + all ~230 emission sites of
    wayproblems.cpp:1441-1546, the same code path r01/r02 run — over a
    deterministic synthesized way corpus (rules/synth.py: every tag a
    closed-form residue of way_id), vs DuckDB re-deriving every site from
    the DuckDB dialect of the catalogue's SQL renderer (rules/sqlgen.py),
    whose Spark dialect is the engine's own rule expression. Covers all live
    sites at sf0.01 (coverage test in tests/test_catalog_oracle.py),
    including printf '(null)' args (Q2), 254-char truncation (Q8), the
    trailing-space key (Q5), and the turn:lanes fold emitters."""
    from wayproblems_spark.rules.engine import problems
    from wayproblems_spark.rules.synth import synth_ways_spark

    ways = synth_ways_spark(_t(spark, sf_dir, "lineitem"))
    return problems(ways).select(
        "way_id",
        F.col("site").cast("long").alias("site"),
        F.col("sub").cast("long").alias("sub"),
        "layer",
        "style",
        "problem",
    )


def q35_tile_pyramid_sql(spark, sf_dir):
    """G6 pyramid-rollup hash-exact oracle (closes the r03 family's last
    unlocked operator): the PRODUCTION ``tile_pyramid_anchored`` — the
    single-agg-at-z_max + shiftright rollup the real pipeline ships — over
    q11's synthesized anchors plus a 3-way layer split, vs DuckDB
    computing every zoom's floors DIRECTLY. Locks the rollup ≡ per-zoom
    equivalence cross-engine: both sides scale the same IEEE base double
    by exact powers of two, so floor(base·2^z) == floor(base·2^zmax) >>
    (zmax−z) clamp-for-clamp (tiles.py docstring; test-asserted
    in-engine, hash-verified here)."""
    from wayproblems_spark.operators.tiles import tile_pyramid_anchored

    ev = _t(spark, sf_dir, "events")
    p = ev.select(
        (F.lit(-60.0) + (F.col("event_id") % 120000) / 1000.0).alias("_lat"),
        (F.lit(-180.0) + ((F.col("event_id") * 7) % 360000) / 1000.0).alias("_lon"),
        F.when(F.col("event_id") % 3 == 0, "wayproblems")
        .when(F.col("event_id") % 3 == 1, "cycling")
        .otherwise("ref")
        .alias("layer"),
    )
    return tile_pyramid_anchored(p, z_min=6, z_max=11).select(
        F.col("tile_z").cast("long").alias("tile_z"),
        F.col("tile_x").cast("long").alias("tile_x"),
        F.col("tile_y").cast("long").alias("tile_y"),
        "layer",
        F.col("problem_count").cast("long").alias("problem_count"),
    )


def q36_snapshot_prune_sql(spark, sf_dir):
    """Iceberg-style snapshot-table oracle: documents is committed once
    into a versioned snapshot table (sources/snapshot_table.py — atomic
    manifest commits, per-file doc_id min/max recorded by a distributed
    input_file_name() stats pass), then read back through MANIFEST
    pruning (files whose [min,max] misses the range are never opened) +
    the row filter. DuckDB answers the same range from the raw table —
    a MATCH proves the format round-trips rows exactly and pruning drops
    files only, never rows. The table is staged once per sf under
    .scratch (creation excluded from the comparison, like bench corpora)."""
    import os

    from wayproblems_spark.sources.snapshot_table import (
        create_snapshot_table,
        current_version,
        read_snapshot,
    )

    tag = os.path.basename(os.path.normpath(sf_dir))
    path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), ".scratch", f"snap_docs_{tag}"
    )
    if current_version(path) == 0:
        create_snapshot_table(
            spark,
            path,
            _t(spark, sf_dir, "documents").select("doc_id", "lang", "text"),
            stats_cols=("doc_id",),
            n_files=8,
        )
    lo, hi = 100, 299
    df = read_snapshot(spark, path, prune={"doc_id": (lo, hi)})
    return (
        df.filter(F.col("doc_id").between(lo, hi))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.length("text")).alias("total_chars"),
            F.min("doc_id").alias("min_id"),
            F.max("doc_id").alias("max_id"),
        )
    )


def q38_asof_join_sql(spark, sf_dir):
    """As-of join oracle: the production `asof_join` (operators/temporal.py
    — union → one key shuffle → running last(ignorenulls) carry; the
    sort-merge-asof physical shape) attributing every click to the user's
    most recent prior-or-equal error, vs DuckDB's native ASOF LEFT JOIN.
    (user_id, ts) is unique on the right side at every SF (fixture-checked)
    so both engines' match is deterministic; ~7% of clicks have no prior
    error, exercising the NULL branch."""
    from wayproblems_spark.operators.temporal import asof_join

    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    errors = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("err_id"),
        "user_id",
        "ts",
        F.col("value").alias("err_value"),
    )
    out = asof_join(
        clicks, errors, on="user_id", left_ts="ts",
        right_cols=["err_id", "err_value"],
    )
    return out.select("event_id", "user_id", "err_id", "err_value")


def q39_spatial_range_join_sql(spark, sf_dir):
    """Spatial range-join oracle: the production `spatial_range_join`
    (operators/spatial_join.py — grid-cell equi-join with wrapped 3×3 ring
    registration, corner-cell brute tail, exact chord filter) at radius
    15 km over the q12 synthetic lattice, vs a DuckDB brute-force
    all-pairs recompute with the identical chord formula. dist rounded to
    mm (r3) to absorb libm-vs-JVM trig ulp; the <=-threshold decision
    itself shares the exact constant composition on both sides (boundary
    flip odds ~1e-15/pair, the q12/q13 stance)."""
    from wayproblems_spark.operators.spatial_join import spatial_range_join

    ev = _t(spark, sf_dir, "events")
    pts = ev.filter(F.col("event_id") % 7 == 0).select(
        F.col("event_id").alias("id"),
        (F.lit(-55.0) + (F.col("event_id") % 110000) / 1000.0).alias("lat"),
        (F.lit(-180.0) + ((F.col("event_id") * 11) % 360000) / 1000.0).alias("lon"),
    )
    out = spatial_range_join(pts, radius_m=15000.0)
    return out.select("id1", "id2", F.round("dist_m", 3).alias("dist_r3"))


def q40_interval_join_sql(spark, sf_dir):
    """Interval-join oracle: the production `interval_join`
    (operators/temporal.py — right intervals exploded into fixed-width
    time buckets, left keyed by its single bucket, equi-join + exact
    BETWEEN filter; each match found exactly once) matching clicks into
    per-user view windows [ts, ts + (id%24+1)h], vs a DuckDB BETWEEN
    join. Whole-hour interval adds are exact in 64-bit µs timestamps."""
    from wayproblems_spark.operators.temporal import interval_join

    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    views = ev.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("iv_id"),
        "user_id",
        F.col("ts").alias("s"),
        F.expr(
            "ts + make_interval(0, 0, 0, 0, CAST(event_id % 24 + 1 AS INT), 0, 0)"
        ).alias("e"),
    )
    out = interval_join(
        clicks, views, on="user_id", left_ts="ts",
        start_col="s", end_col="e", bucket_width_s=3600, closed="both",
    )
    return out.select("event_id", "user_id", "iv_id")


def q41_bm25_sql(spark, sf_dir):
    """BM25 relevance oracle: the production `bm25_score`
    (operators/ranking.py — literal-query-pruned postings, broadcast df
    table, corpus stats folded in as constants, decimal(38,12) term-score
    accumulation) for the query [join scan merge window] over the
    documents table, vs a DuckDB closed-form recompute with the identical
    float composition. Scores rounded to r6; the only cross-engine float
    surface is LN (same libm) — the decimal sum removes accumulation
    order entirely."""
    from wayproblems_spark.operators.ranking import bm25_score

    docs = _t(spark, sf_dir, "documents")
    out = bm25_score(docs, ["join", "scan", "merge", "window"])
    return out.select("doc_id", F.round("score", 6).alias("score_r6"))


def q42_chunking_sql(spark, sf_dir):
    """Training-window chunking oracle: the production `chunk_documents`
    (operators/chunking.py — tokenize once, sequence+slice windows, pure
    codegen, zero Python/shuffle) at target=32 overlap=8 over the
    documents table, vs a DuckDB list_slice recompute. Boundary math is
    all-integer; chunk text compares by string equality."""
    from wayproblems_spark.operators.chunking import chunk_documents

    docs = _t(spark, sf_dir, "documents")
    out = chunk_documents(docs, target=32, overlap=8)
    return out.select(
        "doc_id",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        "chunk_text",
    )


def q43_packing_sql(spark, sf_dir):
    """Sample-packing oracle: the production chunk_documents →
    pack_sequences composition (operators/packing.py — sharded window
    cumsum, budget split, straddling chunks emit one row per touched
    sequence) at budget=64 over 8 shards, vs a DuckDB recompute of the
    identical all-integer math. Locks the chunk→sequence mapping an LLM
    trainer would consume."""
    from wayproblems_spark.operators.chunking import chunk_documents
    from wayproblems_spark.operators.packing import pack_sequences

    docs = _t(spark, sf_dir, "documents")
    chunks = chunk_documents(docs, target=32, overlap=8)
    out = pack_sequences(chunks, budget=64, n_shards=8)
    return out.select(
        F.col("shard").cast("long").alias("shard"),
        F.col("seq_id").cast("long").alias("seq_id"),
        "doc_id",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.col("off_start").cast("long").alias("off_start"),
        F.col("off_end").cast("long").alias("off_end"),
        F.col("pos").cast("long").alias("pos"),
    )


def q44_pii_redact_sql(spark, sf_dir):
    """PII-scrub oracle: the production `redact_pii` + `pii_counts`
    (operators/privacy.py — fixed-order regexp_replace chain, pure JVM
    codegen, zero shuffle) over documents text with a deterministic
    doc_id-derived injection (email + IPv4 + long digit run appended to
    every row), vs a DuckDB recompute of the identical chain. Patterns
    are restricted to java.util.regex ∩ RE2-identical constructs, so the
    scrubbed strings compare byte-for-byte."""
    from wayproblems_spark.operators.privacy import pii_counts, redact_pii

    docs = _t(spark, sf_dir, "documents")
    injected = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@mail.example.org from 10."),
        (F.col("doc_id") % 200).cast("string"),
        F.lit(".0.7 ref 9"),
        (F.col("doc_id") * 7919).cast("string"),
    )
    t = docs.select("doc_id", injected.alias("t"))
    counts = pii_counts(F.col("t"))
    return t.select(
        "doc_id",
        redact_pii(F.col("t")).alias("scrubbed"),
        counts["n_email"].cast("long").alias("n_email"),
        counts["n_ip"].cast("long").alias("n_ip"),
        counts["n_num"].cast("long").alias("n_num"),
    )


def q45_repetition_sql(spark, sf_dir):
    """Repetition-quality oracle: the production `repetition_stats`
    (operators/quality.py — explode grams, one map-side-partial count
    shuffle, min(struct(-cnt, gram)) deterministic top-gram witness)
    over the documents table, vs a full DuckDB recompute. Fractions are
    single BIGINT/BIGINT IEEE divisions — bit-identical cross-engine."""
    from wayproblems_spark.operators.quality import repetition_stats

    docs = _t(spark, sf_dir, "documents")
    out = repetition_stats(docs)
    return out.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        "top_token",
        "top_token_frac",
        F.col("n_bigrams").cast("long").alias("n_bigrams"),
        "distinct_bigram_frac",
        "top_bigram",
        "top_bigram_frac",
    )


def q46_decontam_sql(spark, sf_dir):
    """Decontamination oracle: the production `ngram_decontaminate`
    (operators/decontam.py — benchmark grams distinct+broadcast, corpus
    grams linear explode, equality join, per-doc rollup LEFT-joined back)
    with benchmark = every 13th document at n=5, vs a DuckDB recompute
    of the identical all-string gram math."""
    from wayproblems_spark.operators.decontam import ngram_decontaminate

    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 13 == 0)
    out = ngram_decontaminate(docs, bench, n=5)
    return out.select(
        "doc_id",
        F.col("n_hits").cast("long").alias("n_hits"),
        F.col("n_distinct_hit_grams").cast("long").alias(
            "n_distinct_hit_grams"
        ),
        "contaminated",
    )


def q47_domain_stats_sql(spark, sf_dir):
    """Domain-rollup oracle: deterministic doc_id-derived URL injection
    (www/port/trailing-dot/two-level-suffix/IPv4/invalid classes all
    exercised), then the production parse→normalize→registered-domain→
    aggregate chain (operators/urls.py — pure JVM regex + array exprs),
    vs an independent DuckDB recompute of the same contract."""
    from wayproblems_spark.operators.urls import domain_stats

    docs = _t(spark, sf_dir, "documents")
    m = F.col("doc_id") % 6
    url = (
        F.when(m == 0, F.concat(F.lit("https://www.alpha.example.com/"),
                                F.col("source")))
        .when(m == 1, F.concat(F.lit("https://shop.alpha.example.com/p/"),
                               F.col("doc_id").cast("string")))
        .when(m == 2, F.concat(F.lit("http://News.beta.co.uk:8080/"),
                               F.col("doc_id").cast("string")))
        .when(m == 3, F.lit("https://cdn.beta.co.uk./x"))
        .when(m == 4, F.concat(F.lit("https://10."),
                               (F.col("doc_id") % 200).cast("string"),
                               F.lit(".0.9/raw")))
        .otherwise(F.concat(F.lit("no scheme here "),
                            F.col("doc_id").cast("string")))
    )
    injected = docs.select("doc_id", url.alias("url"), "text")
    out = domain_stats(injected)
    return out.select(
        "domain",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("n_chars").cast("long").alias("n_chars"),
        F.col("n_hosts").cast("long").alias("n_hosts"),
    )


def q48_cap_per_key_sql(spark, sf_dir):
    """Per-key cap oracle: the production `cap_per_key` (sampling.py —
    one key shuffle + per-partition row_number over the frozen md5 draw,
    id tie-break) capping documents at 7 per (lang, source), vs a DuckDB
    row_number recompute ranking by the hex md5 prefix (identical order
    to Spark's conv()'d integer: fixed-width hex is order-isomorphic)."""
    from wayproblems_spark.operators.sampling import cap_per_key

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "source")
    return cap_per_key(docs, ["lang", "source"], 7, salt="q48")


def q49_dsir_weights_sql(spark, sf_dir):
    """DSIR importance-weight oracle: the production `dsir_weights`
    (operators/importance.py — one corpus term-count scan, broadcast
    vocab-stat join, three plan-literal totals, decimal(38,12) per-term
    accumulation) with target LM = every 17th document, vs a DuckDB
    recompute with the identical float composition."""
    from wayproblems_spark.operators.importance import dsir_weights

    docs = _t(spark, sf_dir, "documents")
    target = docs.filter(F.col("doc_id") % 17 == 0)
    return dsir_weights(docs, target)


def q50_para_dedup_sql(spark, sf_dir):
    """Paragraph-dedup oracle: the production `dedup_paragraphs`
    (operators/paradedup.py — posexplode, ONE paragraph-keyed
    min(struct) shuffle with map-side partials, join-back, doc rollup)
    over documents with injected boilerplate (per-residue banner +
    universal footer), vs a DuckDB recompute of the first-occurrence
    rule. All-string equality; no floats anywhere."""
    from wayproblems_spark.operators.paradedup import dedup_paragraphs

    docs = _t(spark, sf_dir, "documents")
    injected = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit("\nshared banner "),
            (F.col("doc_id") % 7).cast("string"),
            F.lit("\nfooter"),
        ).alias("text"),
    )
    out = dedup_paragraphs(injected)
    return out.select(
        "doc_id",
        "text",
        F.col("n_paras").cast("long").alias("n_paras"),
        F.col("n_kept").cast("long").alias("n_kept"),
    )


def q37_pq_encode_sql(spark, sf_dir):
    """Product-quantization encode oracle: the PRODUCTION `build_pq_index`
    (operators/similarity.py — Arrow-batched per-subspace nearest-codeword
    argmin) over the embeddings table with CLOSED-FORM codebooks
    (((j*31+c*17+t*7) % 101)/101.0 - 0.5 — identical IEEE arithmetic in
    numpy and DuckDB), vs DuckDB recomputing every subspace argmin with
    nested list_transform. Output is pure integers (vec_id, subspace,
    code), so the only cross-engine float surface is the argmin decision
    itself; tests/test_pq.py::test_oracle_argmin_margins asserts every
    runner-up margin on this corpus is > 1e-9 (≫ the 1-ulp summation-order
    difference between numpy pairwise and DuckDB sequential sums)."""
    import numpy as np

    from wayproblems_spark.operators.similarity import build_pq_index

    j, c, t = np.meshgrid(np.arange(4), np.arange(8), np.arange(16), indexing="ij")
    cb = ((j * 31 + c * 17 + t * 7) % 101) / 101.0 - 0.5
    e = _t(spark, sf_dir, "embeddings")
    _, encoded = build_pq_index(e, dim=64, m=4, k=8, codebooks=cb, normalize=False)
    return encoded.select(
        "vec_id", F.posexplode("codes").alias("j", "code")
    ).select(
        "vec_id",
        F.col("j").cast("long").alias("j"),
        F.col("code").cast("long").alias("code"),
    )


def r20_resample_ways(spark, sf_dir):
    """Fixed-spacing polyline resampling over r19's deterministic zigzag
    ways (map-matching prep). Rows-only by design (per-feature
    arc-parameterized slerp has no SQL analog); the correctness gate is
    tests/test_resample.py — pure-Python slerp reference + equator
    closed form + exact-spacing property."""
    from wayproblems_spark.operators.geometry import resample_ways

    ev = _t(spark, sf_dir, "events")
    base = ev.filter(F.col("event_id") % 11 == 0).select(
        F.col("event_id").alias("way_id"),
        (F.lit(-40.0) + (F.col("event_id") % 80000) / 1000.0).alias("lat0"),
        (F.lit(-170.0) + ((F.col("event_id") * 13) % 340000) / 1000.0).alias(
            "lon0"
        ),
        (((F.col("event_id") / 11).cast("long") % 11) * 0.0005).alias("amp"),
    )
    geom = F.transform(
        F.sequence(F.lit(0), F.lit(23)),
        lambda i: F.struct(
            (F.col("lon0") + i.cast("double") * 0.002).alias("lon"),
            (F.col("lat0") + (i % 2).cast("double") * F.col("amp")).alias(
                "lat"
            ),
        ),
    )
    out = resample_ways(base.select("way_id", geom.alias("geom")), 500.0)
    return out.groupBy("way_id").agg(
        F.count("*").alias("n_samples"),
        F.round(F.min("lon"), 6).alias("lon_min"),
        F.round(F.max("lon"), 6).alias("lon_max"),
    )


def r21_training_corpus(spark, sf_dir):
    """The FULL training-corpus close-out composed (jobs/curate_corpus.py
    round-6 stages): quality gate → LM perplexity cut [q51] (reference
    slice = every 13th doc, cut 31.2 ≈ the corpus's 90th pct) → minhash
    dedup → keep decision → source mixture [q53] (4 sources, 2 epochs) →
    frozen global shuffle [q54]. Returns per-(source, epoch) row counts
    + rank extremes — deterministic end to end. Rows-only by design:
    every stage carries its own hash-exact oracle; this entry exercises
    the composition."""
    import os
    import sys

    sys.path.insert(
        0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "jobs")
    )
    from curate_corpus import curate

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source"
    )
    curated, decisions, vocab, stats, (staged, tp) = curate(
        spark,
        docs,
        min_quality=0.3,
        jaccard=0.8,
        vocab_k=25,
        lm_ref=docs.filter(F.col("doc_id") % 13 == 0),
        max_ppl=31.2,
        mix_weights={"src0": 0.5, "src1": 0.25, "src2": 0.125,
                     "src3": 0.125},
        mix_epochs=2.0,
        shuffle=True,
    )
    out = (
        curated.groupBy("source", "epoch")
        .agg(
            F.count("*").alias("n"),
            F.min("shuffle_rank").alias("rank_min"),
            F.max("shuffle_rank").alias("rank_max"),
        )
        .localCheckpoint(eager=True)
    )
    for fr in tp:
        fr.unpersist()
    staged.unpersist()
    return out


def q51_unigram_ppl_sql(spark, sf_dir):
    """Unigram LM perplexity oracle: the production `train_unigram_lm` +
    `perplexity` (operators/lm.py — one reference-slice term count,
    broadcast LM join, decimal(38,12) per-doc accumulation, entropy
    ROUND 6, ppl = ROUND(exp(entropy), 6)) with the reference slice =
    every 13th document, vs a DuckDB recompute with the identical
    add-one-smoothed float composition (ln only on exact integers)."""
    from wayproblems_spark.operators.lm import perplexity, train_unigram_lm

    docs = _t(spark, sf_dir, "documents")
    lm, stats = train_unigram_lm(docs.filter(F.col("doc_id") % 13 == 0))
    return perplexity(docs, lm, stats)


def q52_bigram_ppl_sql(spark, sf_dir):
    """Interpolated bigram LM perplexity oracle: the production
    `interpolated_bigram_logprob` + `bigram_perplexity` (operators/lm.py
    — zip_with adjacent pairs, three broadcast count-table joins,
    decimal accumulation). lam = 0.5 so both lam and 1-lam are exact
    IEEE doubles (0.7 would make 1-lam = 0.30000000000000004 in Python
    but 0.3 in SQL). Every ln() argument is composed from exact-integer
    doubles identically on both engines."""
    from wayproblems_spark.operators.lm import (
        bigram_perplexity,
        interpolated_bigram_logprob,
    )

    docs = _t(spark, sf_dir, "documents")
    bi, uni, stats = interpolated_bigram_logprob(
        docs.filter(F.col("doc_id") % 13 == 0), lam=0.5
    )
    return bigram_perplexity(docs, bi, uni, stats)


def q53_mix_sources_sql(spark, sf_dir):
    """Source-mixing oracle: the production `mix_sources`
    (operators/mixing.py — one per-source token-total aggregation, rates
    folded as plan literals, codegen CASE + explode, frozen md5 epoch
    draw) with exact-binary weights and max_epochs=3, vs a DuckDB
    recompute of the identical (w*N)/T float composition and draw."""
    from wayproblems_spark.operators.mixing import mix_sources

    docs = _t(spark, sf_dir, "documents")
    mixed, _ = mix_sources(
        docs,
        {"src0": 0.5, "src1": 0.25, "src2": 0.125, "src3": 0.125},
        max_epochs=3.0,
        salt="q53",
    )
    return mixed.select("doc_id", "source", "epoch")


def q54_shuffle_rank_sql(spark, sf_dir):
    """Global-shuffle-rank oracle: the production `shuffle_corpus`
    (operators/ordering.py — md5-prefix buckets, 256-row offset
    round-trip, per-bucket window; NO single-partition stage) vs DuckDB
    computing the same total order with one global row_number window.
    Integer output — no float surface at all."""
    from wayproblems_spark.operators.ordering import shuffle_corpus

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    return shuffle_corpus(docs, salt="q54")


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full wayproblems pipeline on the deterministic fixture
    corpus (pages → extract → geoparse → resolve → 230-site rule engine)."""
    from wayproblems_spark.fixtures.pages import generate_corpus, pages_df
    from wayproblems_spark.pipeline import wayproblems_from_pages

    corpus = generate_corpus(n_pages=400, seed=42, split="unit")
    return wayproblems_from_pages(pages_df(spark, corpus)).select(
        "way_id", "layer", "style", "problem", "changeset", "user", "ts",
        "version", "site", "sub",
    )



def q55_overlay_sql(spark, sf_dir):
    """Polygon overlay intersects join (operators/overlay.py) — layer A
    diamonds vs layer B squares on an exact-binary half-unit lattice
    (every orientation product is exact in doubles, so EPS tests act as
    exact zero tests and the intersects boolean is deterministic in both
    engines). The parametrization plants proper overlaps, exact
    vertex-on-edge touches (j === 45 mod 60), corner-on-edge containment
    ties (j === 0 mod 60), and strict A-in-B containment with zero edge
    crossings — all three decision paths of the operator fire. Oracle =
    DuckDB brute force over bbox candidates (4-orientation segment test
    + even-odd rep-vertex parity), pre-validated against an
    exact-rational Fraction reference (tests/test_overlay.py)."""
    from wayproblems_spark.operators.overlay import polygon_intersect_join

    ev = _t(spark, sf_dir, "events")

    def V(x, y):
        return F.struct(x.alias("lon"), y.alias("lat"))

    a0 = ev.filter("event_id % 97 = 0").selectExpr(
        "event_id AS poly_id",
        "CAST((event_id DIV 97) % 20 AS DOUBLE) * 4.0 AS cx",
        "CAST(((event_id DIV 97) DIV 20) % 20 AS DOUBLE) * 4.0 AS cy",
        "1.0 + CAST((event_id DIV 97) % 3 AS DOUBLE) * 0.5 AS r",
    )
    cx, cy, r = F.col("cx"), F.col("cy"), F.col("r")
    polys_a = a0.select(
        "poly_id",
        F.lit("a").alias("kind"),
        F.array(
            V(cx + r, cy), V(cx, cy + r), V(cx - r, cy), V(cx, cy - r), V(cx + r, cy)
        ).alias("ring"),
    )
    b0 = ev.filter("event_id % 101 = 0").selectExpr(
        "event_id AS poly_id",
        "CAST((event_id DIV 101) % 20 AS DOUBLE) * 4.0"
        " + CAST(((event_id DIV 101) * 3) % 4 AS DOUBLE) * 0.5 AS cx",
        "CAST(((event_id DIV 101) DIV 20) % 20 AS DOUBLE) * 4.0"
        " + CAST(((event_id DIV 101) * 7) % 3 AS DOUBLE) * 0.5 AS cy",
        "0.5 + CAST((event_id DIV 101) % 5 AS DOUBLE) * 0.5 AS r",
    )
    polys_b = b0.select(
        "poly_id",
        F.lit("b").alias("kind"),
        F.array(
            V(cx - r, cy - r),
            V(cx + r, cy - r),
            V(cx + r, cy + r),
            V(cx - r, cy + r),
            V(cx - r, cy - r),
        ).alias("ring"),
    )
    return polygon_intersect_join(spark, polys_a, polys_b, level=9).select(
        "a_id", "b_id"
    )


def q56_zonal_stats_sql(spark, sf_dir):
    """Zonal statistics (operators/zonal.py) over the q15 polygon fixture
    with deterministic quarter-unit point payloads — DuckDB recomputes
    the full parity ray cast (q15's locked SQL) plus the decimal(38,6)
    aggregate; avg is derived from the decimal sum by one double
    division on both sides, so it is bit-stable."""
    from wayproblems_spark.operators.zonal import zonal_stats

    ev = _t(spark, sf_dir, "events")
    pts = ev.select(
        F.col("event_id").alias("point_id"),
        (F.lit(5.0) + (F.col("event_id") % 20000) / 1000.0).alias("lat"),
        (F.lit(38.0) + ((F.col("event_id") * 7) % 14000) / 1000.0).alias("lon"),
        ((F.col("event_id") % 997) / F.lit(4.0)).alias("val"),
    )
    polys = spark.createDataFrame(
        [(pid, kind, ring) for pid, kind, ring in _PIP_POLYS],
        "poly_id long, kind string, ring array<struct<lon:double,lat:double>>",
    )
    # final projection casts the decimal sum to double (exact here, and
    # correctly-rounded in both engines) — decimal COLUMNS in the compared
    # output would hash differently purely from CSV scale rendering
    return zonal_stats(spark, pts, polys, value_cols=("val",), level=9).withColumn(
        "val_sum", F.col("val_sum").cast("double")
    )



def q57_repeated_spans_sql(spark, sf_dir):
    """Exact-substring dedup (operators/substring_dedup.py — the Lee
    et al. suffix-array technique in k-gram-seed form): repeated token
    spans of length >= k over documents with injected per-residue
    boilerplate tails (every doc shares its tail with its residue
    class; natural template repeats surface too and the oracle
    recomputes them identically). All-integer/string arithmetic — no
    float risk anywhere. Oracle = full DuckDB recompute: gram counts,
    covered positions, gaps-and-islands merge."""
    from wayproblems_spark.operators.substring_dedup import repeated_spans

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr(
            "concat(text, ' ', CASE WHEN doc_id % 3 = 0 THEN "
            "'subscribe to our newsletter for weekly updates and offers today' "
            "WHEN doc_id % 3 = 1 THEN "
            "'all rights reserved contact the site administrator for details' "
            "ELSE "
            "'follow us on social media channels for the latest announcements' "
            "END)"
        ).alias("text"),
    )
    spans = repeated_spans(docs, k=8)
    return spans.select(
        "doc_id",
        F.col("span_start").cast("long").alias("span_start"),
        F.col("span_end").cast("long").alias("span_end"),
    )



def q58_areal_weights_sql(spark, sf_dir):
    """Areal interpolation weights (operators/areal.py — Sutherland-
    Hodgman clip + shoelace per graticule cell) over exact-binary
    lattice RECTANGLES, where the clip degenerates to the closed-form
    rectangle-overlap product: every S-H intersection coordinate and
    shoelace term stays exact in doubles (coords on a 2^-3-degree grid,
    products < 2^25 grain steps), so area/frac match DuckDB's
    LEAST/GREATEST recompute bit-for-bit with no rounding."""
    from wayproblems_spark.operators.areal import polygon_grid_weights

    ev = _t(spark, sf_dir, "events")
    r = ev.filter("event_id % 89 = 0").selectExpr(
        "event_id AS poly_id",
        "CAST((event_id DIV 89) % 30 AS DOUBLE) * 2.5 AS x1",
        "CAST((event_id DIV 89) % 30 AS DOUBLE) * 2.5 + 0.5"
        " + CAST((event_id DIV 89) % 4 AS DOUBLE) * 0.75 AS x2",
        "CAST(((event_id DIV 89) DIV 30) % 25 AS DOUBLE) * 2.5"
        " + CAST((event_id DIV 89) % 8 AS DOUBLE) * 0.125 AS y1",
        "CAST(((event_id DIV 89) DIV 30) % 25 AS DOUBLE) * 2.5"
        " + CAST((event_id DIV 89) % 8 AS DOUBLE) * 0.125"
        " + 0.25 + CAST((event_id DIV 89) % 5 AS DOUBLE) * 0.625 AS y2",
    )

    def V(x, y):
        return F.struct(x.alias("lon"), y.alias("lat"))

    x1, x2, y1, y2 = F.col("x1"), F.col("x2"), F.col("y1"), F.col("y2")
    polys = r.select(
        "poly_id",
        F.lit("rect").alias("kind"),
        F.array(
            V(x1, y1), V(x2, y1), V(x2, y2), V(x1, y2), V(x1, y1)
        ).alias("ring"),
    )
    return polygon_grid_weights(spark, polys, pitch=1.0)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "q01_pricing_summary": q01_pricing_summary,
        "q02_top_orders": q02_top_orders,
        "q03_first_item_per_order": q03_first_item_per_order,
        "q04_hourly_event_rollup": q04_hourly_event_rollup,
        "q05_doc_token_stats": q05_doc_token_stats,
        "q06_doc_exact_dup": q06_doc_exact_dup,
        "q07_embedding_sim_pairs": q07_embedding_sim_pairs,
        "q08_rule_layer_sql": q08_rule_layer_sql,
        "q09_doc_lang_marker_hits": q09_doc_lang_marker_hits,
        "q10_user_event_sessions": q10_user_event_sessions,
        "q11_tile_counts_sql": q11_tile_counts_sql,
        "q12_knn_bruteforce_sql": q12_knn_bruteforce_sql,
        "q13_s2_grid_sql": q13_s2_grid_sql,
        "q14_knn_segments_sql": q14_knn_segments_sql,
        "q15_pip_sql": q15_pip_sql,
        "q16_components_sql": q16_components_sql,
        "q17_way_length_sql": q17_way_length_sql,
        "q18_ring_area_sql": q18_ring_area_sql,
        "q19_simhash_band_sql": q19_simhash_band_sql,
        "q20_pip_holes_sql": q20_pip_holes_sql,
        "q21_minhash_lsh_sql": q21_minhash_lsh_sql,
        "q22_ivf_exhaustive_topk_sql": q22_ivf_exhaustive_topk_sql,
        "q23_near_dup_groups_sql": q23_near_dup_groups_sql,
        "q24_adaptive_cell_split_sql": q24_adaptive_cell_split_sql,
        "q25_embedding_lsh_exhaustive_sql": q25_embedding_lsh_exhaustive_sql,
        "q26_doc_quality_sql": q26_doc_quality_sql,
        "q27_access_combinations_sql": q27_access_combinations_sql,
        "q28_binary_sniff_sql": q28_binary_sniff_sql,
        "q29_stratified_sample_sql": q29_stratified_sample_sql,
        "q30_canonical_docs_sql": q30_canonical_docs_sql,
        "q31_image_metadata_sql": q31_image_metadata_sql,
        "q32_vocab_topk_sql": q32_vocab_topk_sql,
        "q33_quantize_int8_sql": q33_quantize_int8_sql,
        "q34_rules_catalog_sql": q34_rules_catalog_sql,
        "q35_tile_pyramid_sql": q35_tile_pyramid_sql,
        "q36_snapshot_prune_sql": q36_snapshot_prune_sql,
        "q37_pq_encode_sql": q37_pq_encode_sql,
        "q38_asof_join_sql": q38_asof_join_sql,
        "q39_spatial_range_join_sql": q39_spatial_range_join_sql,
        "q40_interval_join_sql": q40_interval_join_sql,
        "q41_bm25_sql": q41_bm25_sql,
        "q42_chunking_sql": q42_chunking_sql,
        "q43_packing_sql": q43_packing_sql,
        "q44_pii_redact_sql": q44_pii_redact_sql,
        "q45_repetition_sql": q45_repetition_sql,
        "q46_decontam_sql": q46_decontam_sql,
        "q47_domain_stats_sql": q47_domain_stats_sql,
        "q48_cap_per_key_sql": q48_cap_per_key_sql,
        "q49_dsir_weights_sql": q49_dsir_weights_sql,
        "q50_para_dedup_sql": q50_para_dedup_sql,
        "q51_unigram_ppl_sql": q51_unigram_ppl_sql,
        "q52_bigram_ppl_sql": q52_bigram_ppl_sql,
        "q53_mix_sources_sql": q53_mix_sources_sql,
        "q54_shuffle_rank_sql": q54_shuffle_rank_sql,
        "q55_overlay_sql": q55_overlay_sql,
        "q56_zonal_stats_sql": q56_zonal_stats_sql,
        "q57_repeated_spans_sql": q57_repeated_spans_sql,
        "q58_areal_weights_sql": q58_areal_weights_sql,
        "r01_wayproblems_problems": r01_wayproblems_problems,
        "r02_wayproblems_stdout": r02_wayproblems_stdout,
        "r03_tile_counts": r03_tile_counts,
        "r04_knn_assign": r04_knn_assign,
        "r05_pip_assign": r05_pip_assign,
        "r06_cell_encode": r06_cell_encode,
        "r07_minhash_near_dups": r07_minhash_near_dups,
        "r08_simhash_near_dups": r08_simhash_near_dups,
        "r09_multimodal_meta": r09_multimodal_meta,
        "r10_doc_quality": r10_doc_quality,
        "r11_ann_topk": r11_ann_topk,
        "r12_ann_lsh_topk": r12_ann_lsh_topk,
        "r13_ann_ivf_topk": r13_ann_ivf_topk,
        "r14_near_dup_groups": r14_near_dup_groups,
        "r15_embedding_near_dups": r15_embedding_near_dups,
        "r16_curate_corpus": r16_curate_corpus,
        "r17_pq_topk": r17_pq_topk,
        "r18_ivfpq_topk": r18_ivfpq_topk,
        "r19_simplify_ways": r19_simplify_ways,
        "r20_resample_ways": r20_resample_ways,
        "r21_training_corpus": r21_training_corpus,
    }


def oracle_sql() -> dict[str, str]:
    from wayproblems_spark.rules.sqlgen import catalog_oracle_sql

    out = dict(ORACLE)
    # Generated (not hand-written): the catalogue's DuckDB render target,
    # so the oracle can never drift from the production rule definitions.
    out["q34_rules_catalog_sql"] = catalog_oracle_sql()
    return out
