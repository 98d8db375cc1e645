"""session.local_frame: driver-side rows as one Arrow table, planned as a
LocalRelation, so building or running a lookup frame starts no pickled
Python RDD (and so no second Python worker pool). Also guards that the
package builds no row-list frame anywhere else."""

from __future__ import annotations

import ast
import pathlib
from decimal import Decimal

import numpy as np
import pandas as pd
from pyspark.sql import types as T

from wayproblems_spark.session import local_frame

PKG = pathlib.Path(__file__).resolve().parent.parent / "wayproblems_spark"

DDL = "i int, b boolean, s string, d decimal(38,6), x double, n long"


def _logical_plan(df) -> str:
    return df._jdf.queryExecution().logical().toString()


def test_local_frame_is_local_relation(spark):
    rows = [(1, True, "a", Decimal("1.5"), 0.25, 7)]
    for r in (rows, []):
        logical = local_frame(spark, r, DDL)._jdf.queryExecution().logical()
        assert logical.getClass().getSimpleName() == "LocalRelation"


def test_local_frame_schema_equals_ddl(spark):
    want = T.StructType.fromDDL(DDL)
    assert local_frame(spark, [], DDL).schema == want
    assert local_frame(spark, [(1, False, "x", None, 1.0, 2)], DDL).schema == want
    assert want["d"].dataType == T.DecimalType(38, 6)
    # a StructType keeps its nullability, as a row-list frame does
    strict = T.StructType(
        [T.StructField("k", T.LongType(), False), T.StructField("v", T.StringType())]
    )
    assert local_frame(spark, [], strict).schema == strict
    assert local_frame(spark, [(3, None)], strict).schema == strict


def test_local_frame_round_trips_values(spark):
    rows = [
        (1, True, "a", Decimal("123456.000001"), 0.1, -(2**62)),
        (-(2**31), False, "", Decimal("-0.5"), float("inf"), 2**63 - 1),
        (None, None, None, None, None, None),
        (2**31 - 1, True, "ü\u0000z", Decimal("0"), -0.0, 0),
    ]
    got = [tuple(r) for r in local_frame(spark, rows, DDL).collect()]
    assert got == rows
    assert local_frame(spark, [], DDL).collect() == []
    # numpy scalars (what the operators' kernels hand over) convert too
    got = local_frame(
        spark, [(np.int64(5), np.bool_(True), np.float64(2.5))], "a long, b boolean, c double"
    ).collect()
    assert [tuple(r) for r in got] == [(5, True, 2.5)]


def test_converted_builders_plan_no_logical_rdd(spark, tmp_path):
    from wayproblems_spark.operators.mixing import mix_sources
    from wayproblems_spark.operators.ordering import shuffle_corpus
    from wayproblems_spark.operators.overlay import build_overlay_index
    from wayproblems_spark.operators.pip import build_pip_index
    from wayproblems_spark.operators.similarity import build_pq_index, pq_topk
    from wayproblems_spark.sources.osm_pbf import _read_frames, write_pbf
    from wayproblems_spark.sources.osm_xml import _ranges_df
    from wayproblems_spark.sources.snapshot_table import (
        create_snapshot_table,
        read_snapshot,
    )
    from wayproblems_spark.streaming.dedup_stream import _read_state
    from wayproblems_spark.streaming.zonal_stream import zonal_totals

    ring = [(8.0, 51.0), (9.0, 51.0), (9.0, 52.0), (8.0, 51.0)]
    polys = spark.createDataFrame(
        [(1, "admin", ring)],
        "poly_id long, kind string, ring array<struct<lon:double,lat:double>>",
    )
    frames = {}
    _level, frames["pip.buckets"], frames["pip.edges"] = build_pip_index(
        spark, polys, level=8, distributed=False, persist=False
    )
    _level, *overlay = build_overlay_index(
        spark, polys, level=8, distributed=False, persist=False
    )
    for name, f in zip(("buckets", "edges", "reps"), overlay):
        frames[f"overlay.{name}"] = f

    docs = local_frame(
        spark,
        [(i, "web" if i % 3 else "code", f"t{i}") for i in range(60)],
        "doc_id long, source string, text string",
    )
    frames["ordering"] = shuffle_corpus(docs)
    frames["mixing"], _ = mix_sources(
        docs, {"web": 0.5, "code": 0.5}, use_join_rates=True
    )

    vecs = spark.createDataFrame(
        pd.DataFrame(
            {
                "vec_id": np.arange(40, dtype=np.int64),
                "embedding": list(np.random.default_rng(0).normal(size=(40, 8))),
            }
        ),
        "vec_id long, embedding array<double>",
    )
    cb = np.random.default_rng(1).normal(size=(2, 4, 4))
    prebuilt = build_pq_index(vecs, dim=8, m=2, k=4, codebooks=cb)
    queries = vecs.limit(3).select(
        vecs.vec_id.alias("q_id"), vecs.embedding.alias("q_vec")
    )
    frames["similarity"] = pq_topk(prebuilt, queries, k=2)

    pbf = tmp_path / "one.osm.pbf"
    write_pbf(str(pbf), [(1, 51.0, 8.0), (2, 51.1, 8.1)], [
        {"id": 7, "refs": [1, 2], "tags": {"highway": "track"}, "version": 1,
         "changeset": 1, "uid": 1, "user": "u", "ts_epoch_s": 0},
    ])
    frames["osm_pbf"] = _read_frames(spark, str(pbf))
    xml = tmp_path / "one.osm"
    xml.write_text("<osm></osm>\n")
    frames["osm_xml"] = _ranges_df(spark, str(xml))

    frames["zonal_stream"] = zonal_totals(spark, str(tmp_path / "none"), ("v",))
    frames["dedup_stream"] = _read_state(spark, str(tmp_path / "none"), docs)
    table = str(tmp_path / "snap")
    create_snapshot_table(spark, table, docs, stats_cols=("doc_id",), n_files=2)
    frames["snapshot_table"] = read_snapshot(spark, table, prune={"doc_id": (10**6, None)})

    plans = {k: _logical_plan(f) for k, f in frames.items()}
    rdd_plans = {k: p for k, p in plans.items() if "LogicalRDD" in p}
    assert not rdd_plans, rdd_plans
    # the empty frames keep their declared types
    assert frames["zonal_stream"].schema["v_sum"].dataType == T.DecimalType(38, 6)
    assert frames["snapshot_table"].count() == 0
    prebuilt[1].unpersist()


# createDataFrame may build a frame only here: the helper itself and the
# fixture generator
_ALLOWED = {
    ("session.py", "local_frame"),
    ("fixtures/pages.py", "pages_df"),
}


def _create_dataframe_sites():
    sites = []
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        tree = ast.parse(path.read_text(), filename=str(path))
        parents = {}
        for node in ast.walk(tree):
            for child in ast.iter_child_nodes(node):
                parents[child] = node
        for node in ast.walk(tree):
            if isinstance(node, ast.Attribute) and node.attr == "createDataFrame":
                fn = node
                while fn in parents and not isinstance(
                    fn, (ast.FunctionDef, ast.AsyncFunctionDef)
                ):
                    fn = parents[fn]
                name = fn.name if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)) else None
                sites.append((rel, name, node.lineno))
    return sites


def test_create_dataframe_only_at_allowed_sites():
    sites = _create_dataframe_sites()
    stray = [s for s in sites if s[:2] not in _ALLOWED]
    assert not stray, (
        f"row-list frames outside session.local_frame: {stray}; build "
        "driver-side frames with local_frame (a row-list createDataFrame "
        "starts a second Python worker pool)"
    )
    # the scan sees the allowed sites, so it is looking at the package
    assert {s[:2] for s in sites} == _ALLOWED
