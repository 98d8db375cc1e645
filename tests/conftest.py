from __future__ import annotations

import datetime

import pytest
from pyspark.sql import types as T

from wayproblems_spark.session import get_spark

WAY_SCHEMA = T.StructType(
    [
        T.StructField("way_id", T.LongType()),
        T.StructField("version", T.IntegerType()),
        T.StructField("changeset", T.LongType()),
        T.StructField("uid", T.LongType()),
        T.StructField("user", T.StringType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("nodes", T.ArrayType(T.LongType())),
        T.StructField("tags", T.MapType(T.StringType(), T.StringType())),
    ]
)

TS = datetime.datetime(2026, 1, 1, 0, 0, 0)


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="wayproblems-tests", master="local[4]", shuffle_partitions=4)
    yield s


@pytest.fixture
def persisted_ids(spark):
    """A callable returning the ids of the RDDs cached right now. Cache
    checks compare these SETS ("no id the call persisted survives it"),
    not counts: Spark's ContextCleaner unpersists earlier tests'
    unreachable frames asynchronously, so a count can fall mid-test."""

    def ids():
        # getPersistentRDDs() returns a snapshot copy of the map
        keys = spark.sparkContext._jsc.sc().getPersistentRDDs().keys()
        return {int(k) for k in keys.mkString(",").split(",") if k}

    return ids


def mk_way(way_id, tags, nodes=(1, 2), version=1, changeset=100, uid=7, user="tester", ts=TS):
    return (way_id, version, changeset, uid, user, ts, list(nodes), dict(tags))


def ways_df(spark, rows):
    return spark.createDataFrame(rows, WAY_SCHEMA)
