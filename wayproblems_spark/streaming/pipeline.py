"""Structured Streaming variant of the pipeline (SURVEY.md §7 optional).

The reference is a bounded single pass; at 10^12-document scale the same
engine runs incrementally: ``readStream`` over the pages table (new parquet
files = new WARC dumps), the identical extraction/geoparse/rule projection
(all stateless narrow ops → trivially streamable), and an append sink.

The node-resolution join is stream-static: the node table is the static
side (periodically refreshed snapshot), which Structured Streaming supports
natively for inner joins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators.resolve import drop_invalid_geometry, resolve_locations_mapside
from ..rules import problems
from ..sources.pages_source import ways_from_pages

PAGES_SCHEMA = (
    "url string, warc_ts timestamp, html binary, text string, lang string"
)


def read_pages_stream(spark: SparkSession, path: str, max_files: int = 4) -> DataFrame:
    return (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", max_files)
        .parquet(path)
    )


def streaming_problems(pages_stream: DataFrame, static_nodes: DataFrame) -> DataFrame:
    """pages stream → flagged problems stream.

    Node resolution uses the broadcast map-side index (FlexMem analog):
    fully stateless narrow plan → append mode, no watermark needed, and
    byte-identical results to the batch join variant (test-asserted).
    """
    ways = ways_from_pages(pages_stream).drop("src_url")
    resolved = drop_invalid_geometry(resolve_locations_mapside(ways, static_nodes))
    return problems(resolved)


def run_to_sink(
    stream_df: DataFrame, out_path: str, checkpoint: str, mode: str = "append"
):
    """availableNow trigger: drain everything currently available, then
    stop — the batch-parity execution used by tests."""
    return (
        stream_df.writeStream.outputMode(mode)
        .format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
