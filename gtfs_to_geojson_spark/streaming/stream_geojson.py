"""Streaming GeoJSON sink — incremental stop drops → per-batch
FeatureCollections (SURVEY.md §2.10 stretch, completing the streaming
triangle: stream_assign covers spatial ops, this covers the reference's
actual output surface S6).

New stop rows arriving as parquet drops are picked up by ``readStream``
and joined against the STATIC feed dimensions (stream-static join —
trips/routes/stop_times don't stream), then the unmodified batch ``fmt_
stops`` format runs inside ``foreachBatch``. Exactly-once file output:
the checkpoint tracks consumed source files, and each micro-batch
writes to a path derived from its batch id, so a restart neither loses
nor duplicates collections — the streaming twin of the lineage
manifest's wave semantics.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from ..operators.formats import fmt_stops
from ..plans.pipeline import build_base_query
from ..plans.run_spec import RunSpec
from ..sinks import write_geojson_groups


def stream_stops(spark: SparkSession, input_dir: str, stops_schema):
    return (
        spark.readStream.schema(stops_schema)
        .option("maxFilesPerTrigger", 4)
        .parquet(input_dir)
    )


def run_stream_stops_geojson(
    spark: SparkSession,
    input_dir: str,
    feed: dict,
    out_dir: str,
    checkpoint_dir: str,
    coordinate_precision: int | None = 5,
    timeout_s: float | None = None,
):
    """Stream stop drops from ``input_dir``; emit one
    ``stops_batch_<id>.geojson`` FeatureCollection per micro-batch into
    ``out_dir``. Returns the StreamingQuery."""
    os.makedirs(out_dir, exist_ok=True)
    cfg = RunSpec(coordinate_precision=coordinate_precision, out_dir=out_dir)
    stream = stream_stops(spark, input_dir, feed["stops"].schema)
    base_q = build_base_query(feed, cfg)

    def handle(batch_df, batch_id: int):
        if batch_df.isEmpty():
            return
        batch_feed = dict(feed)
        batch_feed["stops"] = batch_df
        write_geojson_groups(
            fmt_stops(batch_feed, cfg, base_q),
            [os.path.join(out_dir, f"stops_batch_{batch_id:06d}.geojson")],
        )

    q = (
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    if timeout_s is not None:
        q.awaitTermination(timeout_s)
    return q
