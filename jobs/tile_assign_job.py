"""Cluster job: image tile-assignment + point-in-envelope join with
resumable per-partition lineage — the BASELINE.json headline workload
as a ``spark-submit`` entry point.

    python tools/build_pyfiles.py
    spark-submit --master <cluster> \\
        --py-files dist/gtfs_to_geojson_spark.zip \\
        jobs/tile_assign_job.py \\
        --images /path/to/images.parquet \\
        --out /path/to/out \\
        [--boxes-from-suppliers /path/to/supplier.parquet] \\
        [--res 14] [--bucket-res 4] [--resume]

The image table has the BASELINE.json ``input_hint`` schema
(image_id, bytes, w, h, fmt, caption, phash). The job:

1. geotags each image from its phash (pure-JVM arithmetic — codegen,
   no Python in the hot path) and assigns the grid tile at ``--res``;
2. optionally joins the images against route-envelope boxes
   (broadcast cell-prejoin, operators/spatial.py);
3. buckets work by coarse cell (``--bucket-res``), writes each
   bucket's assignments to ``<out>/assignments`` parquet, and appends
   a lineage-manifest row per completed bucket — re-running with
   ``--resume`` recomputes only missing buckets (kill-safe; see the
   "Resume model" paragraph of
   ``gtfs_to_geojson_spark/streaming/lineage.py``);
4. prints one JSON line of metrics (rows, buckets, rows/sec) and writes
   it to ``<out>/metrics.json``.
"""

from __future__ import annotations

import argparse
import json
import time


def run(spark, images_path: str, out: str, boxes_from_suppliers: str | None = None,
        res: int = 14, bucket_res: int = 4, wave_size: int = 64,
        resume: bool = False) -> dict:
    """Assign tiles bucket wave by bucket wave; returns the run metrics.
    Importable for tests; spark-submit enters via main()."""
    from pyspark.sql import functions as F

    from gtfs_to_geojson_spark import cells
    from gtfs_to_geojson_spark.operators import spatial
    from gtfs_to_geojson_spark.sources.images import read_images
    from gtfs_to_geojson_spark.streaming.lineage import (
        JobOutput,
        LineageManifest,
        run_bucketed_waves,
    )

    t0 = time.time()
    job = JobOutput(spark, out, resume)
    try:
        # input_hint schema contract (Iceberg table name or parquet path)
        images = read_images(spark, images_path)
    except ValueError:
        # tolerate pre-projected tables (e.g. phash-only benches)
        images = spark.read.parquet(images_path)
    tagged = spatial.assign_images_to_tiles(images, res=res)
    work = tagged.withColumn("bucket", cells.parent_col(F.col("tile"), res, bucket_res))

    if boxes_from_suppliers:
        s = spark.read.parquet(boxes_from_suppliers)
        # supplier-derived envelope boxes (same derivation as bench)
        from gtfs_to_geojson_spark.plans import oracle_queries as OQ

        cx = OQ.lon_col(F.col("s_suppkey") * 13 + 7)
        cy = OQ.lat_col(F.col("s_suppkey") * 11 + 5)
        hw = ((F.col("s_suppkey") % 13) + 2).cast("double") * F.lit(0.004)
        hh = ((F.col("s_suppkey") % 7) + 2).cast("double") * F.lit(0.003)
        boxes = s.select(
            "s_suppkey",
            (cx - hw).alias("min_lon"),
            (cx + hw).alias("max_lon"),
            (cy - hh).alias("min_lat"),
            (cy + hh).alias("max_lat"),
        )
        work = spatial.point_in_envelope_join(work, boxes, res=res).withColumnRenamed(
            "s_suppkey", "envelope_id"
        )

    manifest = LineageManifest(job, "_lineage")
    n_done, n_skipped = run_bucketed_waves(
        spark,
        work,
        "bucket",
        f"{out}/assignments",
        manifest,
        wave_size=wave_size,
        select_cols=[c for c in work.columns if c != "bytes"],
    )
    dt = time.time() - t0
    # every committed bucket's rows, observed by its wave's write
    total_rows = manifest.read().agg(F.sum("rows")).first()[0] or 0
    metrics = {
        "job": "tile_assign",
        "buckets_processed": n_done,
        "buckets_skipped_resume": n_skipped,
        "rows": total_rows,
        "sec": round(dt, 3),
        "rows_per_sec": round(total_rows / dt, 1),
    }
    job.write_metrics(metrics)
    return metrics


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--images", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--boxes-from-suppliers", default=None)
    ap.add_argument("--res", type=int, default=14)
    ap.add_argument("--bucket-res", type=int, default=4)
    ap.add_argument("--resume", action="store_true")
    ap.add_argument("--wave-size", type=int, default=64,
                    help="buckets per write job (wave-mode lineage)")
    ap.add_argument("--shuffle-partitions", type=int, default=None)
    args = ap.parse_args()

    from gtfs_to_geojson_spark.streaming.lineage import job_session

    spark = job_session("tile-assign", args.shuffle_partitions)
    metrics = run(
        spark, args.images, args.out, args.boxes_from_suppliers, args.res,
        args.bucket_res, args.wave_size, args.resume,
    )
    print(json.dumps(metrics))
    spark.stop()


if __name__ == "__main__":
    main()
