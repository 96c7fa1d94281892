"""Cluster job: density tile pyramid — the tile-serving pipeline for
the north-star image/point table, composed as ONE resumable
``spark-submit`` entry point:

    rasterize points at the finest zoom → roll up level by level
    (pyramid_counts) → optionally render every level's tiles to
    encoded images (density_tiles)

    python tools/build_pyfiles.py
    spark-submit --master <cluster> \\
        --py-files dist/gtfs_to_geojson_spark.zip \\
        jobs/tile_pyramid_job.py \\
        --points /path/to/points.parquet \\
        --out /path/to/pyramid \\
        [--tile-res 14] [--px-bits 4] [--min-res 8] \\
        [--render] [--resume]

Input: parquet with (lon:double, lat:double) columns (extra columns
ignored). Output: ``<out>/z{res}`` parquet per level with
(tile, px_x, px_y, n), plus ``<out>/tiles_z{res}`` when --render.

Resume: each level is one write-once stage, and ``--resume`` skips
committed levels — see the "Resume model" paragraph of
``gtfs_to_geojson_spark/streaming/lineage.py``. A killed 12-level build
restarts at the level it died in, not from scratch. Each level's
``sum(n)`` is observed during its write; all levels must hold the same
total (count conservation).

Scale notes:
* The base level is the ONLY stage proportional to the input — one
  pure-codegen (tile, px) stamp plus one partially-aggregating
  groupBy; output is bounded by the raster, not the 10^12-point
  input, and every further level is 4× smaller (full pyramid ≈ 4/3
  the rows of the base — measured exactly at 2^30 points,
  BENCH/ROBUSTNESS.md §full pyramid).
* Writing each level IS the lineage break. Iterating pyramid_counts
  on a chained plan explodes Catalyst analysis super-linearly past
  ~14 levels (the measured 1374 s vs 21.6 s cliff) — this job never
  chains: level z reads the committed parquet of level z+1, which
  also makes levels individually resumable and servable while deeper
  levels still build.
* Rendering is per-tile Arrow work on the already-raster-bounded
  frame (density_tiles), embarrassingly parallel by tile.
"""

from __future__ import annotations

import argparse
import json


def run(spark, points_path: str, out: str, tile_res: int = 14, px_bits: int = 4,
        min_res: int = 8, render: bool = False, resume: bool = False) -> list[dict]:
    """Build the z{min_res}..z{tile_res} pyramid; returns per-level
    metrics. Importable for tests; spark-submit enters via main()."""
    from pyspark.sql import functions as F

    from gtfs_to_geojson_spark.operators import raster
    from gtfs_to_geojson_spark.streaming.lineage import JobOutput

    if not 0 <= min_res <= tile_res:
        raise ValueError(f"need 0 <= min_res <= tile_res, got {min_res}..{tile_res}")
    job = JobOutput(spark, out, resume, label="level")

    pts = spark.read.parquet(points_path).select("lon", "lat")
    counts, totals = {}, {}

    def build(res):
        if res == tile_res:
            return raster.rasterize_counts(pts, tile_res, px_bits)
        return raster.pyramid_counts(counts[res + 1], px_bits=px_bits)

    for res in range(tile_res, min_res - 1, -1):
        counts[res], got = job.stage(f"z{res}", lambda: build(res), n=F.sum("n"))
        totals[f"z{res}"] = got["n"] or 0

    if render:
        for res in range(tile_res, min_res - 1, -1):
            job.stage(f"tiles_z{res}", lambda: raster.density_tiles(counts[res], px_bits=px_bits))

    if len(set(totals.values())) > 1:
        raise SystemExit(f"count conservation violated across levels: {totals}")
    job.write_metrics({"levels": job.stages, "total_points": next(iter(totals.values()))})
    return job.stages


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--points", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--tile-res", type=int, default=14)
    ap.add_argument("--px-bits", type=int, default=4)
    ap.add_argument("--min-res", type=int, default=8)
    ap.add_argument("--render", action="store_true")
    ap.add_argument("--resume", action="store_true")
    ap.add_argument("--shuffle-partitions", type=int, default=None)
    args = ap.parse_args()

    from gtfs_to_geojson_spark.streaming.lineage import job_session

    spark = job_session("tile-pyramid", args.shuffle_partitions)
    metrics = run(
        spark, args.points, args.out, args.tile_res, args.px_bits,
        args.min_res, args.render, args.resume,
    )
    print(json.dumps(metrics))


if __name__ == "__main__":
    main()
