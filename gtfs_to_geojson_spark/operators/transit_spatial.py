"""Transit-level spatial analytics — the north-star compositions:
GTFS feed × spatial joins × image table.

These wire the generic operators (spatial.py) to the reference's data
model: route envelopes/buffers come from the same geometry the
envelope/buffer output formats emit (formats/envelope.ts:14,
formats/lines-buffer.ts:12), so a join result here is checkable
against those golden shapes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import cells
from . import geoagg, relational, spatial
from .filters import BaseQuery, filter_used_stops


def route_envelopes(feed, q: BaseQuery) -> DataFrame:
    """Per-route bbox (the envelope format's geometry, per route
    instead of per agency): min/max over every shape point of the
    route — one map-side agg, no UDF."""
    pairs = relational.route_shape_pairs(feed["trips"], q)
    pts = feed["shapes"].join(pairs, "shape_id")
    return pts.groupBy("route_id").agg(
        F.min("shape_pt_lon").alias("min_lon"),
        F.min("shape_pt_lat").alias("min_lat"),
        F.max("shape_pt_lon").alias("max_lon"),
        F.max("shape_pt_lat").alias("max_lat"),
    )


def stops_in_route_envelopes(feed, q: BaseQuery | None = None, res: int = 15) -> DataFrame:
    """J6 at the transit level: every (stop, route) pair where the
    used stop falls inside the route's envelope — the headline join of
    BASELINE.json, on real GTFS geometry."""
    q = q or BaseQuery()
    stops = filter_used_stops(feed["stops"], feed["stop_times"], feed["trips"], q).select(
        "stop_id", F.col("stop_lon").alias("lon"), F.col("stop_lat").alias("lat")
    )
    env = route_envelopes(feed, q)
    out = spatial.point_in_envelope_join(stops, env, res=res)
    return out.select("stop_id", "route_id")


def snap_stops_to_shapes(
    feed,
    q: BaseQuery | None = None,
    res: int = 18,
    k: int = 1,
    n_points: int | None = None,
    n_targets: int | None = None,
) -> DataFrame:
    """J8 at the transit level: nearest shape *vertex* per used stop
    (stop→shape snapping). Exact kNN via ring expansion; distance is
    haversine meters; ties break on shape point identity.

    ``n_points``/``n_targets`` are the caller's row-count hints for
    knn_join's strategy choice — upper bounds such as the stops and
    shapes table sizes are safe (filters and semi-joins only shrink a
    side). Without them knn_join runs a bounded limit+count probe on
    each side while it builds the plan, re-executing that side's
    upstream plan."""
    q = q or BaseQuery()
    stops = filter_used_stops(feed["stops"], feed["stop_times"], feed["trips"], q).select(
        F.col("stop_id").alias("point_id"),
        F.col("stop_lon").alias("lon"),
        F.col("stop_lat").alias("lat"),
    )
    pairs = relational.route_shape_pairs(feed["trips"], q)
    vertices = (
        feed["shapes"]
        .join(pairs.select("shape_id").distinct(), "shape_id", "left_semi")
        .select(
            F.concat_ws(":", "shape_id", F.col("shape_pt_sequence").cast("string")).alias("target_id"),
            F.col("shape_pt_lon").alias("t_lon"),
            F.col("shape_pt_lat").alias("t_lat"),
        )
    )
    out = spatial.knn_join(
        stops, vertices, res=res, k=k, n_points=n_points, n_targets=n_targets
    )
    return out.select(
        F.col("point_id").alias("stop_id"),
        F.split(F.col("target_id"), ":").getItem(0).alias("shape_id"),
        F.split(F.col("target_id"), ":").getItem(1).cast("int").alias("shape_pt_sequence"),
        F.round(F.col("_dist_m"), 3).alias("dist_m"),
    )


def stop_shape_dist_traveled(
    feed, q: BaseQuery | None = None, kx: float = 1.0, ky: float = 1.0
) -> DataFrame:
    """G14 at the transit level: derive ``shape_dist_traveled`` for
    every stop_time by snapping the stop to its trip's OWN shape
    (keyed linear referencing — the reference's data model carries the
    column, gtfs spec shapes.txt, but the reference never computes it).

    Scale shape: geometry runs once per DISTINCT (stop, shape) pair —
    the big stop_times table only re-joins the finished answers (two
    hash joins, no geometry in the 10^12-row stream). Distances/along
    are in the kx/ky metric (degrees at the default; pass
    linear_ref.meters_scale(lat) for meters)."""
    q = q or BaseQuery()
    from . import linear_ref

    st = feed["stop_times"].join(
        feed["trips"].select("trip_id", "shape_id"), "trip_id"
    )
    pairs = (
        st.select("stop_id", "shape_id")
        .distinct()
        .join(feed["stops"].select("stop_id", "stop_lon", "stop_lat"), "stop_id")
        .select(
            F.col("stop_id").alias("point_id"),
            F.col("shape_id").alias("line_key"),
            F.col("stop_lon").alias("lon"),
            F.col("stop_lat").alias("lat"),
        )
    )
    verts = feed["shapes"].select(
        F.col("shape_id").alias("line_id"),
        F.col("shape_pt_sequence").alias("seq"),
        F.col("shape_pt_lon").alias("x"),
        F.col("shape_pt_lat").alias("y"),
    )
    segs = linear_ref.segments_from_vertices(verts, x="x", y="y", kx=kx, ky=ky)
    located = linear_ref.locate_along_keyed(pairs, segs, key="line_key").select(
        F.col("point_id").alias("stop_id"),
        F.col("line_id").alias("shape_id"),
        F.col("along").alias("shape_dist_traveled"),
        F.col("dist").alias("snap_dist"),
    )
    return st.join(located, ["stop_id", "shape_id"])


def route_buffer_polygons(feed, q: BaseQuery | None = None, meters: float = 400.0) -> DataFrame:
    """Per-route buffer polygon (the lines-buffer format's geometry) as
    a join-ready (route_id, polygon) frame."""
    from ..plans.run_spec import RunSpec

    q = q or BaseQuery()
    from .formats import _route_lines_coords

    cfg = RunSpec(buffer_size_meters=meters)
    lines = _route_lines_coords(feed, cfg, q)
    buf = geoagg.line_buffer_polygons(lines, meters, ["route_id"])
    return buf.select("route_id", "polygon")


def assign_images_to_routes(
    images: DataFrame, feed, q: BaseQuery | None = None, meters: float = 400.0, res: int = 18
) -> DataFrame:
    """J9b at the transit level: geotagged images assigned to the
    route buffers they fall in — caption carried through untouched.
    The 10^12-scale path: route buffers are the small side (thousands
    of polygons), images the big side; cell cover turns it into a hash
    join with an interior fast path."""
    polys = route_buffer_polygons(feed, q, meters)
    out = spatial.assign_images_to_polygons(images, polys, res=res)
    # a route can carry several buffer polygons (one per shape line) —
    # assignment is per (image, route), so dedupe across them
    return out.select("image_id", "caption", "route_id", "lon", "lat").dropDuplicates(
        ["image_id", "route_id"]
    )


def image_density_per_route_cell(
    images: DataFrame, feed, q: BaseQuery | None = None, meters: float = 400.0,
    res: int = 18, rollup_res: int = 12,
) -> DataFrame:
    """Hypertable-style rollup: per (route, coarse cell) image counts —
    assignment at fine res, then a parent-cell rollup that is just a
    bit-shift Column (cells.parent_col), no re-join."""
    assigned = assign_images_to_routes(images, feed, q, meters, res)
    tile = cells.cell_col(F.col("lat"), F.col("lon"), res)
    out = assigned.withColumn("cell", cells.parent_col(tile, res, rollup_res))
    return out.groupBy("route_id", "cell").agg(F.count(F.lit(1)).alias("n_images"))


def image_tiles_in_route_corridors(
    images: DataFrame,
    feed,
    q: BaseQuery | None = None,
    meters: float = 400.0,
    tile_res: int = 18,
    join_res: int = 15,
) -> DataFrame:
    """North-star composition: which OCCUPIED image tiles overlap which
    buffered route corridors (raster-tile ↔ vector overlay, J9 × J11).
    The image table is first collapsed to per-tile counts (the join
    input is |occupied tiles|, not |images| — at 10^12 images that is
    the difference between joining a trillion rows and joining the
    tile histogram), each tile becomes its exact cell rectangle via
    the codegen bounds columns, and the rectangles join the corridor
    polygons through the dedup-free overlay join with the exact
    polygon residual. Output: (tile, n_images, route_id)."""
    from . import overlap

    tiles = (
        spatial.assign_images_to_tiles(images, tile_res)
        .groupBy("tile")
        .agg(F.count(F.lit(1)).alias("n_images"))
    )
    b = cells.cell_bounds_col(F.col("tile"), tile_res)
    pt = lambda x, y: F.array(x, y)  # noqa: E731
    rect = F.array(
        F.array(
            pt(b["min_lon"], b["min_lat"]),
            pt(b["max_lon"], b["min_lat"]),
            pt(b["max_lon"], b["max_lat"]),
            pt(b["min_lon"], b["max_lat"]),
            pt(b["min_lon"], b["min_lat"]),
        )
    )
    tile_rects = tiles.select("tile", "n_images", rect.alias("polygon"))
    corridors = route_buffer_polygons(feed, q, meters)
    out = overlap.polygon_intersect_join(tile_rects, corridors, res=join_res)
    # a route's corridor may be several polygons (one per shape line) —
    # report per (tile, route)
    return (
        out.select(
            F.col("tile_a").alias("tile"),
            F.col("n_images_a").alias("n_images"),
            F.col("route_id_b").alias("route_id"),
        )
        .dropDuplicates(["tile", "route_id"])
    )
