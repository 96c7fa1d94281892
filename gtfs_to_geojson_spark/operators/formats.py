"""The nine output formats (reference ``src/formats/*.ts``), each a
pure function ``(feed, config, query) → features``.

Dispatch mirrors the reference's static format table
(src/lib/gtfs-to-geojson.ts:73-113). Features are JSON strings
(``to_json`` drops null properties — F5, the reference's
``omitBy(props, isNil)`` at geojson-utils.ts:34), each tagged with the
output group ``g`` of its file (see filters.BaseQuery), so one call
covers every file of a run. Two forms:

* lazy formats return a DataFrame ``(g, kind, key, feature_json)``;
  the sink orders a file's features by ``kind`` (lines before stops),
  then ``key`` (the stop or route id), then the JSON itself;
* driver-finished formats (convex and the two dissolves end in a
  driver-side merge) return a list of ``(g, feature_json)`` in file
  order, which goes straight to the sink.
"""

from __future__ import annotations

import json

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import geo
from . import geoagg, relational
from .filters import BaseQuery, filter_used_stops


def feature_json(props: Column, geom_type: str, coords: Column) -> Column:
    return F.to_json(
        F.struct(
            F.lit("Feature").alias("type"),
            props.alias("properties"),
            F.struct(
                F.lit(geom_type).alias("type"), coords.alias("coordinates")
            ).alias("geometry"),
        )
    )


STOP_PROP_COLS = [
    "stop_id", "stop_name", "location_type", "parent_station", "zone_id", "stop_url",
]
ROUTE_PROP_COLS = relational.ROUTE_STRUCT_COLS + ["category", "subcategory", "running_way"]


LINES, STOPS = 0, 1  # feature kinds, in file order


def _features(kind: int, key: Column | None, props: Column, geom_type: str, coords: Column) -> list[Column]:
    return [
        F.col("g"),
        F.lit(kind).alias("kind"),
        (key.cast("string") if key is not None else F.lit("")).alias("key"),
        feature_json(props, geom_type, coords).alias("feature_json"),
    ]


def _agency_prop(q: BaseQuery) -> Column:
    return F.lit(q.agency_name).alias("agency_name")


def fmt_stops(feed, cfg, q: BaseQuery) -> DataFrame:
    sw = relational.stops_with_routes(
        feed["stops"], feed["stop_times"], feed["trips"], feed["routes"], q
    )
    coords = geo.round_coords_point(
        F.array("stop_lon", "stop_lat"), cfg.coordinate_precision
    )
    props = F.struct(
        *[F.col(c) for c in STOP_PROP_COLS], F.col("routes"), _agency_prop(q)
    )
    return sw.select(*_features(STOPS, F.col("stop_id"), props, "Point", coords))


def _shaped_groups(feed, q: BaseQuery) -> DataFrame:
    """Groups whose trips reach the shapes TABLE (reference
    geojson-utils.ts:212-215: if the shapes query yields anything,
    stop-derived lines are skipped). Probes the table, not just
    trips.shape_id — a feed whose shapes file is missing or excluded at
    import (README.md:161-169) still carries shape_ids on trips, and
    must fall back."""
    pairs = relational.route_shape_pairs(feed["trips"], q)
    return pairs.join(feed["shapes"].select("shape_id"), "shape_id", "left_semi").select("g").distinct()


def _stop_derived_fallback(feed, q: BaseQuery) -> DataFrame:
    """Stop-derived LineStrings of the groups without shapes."""
    return relational.stop_derived_linestrings(
        feed["stops"], feed["stop_times"], feed["trips"], feed["routes"],
        feed.get("route_attributes"), q, skip_groups=_shaped_groups(feed, q),
    )


def _route_multilines(feed, q: BaseQuery) -> DataFrame:
    return relational.route_multilinestrings(
        feed["shapes"], feed["trips"], feed["routes"], feed.get("route_attributes"), q
    )


def fmt_lines(feed, cfg, q: BaseQuery) -> DataFrame:
    """Lines: MultiLineString per route from shapes; per group, fallback
    to stop-derived LineStrings when the group has no shapes."""
    simp = geoagg.simplify_lines_udf(cfg.coordinate_precision)
    props = F.struct(*[F.col(c) for c in ROUTE_PROP_COLS], _agency_prop(q))
    ml = _route_multilines(feed, q)
    if simp is not None:
        # simplify each member line (pandas UDF is per-LineString):
        # posexplode → RDP → re-collect in position order
        ml = (
            ml.select(
                *[c for c in ml.columns if c != "coordinates"],
                F.posexplode("coordinates").alias("_pos", "_line"),
            )
            .withColumn("_line", simp(F.col("_line")))
            .groupBy(*[c for c in ml.columns if c != "coordinates"])
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct(F.col("_pos"), F.col("_line").alias("l")))),
                    lambda x: x["l"],
                ).alias("coordinates")
            )
        )
    ml_coords = geo.round_coords_multiline(F.col("coordinates"), cfg.coordinate_precision)
    shaped = ml.select(*_features(LINES, F.col("route_id"), props, "MultiLineString", ml_coords))
    sd = _stop_derived_fallback(feed, q)
    if simp is not None:
        sd = sd.withColumn("coordinates", simp(F.col("coordinates")))
    sd_coords = geo.round_coords_line(F.col("coordinates"), cfg.coordinate_precision)
    return shaped.unionByName(
        sd.select(*_features(LINES, F.col("route_id"), props, "LineString", sd_coords))
    )


def _route_lines_coords(feed, cfg, q: BaseQuery) -> DataFrame:
    """Per-route LineString rows (exploded from shapes, or stop-derived
    for groups without shapes) — input to envelope / lines-buffer /
    lines-dissolved."""
    ml = _route_multilines(feed, q)
    exploded = ml.select(
        *[c for c in ml.columns if c != "coordinates"],
        F.explode("coordinates").alias("coordinates"),
    )
    return exploded.unionByName(_stop_derived_fallback(feed, q), allowMissingColumns=True)


def fmt_lines_and_stops(feed, cfg, q: BaseQuery) -> DataFrame:
    """A12 — merged FeatureCollections (reference
    formats/lines-and-stops.ts:16-17 via mergeGeojson,
    geojson-utils.ts:112-114): union-all of line + stop features."""
    return fmt_lines(feed, cfg, q).unionByName(fmt_stops(feed, cfg, q))


def fmt_envelope(feed, cfg, q: BaseQuery) -> DataFrame:
    """A1/G4 — single Polygon Feature per group = bbox of its route
    lines, props ``{agency_name}`` only (reference formats/envelope.ts;
    examples/envelope.geojson)."""
    lines = _route_lines_coords(feed, cfg, q)
    b = geoagg.envelope_bounds(lines, ["g"])
    p = cfg.coordinate_precision
    rnd = (lambda c: F.round(c, p)) if p is not None else (lambda c: c)
    coords = geoagg.bbox_polygon_col(
        rnd(F.col("min_lon")), rnd(F.col("min_lat")), rnd(F.col("max_lon")), rnd(F.col("max_lat"))
    )
    props = F.struct(_agency_prop(q))
    return b.where(F.col("min_lon").isNotNull()).select(
        *_features(LINES, None, props, "Polygon", coords)
    )


def _polygon_feature(q: BaseQuery, rings: list, precision: int | None) -> str:
    if precision is not None:
        rings = [np.round(np.asarray(r), precision).tolist() for r in rings]
    return json.dumps(
        {
            "type": "Feature",
            "properties": {"agency_name": q.agency_name},
            "geometry": {"type": "Polygon", "coordinates": rings},
        },
        separators=(",", ":"),
    )


def fmt_convex(feed, cfg, q: BaseQuery) -> list[tuple[int, str]]:
    """A2 — convex hull Polygon over each group's used stops; no feature
    when degenerate (<3 distinct points — reference warns and emits
    null, formats/convex.ts:13-22)."""
    used = filter_used_stops(feed["stops"], feed["stop_times"], feed["trips"], q)
    hulls = geoagg.convex_hulls(used, "g")
    return [
        (g, _polygon_feature(q, [ring], cfg.coordinate_precision))
        for g, ring in sorted(hulls.items())
        if ring is not None
    ]


def fmt_stops_buffer(feed, cfg, q: BaseQuery) -> DataFrame:
    """G3 — Polygon per used stop, radius bufferSizeMeters (default 400,
    reference src/lib/gtfs-to-geojson.ts:34; formats/stops-buffer.ts:9).
    Ring construction is a pure Column expression — stays in codegen."""
    sw = relational.stops_with_routes(
        feed["stops"], feed["stop_times"], feed["trips"], feed["routes"], q
    )
    ring = geoagg.stop_buffer_ring_col(
        F.col("stop_lat"), F.col("stop_lon"), cfg.buffer_size_meters
    )
    coords = geo.round_coords_polygon(F.array(ring), cfg.coordinate_precision)
    props = F.struct(*[F.col(c) for c in STOP_PROP_COLS], F.col("routes"), _agency_prop(q))
    return sw.select(*_features(STOPS, F.col("stop_id"), props, "Polygon", coords))


def fmt_lines_buffer(feed, cfg, q: BaseQuery) -> DataFrame:
    """G3 — Polygon per route buffering its line
    (reference formats/lines-buffer.ts:12)."""
    lines = _route_lines_coords(feed, cfg, q)
    keys = [c for c in lines.columns if c != "coordinates"]
    buf = geoagg.line_buffer_polygons(lines, cfg.buffer_size_meters, keys)
    coords = geo.round_coords_polygon(F.col("polygon"), cfg.coordinate_precision)
    prop_cols = [c for c in ROUTE_PROP_COLS if c in buf.columns]
    props = F.struct(*[F.col(c) for c in prop_cols], _agency_prop(q))
    return buf.select(*_features(LINES, F.col("route_id"), props, "Polygon", coords))


def _dissolved_features(cfg, q: BaseQuery, polys: DataFrame) -> list[tuple[int, str]]:
    """Shared tail of the two dissolved formats: A3 union per group →
    one Feature per resulting polygon, props ``{agency_name}`` (row-set
    semantics contract, SURVEY.md §5)."""
    parts = geoagg.dissolve_polygons(polys, group_col="g")
    return [
        (g, _polygon_feature(q, poly, cfg.coordinate_precision))
        for g in sorted(parts)
        for poly in parts[g]
    ]


def fmt_stops_dissolved(feed, cfg, q: BaseQuery) -> list[tuple[int, str]]:
    """A3 — union of all stop buffers (reference
    formats/stops-dissolved.ts:12-14 via unionGeojson)."""
    used = filter_used_stops(feed["stops"], feed["stop_times"], feed["trips"], q)
    ring = geoagg.stop_buffer_ring_col(F.col("stop_lat"), F.col("stop_lon"), cfg.buffer_size_meters)
    polys = used.select("g", F.array(ring).alias("polygon"))
    return _dissolved_features(cfg, q, polys)


def fmt_lines_dissolved(feed, cfg, q: BaseQuery) -> list[tuple[int, str]]:
    """A3 — union of all route-line buffers (reference
    formats/lines-dissolved.ts:16-22: buffer → simplify → union)."""
    lines = _route_lines_coords(feed, cfg, q)
    keys = [c for c in lines.columns if c != "coordinates"]
    buf = geoagg.line_buffer_polygons(lines, cfg.buffer_size_meters, keys)
    return _dissolved_features(cfg, q, buf.select("g", "polygon"))


FORMATS = {
    "stops": fmt_stops,
    "lines": fmt_lines,
    "lines-and-stops": fmt_lines_and_stops,
    "envelope": fmt_envelope,
    "convex": fmt_convex,
    "stops-buffer": fmt_stops_buffer,
    "lines-buffer": fmt_lines_buffer,
    "stops-dissolved": fmt_stops_dissolved,
    "lines-dissolved": fmt_lines_dissolved,
}
