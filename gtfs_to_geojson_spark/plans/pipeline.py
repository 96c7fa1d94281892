"""End-to-end run orchestration — the reference's buildGeoJSON
(src/lib/gtfs-to-geojson.ts:115-249) re-expressed.

The reference fans out pLimit(20) driver tasks, one query per output
file (per shape, per route+direction). Here the fan-out is a grouping
key: the driver collects the output's group list once (the file
names), the groups become a small table that trips join to
(filters.BaseQuery), and one format call builds every file's features
in one plan, each tagged with its group ``g``. The sink then writes all
files in one ordered streaming pass (sinks.write_geojson_groups).
outputType decides the groups:

* ``agency`` — one group, one file (ts:236-243)
* ``route``  — per (route_id, direction_id), headsign-deduped trip
  projection decides the direction set (ts:167-235)
* ``shape``  — per distinct shape_id (ts:129-166)
"""

from __future__ import annotations

import dataclasses
import json
import os
import re
import time

from pyspark.sql import DataFrame, SparkSession

from .. import sinks
from ..operators import formats as fmt_mod
from ..operators import relational
from ..operators.filters import BaseQuery, apply_query, service_window
from .run_spec import RunSpec


def build_base_query(feed, cfg: RunSpec) -> BaseQuery:
    """F1 + F2 — the reference's baseQuery construction
    (src/lib/gtfs-to-geojson.ts:122-127), plus the first agency's name
    (the reference falls back to agencies[0], ts:297-308), looked up
    once per run."""
    svc = service_window(feed["calendar"], cfg.start_date, cfg.end_date)
    row = feed["agency"].orderBy("agency_id").limit(1).collect()
    return BaseQuery(service_ids=svc, agency_name=row[0]["agency_name"] if row else None)


def run(spark: SparkSession, feed: dict[str, DataFrame], cfg: RunSpec) -> dict:
    """Execute one run; returns stats (S9 — the reference logs feed
    version, counts, and a per-agency timer, src/lib/log-utils.ts and
    gtfs-to-geojson.ts:316-328)."""
    t0 = time.time()
    q = build_base_query(feed, cfg)
    fmt = fmt_mod.FORMATS[cfg.output_format]
    out_dir = cfg.out_dir or "./geojson_out"
    sinks.prep_directory(out_dir, cfg.overwrite)

    names, groups = _output_groups(spark, feed, q, cfg.output_type)
    files: list[dict] = []
    if names:
        feats = fmt(feed, cfg, dataclasses.replace(q, groups=groups))
        files = sinks.write_geojson_groups(feats, [os.path.join(out_dir, n) for n in names])

    if cfg.zip_output:
        sinks.zip_outputs(out_dir, os.path.join(out_dir, "geojson.zip"))

    stats = {
        "files": len(files),
        "features": int(sum(f["n_features"] for f in files)),
        "bytes": int(sum(f["bytes"] for f in files)),
        "seconds": round(time.time() - t0, 3),
        "feed_version": _feed_version(feed),
        "output_format": cfg.output_format,
        "output_type": cfg.output_type,
        "outputs": files,
    }
    with open(os.path.join(out_dir, "log.json"), "w") as f:
        json.dump(stats, f, indent=1)
    return stats


def _output_groups(spark, feed, q: BaseQuery, output_type: str) -> tuple[list[str], DataFrame | None]:
    """The file name of every group ``g`` (list index) and the group
    table trips join to (None: the single agency group). Only the key
    list is collected (feed cardinality)."""
    if output_type == "agency":
        key = q.agency_name.replace(" ", "-").lower() if q.agency_name else None
        return [(key or "agency") + ".geojson"], None
    types = dict(feed["trips"].dtypes)
    if output_type == "shape":
        # DISTINCT shape_ids (A4; reference ts:132), one file per shape
        pairs = relational.route_shape_pairs(feed["trips"], q)
        shape_ids = sorted(r[0] for r in pairs.select("shape_id").distinct().collect())
        table = spark.createDataFrame(
            list(enumerate(shape_ids)), f"g int, shape_id {types['shape_id']}"
        )
        return [f"{_safe(sid)}.geojson" for sid in shape_ids], table
    if output_type == "route":
        # per route: headsign-deduped trips give the direction set
        # (reference ts:181-196: uniqBy headsign, then per direction)
        trips_proj = apply_query(feed["trips"], q).select(
            "trip_id", "route_id", "direction_id", "trip_headsign"
        )
        dirs = (
            relational.headsign_dedup(trips_proj)
            .select("route_id", "direction_id")
            .distinct()
            .join(feed["routes"].select("route_id", "agency_id", "route_short_name"), "route_id")
            .collect()
        )
        seen: dict[str, int] = {}
        names, keys = [], []
        for row in sorted(dirs, key=lambda r: (str(r["route_id"]), str(r["direction_id"]))):
            # S7 filename: agency_id?_route_short_name?_route_id_direction
            parts = [row["agency_id"], row["route_short_name"], row["route_id"]]
            if row["direction_id"] is not None:
                parts.append(str(row["direction_id"]))
            base = _safe("_".join(str(p) for p in parts if p is not None))
            idx = seen.get(base)
            seen[base] = (idx or 0) + 1
            names.append(base + (f"_{idx}" if idx else "") + ".geojson")
            # a null direction selects every trip of the route
            keys.append((len(keys), row["route_id"], row["direction_id"]))
        table = spark.createDataFrame(
            keys, f"g int, route_id {types['route_id']}, g_dir {types['direction_id']}"
        )
        return names, table
    raise ValueError(f"unknown output_type: {output_type}")


def _safe(s: str) -> str:
    return re.sub(r'[\\/:*?"<>|\x00-\x1f]', "", s)


def _feed_version(feed) -> str:
    fi = feed.get("feed_info")
    if fi is not None:
        row = fi.limit(1).collect()
        if row:
            return row[0]["feed_version"]
    return "Unknown"  # reference fallback, src/lib/log-utils.ts:13-17
