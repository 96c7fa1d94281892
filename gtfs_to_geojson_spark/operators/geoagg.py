"""Distributed geometry aggregations A1–A3 + G2/G3 kernels.

* A1 envelope  — pure DataFrame min/max (map-side partial agg, no UDF)
* A2 convex    — two-phase mergeable hull: per-partition partial
  (mapInPandas, shrinks each partition to ≤ its hull) → single tiny
  final merge. Associativity proven in geometry.convex_hull.
* G3 buffers   — stop buffers are a pure Column expression (n-gon with
  cos(lat) lon-scaling — stays in codegen); line buffers are per-route
  capsule kernels (grouped map).
* A3 dissolve  — per-cell polygon union (grouped map) + final merge of
  the per-cell results; single-feature short-circuit and
  union-failure fallback both mirror the reference
  (src/lib/geojson-utils.ts:159-170).
* G2 simplify  — RDP in an Arrow-batched pandas UDF; skips MultiPolygon
  and is skipped entirely when precision is unset
  (geojson-utils.ts:119-147).
"""

from __future__ import annotations

import math
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import cells
from .. import geometry as geom

# ---------------------------------------------------------------------------
# A1 envelope
# ---------------------------------------------------------------------------


def envelope_bounds(lines: DataFrame, by: list[str], coord_col: str = "coordinates") -> DataFrame:
    """Bbox per ``by`` key over every coordinate of LineString rows
    (array<array<double>>) — explode-free: per-row array min/max first
    (JVM-side), then one agg. Returns (*by, min_lon, min_lat, max_lon,
    max_lat)."""
    per_row = lines.select(
        *by,
        F.array_min(F.transform(F.col(coord_col), lambda c: c[0])).alias("mnx"),
        F.array_max(F.transform(F.col(coord_col), lambda c: c[0])).alias("mxx"),
        F.array_min(F.transform(F.col(coord_col), lambda c: c[1])).alias("mny"),
        F.array_max(F.transform(F.col(coord_col), lambda c: c[1])).alias("mxy"),
    )
    return per_row.groupBy(*by).agg(
        F.min("mnx").alias("min_lon"),
        F.min("mny").alias("min_lat"),
        F.max("mxx").alias("max_lon"),
        F.max("mxy").alias("max_lat"),
    )


def bbox_polygon_col(min_lon, min_lat, max_lon, max_lat):
    """G4 — 5-point closed rectangle ring as a Column (turf bboxPolygon
    corner order, reference formats/envelope.ts:14)."""
    def pt(x, y):
        return F.array(x, y)

    return F.array(
        F.array(
            pt(min_lon, min_lat), pt(max_lon, min_lat), pt(max_lon, max_lat),
            pt(min_lon, max_lat), pt(min_lon, min_lat),
        )
    )


# ---------------------------------------------------------------------------
# A2 convex hull (partial + final)
# ---------------------------------------------------------------------------


def convex_hull_agg(points: DataFrame, lon_col: str = "stop_lon", lat_col: str = "stop_lat") -> list[list[float]] | None:
    """Convex hull of every point: the closed CCW ring as plain lists,
    or None for <3 distinct points (reference warns + emits nothing,
    formats/convex.ts:13-22)."""
    return convex_hulls(points.withColumn("_g", F.lit(0)), "_g", lon_col, lat_col).get(0)


def convex_hulls(
    points: DataFrame, group_col: str, lon_col: str = "stop_lon", lat_col: str = "stop_lat"
) -> dict:
    """Distributed convex hull per group: partial hull per (Arrow batch,
    group) (mapInPandas — output ≤ hull of the batch's group points),
    final merge per group over the tiny union of partials, one read of
    the input. Returns {group: ring or None}; groups without points are
    absent."""

    def partial(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for g, part in pdf.groupby(group_col, sort=False):
                pts = np.column_stack([part[lon_col].to_numpy(), part[lat_col].to_numpy()])
                hull = geom.convex_hull(pts)
                keep = pts if hull is None else hull[:-1]
                yield pd.DataFrame({group_col: g, lon_col: keep[:, 0], lat_col: keep[:, 1]})

    gtype = _spark_type_of(points, group_col)
    partials = points.select(group_col, lon_col, lat_col).dropna().mapInPandas(
        partial, schema=f"{group_col} {gtype}, {lon_col} double, {lat_col} double"
    )
    by_group: dict = {}
    for r in partials.collect():  # ≤ (hull size per batch) · batches — tiny
        by_group.setdefault(r[group_col], []).append((r[lon_col], r[lat_col]))
    out = {}
    for g, pts in by_group.items():
        hull = geom.convex_hull(np.asarray(pts))
        out[g] = None if hull is None else [[float(x), float(y)] for x, y in hull]
    return out


# ---------------------------------------------------------------------------
# G3 stop buffers — pure Column n-gon (no Python in the row path)
# ---------------------------------------------------------------------------


def stop_buffer_ring_col(lat_col, lon_col, meters: float, steps: int = 32):
    """Closed n-gon ring around each (lat, lon) as a Column expression:
    coordinates nest as array<array<double>> (one GeoJSON Polygon ring).
    Longitude radius scaled by cos(lat) — same local-frame model as
    geometry.buffer_point, so tests can cross-check exactly."""
    angles = [2.0 * math.pi * i / steps for i in range(steps)] + [0.0]
    m_per_deg = geom.EARTH_M_PER_DEG_LAT
    sx = F.greatest(F.cos(F.radians(lat_col)), F.lit(1e-9)) * F.lit(m_per_deg)
    pts = [
        F.array(
            lon_col + F.lit(meters * math.cos(a)) / sx,
            lat_col + F.lit(meters * math.sin(a) / m_per_deg),
        )
        for a in angles
    ]
    return F.array(*pts)


# ---------------------------------------------------------------------------
# G3 line buffers (grouped map — per-feature capsule union)
# ---------------------------------------------------------------------------

_POLY = T.ArrayType(T.ArrayType(T.ArrayType(T.DoubleType())))


def line_buffer_polygons(lines: DataFrame, meters: float, key_cols: list[str]) -> DataFrame:
    """Per input LineString row → one Polygon (outer ring[s]) buffering
    the line: capsules per segment unioned per feature; on union
    failure, falls back to the convex hull of the capsule vertices
    (still contains the line — the golden contract for lines-buffer,
    FIXTURES.md §3). Arrow-batched mapInPandas; numpy inside."""
    in_cols = key_cols + ["coordinates"]

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_rings = []
            for coords in pdf["coordinates"]:
                arr = np.asarray([[c[0], c[1]] for c in coords], dtype=np.float64)
                caps = geom.buffer_line(arr, meters)
                rings, ok = geom.union_or_parts(caps)
                if not ok or len([r for r in rings if geom.signed_area(r) > 0]) > 1:
                    hull = geom.convex_hull(np.vstack([r[:-1] for r in caps]))
                    rings = [hull] if hull is not None else [caps[0]]
                poly = [r.tolist() for r in rings]
                out_rings.append(poly)
            res = pdf[key_cols].copy()
            res["polygon"] = out_rings
            yield res

    fields = ", ".join(f"{c} {_spark_type_of(lines, c)}" for c in key_cols)
    schema = f"{fields}, polygon array<array<array<double>>>"
    return lines.select(*in_cols).mapInPandas(kernel, schema)


def _spark_type_of(df: DataFrame, col: str) -> str:
    return dict(df.dtypes)[col]


# ---------------------------------------------------------------------------
# A3 dissolve — per-cell union + final merge
# ---------------------------------------------------------------------------


def dissolve_polygons(
    polys: DataFrame,
    poly_col: str = "polygon",
    cell_res: int | None = None,
    salt_target_rows: int | None = 5000,
    group_col: str | None = None,
):
    """Union all Polygon rows into MultiPolygon parts.

    Scale path (SURVEY.md A3): group rings by the grid cell of their
    bbox center at a resolution where cells ≫ polygon size, union each
    cell's rings in a grouped-map kernel (map-side shrink), then run a
    final merge over the (few) cell results. Mirrors the reference's
    two behaviors: single-feature short-circuit (geojson-utils.ts:
    160-162) and fallback-to-parts on union failure (:135-146).

    Returns python-list MultiPolygon coordinates: list of polygons,
    each a list of rings (outer CCW first, holes after). With
    ``group_col`` each group dissolves on its own (cells are keyed by
    (group, cell), the final merge runs per group) and the result is a
    dict from every group that has polygons to its parts.

    The input is read once: it stays materialised for the call, so the
    bbox/count aggregate, the hot-cell check and the grouped union do
    not re-run the plan that produced it. Rings are unioned in a
    canonical order, so the result does not depend on row order.

    ``salt_target_rows``: when any cell holds more polygons than this,
    that cell's union runs as salted partials first (per (cell, salt))
    before the per-cell merge — grouped-map skew handling; None
    disables. Union associativity keeps the result exact.
    """
    g = group_col or "_g"
    src = polys.select(F.col(g) if group_col else F.lit(0).alias(g), poly_col)
    src = src.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        parts = _dissolve_groups(src, g, poly_col, cell_res, salt_target_rows)
    finally:
        src.unpersist()
    return parts if group_col else parts.get(0, [])


def _canonical(rings: list[np.ndarray]) -> list[np.ndarray]:
    """Rings in an order fixed by their coordinates alone."""
    return sorted(rings, key=lambda r: r.tobytes())


def _union_rings(rings: list[np.ndarray]) -> list[np.ndarray]:
    merged: list[np.ndarray] = []
    for comp in geom.connected_components(rings):
        part, _ok = geom.union_or_parts([rings[i] for i in comp])
        merged.extend(part)
    return merged


def _dissolve_groups(src: DataFrame, g: str, poly_col: str, cell_res, salt_target_rows) -> dict:
    ring0 = f"{poly_col}[0]"
    stats = src.groupBy(g).agg(
        F.count(F.lit(1)).alias("n"),
        F.min(F.expr(f"aggregate({ring0}, cast(180.0 as double), (a, c) -> least(a, c[0]))")).alias("mnx"),
        F.max(F.expr(f"aggregate({ring0}, cast(-180.0 as double), (a, c) -> greatest(a, c[0]))")).alias("mxx"),
        F.min(F.expr(f"aggregate({ring0}, cast(90.0 as double), (a, c) -> least(a, c[1]))")).alias("mny"),
        F.max(F.expr(f"aggregate({ring0}, cast(-90.0 as double), (a, c) -> greatest(a, c[1]))")).alias("mxy"),
    ).collect()
    if not stats:
        return {}

    # per group, pick a cell resolution from its bbox so one cell covers
    # many buffers (few groups, the final merge handles borders)
    by_res: dict[int, list] = {}
    for r in stats:
        res = cell_res if cell_res is not None else cells.cover_res_for_bbox(
            r.mnx, r.mny, r.mxx, r.mxy, target_cells=16
        )
        by_res.setdefault(res, []).append(r[g])

    # centroid-of-first-ring cell assignment (JVM-side)
    cx = F.expr(f"aggregate({ring0}, cast(0.0 as double), (a, c) -> a + c[0]) / size({ring0})")
    cy = F.expr(f"aggregate({ring0}, cast(0.0 as double), (a, c) -> a + c[1]) / size({ring0})")
    (res0, _), *rest = sorted(by_res.items())
    cell = cells.cell_col(cy, cx, res0)
    for res, keys in rest:
        cell = F.when(F.col(g).isin(keys), cells.cell_col(cy, cx, res)).otherwise(cell)
    with_cell = src.withColumn("cell", cell)

    def _union_pdf(pdf: pd.DataFrame) -> list:
        rings: list[np.ndarray] = []
        for poly in pdf[poly_col]:
            for ring in poly:
                rings.append(np.asarray([[p[0], p[1]] for p in ring], dtype=np.float64))
        # pre-union simplify (reference v2.0.4: shrink before union)
        rings = [geom.simplify_ring(r, 1e-7) for r in _canonical(rings)]
        return [r.tolist() for r in _union_rings(rings)]

    gtype = _spark_type_of(src, g)
    out_schema = f"{g} {gtype}, {poly_col} array<array<array<double>>>"

    def union_kernel(key, pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame({g: [key[0]], poly_col: [_union_pdf(pdf)]})

    def union_kernel_keyed(key, pdf: pd.DataFrame) -> pd.DataFrame:
        # keeps the cell key for the second (per-cell) merge level
        return pd.DataFrame({g: [key[0]], "cell": [key[1]], poly_col: [_union_pdf(pdf)]})

    # grouped-map skew (SURVEY §7 hard part 4): the union kernel is
    # superlinear in rings-per-group, so one mega-city cell dominates
    # the stage. When any cell exceeds the salt target, partial unions
    # run per (cell, salt) first — union is associative, so salted
    # partials + per-cell merge + driver final is exact. A cell can only
    # be hot if its group is, so the check is skipped when none is.
    hot = False
    if salt_target_rows is not None and any(r.n > salt_target_rows for r in stats):
        hist = with_cell.groupBy(g, "cell").count()
        hot = hist.filter(F.col("count") > salt_target_rows).limit(1).count() > 0
    if hot:
        from .spatial import salted_adaptive

        # salt by content, not row position, so the partials do not
        # depend on row order either
        salted = salted_adaptive(
            with_cell.withColumn("_gc", F.struct(g, "cell")),
            "_gc",
            id_col=poly_col,
            target_rows_per_group=salt_target_rows,
        )
        partials = salted.groupBy(g, "cell", "_salt").applyInPandas(
            union_kernel_keyed, f"{g} {gtype}, cell long, {poly_col} array<array<array<double>>>"
        )
        cell_results = partials.groupBy(g, "cell").applyInPandas(union_kernel, out_schema).collect()
    else:
        cell_results = with_cell.groupBy(g, "cell").applyInPandas(union_kernel, out_schema).collect()

    # final merge on the driver, per group — one entry per cell, tiny
    rings_by_group: dict = {}
    for row in cell_results:
        rings_by_group.setdefault(row[g], []).extend(
            np.asarray(ring, dtype=np.float64) for ring in row[poly_col]
        )
    return {key: _merge_cells(_canonical(rings)) for key, rings in rings_by_group.items()}


def _merge_cells(all_rings: list[np.ndarray]) -> list[list[list[list[float]]]]:
    outers = [r for r in all_rings if geom.signed_area(r) >= 0]
    holes = [r for r in all_rings if geom.signed_area(r) < 0]
    merged = _union_rings(outers)
    outs = [r for r in merged if geom.signed_area(r) >= 0] or merged
    new_holes = [r for r in merged if geom.signed_area(r) < 0] + holes
    return _group_holes(outs, new_holes)


def _group_holes(outers: list[np.ndarray], holes: list[np.ndarray]) -> list[list[list[list[float]]]]:
    """Assign each hole ring to the smallest containing outer →
    GeoJSON MultiPolygon coordinate nesting."""
    polys: list[list[np.ndarray]] = [[o] for o in outers]
    areas = [abs(geom.signed_area(o)) for o in outers]
    for h in holes:
        px, py = h[0, 0], h[0, 1]
        best, best_area = None, None
        for i, o in enumerate(outers):
            if geom.points_in_ring(np.asarray([px]), np.asarray([py]), o)[0]:
                if best_area is None or areas[i] < best_area:
                    best, best_area = i, areas[i]
        if best is not None:
            polys[best].append(h)
    return [[r.tolist() for r in rings] for rings in polys]


# ---------------------------------------------------------------------------
# G2 simplify (RDP pandas UDF over LineString coords)
# ---------------------------------------------------------------------------


def simplify_lines_udf(precision: int | None):
    """Returns a pandas UDF simplifying array<array<double>> coords with
    tolerance 1/10^precision (reference geojson-utils.ts:124-129), or
    None when precision is unset (reference skips, :120-122)."""
    if precision is None:
        return None
    tol = 1.0 / (10.0**precision)

    @F.pandas_udf(T.ArrayType(T.ArrayType(T.DoubleType())))
    def simp(s: pd.Series) -> pd.Series:
        out = []
        for coords in s:
            arr = np.asarray([[c[0], c[1]] for c in coords], dtype=np.float64)
            if len(arr) <= 2:
                out.append(arr.tolist())
                continue
            out.append(geom.simplify_line(arr, tol).tolist())
        return pd.Series(out)

    return simp


# ---------------------------------------------------------------------------
# Polygon clip — boolean overlay (intersection / difference) against a
# broadcast clip geometry (engine-new; extends G5's overlay machinery)
# ---------------------------------------------------------------------------


def clip_polygons(
    polys: DataFrame,
    clip_rings: list,
    op: str = "intersection",
    poly_col: str = "polygon",
    key_cols: list[str] | None = None,
) -> DataFrame:
    """Clip every Polygon row against a fixed clip geometry (list of
    rings, lon/lat pairs): ``op`` ∈ {'intersection', 'difference'}.

    The clip geometry rides in the task closure (it is a broadcast-dim
    analog — a region boundary, an AOI mask), the table side streams
    through ``mapInPandas`` one Arrow batch at a time, numpy overlay
    kernel per row. Rows whose result is empty are dropped; rows whose
    overlay degenerates (UnionError) fall back to the uncut input —
    the same failure contract as dissolve/union (reference
    src/lib/geojson-utils.ts:135-146). Output: key columns +
    ``polygon`` (rings, outers CCW / holes CW) + ``clip_status``
    ('clipped' | 'fallback')."""
    if op not in ("intersection", "difference"):
        raise ValueError(f"op must be intersection|difference, got {op!r}")
    key_cols = key_cols if key_cols is not None else [
        c for c in polys.columns if c != poly_col
    ]
    clip = [np.asarray(r, dtype=np.float64) for r in clip_rings]
    fn = geom.polygon_intersection if op == "intersection" else geom.polygon_difference

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            keep_rows, out_polys, status = [], [], []
            for i, rings in enumerate(pdf[poly_col]):
                rr = [
                    np.asarray([[c[0], c[1]] for c in ring], dtype=np.float64)
                    for ring in rings
                ]
                try:
                    cut = fn(rr, clip)
                    st = "clipped"
                except geom.UnionError:
                    cut, st = rr, "fallback"
                if not cut:
                    continue
                keep_rows.append(i)
                out_polys.append([r.tolist() for r in cut])
                status.append(st)
            res = pdf.iloc[keep_rows][key_cols].reset_index(drop=True)
            # explicit object dtype: an all-dropped batch would otherwise
            # produce an empty float64 column Arrow can't cast to the
            # nested list type
            res["polygon"] = pd.Series(out_polys, dtype=object)
            res["clip_status"] = pd.Series(status, dtype=object)
            yield res

    fields = ", ".join(f"{c} {_spark_type_of(polys, c)}" for c in key_cols)
    schema = f"{fields}, polygon array<array<array<double>>>, clip_status string"
    return polys.select(*(key_cols + [poly_col])).mapInPandas(kernel, schema)
