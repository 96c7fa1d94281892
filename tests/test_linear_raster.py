"""J14/G14 linear referencing + R1 rasterization: brute-force numpy
equivalence, clamp/degenerate edges, tie-break determinism, radius
exclusion, cumulative-offset correctness, and raster decode-roundtrip."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from gtfs_to_geojson_spark import cells, images
from gtfs_to_geojson_spark.operators import linear_ref, raster


# ---------------------------------------------------------------------------
# numpy reference implementation
# ---------------------------------------------------------------------------


def _brute_snap(pts: pd.DataFrame, segs: pd.DataFrame, kx=1.0, ky=1.0, max_dist=None):
    """Per point: argmin over ALL segments of the clamped-projection
    distance, tie-break (dist2, line_id, seg_idx); returns dict
    point_id -> (line_id, seg_idx, t, along, dist)."""
    out = {}
    ex = (segs.bx - segs.ax).to_numpy() * kx
    ey = (segs.by - segs.ay).to_numpy() * ky
    len2 = ex * ex + ey * ey
    for _, p in pts.iterrows():
        wx = (p.lon - segs.ax.to_numpy()) * kx
        wy = (p.lat - segs.ay.to_numpy()) * ky
        t = np.where(len2 > 0, (wx * ex + wy * ey) / np.where(len2 > 0, len2, 1.0), 0.0)
        t = np.clip(t, 0.0, 1.0)
        rx, ry = wx - t * ex, wy - t * ey
        d2 = rx * rx + ry * ry
        order = np.lexsort((segs.seg_idx.to_numpy(), segs.line_id.to_numpy(), d2))
        j = order[0]
        if max_dist is not None and d2[j] > max_dist**2:
            continue
        out[p.point_id] = (
            int(segs.line_id.iloc[j]),
            int(segs.seg_idx.iloc[j]),
            float(t[j]),
            float(segs.cum0.iloc[j] + t[j] * np.sqrt(len2[j])),
            float(np.sqrt(d2[j])),
        )
    return out


def _mk_vertices(n_lines=7, n_vtx=6, seed=3):
    rng = np.random.RandomState(seed)
    rows = []
    for li in range(n_lines):
        x, y = rng.rand() * 0.5 - 122.5, rng.rand() * 0.4 + 37.7
        for s in range(n_vtx):
            rows.append((li, s * 10, x, y))  # seq has gaps on purpose
            x += rng.rand() * 0.02 - 0.005
            y += rng.rand() * 0.02 - 0.005
    return pd.DataFrame(rows, columns=["line_id", "seq", "x", "y"])


def _brute_segments(v: pd.DataFrame, kx=1.0, ky=1.0) -> pd.DataFrame:
    rows = []
    for li, g in v.groupby("line_id"):
        g = g.sort_values("seq")
        cum = 0.0
        for i in range(len(g) - 1):
            a, b = g.iloc[i], g.iloc[i + 1]
            rows.append((li, i, a.x, a.y, b.x, b.y, cum))
            cum += float(np.sqrt(((b.x - a.x) * kx) ** 2 + ((b.y - a.y) * ky) ** 2))
    return pd.DataFrame(rows, columns=list(linear_ref.SEG_COLS))


# ---------------------------------------------------------------------------
# segments_from_vertices
# ---------------------------------------------------------------------------


def test_segments_from_vertices_matches_brute(spark):
    v = _mk_vertices()
    kx, ky = linear_ref.meters_scale(37.8)
    got = (
        linear_ref.segments_from_vertices(
            spark.createDataFrame(v), x="x", y="y", kx=kx, ky=ky
        )
        .toPandas()
        .sort_values(["line_id", "seg_idx"])
        .reset_index(drop=True)
    )
    want = _brute_segments(v, kx, ky)
    pd.testing.assert_frame_equal(got[list(linear_ref.SEG_COLS)], want, atol=1e-9, rtol=0)


def test_single_vertex_line_yields_no_segments(spark):
    v = pd.DataFrame({"line_id": [1], "seq": [0], "x": [0.0], "y": [0.0]})
    assert linear_ref.segments_from_vertices(spark.createDataFrame(v), x="x", y="y").count() == 0


# ---------------------------------------------------------------------------
# keyed locate-along
# ---------------------------------------------------------------------------


def test_locate_along_keyed_matches_brute(spark):
    v = _mk_vertices()
    segs = _brute_segments(v)
    rng = np.random.RandomState(11)
    n = 200
    pts = pd.DataFrame(
        {
            "point_id": np.arange(n, dtype=np.int64),
            "line_id": rng.randint(0, 7, n),
            "lon": rng.rand(n) * 0.6 - 122.55,
            "lat": rng.rand(n) * 0.5 + 37.65,
        }
    )
    out = linear_ref.locate_along_keyed(
        spark.createDataFrame(pts),
        spark.createDataFrame(segs),
        key="line_id",
    ).toPandas()
    assert len(out) == n
    # brute per point, restricted to its own line
    for _, row in out.iterrows():
        mine = segs[segs.line_id == row.line_id].reset_index(drop=True)
        ref = _brute_snap(pts[pts.point_id == row.point_id], mine)[row.point_id]
        assert (row.seg_idx, round(row.t, 12)) == (ref[1], round(ref[2], 12))
        assert row.along == pytest.approx(ref[3], abs=1e-12)
        assert row.dist == pytest.approx(ref[4], abs=1e-12)


def test_locate_along_endpoints_clamp(spark):
    # one horizontal segment (0,0)->(1,0); points beyond both ends clamp
    segs = pd.DataFrame([(0, 0, 0.0, 0.0, 1.0, 0.0, 0.0)], columns=list(linear_ref.SEG_COLS))
    pts = pd.DataFrame(
        {"point_id": [1, 2, 3], "line_id": [0, 0, 0], "lon": [-2.0, 0.25, 5.0], "lat": [1.0, 2.0, 1.0]}
    )
    out = (
        linear_ref.locate_along_keyed(spark.createDataFrame(pts), spark.createDataFrame(segs), key="line_id")
        .toPandas()
        .set_index("point_id")
    )
    assert out.loc[1, "t"] == 0.0 and out.loc[1, "along"] == 0.0
    assert out.loc[2, "t"] == 0.25 and out.loc[2, "along"] == pytest.approx(0.25)
    assert out.loc[3, "t"] == 1.0 and out.loc[3, "along"] == 1.0
    assert out.loc[1, "dist"] == pytest.approx(np.sqrt(4.0 + 1.0))


def test_zero_length_segment_is_point_distance(spark):
    segs = pd.DataFrame([(0, 0, 2.0, 3.0, 2.0, 3.0, 7.0)], columns=list(linear_ref.SEG_COLS))
    pts = pd.DataFrame({"point_id": [1], "line_id": [0], "lon": [5.0], "lat": [7.0]})
    out = linear_ref.locate_along_keyed(
        spark.createDataFrame(pts), spark.createDataFrame(segs), key="line_id"
    ).toPandas()
    assert out.t[0] == 0.0 and out.along[0] == 7.0
    assert out.dist[0] == pytest.approx(5.0)


def test_tie_breaks_to_lowest_seg_idx(spark):
    # two identical-distance segments; argmin must pick seg_idx 0
    segs = pd.DataFrame(
        [(0, 0, 0.0, 1.0, 1.0, 1.0, 0.0), (0, 1, 0.0, -1.0, 1.0, -1.0, 1.0)],
        columns=list(linear_ref.SEG_COLS),
    )
    pts = pd.DataFrame({"point_id": [1], "line_id": [0], "lon": [0.5], "lat": [0.0]})
    out = linear_ref.locate_along_keyed(
        spark.createDataFrame(pts), spark.createDataFrame(segs), key="line_id"
    ).toPandas()
    assert out.seg_idx[0] == 0


# ---------------------------------------------------------------------------
# unkeyed radius-bounded snap
# ---------------------------------------------------------------------------


def test_snap_points_matches_brute(spark):
    v = _mk_vertices(n_lines=5, n_vtx=8, seed=9)
    segs = _brute_segments(v)
    rng = np.random.RandomState(4)
    n = 300
    pts = pd.DataFrame(
        {
            "point_id": np.arange(n, dtype=np.int64),
            "lon": rng.rand(n) * 0.7 - 122.6,
            "lat": rng.rand(n) * 0.6 + 37.6,
        }
    )
    max_dist = 0.05
    out = (
        linear_ref.snap_points_to_segments(
            spark.createDataFrame(pts), spark.createDataFrame(segs), max_dist=max_dist, res=12
        )
        .toPandas()
        .set_index("point_id")
    )
    ref = _brute_snap(pts, segs, max_dist=max_dist)
    assert set(out.index) == set(ref)
    for pid, (li, si, t, along, dist) in ref.items():
        row = out.loc[pid]
        assert (row.line_id, row.seg_idx) == (li, si)
        assert row.t == pytest.approx(t, abs=1e-12)
        assert row.along == pytest.approx(along, abs=1e-12)
        assert row.dist == pytest.approx(dist, abs=1e-12)
        assert row.dist <= max_dist


def test_snap_excludes_far_points(spark):
    segs = pd.DataFrame([(0, 0, 0.0, 0.0, 1.0, 0.0, 0.0)], columns=list(linear_ref.SEG_COLS))
    pts = pd.DataFrame({"point_id": [1, 2], "lon": [0.5, 0.5], "lat": [0.005, 3.0]})
    out = linear_ref.snap_points_to_segments(
        spark.createDataFrame(pts), spark.createDataFrame(segs), max_dist=0.01, res=10
    ).toPandas()
    assert list(out.point_id) == [1]


def test_snap_scaled_metric_changes_winner(spark):
    """With anisotropic kx≫ky the vertical neighbor must win even
    though the horizontal one is closer in raw degrees — proves the
    metric is applied inside the argmin, not post-hoc."""
    segs = pd.DataFrame(
        [(0, 0, 0.02, 0.0, 0.03, 0.0, 0.0),  # east, 0.02 deg away in lon
         (1, 0, 0.0, 0.03, 0.0, 0.04, 0.0)],  # north, 0.03 deg away in lat
        columns=list(linear_ref.SEG_COLS),
    )
    pts = pd.DataFrame({"point_id": [1], "lon": [0.0], "lat": [0.0]})
    deg = linear_ref.snap_points_to_segments(
        spark.createDataFrame(pts), spark.createDataFrame(segs), max_dist=0.05, res=8
    ).toPandas()
    assert deg.line_id[0] == 0
    kx, ky = 3.0, 1.0  # lon distances now cost 3x
    scaled = linear_ref.snap_points_to_segments(
        spark.createDataFrame(pts), spark.createDataFrame(segs),
        max_dist=0.12, res=8, kx=kx, ky=ky,
    ).toPandas()
    assert scaled.line_id[0] == 1
    assert scaled.dist[0] == pytest.approx(0.03)  # ky*0.03


# ---------------------------------------------------------------------------
# rasterization
# ---------------------------------------------------------------------------


def test_rasterize_counts_matches_numpy(spark):
    rng = np.random.RandomState(7)
    n = 5000
    pts = pd.DataFrame({"lon": rng.rand(n) * 0.2 - 122.5, "lat": rng.rand(n) * 0.2 + 37.7})
    tile_res, px_bits = 10, 4
    out = raster.rasterize_counts(spark.createDataFrame(pts), tile_res, px_bits).toPandas()
    # numpy mirror
    fine = tile_res + px_bits
    nn = 1 << fine
    mask = (1 << px_bits) - 1
    x = np.clip(np.floor((pts.lon.to_numpy() + 180.0) / 360.0 * nn), 0, nn - 1).astype(np.int64)
    y = np.clip(np.floor((pts.lat.to_numpy() + 90.0) / 180.0 * nn), 0, nn - 1).astype(np.int64)
    tile = (np.int64(tile_res) << 58) + (x >> px_bits << 29) + (y >> px_bits)
    want = (
        pd.DataFrame({"tile": tile, "px_x": x & mask, "px_y": mask - (y & mask)})
        .groupby(["tile", "px_x", "px_y"])
        .size()
        .rename("n")
        .reset_index()
    )
    got = out.sort_values(["tile", "px_x", "px_y"]).reset_index(drop=True)
    want = want.sort_values(["tile", "px_x", "px_y"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(got, want, check_dtype=False)
    assert int(out.n.sum()) == n


def test_density_tiles_roundtrip(spark):
    """decode(encode) recovers the clipped count grid exactly, in the
    north-up orientation."""
    # two points in one known tile: one pixel once, one pixel 300 times
    tile_res, px_bits = 8, 2
    pts = pd.DataFrame(
        {"lon": [10.0] * 300 + [10.7], "lat": [45.0] * 300 + [45.6]}
    )
    counts = raster.rasterize_counts(spark.createDataFrame(pts), tile_res, px_bits)
    tiles = raster.density_tiles(counts, px_bits).toPandas()
    assert len(tiles) == 1
    img = images.decode(bytes(tiles.image[0]), "png")
    assert img.shape == (4, 4, 3)
    assert tiles.n_points[0] == 301 and tiles.max_count[0] == 300
    cp = counts.toPandas()
    grid = np.zeros((4, 4), dtype=np.int64)
    grid[cp.px_y.to_numpy(), cp.px_x.to_numpy()] = cp.n.to_numpy()
    assert np.array_equal(img[:, :, 0], np.minimum(grid, 255).astype(np.uint8))
    assert np.array_equal(img[:, :, 0], img[:, :, 1])
    # the 45.6-lat point sits NORTH of the 45.0 one -> smaller py (row)
    py300 = cp[cp.n == 300].px_y.iloc[0]
    py1 = cp[cp.n == 1].px_y.iloc[0]
    assert py1 < py300


def test_rasterize_sql_mirror_matches(spark):
    import duckdb

    rng = np.random.RandomState(13)
    pts = pd.DataFrame({"lon": rng.rand(400) * 360 - 180, "lat": rng.rand(400) * 180 - 90})
    got = (
        raster.rasterize_counts(spark.createDataFrame(pts), 9, 3)
        .toPandas()
        .sort_values(["tile", "px_x", "px_y"])
        .reset_index(drop=True)
    )
    con = duckdb.connect()
    con.register("pts", pts)
    want = con.execute(
        f"SELECT tile, px_x, px_y, count(*) AS n FROM ("
        f"SELECT {raster.rasterize_sql('lat', 'lon', 9, 3)} FROM pts) "
        f"GROUP BY 1,2,3 ORDER BY 1,2,3"
    ).fetchdf()
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


# ---------------------------------------------------------------------------
# transit wrapper: shape_dist_traveled
# ---------------------------------------------------------------------------


def test_vertices_locate_to_their_own_dist(spark, feed, feed_pd):
    """A shape's own vertices snap to that shape at dist 0 with
    along == the feed's shape_dist_traveled column (synth computes the
    same cumulative metric, synth.py:139)."""
    from gtfs_to_geojson_spark.operators import linear_ref

    sh = feed_pd["shapes"]
    verts_df = spark.createDataFrame(sh).select(
        F.col("shape_id").alias("line_id"),
        F.col("shape_pt_sequence").alias("seq"),
        F.col("shape_pt_lon").alias("x"),
        F.col("shape_pt_lat").alias("y"),
    )
    segs = linear_ref.segments_from_vertices(verts_df, x="x", y="y")
    pts = spark.createDataFrame(sh).select(
        F.concat_ws("|", "shape_id", F.col("shape_pt_sequence").cast("string")).alias("point_id"),
        F.col("shape_id").alias("line_key"),
        F.col("shape_pt_lon").alias("lon"),
        F.col("shape_pt_lat").alias("lat"),
    )
    out = linear_ref.locate_along_keyed(pts, segs, key="line_key").toPandas()
    assert len(out) == len(sh)
    want = {
        f"{r.shape_id}|{r.shape_pt_sequence}": r.shape_dist_traveled
        for r in sh.itertuples()
    }
    for r in out.itertuples():
        assert r.dist == pytest.approx(0.0, abs=1e-12)
        assert r.along == pytest.approx(want[r.point_id], abs=1e-9)


def test_stop_shape_dist_traveled_wrapper(spark, feed):
    from gtfs_to_geojson_spark.operators import transit_spatial

    out = transit_spatial.stop_shape_dist_traveled(feed).toPandas()
    st = feed["stop_times"].join(
        feed["trips"].select("trip_id", "shape_id"), "trip_id"
    )
    with_shape = st.join(
        feed["shapes"].select("shape_id").distinct(), "shape_id"
    ).count()
    assert len(out) == with_shape and with_shape > 0
    assert {"shape_dist_traveled", "snap_dist", "stop_sequence"} <= set(out.columns)
    max_len = (
        feed["shapes"].groupBy("shape_id").count().toPandas()["count"].max()
    )
    assert (out.shape_dist_traveled >= 0).all()
    assert (out.snap_dist >= 0).all()


# ---------------------------------------------------------------------------
# raster pyramid
# ---------------------------------------------------------------------------


def test_pyramid_counts_equals_direct_rasterize(spark):
    """Rolling child counts one level up must equal rasterizing the
    SAME points directly at tile_res-1 — pins the halving arithmetic
    (incl. the floor-nesting identity and the north-up flip)."""
    rng = np.random.RandomState(21)
    pts = pd.DataFrame({"lon": rng.rand(3000) * 350 - 175, "lat": rng.rand(3000) * 170 - 85})
    df = spark.createDataFrame(pts)
    child = raster.rasterize_counts(df, 9, 3)
    up = (
        raster.pyramid_counts(child, 9, 3)
        .toPandas()
        .sort_values(["tile", "px_x", "px_y"])
        .reset_index(drop=True)
    )
    direct = (
        raster.rasterize_counts(df, 8, 3)
        .toPandas()
        .sort_values(["tile", "px_x", "px_y"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(up, direct, check_dtype=False)


def test_pyramid_guards(spark):
    """ADVICE r4: res-0 children must raise (tres-1 would pack -1 into
    the res bit field), a declared tile_res that contradicts the tile
    ids' own res bits must raise instead of silently emitting parents
    with a wrong res prefix, and pyramid_counts without tile_res
    derives res from the ids like pyramid_tiles does."""
    rng = np.random.RandomState(23)
    pts = pd.DataFrame({"lon": rng.rand(200) * 350 - 175, "lat": rng.rand(200) * 170 - 85})
    df = spark.createDataFrame(pts)
    child = raster.rasterize_counts(df, 9, 3)
    # derived-res path (no tile_res) equals the declared-res path
    a = raster.pyramid_counts(child, px_bits=3).toPandas().sort_values(
        ["tile", "px_x", "px_y"]).reset_index(drop=True)
    b = raster.pyramid_counts(child, 9, 3).toPandas().sort_values(
        ["tile", "px_x", "px_y"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)
    # declared res contradicting the id bits raises at execution
    with pytest.raises(Exception, match="res bits"):
        raster.pyramid_counts(child, 8, 3).collect()
    # res-0 children have no parent: counts...
    zero = raster.rasterize_counts(df, 0, 3)
    with pytest.raises(Exception, match="res 0"):
        raster.pyramid_counts(zero, px_bits=3).collect()
    with pytest.raises(ValueError, match="res 0"):
        raster.pyramid_counts(zero, 0, 3)
    # ...and tiles
    t0 = raster.density_tiles(zero, px_bits=3)
    with pytest.raises(Exception, match="res 0"):
        raster.pyramid_tiles(t0, px_bits=3).collect()


def test_snap_res_bounds():
    """snap_points_to_segments rejects res outside [0, MAX_RES] instead
    of silently overflowing the x*2^29+y cell packing (ADVICE r4)."""
    from gtfs_to_geojson_spark import cells

    for bad in (-1, cells.MAX_RES + 1, 30):
        with pytest.raises(ValueError, match="res must be"):
            linear_ref.snap_points_to_segments(None, None, 0.1, bad)


def test_pyramid_sql_mirror_matches(spark):
    import duckdb

    rng = np.random.RandomState(22)
    pts = pd.DataFrame({"lon": rng.rand(500) * 360 - 180, "lat": rng.rand(500) * 180 - 90})
    child_pd = raster.rasterize_counts(spark.createDataFrame(pts), 9, 3).toPandas()
    got = (
        raster.pyramid_counts(
            spark.createDataFrame(child_pd), 9, 3
        )
        .toPandas()
        .sort_values(["tile", "px_x", "px_y"])
        .reset_index(drop=True)
    )
    con = duckdb.connect()
    con.register("child", child_pd)
    want = con.execute(
        f"SELECT tile, px_x, px_y, sum(n) AS n FROM ("
        f"SELECT {raster.pyramid_sql(9, 3)}, n FROM child) "
        f"GROUP BY 1,2,3 ORDER BY 1,2,3"
    ).fetchdf()
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_pyramid_tiles_matches_numpy(spark):
    """Image-level pyramid: decode children, mosaic quadrants
    (north-up), 2x2 floor-mean — against an independent numpy build,
    including a parent with a missing (black) quadrant."""
    tile_res, px_bits = 8, 2
    side = 1 << px_bits
    # points in two sibling child tiles (same parent) + one lone tile
    pts = pd.DataFrame(
        {
            "lon": [10.05] * 7 + [9.0] * 300 + [-120.0] * 5,
            "lat": [45.05] * 7 + [45.05] * 300 + [-30.0] * 5,
        }
    )
    counts = raster.rasterize_counts(spark.createDataFrame(pts), tile_res, px_bits)
    tiles = raster.density_tiles(counts, px_bits)
    up = raster.pyramid_tiles(tiles, px_bits).toPandas()
    # numpy reference from the child images themselves
    child = tiles.toPandas()
    mask29 = (1 << 29) - 1
    ref = {}
    for row in child.itertuples():
        tx, ty = (row.tile >> 29) & mask29, row.tile & mask29
        tr = row.tile >> 58
        parent = ((tr - 1) << 58) + ((tx >> 1) << 29) + (ty >> 1)
        mosaic = ref.setdefault(parent, np.zeros((2 * side, 2 * side, 3), np.uint32))
        img = images.decode(bytes(row.image), "png")
        r0, c0 = (1 - (ty & 1)) * side, (tx & 1) * side
        mosaic[r0 : r0 + side, c0 : c0 + side] = img
    assert set(up.tile) == set(ref)
    for row in up.itertuples():
        m = ref[row.tile]
        want = ((m[0::2, 0::2] + m[0::2, 1::2] + m[1::2, 0::2] + m[1::2, 1::2]) // 4).astype(np.uint8)
        got = images.decode(bytes(row.image), "png")
        assert np.array_equal(got, want)
    # the two sibling tiles share a parent; the lone tile's parent has 1 child
    assert sorted(up.n_children) == [1, 2]


# ---------------------------------------------------------------------------
# inverse linear referencing
# ---------------------------------------------------------------------------


def _brute_position(measures: pd.DataFrame, segs: pd.DataFrame):
    """Reference: covering segment = largest cum0 <= along (none ->
    smallest cum0), cum0 ties to the LARGEST seg_idx — the real
    segment after a zero-length one, so interior measures interpolate
    instead of clamping to the duplicated vertex; clamp t to [0,1]."""
    out = {}
    for _, m in measures.iterrows():
        mine = segs[segs.line_id == m.line_id]
        cover = mine[mine.cum0 <= m.along]
        if len(cover):
            row = cover.sort_values(["cum0", "seg_idx"], ascending=[False, False]).iloc[0]
        else:
            row = mine.sort_values(["cum0", "seg_idx"], ascending=[True, False]).iloc[0]
        seg_len = float(np.hypot(row.bx - row.ax, row.by - row.ay))
        t = 0.0 if seg_len == 0 else min(max((m.along - row.cum0) / seg_len, 0.0), 1.0)
        out[m.measure_id] = (
            int(row.seg_idx),
            row.ax + t * (row.bx - row.ax),
            row.ay + t * (row.by - row.ay),
        )
    return out


def test_position_along_matches_brute(spark):
    v = _mk_vertices()
    segs = _brute_segments(v)
    rng = np.random.RandomState(31)
    n = 150
    totals = segs.groupby("line_id").cum0.max()
    meas = pd.DataFrame(
        {
            "measure_id": np.arange(n, dtype=np.int64),
            "line_id": rng.randint(0, 7, n),
            # spans negative, interior, and beyond-total measures
            "along": rng.rand(n) * 0.2 - 0.05,
        }
    )
    out = (
        linear_ref.position_along_keyed(
            spark.createDataFrame(meas), spark.createDataFrame(segs)
        )
        .toPandas()
        .set_index("measure_id")
    )
    ref = _brute_position(meas, segs)
    assert len(out) == n
    for mid, (si, lon, lat) in ref.items():
        row = out.loc[mid]
        assert row.seg_idx == si
        assert row.lon == pytest.approx(lon, abs=1e-12)
        assert row.lat == pytest.approx(lat, abs=1e-12)


def test_position_clamps_at_both_ends(spark):
    segs = pd.DataFrame(
        [(0, 0, 0.0, 0.0, 1.0, 0.0, 0.0), (0, 1, 1.0, 0.0, 1.0, 2.0, 1.0)],
        columns=list(linear_ref.SEG_COLS),
    )
    meas = pd.DataFrame(
        {"measure_id": [1, 2, 3, 4], "line_id": [0] * 4, "along": [-5.0, 0.5, 2.5, 99.0]}
    )
    out = (
        linear_ref.position_along_keyed(
            spark.createDataFrame(meas), spark.createDataFrame(segs)
        )
        .toPandas()
        .set_index("measure_id")
    )
    assert (out.loc[1, "lon"], out.loc[1, "lat"]) == (0.0, 0.0)  # clamp start
    assert (out.loc[2, "lon"], out.loc[2, "lat"]) == (0.5, 0.0)
    assert (out.loc[3, "lon"], out.loc[3, "lat"]) == (1.0, 1.5)  # on 2nd seg
    assert (out.loc[4, "lon"], out.loc[4, "lat"]) == (1.0, 2.0)  # clamp end


def test_position_after_zero_length_segment_interpolates(spark):
    """Duplicate consecutive vertices (common in real GTFS shapes) make
    a zero-length segment whose cum0 equals the NEXT segment's cum0.
    A measure strictly inside the following segment must interpolate
    on it — the old earliest-seg_idx tie-break collapsed the whole
    following segment onto the duplicated vertex (ADVICE r4)."""
    # vertices (0,0) (1,0) (1,0) (3,0): seg1 is zero-length at cum0=1,
    # seg2 shares cum0=1
    segs = pd.DataFrame(
        [
            (0, 0, 0.0, 0.0, 1.0, 0.0, 0.0),
            (0, 1, 1.0, 0.0, 1.0, 0.0, 1.0),
            (0, 2, 1.0, 0.0, 3.0, 0.0, 1.0),
        ],
        columns=list(linear_ref.SEG_COLS),
    )
    meas = pd.DataFrame(
        {"measure_id": [1, 2, 3], "line_id": [0] * 3, "along": [2.0, 1.0, 0.5]}
    )
    out = (
        linear_ref.position_along_keyed(
            spark.createDataFrame(meas), spark.createDataFrame(segs)
        )
        .toPandas()
        .set_index("measure_id")
    )
    # strictly inside seg 2: interpolate, not clamp to the vertex
    assert out.loc[1, "seg_idx"] == 2
    assert (out.loc[1, "lon"], out.loc[1, "lat"]) == (2.0, 0.0)
    # exactly at the shared cum0: the real following segment wins, t=0
    assert out.loc[2, "seg_idx"] == 2
    assert (out.loc[2, "lon"], out.loc[2, "lat"]) == (1.0, 0.0)
    # untouched by the tie rule
    assert out.loc[3, "seg_idx"] == 0
    assert (out.loc[3, "lon"], out.loc[3, "lat"]) == (0.5, 0.0)
    # the brute reference mirrors the same rule on the same fixture
    ref = _brute_position(meas, segs)
    for mid, (si, lon, lat) in ref.items():
        assert out.loc[mid, "seg_idx"] == si
        assert out.loc[mid, "lon"] == pytest.approx(lon, abs=0)
        assert out.loc[mid, "lat"] == pytest.approx(lat, abs=0)


def test_locate_position_roundtrip(spark):
    """position(locate(p)) must land exactly on the snapped foot, and
    locate(position(a)) must return the same along for interior a —
    the bidirectional consistency of the pair."""
    v = _mk_vertices(n_lines=4, n_vtx=7, seed=17)
    segs_pd = _brute_segments(v)
    segs = spark.createDataFrame(segs_pd)
    rng = np.random.RandomState(18)
    n = 80
    pts = pd.DataFrame(
        {
            "point_id": np.arange(n, dtype=np.int64),
            "line_id": rng.randint(0, 4, n),
            "lon": rng.rand(n) * 0.6 - 122.55,
            "lat": rng.rand(n) * 0.5 + 37.65,
        }
    )
    loc = linear_ref.locate_along_keyed(spark.createDataFrame(pts), segs, key="line_id")
    meas = loc.select(
        F.col("point_id").alias("measure_id"), "line_id", "along"
    )
    pos = linear_ref.position_along_keyed(meas, segs).toPandas().set_index("measure_id")
    back = (
        linear_ref.locate_along_keyed(
            pos.reset_index()
            .rename(columns={"measure_id": "point_id"})
            .pipe(lambda d: spark.createDataFrame(d[["point_id", "line_id", "lon", "lat"]])),
            segs,
            key="line_id",
        )
        .toPandas()
        .set_index("point_id")
    )
    fwd = loc.toPandas().set_index("point_id")
    for pid in fwd.index:
        # the foot of the snap re-locates to the same along & distance 0
        assert back.loc[pid, "along"] == pytest.approx(fwd.loc[pid, "along"], abs=1e-9)
        assert back.loc[pid, "dist"] == pytest.approx(0.0, abs=1e-9)


# ---------------------------------------------------------------------------
# tile pyramid job (jobs/tile_pyramid_job.py)
# ---------------------------------------------------------------------------


def test_tile_pyramid_job_levels_and_resume(spark, tmp_path):
    """The resumable pyramid job: every committed level must equal
    rasterizing the SAME points directly at that res (write-per-level
    = lineage break + resume unit), counts conserve across levels,
    --resume skips committed levels, and --render emits decodable
    tiles."""
    import json as _json
    import sys

    sys.path.insert(0, str(_repo_root()))
    from jobs import tile_pyramid_job

    rng = np.random.RandomState(33)
    pts = pd.DataFrame(
        {"lon": rng.rand(5000) * 350 - 175, "lat": rng.rand(5000) * 170 - 85}
    )
    src = str(tmp_path / "pts.parquet")
    spark.createDataFrame(pts).write.parquet(src)
    out = str(tmp_path / "pyr")

    # a file:// URI --out: markers, deletes and metrics.json go through
    # the Hadoop FileSystem API, as they would for hdfs:// or s3a://
    metrics = tile_pyramid_job.run(
        spark, src, (tmp_path / "pyr").as_uri(), tile_res=9, px_bits=3, min_res=6, render=True
    )
    by = {m["level"]: m for m in metrics}
    assert set(by) == {"z9", "z8", "z7", "z6", "tiles_z9", "tiles_z8", "tiles_z7", "tiles_z6"}
    df = spark.createDataFrame(pts)
    for res in (9, 8, 7, 6):
        got = (
            spark.read.parquet(f"{out}/z{res}")
            .toPandas().sort_values(["tile", "px_x", "px_y"]).reset_index(drop=True)
        )
        want = (
            raster.rasterize_counts(df, res, 3)
            .toPandas().sort_values(["tile", "px_x", "px_y"]).reset_index(drop=True)
        )
        pd.testing.assert_frame_equal(got, want, check_dtype=False)
        assert got.n.sum() == 5000
    meta = _json.load(open(f"{out}/metrics.json"))
    assert meta["total_points"] == 5000
    # a rendered tile decodes to the count grid (spot check one tile)
    tiles = spark.read.parquet(f"{out}/tiles_z9").toPandas()
    z9_tiles = spark.read.parquet(f"{out}/z9").select("tile").distinct().toPandas()
    assert sorted(tiles.tile) == sorted(z9_tiles.tile)  # one row per distinct z9 tile
    img = images.decode(bytes(tiles.iloc[0]["image"]), "png")
    assert img.shape == (8, 8, 3)

    # resume: kill levels z7-and-coarser, rerun — z9/z8 must be
    # skipped (resumed=True) and the rebuilt levels identical
    import shutil as _shutil

    for name in ("z7", "z6"):
        _shutil.rmtree(f"{out}/{name}")
    m2 = tile_pyramid_job.run(
        spark, src, (tmp_path / "pyr").as_uri(), tile_res=9, px_bits=3, min_res=6, render=False, resume=True
    )
    by2 = {m["level"]: m for m in m2}
    assert by2["z9"]["resumed"] and by2["z8"]["resumed"]
    assert not by2["z7"]["resumed"] and not by2["z6"]["resumed"]
    got6 = (
        spark.read.parquet(f"{out}/z6")
        .toPandas().sort_values(["tile", "px_x", "px_y"]).reset_index(drop=True)
    )
    want6 = (
        raster.rasterize_counts(df, 6, 3)
        .toPandas().sort_values(["tile", "px_x", "px_y"]).reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got6, want6, check_dtype=False)


def _repo_root():
    import pathlib

    return pathlib.Path(__file__).resolve().parents[1]


# ---------------------------------------------------------------------------
# streaming rasterization
# ---------------------------------------------------------------------------


def test_stream_rasterize_parity_and_resume(spark, tmp_path):
    """The streaming raster must equal the batch raster over the same
    files, and a restart from the checkpoint must read ONLY new drops
    yet emit the cumulative raster (the state store carries counts)."""
    from gtfs_to_geojson_spark.streaming import stream_assign

    in_dir, ckpt = str(tmp_path / "pts"), str(tmp_path / "ckpt")
    rng = np.random.RandomState(41)

    def drop(n, seed_off):
        rng2 = np.random.RandomState(41 + seed_off)
        pdf = pd.DataFrame(
            {
                "point_id": np.arange(n, dtype=np.int64) + seed_off * 1000000,
                "lon": rng2.rand(n) * 0.2 - 122.5,
                "lat": rng2.rand(n) * 0.2 + 37.7,
            }
        )
        spark.createDataFrame(pdf).coalesce(1).write.mode("append").parquet(in_dir)
        return pdf

    b1 = drop(4000, 1)
    q = stream_assign.run_rasterize_stream_to_memory(
        spark, in_dir, ckpt, "raster_t1", tile_res=10, px_bits=4, timeout_s=120
    )
    q.awaitTermination(120)
    got1 = (
        spark.table("raster_t1").toPandas().sort_values(["tile", "px_x", "px_y"]).reset_index(drop=True)
    )
    want1 = (
        raster.rasterize_counts(spark.createDataFrame(b1), 10, 4)
        .toPandas()
        .sort_values(["tile", "px_x", "px_y"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got1, want1, check_dtype=False)

    b2 = drop(3000, 2)
    q2 = stream_assign.run_rasterize_stream_to_memory(
        spark, in_dir, ckpt, "raster_t2", tile_res=10, px_bits=4, timeout_s=120
    )
    q2.awaitTermination(120)
    got2 = (
        spark.table("raster_t2").toPandas().sort_values(["tile", "px_x", "px_y"]).reset_index(drop=True)
    )
    want2 = (
        raster.rasterize_counts(spark.createDataFrame(pd.concat([b1, b2])), 10, 4)
        .toPandas()
        .sort_values(["tile", "px_x", "px_y"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got2, want2, check_dtype=False)
    # resume really did skip batch-1 files: the second run's progress
    # shows fewer input rows than the cumulative total it emitted
    assert int(got2.n.sum()) == 7000
    last = q2.lastProgress
    assert last is None or last["numInputRows"] <= 3000
