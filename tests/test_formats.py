"""Golden end-to-end format tests — contracts pinned from the
reference's examples/*.geojson shapes (FIXTURES.md §3, SURVEY.md §5)."""

import json
import os

import numpy as np
import pytest

from gtfs_to_geojson_spark import geometry as g
from gtfs_to_geojson_spark.operators.filters import BaseQuery
from gtfs_to_geojson_spark.operators import formats as fmt
from gtfs_to_geojson_spark.plans.run_spec import RunSpec


CFG = RunSpec(coordinate_precision=5, buffer_size_meters=400)
# the run context pipeline.build_base_query looks up once per run
Q = BaseQuery(agency_name="Metro Test Transit")


def _features(out):
    """Feature dicts of a lazy (DataFrame) or driver-finished (list of
    (g, feature_json)) format result."""
    rows = out.collect() if hasattr(out, "collect") else out
    return [json.loads(r[-1] if isinstance(r, tuple) else r["feature_json"]) for r in rows]


def test_stops_format(feed, feed_pd):
    feats = _features(fmt.fmt_stops(feed, CFG, Q))
    stops_pd = feed_pd["stops"]
    st_pd = feed_pd["stop_times"]
    used = set(st_pd["stop_id"])
    # orphans excluded
    emitted = {f["properties"]["stop_id"] for f in feats}
    orphans = set(stops_pd["stop_id"]) - used
    regular_orphans = {
        s for s in orphans
        if stops_pd.set_index("stop_id").loc[s, "location_type"] != 1
    }
    assert emitted.isdisjoint(regular_orphans)
    for f in feats:
        assert f["geometry"]["type"] == "Point"
        assert len(f["geometry"]["coordinates"]) == 2
        p = f["properties"]
        assert "stop_id" in p and "routes" in p
        # parent stations carry empty routes (examples/stops.geojson)
        if p.get("location_type") == 1:
            assert p["routes"] == []
        else:
            assert len(p["routes"]) >= 1
            for r in p["routes"]:
                assert "route_id" in r
                if r.get("route_color"):
                    assert r["route_color"].startswith("#")
        # null properties dropped (F5)
        assert all(v is not None for v in p.values())
        # precision 5 (G1)
        for c in f["geometry"]["coordinates"]:
            assert round(c, 5) == c


def test_lines_format_shapes_present(feed, feed_pd):
    feats = _features(fmt.fmt_lines(feed, CFG, Q))
    # routes with shapes (ri % 4 != 3) → 9 of 12
    assert len(feats) == 9
    for f in feats:
        assert f["geometry"]["type"] == "MultiLineString"
        coords = f["geometry"]["coordinates"]
        assert len(coords) >= 1
        p = f["properties"]
        assert "route_id" in p
    # point order matches shape_pt_sequence despite shuffled input rows
    sh = feed_pd["shapes"]
    one = sh[sh.shape_id == "SH000_0"].sort_values("shape_pt_sequence")
    want_first = [round(one.iloc[0]["shape_pt_lon"], 5), round(one.iloc[0]["shape_pt_lat"], 5)]
    f0 = next(f for f in feats if f["properties"]["route_id"] == "R000")
    lines = {tuple(ln[0]) for ln in f0["geometry"]["coordinates"]}
    assert tuple(want_first) in lines


def test_lines_format_stop_derived_fallback(spark, feed):
    """Remove all shapes → LineString per route from toposorted stops
    (reference geojson-utils.ts:209-253)."""
    feed2 = dict(feed)
    feed2["shapes"] = feed["shapes"].limit(0)
    feed2["trips"] = feed["trips"].withColumn(
        "shape_id", feed["trips"]["shape_id"].cast("string") * None
    ) if False else feed["trips"].selectExpr(
        "trip_id", "route_id", "service_id", "direction_id", "trip_headsign",
        "cast(null as string) as shape_id",
    )
    feats = _features(fmt.fmt_lines(feed2, CFG, Q))
    assert len(feats) > 0
    for f in feats:
        assert f["geometry"]["type"] == "LineString"
        assert len(f["geometry"]["coordinates"]) >= 2


def test_lines_and_stops_union(feed):
    n_lines = fmt.fmt_lines(feed, CFG, Q).count()
    n_stops = fmt.fmt_stops(feed, CFG, Q).count()
    n_both = fmt.fmt_lines_and_stops(feed, CFG, Q).count()
    assert n_both == n_lines + n_stops  # A12 (examples/lines-and-stops)


def test_envelope_format(feed, feed_pd):
    feats = _features(fmt.fmt_envelope(feed, CFG, Q))
    assert len(feats) == 1
    f = feats[0]
    assert f["geometry"]["type"] == "Polygon"
    assert list(f["properties"].keys()) == ["agency_name"]
    ring = f["geometry"]["coordinates"][0]
    assert len(ring) == 5 and ring[0] == ring[-1]
    # envelope really bounds every shape point of shaped routes
    sh = feed_pd["shapes"]
    lons, lats = sh["shape_pt_lon"], sh["shape_pt_lat"]
    xs = [p[0] for p in ring]
    ys = [p[1] for p in ring]
    assert min(xs) <= lons.min() + 1e-5 and max(xs) >= lons.max() - 1e-5
    assert min(ys) <= lats.min() + 1e-5 and max(ys) >= lats.max() - 1e-5


def test_convex_format(feed, feed_pd):
    feats = _features(fmt.fmt_convex(feed, CFG, Q))
    assert len(feats) == 1
    f = feats[0]
    assert f["geometry"]["type"] == "Polygon"
    assert list(f["properties"].keys()) == ["agency_name"]
    ring = np.asarray(f["geometry"]["coordinates"][0])
    # hull contains all used stops (within rounding tolerance)
    st = feed_pd["stop_times"]
    stops = feed_pd["stops"].set_index("stop_id")
    used = stops.loc[sorted(set(st["stop_id"]))]
    grown = ring.mean(axis=0) + (ring - ring.mean(axis=0)) * 1.001
    inside = g.points_in_ring(used["stop_lon"].to_numpy(), used["stop_lat"].to_numpy(), grown)
    assert inside.all()


def test_convex_degenerate(spark, feed):
    """<3 distinct points → empty result (reference warns + null)."""
    feed2 = dict(feed)
    feed2["stops"] = feed["stops"].limit(2)
    out = fmt.fmt_convex(feed2, CFG, Q)
    assert len(out) == 0


def test_stops_buffer_format(feed):
    feats = _features(fmt.fmt_stops_buffer(feed, CFG, Q))
    assert len(feats) > 0
    for f in feats[:10]:
        assert f["geometry"]["type"] == "Polygon"
        ring = np.asarray(f["geometry"]["coordinates"][0])
        cx, cy = ring[:-1, 0].mean(), ring[:-1, 1].mean()
        # contains its center; radius ≈ 400m
        assert g.points_in_ring([cx], [cy], ring)[0]
        d = g.haversine_m(cy, cx, ring[:, 1], ring[:, 0])
        assert np.all(d < 520) and np.all(d > 290)  # 5-decimal rounding wiggle
        assert "stop_id" in f["properties"]


def test_lines_buffer_contains_line(feed):
    feats = _features(fmt.fmt_lines_buffer(feed, CFG, Q))
    assert len(feats) > 0
    by_route = {f["properties"]["route_id"]: f for f in feats}
    sample = list(by_route.values())[0]
    assert sample["geometry"]["type"] == "Polygon"


def test_dissolved_formats(feed):
    sd = _features(fmt.fmt_stops_dissolved(feed, CFG, Q))
    assert len(sd) >= 1
    for f in sd:
        assert f["geometry"]["type"] == "Polygon"
        assert list(f["properties"].keys()) == ["agency_name"]
    ld = _features(fmt.fmt_lines_dissolved(feed, CFG, Q))
    assert len(ld) >= 1
    # dissolve merges: fewer features than inputs
    n_buffers = fmt.fmt_stops_buffer(feed, CFG, Q).count()
    assert len(sd) < n_buffers


def test_output_types_and_sink(spark, feed, tmp_path):
    from gtfs_to_geojson_spark.plans import pipeline

    # agency → 1 file
    s1 = pipeline.run(spark, feed, RunSpec(output_format="stops", output_type="agency",
                                           coordinate_precision=5, out_dir=str(tmp_path / "a")))
    assert s1["files"] == 1
    # shape → one per distinct shape_id
    s2 = pipeline.run(spark, feed, RunSpec(output_format="lines", output_type="shape",
                                           coordinate_precision=5, out_dir=str(tmp_path / "s")))
    n_shapes = feed["trips"].filter("shape_id is not null").select("shape_id").distinct().count()
    assert s2["files"] == n_shapes
    # every emitted file parses as a FeatureCollection
    for d in (tmp_path / "a", tmp_path / "s"):
        for fn in os.listdir(d):
            if fn.endswith(".geojson"):
                gj = json.load(open(d / fn))
                assert gj["type"] == "FeatureCollection"


def test_date_window_filters_services(spark, feed):
    """F1/F2: a window matching only some services shrinks output."""
    from gtfs_to_geojson_spark.operators.filters import service_window, BaseQuery

    svc = service_window(feed["calendar"], "20260301", "20260315")
    assert svc is not None
    ids = {r[0] for r in svc.collect()}
    assert "SVC4" not in ids  # 2025-only service excluded
    q2 = BaseQuery(service_ids=svc, agency_name=Q.agency_name)
    n_all = fmt.fmt_stops(feed, CFG, Q).count()
    n_win = fmt.fmt_stops(feed, CFG, q2).count()
    assert 0 < n_win <= n_all


def test_route_output_type_concurrent_deterministic(spark, feed, tmp_path):
    """Route output writes one file per (route, direction) group from
    one grouped plan; two runs must produce identical filename sets and
    identical bytes (deterministic naming + per-group content order)."""
    from gtfs_to_geojson_spark.plans import pipeline

    spec = lambda d: RunSpec(output_format="lines", output_type="route",
                             coordinate_precision=5, out_dir=str(tmp_path / d))
    s1 = pipeline.run(spark, feed, spec("r1"))
    s2 = pipeline.run(spark, feed, spec("r2"))
    f1 = sorted(f for f in os.listdir(tmp_path / "r1") if f.endswith(".geojson"))
    f2 = sorted(f for f in os.listdir(tmp_path / "r2") if f.endswith(".geojson"))
    assert f1 == f2 and len(f1) > 1
    assert s1["files"] == len(f1)
    for fn in f1:
        assert (tmp_path / "r1" / fn).read_bytes() == (tmp_path / "r2" / fn).read_bytes()
    # stats order matches task order (deterministic log.json)
    assert [o["filename"] for o in s1["outputs"]] == [o["filename"] for o in s2["outputs"]]
