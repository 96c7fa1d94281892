"""The grouped pipeline: every output file of a run comes from one
feature plan keyed by the group ``g`` and one ordered sink pass.

The invariants the design rests on are checked here: building a plan
launches no Spark job, the job count of a run does not grow with the
number of output files, each group file equals the agency output of the
feed restricted to that group's trips, and dissolve output does not
depend on row order.
"""

import json
import os
import re
import uuid

import numpy as np
import pytest

from gtfs_to_geojson_spark import geometry as g
from gtfs_to_geojson_spark import synth
from gtfs_to_geojson_spark.operators import formats as fmt
from gtfs_to_geojson_spark.operators import geoagg
from gtfs_to_geojson_spark.operators import transit_spatial as TS
from gtfs_to_geojson_spark.operators.filters import BaseQuery
from gtfs_to_geojson_spark.plans import pipeline
from gtfs_to_geojson_spark.plans.run_spec import RunSpec
from gtfs_to_geojson_spark.sources.gtfs import feed_from_pandas

CFG = RunSpec(coordinate_precision=5, buffer_size_meters=400)
LAZY = ["stops", "lines", "lines-and-stops", "envelope", "stops-buffer", "lines-buffer"]


class _Jobs:
    """Counts the Spark jobs started inside the block (own job group)."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.group = uuid.uuid4().hex

    def __enter__(self):
        self.sc.setJobGroup(self.group, "counted")
        return self

    def __exit__(self, *exc):
        self.sc.setLocalProperty("spark.jobGroup.id", None)

    @property
    def ids(self) -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(self.group))


@pytest.fixture(scope="module")
def q(feed):
    return pipeline.build_base_query(feed, CFG)


@pytest.mark.parametrize("name", LAZY)
def test_lazy_format_plan_launches_no_jobs(spark, feed, q, name):
    with _Jobs(spark) as jobs:
        out = fmt.FORMATS[name](feed, CFG, q)
    assert jobs.ids == []
    assert out.columns == ["g", "kind", "key", "feature_json"]


def test_snap_plan_with_caller_hints_runs_no_count(spark, feed, feed_pd):
    """With the caller's row-count hints the kNN strategy probes are
    skipped: building the plan only collects the broadcast target side
    (one action), it counts no table."""
    hints = dict(n_points=len(feed_pd["stops"]), n_targets=len(feed_pd["shapes"]))
    with _Jobs(spark) as jobs:
        TS.snap_stops_to_shapes(feed, **hints)
    store = spark.sparkContext._jsc.sc().statusStore()
    names = [store.job(j).name() for j in jobs.ids]
    assert names and not [n for n in names if n.startswith("count at")], names
    assert all(n.startswith("toPandas at") for n in names), names


def _shuffled_polys(spark, pdf, seed, parts):
    from pyspark.sql import functions as F

    rows = pdf.sample(frac=1.0, random_state=seed)
    df = spark.createDataFrame(rows, "g int, lat double, lon double").repartition(parts)
    ring = geoagg.stop_buffer_ring_col(F.col("lat"), F.col("lon"), 400.0)
    return df.select("g", F.array(ring).alias("polygon"))


def test_dissolve_independent_of_row_order(spark, feed_pd):
    """Same rows in a different order and partitioning → identical
    feature JSON (rings union in a canonical order)."""
    st = feed_pd["stops"][["stop_lat", "stop_lon"]].rename(columns={"stop_lat": "lat", "stop_lon": "lon"})
    pdf = st.assign(g=np.arange(len(st)) % 2)[["g", "lat", "lon"]]
    q = BaseQuery(agency_name="A")
    outs = [
        fmt._dissolved_features(CFG, q, _shuffled_polys(spark, pdf, seed, parts))
        for seed, parts in [(1, 1), (2, 3), (3, 4)]
    ]
    assert outs[0] and {k for k, _ in outs[0]} == {0, 1}
    assert outs[0] == outs[1] == outs[2]


def _route_run_jobs(spark, n_routes, tmp_path) -> tuple[int, int]:
    feed = feed_from_pandas(spark, synth.make_gtfs_feed(n_routes=n_routes))
    spec = RunSpec(output_format="lines-and-stops", output_type="route",
                   out_dir=str(tmp_path / f"r{n_routes}"))
    pipeline.run(spark, feed, spec)  # first run compiles; count the second
    with _Jobs(spark) as jobs:
        stats = pipeline.run(spark, feed, spec)
    return len(jobs.ids), stats["files"]


def test_route_run_job_count_independent_of_group_count(spark, tmp_path):
    # 4 routes, not 3: the synthetic feed's first shapeless route is
    # R003, and without one AQE drops the empty stop-derived branch's
    # stages, which changes the count for a reason other than the
    # number of groups
    jobs4, files4 = _route_run_jobs(spark, 4, tmp_path)
    jobs12, files12 = _route_run_jobs(spark, 12, tmp_path)
    assert files12 > 2 * files4 > 2
    assert jobs4 == jobs12


# ---------------------------------------------------------------------------
# group files vs the agency output of the feed restricted to the group
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def small_feed_pd():
    # routes R000-R003: R002 has a null-direction trip (a null-direction
    # group next to a direction-0 group), R003 has no shapes
    return synth.make_gtfs_feed(n_routes=4, n_stops=40)


@pytest.fixture(scope="module")
def small_feed(spark, small_feed_pd):
    return feed_from_pandas(spark, small_feed_pd)


def _restricted(feed, trips):
    out = dict(feed)
    out["trips"] = trips
    return out


def _group_trips(feed, output_type, filename):
    """The trips of a group file, from its name (S7: ..._route_id[_dir])."""
    from pyspark.sql import functions as F

    t = feed["trips"]
    if output_type == "shape":
        return t.filter(F.col("shape_id") == filename[: -len(".geojson")])
    m = re.search(r"(R\d{3})(?:_(\d))?\.geojson$", filename)
    t = t.filter(F.col("route_id") == m.group(1))
    return t if m.group(2) is None else t.filter(F.col("direction_id") == int(m.group(2)))


def _area(features) -> float:
    return sum(
        abs(g.signed_area(np.asarray(rings[0])))
        - sum(abs(g.signed_area(np.asarray(r))) for r in rings[1:])
        for rings in (f["geometry"]["coordinates"] for f in features)
    )


def _json_features(out) -> list[dict]:
    rows = out if isinstance(out, list) else [(r["g"], r["feature_json"]) for r in out.collect()]
    return [json.loads(fj) for _g, fj in rows]


@pytest.mark.parametrize("output_type", ["route", "shape"])
@pytest.mark.parametrize("name", sorted(fmt.FORMATS))
def test_group_files_match_agency_output_of_restricted_feed(spark, small_feed, tmp_path, name, output_type):
    """Oracle without the grouping code: each file of a route/shape run
    holds the features the agency output gives for the feed whose trips
    are only that group's."""
    out_dir = tmp_path / "grouped"
    stats = pipeline.run(spark, small_feed, RunSpec(output_format=name, output_type=output_type,
                                                    coordinate_precision=5, out_dir=str(out_dir)))
    files = sorted(f for f in os.listdir(out_dir) if f.endswith(".geojson"))
    assert stats["files"] == len(files) > 1
    q = pipeline.build_base_query(small_feed, CFG)
    for fn in files:
        got = json.loads((out_dir / fn).read_text())["features"]
        feed_g = _restricted(small_feed, _group_trips(small_feed, output_type, fn))
        want = _json_features(fmt.FORMATS[name](feed_g, CFG, q))
        if "dissolved" in name:
            assert len(got) == len(want), fn
            assert _area(got) == pytest.approx(_area(want), rel=1e-12), fn
        else:
            key = lambda fs: sorted(json.dumps(f, sort_keys=True) for f in fs)  # noqa: E731
            assert key(got) == key(want), fn
