"""The benchmark workloads and the phases they are made of.

A phase prepares seeded inputs (``prepare``, no Spark), opens them in a fresh
session (``open``, part of ``setup_s``), may derive a reference that needs the
engine (``reference``, untimed), and then runs once per iteration
(``iterate``); ``check`` verifies its output every time. A workload runs its
phases one after the other in each closed-loop iteration.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import time
from contextlib import nullcontext

import numpy as np

from perfbench import fixtures


class CheckFailed(Exception):
    """An iteration's output disagrees with its reference."""


def _require(ok: bool, msg: str) -> None:
    if not ok:
        raise CheckFailed(msg)


def _digest(paths: list[str]) -> str:
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(os.path.basename(p).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def _program_hash(root: str) -> str:
    h = hashlib.sha256()
    files = glob.glob(os.path.join(root, "gtfs_to_geojson_spark", "**", "*.py"), recursive=True)
    for p in sorted(files + glob.glob(os.path.join(root, "jobs", "*.py"))):
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def _load_collection(path: str) -> list[dict]:
    with open(path) as f:
        doc = json.load(f)
    _require(doc.get("type") == "FeatureCollection", f"{path}: not a FeatureCollection")
    feats = doc["features"]
    _require(all(ft.get("type") == "Feature" for ft in feats), f"{path}: non-Feature member")
    return feats


class Phase:
    name = ""

    def __init__(self, root: str, seed: int, tiny: bool):
        self.root, self.seed, self.tiny = root, seed, tiny
        self.items = 0
        self.digest: str | None = None

    def prepare(self) -> None: ...

    def open(self, spark, shared: dict) -> None:
        """Open this phase's inputs; ``shared`` holds what earlier phases of
        the workload opened in the same session."""

    def reference(self, spark) -> None: ...

    def iterate(self, spark, out: str, step, shared: dict) -> dict:
        """Run once writing under ``out``; return ``outputs`` (paths whose
        mtime marks when each became ready) and raw facts. ``step(name)`` is
        a context manager that the traced run turns into a span; ``shared``
        holds what earlier phases of the same iteration opened."""
        raise NotImplementedError

    def check(self, result: dict) -> None:
        raise NotImplementedError

    def _stable(self, paths: list[str], fixture_dir: str) -> None:
        """Output bytes must be identical on every iteration, and across runs
        of the same seed and program source: the first digest is recorded
        beside the fixture, keyed by a hash of the program's files."""
        d = _digest(paths)
        if self.digest is None:
            path = os.path.join(fixture_dir, f"digest-{self.name}-{_program_hash(self.root)}")
            if not os.path.exists(path):
                with open(path + ".tmp", "w") as f:
                    f.write(d)
                os.replace(path + ".tmp", path)
            with open(path) as f:
                self.digest = f.read()
        _require(d == self.digest, "output digest differs from earlier iterations of this seed")


# ---------------------------------------------------------------------------
# GTFS → GeoJSON
# ---------------------------------------------------------------------------


def _feed_params(tiny: bool) -> dict:
    return {"n_routes": 2 if tiny else 3, "shape_pts": 40}


def _open_feed(spark, feed_dir: str, shared: dict) -> None:
    """Read the feed and count its routes, once per session."""
    from gtfs_to_geojson_spark.sources import gtfs

    if feed_dir not in shared:
        gtfs.read_feed(spark, feed_dir)["routes"].count()
        shared[feed_dir] = None


def _open_parquet(spark, path: str, shared: dict):
    """Read a parquet directory and count it, once per session."""
    if path not in shared:
        shared[path] = spark.read.parquet(path)
        shared[path].count()
    return shared[path]


def _feed(spark, feed_dir: str, shared: dict) -> dict:
    """The feed for this iteration: read once, by the first GTFS phase."""
    from gtfs_to_geojson_spark.sources import gtfs

    if "feed" not in shared:
        shared["feed"] = gtfs.read_feed(spark, feed_dir)
    return shared["feed"]


class GtfsRouteFanout(Phase):
    """read_feed + pipeline.run(output_type='route', 'lines-and-stops')."""

    name = "gtfs_route_fanout"

    def prepare(self):
        self.feed_dir, frames = fixtures.gtfs_feed(self.root, self.seed, _feed_params(self.tiny))
        self.expected = fixtures.route_fanout_expected(frames)
        self.items = sum(self.expected.values())

    def open(self, spark, shared):
        _open_feed(spark, self.feed_dir, shared)

    def iterate(self, spark, out, step, shared):
        from gtfs_to_geojson_spark.plans import pipeline
        from gtfs_to_geojson_spark.plans.run_spec import RunSpec

        feed = _feed(spark, self.feed_dir, shared)
        stats = pipeline.run(spark, feed, RunSpec(output_format="lines-and-stops",
                                                  output_type="route", out_dir=out))
        return {"outputs": glob.glob(os.path.join(out, "*.geojson")), "stats": stats}

    def check(self, result):
        paths = result["outputs"]
        names = {os.path.basename(p): p for p in paths}
        _require(set(names) == set(self.expected),
                 f"file set {sorted(names)} != expected {sorted(self.expected)}")
        for name, path in names.items():
            n = len(_load_collection(path))
            _require(n == self.expected[name], f"{name}: {n} features, expected {self.expected[name]}")
        self._stable(paths, self.feed_dir)


class GtfsAgencyGeometry(Phase):
    """pipeline.run(output_type='agency') for lines-buffer, then stops-dissolved."""

    name = "gtfs_agency_geometry"
    formats = ("lines-buffer", "stops-dissolved")
    buffer_m = 400.0

    def prepare(self):
        self.feed_dir, frames = fixtures.gtfs_feed(self.root, self.seed, _feed_params(self.tiny))
        self.lines = fixtures.route_lines(frames)
        self.n_buffers = sum(len(v) for v in self.lines.values())
        self.parts_lo, self.parts_hi, self.stop_pts = fixtures.dissolved_parts_range(frames, self.buffer_m)
        self.parts = 0

    def open(self, spark, shared):
        _open_feed(spark, self.feed_dir, shared)

    def iterate(self, spark, out, step, shared):
        from gtfs_to_geojson_spark.plans import pipeline
        from gtfs_to_geojson_spark.plans.run_spec import RunSpec

        feed = _feed(spark, self.feed_dir, shared)
        outputs, stats = [], []
        for fmt in self.formats:
            with step(f"step.{fmt}"):
                d = os.path.join(out, fmt)
                stats.append(pipeline.run(spark, feed, RunSpec(output_format=fmt, output_type="agency",
                                                               buffer_size_meters=self.buffer_m, out_dir=d)))
                outputs += glob.glob(os.path.join(d, "*.geojson"))
        return {"outputs": outputs, "stats": stats}

    def check(self, result):
        paths = result["outputs"]
        _require(len(paths) == 2, f"expected 2 files, got {len(paths)}")
        buf_path = next(p for p in paths if os.sep + "lines-buffer" + os.sep in p)
        dis_path = next(p for p in paths if os.sep + "stops-dissolved" + os.sep in p)

        buffers = _load_collection(buf_path)
        _require(len(buffers) == self.n_buffers, f"lines-buffer: {len(buffers)} features, expected {self.n_buffers}")
        by_route: dict[str, list] = {}
        for ft in buffers:
            _require(ft["geometry"]["type"] == "Polygon", "lines-buffer: non-Polygon feature")
            by_route.setdefault(ft["properties"]["route_id"], []).append(ft["geometry"]["coordinates"])
        _require(set(by_route) == set(self.lines), "lines-buffer: route set differs")
        for route_id, lines in self.lines.items():
            pts = np.vstack(lines)
            inside = np.zeros(len(pts), dtype=bool)
            for rings in by_route[route_id]:
                inside |= fixtures.points_in_polygon(pts, rings)
            _require(bool(inside.all()), f"lines-buffer: route {route_id} line leaves its buffer")

        parts = _load_collection(dis_path)
        self.parts = len(parts)
        _require(self.parts_lo <= len(parts) <= self.parts_hi,
                 f"stops-dissolved: {len(parts)} parts, expected {self.parts_lo}..{self.parts_hi}")
        covered = np.zeros(len(self.stop_pts), dtype=bool)
        for ft in parts:
            hit = fixtures.points_in_polygon(self.stop_pts, ft["geometry"]["coordinates"])
            _require(bool(hit.any()), "stops-dissolved: a part covers no stop")
            covered |= hit
        _require(bool(covered.all()), "stops-dissolved: a used stop lies outside every part")
        self.items = len(buffers) + len(parts)
        self._stable(paths, self.feed_dir)


# ---------------------------------------------------------------------------
# Spatial join + image tile assignment, and the tile pyramid
# ---------------------------------------------------------------------------

POINT_PARAMS = {"n_points": 1_000_000, "n_suppliers": 1000, "tile_res": 14, "min_res": 8, "px_bits": 4}
TINY_POINT_PARAMS = dict(POINT_PARAMS, n_points=20_000, n_suppliers=50)
HASH_P = 1_000_003


def _fingerprint(keys: np.ndarray, counts: np.ndarray) -> list[int]:
    """(groups, rows, Σ n·(key mod p), Σ n²) of a key -> count histogram."""
    keys, counts = np.asarray(keys, dtype=np.int64), np.asarray(counts, dtype=np.int64)
    keep = counts > 0
    keys, counts = keys[keep], counts[keep]
    return [int(len(keys)), int(counts.sum()), int((counts * (keys % HASH_P)).sum()), int((counts * counts).sum())]


def _observed_fingerprint(df, key: str):
    """The same fingerprint as Spark aggregates, collected by an Observation
    on the noop write (no extra job)."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation()
    observed = df.observe(
        obs,
        F.count(F.lit(1)).alias("g"),
        F.sum("n").alias("r"),
        F.sum(F.col("n") * F.pmod(F.col(key), F.lit(HASH_P))).alias("h"),
        F.sum(F.col("n") * F.col("n")).alias("q"),
    )
    return observed, obs


def _fp(obs) -> list[int]:
    g = obs.get
    return [int(g["g"] or 0), int(g["r"] or 0), int(g["h"] or 0), int(g["q"] or 0)]


class SpatialTileHeadline(Phase):
    """Envelope join + per-supplier count, then decode, verify and
    tile-assign images + per-tile count. Each step ends in a noop write."""

    name = "spatial_tile_headline"
    join_res = 16

    def prepare(self):
        self.pts = fixtures.points_and_boxes(self.root, self.seed, TINY_POINT_PARAMS if self.tiny else POINT_PARAMS)
        self.imgs = fixtures.image_table(self.root, self.seed, {"n_images": 300 if self.tiny else 10_000})
        counts = self.pts["join_counts"]
        self.join_fp = _fingerprint(np.arange(1, len(counts) + 1), counts)

    def open(self, spark, shared):
        self.points = _open_parquet(spark, self.pts["points"], shared)
        self.boxes = _open_parquet(spark, self.pts["boxes"], shared)
        self.images = _open_parquet(spark, self.imgs["images"], shared)

    def reference(self, spark):
        """Tile histogram from the trusted-phash path (no pixel decode)."""
        from pyspark.sql import functions as F

        from gtfs_to_geojson_spark.operators import spatial
        from gtfs_to_geojson_spark.plans import oracle_queries as OQ

        hist = (spatial.assign_images_to_tiles(self.images, res=OQ.TILE_RES)
                .groupBy("tile").agg(F.count(F.lit(1)).alias("n")).toPandas())
        self.tile_fp = _fingerprint(hist["tile"].to_numpy(), hist["n"].to_numpy())

    def iterate(self, spark, out, step, shared):
        from pyspark.sql import functions as F

        from gtfs_to_geojson_spark.operators import multimodal, spatial
        from gtfs_to_geojson_spark.plans import oracle_queries as OQ

        ready = []
        with step("step.envelope_join"):
            joined = spatial.point_in_envelope_join(self.points, self.boxes, res=self.join_res)
            per_sup = joined.groupBy("s_suppkey").agg(F.count(F.lit(1)).alias("n"))
            df, join_obs = _observed_fingerprint(per_sup, "s_suppkey")
            df.write.format("noop").mode("overwrite").save()
            ready.append(_touch(out, "envelope_join.done"))
        with step("step.decode_tile"):
            tiles = (multimodal.decode_tile_assign(self.images, res=OQ.TILE_RES)
                     .filter(F.col("phash_match"))
                     .groupBy("tile").agg(F.count(F.lit(1)).alias("n")))
            df, tile_obs = _observed_fingerprint(tiles, "tile")
            df.write.format("noop").mode("overwrite").save()
            ready.append(_touch(out, "decode_tile.done"))
        return {"outputs": ready, "join_fp": _fp(join_obs), "tile_fp": _fp(tile_obs)}

    def check(self, result):
        _require(result["join_fp"] == self.join_fp,
                 f"envelope join fingerprint {result['join_fp']} != numpy {self.join_fp}")
        _require(result["tile_fp"] == self.tile_fp,
                 f"tile histogram fingerprint {result['tile_fp']} != trusted path {self.tile_fp}")
        _require(self.tile_fp[1] == self.imgs["n_images"], "not every image verified and tiled")


def _touch(out: str, name: str) -> str:
    """A marker whose mtime records when a step's result was complete."""
    os.makedirs(out, exist_ok=True)
    path = os.path.join(out, name)
    with open(path, "w"):
        pass
    return path


class TilePyramidBuild(Phase):
    """jobs/tile_pyramid_job.run, z14 -> z8, one committed parquet level at a time."""

    name = "tile_pyramid_build"

    def prepare(self):
        import importlib.util

        params = TINY_POINT_PARAMS if self.tiny else POINT_PARAMS
        self.params = params
        self.pts = fixtures.points_and_boxes(self.root, self.seed, params)
        self.items = self.pts["n_points"]
        spec = importlib.util.spec_from_file_location(
            "tile_pyramid_job", os.path.join(self.root, "jobs", "tile_pyramid_job.py"))
        self.job = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(self.job)

    def open(self, spark, shared):
        _open_parquet(spark, self.pts["points"], shared)

    def iterate(self, spark, out, step, shared):
        p = self.params
        levels = self.job.run(spark, self.pts["points"], out, tile_res=p["tile_res"],
                              px_bits=p["px_bits"], min_res=p["min_res"])
        ready = [os.path.join(out, m["level"], "_SUCCESS") for m in levels]
        with open(os.path.join(out, "metrics.json")) as f:
            total = json.load(f)["total_points"]
        return {"outputs": ready, "levels": levels, "total_points": total,
                "bytes": sum(os.path.getsize(f) for f in glob.glob(os.path.join(out, "z*", "*.parquet")))}

    def check(self, result):
        got = {int(m["level"][1:]): m["rows"] for m in result["levels"]}
        _require(got == self.pts["pyramid_rows"], f"level rows {got} != numpy {self.pts['pyramid_rows']}")
        _require(result["total_points"] == self.pts["n_points"],
                 f"pyramid holds {result['total_points']} points, input has {self.pts['n_points']}")


class Workload:
    """Phases run back to back in every iteration, on inputs from one seed."""

    def __init__(self, name: str, phases: list[Phase]):
        self.name, self.phases = name, phases

    def phase(self, cls: type) -> Phase | None:
        return next((p for p in self.phases if isinstance(p, cls)), None)

    def prepare(self):
        for p in self.phases:
            p.prepare()

    def open(self, spark):
        shared: dict = {}
        for p in self.phases:
            p.open(spark, shared)

    def reference(self, spark):
        for p in self.phases:
            p.reference(spark)

    def iterate(self, spark, out: str, step) -> dict:
        res: dict = {"outputs": [], "phases": {}, "phase_s": {}}
        shared: dict = {}
        for p in self.phases:
            wall0, t0 = time.time(), time.perf_counter()
            with step(f"phase.{p.name}"):
                r = p.iterate(spark, os.path.join(out, p.name), step, shared)
            res["phase_s"][p.name] = time.perf_counter() - t0
            # seconds from the phase's start to each output's mtime
            r["ready"] = [os.path.getmtime(o) - wall0 for o in r["outputs"]]
            r.setdefault("bytes", sum(os.path.getsize(o) for o in r["outputs"]))
            res["phases"][p.name] = r
            res["outputs"] += r["outputs"]
        return res

    def check(self, result: dict) -> None:
        for p in self.phases:
            p.check(result["phases"][p.name])


WORKLOADS = {
    "gtfs_conversion": [GtfsRouteFanout, GtfsAgencyGeometry],
    "spatial_tiles": [SpatialTileHeadline, TilePyramidBuild],
}


def make(name: str, root: str, seed: int, tiny: bool) -> Workload:
    return Workload(name, [cls(root, seed, tiny) for cls in WORKLOADS[name]])


def no_step(name: str):
    return nullcontext()
