"""Which program modules the traced run wraps, and the per-layer metrics
computed from their spans and from Spark's status store.

Every metric is emitted on every workload; a layer the workload does not
exercise reads 0. Sums over spans, jobs and SQL nodes are divided by the
number of traced iterations, so each value is per iteration; throughputs
and output sizes come from the same traced iterations.
"""

from __future__ import annotations

import glob
import os
import statistics
import time

import numpy as np

from perfbench.trace import SparkLedger, Span, Tracer
from perfbench.workloads import (
    GtfsAgencyGeometry, GtfsRouteFanout, SpatialTileHeadline, TilePyramidBuild, Workload,
)

PHASES = (GtfsRouteFanout, GtfsAgencyGeometry, SpatialTileHeadline, TilePyramidBuild)


def wrap_program(tracer: Tracer, wl: Workload) -> None:
    """Wrap the public functions of each program module; span names are the
    module path under the package plus the function name."""
    from gtfs_to_geojson_spark import cells, geometry, images, session, sinks
    from gtfs_to_geojson_spark.operators import (
        filters, formats, geoagg, multimodal, raster, relational, spatial,
    )
    from gtfs_to_geojson_spark.plans import pipeline
    from gtfs_to_geojson_spark.sources import gtfs

    for mod, prefix in [
        (session, "session"), (gtfs, "sources.gtfs"), (pipeline, "plans.pipeline"),
        (formats, "operators.formats"), (relational, "operators.relational"),
        (filters, "operators.filters"), (sinks, "sinks"), (geoagg, "operators.geoagg"),
        (geometry, "geometry"), (cells, "cells"), (spatial, "operators.spatial"),
        (multimodal, "operators.multimodal"), (images, "images"), (raster, "operators.raster"),
    ]:
        tracer.wrap(mod, prefix)
    pyramid = wl.phase(TilePyramidBuild)
    if pyramid is not None:
        tracer.wrap(pyramid.job, "jobs.tile_pyramid_job")


class _Spans:
    """Span-tree queries over one traced stretch."""

    def __init__(self, spans: list[Span]):
        self.spans = spans
        self.by_id = {s.id: s for s in spans}

    def named(self, *prefixes: str) -> list[Span]:
        return [s for s in self.spans if s.name.startswith(prefixes)]

    def _ancestors(self, s: Span):
        p = s.parent
        while p is not None:
            yield p
            p = self.by_id[p].parent

    def outer(self, spans: list[Span]) -> list[Span]:
        """Spans of the set not nested inside another span of the set."""
        ids = {s.id for s in spans}
        return [s for s in spans if not any(a in ids for a in self._ancestors(s))]

    def subtree(self, spans: list[Span]) -> list[Span]:
        ids = {s.id for s in spans}
        return [s for s in self.spans if s.id in ids or any(a in ids for a in self._ancestors(s))]

    def busy(self, spans: list[Span]) -> float:
        return sum(s.seconds for s in self.outer(spans))


def _median(xs, default=0.0) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else default


def per_layer(wl: Workload, tracer: Tracer, ledger: SparkLedger, traced: list[dict], *,
              cores: int, setups: list[float], get_spark_s: list[float], attempted: int,
              failed: int, candidate_rows: float, peak_rss_mb: float) -> dict[str, tuple[float, str]]:
    T = _Spans(tracer.spans)
    n = max(1, len(traced))
    m: dict[str, tuple[float, str]] = {}

    def put(name, value, unit):
        m[name] = (float(value), unit)

    def jobs(spans):
        return ledger.jobs_of(T.subtree(spans))

    def sql(spans):
        return ledger.executions_of(jobs(spans))

    def of(cls, results):
        """The results of one phase across iterations ([] if not in wl)."""
        p = wl.phase(cls)
        return [] if p is None else [r["phases"][p.name] for r in results]

    fanout, agency = wl.phase(GtfsRouteFanout), wl.phase(GtfsAgencyGeometry)
    headline, pyramid = wl.phase(SpatialTileHeadline), wl.phase(TilePyramidBuild)
    iter_t = _median(r["iter_s"] for r in traced)

    # workload phases (wall time of each)
    for cls in PHASES:
        p = wl.phase(cls)
        put(f"phase.{cls.name}_s", _median(r["phase_s"][p.name] for r in traced) if p else 0.0, "s")

    # session
    put("session.get_spark_s", _median(get_spark_s), "s")
    put("session.cold_start_s", setups[0], "s")
    put("peak_rss_mb", peak_rss_mb, "MB")

    # sources.gtfs
    reads = T.named("sources.gtfs.read_feed")
    put("sources.read_feed_s", T.busy(reads) / n, "s")
    put("sources.read_feed_jobs", len(jobs(reads)) / n, "count")

    # plans.pipeline, on the route fan-out
    fan_spans = T.named(f"phase.{GtfsRouteFanout.name}")
    runs = [s for s in T.subtree(fan_spans) if s.name == "plans.pipeline.run"]
    groups = [s for s in T.subtree(runs) if s.name.startswith(("operators.formats.fmt_", "sinks.write_"))]
    files = _median(len(r["outputs"]) for r in of(GtfsRouteFanout, traced))
    run_s = T.busy(runs)
    put("pipeline.run_s", run_s / n, "s")
    put("pipeline.spark_jobs", len(jobs(runs)) / n, "count")
    put("pipeline.spark_jobs_per_file", len(jobs(runs)) / n / files if files else 0.0, "count")
    put("pipeline.fanout_overlap", T.busy(groups) / run_s if run_s else 0.0, "ratio")

    # operators.formats (+ the relational/filters calls it makes while planning)
    fmt_calls = T.named("operators.formats.fmt_")
    plan_calls = [s for s in T.subtree(fmt_calls)
                  if s.name.startswith(("operators.formats.", "operators.relational.", "operators.filters."))]
    put("formats.plan_s", T.busy(fmt_calls) / n, "s")
    put("formats.plan_calls", len(plan_calls) / n, "count")
    put("formats.plan_jobs", len(jobs(fmt_calls)) / n, "count")

    # sinks
    writes = T.named("sinks.write_")
    gtfs_results = of(GtfsRouteFanout, traced) + of(GtfsAgencyGeometry, traced)
    sink_bytes = sum(r["bytes"] for r in gtfs_results) / n
    put("sinks.write_s", T.busy(writes) / n, "s")
    put("sinks.write_calls", len(writes) / n, "count")
    put("sinks.write_jobs", len(jobs(writes)) / n, "count")
    put("sinks.bytes", sink_bytes, "B")
    put("sinks.features", sum(p.items for p in (fanout, agency) if p), "count")

    # operators.geoagg + geometry
    # The buffer kernel runs in the stages sinks.write_single_geojson drives
    # through toLocalIterator. Spark closes that SQL execution before those
    # jobs run and drops their Python SQL metrics, so the kernel's cost is
    # read as the executor run time of those stages instead.
    lb_writes = [s for s in T.subtree(T.named("step.lines-buffer")) if s.name.startswith("sinks.write_")]
    lb_stages = ledger.stages_of(jobs(lb_writes))
    dis = T.named("operators.geoagg.dissolve_polygons")
    put("geoagg.line_buffer_stage_s", sum(s.run_s for s in lb_stages) / n, "s")
    put("geoagg.line_buffer_rows", agency.n_buffers if agency else 0, "count")
    put("geoagg.line_buffer_tasks", sum(s.tasks for s in lb_stages) / n, "count")
    put("geoagg.dissolve_s", T.busy(dis) / n, "s")
    put("geoagg.dissolve_jobs", len(jobs(dis)) / n, "count")
    put("geoagg.dissolve_parts", agency.parts if agency else 0, "count")

    # cells + operators.spatial
    ej = T.named("step.envelope_join")
    ej_sql = sql(ej)
    scans = [mt for e in ej_sql for nm, mt in e.nodes if nm.startswith("Scan")]
    big = max(scans, key=lambda mt: mt.get("number of output rows", 0.0), default={})
    result_rows = _median(r["join_fp"][1] for r in of(SpatialTileHeadline, traced))
    put("spatial.envelope_join_s", T.busy(ej) / n, "s")
    put("spatial.scan_rows", big.get("number of output rows", 0.0) / n, "count")
    put("spatial.scan_s", big.get("scan time", 0.0) / n, "s")
    put("spatial.candidate_rows", candidate_rows, "count")
    put("spatial.result_rows", result_rows, "count")
    put("spatial.residual_hit_ratio", result_rows / candidate_rows if candidate_rows else 0.0, "ratio")
    put("spatial.broadcast_build_s", sum(
        SparkLedger.node_metric(ej_sql, "BroadcastExchange", k)
        for k in ("time to collect", "time to build", "time to broadcast")) / n, "s")
    put("spatial.broadcast_rows",
        SparkLedger.node_metric(ej_sql, "BroadcastExchange", "number of output rows") / n, "count")

    # operators.multimodal + images
    dt = T.named("step.decode_tile")
    dt_sql = sql(dt)
    rows_in = SparkLedger.node_metric(dt_sql, "MapInPandas", "number of output rows") / n
    verified = _median(r["tile_fp"][1] for r in of(SpatialTileHeadline, traced))
    put("multimodal.decode_tile_s", T.busy(dt) / n, "s")
    put("multimodal.python_s", SparkLedger.node_metric(dt_sql, "MapInPandas", "time to run Python workers") / n, "s")
    put("multimodal.python_boot_init_s", sum(
        SparkLedger.node_metric(dt_sql, "MapInPandas", k)
        for k in ("time to start Python workers", "time to initialize Python workers")) / n, "s")
    put("multimodal.arrow_bytes_sent",
        SparkLedger.node_metric(dt_sql, "MapInPandas", "data sent to Python workers") / n, "B")
    put("multimodal.rows_in", rows_in, "count")
    put("multimodal.verified_ratio", verified / rows_in if rows_in else 0.0, "ratio")
    enc_ns, dec_us, ph_us = _kernel_costs(headline) if headline else (0.0, 0.0, 0.0)
    put("cells.encode_ns_per_point", enc_ns, "ns")
    put("images.decode_us_per_image", dec_us, "us")
    put("images.phash_us_per_image", ph_us, "us")

    # operators.raster + jobs/tile_pyramid_job
    pyramid_runs = T.named("jobs.tile_pyramid_job.run")
    levels = [lv for r in of(TilePyramidBuild, traced) for lv in r["levels"]]
    base = f"z{pyramid.params['tile_res']}" if pyramid else None
    level_s = sum(lv["sec"] for lv in levels)
    base_s = sum(lv["sec"] for lv in levels if lv["level"] == base)
    n_levels = len(levels) / n
    put("jobs.pyramid_run_s", T.busy(pyramid_runs) / n, "s")
    put("jobs.base_level_s", base_s / n, "s")
    put("jobs.rollup_levels_s", (level_s - base_s) / n, "s")
    put("jobs.audit_s", (T.busy(pyramid_runs) - level_s) / n if pyramid_runs else 0.0, "s")
    put("jobs.spark_jobs", len(jobs(pyramid_runs)) / n, "count")
    put("jobs.spark_jobs_per_level", len(jobs(pyramid_runs)) / n / n_levels if n_levels else 0.0, "count")
    put("jobs.rows_written", sum(lv["rows"] for lv in levels) / n, "count")

    # Spark executor, over every job of the traced iterations
    all_jobs = list(ledger.jobs.values())
    stages = ledger.stages_of(all_jobs)
    run_total = sum(s.run_s for s in stages)
    traced_wall = sum(r["iter_s"] for r in traced)
    put("spark.jobs", len(all_jobs) / n, "count")
    put("spark.tasks", sum(s.tasks for s in stages) / n, "count")
    put("spark.executor_run_s", run_total / n, "s")
    put("spark.executor_cpu_s", sum(s.cpu_s for s in stages) / n, "s")
    put("spark.jvm_gc_s", sum(s.gc_s for s in stages) / n, "s")
    put("spark.shuffle_write_bytes", sum(s.shuffle_write_bytes for s in stages) / n, "B")
    put("spark.core_busy_frac", run_total / (traced_wall * cores) if traced_wall else 0.0, "ratio")

    # traced iteration time; this minus iter_s of a run with tracing off is
    # the tracing overhead
    put("trace.iter_s", iter_t, "s")
    put("trace.spans_per_iter", len(tracer.spans) / n, "count")

    # per-phase throughput and output
    def rate(count, cls):
        p = wl.phase(cls)
        secs = _median(r["phase_s"][p.name] for r in traced) if p else 0.0
        return count / secs if secs else 0.0

    fan_r = of(GtfsRouteFanout, traced)
    ready = [t for r in fan_r for t in r["ready"]]
    put("file_ready_p50_s", float(np.percentile(ready, 50)) if ready else 0.0, "s")
    put("file_ready_p90_s", float(np.percentile(ready, 90)) if ready else 0.0, "s")
    put("files_per_s", rate(_median(len(r["outputs"]) for r in fan_r), GtfsRouteFanout), "1/s")
    put("features_per_s", rate(fanout.items if fanout else 0, GtfsRouteFanout), "1/s")
    put("geometry_features_per_s", rate(agency.items if agency else 0, GtfsAgencyGeometry), "1/s")
    hl_r = of(SpatialTileHeadline, traced)
    put("points_per_s", headline.pts["n_points"] / _median(r["ready"][0] for r in hl_r) if hl_r else 0.0, "1/s")
    put("images_per_s", headline.imgs["n_images"] / _median(r["ready"][1] - r["ready"][0] for r in hl_r)
        if hl_r else 0.0, "1/s")
    put("pyramid_points_per_s", rate(pyramid.items if pyramid else 0, TilePyramidBuild), "1/s")
    pyr_bytes = _median(r["bytes"] for r in of(TilePyramidBuild, traced))
    put("out_mb", (sink_bytes + pyr_bytes) / 1e6, "MB")
    put("failed_frac", failed / attempted if attempted else 0.0, "ratio")
    return m


def candidate_rows(spark, wl: Workload) -> float:
    """Rows the envelope join's cell prejoin yields before its exact bbox
    residual. Spark evaluates that residual inside the join, so no SQL metric
    shows the candidates; this probe repeats the prejoin (the operator's cell
    cover and cell encoding, joined on the cell) once, after the traced
    iterations."""
    hl = wl.phase(SpatialTileHeadline)
    if hl is None:
        return 0.0
    from pyspark.sql import functions as F

    from gtfs_to_geojson_spark import cells
    from gtfs_to_geojson_spark.operators import spatial

    cover = spatial.cover_bbox_cells_col(F.col("min_lon"), F.col("min_lat"), F.col("max_lon"),
                                         F.col("max_lat"), hl.join_res)
    boxes = hl.boxes.select(F.explode(cover).alias("_cell"))
    points = hl.points.select(cells.cell_col(F.col("lat"), F.col("lon"), hl.join_res).alias("_cell"))
    return float(points.join(boxes, "_cell").count())


def _micro(fn, reps: int = 5) -> float:
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def _kernel_costs(headline: SpatialTileHeadline) -> tuple[float, float, float]:
    """cells.encode per point on a fixed 1M-point array; images.decode and
    images.phash64 per image on the first 256 fixture images."""
    import pyarrow.parquet as pq

    from gtfs_to_geojson_spark import cells, images

    rng = np.random.default_rng(0)
    lat = rng.uniform(37.70, 37.84, 1_000_000)
    lon = rng.uniform(-122.52, -122.35, 1_000_000)
    enc = _micro(lambda: cells.encode(lat, lon, 16)) / len(lat) * 1e9
    first = sorted(glob.glob(os.path.join(headline.imgs["images"], "*.parquet")))[0]
    rows = pq.read_table(first, columns=["bytes", "fmt"]).slice(0, 256).to_pylist()
    pixels = [images.decode(r["bytes"], r["fmt"]) for r in rows]
    dec = _micro(lambda: [images.decode(r["bytes"], r["fmt"]) for r in rows]) / len(rows) * 1e6
    ph = _micro(lambda: [images.phash64(p) for p in pixels]) / len(rows) * 1e6
    return enc, dec, ph
