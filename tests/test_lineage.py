"""Resumable jobs (streaming/lineage.py): write-once stages with
observed counts, and per-bucket wave lineage — a killed run must not
recompute completed work (SURVEY.md §7 step 10)."""

import contextlib
import json
import os
import sys
import uuid

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from gtfs_to_geojson_spark.streaming.lineage import (
    JobOutput,
    LineageManifest,
    run_bucketed_waves,
)

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@contextlib.contextmanager
def _jobs(spark):
    """Yields a list that ends up holding the ids of the Spark jobs the
    block started (counted in its own job group)."""
    sc, group, ids = spark.sparkContext, uuid.uuid4().hex, []
    sc.setJobGroup(group, "counted")
    try:
        yield ids
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        ids.extend(sc.statusTracker().getJobIdsForGroup(group))


def _manifest(spark, root, name):
    return LineageManifest(JobOutput(spark, str(root), resume=True), name)


@pytest.fixture()
def work(spark):
    pdf = pd.DataFrame({"bucket": [i % 5 for i in range(100)], "v": range(100)})
    return spark.createDataFrame(pdf)


def test_resume_skips_completed(spark, work, tmp_path, monkeypatch):
    """A run killed before its third bucket's write resumes with only
    the remaining 3 buckets, every row is processed exactly once, and a
    second resume has nothing to do."""
    from gtfs_to_geojson_spark.streaming import lineage

    out = str(tmp_path / "out")
    real_write = lineage._write_observed
    processed = []

    class Killed(Exception):
        pass

    def write_counting(df, path, aggs, partition_by=None):
        got = real_write(df, path, aggs, partition_by)
        processed.extend(got.values())
        return got

    def write_killing(df, path, aggs, partition_by=None):
        if len(processed) >= 2:
            raise Killed()
        return write_counting(df, path, aggs, partition_by)

    monkeypatch.setattr(lineage, "_write_observed", write_killing)
    with pytest.raises(Killed):
        run_bucketed_waves(spark, work, "bucket", out, _manifest(spark, tmp_path, "m"), wave_size=1)
    assert len(processed) == 2
    manifest = _manifest(spark, tmp_path, "m")
    assert manifest.completed_buckets().count() == 2

    # resume: only the remaining 3 buckets run
    monkeypatch.setattr(lineage, "_write_observed", write_counting)
    assert run_bucketed_waves(spark, work, "bucket", out, manifest, wave_size=1) == (3, 2)
    assert len(processed) == 5
    assert sum(processed) == 100  # every row processed exactly once
    assert spark.read.parquet(out).select("v").distinct().count() == 100

    # idempotent second resume: nothing to do
    assert run_bucketed_waves(spark, work, "bucket", out, manifest, wave_size=1) == (0, 5)
    assert len(processed) == 5


def test_pending_anti_join(spark, work, tmp_path):
    """Buckets with manifest ``done`` rows are left out of the pending
    set: only buckets 1, 2 and 4 are written."""
    manifest = _manifest(spark, tmp_path, "m2")
    manifest.mark_done([(0, 20, 1.0), (3, 20, 1.0)])
    out = str(tmp_path / "out2")
    assert run_bucketed_waves(spark, work, "bucket", out, manifest) == (3, 2)
    written = spark.read.parquet(out)
    assert {r["bucket"] for r in written.select("bucket").distinct().collect()} == {1, 2, 4}
    assert written.count() == 60


def test_stage_observes_counts_without_extra_jobs(spark, tmp_path):
    """A fresh stage costs exactly the jobs of the plain write, and its
    observed rows/sum equal a recount; under resume ``build`` is never
    called and the same numbers come back."""
    def build():
        return (
            spark.range(5000)
            .select((F.col("id") % 37).alias("k"), (F.col("id") % 5).alias("n"))
            .groupBy("k").agg(F.sum("n").alias("n"))
        )

    with _jobs(spark) as plain:
        build().write.parquet(str(tmp_path / "plain"))
    job = JobOutput(spark, str(tmp_path / "out"))
    with _jobs(spark) as staged:
        df, got = job.stage("s", build, n=F.sum("n"))
    assert len(staged) == len(plain) > 0
    back = spark.read.parquet(str(tmp_path / "out" / "s")).agg(F.count(F.lit(1)), F.sum("n")).first()
    assert job.stages == [{"stage": "s", "rows": back[0], "sec": job.stages[0]["sec"], "resumed": False}]
    assert (back[0], back[1]) == (37, sum(i % 5 for i in range(5000)))
    assert got == {"n": back[1]}
    assert df.count() == 37

    resumed = JobOutput(spark, str(tmp_path / "out"), resume=True)

    def never():
        raise AssertionError("build called for a committed stage")

    df2, got2 = resumed.stage("s", never, n=F.sum("n"))
    assert resumed.stages == [{"stage": "s", "rows": 37, "sec": 0.0, "resumed": True}]
    assert got2 == got and df2.count() == 37

    # an empty frame: rows == 0, and sum(n) (null) does not trip the
    # pyramid's cross-level conservation check
    _, got3 = job.stage("empty", lambda: build().filter("k < 0"), n=F.sum("n"))
    assert job.stages[-1]["rows"] == 0 and got3 == {"n": None}
    from jobs import tile_pyramid_job

    src = str(tmp_path / "no_points.parquet")
    spark.createDataFrame([], "lon double, lat double").write.parquet(src)
    levels = tile_pyramid_job.run(spark, src, str(tmp_path / "pyr"), tile_res=4, px_bits=2, min_res=3)
    assert [(m["level"], m["rows"]) for m in levels] == [("z4", 0), ("z3", 0)]
    assert json.load(open(tmp_path / "pyr" / "metrics.json"))["total_points"] == 0


def test_truncated_tmp_manifest_ignored(spark, tmp_path):
    """mark_done is write-then-rename: a kill mid-write leaves only a
    dot-prefixed ``.tmp`` file, which the resume read must ignore —
    even if the kill truncated it to garbage bytes."""
    manifest = _manifest(spark, tmp_path, "m3")
    assert manifest.completed_buckets().count() == 0
    manifest.mark_done([(0, 20, 1.0), (3, 20, 1.0)])
    # a kill mid-write: half-written temp file, never renamed
    (tmp_path / "m3" / ".manifest_999_1.parquet.tmp").write_bytes(b"PAR1\x00trunc")
    done = {r[0] for r in manifest.completed_buckets().collect()}
    assert done == {0, 3}


def test_run_bucketed_waves_resume(spark, tmp_path, monkeypatch):
    """Wave-mode lineage: a kill after a wave's write but before its
    manifest commit → resume skips only the committed wave, rewrites
    the killed one, and every row lands exactly once; a second resume
    has nothing to do."""
    import glob

    df = spark.range(1000).select(F.col("id"), (F.col("id") % 10).alias("bucket"))
    out = str(tmp_path / "wave_out")

    class Killed(Exception):
        pass

    real_mark = LineageManifest.mark_done
    marks = []

    def mark_then_die(self, rows, attempt=1):
        if marks:
            raise Killed()
        marks.append(rows)
        real_mark(self, rows, attempt)

    monkeypatch.setattr(LineageManifest, "mark_done", mark_then_die)
    with pytest.raises(Killed):
        run_bucketed_waves(spark, df, "bucket", out, _manifest(spark, tmp_path, "m"), wave_size=4)
    monkeypatch.setattr(LineageManifest, "mark_done", real_mark)
    assert [(b, n) for b, n, _ in marks[0]] == [(b, 100) for b in range(4)]
    first_files = {f: os.path.getmtime(f) for f in glob.glob(f"{out}/bucket=[0-3]/part-*")}
    assert first_files

    # restart: buckets 0-3 skipped, the killed wave (4-7) and 8-9 redone
    manifest = _manifest(spark, tmp_path, "m")
    assert run_bucketed_waves(spark, df, "bucket", out, manifest, wave_size=4) == (6, 4)
    # completed buckets' files untouched (dynamic partition overwrite)
    for f, mtime in first_files.items():
        assert os.path.getmtime(f) == mtime, f
    back = spark.read.parquet(out)
    assert back.count() == 1000
    assert back.select("id").distinct().count() == 1000
    counts = manifest.read().groupBy("bucket").agg(F.count(F.lit(1)), F.sum("rows")).collect()
    assert sorted(tuple(r) for r in counts) == [(b, 1, 100) for b in range(10)]

    # idempotent second resume: nothing to do
    assert run_bucketed_waves(spark, df, "bucket", out, manifest, wave_size=4) == (0, 10)


def test_tile_assign_fresh_run_drops_stale_buckets(spark, tmp_path):
    """Two fresh runs into one --out with disjoint buckets: only the
    second run's rows remain, and its printed rows count them."""
    from gtfs_to_geojson_spark import cells
    from gtfs_to_geojson_spark.operators import spatial
    from jobs import tile_assign_job

    ids = np.arange(400)
    imgs = spark.createDataFrame(pd.DataFrame({"image_id": ids.astype(str)})).withColumn(
        "phash", F.xxhash64("image_id")
    )
    buckets = (
        spatial.assign_images_to_tiles(imgs, res=14)
        .select("image_id", cells.parent_col(F.col("tile"), 14, 12).alias("bucket"))
        .toPandas()
    )
    ordered = sorted(buckets.bucket.unique())
    assert len(ordered) >= 2
    first = buckets.bucket.isin(ordered[: len(ordered) // 2])
    out = str(tmp_path / "out")
    for i, keep in enumerate((first, ~first)):
        src = str(tmp_path / f"imgs{i}.parquet")
        imgs.filter(F.col("image_id").isin(list(buckets.image_id[keep]))).write.parquet(src)
        metrics = tile_assign_job.run(spark, src, out, res=14, bucket_res=12, wave_size=2)
    got = spark.read.parquet(f"{out}/assignments")
    want = set(buckets.image_id[~first])
    assert {r[0] for r in got.select("image_id").collect()} == want
    assert metrics["rows"] == len(want) and metrics["buckets_skipped_resume"] == 0
    assert json.load(open(f"{out}/metrics.json")) == metrics
