"""Resumable batch jobs: write-once stages and per-bucket lineage
(north rule).

The reference's only incremental behavior is ``skipImport`` whole-run
reuse (src/lib/gtfs-to-geojson.ts:287). The engine generalizes it at
two granularities, both on one ``JobOutput`` — the job's ``--out``
directory on its Hadoop FileSystem (local, ``file://``, HDFS, S3…),
resolved once through the JVM gateway:

* ``JobOutput.stage`` — a write-once parquet stage
  (jobs/curate_corpus_job.py, curate_images_job.py, tile_pyramid_job.py);
* ``run_bucketed_waves`` + ``LineageManifest`` — per-bucket resume for
  one giant stage (jobs/tile_assign_job.py): each committed wave of
  buckets appends manifest rows ``(bucket, status, rows, ms, attempt)``
  and a restart skips every bucket with a ``done`` row.

Resume model. A fresh run deletes ``--out`` first. Each stage writes its
frame to ``<out>/<stage>`` parquet and is complete iff its ``_SUCCESS``
marker exists — Spark commits the marker only after every task commit,
so a killed run leaves no half-visible stage. ``--resume`` reads the
completed stages back instead of recomputing them, so a killed run
restarts at the stage (or wave) it died in, not from scratch. Stage row
counts and any caller aggregates (the pyramid's ``sum(n)``) are
``Observation``s collected by the write itself — no re-read, no second
job; a resumed stage computes the same aggregates with one ``agg`` over
its committed parquet. Run summaries go to ``<out>/metrics.json``.

No Structured Streaming is needed — the reference is strictly batch —
but the manifest directory is exactly the shape a ``foreachBatch`` sink
would keep, so a streaming source can reuse it.
"""

from __future__ import annotations

import io
import json
import time

import pandas as pd
from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

MANIFEST_SCHEMA = "bucket long, status string, rows long, ms double, attempt int"


def job_session(app_name: str, shuffle_partitions: int | None = None) -> SparkSession:
    """The jobs' session: only engine-required confs (Arrow transfer,
    AQE with skew join) — spark-submit owns master and executors."""
    b = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
    )
    if shuffle_partitions:
        b = b.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    return b.getOrCreate()


def _write_observed(df: DataFrame, path: str, aggs: dict[str, Column], partition_by=None) -> dict:
    """Overwrite ``path`` with ``df``; the aggregates ride the write."""
    obs = Observation()
    w = df.observe(obs, *[c.alias(k) for k, c in aggs.items()]).write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(partition_by)
    w.parquet(path)
    return obs.get


class JobOutput:
    """A job's ``--out`` directory: cleared on a fresh run, kept under
    resume; every marker check, delete and metrics write goes through
    its one Hadoop FileSystem handle."""

    def __init__(self, spark: SparkSession, out: str, resume: bool = False, label: str = "stage"):
        self.spark, self.out, self.resume, self.label = spark, out, resume, label
        self._Path = spark._jvm.org.apache.hadoop.fs.Path
        self.fs = self._Path(out).getFileSystem(spark._jsc.hadoopConfiguration())
        if not resume:
            self.fs.delete(self._Path(out), True)
        self.fs.mkdirs(self._Path(out))
        self.stages: list[dict] = []

    def path(self, name: str):
        return self._Path(f"{self.out}/{name}")

    def write_bytes(self, name: str, data: bytes) -> None:
        s = self.fs.create(self.path(name), True)
        try:
            s.write(bytearray(data))
        finally:
            s.close()

    def write_metrics(self, obj) -> None:
        self.write_bytes("metrics.json", json.dumps(obj).encode())

    def stage(self, name: str, build, **aggs: Column) -> tuple[DataFrame, dict]:
        """Write-once checkpoint: ``build()`` → parquet ``<out>/<name>``,
        skipped under resume when its ``_SUCCESS`` marker exists. Appends
        ``{label: name, rows, sec, resumed}`` to ``self.stages`` and
        returns the committed frame plus the ``aggs`` values."""
        path, t0 = f"{self.out}/{name}", time.time()
        aggs = {"rows": F.count(F.lit(1)), **aggs}
        if self.resume and self.fs.exists(self.path(f"{name}/_SUCCESS")):
            df = self.spark.read.parquet(path)
            got = df.agg(*[c.alias(k) for k, c in aggs.items()]).first().asDict()
            sec, resumed = 0.0, True
        else:
            built = build()
            got = _write_observed(built, path, aggs)
            # the known schema skips parquet schema inference (a job)
            df = self.spark.read.schema(built.schema).parquet(path)
            sec, resumed = round(time.time() - t0, 2), False
        rows = got.pop("rows")
        self.stages.append({self.label: name, "rows": rows, "sec": sec, "resumed": resumed})
        return df, got


class LineageManifest:
    """Per-bucket ``done`` rows under ``<out>/<name>``, one small parquet
    file per committed wave."""

    def __init__(self, out: JobOutput, name: str):
        self.out, self.name = out, name
        self.dir = f"{out.out}/{name}"
        out.fs.mkdirs(out.path(name))

    def read(self) -> DataFrame:
        """Every committed manifest row (empty before the first wave);
        hidden ``.tmp`` files of a killed write are never read."""
        return self.out.spark.read.schema(MANIFEST_SCHEMA).parquet(self.dir)

    def completed_buckets(self) -> DataFrame:
        """Buckets already done (idempotent re-reads tolerated)."""
        return self.read().filter(F.col("status") == "done").select("bucket").distinct()

    def mark_done(self, rows: list[tuple[int, int, float]], attempt: int = 1) -> None:
        """Append manifest rows (bucket, n_rows, ms)."""
        pdf = pd.DataFrame(
            [(b, "done", n, ms, attempt) for b, n, ms in rows],
            columns=["bucket", "status", "rows", "ms", "attempt"],
        ).astype({"attempt": "int32"})
        buf = io.BytesIO()
        pdf.to_parquet(buf, index=False)
        fname = f"manifest_{int(time.time() * 1e6)}_{attempt}.parquet"
        # write-then-rename: a kill mid-write must not leave a truncated
        # .parquet that breaks the resume read; the dot prefix hides the
        # temp file from Spark's directory reader
        tmp = f"{self.name}/.{fname}.tmp"
        self.out.write_bytes(tmp, buf.getvalue())
        self.out.fs.rename(self.out.path(tmp), self.out.path(f"{self.name}/{fname}"))


def run_bucketed_waves(
    spark: SparkSession,
    inputs: DataFrame,
    bucket_col: str,
    out_dir: str,
    manifest: LineageManifest,
    wave_size: int = 64,
    select_cols: list | None = None,
) -> tuple[int, int]:
    """Process every pending bucket in WAVES — one partitioned write per
    ``wave_size`` buckets, not one driver-loop job per bucket (thousands
    of tiny jobs are a driver bottleneck). Dynamic partition overwrite
    means a killed wave re-runs cleanly: only its own bucket directories
    are replaced, and completed waves' manifest rows keep them out of
    the pending set. Per-bucket row counts are observed by the wave's
    write. Returns (n_buckets_processed, n_skipped).
    """
    all_buckets = [r[0] for r in inputs.select(bucket_col).distinct().collect()]
    done = {r[0] for r in manifest.completed_buckets().collect()}
    todo = sorted(b for b in all_buckets if b not in done)

    prev_mode = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        for i in range(0, len(todo), wave_size):
            wave = [int(b) for b in todo[i : i + wave_size]]
            t0 = time.time()
            df = inputs.filter(F.col(bucket_col).isin(wave))
            if select_cols:
                df = df.select(*select_cols)
            counts = _write_observed(
                df, out_dir,
                {f"b{j}": F.count(F.when(F.col(bucket_col) == b, 1)) for j, b in enumerate(wave)},
                partition_by=bucket_col,
            )
            ms = (time.time() - t0) * 1000.0 / max(1, len(wave))
            manifest.mark_done([(b, int(counts[f"b{j}"]), ms) for j, b in enumerate(wave)])
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev_mode)
    return len(todo), len(all_buckets) - len(todo)
