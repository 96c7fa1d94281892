"""Tests of the benchmark itself.

    python -m pytest perfbench/tests -q

The smoke tests start Spark: each runs a workload at its tiny size (about a
minute each on 4 cores)."""

from __future__ import annotations

import glob
import json
import os
import subprocess
import sys

import numpy as np
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import fixtures  # noqa: E402
from perfbench.trace import parse_metric  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)


def _metric_units(kind: str) -> dict[str, str]:
    return {m["name"]: m["unit"] for m in SPEC[kind]}


# ---------------------------------------------------------------------------
# pure-Python pieces
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("text,value", [
    ("1,000", 1000.0),
    ("14 ms", 0.014),
    ("236.0 B", 236.0),
    ("total (min, med, max (stageId: taskId))\n2.5 s (1 ms, 2 ms, 3 ms (stage 0.0: task 3))", 2.5),
    ("total (min, med, max (stageId: taskId))\n1.5 KiB (1 B, 2 B, 3 B (stage 0.0: task 3))", 1536.0),
    (None, 0.0),
])
def test_parse_metric(text, value):
    assert parse_metric(text) == pytest.approx(value)


def test_route_fanout_reference_matches_synth_layout():
    """3 routes: one file per route for direction 0, plus R002's null
    direction (its first trip has none), named agency_short_route[_dir];
    R002 has no agency_id, so its names start at the short name."""
    from gtfs_to_geojson_spark import synth

    expected = fixtures.route_fanout_expected(synth.make_gtfs_feed(n_routes=3, seed=7))
    assert sorted(expected) == [
        "2_R002.geojson", "2_R002_0.geojson", "AG1_1_R001_0.geojson", "AG2_0_R000_0.geojson",
    ]
    assert all(n >= 2 for n in expected.values())


def test_points_in_polygon_honours_holes():
    outer = [[0, 0], [4, 0], [4, 4], [0, 4], [0, 0]]
    hole = [[1, 1], [3, 1], [3, 3], [1, 3], [1, 1]]
    pts = np.array([[0.5, 0.5], [2.0, 2.0], [5.0, 5.0]])
    assert fixtures.points_in_polygon(pts, [outer, hole]).tolist() == [True, False, False]


def test_fixture_cache_key_depends_on_seed_and_params(tmp_path):
    a, _ = fixtures.cache_dir(str(tmp_path), "points", {"n": 1}, 1)
    b, _ = fixtures.cache_dir(str(tmp_path), "points", {"n": 1}, 2)
    c, _ = fixtures.cache_dir(str(tmp_path), "points", {"n": 2}, 1)
    assert len({a, b, c}) == 3
    assert fixtures.cache_dir(str(tmp_path), "points", {"n": 1}, 1) == (a, False)


def test_same_seed_gives_same_points(tmp_path):
    params = {"n_points": 500, "n_suppliers": 5, "tile_res": 10, "min_res": 8, "px_bits": 2}
    one = fixtures.points_and_boxes(str(tmp_path / "a"), 9, params)
    two = fixtures.points_and_boxes(str(tmp_path / "b"), 9, params)
    assert one["join_counts"].tolist() == two["join_counts"].tolist()
    assert one["pyramid_rows"] == two["pyramid_rows"]


# ---------------------------------------------------------------------------
# tiny runs through Spark
# ---------------------------------------------------------------------------


def _session_members(sid: int) -> list[str]:
    """Command lines of the processes still in session ``sid``."""
    out = []
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                fields = f.read().rsplit(")", 1)[1].split()
            if int(fields[3]) == sid:
                with open(stat[:-4] + "cmdline", "rb") as f:
                    out.append(f.read().replace(b"\0", b" ").decode(errors="replace"))
        except (OSError, IndexError, ValueError):
            pass
    return out


def _run(workload: str, trace: int) -> dict:
    """Run the benchmark in a session of its own and require that, once it
    has exited, no process it started is left in that session."""
    proc = subprocess.Popen(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--tiny"],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
        start_new_session=True,
    )
    stdout, stderr = proc.communicate(timeout=600)
    assert proc.returncode == 0, stderr[-3000:]
    assert _session_members(proc.pid) == []
    return json.loads(stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_smoke_emits_every_end_to_end_metric(workload):
    out = _run(workload, 0)
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0 and out["attempted"] >= 1
    units = {k: v["unit"] for k, v in out["metrics"].items()}
    assert units == _metric_units("end_to_end")
    assert all(v["value"] > 0 for v in out["metrics"].values())


def test_smoke_traced_emits_every_per_layer_metric():
    out = _run("spatial_tiles", 1)
    assert out["correct"] is True
    units = {k: v["unit"] for k, v in out["metrics"].items()}
    assert units == _metric_units("per_layer")
    assert out["metrics"]["spatial.result_rows"]["value"] > 0
    assert out["metrics"]["jobs.spark_jobs"]["value"] > 0


def test_corrupted_output_counts_in_failed_frac(monkeypatch):
    """Corrupt the fan-out's output on the first timed iteration only: the
    run must count it as failed, report correct=false, and go on."""
    from perfbench import run as bench
    from perfbench import workloads

    original = workloads.GtfsRouteFanout.iterate
    calls = []

    def corrupting(self, spark, out, step, shared):
        res = original(self, spark, out, step, shared)
        calls.append(out)
        if len(calls) == 1:
            with open(sorted(res["outputs"])[0], "a") as f:
                f.write("corrupt")
        return res

    monkeypatch.setattr(workloads.GtfsRouteFanout, "iterate", corrupting)
    out = bench.run("gtfs_conversion", seed=3, seconds=1, trace=True, tiny=True)
    assert out["failed"] == 1
    assert out["correct"] is False
    assert out["attempted"] >= 2
    frac = out["metrics"]["failed_frac"]["value"]
    assert frac == pytest.approx(out["failed"] / out["attempted"])
    assert set(out["metrics"]) == set(_metric_units("per_layer"))
