"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. One Python process drives one closed-loop
client against ``local[<cores>]``. Inputs come from ``--seed`` only and are
cached under ``.perfbench_cache/``; outputs, spans and Spark scratch space go
to ``.perfbench_out/``. The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` every iteration is traced
and the metrics are the per-layer ones.
"""

from __future__ import annotations

import argparse
import ctypes
import glob
import json
import os
import resource
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SETUP_REPS = 5
# Status-store retention, raised so every job, stage and SQL execution of a
# traced run stays readable. Apart from these, the session only gets settings
# that keep its files inside the checkout.
RETENTION = {
    "spark.ui.retainedJobs": "100000",
    "spark.ui.retainedStages": "100000",
    "spark.sql.ui.retainedExecutions": "100000",
}


def _program_present() -> bool:
    return all(os.path.exists(os.path.join(ROOT, p)) for p in (
        "gtfs_to_geojson_spark/__init__.py", "jobs/tile_pyramid_job.py"))


def _environment(work: str) -> int:
    """Keep every file the run writes inside the checkout, give Python
    workers the checkout on their path, and size the master to this host."""
    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    # The program's own heap knob (default 8g). At 8g the JVM grows to 6.5 GB
    # on the GTFS workload; 2g keeps the run small on a shared host.
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    return cores


def _session(work: str):
    from gtfs_to_geojson_spark import session

    conf = dict(RETENTION)
    conf["spark.ui.showConsoleProgress"] = "false"
    conf["spark.local.dir"] = os.path.join(work, "spark-local")
    conf["spark.driver.extraJavaOptions"] = f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
    conf["spark.sql.warehouse.dir"] = os.path.join(work, "warehouse")
    spark = session.get_spark(app_name="perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _peak_rss_mb(spark) -> float:
    """Peak resident set of the driver Python plus the JVM and its children
    (Python workers), from each process's high-water mark."""
    parts = [resource.getrusage(resource.RUSAGE_SELF).ru_maxrss]
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    for pid in _tree(proc.pid) if proc is not None else []:
        try:
            with open(f"/proc/{pid}/status") as f:
                parts += [int(line.split()[1]) for line in f if line.startswith("VmHWM:")]
        except OSError:
            pass
    _log("peak rss MB (driver, jvm, workers...): " + ", ".join(f"{kb / 1024:.0f}" for kb in parts))
    return sum(parts) / 1024.0


def _tree(pid: int) -> list[int]:
    """``pid`` and its descendants; a child may hang off any thread."""
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        for children in glob.glob(f"/proc/{p}/task/*/children"):
            try:
                with open(children) as f:
                    todo += [int(c) for c in f.read().split()]
            except OSError:
                pass
    return out


def _log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def _prepare(workload: str, seed: int, tiny: bool) -> None:
    _environment(os.path.join(ROOT, ".perfbench_out"))
    from perfbench.workloads import make

    make(workload, ROOT, seed, tiny).prepare()


def run(workload: str, seed: int, seconds: float, trace: bool, tiny: bool = False) -> dict:
    work = os.path.join(ROOT, ".perfbench_out")
    cores = _environment(work)
    from perfbench.workloads import make

    # Generate missing inputs in a child process, so that the memory it takes
    # stays out of this process's peak RSS; here the cached copies are read.
    t_start = time.perf_counter()
    code = f"from perfbench.run import _prepare; _prepare({workload!r}, {seed!r}, {tiny!r})"
    child = subprocess.run([sys.executable, "-c", code], cwd=ROOT)
    if child.returncode != 0:
        raise RuntimeError(f"input generation failed with exit code {child.returncode}")
    wl = make(workload, ROOT, seed, tiny)
    wl.prepare()
    _log(f"inputs ready in {time.perf_counter() - t_start:.1f} s")

    try:
        return _measure(wl, work, seed, seconds, trace, cores)
    finally:
        _shutdown()


def _shutdown() -> None:
    """Stop the session, then end the JVM (it exits when its stdin closes)
    and wait for it, so the run leaves no process behind."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        if getattr(gateway, "proc", None) is not None:
            gateway.proc.stdin.close()
            gateway.proc.wait(timeout=120)
        SparkContext._gateway = SparkContext._jvm = None


PR_SET_CHILD_SUBREAPER = 36


def _adopt_orphans() -> None:
    """Make this process the reaper of its orphaned descendants, so that the
    Python workers the JVM forks stay its to wait for after the JVM exits."""
    try:
        ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def _end_children(grace_s: float = 10.0) -> None:
    """Wait for every remaining descendant to end, asking it to stop with
    SIGTERM after ``grace_s`` and forcing it with SIGKILL after twice that."""
    start = time.monotonic()
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0] > 0:
                pass
        except ChildProcessError:
            pass
        pids = _tree(os.getpid())[1:]
        if not pids:
            return
        waited = time.monotonic() - start
        if waited > grace_s:
            sig = signal.SIGKILL if waited > 2 * grace_s else signal.SIGTERM
            for pid in pids:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


def _measure(wl, work: str, seed: int, seconds: float, trace: bool, cores: int) -> dict:
    """Set up ``SETUP_REPS`` times, then run the timed (and, if ``trace``,
    traced) iterations; returns the result line."""
    from perfbench import layers
    from perfbench.workloads import no_step

    workload = wl.name
    spark, setups, get_spark_s = None, [], []
    for _ in range(SETUP_REPS):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = _session(work)
        get_spark_s.append(time.perf_counter() - t0)
        wl.open(spark)
        setups.append(time.perf_counter() - t0)
    _log(f"set-ups {', '.join(f'{x:.2f}' for x in setups)} s")
    wl.reference(spark)

    out = os.path.join(work, "out", workload)
    attempted, failed, errors = 0, 0, []

    def iteration(step) -> dict | None:
        nonlocal attempted, failed
        attempted += 1
        shutil.rmtree(out, ignore_errors=True)
        wall0, t0 = time.time(), time.perf_counter()
        try:
            with step("iteration"):
                res = wl.iterate(spark, out, step)
            res["iter_s"] = time.perf_counter() - t0
            res["ready"] = [os.path.getmtime(p) - wall0 for p in res["outputs"]]
            wl.check(res)
            return res
        except (Exception, SystemExit) as e:  # counted, never retried away
            failed += 1
            errors.append("".join(traceback.format_exception_only(type(e), e)).strip())
            return None

    def loop(step) -> list[dict]:
        """Closed loop: iterate until ``seconds`` have passed and one
        iteration has succeeded (giving up after three failures)."""
        done, start = [], time.perf_counter()
        while not done or time.perf_counter() - start < seconds:
            if tracer is not None:
                tracer.iteration = attempted
            res = iteration(step)
            if res is not None:
                done.append(res)
            elif attempted >= 3 and not done:
                break
        return done

    tracer = None
    if not trace:
        results = loop(no_step)
    else:
        from perfbench.trace import SparkLedger, Tracer

        tracer = Tracer(spark.sparkContext)
        layers.wrap_program(tracer, wl)
        marks = SparkLedger.marks(spark)
        results = loop(tracer.span)
        tracer.unwrap()
        ledger = SparkLedger(spark, *marks)
        candidates = layers.candidate_rows(spark, wl)
        os.makedirs(os.path.join(work, "spans"), exist_ok=True)
        tracer.dump(os.path.join(work, "spans", f"{workload}-seed{seed}.jsonl"))

    times = [r["iter_s"] for r in results]
    _log("iterations " + ", ".join(f"{x:.2f}" for x in times) + " s")
    peak = _peak_rss_mb(spark)
    for e in errors:
        print(f"iteration failed: {e}", file=sys.stderr)

    ok = failed == 0 and bool(results)
    iter_s = statistics.median(r["iter_s"] for r in results) if results else 0.0
    if not trace:
        metrics = {
            "setup_s": (statistics.median(setups), "s"),
            "iter_s": (iter_s, "s"),
            "output_ready_p50_s": (statistics.median(statistics.median(r["ready"]) for r in results)
                                   if results else 0.0, "s"),
        }
    else:
        metrics = layers.per_layer(
            wl, tracer, ledger, results, cores=cores, setups=setups, get_spark_s=get_spark_s,
            attempted=attempted, failed=failed, candidate_rows=candidates, peak_rss_mb=peak)
    return {
        "correct": ok,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="smallest inputs, for the smoke tests")
    args = ap.parse_args(argv)
    if not _program_present():
        print("perfbench: the program (gtfs_to_geojson_spark/, jobs/) is not in this checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    _adopt_orphans()
    try:
        result = run(args.workload, args.seed, args.seconds, bool(args.trace), args.tiny)
    finally:
        _end_children()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
