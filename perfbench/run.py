"""geeflow_spark benchmark: one workload, closed loop, one job at a time.

    python3 perfbench/run.py --workload generate_write --seed 0 \
        --seconds 10 --trace 0

Runs from the root of a source checkout. The working tree reaches the
Python workers through PYTHONPATH (never a packaged zip, which may be
stale). Spark runs as local[N], N = the CPUs this process may use.
Everything a run writes stays under `.perfbench_work/` in the checkout.

Untraced (`--trace 0`): builds the seeded inputs, measures set-up three
times (session restart + a cold start on a slice of the input; median),
makes two untimed warm-up runs, then runs the job back to back for
`--seconds` and at least five times, checking every output. Prints the
end-to-end metrics (medians).

Traced (`--trace 1`): the same job with a span around each call into a
geeflow_spark layer, Spark task metrics attributed to spans from the event
log, and direct probes of the layers the job does not run (see NOTES.md).
Prints the per-layer metrics; spans go to `.perfbench_work/spans.jsonl`.

`--steadiness RUNS` runs the benchmark itself RUNS times per set on every
workload (seeds 1..RUNS) and reports per metric whether the runs are
steady and whether the sets agree within BENCHMARK.json's bounds.

The last line of stdout is one JSON object:
{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
SETUP_REPEATS = 3
WARMUP_RUNS = 2
MIN_RUNS = 5
TRACE_PAIRS = 2
PROBE_SCALE = 0.1
FUNCTION_BATCH = 65_536
PIP_VERTS = 88

# Per-layer metric -> (unit, the end-to-end metric and workload it should
# move). Layers a workload does not run are measured by a probe at
# PROBE_SCALE of their own workload.
PER_LAYER = {
    "session.get_spark_s": ("s", "setup_s, all workloads"),
    "session.first_udf_s": ("s", "setup_s, all workloads"),
    "sources.scan_s": ("s", "job_s, this workload"),
    "sources.input_bytes": ("bytes", "job_s, this workload"),
    "functions.s2.encode_ns_per_row": ("ns", "job_s, generate_write"),
    "functions.utm.from_latlon_ns_per_row": ("ns", "job_s, generate_write"),
    "functions.geometry.pip_ns_per_row_edge": ("ns", "job_s, generate_write"),
    "operators.spatial_join.region_covers_s": ("s", "job_s, generate_write"),
    "operators.spatial_join.join_points_regions_s":
        ("s", "job_s, labels_sources"),
    "operators.tiles.assign_tiles_s": ("s", "job_s, raster_mosaic"),
    "operators.tiles.fanout": ("ratio", "job_s, raster_mosaic"),
    "operators.raster_export.mosaic_s": ("s", "job_s, raster_mosaic"),
    "operators.raster_export.shuffle_bytes": ("bytes", "job_s, raster_mosaic"),
    "operators.raster_export.output_bytes":
        ("bytes", "job_s, raster_mosaic"),
    "operators.reducers.sample_date_ranges_s": ("s", "job_s, labels_sources"),
    "operators.rasterize.rasterize_fc_s": ("s", "job_s, labels_sources"),
    "operators.stats.per_band_counter_stats_s":
        ("s", "job_s, labels_sources"),
    "operators.stats.materialized_s": ("s", "job_s, labels_sources"),
    "operators.stats.recompute_ratio": ("ratio", "job_s, labels_sources"),
    "plans.generate.plan_build_s": ("s", "job_s, generate_write"),
    "plans.generate.kernel_s": ("s", "job_s, generate_write"),
    "plans.generate.pip_hit_ratio": ("ratio", "job_s, generate_write"),
    "plans.checkpoint.write_s": ("s", "job_s, generate_write"),
    "plans.checkpoint.spark_jobs": ("count", "job_s, generate_write"),
    "plans.checkpoint.kernel_passes": ("count", "job_s, generate_write"),
    "plans.checkpoint.output_bytes": ("bytes", "job_s, generate_write"),
    "plans.config.run_pipeline_plan_s": ("s", "job_s, labels_sources"),
    "spark.executor_run_s": ("s", "job_s, this workload"),
    "spark.executor_cpu_s": ("s", "job_s, this workload"),
    "spark.gc_s": ("s", "job_s, this workload"),
    "spark.shuffle_write_bytes": ("bytes", "job_s, this workload"),
    "spark.spill_bytes": ("bytes", "job_s, this workload"),
    "process.peak_rss_mb": ("MB", "memory; too unsteady for a bound"),
    "spark.failed_tasks": ("count", "job_s, this workload"),
    "trace.job_s": ("s", "(traced job_s)"),
    "trace.overhead_frac": ("ratio", "(traced minus untraced job_s)"),
}


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", default="generate_write")
    p.add_argument("--seed", type=int, default=0)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--steadiness", type=int, default=0, metavar="RUNS",
                   help="run every workload RUNS times per set, two sets")
    return p.parse_args(argv)


def _log(*a):
    print(*a, file=sys.stderr, flush=True)


def _env() -> None:
    """Points Spark, the JVM and the Python workers at the checkout."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p])
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "local")
    os.environ["TMPDIR"] = tmp
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    if HERE not in sys.path:
        sys.path.insert(0, HERE)


def _conf(trace: bool) -> dict:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.log.level": "FATAL",
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
    }
    if trace:
        os.makedirs(os.path.join(WORK, "eventlog"), exist_ok=True)
        conf |= {"spark.eventLog.enabled": "true",
                 "spark.eventLog.dir": os.path.join(WORK, "eventlog"),
                 "spark.eventLog.compress": "false",
                 "spark.eventLog.rolling.enabled": "false"}
    return conf


def _shutdown(spark) -> None:
    """Stops the session, then the JVM it runs in, and waits for it."""
    from pyspark import SparkContext
    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


class RssSampler:
    """Peak resident memory of this process and all its descendants
    (driver JVM, Python workers), sampled from /proc."""

    def __init__(self, every_s: float = 0.2):
        self.every_s = every_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _tree_mb(self) -> float:
        parent, rss = {}, {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    rest = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            parent[int(d)] = int(rest[1])
            rss[int(d)] = int(rest[21])
        mine, total = {os.getpid()}, 0
        grew = True
        while grew:
            grew = False
            for pid, pp in parent.items():
                if pp in mine and pid not in mine:
                    mine.add(pid)
                    grew = True
        for pid in mine:
            total += rss.get(pid, 0)
        return total * self._page / 2**20

    def _loop(self):
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, self._tree_mb())
            self._stop.wait(self.every_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak_mb = max(self.peak_mb, self._tree_mb())


class Runner:
    """Counts attempts and failures; a run fails if it raises or its
    output check reports a problem."""

    def __init__(self, spark, wl):
        self.spark, self.wl = spark, wl
        self.attempted = self.failed = 0

    def once(self, tracer=None, full_check=True) -> float | None:
        """One timed job plus its check; returns the job time or None.
        Without `full_check` a workload may skip re-reading its output
        and check only what the job itself reported."""
        self.wl.reset()
        self.attempted += 1
        self.last = None
        try:
            t0 = time.perf_counter()
            if tracer is None:
                got = self.wl.run(self.spark)
            else:
                with tracer.span("workload"):
                    got = self.wl.run(self.spark, tracer)
            dt = time.perf_counter() - t0
            self.last = got
            problems = self.wl.check(self.spark, got, full_check)
        except Exception:
            _log(traceback.format_exc())
            self.failed += 1
            return None
        if problems:
            _log(f"{self.wl.name}: check failed: {problems}")
            self.failed += 1
            return None
        return dt

    def recheck(self) -> None:
        """The full output check on what the last run left, if it ran."""
        if self.last is None:
            return
        try:
            problems = self.wl.check(self.spark, self.last, True)
        except Exception:
            _log(traceback.format_exc())
            problems = ["full check raised"]
        if problems:
            _log(f"{self.wl.name}: check failed: {problems}")
            self.failed += 1

    def finish(self) -> None:
        try:
            problems = self.wl.finish(self.spark)
        except Exception:
            _log(traceback.format_exc())
            problems = ["deferred check raised"]
        if problems:
            _log(f"{self.wl.name}: check failed: {problems}")
        self.failed += len(problems)


def _start(trace=False):
    from geeflow_spark.session import get_spark
    return get_spark("perfbench", extra_conf=_conf(trace))


def _untraced(args, WL) -> dict:
    t_start = time.perf_counter()
    spark = _start()
    wl = WL(args.seed, WORK)
    _log(f"session up after {time.perf_counter() - t_start:.1f} s")
    wl.prepare(spark)
    _log(f"inputs ready after {time.perf_counter() - t_start:.1f} s")
    run = Runner(spark, wl)

    setups = []
    for _ in range(SETUP_REPEATS):
        spark.stop()
        t0 = time.perf_counter()
        run.spark = spark = _start()
        wl.cold_start(spark)
        setups.append(time.perf_counter() - t0)
    _log(f"setup_s runs: {setups}")

    # The first full runs after a restart are slow (JIT warm-up of the
    # write path); they are checked but not timed. The full output check
    # re-reads what was written, so it runs outside the timed window: on
    # the first warm-up run and on the last timed run.
    for i in range(WARMUP_RUNS):
        run.once(full_check=i == 0)
    jobs = []
    deadline = time.perf_counter() + args.seconds
    while time.perf_counter() < deadline or len(jobs) < MIN_RUNS:
        dt = run.once(full_check=False)
        if dt is not None:
            jobs.append(dt)
        if run.attempted > 4 * MIN_RUNS and not jobs:
            break
    run.recheck()
    _log(f"job_s runs: {jobs}")
    run.finish()
    _shutdown(spark)
    _log(f"done after {time.perf_counter() - t_start:.1f} s")
    metrics = {}
    if jobs:
        job_s = statistics.median(jobs)
        metrics = {
            "job_s": (job_s, "s"),
            "rows_per_s": (wl.input_rows / job_s, "rows/s"),
            "setup_s": (statistics.median(setups), "s"),
        }
    return {"attempted": run.attempted, "failed": run.failed,
            "metrics": metrics}


def _function_probes(seed: int) -> dict:
    """Direct calls on one batch of fixture coordinates; median of 7."""
    import numpy as np

    from geeflow_spark.functions import geometry, s2, utm
    from geeflow_spark.sources import synth

    lat, lon = synth.doc_latlon_np(np.arange(FUNCTION_BATCH, dtype=np.int64))
    ring = np.asarray(synth.regions_pdf(
        1, seed=seed, verts=(PIP_VERTS, PIP_VERTS + 1))["ring"][0])
    # Center the batch on the ring so both PIP branches run.
    lon_r = ring[0::2].mean() + (lon - lon.mean()) / 360.0 * 8
    lat_r = ring[1::2].mean() + (lat - lat.mean()) / 132.0 * 8

    def ns(fn, per):
        ts = []
        for _ in range(7):
            t0 = time.perf_counter_ns()
            fn()
            ts.append(time.perf_counter_ns() - t0)
        return statistics.median(ts) / per

    n = FUNCTION_BATCH
    return {
        "functions.s2.encode_ns_per_row":
            ns(lambda: s2.latlon_to_cell_id(lat, lon), n),
        "functions.utm.from_latlon_ns_per_row":
            ns(lambda: utm.from_latlon(lat, lon), n),
        "functions.geometry.pip_ns_per_row_edge":
            ns(lambda: geometry.points_in_polygon(lon_r, lat_r, ring),
               n * PIP_VERTS),
    }


def _traced(args, WL, workloads) -> dict:
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from tracing import Tracer, read_event_log

    t_start = time.perf_counter()
    spark = _start(trace=True)
    wl = WL(args.seed, WORK)
    wl.prepare(spark)
    probes = [W(args.seed, WORK, scale=PROBE_SCALE)
              for W in workloads.values() if W is not WL]
    for p in probes:
        p.prepare(spark)
    _log(f"inputs ready after {time.perf_counter() - t_start:.1f} s")

    # session layer: restart, then the first Python UDF job.
    spark.stop()
    t0 = time.perf_counter()
    spark = _start(trace=True)
    t1 = time.perf_counter()

    def _plus1(x):
        return x + 1

    # Real annotation objects: this module's annotations are strings.
    _plus1.__annotations__ = {"x": pd.Series, "return": pd.Series}
    spark.range(64, numPartitions=4).select(
        pandas_udf("long")(_plus1)("id")).collect()
    t2 = time.perf_counter()
    metrics = {"session.get_spark_s": t1 - t0, "session.first_udf_s": t2 - t1}

    tracer = Tracer()
    tracer.sc = spark.sparkContext
    run = Runner(spark, wl)
    run.once()  # warm-up
    plain, traced, runs = [], [], []
    with RssSampler() as rss:
        for i in range(TRACE_PAIRS):
            plain.append(run.once())
            tracer.run_id = f"run{i}"
            traced.append(run.once(tracer))
            runs.append(tracer.run_id)
    metrics["process.peak_rss_mb"] = rss.peak_mb
    tracer.run_id = "layers"
    for i in range(3):
        with tracer.span("sources.scan", rep=i):
            for path in wl.input_paths():
                spark.read.parquet(path).write.format("noop") \
                    .mode("overwrite").save()
    _log(f"traced runs done after {time.perf_counter() - t_start:.1f} s")
    run.finish()
    extra = wl.trace_extra(spark, tracer)
    probe_extra = {}
    for p in probes:
        prun = Runner(spark, p)
        prun.once()
        tracer.run_id = f"probe-{p.name}"
        prun.once(tracer)
        prun.finish()
        run.attempted += prun.attempted
        run.failed += prun.failed
        probe_extra[p.name] = p.trace_extra(spark, tracer)
    app_id = spark.sparkContext.applicationId
    _shutdown(spark)
    _log(f"probes done after {time.perf_counter() - t_start:.1f} s")
    metrics |= _function_probes(args.seed)

    tracer.attribute(read_event_log(os.path.join(WORK, "eventlog"), app_id))
    tracer.write(os.path.join(WORK, "spans.jsonl"))
    for p in probes:
        for k, v in p.layer_metrics(tracer, [f"probe-{p.name}"]).items():
            metrics[k] = v
        metrics |= probe_extra[p.name]
    metrics |= wl.layer_metrics(tracer, runs) | extra

    scans = tracer.find("sources.scan")
    metrics["sources.scan_s"] = float(np.median(
        [tracer.duration(s) for s in scans]))
    metrics["sources.input_bytes"] = scans[-1]["total"]["input_bytes"]
    roots = [tracer.find("workload", r)[0] for r in runs]
    for k in ("executor_run_s", "executor_cpu_s", "gc_s",
              "shuffle_write_bytes", "spill_bytes", "failed_tasks"):
        metrics[f"spark.{k}"] = float(np.median(
            [r["total"][k] for r in roots]))
    ok_t = [t for t in traced if t is not None]
    ok_p = [t for t in plain if t is not None]
    if ok_t and ok_p:
        metrics["trace.job_s"] = statistics.median(ok_t)
        metrics["trace.overhead_frac"] = (statistics.median(ok_t)
                                          / statistics.median(ok_p) - 1)
    for name, (_, moves) in PER_LAYER.items():
        if name in metrics:
            _log(f"  {name:48s} {metrics[name]:>16.6g}   moves {moves}")
    return {"attempted": run.attempted, "failed": run.failed,
            "metrics": {k: (v, PER_LAYER[k][0]) for k, v in metrics.items()
                        if k in PER_LAYER}}


def _declared(kind: str) -> list[str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return [m["name"] for m in json.load(f)[kind]]


def main(argv=None) -> int:
    args = _parse(argv)
    if args.steadiness:
        import steadiness
        return steadiness.main(args, HERE)
    _env()
    try:
        from workloads import WORKLOADS
    except ImportError as e:
        _log(f"cannot import the engine from {ROOT}: {e}")
        return 2
    if args.workload not in WORKLOADS:
        _log(f"unknown workload {args.workload}; have {sorted(WORKLOADS)}")
        return 2
    shutil.rmtree(WORK, ignore_errors=True)
    _env()  # recreates the work dirs
    WL = WORKLOADS[args.workload]
    res = (_traced(args, WL, WORKLOADS) if args.trace
           else _untraced(args, WL))
    want = _declared("per_layer" if args.trace else "end_to_end")
    missing = [m for m in want if m not in res["metrics"]]
    if missing:
        _log(f"metrics not measured: {missing}")
        res["failed"] = max(res["failed"], 1)
    out = {
        "correct": res["failed"] == 0 and not missing,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": float(v), "unit": u}
                    for k, (v, u) in res["metrics"].items() if k in want},
    }
    print(json.dumps(out), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
