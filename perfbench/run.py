"""Warm-session benchmark of the centrality_gpu_spark engine.

    python3 perfbench/run.py --workload iterative --seed 1 --seconds 10 --trace 0

Runs one workload (see ``workloads.py``) in one warm ``local[k]`` Spark
session, k = min(4, CPUs), from the root of a source checkout. It
prints one line per figure, then, as the last line of standard output,
one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``.
With ``--trace 0`` the metrics are the ``end_to_end`` metrics of
``BENCHMARK.json``; with ``--trace 1`` they are its ``per_layer``
metrics, from a separate traced run that also writes its spans to
``.perfbench/spans/``. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import resource
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "centrality_gpu_spark"
BUILD_REPS = 2  # source builds per run; setup_s takes their median
MIN_PASSES = 2  # timed passes per run, however long a pass takes
DRIVER_MEM = "2g"  # get_spark's default (48g) does not fit a 15 GiB box


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["iterative", "traversal"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", choices=["full", "smoke"], default="full",
                    help="input sizes; 'smoke' is the tiny self-test scale")
    return ap.parse_args(argv)


def prepare_environment(work: str) -> None:
    """Keep every file Spark, the JVM and the Python workers write inside
    ``work``, and make the engine importable by the Python workers."""
    for sub in ("local", "tmp"):
        os.makedirs(os.path.join(work, sub))
    tmp = os.path.join(work, "tmp")
    os.environ.update(
        {
            "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
            "SPARK_DRIVER_MEM": DRIVER_MEM,
            "TMPDIR": tmp,
            "PYTHONPATH": os.pathsep.join([ROOT, HERE]),
            "PYSPARK_PYTHON": sys.executable,
            "SPARK_LAUNCHER_OPTS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        }
    )
    sys.path[:0] = [ROOT, HERE]


class Sessions:
    """Starts and stops the run's Spark sessions (one JVM per process)."""

    def __init__(self, work: str):
        self.work = work
        self.cores = min(4, len(os.sched_getaffinity(0)))
        self.spark = None
        self.event_dir = os.path.join(work, "events")

    def start(self, event_log: bool = False):
        from centrality_gpu_spark.session import get_spark

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(self.work, 'tmp')}"
            ),
        }
        if event_log:
            os.makedirs(self.event_dir, exist_ok=True)
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": "file://" + self.event_dir,
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        t0 = time.perf_counter()
        self.spark = get_spark(app_name="perfbench", cores=self.cores, extra_conf=conf)
        return self.spark, time.perf_counter() - t0

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def close(self) -> None:
        """Stop the session, then the JVM, and wait for it to exit."""
        self.stop()
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def measure(wl, sessions: Sessions, seconds: float):
    """Untimed inputs, set-up, the workload's discarded warm-up passes,
    then whole passes until ``seconds`` have passed and at least
    ``MIN_PASSES`` have run; the last pass may end after ``seconds``.
    Returns (end-to-end, named) figures."""
    wl.prepare()
    spark, start_s = sessions.start()
    builds = []
    for i in range(BUILD_REPS):
        if i:
            wl.drop()
        t0 = time.perf_counter()
        wl.build(spark)
        builds.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    for _ in range(wl.warmup_passes):
        wl.run_pass()
    warm_s = time.perf_counter() - t0

    walls, rates, named = [], [], {}
    t_start = time.perf_counter()
    while len(walls) < MIN_PASSES or time.perf_counter() - t_start < seconds:
        t0 = time.perf_counter()
        res = wl.run_pass()
        walls.append(time.perf_counter() - t0)
        rates.append(res.rate)
        for k, v in res.named.items():
            named.setdefault(k, []).append(v)
    wl.drop()
    e2e = {
        "setup_s": start_s + statistics.median(builds) + warm_s,
        "wall_s": statistics.median(walls),
        "work_per_s": statistics.median(rates),
        # the references were computed in a child process, so this is
        # the engine's driver side plus the interpreter and its imports
        "driver_peak_rss_mb": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0,
    }
    named = {k: statistics.median(v) for k, v in named.items()}
    named["pass_walls_s"] = [round(w, 3) for w in walls]
    return e2e, named


def trace(wl, sessions: Sessions, tracer, tally, spans_path: str):
    """The traced run: an untraced pass for reference, then a session
    with the event log on, Spark jobs tagged by span, a traced pass and
    direct calls into each module. Returns the per-layer figures; the
    event-log read counts as one operation, failed when its figures
    cannot be trusted."""
    from tracing import spark_metrics

    wl.prepare()
    spark, start_s = sessions.start()
    wl.build(spark)
    for _ in range(wl.warmup_passes):
        wl.run_pass()
    t0 = time.perf_counter()
    wl.run_pass()
    untraced_s = time.perf_counter() - t0
    wl.drop()
    sessions.stop()

    spark, _ = sessions.start(event_log=True)
    tracer.spark = spark
    wl.build(spark)
    # one pass fills the new session's caches and starts its Python
    # workers; the JVM's code is already warm from the first session
    wl.run_pass()
    with tracer.span("pass") as pass_span:
        res = wl.run_pass()
    layers = dict(res.layers)
    layers.update(wl.probe_layers(spark, have=layers))
    wl.drop()
    tracer.spark = None
    sessions.stop()  # flushes and closes the event log

    figures, problems = spark_metrics(sessions.event_dir, tracer.run_id,
                                      tracer.descendants(pass_span),
                                      expect_python=wl.sends_to_python)
    layers.update(figures)
    tally.attempted += 1
    if problems:
        tally.fail("spark.event_log", "; ".join(problems))
    layers["session.start_s"] = start_s
    layers["trace.untraced_wall_s"] = untraced_s
    layers["trace.traced_wall_s"] = tracer.seconds(pass_span)
    layers["trace.overhead_s"] = tracer.seconds(pass_span) - untraced_s
    tracer.write(spans_path)
    return layers


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: no {PACKAGE} package next to {HERE}; run from a "
              "source checkout", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = spec["per_layer" if args.trace else "end_to_end"]

    base = os.path.join(ROOT, ".perfbench")
    os.makedirs(base, exist_ok=True)
    work = os.path.join(base, f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    prepare_environment(work)

    import inputs
    from tracing import Tracer
    from workloads import WORKLOADS, Tally

    run_id = f"{args.workload}-{args.seed}-{int(time.time())}"
    tracer = Tracer(run_id)
    tally = Tally()
    wl = WORKLOADS[args.workload](args.seed, inputs.SCALES[args.scale], work, tracer, tally)
    sessions = Sessions(work)
    try:
        if args.trace:
            spans_path = os.path.join(base, "spans", f"{run_id}.jsonl")
            figures = trace(wl, sessions, tracer, tally, spans_path)
            named = {"spans_file": spans_path}
        else:
            figures, named = measure(wl, sessions, args.seconds)
    finally:
        sessions.close()
        shutil.rmtree(work, ignore_errors=True)

    for p in tally.problems:
        print(f"FAILED {p}", file=sys.stderr)
    figures = {k: v for k, v in figures.items() if v is not None and math.isfinite(v)}
    missing = [m["name"] for m in wanted if m["name"] not in figures]
    if missing:
        print(f"perfbench: not measured: {missing}", file=sys.stderr)
        return 3
    units = {m["name"]: m["unit"] for m in wanted}
    print(f"workload {args.workload}  seed {args.seed}  scale {args.scale}  "
          f"local[{sessions.cores}]")
    for name, value in sorted(figures.items()):
        print(f"  {name:34s} {value:16.6f} {units.get(name, '')}")
    for name, value in named.items():
        print(f"  {name:34s} {value}")
    print(f"  {'failed_ops_frac':34s} {tally.failed / max(tally.attempted, 1):16.6f} "
          f"({tally.failed} of {tally.attempted} operations)")
    result = {
        "correct": tally.failed == 0,
        "attempted": max(tally.attempted, 1),
        "failed": tally.failed,
        "metrics": {
            m["name"]: {"value": float(figures[m["name"]]), "unit": m["unit"]}
            for m in wanted
        },
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
