"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of the checkout whose program is measured. Workloads are listed in BENCHMARK.json;
``analytics_sf0.1`` is also accepted for manual runs (see NOTES.md). With
``--trace 0`` the run is timed with tracing off and reports the end-to-end
metrics; with ``--trace 1`` it runs a fixed sequence untraced and traced
and reports the per-layer metrics of the traced one. The last line
of standard output is the result object; the line before it holds the
details (per-operation medians, environment, failures). Exits 1 when any
operation failed or returned a wrong result, 2 when the program under test
or the fixture set is missing.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import sys
import time

# The program under test is the checkout the run starts in; the workload
# definitions (BENCHMARK.json) sit beside this benchmark, so ab.py can run
# one benchmark against two checkouts.
ROOT = os.getcwd()
SPEC = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCHMARK.json")
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
DRIVER_MEM = "3g"
# Fixed heap layout, so that peak RSS and GC pauses follow the program's
# allocation rather than timing: the heap committed at its maximum from the
# start (no resizing), a fixed young generation (G1 otherwise resizes it
# after every pause to meet its pause-time goal) and old-generation marking
# started at a fixed occupancy instead of a predicted one.
JVM_HEAP_OPTS = (
    f"-Xms{DRIVER_MEM} -Xmn512m -XX:-G1UseAdaptiveIHOP -XX:InitiatingHeapOccupancyPercent=45"
)
# Analytics workloads name the fixture set they read; the store workload none.
WORKLOADS = {"analytics_sf0.01": "sf0.01", "analytics_sf0.1": "sf0.1", "versioned_oltp": None}
FIXTURES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures")


def pin_environment() -> dict[str, str]:
    """Set, before Spark starts, everything the program reads from the
    environment, and keep every file the run writes inside the checkout."""
    tmp = os.path.join(WORK, "tmp")
    for scratch in (tmp, os.path.join(WORK, "spark-local")):
        shutil.rmtree(scratch, ignore_errors=True)  # left by an earlier run
    os.makedirs(tmp)
    pins = {
        # the session default of 32 cores oversubscribes small machines
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        # the session default heap (24g) can exceed physical memory
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        # Python workers unpickle the versioned DataSource from the package
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
        "SPARK_GRAFT_WAREHOUSE": os.path.join(WORK, "warehouse"),
        "TMPDIR": tmp,
        # glibc otherwise gives threads up to 8 malloc arenas per core, and
        # how many get touched depends on thread timing
        "MALLOC_ARENA_MAX": "2",
        "PYSPARK_SUBMIT_ARGS": " ".join(
            [
                "--driver-java-options",
                shlex.quote(f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData {JVM_HEAP_OPTS}"),
                "--conf spark.ui.showConsoleProgress=false",
                "pyspark-shell",
            ]
        ),
    }
    os.environ.update(pins)
    return pins


class Context:
    """What a workload needs from the harness: its arguments, the session,
    set-up timing and the tracer."""

    def __init__(self, args, spec: dict):
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.root = ROOT
        self.work = WORK
        self.spec = spec
        self.spark = None
        self.start_s = 0.0
        self.setup_s = 0.0
        self._t_start = 0.0

    def start_session(self):
        from db_core_spark.registry import all_queries
        from db_core_spark.session import get_spark

        self._t_start = time.perf_counter()
        self.spark = get_spark("perfbench")
        self.start_s = time.perf_counter() - self._t_start
        return self.spark, all_queries()

    def mark_setup(self, excluded_s: float = 0.0) -> None:
        """Set-up ends now; ``excluded_s`` is time spent on the benchmark's
        own checks, not on the program."""
        self.setup_s = time.perf_counter() - self._t_start - excluded_s

    def tracer(self):
        from spans import Tracer

        self._tracer = Tracer(self.spark, True)
        return self._tracer

    def no_tracer(self):
        from spans import Tracer

        return Tracer(self.spark, False)

    def layer_metrics(self, tracer, overhead_s: float) -> dict:
        """The per-layer metrics every workload shares; layers a workload
        does not use read 0."""
        from spans import STAGE_FIELDS

        m = {item["name"]: 0 for item in self.spec["per_layer"]}
        m["session.start_s"] = self.start_s
        m["session.warmup_s"] = self.setup_s - self.start_s
        for s in tracer.spans:
            if s["name"] in ("build", "action"):
                m[f"ops.{s['name']}_s"] += s["end"] - s["start"]
        for op in tracer.ops():
            c = op["counts"]
            for k in ("jobs", "stages", "driver_gap_s", *STAGE_FIELDS):
                m[f"spark.{k}"] += c[k]
            m["pyworkers.bytes_sent"] += c["py_bytes_sent"]
            m["pyworkers.bytes_returned"] += c["py_bytes_returned"]
        m["trace.overhead_s"] = overhead_s
        return m


def _stop(spark) -> float:
    """Stop Spark and its JVM, wait for it to exit; returns the peak RSS in
    MB of this process plus the JVM."""
    from pyspark import SparkContext

    from measure import vm_hwm_mb

    gateway = SparkContext._gateway
    proc = gateway.proc
    rss = vm_hwm_mb(os.getpid()) + vm_hwm_mb(proc.pid)
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()  # the JVM exits when its stdin closes
    proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None  # a later session launches a new JVM
    return rss


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--data",
        help="fixture set an analytics workload reads (default: fixtures/<scale> here; "
        "sf0.1 has no copy there, so analytics_sf0.1 needs this)",
    )
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "db_core_spark")):
        print(f"perfbench: no db_core_spark package in {ROOT}; run from a checkout", file=sys.stderr)
        return 2
    scale = WORKLOADS[args.workload]
    sf_dir = args.data or (scale and os.path.join(FIXTURES, scale))
    if scale and not os.path.isfile(os.path.join(sf_dir, "lineitem.parquet")):
        print(f"perfbench: no fixture set at {sf_dir}", file=sys.stderr)
        return 2
    with open(SPEC) as fh:
        spec = json.load(fh)
    pins = pin_environment()
    sys.path.insert(0, ROOT)

    import analytics
    import oltp

    ctx = Context(args, spec)
    try:
        res = analytics.run(ctx, sf_dir) if scale else oltp.run(ctx)
    finally:
        rss = _stop(ctx.spark) if ctx.spark is not None else 0.0
    metrics = res["metrics"]
    if args.trace:
        ctx._tracer.write(os.path.join(WORK, f"spans-{args.workload}-{args.seed}.json"))
    else:
        metrics["setup_s"] = ctx.setup_s
        metrics["peak_rss_mb"] = rss
    wanted = spec["per_layer" if args.trace else "end_to_end"]
    missing = {m["name"] for m in wanted} - set(metrics)
    if missing:
        raise RuntimeError(f"workload did not produce {sorted(missing)}")
    pins["nproc"] = str(os.cpu_count())
    print(json.dumps({"workload": args.workload, "seed": args.seed, "env": pins, "detail": res["detail"]}))
    print(
        json.dumps(
            {
                "correct": res["failed"] == 0,
                "attempted": res["attempted"],
                "failed": res["failed"],
                "metrics": {
                    m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]} for m in wanted
                },
            }
        )
    )
    return 0 if res["failed"] == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
