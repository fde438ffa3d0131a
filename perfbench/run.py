"""The repo benchmark: one command, one workload, one seed.

    python3 perfbench/run.py --workload battery --seed 1 --seconds 5 --trace 0

Runs from the root of a checkout of this repository. It starts one
Spark session on ``local[<nproc>]`` and drives it with one closed-loop
client: the next query or table operation starts only after the
previous one finished. The battery reads the engine's sf0.1 test tables,
kept under ``perfbench/data/``; the refresh inputs are generated from
the seed. Everything a run writes lands in a scratch root in the
checkout (``.perfbench_run/``), which is removed when the run ends, so
no run sees another run's state.

Workloads, metrics and the layer each per-layer metric should move are
listed in ``BENCHMARK.json`` and ``perfbench/spec.json``. The last line
of stdout is one JSON object::

    {"correct": bool, "attempted": int, "failed": int, "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer ones from a run with spans and counters on. A human-readable
summary goes to stderr.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "rearc_data_engineer_takehome_spark"
WORKLOADS = ("battery", "refresh")


def load_spec() -> dict:
    with open(os.path.join(HERE, "spec.json")) as f:
        return json.load(f)


class Context:
    """Per-run state shared by the workloads: arguments, the scratch
    root, the session and the tracer."""

    def __init__(self, args):
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.sf = args.sf
        self.cpus = len(os.sched_getaffinity(0))
        self.scratch = os.path.join(ROOT, ".perfbench_run", f"{os.getpid()}")
        self.spark = None
        self.tracer = None
        self.metrics: dict[str, tuple[float, str]] = {}
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.notes: dict = {}

    def path(self, *parts: str) -> str:
        return os.path.join(self.scratch, *parts)

    def put(self, name: str, value: float, unit: str) -> None:
        self.metrics[name] = (float(value), unit)

    def fail(self, what: str, err: object, times: int = 1) -> None:
        self.failed += times
        text = str(err) or repr(err)
        self.failures.append(f"{what}: {text.splitlines()[0][:300]}")

    def data_dir(self) -> str:
        """The battery's input tables at the run's scale factor."""
        return os.path.join(HERE, "data", f"sf{self.sf:g}")

    def start_session(self) -> float:
        """Start the Spark session; returns the seconds it took."""
        from rearc_data_engineer_takehome_spark.session import get_spark

        t0 = time.perf_counter()
        tmp = self.path("tmp")
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.enabled": "false",
            "spark.local.dir": self.path("spark-local"),
            "spark.sql.warehouse.dir": self.path("warehouse"),
            "spark.driver.memory": "3g",
            # the whole heap resident from the start: G1 otherwise grows
            # it by GC-time goals, and peak_rss_mb moved by a third
            # between runs of the same inputs
            "spark.driver.extraJavaOptions":
                f"-Xms3g -XX:+AlwaysPreTouch -XX:ReservedCodeCacheSize=512m -XX:-UsePerfData "
                f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
        }
        if self.trace:
            # keep every job, stage and SQL execution for post-run resolution
            conf.update({
                "spark.ui.retainedJobs": "1000000",
                "spark.ui.retainedStages": "1000000",
                "spark.ui.retainedTasks": "1000",
                "spark.sql.ui.retainedExecutions": "1000000",
            })
        self.spark = get_spark(app_name="perfbench", master=f"local[{self.cpus}]",
                               shuffle_partitions=self.cpus, extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        return time.perf_counter() - t0

    def _driver_pids(self) -> list:
        from pyspark import SparkContext

        proc = getattr(SparkContext._gateway, "proc", None)
        return ["self"] + ([proc.pid] if proc is not None else [])

    def reset_peak_rss(self) -> None:
        """Restart the peak-RSS high-water mark of the Python driver and
        the gateway JVM, so set-up does not count towards ``peak_rss_mb``."""
        for pid in self._driver_pids():
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")

    def record_peak_rss(self) -> None:
        """``peak_rss_mb``: peak resident memory (VmHWM) of the Python
        driver plus the gateway JVM since ``reset_peak_rss``."""
        peaks = {}
        for pid in self._driver_pids():
            with open(f"/proc/{pid}/status") as f:
                peaks[pid] = next(int(x.split()[1]) for x in f if x.startswith("VmHWM:")) / 1024.0
        self.put("peak_rss_mb", sum(peaks.values()), "MB")
        self.notes["peak_rss_mb"] = {"python": round(peaks.pop("self"), 1),
                                     "jvm": round(sum(peaks.values()), 1)}

    def stop_session(self) -> None:
        """Stop Spark and wait for the gateway JVM to exit."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                if proc.stdin:
                    proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(timeout=30)
            SparkContext._gateway = None
            SparkContext._jvm = None


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--sf", type=float, default=0.1, choices=(0.1, 0.001),
                   help="scale factor of the inputs (smoke tests use 0.001)")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")) or not os.path.isfile(
        os.path.join(ROOT, "tests", "oracle.py")
    ):
        print(f"perfbench: {PACKAGE}/ and tests/oracle.py not found under {ROOT}; "
              "run from a checkout of the repository", file=sys.stderr)
        return 2

    # Python workers must import the package, whatever the caller's cwd
    os.chdir(ROOT)
    sys.path[:0] = [ROOT, HERE]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    ctx = Context(args)
    os.makedirs(ctx.path("tmp"), exist_ok=True)
    # every tempfile the engine makes (result cache, scratch tables,
    # checkpoints) lands in this run's scratch root
    os.environ["TMPDIR"] = ctx.path("tmp")
    import tempfile

    tempfile.tempdir = ctx.path("tmp")

    spec = load_spec()
    try:
        if args.workload == "refresh":
            import refresh

            refresh.run(ctx, spec)
        else:
            import battery

            battery.run(ctx, spec)
    finally:
        try:
            if ctx.tracer is not None:
                ctx.tracer.close()
            ctx.stop_session()
        finally:
            shutil.rmtree(ctx.scratch, ignore_errors=True)
            parent = os.path.dirname(ctx.scratch)
            if os.path.isdir(parent) and not os.listdir(parent):
                os.rmdir(parent)

    ctx.put("ok_frac", 1.0 - ctx.failed / max(1, ctx.attempted), "ratio")
    # a traced run's wall time minus an untraced one's is the tracing overhead
    ctx.notes["wall_s"] = round(ctx.metrics["wall_s"][0], 3)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    per_layer = bench["per_layer"]
    wanted = [m["name"] for m in bench["per_layer" if ctx.trace else "end_to_end"]]
    if ctx.trace:
        # layers a workload does not exercise report zero work
        for m in per_layer:
            ctx.metrics.setdefault(m["name"], (0.0, m["unit"]))
    missing = [n for n in wanted if n not in ctx.metrics]
    if missing:
        print(f"perfbench: metrics not measured: {missing}", file=sys.stderr)
        return 3
    for line in ctx.failures:
        print(f"perfbench: FAILED {line}", file=sys.stderr)
    print(json.dumps({"workload": args.workload, "seed": args.seed, **ctx.notes},
                     sort_keys=True), file=sys.stderr)
    print(json.dumps({
        "correct": ctx.failed == 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": {n: {"value": ctx.metrics[n][0], "unit": ctx.metrics[n][1]} for n in wanted},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
