"""The ``battery`` workload: read-only registry queries.

The queries read the engine's sf0.1 test tables, kept under
``perfbench/data/`` so the benchmark reads nothing outside its
checkout. Membership is frozen by name in ``spec.json``: a systematic
sample, over cost rank, of the queries that fire at least ten Spark
jobs per call (graph iterations, dedup/LSH, ANN, two-pass quantiles,
calibration; class ``iterative``) and of those with one plan and a
short action (class ``oneshot``).

Set-up starts the session and runs every member once, untimed, exactly
as the timed pass does. Then, outside every figure, each member runs
once more and ``tests.oracle.compare`` checks it against its DuckDB
oracle; that pass is also the second warm-up, and without one the
first timed pass ran about twice as long as the passes after it. A
timed pass over the members is one unit of work. A query is timed from
``q.spark()`` through a ``noop``-format write: ``count()`` would let
Spark prune every projection it does not need, which is where much of
the work of the text and UDF queries sits.
"""

from __future__ import annotations

import random
import statistics
import time
from collections import Counter

from tests.oracle import compare, duckdb_conn
from tracing import Tracer, percentile, self_times


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _unpersist_all(jsc) -> None:
    # iterative queries checkpoint intermediates; nothing re-reads a
    # finished query's blocks, and keeping them would tax later queries
    for rdd in jsc.getPersistentRDDs().values():
        rdd.unpersist()


def run(ctx, spec) -> None:
    from rearc_data_engineer_takehome_spark.queries import REGISTRY

    members = spec["battery"]["members"]
    order = list(members)
    random.Random(ctx.seed).shuffle(order)
    data = ctx.data_dir()

    # --- setup: session and a cold pass ---------------------------------
    t_setup = time.perf_counter()
    session_s = ctx.start_session()
    spark = ctx.spark
    jsc = spark.sparkContext._jsc
    for name in order:
        try:
            _noop(REGISTRY[name].spark(spark, data))
        except Exception:  # the check and the timed pass record it
            pass
        _unpersist_all(jsc)
    ctx.put("setup_s", time.perf_counter() - t_setup, "s")

    # --- check, outside every figure; it is also the second warm-up pass
    t_check = time.perf_counter()
    wrong: dict[str, str] = {}
    con = duckdb_conn(data)
    for name in order:
        try:
            res = compare(REGISTRY[name].spark(spark, data), con, REGISTRY[name].oracle)
            if not res["values_match"]:
                wrong[name] = f"differs from its oracle: {res}"
        except Exception as e:
            wrong[name] = f"check raised {e!r}"
        _unpersist_all(jsc)
    con.close()
    ctx.notes["check_s"] = round(time.perf_counter() - t_check, 3)
    ctx.reset_peak_rss()
    ctx.tracer = tracer = Tracer(spark, ctx.trace)

    # --- measure: closed loop over the seeded order ----------------------
    latencies: list[float] = []
    unit_walls: list[float] = []
    runs: Counter = Counter()
    while not unit_walls or sum(unit_walls) < ctx.seconds:
        unit_start = time.perf_counter()
        hygiene = 0.0
        for name in order:
            ctx.attempted += 1
            try:
                with tracer.span("query", query=name) as s:
                    with tracer.span("queries.construct"):
                        df = REGISTRY[name].spark(spark, data)
                    with tracer.span("spark.execute"):
                        _noop(df)
                latencies.append(s.seconds)
                runs[name] += 1
            except Exception as e:  # one broken query must not void the run
                ctx.fail(name, f"raised {e!r}")
            h0 = time.perf_counter()
            _unpersist_all(jsc)
            hygiene += time.perf_counter() - h0
        unit_walls.append(time.perf_counter() - unit_start - hygiene)
    ctx.record_peak_rss()
    # a wrong answer fails every timed run of its query
    for name, problem in wrong.items():
        if runs[name]:
            ctx.fail(name, problem, times=runs[name])

    ctx.put("wall_s", statistics.median(unit_walls), "s")
    ctx.put("query_p50_s", percentile(latencies, 0.5), "s")
    ctx.put("query_p90_s", percentile(latencies, 0.9), "s")
    ctx.notes["unit_walls_s"] = [round(x, 3) for x in unit_walls]
    ctx.notes.update({
        "queries": len(order), "units": len(unit_walls), "samples": len(latencies),
        "session_s": round(session_s, 3),
    })
    if tracer.enabled:
        _layer_metrics(ctx, tracer, session_s, members)


def _layer_metrics(ctx, tracer, session_s, members) -> None:
    spans = tracer.spans
    queries = [s for s in spans if s.name == "query"]
    n = max(1, len(queries))
    self_s = self_times(spans)
    construct = [s for s in spans if s.name == "queries.construct"]
    executes = [s for s in spans if s.name == "spark.execute"]
    ctx.put("session.start_s", session_s, "s")
    ctx.put("queries.construct_s", self_s.get("queries.construct", 0.0), "s")
    ctx.put("queries.construct_jobs", sum(s.jobs[1] - s.jobs[0] for s in construct), "count")
    ctx.put("queries.construct_py4j_calls", sum(s.py4j for s in construct), "count")
    plan_s = tracer.planning_s(executes)
    ctx.put("spark.plan_s", plan_s, "s")
    ctx.put("spark.execute_s", self_s.get("spark.execute", 0.0) - plan_s, "s")
    sm = tracer.spark_metrics(queries)
    pm = tracer.python_metrics(construct + executes)
    for name, unit in SPARK_METRICS:
        ctx.put(name, sm.get(name, 0.0), unit)
    for name, unit in PYTHON_METRICS:
        ctx.put(name, pm.get(name, 0.0), unit)
    ctx.put("py4j.calls_per_query", sum(s.py4j for s in queries) / n, "count")
    for cls in ("iterative", "oneshot"):
        ctx.put(f"queries.{cls}_s", sum(s.seconds for s in queries
                                        if members[s.attrs["query"]]["class"] == cls), "s")


SPARK_METRICS = (
    ("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
    ("spark.driver_only_s", "s"), ("spark.executor_run_s", "s"),
    ("spark.executor_cpu_s", "s"), ("spark.gc_s", "s"),
    ("spark.shuffle_read_bytes", "bytes"), ("spark.shuffle_write_bytes", "bytes"),
    ("spark.input_bytes", "bytes"),
)
PYTHON_METRICS = (
    ("python.rows_to_workers", "count"), ("python.bytes_to_workers", "bytes"),
    ("python.bytes_from_workers", "bytes"), ("python.worker_run_s", "s"),
)
