"""The ``refresh`` workload: the reference pipeline, then table writes.

One unit of work is:

1. ``run_pipeline``: ``mirror_sync`` (BLS files) ∥ ``snapshot_with_fallback``
   (population) → ``analytics_job``, whose callable also publishes the
   three curated tables and the parsed BLS silver table with
   ``write_delta``;
2. a second ``mirror_sync`` against a seeded upstream change (files
   updated, added and removed);
3. the seeded operation stream on the silver table: appends, DV
   deletes, updates, merges, compactions and checkpoints, interleaved
   with time-travel, filtered and change-feed reads.

Upstream files are served by an in-process ``fetch`` callable. Set-up
runs one whole unit, untimed. After the timed units, and outside every
figure, every output of the first timed unit is checked against a
DuckDB model fed the same generated inputs and the same operations.
"""

from __future__ import annotations

import json
import os
import statistics
import time

import pyarrow as pa

from datagen import BLS_BASE, FOCUS_SERIES, POP_URL, refresh_inputs
from tracing import Tracer, percentile

SCHEMA = "series_id string, year int, period string, value double"
KEYS = ["series_id", "year", "period"]
WRITE_OPS = {"append": "write_delta", "delete": "delta_delete", "update": "delta_update",
             "merge": "delta_merge_upsert", "compact": "delta_compact",
             "checkpoint": "write_checkpoint"}
READ_OPS = {"read_version": "read_delta", "read_filtered": "read_delta",
            "read_changes": "read_delta_changes"}


class Upstream:
    """In-process stand-in for the BLS directory and the population API."""

    def __init__(self, files: dict[str, bytes], population: bytes):
        self.files, self.population = files, population
        self.bytes_served = 0

    def listing(self) -> bytes:
        rows = "".join(f'<A HREF="/pub/time.series/pr/{n}">{n}</A><br>\n' for n in sorted(self.files))
        return f"<html><body>{rows}</body></html>".encode()

    def fetch(self, url: str) -> bytes:
        if url == POP_URL:
            data = self.population
        elif url == BLS_BASE:
            data = self.listing()
        elif url.startswith(BLS_BASE) and url[len(BLS_BASE):] in self.files:
            data = self.files[url[len(BLS_BASE):]]
        else:
            raise FileNotFoundError(url)
        self.bytes_served += len(data)
        return data


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _tree_bytes(root: str) -> dict[str, int]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            out[p] = os.path.getsize(p)
    return out


class Unit:
    """One pipeline run plus one operation stream, under its own root."""

    def __init__(self, ctx, inputs, root: str):
        from rearc_data_engineer_takehome_spark import pipeline
        from rearc_data_engineer_takehome_spark.sources import delta_log, mirror

        self.ctx, self.inputs, self.root = ctx, inputs, root
        self.spark, self.tracer = ctx.spark, ctx.tracer
        self.pipeline, self.delta_log, self.mirror = pipeline, delta_log, mirror
        self.bronze = os.path.join(root, "bronze", "bls")
        self.pop_path = os.path.join(root, "bronze", "population", "latest.json")
        self.tables = os.path.join(root, "tables")
        self.silver = os.path.join(self.tables, "bls_silver")
        self.upstream = Upstream(dict(inputs.files), inputs.population)
        self.op_ms: dict[str, list[float]] = {}
        self.read_ms: list[float] = []
        self.commit_ms: list[float] = []
        self.latencies: list[float] = []
        self.versions: dict[int, int] = {}  # op index -> head version after it
        self.reads: list[tuple] = []  # (op index, kind, version(s), DataFrame)
        self.user_bytes = 0
        self.done = False  # the whole unit ran
        self.reports = []
        self.result: dict = {}
        self.ingest: list[tuple[float, float]] = []  # (start, end) of A and B

    # --- step 1: A ∥ B → C + publish ------------------------------------
    def run_pipeline(self) -> dict:
        t, dl = self.tracer, self.delta_log

        def ingest_a():
            with t.span("mirror.sync") as s:
                rep = self.mirror.mirror_sync(BLS_BASE, self.bronze, self.upstream.fetch,
                                              file_prefix="pr.")
            self.ingest.append((s.start, s.end))
            self.reports.append(rep)
            return {"uploaded": len(rep.uploaded), "_status": rep.status}

        def ingest_b():
            with t.span("mirror.snapshot") as s:
                snap = self.mirror.snapshot_with_fallback(POP_URL, self.pop_path,
                                                          self.upstream.fetch)
            self.ingest.append((s.start, s.end))
            return {"mode": snap.mode, "bytes": snap.n_bytes}

        def analytics():
            with t.span("pipeline.analytics"):
                outputs = self.pipeline.analytics_job(self.spark, self.bronze, self.pop_path)
                for name, df in outputs.items():
                    with t.span("delta_log.publish"):
                        dl.write_delta(df, os.path.join(self.tables, name))
                with t.span("delta_log.publish"):
                    silver = self.pipeline.parse.read_and_parse_bls(self.spark, self.bronze)
                    dl.write_delta(silver, self.silver, stats_cols=KEYS)
                    dl.delta_alter_properties(self.spark, self.silver,
                                              {"delta.enableChangeDataFeed": "true"})
            return {"tables": len(outputs) + 1}

        with t.span("pipeline.run_pipeline") as s:
            self.result = self.pipeline.run_pipeline(ingest_a, ingest_b, analytics)
        self.latencies.append(s.seconds)
        return self.result

    # --- step 2: upstream change ----------------------------------------
    def resync(self):
        self.upstream.files = dict(self.inputs.files_v2)
        with self.tracer.span("mirror.sync", step="resync") as s:
            rep = self.mirror.mirror_sync(BLS_BASE, self.bronze, self.upstream.fetch,
                                          file_prefix="pr.")
        self.latencies.append(s.seconds)
        self.reports.append(rep)
        return rep

    # --- step 3: the operation stream ------------------------------------
    def head(self) -> int:
        return self.delta_log.list_delta_versions(self.silver)[-1]

    def stream(self) -> None:
        spark, dl, t = self.spark, self.delta_log, self.tracer
        v0 = self.versions[-1] = self.head()
        for i, op in enumerate(self.inputs.ops):
            kind = op["op"]
            fn = WRITE_OPS.get(kind) or READ_OPS[kind]
            head = self.versions[i - 1]
            rows = None
            if kind in ("append", "merge"):
                rows = spark.createDataFrame([tuple(r) for r in op["rows"]], SCHEMA)
            self.ctx.attempted += 1
            try:
                with t.span(f"delta_log.{fn}", op=kind) as s:
                    if kind == "append":
                        dl.write_delta(rows, self.silver, mode="append", stats_cols=KEYS)
                    elif kind == "delete":
                        dl.delta_delete(spark, self.silver, op["predicate"])
                    elif kind == "update":
                        dl.delta_update(spark, self.silver, op["predicate"],
                                        {"value": f"value + {op['delta']}"})
                    elif kind == "merge":
                        dl.delta_merge_upsert(spark, self.silver, rows, KEYS)
                    elif kind == "compact":
                        dl.delta_compact(spark, self.silver, op["target_files"], stats_cols=KEYS)
                    elif kind == "checkpoint":
                        dl.write_checkpoint(self.silver)
                    elif kind == "read_version":
                        version = max(v0, head - op["back"])
                        df = dl.read_delta(spark, self.silver, version=version)
                        _noop(df)
                    elif kind == "read_filtered":
                        version = head
                        df = dl.read_delta(spark, self.silver).where(op["predicate"])
                        _noop(df)
                    else:
                        version = (min(max(v0, head - op["back"]), head - 1), head)
                        df = dl.read_delta_changes(spark, self.silver, *version)
                        _noop(df)
            except Exception as e:  # one failed operation must not void the run
                self.ctx.fail(f"op {i} {kind}", e)
                self.versions[i] = self.head()
                continue
            ms = s.seconds * 1e3
            self.latencies.append(s.seconds)
            self.op_ms.setdefault(fn, []).append(ms)
            if kind in READ_OPS:
                self.read_ms.append(ms)
                self.reads.append((i, kind, version, df))
            else:
                self.commit_ms.append(ms)
            self.versions[i] = self.head()


# ---------------------------------------------------------------------------
# the DuckDB model and the checks
# ---------------------------------------------------------------------------


class Model:
    """The silver table replayed in DuckDB, one snapshot per version."""

    def __init__(self, inputs):
        import duckdb

        self.con = duckdb.connect()
        self._load("silver", [r for name in sorted(inputs.rows) for r in inputs.rows[name]])
        self.con.execute("CREATE TABLE bls AS SELECT * FROM silver")
        pop = pa.table({"Year": pa.array([y for y, _ in inputs.population_rows], pa.int32()),
                        "Population": [p for _, p in inputs.population_rows]})
        self.con.register("pop_in", pop)
        self.con.execute("CREATE TABLE pop AS SELECT * FROM pop_in")
        self.snapshots: dict[int, str] = {}

    def _load(self, table: str, rows: list, create: bool = True) -> None:
        cols = list(zip(*rows)) if rows else [[], [], [], []]
        batch = pa.table({
            "series_id": pa.array(cols[0], pa.string()), "year": pa.array(cols[1], pa.int32()),
            "period": pa.array(cols[2], pa.string()), "value": pa.array(cols[3], pa.float64()),
        })
        self.con.register("rows_in", batch)
        self.con.execute(f"CREATE OR REPLACE TABLE {table} AS SELECT * FROM rows_in" if create
                         else f"INSERT INTO {table} SELECT * FROM rows_in")
        self.con.unregister("rows_in")

    def snapshot(self, version: int) -> None:
        if version not in self.snapshots:
            self.snapshots[version] = f"v{version}"
            self.con.execute(f"CREATE TABLE v{version} AS SELECT * FROM silver")

    def apply(self, op: dict) -> int:
        """Apply one write; returns the bytes of user rows it carried."""
        kind, c = op["op"], self.con
        if kind == "append":
            self._load("silver", op["rows"], create=False)
            return _rows_bytes(op["rows"])
        if kind == "delete":
            c.execute(f"DELETE FROM silver WHERE {op['predicate']}")
            return 0
        if kind == "update":
            changed = c.execute(f"SELECT * FROM silver WHERE {op['predicate']}").fetchall()
            c.execute(f"UPDATE silver SET value = value + {op['delta']} WHERE {op['predicate']}")
            return _rows_bytes(changed)
        if kind == "merge":
            self._load("upd", op["rows"])
            c.execute("DELETE FROM silver USING upd WHERE silver.series_id = upd.series_id "
                      "AND silver.year = upd.year AND silver.period = upd.period")
            c.execute("INSERT INTO silver SELECT * FROM upd")
            return _rows_bytes(op["rows"])
        return 0  # compact / checkpoint change no rows

    def version_sql(self, version: int) -> str:
        # a version no operation ended on (a protocol-upgrade commit
        # inside one operation) holds the rows of the one before it
        return f"SELECT * FROM {self.snapshots[max(v for v in self.snapshots if v <= version)]}"

    def fingerprint(self, version: int, predicate: str | None) -> tuple:
        where = f" WHERE {predicate}" if predicate else ""
        n, v, y = self.con.execute(
            f"SELECT count(*), sum(round(value * 10)), sum(year) "
            f"FROM ({self.version_sql(version)}){where}").fetchone()
        return n, round(v or 0), y or 0

    def diff(self, left: str, right: str) -> int:
        """Rows in one multiset and not the other, values to 6 decimals."""
        norm = "SELECT series_id, year, period, round(value, 6) FROM ({})"
        a, b = norm.format(left), norm.format(right)
        return self.con.execute(
            f"SELECT (SELECT count(*) FROM ({a} EXCEPT ALL {b})) + "
            f"(SELECT count(*) FROM ({b} EXCEPT ALL {a}))").fetchone()[0]


def _rows_bytes(rows) -> int:
    # one row as the engine holds it: two strings, an int and a double
    return sum(len(r[0]) + 4 + len(r[2]) + 8 for r in rows)


CURATED_SQL = {
    "population_stats": """
        SELECT round(avg(Population), 3) AS mean_population,
               round(stddev_samp(Population), 3) AS stddev_population
        FROM pop WHERE Year BETWEEN 2013 AND 2018""",
    "bls_best_year_by_series": """
        SELECT series_id, year AS best_year, round(s, 3) AS summed_value FROM (
          SELECT series_id, year, s, row_number() OVER (
            PARTITION BY series_id ORDER BY s DESC, year ASC) AS rn
          FROM (SELECT series_id, year, sum(value) AS s FROM bls GROUP BY 1, 2))
        WHERE rn = 1""",
    f"report_{FOCUS_SERIES.lower()}_q01": f"""
        SELECT b.year, b.series_id, b.period, b.value, p.Population AS population
        FROM bls b LEFT JOIN pop p ON p.Year = b.year
        WHERE b.series_id = '{FOCUS_SERIES}' AND b.period = 'Q01'""",
}
ROUNDED = {"mean_population", "stddev_population", "summed_value"}


def check(ctx, unit: Unit) -> None:
    """Every output of the unit against the DuckDB model of its inputs;
    a mismatch is a failed operation."""
    try:
        _check(ctx, unit, Model(unit.inputs))
    except Exception as e:
        ctx.fail("checks", f"raised {e!r}")


def _check(ctx, unit: Unit, model: Model) -> None:
    import pyspark.sql.functions as F

    from tests.oracle import compare

    fail = ctx.fail

    # the three curated answers
    for name, sql in CURATED_SQL.items():
        df = unit.delta_log.read_delta(unit.spark, os.path.join(unit.tables, name))
        df = df.select(*[F.round(c, 3).alias(c) if c in ROUNDED else F.col(c) for c in df.columns])
        res = compare(df, model.con, sql)
        if not res["values_match"]:
            fail(f"curated {name}", f"mismatch {res.get('first_diffs', res)}")

    # the mirror: first sync uploads everything, the second applies the change
    first, second = unit.reports[0], unit.reports[1]
    v1, v2 = set(unit.inputs.files), set(unit.inputs.files_v2)
    changed = {n for n in v1 & v2 if unit.inputs.files[n] != unit.inputs.files_v2[n]}
    if sorted(first.uploaded) != sorted(v1):
        fail("mirror first sync", f"uploaded {first.uploaded}")
    if (sorted(second.uploaded), sorted(second.updated), sorted(second.deleted)) != (
            sorted(v2 - v1), sorted(changed), sorted(v1 - v2)):
        fail("mirror second sync", second.to_dict())

    # replay the stream into the model, one snapshot per version
    dl = unit.delta_log
    model.snapshot(unit.versions[-1])
    for i, op in enumerate(unit.inputs.ops):
        if op["op"] in WRITE_OPS:
            unit.user_bytes += model.apply(op)
        model.snapshot(unit.versions[i])

    # every read the stream made, by count and a value fingerprint
    fingerprint = [F.count("*"), F.sum(F.round(F.col("value") * 10)), F.sum("year")]
    for i, kind, version, df in unit.reads:
        if kind == "read_changes":
            continue  # the change feed is checked in full below
        got = df.agg(*fingerprint).first()
        want = model.fingerprint(version, unit.inputs.ops[i].get("predicate"))
        if (got[0], round(got[1] or 0), got[2] or 0) != want:
            fail(f"op {i} {kind}", f"got {tuple(got)} want {want}")

    # final state, one older version, and the change feed between them
    head = unit.versions[len(unit.inputs.ops) - 1]
    older = unit.versions[len(unit.inputs.ops) // 2 - 1]
    for label, version in (("final state", head), ("older version", older)):
        model.con.register("got", _arrow(dl.read_delta(unit.spark, unit.silver, version=version)))
        diff = model.diff("SELECT * FROM got", model.version_sql(version))
        if diff:
            fail(f"silver {label} v{version}", f"{diff} rows differ from the model")
    feed = dl.read_delta_changes(unit.spark, unit.silver, older, head)
    model.con.register("feed", feed.select(*COLS, "_change_type").toArrow())
    # older + inserts + post-images - deletes - pre-images must be head
    added = "SELECT * EXCLUDE (_change_type) FROM feed WHERE _change_type IN ('insert', 'update_postimage')"
    dropped = "SELECT * EXCLUDE (_change_type) FROM feed WHERE _change_type IN ('delete', 'update_preimage')"
    replayed = (f"(SELECT * FROM ({model.version_sql(older)}) UNION ALL {added}) "
                f"EXCEPT ALL {dropped}")
    diff = model.diff(replayed, model.version_sql(head))
    if diff:
        fail("silver change feed", f"v{older}..v{head}: {diff} rows differ after replaying the feed")


COLS = ("series_id", "year", "period", "value")


def _arrow(df):
    return df.select(*COLS).toArrow()


# ---------------------------------------------------------------------------
# the workload
# ---------------------------------------------------------------------------


def _warm(ctx, inputs) -> None:
    """Run one whole unit on the run's inputs, untimed and unchecked."""
    unit = Unit(ctx, inputs, ctx.path("warm"))
    unit.run_pipeline()
    unit.resync()
    unit.stream()
    ctx.attempted = ctx.failed = 0
    ctx.failures.clear()


def run(ctx, spec) -> None:
    size = dict(spec["refresh"])
    # --sf scales the BLS input relative to the benchmark's 0.1 (smoke tests)
    size["series_per_file"] = max(5, round(size["series_per_file"] * ctx.sf / 0.1))
    t_setup = time.perf_counter()
    inputs = refresh_inputs(ctx.seed, **size)
    session_s = ctx.start_session()
    ctx.tracer = Tracer(ctx.spark, False)
    t_warm = time.perf_counter()
    _warm(ctx, inputs)
    ctx.notes["warm_s"] = round(time.perf_counter() - t_warm, 3)
    ctx.put("setup_s", time.perf_counter() - t_setup, "s")
    ctx.reset_peak_rss()
    ctx.tracer = tracer = Tracer(ctx.spark, ctx.trace)
    if tracer.enabled:
        _count_replays(tracer)

    units, walls = [], []
    while not walls or sum(walls) < ctx.seconds:
        unit = Unit(ctx, inputs, ctx.path(f"unit{len(units)}"))
        units.append(unit)
        t0 = time.perf_counter()
        ctx.attempted += 1
        result = unit.run_pipeline()
        if result["status"] != "success":
            ctx.fail("pipeline", result["tasks"])
            walls.append(time.perf_counter() - t0)
            unit.written = {}
            break
        ctx.attempted += 1
        unit.resync()
        t_pause = time.perf_counter()
        before = _tree_bytes(unit.silver)
        t_stream = time.perf_counter()
        unit.stream()
        end = time.perf_counter()
        walls.append(end - t0 - (t_stream - t_pause))
        unit.written = {p: n for p, n in _tree_bytes(unit.silver).items() if before.get(p) != n}
        unit.done = True
    ctx.record_peak_rss()

    # the checks, outside every figure; they are the same for every
    # unit of one seed, so the first unit is checked
    first = units[0]
    c0 = time.perf_counter()
    if first.done:
        check(ctx, first)
    ctx.notes["check_s"] = round(time.perf_counter() - c0, 3)

    ctx.put("wall_s", statistics.median(walls), "s")
    lat = [x for u in units for x in u.latencies]
    ctx.put("query_p50_s", percentile(lat, 0.5), "s")
    ctx.put("query_p90_s", percentile(lat, 0.9), "s")
    ctx.notes["latency_s"] = [round(x, 3) for x in first.latencies]
    ctx.notes["unit_walls_s"] = [round(x, 3) for x in walls]
    ctx.notes.update({"units": len(units), "samples": len(lat), "ops": len(inputs.ops),
                      "session_s": round(session_s, 3)})
    if tracer.enabled:
        _layer_metrics(ctx, tracer, units, first, session_s)


def _count_replays(tracer) -> None:
    """Count and time ``delta_log.replay``: every log read goes through it."""
    from rearc_data_engineer_takehome_spark.sources import delta_log

    replay = delta_log.replay

    def timed(*args, **kwargs):
        t0 = time.perf_counter()
        try:
            return replay(*args, **kwargs)
        finally:
            tracer.count("delta_log.replay_calls")
            tracer.count("delta_log.replay_ms", (time.perf_counter() - t0) * 1e3)

    delta_log.replay = timed


def _layer_metrics(ctx, tracer, units, first, session_s) -> None:
    spans = tracer.spans
    ctx.put("session.start_s", session_s, "s")
    pipelines = [s for s in spans if s.name == "pipeline.run_pipeline"]
    ops = [s for s in spans if s.name.startswith("delta_log.") and s.name != "delta_log.publish"]
    top = pipelines + ops + [s for s in spans if s.attrs.get("step") == "resync"]
    n_units = len(units)

    # spark and python workers, over every top-level operation
    from battery import PYTHON_METRICS, SPARK_METRICS

    sm = tracer.spark_metrics(top)
    pm = tracer.python_metrics(top)
    for name, unit in SPARK_METRICS:
        ctx.put(name, sm.get(name, 0.0), unit)
    for name, unit in PYTHON_METRICS:
        ctx.put(name, pm.get(name, 0.0), unit)
    ctx.put("py4j.calls_per_op", sum(s.py4j for s in top) / max(1, len(top)), "count")

    # mirror
    syncs = [s for s in spans if s.name == "mirror.sync"]
    ctx.put("mirror.sync_s", sum(s.seconds for s in syncs) / n_units, "s")
    ctx.put("mirror.bytes_fetched", sum(u.upstream.bytes_served for u in units) / n_units, "bytes")
    reps = [r for u in units for r in u.reports]
    ctx.put("mirror.files_changed",
            sum(len(r.uploaded) + len(r.updated) + len(r.deleted) for r in reps) / n_units, "count")
    ctx.put("mirror.files_listed",
            sum(len(r.uploaded) + len(r.updated) + len(r.skipped) for r in reps) / n_units, "count")

    # parse: lines in, typed rows out, for the published silver table
    bronze = ctx.spark.read.text(first.bronze)
    ctx.put("parse.rows_in", bronze.count(), "count")
    ctx.put("parse.rows_out",
            first.pipeline.parse.read_and_parse_bls(ctx.spark, first.bronze).count(), "count")

    # pipeline: A ∥ B is the union of the two ingest spans of a unit
    ctx.put("pipeline.run_s", sum(s.seconds for s in pipelines) / n_units, "s")
    ctx.put("pipeline.ingest_s", sum(max(e for _, e in u.ingest) - min(b for b, _ in u.ingest)
                                     for u in units if u.ingest) / n_units, "s")
    ctx.put("pipeline.analytics_s", sum(s.seconds for s in spans
                                        if s.name == "pipeline.analytics") / n_units, "s")
    ctx.put("pipeline.attempts", sum(t["attempts"] for u in units
                                     for t in u.result.get("tasks", {}).values()) / n_units, "count")

    # delta_log / dv
    for fn in sorted(set(WRITE_OPS.values()) | set(READ_OPS.values())):
        vals = [x for u in units for x in u.op_ms.get(fn, [])]
        ctx.put(f"delta_log.{fn}_ms", statistics.median(vals) if vals else 0.0, "ms")
    commit = [x for u in units for x in u.commit_ms]
    reads = [x for u in units for x in u.read_ms]
    ctx.put("delta_log.commit_p50_ms", percentile(commit, 0.5), "ms")
    ctx.put("delta_log.commit_p75_ms", percentile(commit, 0.75), "ms")
    ctx.put("delta_log.read_p50_ms", percentile(reads, 0.5), "ms")
    ctx.put("delta_log.jobs_per_op", sum(s.jobs[1] - s.jobs[0] for s in ops) / max(1, len(ops)), "count")
    ctx.put("delta_log.replay_calls", tracer.counters["delta_log.replay_calls"] / n_units, "count")
    ctx.put("delta_log.replay_ms", tracer.counters["delta_log.replay_ms"] / n_units, "ms")
    added = removed = 0
    log_bytes = dv_bytes = 0
    for u in units:
        for p, n in u.written.items():
            if "/_delta_log/" in p:
                log_bytes += n
                if p.endswith(".json"):
                    with open(p) as f:
                        for line in f:
                            action = json.loads(line)
                            added += "add" in action
                            removed += "remove" in action
            elif os.path.basename(p).startswith("deletion_vector"):
                dv_bytes += n
    written = sum(sum(u.written.values()) for u in units)
    ctx.put("delta_log.files_added", added / n_units, "count")
    ctx.put("delta_log.files_removed", removed / n_units, "count")
    ctx.put("delta_log.bytes_written", written / n_units, "bytes")
    ctx.put("delta_log.log_bytes", log_bytes / n_units, "bytes")
    ctx.put("dv.bytes_written", dv_bytes / n_units, "bytes")
    ctx.put("delta_log.write_amp", written / max(1, first.user_bytes * n_units), "ratio")
