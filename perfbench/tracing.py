"""Per-layer tracing for the traced run (``--trace 1``).

Spans come from the benchmark's own code: ``install_*_hooks`` wrap the
public functions of each engine layer at run time (nothing under
``incubator_horaedb_spark/`` is edited).  A span records its wall time and
the part of it its child spans cover, so a layer's self time is its wall
minus its children.  Each benchmark operation runs under its own Spark job
group; after the operation the tracer reads the Spark UI's REST API for
that group's jobs, stages, tasks and SQL executions (executor time, CPU,
GC, scheduler delay, bytes, spill, plan-node row counts, Python-worker
metrics) and the storage list for the cache.  The REST reads happen after
the operation's wall is taken, so they slow the traced run (reported as
the tracing overhead) but not the latencies it records.

Every per-layer metric is a mean per timed operation, except the ratios
(``*_per_read``, ``*_per_row_returned``, ``*_per_result_row``), the
session start and the overhead figures.
"""

from __future__ import annotations

import contextlib
import datetime
import json
import os
import time
import urllib.request
from collections import defaultdict

from harness import dir_bytes

_NULL = contextlib.nullcontext()


class NullTracer:
    """The untraced run: every hook is a no-op."""

    def op(self, kind):
        return _NULL

    def span(self, name):
        return _NULL

    def reset(self):
        pass

    def build(self, fn):
        return fn()


def make_tracer(enabled: int, spark):
    return Tracer(spark) if enabled else NullTracer()


def _epoch_ms(ts: str | None) -> int | None:
    """REST timestamps look like ``2026-10-17T03:20:00.123GMT`` (UTC)."""
    if not ts:
        return None
    from incubator_horaedb_spark.functions.timeutil import epoch_ms

    return epoch_ms(
        datetime.datetime.strptime(ts.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
    )


_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME = {"ms": 1.0, "s": 1000.0, "m": 60_000.0, "h": 3_600_000.0}


def _metric_value(text: str) -> float:
    """A SQL metric as the REST API renders it: ``1,234``, or for size and
    timing metrics ``total (min, med, max ...)\\n12.3 MiB (...)``.  Sizes
    come back in bytes, timings in ms."""
    line = text.split("\n", 1)[1] if "\n" in text else text
    parts = line.replace(",", "").split()
    if not parts:
        return 0.0
    try:
        v = float(parts[0])
    except ValueError:
        return 0.0
    if len(parts) > 1:
        unit = parts[1]
        if unit in _SIZE:
            return v * _SIZE[unit]
        if unit in _TIME:
            return v * _TIME[unit]
    return v


def _union_ms(intervals: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


class Tracer:
    """Spans and Spark counters per operation, summed over the timed
    operations since the last ``reset``."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        port = self.sc.uiWebUrl.rsplit(":", 1)[1]
        self.api = f"http://127.0.0.1:{port}/api/v1/applications/{self.sc.applicationId}"
        self.enabled = True
        self.stack: list[list] = []
        self.op_seq = 0
        self.sql_seen = 0
        self.actions: list[tuple[float, float, int]] = []  # wall ms, rows
        self.reset()

    def reset(self) -> None:
        self.sums: defaultdict[str, float] = defaultdict(float)
        self.n_ops = 0
        self.n_reads = 0
        self.op_wall_ms = 0.0
        self.op_children_ms = 0.0

    # --------------------------------------------------------------- spans --
    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled or not self.stack:
            yield
            return
        outer = any(s[0] == name for s in self.stack)
        entry = [name, time.perf_counter(), 0.0]
        self.stack.append(entry)
        try:
            yield
        finally:
            self.stack.pop()
            dur = (time.perf_counter() - entry[1]) * 1000.0
            self.stack[-1][2] += dur
            self.sums[f"{name}.self_ms"] += dur - entry[2]
            if not outer:
                self.sums[f"{name}.ms"] += dur
            self.sums[f"{name}.calls"] += 1

    def count(self, name: str, n: float) -> None:
        if self.enabled and self.stack:
            self.sums[name] += n

    @contextlib.contextmanager
    def op(self, kind: str):
        if not self.enabled:
            yield
            return
        self.op_seq += 1
        group = f"perfbench-{self.op_seq}"
        self.sc.setJobGroup(group, kind)
        self.actions = []
        root = ["op", time.perf_counter(), 0.0]
        self.stack.append(root)
        try:
            yield
        finally:
            self.stack.pop()
            wall = (time.perf_counter() - root[1]) * 1000.0
            self.sc.setJobGroup("perfbench-idle", "idle")
            self.n_ops += 1
            self.n_reads += kind.startswith("read")
            self.op_wall_ms += wall
            self.op_children_ms += root[2]
            self._spark_counters(group, wall)

    def build(self, fn):
        """A querybank builder call: its wall and the Spark jobs it starts
        before the action (eager work)."""
        with self.span("querybank.build"):
            df = fn()
        if self.enabled and self.stack:
            group = f"perfbench-{self.op_seq}"
            with self.span("trace.counters"):
                jobs = self.sc.statusTracker().getJobIdsForGroup(group)
            self.sums["querybank.eager_jobs"] += len(jobs)
        return df

    # ------------------------------------------------------------- actions --
    def action(self, df, run):
        """A Spark action (collect or a sink write) under the span
        ``spark.action``; records its wall interval, the result rows and the
        Catalyst phase times of the DataFrame's QueryExecution."""
        t0 = time.time() * 1000.0
        with self.span("spark.action"):
            out = run()
        t1 = time.time() * 1000.0
        rows = len(out) if isinstance(out, list) else 0
        self.actions.append((t0, t1, rows))
        with self.span("trace.counters"):
            self._plan_phases(df)
        return out

    def _plan_phases(self, df) -> None:
        try:
            phases = df._jdf.queryExecution().tracker().phases()
        except Exception:
            return
        for name in ("analysis", "optimization", "planning"):
            opt = phases.get(name)
            if opt.isDefined():
                self.sums[f"plan.{name}_ms"] += float(opt.get().durationMs())

    # ------------------------------------------------------- spark counters --
    def _get(self, path: str):
        with urllib.request.urlopen(self.api + path, timeout=30) as r:
            return json.loads(r.read())

    def _jobs(self, group: str) -> list[dict]:
        ids = self.sc.statusTracker().getJobIdsForGroup(group)
        deadline = time.time() + 5
        while True:
            jobs = [self._get(f"/jobs/{i}") for i in ids]
            if all(j["status"] != "RUNNING" for j in jobs) or time.time() > deadline:
                return jobs
            time.sleep(0.05)

    def _spark_counters(self, group: str, wall_ms: float) -> None:
        jobs = self._jobs(group)
        s = self.sums
        s["exec.jobs"] += len(jobs)
        intervals = []
        job_ids = {j["jobId"] for j in jobs}
        for sid in sorted({sid for j in jobs for sid in j["stageIds"]}):
            for st in self._get(f"/stages/{sid}"):
                if st["status"] not in ("COMPLETE", "FAILED"):
                    continue
                s["exec.stages"] += 1
                s["exec.tasks"] += st["numTasks"]
                s["exec.failed_tasks"] += st["numFailedTasks"]
                s["exec.executor_run_ms"] += st["executorRunTime"]
                s["exec.executor_cpu_ms"] += st["executorCpuTime"] / 1e6
                s["exec.gc_ms"] += st.get("jvmGcTime", 0)
                s["exec.input_bytes"] += st["inputBytes"]
                s["exec.shuffle_read_bytes"] += st["shuffleReadBytes"]
                s["exec.shuffle_write_bytes"] += st["shuffleWriteBytes"]
                s["exec.spill_bytes"] += st["memoryBytesSpilled"] + st["diskBytesSpilled"]
                lo, hi = _epoch_ms(st.get("submissionTime")), _epoch_ms(st.get("completionTime"))
                if lo is not None and hi is not None:
                    intervals.append((lo, hi))
                tasks = self._get(f"/stages/{sid}/{st['attemptId']}/taskList?length=100000")
                s["exec.scheduler_delay_ms"] += sum(t.get("schedulerDelay", 0) for t in tasks)
        busy = _union_ms(intervals)
        s["exec.stage_busy_ms"] += busy
        s["exec.driver_gap_ms"] += max(0.0, wall_ms - busy)
        # result fetch: from the last job completing inside an action to the
        # action's return
        ends = [_epoch_ms(j.get("completionTime")) for j in jobs]
        for t0, t1, rows in self.actions:
            inside = [e for e in ends if e is not None and t0 <= e <= t1]
            if rows or inside:
                s["fetch.ms"] += t1 - max(inside) if inside else 0.0
                s["fetch.rows"] += rows
        self._sql_counters(job_ids)
        rdds = self._get("/storage/rdd")
        s["cache.rdds"] += len(rdds)
        s["cache.bytes"] += sum(r["memoryUsed"] + r["diskUsed"] for r in rdds)

    def _sql_counters(self, job_ids: set[int]) -> None:
        execs = self._get(
            f"/sql?details=true&planDescription=false&offset={self.sql_seen}&length=10000"
        )
        self.sql_seen += len(execs)
        s = self.sums
        for ex in execs:
            ex_jobs = set(ex.get("successJobIds", [])) | set(ex.get("failedJobIds", []))
            if not ex_jobs & job_ids:
                continue
            nodes = {n["nodeId"]: n for n in ex.get("nodes", [])}
            rows = {
                nid: _metric_value(m["value"])
                for nid, n in nodes.items()
                for m in n.get("metrics", [])
                if m["name"] == "number of output rows"
            }
            children = defaultdict(list)
            for e in ex.get("edges", []):
                children[e["toId"]].append(e["fromId"])
            if rows:
                root = min(rows)  # node ids number the plan top-down
                result_rows = max(rows[root], 1.0)
                s["exec.max_node_rows_per_result_row.sum"] += max(rows.values()) / result_rows
                s["exec.max_node_rows_per_result_row.n"] += 1
            for nid, n in nodes.items():
                for m in n.get("metrics", []):
                    name = m["name"]
                    if name == "data sent to Python workers":
                        s["python.bytes_sent"] += _metric_value(m["value"])
                        s["python.rows_in"] += sum(rows.get(c, 0.0) for c in children[nid])
                    elif name == "data returned from Python workers":
                        s["python.bytes_received"] += _metric_value(m["value"])
                    elif "Python" in name and "time" in name:
                        s["python.time_ms"] += _metric_value(m["value"])

    # ------------------------------------------------------------ results --
    def layer_metrics(self, session_s: float) -> dict[str, tuple[float, str]]:
        s, n = self.sums, max(self.n_ops, 1)

        def per_op(key: str) -> float:
            return s.get(key, 0.0) / n

        scanned_files = s.get("table.files_scanned", 0.0)
        out = {
            "session.start_s": (session_s, "s"),
            "server.self_ms": (per_op("server.self_ms"), "ms/op"),
            "influxql.parse_ms": (per_op("influxql.parse.ms"), "ms/op"),
            "influxql.build_ms": (per_op("influxql.build.ms"), "ms/op"),
            "sql_shim.build_ms": (per_op("sql_shim.build.ms"), "ms/op"),
            "sql_shim.tables_in_catalog": (
                s.get("sql_shim.tables", 0.0) / max(s.get("sql_shim.build.calls", 0.0), 1),
                "count",
            ),
            "promql.build_ms": (per_op("promql.build.ms"), "ms/op"),
            "ingest.build_ms": (per_op("ingest.build.self_ms"), "ms/op"),
            "table.write_ms": (per_op("table.write.ms"), "ms/op"),
            "table.files_written": (per_op("table.files_written"), "count/op"),
            "table.bytes_written": (per_op("table.bytes_written"), "B/op"),
            "table.read_build_ms": (per_op("table.read_build.ms"), "ms/op"),
            "table.files_scanned_per_read": (
                scanned_files / max(self.n_reads, 1), "count/read"
            ),
            "table.rows_scanned_per_row_returned": (
                s.get("table.rows_scanned", 0.0) / max(s.get("table.rows_returned", 0.0), 1),
                "ratio",
            ),
            "catalog.meta_reads": (per_op("catalog.get.calls"), "count/op"),
            "catalog.meta_writes": (per_op("catalog.write.calls"), "count/op"),
            "catalog.ms": (per_op("catalog.get.ms") + per_op("catalog.write.ms"), "ms/op"),
            "maintenance.compact_ms": (per_op("maintenance.compact.ms"), "ms/op"),
            "maintenance.partitions_rewritten": (
                per_op("maintenance.partitions_rewritten"), "count/op"
            ),
            "maintenance.bytes_rewritten": (per_op("maintenance.bytes_rewritten"), "B/op"),
            "maintenance.segments_expired": (
                per_op("maintenance.segments_expired"), "count/op"
            ),
            "querybank.build_ms": (per_op("querybank.build.ms"), "ms/op"),
            "querybank.stage_ms": (per_op("querybank.stage.ms"), "ms/op"),
            "querybank.eager_jobs": (per_op("querybank.eager_jobs"), "count/op"),
            "plan.analysis_ms": (per_op("plan.analysis_ms"), "ms/op"),
            "plan.optimization_ms": (per_op("plan.optimization_ms"), "ms/op"),
            "plan.planning_ms": (per_op("plan.planning_ms"), "ms/op"),
        }
        for key, unit in (
            ("jobs", "count/op"), ("stages", "count/op"), ("tasks", "count/op"),
            ("stage_busy_ms", "ms/op"), ("driver_gap_ms", "ms/op"),
            ("executor_run_ms", "ms/op"), ("executor_cpu_ms", "ms/op"),
            ("gc_ms", "ms/op"), ("scheduler_delay_ms", "ms/op"),
            ("input_bytes", "B/op"), ("shuffle_write_bytes", "B/op"),
            ("shuffle_read_bytes", "B/op"), ("spill_bytes", "B/op"),
            ("failed_tasks", "count/op"),
        ):
            out[f"exec.{key}"] = (per_op(f"exec.{key}"), unit)
        out["exec.max_node_rows_per_result_row"] = (
            s.get("exec.max_node_rows_per_result_row.sum", 0.0)
            / max(s.get("exec.max_node_rows_per_result_row.n", 0.0), 1),
            "ratio",
        )
        out.update({
            "python.rows_in": (per_op("python.rows_in"), "count/op"),
            "python.bytes_sent": (per_op("python.bytes_sent"), "B/op"),
            "python.bytes_received": (per_op("python.bytes_received"), "B/op"),
            "python.time_ms": (per_op("python.time_ms"), "ms/op"),
            "cache.bytes": (per_op("cache.bytes"), "B"),
            "cache.rdds": (per_op("cache.rdds"), "count"),
            "fetch.ms": (per_op("fetch.ms"), "ms/op"),
            "fetch.rows": (per_op("fetch.rows"), "count/op"),
            "bench.check_ms": (per_op("bench.check.ms"), "ms/op"),
            "trace.op_wall_ms": (self.op_wall_ms / n, "ms/op"),
            "trace.in_op_ms": (
                per_op("trace.plan_probe.ms")
                + per_op("trace.scan_counters.ms")
                + per_op("trace.counters.ms"),
                "ms/op",
            ),
            "trace.op_unaccounted_ms": (
                (self.op_wall_ms - self.op_children_ms) / n, "ms/op"
            ),
        })
        return out


# ------------------------------------------------------------------ hooks --


def _wrap(owner, attr: str, make):
    orig = getattr(owner, attr)
    setattr(owner, attr, make(orig))


def _spanned(tracer, name: str):
    def make(orig):
        def wrapper(*a, **k):
            with tracer.span(name):
                return orig(*a, **k)

        return wrapper

    return make


def install_action_hooks(tracer) -> None:
    """``DataFrame.collect`` and ``DataFrameWriter.save``: the two actions
    the workloads end in."""
    from pyspark.sql import DataFrameWriter
    from pyspark.sql.classic.dataframe import DataFrame

    def make_collect(orig):
        def collect(df):
            if not (tracer.enabled and tracer.stack):
                return orig(df)
            return tracer.action(df, lambda: orig(df))

        return collect

    def make_save(orig):
        def save(writer, *a, **k):
            if not (tracer.enabled and tracer.stack):
                return orig(writer, *a, **k)
            df = writer._df
            # the sink's own QueryExecution is not reachable from Python;
            # planning the DataFrame's QueryExecution gives the same
            # Catalyst phases (work the untraced run does not do)
            with tracer.span("trace.plan_probe"):
                df._jdf.queryExecution().executedPlan()
            return tracer.action(df, lambda: orig(writer, *a, **k))

        return save

    _wrap(DataFrame, "collect", make_collect)
    _wrap(DataFrameWriter, "save", make_save)


def install_tsdb_hooks(tracer) -> None:
    """Spans around the public entry points of the serving, frontend,
    ingest, table, catalog and maintenance layers."""
    from incubator_horaedb_spark import catalog, maintenance, server, table
    from incubator_horaedb_spark.frontends import influxql, promql, sql_shim
    from incubator_horaedb_spark.plans.metrics import scan_counters
    from incubator_horaedb_spark.streaming import ingest

    install_action_hooks(tracer)
    for attr in ("handle_sql", "handle_line_protocol", "handle_influxql_query"):
        _wrap(server.EngineServer, attr, _spanned(tracer, "server"))
    _wrap(server, "parse_line_protocol_typed", _spanned(tracer, "influxql.parse"))
    _wrap(influxql, "parse_influxql", _spanned(tracer, "influxql.build"))
    _wrap(influxql, "influxql_to_df", _spanned(tracer, "influxql.build"))
    _wrap(promql, "promql_to_df", _spanned(tracer, "promql.build"))
    _wrap(ingest, "ingest_rows", _spanned(tracer, "ingest.build"))
    _wrap(table.Table, "read", _spanned(tracer, "table.read_build"))
    _wrap(table.Table, "read_time_range", _spanned(tracer, "table.read_build"))
    _wrap(maintenance, "run_maintenance", _spanned(tracer, "maintenance"))
    _wrap(catalog.Catalog, "get", _spanned(tracer, "catalog.get"))
    _wrap(catalog.Catalog, "_write_meta", _spanned(tracer, "catalog.write"))

    def make_execute(orig):
        def execute_sql(engine, sql):
            with tracer.span("sql_shim.build"):
                out = orig(engine, sql)
            tracer.count("sql_shim.tables", len(engine.catalog.list_tables()))
            return out

        return execute_sql

    _wrap(sql_shim.Engine, "execute_sql", make_execute)

    def _files(path: str) -> int:
        return sum(len(f) for _d, _s, f in os.walk(path))

    def make_write(orig):
        def write(t, df):
            data = t.catalog.data_dir(t.name)
            files, size = _files(data), dir_bytes(data)
            with tracer.span("table.write"):
                out = orig(t, df)
            tracer.count("table.files_written", _files(data) - files)
            tracer.count("table.bytes_written", dir_bytes(data) - size)
            return out

        return write

    _wrap(table.Table, "write", make_write)

    def make_compact(orig):
        def compact(t, *a, **k):
            tracer.count("maintenance.bytes_rewritten", dir_bytes(t.catalog.data_dir(t.name)))
            with tracer.span("maintenance.compact"):
                n = orig(t, *a, **k)
            tracer.count("maintenance.partitions_rewritten", n)
            return n

        return compact

    def make_expire(orig):
        def ttl_expire(t, *a, **k):
            with tracer.span("maintenance.expire"):
                n = orig(t, *a, **k)
            tracer.count("maintenance.segments_expired", n)
            return n

        return ttl_expire

    _wrap(table.Table, "compact", make_compact)
    _wrap(table.Table, "ttl_expire", make_expire)

    # scan counters of every read's result: files and rows the scans read
    def make_scan_collect(orig):
        def collect(df):
            rows = orig(df)
            if tracer.enabled and tracer.stack:
                with tracer.span("trace.scan_counters"):
                    scans = scan_counters(df, run=False)
                tracer.count("table.files_scanned", sum(x["files_read"] for x in scans))
                tracer.count("table.rows_scanned", sum(x["rows"] for x in scans))
                tracer.count("table.rows_returned", len(rows))
            return rows

        return collect

    from pyspark.sql.classic.dataframe import DataFrame

    _wrap(DataFrame, "collect", make_scan_collect)
