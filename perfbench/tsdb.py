"""``tsdb_mixed``: a closed loop of line-protocol writes beside SQL,
InfluxQL and PromQL reads, with periodic maintenance sweeps.

One client issues one operation at a time.  Each round writes a
5 000-point line-protocol batch through ``EngineServer.handle_line_protocol``
(about 10% of its points overwrite ``(series, ts)`` pairs of the previous
two rounds, so the OVERWRITE dedup on read has work) and then runs four
reads: a recent-window ``time_bucket`` SQL aggregate, a full-range SQL
group-by, an InfluxQL ``GROUP BY time(1m)`` and ``sum by (region)(rate(..[1m]))``
through ``promql_to_df`` over ``Table.read_time_range``.  After every
round one ``run_maintenance`` sweep compacts and expires segments, so the
file count rises and falls the way LSM read amplification does.  A cycle
is one round and one sweep; the timed window is whole cycles, so every run
ends in the same compaction state.

Timestamps are anchored to the next whole hour after start: segment
boundaries, minute buckets and TTL cutoffs then land on the same points in
every run.  The data runs ahead of the wall clock, so the read path's
wall-clock TTL filter never hides a live point, and the maintenance sweep
is given the data clock, so the segments it expires depend only on the
round count.

Every read is checked against ``Model``, an in-memory copy of every
acknowledged point (newest value per key), by row count and per-bucket
sums.  Values are multiples of 0.25, so counts and sums are exact.
"""

from __future__ import annotations

import os
import random
import shutil
import statistics
import sys
import time

import harness
from harness import dir_bytes, summarize

MEASUREMENTS = ("cpu", "mem", "disk", "net")
REGIONS = 8
# series per measurement, points per batch, points per batch that rewrite
# an earlier (series, ts)
SHAPES = {"bench": (200, 5000, 500), "tiny": (20, 500, 50)}
RECENT_ROUNDS = 2  # overwrites target the previous rounds only
STEP_MS = 30_000  # spacing of a series' points: a round spans 2.8 minutes
SEGMENT_MS = 2 * 60_000
TTL_MS = 3 * 60_000  # every timed sweep expires the oldest segment
RECENT_MS = 2 * 60_000  # window of the recent-window reads
PROM_RANGE_MS = 60_000
PROM_STEP_MS = 30_000


def host(series: int) -> str:
    return f"h{series:03d}"


def region(series: int) -> str:
    return f"r{series % REGIONS}"


class Feed:
    """Seeded point generator.  With S series per measurement, cell ``k``
    is slot ``k // 4S`` of measurement ``(k % 4S) // S``, series ``k % S``;
    new points take the next cells, overwrites redraw distinct cells of
    recent rounds."""

    def __init__(self, seed: int, t0_ms: int, shape: str):
        self.series, self.batch_size, self.overwrites = SHAPES[shape]
        self.rng = random.Random(seed)
        self.t0_ms = t0_ms
        self.next_cell = 0
        self.round_starts: list[int] = []

    def cell(self, k: int) -> tuple[str, int, int]:
        slot, rest = divmod(k, len(MEASUREMENTS) * self.series)
        m, series = divmod(rest, self.series)
        return MEASUREMENTS[m], series, self.t0_ms + slot * STEP_MS

    def value(self) -> float:
        return self.rng.randrange(0, 4000) / 4.0

    def batch(self) -> list[tuple[str, int, int, float]]:
        points = []
        n_new = self.batch_size
        if self.round_starts:
            lo = self.round_starts[max(0, len(self.round_starts) - RECENT_ROUNDS)]
            for k in self.rng.sample(range(lo, self.next_cell), self.overwrites):
                points.append((*self.cell(k), self.value()))
            n_new -= self.overwrites
        self.round_starts.append(self.next_cell)
        for k in range(self.next_cell, self.next_cell + n_new):
            points.append((*self.cell(k), self.value()))
        self.next_cell += n_new
        self.rng.shuffle(points)
        return points

    def data_now_ms(self) -> int:
        """Timestamp of the newest slot written so far."""
        return self.cell(self.next_cell - 1)[2]


def line_protocol(points) -> str:
    return "\n".join(
        f"{m},host={host(s)},region={region(s)} value={v!r} {ts * 1_000_000}"
        for m, s, ts, v in points
    )


class Model:
    """Every acknowledged point, newest value per ``(series, ts)``."""

    def __init__(self):
        self.points: dict[str, dict[tuple[int, int], float]] = {
            m: {} for m in MEASUREMENTS
        }

    def apply(self, points) -> None:
        for m, s, ts, v in points:
            self.points[m][(s, ts)] = v

    def expire(self, now_ms: int) -> None:
        """``Table.ttl_expire``: a segment goes when its whole range is
        older than ``now - ttl``."""
        cutoff_seg = (now_ms - TTL_MS) // SEGMENT_MS
        for pts in self.points.values():
            for key in [k for k in pts if k[1] // SEGMENT_MS + 1 <= cutoff_seg]:
                del pts[key]

    def live_rows(self) -> int:
        return sum(len(p) for p in self.points.values())

    def buckets(self, m: str, lo_ms: int, width_ms: int) -> dict[int, tuple[int, float]]:
        out: dict[int, list] = {}
        for (_s, ts), v in self.points[m].items():
            if ts >= lo_ms:
                b = out.setdefault(ts - ts % width_ms, [0, 0.0])
                b[0] += 1
                b[1] += v
        return {k: (n, s) for k, (n, s) in out.items()}

    def by_region(self, m: str) -> dict[str, tuple[int, float]]:
        out: dict[str, list] = {}
        for (s, _ts), v in self.points[m].items():
            r = out.setdefault(region(s), [0, 0.0])
            r[0] += 1
            r[1] += v
        return {k: (n, s) for k, (n, s) in out.items()}

    def rate_by_region(
        self, m: str, start_ms: int, end_ms: int, step_ms: int, range_ms: int
    ) -> dict[tuple[str, int], float]:
        """``sum by (region)(rate(m[range]))`` with the engine's documented
        PromAlign semantics (operators/prom_align.py): window
        ``[t - range, t]`` inclusive, at least two samples, counter-reset
        correction from in-window predecessors, extrapolation clamped at
        1.1× the average sample interval."""
        series: dict[int, list[tuple[int, float]]] = {}
        for (s, ts), v in self.points[m].items():
            if start_ms - range_ms <= ts <= end_ms:
                series.setdefault(s, []).append((ts, v))
        out: dict[tuple[str, int], float] = {}
        for s, pts in series.items():
            pts.sort()
            for t in range(start_ms, end_ms + 1, step_ms):
                mint = t - range_ms
                win = [i for i, (ts, _v) in enumerate(pts) if mint <= ts <= t]
                if len(win) < 2:
                    continue
                first_ts, first_val = pts[win[0]]
                last_ts, last_val = pts[win[-1]]
                if last_ts <= first_ts:
                    continue
                corr = 0.0
                for i in win[1:]:
                    if pts[i][1] < pts[i - 1][1]:
                        corr += pts[i - 1][1]
                diff = last_val - first_val + corr
                dd = float(last_ts - first_ts)
                avg = dd / (len(win) - 1)
                rts = float(first_ts - mint)
                if diff > 0 and first_val >= 0:
                    rts = min(rts, dd * first_val / diff)
                thr = avg * 1.1
                if rts > thr:
                    rts = avg / 2
                rte = float(t - last_ts)
                if rte > thr:
                    rte = avg / 2
                val = diff * (dd + rts + rte) / dd / (range_ms / 1000.0)
                key = (region(s), t)
                out[key] = out.get(key, 0.0) + val
        return out


def _close(a: float, b: float) -> bool:
    return abs(a - b) <= 1e-9 * max(1.0, abs(a), abs(b))


def _same_sums(got: dict, want: dict) -> bool:
    if got.keys() != want.keys():
        return False
    return all(
        got[k][0] == want[k][0] and _close(got[k][1], want[k][1]) for k in want
    )


class TsdbMixed:
    UNIT_S = 13.0  # one cycle, warm, on a quiet 4-core host

    def __init__(self, spark, args, tracer, _data=None):
        from incubator_horaedb_spark.frontends.sql_shim import Engine
        from incubator_horaedb_spark.server import EngineServer

        self.spark = spark
        self.tracer = tracer
        self.root = root = os.path.join(harness.WORK, "tsdb")
        shutil.rmtree(root, ignore_errors=True)
        os.makedirs(root)
        seed = args.seed
        self.engine = Engine(spark, root)
        self.server = EngineServer(self.engine)
        hour = 3_600_000
        t0 = (int(time.time() * 1000) // hour + 1) * hour
        self.feed = Feed(seed, t0, args.scale)
        self.model = Model()
        self.rng = random.Random(seed + 1)
        self.failed = 0
        self.attempted = 0
        for m in MEASUREMENTS:
            self.server.handle_sql(
                f"CREATE TABLE {m} (host string TAG, region string TAG, "
                "value double, ts timestamp NOT NULL, timestamp KEY (ts)) "
                "ENGINE=Analytic WITH(update_mode='OVERWRITE', "
                f"segment_duration='{SEGMENT_MS // 60_000}m', "
                f"ttl='{TTL_MS // 60_000}m', enable_ttl='true')"
            )

    def close(self) -> None:
        self.server.httpd.server_close()

    # ----------------------------------------------------------------- ops --
    # Each op method prepares its request and returns ``(call, check)``:
    # only ``call`` (the engine's work) is timed; ``check`` compares the
    # response with the model afterwards.
    def _op(self, kind: str, prepare) -> float:
        """Runs one op; returns the latency of its call in ms."""
        self.attempted += 1
        ok = False
        with self.tracer.op(kind):
            with self.tracer.span("bench.prepare"):
                call, check = prepare()
            t = time.perf_counter()
            try:
                result = call()
                dt = (time.perf_counter() - t) * 1000.0
                with self.tracer.span("bench.check"):
                    ok = check(result)
            except Exception as e:  # a failed op counts; the loop goes on
                dt = (time.perf_counter() - t) * 1000.0
                print(f"# {kind} failed: {e!r}"[:400], file=sys.stderr)
        print(f"# op {kind} {dt:.0f} ms{'' if ok else ' FAILED'}", file=sys.stderr)
        self.failed += not ok
        return dt

    def _write(self):
        points = self.feed.batch()
        text = line_protocol(points)

        def check(_):
            self.model.apply(points)
            return True

        return lambda: self.server.handle_line_protocol(text), check

    def _recent_lo(self) -> int:
        return self.feed.data_now_ms() + STEP_MS - RECENT_MS

    def _sql_bucket(self):
        m = self.rng.choice(MEASUREMENTS)
        lo = self._recent_lo()
        sql = (
            "SELECT time_bucket(ts, 'PT1M') AS b, count(*) AS n, sum(value) AS s "
            f"FROM {m} WHERE ts >= {lo} GROUP BY time_bucket(ts, 'PT1M')"
        )

        def check(res):
            got = {r["b"]: (r["n"], r["s"]) for r in res["rows"]}
            return len(res["rows"]) == len(got) and _same_sums(
                got, self.model.buckets(m, lo, 60_000)
            )

        return lambda: self.server.handle_sql(sql), check

    def _sql_group(self):
        m = self.rng.choice(MEASUREMENTS)
        sql = f"SELECT region, count(*) AS n, sum(value) AS s FROM {m} GROUP BY region"

        def check(res):
            got = {r["region"]: (r["n"], r["s"]) for r in res["rows"]}
            return len(res["rows"]) == len(got) and _same_sums(
                got, self.model.by_region(m)
            )

        return lambda: self.server.handle_sql(sql), check

    def _influxql(self):
        m = self.rng.choice(MEASUREMENTS)
        lo = self._recent_lo()
        q = (
            f"SELECT count(value), sum(value) FROM {m} WHERE time >= {lo}ms "
            "GROUP BY time(1m) fill(none)"
        )

        def check(res):
            got, n_rows = {}, 0
            for s in res["results"][0].get("series", []):
                for row in s["values"]:
                    r = dict(zip(s["columns"], row))
                    got[r["time"]] = (r["count_value"], r["sum_value"])
                    n_rows += 1
            return n_rows == len(got) and _same_sums(
                got, self.model.buckets(m, lo, 60_000)
            )

        return lambda: self.server.handle_influxql_query(q), check

    def _promql(self):
        from incubator_horaedb_spark.frontends import promql
        from incubator_horaedb_spark.table import Table

        m = self.rng.choice(MEASUREMENTS)
        hi = self.feed.data_now_ms()
        end = hi - hi % PROM_STEP_MS
        start = end - RECENT_MS

        def call():
            table = Table(self.spark, self.engine.catalog, m).read_time_range(
                start - PROM_RANGE_MS, end + 1
            )
            df = promql.promql_to_df(
                f"sum by (region) (rate({m}[1m]))",
                {m: table},
                start_ms=start,
                end_ms=end,
                step_ms=PROM_STEP_MS,
                tag_cols=["host", "region"],
            )
            return df.selectExpr("region", "unix_millis(ts) AS t", "value").collect()

        def check(rows):
            got = {(r["region"], r["t"]): r["value"] for r in rows}
            want = self.model.rate_by_region(m, start, end, PROM_STEP_MS, PROM_RANGE_MS)
            return (
                len(rows) == len(got)
                and got.keys() == want.keys()
                and all(_close(got[k], want[k]) for k in want)
            )

        return call, check

    def _maintenance(self):
        from incubator_horaedb_spark import maintenance

        data_now = self.feed.data_now_ms()

        def check(_):
            self.model.expire(data_now)
            return True

        return lambda: maintenance.run_maintenance(self.engine, now_ms=data_now), check

    def steps(self) -> list[tuple[str, object]]:
        """One cycle: a round (a write, then the four reads) and a sweep,
        as ``(kind, op)`` pairs; ``op()`` returns its latency in ms."""
        return [
            (kind, lambda k=kind, p=prepare: self._op(k, p))
            for kind, prepare in (
                ("write", self._write),
                ("read_sql_bucket", self._sql_bucket),
                ("read_sql_group", self._sql_group),
                ("read_influxql", self._influxql),
                ("read_promql", self._promql),
                ("maintenance", self._maintenance),
            )
        ]

    # ---------------------------------------------------------------- run --
    def warmup(self) -> None:
        """One round: the first round pays JIT and codegen warm-up (3-4x
        the steady cost of its writes and reads); the second is near
        steady.  A first sweep costs about what later ones do."""
        for _kind, op in self.steps()[:-1]:
            op()

    @staticmethod
    def generate_data(_args) -> tuple[None, float]:
        return None, 0.0

    @staticmethod
    def install_hooks(tracer) -> None:
        from tracing import install_tsdb_hooks

        install_tsdb_hooks(tracer)

    def metrics(self, window) -> tuple[dict, dict]:
        write_ms = window.ms["write"]
        read_ms = [x for k, xs in window.ms.items() if k.startswith("read") for x in xs]
        w, r = summarize(write_ms), summarize(read_ms)
        e2e = {
            "read_p50_ms": r["p50"],
            "read_tail_ms": r["tail"],
            "write_rows_per_s": self.feed.batch_size * len(write_ms) / (sum(write_ms) / 1000.0),
            "write_p50_ms": w["p50"],
            "write_tail_ms": w["tail"],
            "maintenance_s": statistics.median(window.ms["maintenance"]) / 1000.0,
            "bytes_per_row": dir_bytes(self.root) / self.model.live_rows(),
        }
        detail = {
            "write": w,
            "read": r,
            "live_rows": self.model.live_rows(),
        }
        return e2e, detail
